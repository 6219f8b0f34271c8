"""Tests for the benchmark's own code (no Spark session needed):

    python -m pytest perfbench/tests -q
"""

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import gen
import stats
import workloads

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures",
                       "stateful_progress.json")


def _files(d):
    return sorted(f for f in os.listdir(d) if f.endswith(".parquet"))


def _read(d):
    return pa.concat_tables(pq.read_table(os.path.join(d, f))
                            for f in _files(d))


# --- generator ---------------------------------------------------------------
def test_generator_is_deterministic_per_seed(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    gen.write_drops(a, 7, 3, 20)
    gen.write_drops(b, 7, 3, 20)
    gen.write_drops(c, 8, 3, 20)
    assert _files(a) == _files(b) == _files(c)
    for f in _files(a):
        ta = pq.read_table(os.path.join(a, f))
        assert ta.equals(pq.read_table(os.path.join(b, f)))
        assert ta.schema == gen.SCHEMA
    assert not _read(a).equals(_read(c))


def test_generator_files_are_in_event_time_order(tmp_path):
    d = str(tmp_path / "d")
    gen.write_drops(d, 3, 5, 30)
    assert gen.event_time_ordered(d)
    ts = _read(d).column("event_ts").cast(pa.int64()).to_numpy()
    assert np.all(np.diff(ts) > 0)
    mtimes = [os.stat(os.path.join(d, f)).st_mtime for f in _files(d)]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == len(mtimes)
    # swapping two files' mtimes breaks the order the file source sees
    f0, f1 = (os.path.join(d, f) for f in _files(d)[:2])
    t0, t1 = os.stat(f0).st_mtime, os.stat(f1).st_mtime
    os.utime(f0, (t1 + 10, t1 + 10))
    assert not gen.event_time_ordered(d)
    os.utime(f0, (t0, t0))


def test_generator_seq_no_counts_rows_per_document(tmp_path):
    d = str(tmp_path / "d")
    gen.write_drops(d, 5, 4, 25)
    t = _read(d)
    seen = {}
    for doc, seq in zip(t.column("doc_id").to_pylist(),
                        t.column("seq_no").to_pylist()):
        assert seq == seen.get(doc, -1) + 1
        seen[doc] = seq


def test_generated_rows_are_masked(tmp_path):
    d = str(tmp_path / "d")
    gen.write_drops(d, 9, 2, 60)
    assert workloads.check_masking(d) >= 0.5


# --- metric extraction from a recorded StreamingQueryProgress ----------------
def test_metrics_from_recorded_progress():
    progress = json.load(open(FIXTURE))
    batches = stats.data_batches(progress + progress[-1:])  # replayed event
    assert [p["batchId"] for p in batches] == [0, 1, 2, 3]
    t0, t1 = stats.batch_window(batches[3])
    assert t1 - t0 == pytest.approx(5.299)
    assert stats.batch_latency(batches[3]) == pytest.approx(5.299)
    # 120 rows per file: the chain scans its stream twice and counts both
    assert batches[3]["numInputRows"] == 240
    ops = stats.state_ops(batches[3])
    assert set(ops) == {"detect", "join"}
    assert ops["join"]["commitTimeMs"] == 2523
    assert ops["join"]["numStateStoreInstances"] == 16
    assert ops["join"]["rocksdbChangeLogWriterCommitLatencyMs"] == 1143
    assert ops["detect"]["commitTimeMs"] == 414
    assert ops["detect"]["instances"] == 1
    assert [stats.state_ops(p)["join"]["numRowsTotal"]
            for p in batches] == [240, 480, 720, 960]
    assert stats.rows_dropped_late(progress) == 0


# --- failure counting (feeds `failed` and `correct`) -------------------------
def test_failures_count_injected_duplicate_and_late_row():
    expected = [("d0", 0), ("d0", 1), ("d1", 0)]
    clean = stats.count_failures(expected, list(expected), 0, 0)
    assert sum(clean.values()) == 0
    dup = stats.count_failures(expected, expected + [("d0", 1)], 0, 0)
    assert dup["sink.duplicate_keys"] == 1 and sum(dup.values()) == 1
    progress = json.load(open(FIXTURE))
    progress[-1]["stateOperators"][0]["numRowsDroppedByWatermark"] = 1
    late = stats.count_failures(expected, list(expected),
                                stats.rows_dropped_late(progress), 0)
    assert late["state.late_rows_dropped"] == 1 and sum(late.values()) == 1
    missing = stats.count_failures(expected, expected[:2], 0, 0)
    assert missing["sink.missing_rows"] == 1


def _table(rows):
    return pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.string()),
        "seq_no": pa.array([r[1] for r in rows], pa.int64()),
        "tokens": pa.array([r[2] for r in rows], pa.list_(pa.int32()))})


def test_check_rows_flags_duplicates_and_wrong_tokens():
    params = workloads.cli_params()
    rng = np.random.default_rng(0)
    src = [gen._row_tokens(rng, 2048, 200, 0.15, False) for _ in range(3)]
    keys = [("d0", 0), ("d0", 1), ("d1", 0)]
    expected = _table([(k[0], k[1], s.tolist()) for k, s in zip(keys, src)])
    good = [(k[0], k[1], workloads.reference_repair(s, params).tolist())
            for k, s in zip(keys, src)]
    assert sum(workloads.check_rows(expected, _table(good), params, 0,
                                    1).values()) == 0
    assert good[0][2] != src[0].tolist()   # the kernel changed the row
    bad = [good[0], good[1], (good[2][0], good[2][1], src[2].tolist()),
           good[1]]
    f = workloads.check_rows(expected, _table(bad), params, 0, 1)
    assert f["sink.duplicate_keys"] == 1
    assert f["check.token_mismatches"] == 1


def test_batch_files_reads_the_file_source_log(tmp_path):
    d = tmp_path / "ck" / "sources" / "0"
    d.mkdir(parents=True)
    (d / "0").write_text('v1\n{"path":"file:/x/a.parquet","timestamp":1,'
                         '"batchId":0}\n{"path":"file:/x/b.parquet",'
                         '"timestamp":2,"batchId":0}\n')
    (d / "1").write_text('v1\n{"path":"file:/x/c.parquet","timestamp":3,'
                         '"batchId":1}\n')
    (d / ".1.crc").write_text("")
    files = workloads.batch_files(str(tmp_path / "ck"))
    assert files == {0: ["file:/x/a.parquet", "file:/x/b.parquet"],
                     1: ["file:/x/c.parquet"]}
    # a compacted log file repeats earlier batches and adds its own
    (d / "2.compact").write_text(
        'v1\n{"path":"file:/x/a.parquet","timestamp":1,"batchId":0}\n'
        '{"path":"file:/x/b.parquet","timestamp":2,"batchId":0}\n'
        '{"path":"file:/x/c.parquet","timestamp":3,"batchId":1}\n'
        '{"path":"file:/x/d.parquet","timestamp":4,"batchId":2}\n')
    for f in ("0", "1"):
        (d / f).unlink()   # Spark deletes the files a compaction covers
    files = workloads.batch_files(str(tmp_path / "ck"))
    assert files == {0: ["file:/x/a.parquet", "file:/x/b.parquet"],
                     1: ["file:/x/c.parquet"], 2: ["file:/x/d.parquet"]}


def test_rows_per_batch_counts_the_logged_files(tmp_path):
    data = tmp_path / "in"
    gen.write_drops(str(data), 2, 3, 10)
    names = _files(str(data))
    d = tmp_path / "ck" / "sources" / "0"
    d.mkdir(parents=True)
    for b, group in enumerate((names[:2], names[2:])):
        lines = [json.dumps({"path": f"file:{data / n}", "batchId": b})
                 for n in group]
        (d / str(b)).write_text("v1\n" + "\n".join(lines) + "\n")
    assert workloads.rows_per_batch(str(tmp_path / "ck")) == {0: 20, 1: 10}
