"""Traced run: attributes a streaming workload's batch time to the
program's layers from outside the program.

Sources of the numbers:
- the progress events of the full job already measured (phases of
  `durationMs`, state-operator metrics);
- Spark's status tracker, read after each batch, for job and task counts;
- a depth ladder on the same input and batch sizing, one streaming query
  per level, each level one stage deeper than the last:
    kernel alone (Spark-free, single thread)
    stream -> noop
    stream -> repair -> noop          (stream_exactly_once)
    stream -> stateful detect -> noop (stateful_chain)
    stream -> detect -> X6 join -> repair -> noop (stateful_chain)
    stream -> identity -> exactly-once sink
  A layer's self time is the difference between adjacent levels.

The status-tracker reads (the only tracing work done while the full job
runs) happen after every other batch, so the batches they overlap and the
ones they do not give the tracing overhead from a single run.
"""

from __future__ import annotations

import contextlib
import json
import os
import sys
import time

import numpy as np
import pyarrow.parquet as pq

import stats
import workloads

LADDER_BATCHES = 3   # measured batches per ladder level, after one warm-up


class JobCounter:
    """Jobs per batch from the status tracker's job ids, read as each batch
    lands; tasks per batch from stage info, fetched after even batches.
    Jobs that start before a batch's progress event is seen are counted
    with the previous batch; per-batch medians absorb the shift."""

    def __init__(self, run):
        self.run = run
        self.prev: set[int] = set()
        self.jobs: dict[int, int] = {}
        self.tasks: dict[int, int] = {}
        self.traced: set[int] = set()   # batches that overlapped a fetch

    def _tracker(self):
        return self.run.spark.sparkContext.statusTracker()

    def job_ids(self, run_id: str) -> set[int]:
        """Jobs of one streaming query: Spark runs every job of a query's
        micro-batches in a job group named after the query's run id."""
        return set(self._tracker().getJobIdsForGroup(run_id))

    def on_batch(self, p: dict) -> None:
        from py4j.protocol import Py4JError
        b = int(p["batchId"])
        with contextlib.suppress(Py4JError, AttributeError):
            st = self._tracker()
            ids = self.job_ids(p["runId"])
            new, self.prev = ids - self.prev, ids
            self.jobs[b] = len(new)
            if b % 2 == 0:
                tasks = 0
                for j in new:
                    info = st.getJobInfo(j)
                    for s in (info.stageIds if info else []):
                        si = st.getStageInfo(s)
                        tasks += si.numCompletedTasks if si else 0
                self.tasks[b] = tasks
                self.traced.add(b + 1)


# Per-layer times are means, not medians: Spark reports phases in whole
# milliseconds, and the median of a few such values repeats exactly from
# run to run more often than a measured time should.
def _mean(xs) -> float:
    xs = list(xs)
    return float(np.mean(xs)) if xs else 0.0


def _phase_mean(batches, phase: str) -> float:
    return _mean(p["durationMs"].get(phase, 0) / 1000.0 for p in batches)


def _state_mean(batches, kind: str, key: str) -> float:
    """Seconds of task time per batch spent in one state-operator metric."""
    return _mean(stats.state_ops(p).get(kind, {}).get(key, 0) / 1000.0
                 for p in batches)


def _state_last(batches, kind: str, key: str) -> float:
    return float(stats.state_ops(batches[-1]).get(kind, {}).get(key, 0))


def _slope(ys) -> float:
    ys = np.asarray(list(ys), dtype=float)
    if ys.size < 2:
        return 0.0
    return float(np.polyfit(np.arange(ys.size), ys, 1)[0])


def _dir_bytes_files(path: str) -> tuple[int, int]:
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                size += os.path.getsize(os.path.join(root, n))
                files += 1
    return size, files


PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning",
          "addBatch", "commitOffsets")   # the order a trigger runs them in


def batch_spans(run, batches: list[dict], parent: str) -> None:
    """One span per micro-batch. Its children are the progress phases, laid
    end to end in trigger order (Spark reports durations, not start
    times), and each state operator's commit and update time, which are
    task time summed over partitions and so start with the batch."""
    for p in batches:
        b0, b1 = stats.batch_window(p)
        b = int(p["batchId"])
        name = f"{parent}.batch"
        run.span(name, b0, b1, parent=parent, batch_id=b)
        t = b0
        for ph in PHASES:
            d = p["durationMs"].get(ph, 0) / 1000.0
            run.span(f"phase.{ph}", t, t + d, parent=name, batch_id=b)
            t += d
        for kind, op in stats.state_ops(p).items():
            for key in ("commitTimeMs", "allUpdatesTimeMs"):
                run.span(f"state.{kind}.{key}", b0,
                         b0 + op.get(key, 0) / 1000.0, parent=name,
                         batch_id=b, task_time=True)


# --- depth ladder ------------------------------------------------------------
def ladder_input(run, inp: str) -> tuple[str, list[list[str]]]:
    """Hard links to the first (1 + LADDER_BATCHES) batches' files, same
    names and mtimes; returns the directory and the files per batch."""
    _, _, per_batch = workloads.SIZES[run.workload]
    names = sorted(f for f in os.listdir(inp) if f.endswith(".parquet"))
    names = names[:(1 + LADDER_BATCHES) * per_batch]
    d = os.path.join(run.scratch, "ladder_in")
    os.makedirs(d, exist_ok=True)
    for n in names:
        os.link(os.path.join(inp, n), os.path.join(d, n))
    groups = [names[i:i + per_batch] for i in range(0, len(names), per_batch)]
    return d, [[os.path.join(d, n) for n in g] for g in groups]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run_level(run, name: str, stream, body, counter: JobCounter) -> dict:
    """One ladder level: `body(batch_df, batch_id)` under foreachBatch over
    the whole ladder input (availableNow); the first batch is warm-up."""
    ck = os.path.join(run.scratch, f"ck_{name}")
    t0 = time.time()
    q = (stream.writeStream.foreachBatch(body)
         .option("checkpointLocation", ck)
         .trigger(availableNow=True).start())
    q.awaitTermination(170)
    if q.isActive:
        q.stop()
        raise RuntimeError(f"ladder level {name} did not finish")
    if q.exception() is not None:
        raise RuntimeError(f"ladder level {name} failed: {q.exception()}")
    t1 = time.time()
    batches = stats.data_batches([json.loads(p.json)
                                  for p in q.recentProgress])
    jobs = len(counter.job_ids(str(q.runId)))
    lat = [stats.batch_latency(p) for p in batches[1:]]
    run.span(f"ladder.{name}", t0, t1)
    batch_spans(run, batches, f"ladder.{name}")
    return {"batch_s": _mean(lat),
            "add_batch_s": _phase_mean(batches[1:], "addBatch"),
            "jobs_per_batch": jobs / max(1, len(batches))}


def _session(run):
    """A live session for the ladder: the stream CLI stopped its own."""
    spark = run.spark
    with contextlib.suppress(Exception):
        if spark.sparkContext._jsc is not None:
            return spark
    run.spark = run.start_session()
    return run.spark


def ladder_stream(run, d: str, counter: JobCounter) -> dict:
    from pdf_watermark_removal_otsu_inpaint_spark.operators.repair import (
        repair_sequences)
    from pdf_watermark_removal_otsu_inpaint_spark.sources.tables import (
        read_sequences_stream)
    from pdf_watermark_removal_otsu_inpaint_spark.streaming.sink import (
        ExactlyOnceParquetSink)
    spark = _session(run)
    params = workloads.cli_params()

    def src():
        return read_sequences_stream(spark, d)

    sink = ExactlyOnceParquetSink(os.path.join(run.scratch, "ladder_sink"))
    return {
        "noop": run_level(run, "noop", src(), lambda b, i: _noop(b), counter),
        "repair": run_level(run, "repair", src(),
                            lambda b, i: _noop(repair_sequences(b, params)),
                            counter),
        "sink": run_level(run, "sink", src(), sink, counter),
    }


def ladder_stateful(run, d: str, partitions: int,
                    counter: JobCounter) -> dict:
    from pdf_watermark_removal_otsu_inpaint_spark.streaming.pipeline import (
        file_stream, join_masks_with_sequences, repair_joined)
    from pdf_watermark_removal_otsu_inpaint_spark.streaming.sink import (
        ExactlyOnceParquetSink)
    from pdf_watermark_removal_otsu_inpaint_spark.streaming.state_v2 import (
        ROCKSDB_CONF, detect_stream_stateful_coarse_v2)
    params = workloads.stateful_params()
    # the settings run_stateful_pipeline gives its own isolated session
    iso = _session(run).newSession()
    iso.conf.set("spark.sql.streaming.statefulOperator.checkCorrectness."
                 "enabled", "false")
    for k, v in ROCKSDB_CONF.items():
        iso.conf.set(k, v)
    iso.conf.set("spark.sql.shuffle.partitions", str(partitions))

    def src():
        return file_stream(iso, d)

    def detect(s):
        return detect_stream_stateful_coarse_v2(s, params, packed=True,
                                                event_time_col="event_ts")

    def joined():
        s = src()
        j = join_masks_with_sequences(s, detect(s), seq_watermark="10 minutes",
                                      mask_watermark=None)
        return repair_joined(j, params)

    sink = ExactlyOnceParquetSink(os.path.join(run.scratch, "ladder_sink"))
    return {
        "noop": run_level(run, "noop", src(), lambda b, i: _noop(b), counter),
        "detect": run_level(run, "detect", detect(src()),
                            lambda b, i: _noop(b), counter),
        "join": run_level(run, "join", joined(), lambda b, i: _noop(b),
                          counter),
        "sink": run_level(run, "sink", src(), sink, counter),
    }


def kernel_level(run, groups: list[list[str]], params) -> dict:
    """Level 1: `repair_batch` alone on the ladder's batches, one thread."""
    from pdf_watermark_removal_otsu_inpaint_spark.operators.repair_vectorized import (  # noqa: E501
        repair_batch)
    secs = rows = masked = repaired = 0.0
    passes = []
    for g in groups:
        col = pq.ParquetDataset(g).read(columns=["tokens"]).column(0)
        col = col.combine_chunks()
        flat = np.ascontiguousarray(col.values.to_numpy(), dtype=np.int32)
        off = col.offsets.to_numpy().astype(np.int64)
        t0 = time.perf_counter()
        _, cov, _, npass = repair_batch(flat, off, params)
        secs += time.perf_counter() - t0
        rows += len(off) - 1
        masked += float(np.sum(cov * np.diff(off)))
        repaired += float(np.sum(cov > 0))
        passes.append(npass)
    n = len(groups)
    return {"seqs_per_s_1t": rows / secs, "s_per_krow": secs / rows * 1000,
            "s_per_batch": secs / n, "masked_tokens_per_batch": masked / n,
            "rows_repaired_per_batch": repaired / n,
            "passes_per_row": float(np.mean(np.concatenate(passes)))}


# --- assembling the per-layer metrics ----------------------------------------
def traced_layers(run, m: dict, counter: JobCounter, inp: str,
                  out: str) -> None:
    """Per-layer metrics of a traced run. Every metric is printed for both
    workloads, so a quantity that exists on one workload only (state
    operators, the repair UDF) is a ratio or a count, never a time that
    reads 0 on the other."""
    meas = m["measured"]
    run.span("job", m["window"][0], m["window"][1])
    batch_spans(run, m["all"], "job")
    lat = {int(p["batchId"]): stats.batch_latency(p) for p in meas}
    traced = [v for b, v in lat.items() if b in counter.traced]
    untraced = [v for b, v in lat.items() if b not in counter.traced]
    wall = _mean(untraced or lat.values())
    overhead = (_mean(traced) - wall) if traced and untraced else 0.0

    d, groups = ladder_input(run, inp)
    stateful = run.workload == "stateful_chain"
    if stateful:
        parts = int(meas[-1]["stateOperators"][0]["numShufflePartitions"])
        lad = ladder_stateful(run, d, parts, counter)
        params = workloads.stateful_params()
    else:
        lad = ladder_stream(run, d, counter)
        params = workloads.cli_params()
    k = kernel_level(run, groups, params)
    print(f"perfbench: ladder {lad} kernel {k}", file=sys.stderr)

    engine = _mean((p["durationMs"]["triggerExecution"]
                    - p["durationMs"].get("addBatch", 0)) / 1000.0
                   for p in meas)
    noop = lad["noop"]["batch_s"]
    self_s = {"engine": engine, "sources": lad["noop"]["add_batch_s"],
              "sink": lad["sink"]["batch_s"] - noop}
    if stateful:
        self_s["detect"] = lad["detect"]["batch_s"] - noop
        self_s["join_repair"] = (lad["join"]["batch_s"]
                                 - lad["detect"]["batch_s"])
        boundary_share = 0.0
    else:
        self_s["repair"] = lad["repair"]["batch_s"] - noop
        boundary_share = 1 - k["s_per_batch"] / run.cpus / self_s["repair"]
    layer_sum = sum(self_s.values())

    size, files = _dir_bytes_files(out)
    n_commit = max(1, len(run.committed_batches))
    jobs = [counter.jobs[b] for b in lat if b in counter.jobs]
    tasks = [counter.tasks[b] for b in lat if b in counter.tasks]
    live_docs = (len(set(run.expected.column("doc_id").to_pylist()))
                 if stateful else 0)
    detect_bytes = [stats.state_ops(p).get("detect", {}).get(
        "rocksdbTotalBytesWritten", 0) for p in meas]
    session = next(s for s in run.spans if s["name"] == "session.start")

    def ratio(kind: str, key: str) -> tuple[float, str]:
        """Task-seconds in one state-operator metric per second of batch
        wall time (the operator's partitions run in parallel)."""
        return _state_mean(meas, kind, key) / wall, "1"

    L = {
        "session.start_s": (session["end"] - session["start"], "s"),
        "sources.stream_noop_s_per_batch": (noop, "s"),
        "kernel.seqs_per_s_1t": (k["seqs_per_s_1t"], "1/s"),
        "kernel.s_per_krow": (k["s_per_krow"], "s"),
        "kernel.masked_tokens_per_batch": (k["masked_tokens_per_batch"],
                                           "count"),
        "kernel.passes_per_row": (k["passes_per_row"], "count"),
        "kernel.rows_repaired_per_batch": (k["rows_repaired_per_batch"],
                                           "count"),
        "repair.boundary_share": (boundary_share, "1"),
        "sink.s_per_batch": (self_s["sink"], "s"),
        "sink.bytes_per_batch": (size / n_commit, "B"),
        "sink.files_per_batch": (files / n_commit, "count"),
        "sink.jobs_per_batch": (lad["sink"]["jobs_per_batch"], "count"),
        "pipeline.engine_s": (engine, "s"),
        "pipeline.add_batch_s": (_phase_mean(meas, "addBatch"), "s"),
        "pipeline.planning_s": (_phase_mean(meas, "queryPlanning"), "s"),
        "pipeline.wal_commit_s": (_phase_mean(meas, "walCommit"), "s"),
        "pipeline.commit_offsets_s": (_phase_mean(meas, "commitOffsets"),
                                      "s"),
        "pipeline.latest_offset_s": (_phase_mean(meas, "latestOffset"), "s"),
        "pipeline.jobs_per_batch": (_mean(jobs), "count"),
        "pipeline.tasks_per_batch": (_mean(tasks), "count"),
        "pipeline.batches_measured": (len(meas), "count"),
        "state.detect.commit_ratio": ratio("detect", "commitTimeMs"),
        "state.detect.update_ratio": ratio("detect", "allUpdatesTimeMs"),
        "state.detect.load_ratio": ratio("detect", "rocksdbLoadLatencyMs"),
        "state.detect.changelog_commit_ratio": ratio(
            "detect", "rocksdbChangeLogWriterCommitLatencyMs"),
        "state.detect.bytes_written_end": (float(detect_bytes[-1]), "B"),
        "state.detect.bytes_growth_per_batch": (_slope(detect_bytes), "B"),
        "state.detect.live_docs_end": (live_docs, "count"),
        "state.join.commit_ratio": ratio("join", "commitTimeMs"),
        "state.join.update_ratio": ratio("join", "allUpdatesTimeMs"),
        "state.join.changelog_commit_ratio": ratio(
            "join", "rocksdbChangeLogWriterCommitLatencyMs"),
        "state.join.rows_end": (_state_last(meas, "join", "numRowsTotal"),
                                "count"),
        "state.join.memory_bytes_end": (_state_last(meas, "join",
                                                    "memoryUsedBytes"), "B"),
        "state.join.store_instances": (_state_last(
            meas, "join", "numStateStoreInstances"), "count"),
        "trace.untraced_batch_s": (wall, "s"),
        "trace.layer_sum_s": (layer_sum, "s"),
        "trace.layer_sum_ratio": (layer_sum / wall, "1"),
        "trace.overhead_s_per_batch": (overhead, "s"),
    }
    for name in ("state.late_rows_dropped", "sink.duplicate_keys",
                 "sink.missing_rows", "sink.unexpected_rows",
                 "check.token_mismatches"):
        L[name] = (run.failures[name], "count")
    for name in ("engine", "sources", "repair", "detect", "join_repair",
                 "sink"):
        L[f"share.{name}"] = (self_s.get(name, 0.0) / layer_sum, "1")
    run.layers = L
    run.write_spans()
