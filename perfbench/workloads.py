"""The benchmark's workloads, driven through the entry points users call:
`run_pipeline.main` (the stream CLI) and
`streaming.pipeline.run_stateful_pipeline`.

Each workload stages its whole input before the clock starts (closed loop:
the backlog is drained as fast as the engine commits), starts the session,
lets the warm-up micro-batches run (counted in `setup_s` only), measures
for the requested seconds, stops the query and then checks every committed
row outside the timed window. A traced run (`--trace 1`) adds the depth ladder
of `layers.py` after the same measurement.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
import stats

# input per workload: (files, rows per file, files per micro-batch). The
# stream CLI reads 8 files per trigger (read_sequences_stream's default),
# file_stream reads one. The backlog holds about 2.5x the batches a 4-core
# host commits in warm-up plus a 20 s window.
SIZES = {
    "stream_exactly_once": (224, 60, 8),
    "stateful_chain": (36, 150, 1),
}
# The first batch of a query is cold (4x a warm one) and the second is
# still 1.2-1.4x; both count towards setup_s only.
WARM_BATCHES = 2
TOKEN_SAMPLE = 240          # committed rows checked against the reference


def make_listener():
    """A StreamingQueryListener that keeps every progress event as a dict.
    Built on call so importing this module does not import pyspark."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self):
            self.events: list[dict] = []
            self.unreadable = 0
            self.lock = threading.Lock()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            try:
                p = json.loads(event.progress.json)
            except (ValueError, AttributeError):
                self.unreadable += 1
                return
            with self.lock:
                self.events.append(p)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def snapshot(self) -> list[dict]:
            with self.lock:
                return list(self.events)

    return Progress()


class Run:
    """One benchmark run: paths, clock and the numbers it reports."""

    def __init__(self, root: str, workload: str, seed: int, seconds: float,
                 trace: bool):
        self.root = root
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = os.path.join(root, ".perfbench_work")
        self.scratch = os.path.join(self.work, f"run-{os.getpid()}")
        self.metrics: dict[str, tuple[float, str]] = {}
        self.layers: dict[str, tuple[float, str]] = {}
        self.failures: dict[str, int] = {}
        self.attempted = 0
        self.expected: pa.Table | None = None      # input rows of committed
        self.committed_batches: list[int] = []     # batches, for the trace
        self.batch_latencies: list[float] = []
        self.spans: list[dict] = []
        self.spark = None
        self.cpus = len(os.sched_getaffinity(0))

    def prepare_env(self) -> None:
        """Keep every file Spark and its workers write inside the checkout
        and pin local[nproc] (get_spark otherwise falls back to local[32])."""
        for d in ("tmp", "spark-local", "warehouse"):
            os.makedirs(os.path.join(self.work, d), exist_ok=True)
        os.makedirs(self.scratch, exist_ok=True)
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cpus)
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(self.work,
                                                           "warehouse")
        os.environ.setdefault("SPARK_DRIVER_MEM", "3g")
        # every JVM Spark starts (the launcher too): temp files in the
        # checkout, and no hsperfdata, which ignores java.io.tmpdir
        os.environ["JAVA_TOOL_OPTIONS"] = (
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData")

    def start_session(self):
        """The session the CLI's own get_spark() call will get back."""
        from pdf_watermark_removal_otsu_inpaint_spark.session import get_spark
        t0 = time.time()
        spark = get_spark("token-repair")
        self.span("session.start", t0, time.time())
        return spark

    def input_dir(self) -> str:
        """Seeded input, cached per (workload, seed) across runs; generated
        and read once into the page cache before the clock starts."""
        n_files, rows, _ = SIZES[self.workload]
        d = os.path.join(self.work, "inputs",
                         f"{self.workload}-{self.seed}-{n_files}x{rows}")
        if not os.path.exists(os.path.join(d, "_COMPLETE")):
            shutil.rmtree(d, ignore_errors=True)
            tmp = d + ".tmp"
            shutil.rmtree(tmp, ignore_errors=True)
            gen.write_drops(tmp, self.seed, n_files, rows)
            if not gen.event_time_ordered(tmp):
                # a file stream over out-of-order drops drops late rows
                raise RuntimeError("generated drops are not in event-time "
                                   "order")
            check_masking(tmp)
            open(os.path.join(tmp, "_COMPLETE"), "w").close()
            os.replace(tmp, d)
            self._prune_inputs(keep=d)
        gen.prime(d)
        return d

    def _prune_inputs(self, keep: str, n: int = 4) -> None:
        """Keep the `n` most recent cached inputs of this workload."""
        base = os.path.dirname(keep)
        mine = sorted((os.path.join(base, x) for x in os.listdir(base)
                       if x.startswith(self.workload + "-")),
                      key=os.path.getmtime, reverse=True)
        for old in mine[n:]:
            if old != keep:
                shutil.rmtree(old, ignore_errors=True)

    def span(self, name: str, t0: float, t1: float, parent: str | None = None,
             batch_id: int | None = None, **attrs) -> None:
        self.spans.append({"name": name, "start": t0, "end": t1,
                           "parent": parent, "batch_id": batch_id, **attrs})

    def write_spans(self) -> str:
        d = os.path.join(self.work, "traces")
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, f"{self.workload}-seed{self.seed}.json")
        with open(path, "w") as f:
            json.dump(self.spans, f)
        return path

    def cleanup(self) -> None:
        """Stop the session and the JVM it runs in, wait for the JVM to
        exit (its Python workers exit with it), then drop the run's
        output and checkpoint directories."""
        import subprocess

        from pyspark import SparkContext
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()   # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        shutil.rmtree(self.scratch, ignore_errors=True)


# --- input self-check --------------------------------------------------------
def check_masking(path: str, min_share: float = 0.5) -> float:
    """The kernel must change the tokens of a non-trivial share of the
    generated rows, or the benchmark would time a pass-through and the
    token-equality gate could not tell repair from no repair."""
    from pdf_watermark_removal_otsu_inpaint_spark.operators.repair_vectorized import (  # noqa: E501
        repair_batch)
    from pdf_watermark_removal_otsu_inpaint_spark.params import DEFAULT_PARAMS
    first = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))[0]
    col = pq.read_table(os.path.join(path, first),
                        columns=["tokens"]).column(0).combine_chunks()
    flat = col.values.to_numpy()
    off = col.offsets.to_numpy().astype(np.int64)
    out, _, _, _ = repair_batch(flat, off, DEFAULT_PARAMS)
    changed = np.add.reduceat((out != flat).astype(np.int64), off[:-1])
    share = float((changed > 0).mean())
    if share < min_share:
        raise RuntimeError(f"the kernel changes only {share:.0%} of the "
                           "generated rows")
    return share


# --- correctness gate (outside the timed window) -----------------------------
def batch_files(ck: str) -> dict[int, list[str]]:
    """File-source log of a checkpoint: batch id -> input files. The log
    holds one file per batch (`N`) and, every few batches, a compacted
    file (`N.compact`) that repeats all earlier entries; each entry names
    its batch."""
    d = os.path.join(ck, "sources", "0")
    out: dict[int, set[str]] = {}
    if not os.path.isdir(d):
        return {}
    for name in os.listdir(d):
        if name.removesuffix(".compact").isdigit():
            with open(os.path.join(d, name)) as f:
                for line in f.read().splitlines()[1:]:
                    if line.strip():
                        e = json.loads(line)
                        out.setdefault(int(e["batchId"]), set()).add(
                            e["path"])
    return {b: sorted(ps) for b, ps in out.items()}


def _local(path: str) -> str:
    return path[len("file:"):] if path.startswith("file:") else path


def _keys(tbl: pa.Table) -> list[tuple[str, int]]:
    return list(zip(tbl.column("doc_id").to_pylist(),
                    tbl.column("seq_no").to_pylist()))


def reference_repair(tokens: np.ndarray, params) -> np.ndarray:
    from pdf_watermark_removal_otsu_inpaint_spark import (
        reference_kernels as rk)
    return rk.remove_watermark_multi_pass(
        tokens, passes=params.passes, tolerance=params.color_tolerance,
        kernel_size=params.kernel_size, protect_text=params.protect_text,
        text_expand=params.text_expand, min_run=params.min_run,
        max_run=params.max_run, inpaint_radius=params.inpaint_radius,
        inpaint_strength=params.inpaint_strength)[0]


def check_rows(expected: pa.Table, committed: pa.Table, params,
               late_rows: int, seed: int) -> dict[str, int]:
    """Exactly-once and token-equality gate: committed keys equal expected
    keys with no duplicates, and a seeded sample of committed rows equals
    `reference_kernels.remove_watermark_multi_pass` under `params`."""
    exp_keys = _keys(expected)
    got_keys = _keys(committed)
    idx = {k: i for i, k in enumerate(exp_keys)}
    n = committed.num_rows
    sample = (np.random.default_rng(seed).choice(
        n, size=min(TOKEN_SAMPLE, n), replace=False) if n else [])
    got_tok = committed.column("tokens")
    exp_tok = expected.column("tokens")
    bad = 0
    for i in map(int, sample):
        k = got_keys[i]
        if k in idx:   # otherwise counted as an unexpected row
            src = np.asarray(exp_tok[idx[k]].as_py(), dtype=np.int32)
            got = np.asarray(got_tok[i].as_py(), dtype=np.int32)
            bad += not np.array_equal(reference_repair(src, params), got)
    return stats.count_failures(exp_keys, got_keys, late_rows, bad)


def committed_rows(out: str) -> tuple[pa.Table, list[int]]:
    """Rows the exactly-once sink made visible: data dirs of batches with a
    commit marker, read without Spark."""
    batches = sorted(int(f[:-5]) for f in os.listdir(f"{out}/_commits")
                     if f.endswith(".json"))
    cols = ["doc_id", "seq_no", "tokens"]
    parts = []
    for b in batches:
        d = os.path.join(out, "data", f"batch_id={b}")
        parts += [pq.read_table(os.path.join(d, f), columns=cols)
                  for f in sorted(os.listdir(d)) if f.endswith(".parquet")]
    if not parts:
        return gen.SCHEMA.empty_table().select(cols), batches
    return pa.concat_tables(parts), batches


def expected_rows(ck: str, batches: list[int]) -> pa.Table:
    files = batch_files(ck)
    return pa.concat_tables(
        pq.read_table(_local(p), columns=["doc_id", "seq_no", "tokens"])
        for b in batches for p in files.get(b, []))


# --- streaming measurement ---------------------------------------------------
class Window:
    """Waits out the warm-up batches, then measures for `seconds`, then
    stops the query. `on_batch` sees every completed data batch as it lands
    (the traced run's job counter hooks in here). A query that ends before
    the window closes fails the run with `failure()`, its own error; an
    error raised only because the stop interrupted a batch is not one."""

    def __init__(self, run: Run, listener, is_done, stop, failure,
                 t_start: float, on_batch=None):
        self.run, self.listener = run, listener
        self.is_done, self.stop, self.failure = is_done, stop, failure
        self.t_start = t_start
        self.on_batch = on_batch or (lambda p: None)
        self.seen = 0

    def _ended(self, what: str) -> RuntimeError:
        why = self.failure()
        return RuntimeError(f"the query ended {what}: "
                            + (why or "its input backlog drained; raise "
                                      "SIZES"))

    def _poll(self) -> list[dict]:
        done = stats.data_batches(self.listener.snapshot())
        for p in done[self.seen:]:
            self.on_batch(p)
        self.seen = len(done)
        return done

    def measure(self) -> dict:
        deadline = time.time() + 120
        while len(self._poll()) < WARM_BATCHES:
            if self.is_done():
                raise self._ended("during warm-up")
            if time.time() > deadline:
                self.stop()
                raise RuntimeError("the warm-up batches took over 120 s")
            time.sleep(0.02)
        done = self._poll()
        w0 = stats.batch_window(done[WARM_BATCHES - 1])[1]
        w1 = w0 + self.run.seconds
        while time.time() < w1 and not self.is_done():
            self._poll()
            time.sleep(0.02)
        if self.is_done():
            raise self._ended("inside the measured window")
        self.stop()
        time.sleep(0.5)   # the listener bus delivers asynchronously
        evs = self._poll()
        if self.listener.unreadable:
            raise RuntimeError(f"{self.listener.unreadable} progress events "
                               "could not be read")
        measured = [p for p in evs if stats.batch_window(p)[0] >= w0 - 0.05
                    and stats.batch_window(p)[1] <= w1]
        if not measured:
            raise RuntimeError("no micro-batch completed inside the window")
        return {"setup_s": w0 - self.t_start, "measured": measured,
                "all": evs, "window": (w0, w1)}


def rows_per_batch(ck: str) -> dict[int, int]:
    """Input rows of each batch, from the files the checkpoint's source log
    assigns to it. Progress' numInputRows cannot serve: the stateful chain
    scans its stream twice (detect side and join side) and counts both."""
    return {b: sum(pq.ParquetFile(_local(f)).metadata.num_rows for f in fs)
            for b, fs in batch_files(ck).items()}


def stream_metrics(run: Run, m: dict, ck: str) -> None:
    meas = m["measured"]
    lat = [stats.batch_latency(p) for p in meas]
    span = stats.batch_window(meas[-1])[1] - stats.batch_window(meas[0])[0]
    rows = rows_per_batch(ck)
    run.metrics["seqs_per_s"] = (
        sum(rows[int(p["batchId"])] for p in meas) / span, "1/s")
    run.metrics["batch_p50_s"] = (stats.median(lat), "s")
    run.metrics["setup_s"] = (m["setup_s"], "s")
    run.batch_latencies = lat


def gate(run: Run, out: str, ck: str, params, progress: list[dict]) -> None:
    committed, batches = committed_rows(out)
    expected = expected_rows(ck, batches)
    run.failures = check_rows(expected, committed, params,
                              stats.rows_dropped_late(progress), run.seed)
    run.attempted = expected.num_rows
    run.expected = expected
    run.committed_batches = batches


def full_stream_job(run: Run, inp: str, out: str, ck: str, t_start: float,
                    on_batch=None) -> dict:
    """`run_pipeline.main --mode stream` with its defaults, on a thread,
    stopped when the window closes."""
    from py4j.protocol import Py4JError

    from pdf_watermark_removal_otsu_inpaint_spark import run_pipeline
    spark = run.start_session()
    listener = make_listener()
    spark.streams.addListener(listener)
    run.spark = spark
    err: list[BaseException] = []

    def cli():
        try:
            with contextlib.redirect_stdout(io.StringIO()):
                run_pipeline.main(["--mode", "stream", "--input", inp,
                                   "--output", out, "--checkpoint", ck])
        except BaseException as e:  # noqa: BLE001 - re-raised below
            err.append(e)

    th = threading.Thread(target=cli, daemon=True)
    th.start()

    def stop():
        # the CLI stops the session once its query ends, which can race
        # this call; the CLI thread's exit is what matters
        with contextlib.suppress(Py4JError):
            for q in spark.streams.active:
                q.stop()
        th.join(120)
        if th.is_alive():
            raise RuntimeError("the stream CLI did not exit after stop")

    return Window(run, listener, lambda: not th.is_alive(), stop,
                  lambda: repr(err[0]) if err else "", t_start,
                  on_batch).measure()


def full_stateful_job(run: Run, inp: str, out: str, ck: str, t_start: float,
                      on_batch=None) -> dict:
    """`run_stateful_pipeline` with its defaults over `file_stream`."""
    from pdf_watermark_removal_otsu_inpaint_spark.streaming.pipeline import (
        file_stream, run_stateful_pipeline)
    run.spark = run.start_session()
    listener = make_listener()

    def factory(s):
        # the chain runs on its own isolated session: listen there
        s.streams.addListener(listener)
        return file_stream(s, inp)

    q = run_stateful_pipeline(factory, out, ck)

    def stop():
        from py4j.protocol import Py4JError
        with contextlib.suppress(Py4JError):   # a batch it interrupted
            q.stop()

    def failure() -> str:
        e = q.exception()
        return str(e) if e is not None else ""

    return Window(run, listener, lambda: not q.isActive, stop, failure,
                  t_start, on_batch).measure()


def cli_params():
    from pdf_watermark_removal_otsu_inpaint_spark.params import DEFAULT_PARAMS
    return DEFAULT_PARAMS.with_(passes=2)   # run_pipeline's --passes default


def stateful_params():
    from pdf_watermark_removal_otsu_inpaint_spark.params import DEFAULT_PARAMS
    return DEFAULT_PARAMS                    # run_stateful_pipeline default


JOBS = {
    "stream_exactly_once": (full_stream_job, cli_params),
    "stateful_chain": (full_stateful_job, stateful_params),
}


def run_workload(run: Run) -> None:
    job, params = JOBS[run.workload]
    inp = run.input_dir()
    out = os.path.join(run.scratch, "out")
    ck = os.path.join(run.scratch, "ck")
    tracer = None
    if run.trace:
        import layers
        tracer = layers.JobCounter(run)
    t_start = time.time()
    m = job(run, inp, out, ck, t_start,
            tracer.on_batch if tracer else None)
    stream_metrics(run, m, ck)
    gate(run, out, ck, params(), m["all"])
    if run.trace:
        layers.traced_layers(run, m, tracer, inp, out)
