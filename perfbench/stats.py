"""Pure helpers: StreamingQueryProgress extraction and the failure
counters behind `correct`/`failed`. No Spark import, so the benchmark's own
tests run without a session."""

from __future__ import annotations

import datetime as dt
import statistics


def median(xs) -> float:
    return float(statistics.median(xs))


def parse_ts(ts: str) -> float:
    """Progress timestamps look like 2026-10-17T10:21:12.345Z."""
    return dt.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=dt.timezone.utc).timestamp()


def batch_window(progress: dict) -> tuple[float, float]:
    """(start, end) epoch seconds of one micro-batch: trigger start to the
    end of its trigger execution, which includes the sink commit."""
    t0 = parse_ts(progress["timestamp"])
    return t0, t0 + batch_latency(progress)


def batch_latency(progress: dict) -> float:
    return progress["durationMs"]["triggerExecution"] / 1000.0


def data_batches(progresses: list[dict]) -> list[dict]:
    """Progress events of batches that read input, ordered by batch id,
    one per batch id (the listener may see a batch twice on retry)."""
    by_id = {}
    for p in progresses:
        if int(p.get("numInputRows", 0)) > 0:
            by_id[int(p["batchId"])] = p
    return [by_id[k] for k in sorted(by_id)]


def _op_kind(op: dict) -> str:
    name = op.get("operatorName", "")
    if "Join" in name:                    # symmetricHashJoin: the X6 join
        return "join"
    if "transformWithState" in name:      # the v2 stateful detect stage
        return "detect"
    return name


def state_ops(progress: dict) -> dict[str, dict]:
    """Per kind ('detect', 'join', ...) sums of one batch's state-operator
    metrics: the numeric top-level fields plus every numeric customMetric,
    and the count of operator instances."""
    out: dict[str, dict] = {}
    for op in progress.get("stateOperators") or []:
        acc = out.setdefault(_op_kind(op), {"instances": 0})
        acc["instances"] += 1
        for k, v in op.items():
            if isinstance(v, (int, float)) and not isinstance(v, bool):
                acc[k] = acc.get(k, 0) + v
        for k, v in (op.get("customMetrics") or {}).items():
            acc[k] = acc.get(k, 0) + v
    return out


def rows_dropped_late(progresses: list[dict]) -> int:
    return sum(int(op.get("numRowsDroppedByWatermark", 0))
               for p in progresses for op in p.get("stateOperators") or [])


def count_failures(expected_keys, committed_keys, late_rows: int,
                   token_mismatches: int) -> dict[str, int]:
    """Failure counters for one run. `expected_keys` are the (doc_id,
    seq_no) keys of every input row of a committed batch; `committed_keys`
    are the keys the sink made visible, one entry per committed row."""
    expected = set(expected_keys)
    seen: set = set()
    dup = 0
    for k in committed_keys:
        if k in seen:
            dup += 1
        seen.add(k)
    return {
        "sink.duplicate_keys": dup,
        "sink.missing_rows": len(expected - seen),
        "sink.unexpected_rows": len(seen - expected),
        "state.late_rows_dropped": int(late_rows),
        "check.token_mismatches": int(token_mismatches),
    }
