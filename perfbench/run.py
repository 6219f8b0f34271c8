"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Run from the repository root. Prints progress to stderr and, as the last
line of stdout, one JSON object:
{"correct": bool, "attempted": int, "failed": int, "metrics": {...}}.
With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are its per-layer metrics, from a separate traced run.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
PACKAGE = "pdf_watermark_removal_otsu_inpaint_spark"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PACKAGE)):
        print(f"perfbench: run from the repository root; {PACKAGE}/ is "
              f"missing in {root}", file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path.insert(0, root)
    sys.path.insert(0, HERE)
    import workloads

    if args.workload not in workloads.JOBS:
        print(f"perfbench: unknown workload {args.workload!r}",
              file=sys.stderr)
        return 2
    run = workloads.Run(root, args.workload, args.seed, args.seconds,
                        bool(args.trace))
    run.prepare_env()
    t0 = time.time()
    try:
        workloads.run_workload(run)
    finally:
        run.cleanup()
    print(f"perfbench: {args.workload} seed={args.seed} wall="
          f"{time.time() - t0:.1f}s failures={run.failures} batch_s="
          f"{[round(x, 3) for x in run.batch_latencies]}", file=sys.stderr)
    want = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = run.layers if args.trace else run.metrics
    metrics = {}
    for m in want:
        value, unit = source[m["name"]]
        metrics[m["name"]] = {"value": value, "unit": unit}
    failed = sum(run.failures.values())
    print(json.dumps({"correct": failed == 0, "attempted": run.attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
