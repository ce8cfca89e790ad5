#!/usr/bin/env python3
"""kgflow benchmark: one workload run, printed as one JSON line.

    python3 perfbench/run.py --workload kg_bulk --seed 1 --seconds 5 --trace 0

Run from the root of a kgflow checkout. Inputs are generated from
``--seed``; the program only sees the stored parquet. The last line of
stdout is {"correct", "attempted", "failed", "metrics"}: with
``--trace 0`` the end-to-end metrics, with ``--trace 1`` the per-layer
metrics of a traced run. Every scratch file goes under ``.perfbench/``
in the checkout; a record of each run (metrics, host-noise window,
failed checks) and the traced run's spans are kept in
``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

T_START = time.monotonic()
ROOT = os.getcwd()


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "kgflow", "pipeline.py")):
        print("perfbench: kgflow/ not found; run from the root of a kgflow checkout",
              file=sys.stderr)
        return 2
    # import the benchmark as a package from the checkout root, never its
    # modules by bare name (perfbench/trace.py would shadow stdlib trace)
    sys.path[0] = ROOT
    from perfbench import host, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {', '.join(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    run = workloads.Run(ROOT, args.workload, args.seed, args.seconds, bool(args.trace))
    host.fit_environment(ROOT, run.work)
    try:
        workloads.execute(run)
    except Exception as e:  # noqa: BLE001 — reported as a failed run below
        run.attempted += 1
        run.fail("run", e)
    metrics = run.metrics
    units = workloads.PER_LAYER if args.trace else workloads.END_TO_END
    result = {
        "correct": run.failed == 0,
        "attempted": max(run.attempted, 1),
        "failed": run.failed,
        "metrics": workloads.metric_block(metrics, units),
    }
    run.record.update(result=result, problems=run.problems,
                      all_metrics=metrics, total_s=time.monotonic() - T_START)
    with open(os.path.join(run.results_dir, f"{run.name}.json"), "w") as f:
        json.dump(run.record, f, indent=1, default=str)
    shutil.rmtree(run.work, ignore_errors=True)
    for p in run.problems:
        print(f"perfbench: FAILED {p}", file=sys.stderr)
    if "host" in run.record:
        print(f"perfbench: host window of the measured job {run.record['host']}", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
