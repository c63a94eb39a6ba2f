#!/usr/bin/env python3
"""The repository benchmark: one closed-loop client, one workload per run.

    python3 perfbench/run.py --workload batch_queries --seed 1 --seconds 1 --trace 0

Run from the repository root. The run generates its inputs from
``--seed`` under ``.perfbench/`` (removed again at the end), starts a
``local[nproc]`` Spark session, runs one untimed warm-up pass whose
outputs are checked, measures warm passes for ``--seconds`` seconds and
prints one JSON object as the last line of stdout:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` every other
pass is traced and the metrics are the per-layer ones. See
``perfbench/README.md`` for the workloads and metrics.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.harness import END_TO_END, REGISTER_ROWS, WORKLOADS, Run, per_layer_units  # noqa: E402
from perfbench.spans import busy_cpu_s  # noqa: E402

CPU_START = busy_cpu_s()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--register-rows", type=int, default=REGISTER_ROWS,
                    help="rows per generated register (registry_ops)")
    args = ap.parse_args(argv)
    import acuvate_spark  # noqa: F401  outside a full checkout, fail before any work

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), args.register_rows,
              T_START, CPU_START)
    try:
        if args.workload == "registry_ops":
            from perfbench.registry import run_registry

            end_to_end, layer = run_registry(run)
        else:
            from perfbench.queries import run_queries

            end_to_end, layer = run_queries(run, WORKLOADS[args.workload])
    finally:
        run.stop()

    failed = len(run.problems)
    if args.trace:
        layer["error_rate"] = failed / max(1, run.attempted)
        metrics = {k: {"value": float(layer.get(k, 0.0)), "unit": u}
                   for k, u in per_layer_units().items()}
    else:
        metrics = {k: {"value": float(end_to_end[k]), "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": failed == 0, "attempted": run.attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
