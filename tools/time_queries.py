#!/usr/bin/env python3
"""Focused per-query timing with the bench methodology (bench.warm_up,
then bench.time_noop min-of-N: noop sink, clearCache between runs) —
the measurement loop for optimization work, so a single query's
before/after can be read without paying a full bench run.

    python tools/time_queries.py [-nN] query [query ...]

Honors SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) and
SPARK_GRAFT_CPUS like bench.py. Prints one line per query:
``name: min=X.XXXs  runs=[...]`` plus the loadavg so a noisy-box
record is self-describing.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import SF_DIR, time_noop, warm_up  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    n = 3
    if args and args[0].startswith("-n"):
        n = int(args[0][2:])
        args = args[1:]
    from acuvate_spark.queries import REGISTRY
    from acuvate_spark.session import get_spark

    spark = get_spark("time-queries")
    warm_up(spark, SF_DIR)
    for name in args:
        fn = REGISTRY[name].fn
        runs = [round(time_noop(lambda: fn(spark, SF_DIR)), 3) for _ in range(n)]
        print(
            f"{name}: min={min(runs):.3f}s  runs={runs}  "
            f"loadavg={os.getloadavg()[0]:.2f}",
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
