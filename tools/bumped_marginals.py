"""Round convention: 100x wall-clock marginals for this round's
bumped queries — time each at $SPARK_GRAFT_SF_DIR (default sf0.1) and
at the 100x dir (/tmp/scaled_sf/sf10), min-of-N, print ratios. A
marginal far above the corpus ratio (100x data, 32 local cores) flags
a driver-side or quadratic bottleneck the small-sf tests can't see.
Timing is the bench's (bench.warm_up + bench.time_noop); the row count
comes from a separate, untimed count(), because a timed count() lets
Catalyst prune unreferenced columns and Window nodes.

Usage: python tools/bumped_marginals.py [query ...] (default: reads
the names from the committed manifest whose since_round equals the
max since_round — i.e. this round's bumps)."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import time_noop, warm_up  # noqa: E402

BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
BIG = "/tmp/scaled_sf/sf10"
RUNS = int(os.environ.get("MARGINAL_RUNS", "2"))


def bumped_names() -> list[str]:
    manifest = json.load(open(os.path.join(os.path.dirname(__file__), "..", "QUERY_VERSIONS.json")))
    top = max(e["since_round"] for e in manifest.values())
    return sorted(n for n, e in manifest.items() if e["since_round"] == top)


def main() -> None:
    from acuvate_spark.queries import REGISTRY
    from acuvate_spark.session import get_spark

    names = sys.argv[1:] or bumped_names()
    spark = get_spark(cpus=32)
    warm_up(spark, BASE)
    rows = []
    for name in names:
        fn = REGISTRY[name].fn
        times = {}
        for label, d in (("base", BASE), ("x100", BIG)):
            best = min(time_noop(lambda: fn(spark, d)) for _ in range(RUNS))
            times[label] = (best, fn(spark, d).count())
            spark.catalog.clearCache()
        ratio = times["x100"][0] / max(times["base"][0], 1e-9)
        rows.append((name, times["base"][0], times["x100"][0], ratio))
        print(
            f"{name:28s} base {times['base'][0]:7.2f}s ({times['base'][1]} rows)  "
            f"100x {times['x100'][0]:7.2f}s ({times['x100'][1]} rows)  "
            f"marginal {ratio:6.2f}x",
            flush=True,
        )
    rows.sort(key=lambda r: -r[3])
    med = sorted(r[3] for r in rows)[len(rows) // 2]
    print(f"\nmedian marginal {med:.2f}x; worst: "
          + ", ".join(f"{n} {r:.1f}x" for n, _, _, r in rows[:3]))


if __name__ == "__main__":
    main()
