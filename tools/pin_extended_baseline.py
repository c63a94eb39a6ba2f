#!/usr/bin/env python3
"""Re-pin EXTENDED_BASELINE.json: min-of-3 sf0.1 wall-clock for EVERY
registry query (VERDICT r12 item 1 — the full-registry tier of the
bench regression guard). Run on a QUIET box; the guard rules assume
pins measured at steady state: bench.warm_up, then per-query min over
three passes of bench.time_noop (the bench's own timing loop).

    python tools/pin_extended_baseline.py [note...]
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from bench import time_noop, warm_up  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"


def main() -> None:
    from acuvate_spark.queries import REGISTRY
    from acuvate_spark.session import get_spark

    spark = get_spark("pin-extended-baseline")
    warm_up(spark, SF_DIR)
    timings: dict[str, float] = {}
    for attempt in range(3):
        for name in REGISTRY:
            elapsed = round(time_noop(lambda: REGISTRY[name].fn(spark, SF_DIR)), 3)
            if name not in timings or elapsed < timings[name]:
                timings[name] = elapsed
        print(
            f"[pass {attempt}] running min total "
            f"{round(sum(timings.values()), 1)}s",
            file=sys.stderr,
        )
    note = " ".join(sys.argv[1:]) or (
        "min-of-3 sf0.1 pins for the full registry (r13). Guards: the "
        "default bench path measures the non-headline tier min-of-2 "
        "against these with the standard 2x-with-floor rule; the "
        "--extended single-pass profiler uses 3x AND +2 s (single-pass "
        "drift is ~2.3x under load and these pins are min-of-3)."
    )
    out = {
        "metric": "all_queries_min_of_3_wall_clock",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": 0.1,
        "note": note,
    }
    (ROOT / "EXTENDED_BASELINE.json").write_text(json.dumps(out, indent=1))
    print(json.dumps({"value": out["value"], "n": len(timings)}))
    spark.stop()


if __name__ == "__main__":
    main()
