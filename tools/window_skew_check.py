#!/usr/bin/env python3
"""Hot-entity skew audit for the per-user window/aggregate family
(r12, the ring after the wedge-join audit): `sessionize_events`,
`running_totals`, `latest_event_per_user`, `asof_join_events` were
measured on events whose user populations are near-uniform, but a
natural event log has hot entities — bots, service accounts, test
users. A `Window.partitionBy(user)` serializes each user into one
task, so one user owning 30% of the log turns a 32-way sort into a
single-task sort; aggregate forms (max_by, map-side combine) should
not care.

Fixture (deterministic, engine-built from a scaled dir): 30% of
events (event_id % 10 < 3) are reassigned to ONE hot user id, and 30%
of orders to ONE hot customer (``running_totals`` reads orders);
timestamps/keys otherwise untouched, so row counts are identical and
only the per-key distribution changes.

Protocol: bench.warm_up, then min-of-2 bench.time_noop wall clocks per
(query, corpus) — a noop write, NOT count(), which lets Catalyst prune
the unreferenced Window node and time a bare scan; uniform = the dir
as-is. Pass: every query within 3x of uniform (single-task sorting of
a 30% slice costs, but must stay in the same complexity class — a
blowup past the bound means a plan is doing per-key work that is
super-linear in key population).

    python tools/window_skew_check.py [--dir /tmp/scaled_sf/sf0.5]
        [--out /tmp/window_skew]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from bench import time_noop, warm_up  # noqa: E402

HOT_USER = 77_777_777
QUERIES = (
    "sessionize_events",
    "running_totals",
    "latest_event_per_user",
    "asof_join_events",
)
BOUND = 3.0


def build_hot_fixture(spark, src: str, out: str) -> str:
    from acuvate_spark.tables import load_table

    os.makedirs(out, exist_ok=True)
    ev = load_table(spark, src, "events")
    hot = ev.withColumn(
        "user_id",
        F.when(F.col("event_id") % 10 < 3, F.lit(HOT_USER)).otherwise(F.col("user_id")),
    )
    hot.write.mode("overwrite").parquet(f"{out}/events.parquet")
    orders = load_table(spark, src, "orders")
    hot_o = orders.withColumn(
        "o_custkey",
        F.when(F.col("o_orderkey") % 10 < 3, F.lit(HOT_USER)).otherwise(
            F.col("o_custkey")
        ),
    )
    hot_o.write.mode("overwrite").parquet(f"{out}/orders.parquet")
    return out


def main() -> None:
    src = (
        sys.argv[sys.argv.index("--dir") + 1]
        if "--dir" in sys.argv
        else "/tmp/scaled_sf/sf0.5"
    )
    out_root = (
        sys.argv[sys.argv.index("--out") + 1] if "--out" in sys.argv else "/tmp/window_skew"
    )
    from acuvate_spark.queries import REGISTRY
    from acuvate_spark.session import get_spark

    spark = get_spark("window-skew-check")
    warm_up(spark, src)
    hot_dir = build_hot_fixture(spark, src, os.path.join(out_root, "hot"))
    result: dict[str, object] = {"dir": src, "hot_share": 0.3}
    ok = True
    for name in QUERIES:
        fn = REGISTRY[name].fn
        times, rows = {}, {}
        for label, d in (("uniform", src), ("hot", hot_dir)):
            best = min(time_noop(lambda: fn(spark, d)) for _ in range(2))
            rows[label] = fn(spark, d).count()
            times[label] = round(best, 2)
        ratio = round(times["hot"] / times["uniform"], 2)
        ok = ok and ratio <= BOUND
        result[name] = {
            **{f"{k}_s": v for k, v in times.items()},
            "ratio": ratio,
            "bound": BOUND,
            "rows": rows,
        }
        print(
            f"  {name}: uniform {times['uniform']}s hot {times['hot']}s ratio {ratio}",
            file=sys.stderr,
        )
    result["pass"] = ok
    print(json.dumps(result))


if __name__ == "__main__":
    main()
