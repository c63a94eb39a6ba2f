#!/usr/bin/env python3
"""AQE-native skew-join vs the manual salted form (VERDICT r13 item 7).

`salted_skew_join` plants a ~70%-hot key and spreads it with an
explicit salt (fact appends salt = hash mod 8, dim explodes across all
salts). AQE has a native answer (`spark.sql.adaptive.skewJoin`): split
an oversized sort-merge partition at runtime from map-output stats.
This tool measures the SAME logical join four ways on one scaled dir:

  A. unsalted, AQE skew-join OFF — the naive plan (one hot task);
  B. unsalted, AQE skew-join ON, the registry query's exact shape —
     dim built with distinct(), result grouped by (sk, label);
  D. the manual salted twin — the registry query's form;

plus two plan diagnostics isolating WHY the split never fires on the
registry shape (r14 findings, verified on Spark 4.1 — either blocker
alone is sufficient):

  1. SHUFFLE REUSE: OptimizeSkewedJoin matches only
     SMJ(Sort(ShuffleStage), Sort(ShuffleStage)); the distinct()'s
     aggregation already hash-partitions the dim on the join key, so
     the join reuses that shuffle, the dim child is
     Sort(HashAgg(ShuffleStage)), the pattern fails, and the hot key
     stays one task. STRUCTURAL: even
     spark.sql.adaptive.forceOptimizeSkewedJoin=true cannot override
     it. Any dim deduplicated/aggregated on the join key upstream —
     the most common dim shape there is — is invisible to AQE's skew
     handling.
  2. CLUSTERING REUSE DOWNSTREAM: a post-join aggregate keyed on a
     superset of the join key ((sk, label) here) is satisfied by the
     join output's hashpartitioning(sk) WITHOUT an exchange; splitting
     the skewed partition would break that required clustering, so
     AQE declines. forceOptimizeSkewedJoin=true overrides this one by
     paying an extra full shuffle (measured SLOWER than not
     splitting at bench scale). With a free downstream (total sum, or
     grouping on non-join keys) and a join-only dim shuffle, the
     split fires as designed — AQE's best case.

Thresholds are lowered (factor 2, 16 MiB) so the hot partition
qualifies at bench scale; at 100 TB the defaults (5x, 256 MiB)
already trigger. The registry keeps the SALTED form as the
oracle-checked query because it is deterministic (no dependence on
runtime size stats a static DuckDB oracle cannot follow), it covers
shape B where AQE is structurally blind, and it works under joins AQE
cannot split at all (bucketed/storage-partitioned sides). SCALING.md
records the measured numbers.

    python tools/aqe_skew_join_check.py [--dir /tmp/scaled_sf/sf1]
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from bench import warm_up  # noqa: E402

_SALT = 8


def _fact(spark, d):
    from acuvate_spark.tables import load_table

    li = load_table(spark, d, "lineitem")
    return li.select(
        "l_orderkey",
        "l_extendedprice",
        F.when(F.col("l_orderkey") % 10 < 7, F.lit(1))
        .otherwise(F.col("l_orderkey") % 100)
        .alias("sk"),
    )


def _dim_distinct(spark, d):
    from acuvate_spark.tables import load_table

    part = load_table(spark, d, "part")
    return (
        part.select((F.col("p_partkey") % 100).alias("sk"))
        .distinct()
        .select("sk", F.concat(F.lit("seg-"), F.col("sk").cast("string")).alias("label"))
    )


def _dim_range(spark, d):
    # value-identical to _dim_distinct (sk 0..99) but from a bare leaf:
    # its shuffle exists purely for the join, so OptimizeSkewedJoin's
    # SMJ(Sort(Shuffle), Sort(Shuffle)) pattern can match
    return spark.range(100).select(
        F.col("id").alias("sk"),
        F.concat(F.lit("seg-"), F.col("id").cast("string")).alias("label"),
    )


def _agg(joined):
    return joined.groupBy("sk", "label").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum(F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long"))
        .cast("long")
        .alias("price_cents"),
    )


def _run(df, capture_plan=False):
    t0 = time.perf_counter()
    rows = df.collect()
    el = time.perf_counter() - t0
    split = None
    if capture_plan:
        plan = df._jdf.queryExecution().executedPlan().toString()
        split = bool(re.search(r"skew=true|and skewed", plan))
    return el, {tuple(r) for r in rows}, split


def _timed(make_df, runs=2, capture_plan=False):
    best, rows, split = None, None, None
    for _ in range(runs):
        el, rows, s = _run(make_df(), capture_plan)
        best = el if best is None or el < best else best
        split = s if s is not None else split
    return round(best, 2), rows, split


def main() -> None:
    d = "/tmp/scaled_sf/sf1"
    if "--dir" in sys.argv:
        d = sys.argv[sys.argv.index("--dir") + 1]
    from acuvate_spark.queries import REGISTRY
    from acuvate_spark.session import get_spark

    spark = get_spark("aqe-skew-join-check")
    warm_up(spark, d)
    c = spark.conf
    # defeat broadcast so shuffle-join skew exists at bench scale (the
    # dim that needs skew handling at 100 TB is broadcast-ineligible)
    c.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    c.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    c.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        str(16 * 1024 * 1024),
    )
    c.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", str(8 * 1024 * 1024))

    out = {"dir": d, "loadavg": [round(x, 2) for x in os.getloadavg()]}

    c.set("spark.sql.adaptive.skewJoin.enabled", "false")
    out["A_unsalted_skew_off_s"], rows_a, _ = _timed(
        lambda: _agg(_fact(spark, d).join(_dim_distinct(spark, d), ["sk"]))
    )
    c.set("spark.sql.adaptive.skewJoin.enabled", "true")
    out["B_unsalted_skew_on_s"], rows_b, split_b = _timed(
        lambda: _agg(_fact(spark, d).join(_dim_distinct(spark, d), ["sk"])),
        capture_plan=True,
    )
    out["B_split_fired"] = split_b  # expected False: both blockers present
    out["D_salted_registry_s"], rows_d, _ = _timed(
        lambda: REGISTRY["salted_skew_join"].fn(spark, d)
    )
    out["results_identical"] = rows_a == rows_b == rows_d

    # ---- plan diagnostics (single runs; booleans are the product)
    _, _, s = _run(
        _fact(spark, d).join(_dim_range(spark, d), ["sk"]).select(
            F.sum("l_extendedprice")
        ),
        capture_plan=True,
    )
    out["diag_split_fires_join_only_shuffle_free_downstream"] = s  # True
    el, _, s = _run(
        _agg(_fact(spark, d).join(_dim_range(spark, d), ["sk"])), capture_plan=True
    )
    out["diag_split_blocked_by_downstream_clustering_reuse"] = not s  # True
    c.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
    el, _, s = _run(
        _agg(_fact(spark, d).join(_dim_range(spark, d), ["sk"])), capture_plan=True
    )
    out["diag_forced_split_over_clustering_s"] = (round(el, 2), s)  # fires, slower
    el, _, s = _run(
        _agg(_fact(spark, d).join(_dim_distinct(spark, d), ["sk"])), capture_plan=True
    )
    out["diag_shuffle_reuse_blocks_even_forced"] = not s  # True: structural
    c.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "false")
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
