"""Extreme-value parity ring (r14): IEEE edge cells — NaN, +/-Inf,
+/-1e300, denormal 5e-324, -0.0 — injected into lineitem / orders /
events / embeddings, with the same ALL-AGREE contract as the null and
unicode rings. At 100 TB a telemetry or money column WILL contain a
few poisoned cells (sensor glitches, upstream float bugs), and the
engines' defaults disagree violently about them.

What the ring found when first run, all fixed:

* The fixed-point cents idiom silently corrupted out-of-domain cells
  on the Spark side — floor(double)->long SATURATES (±Inf ->
  ±Long.MAX; a 1e300 price became ~$9.2e16) and folds NaN to $0.00 —
  while the DuckDB twin's HUGEINT conversion CRASHED. Contract now
  (queries.core._cents): cents are only defined for |x| < 9e13 (the
  2^53/100 bound where a double still carries exact cents); outside
  -> NULL in BOTH engines, identity on every clean corpus.
* gapfill_daily / salted_skew_join inlined the unguarded idiom and
  ANSI-crashed on Inf (long-sum overflow); same guard applied.
* running_totals' DECIMAL(12,2) cast ANSI-crashed on out-of-range
  cells in both engines; now TRY_CAST (isfinite-guarded in DuckDB,
  whose INT64-backed decimal TRY_CAST still throws on NaN).
* price_equidepth_bins: one NaN collapsed DuckDB's quantile_cont
  into a single all-rows bin (NaN boundary; x <= NaN is true under
  total order) while Spark binned normally. Contract: boundary
  estimation ignores non-finite cells; non-finite rows still bin
  (to the last bin, both engines' NaN-greatest order).
* Embedding vectors: a NaN component poisons every dot product, and
  the engines then disagree on what a NaN similarity means — numpy
  kernels drop it (IEEE NaN >= t is false) while SQL total-order
  keeps it (NaN sorts greatest): dedup_embedding_cosine returned 9
  vs 2308 rows, ann_ivf_lloyd / coreset_kcenter crashed on ANSI NaN
  casts. Contract (tables.load_embeddings): a vector with any null or
  non-finite component is excluded at the scan, mirrored by every
  family oracle's embeddings CTE.

Pinned LIMIT of the contract (not fixable in any engine pair): a raw
double SUM over MIXED-SIGN extreme magnitudes (±1e300 in one group)
is order-dependent — catastrophic cancellation makes the result
depend on partition/accumulation order, so salted_agg_lineitem's
"salting never changes results" identity only holds where addition is
effectively associative. The fixture therefore injects SAME-SIGN
extremes into raw-summed columns (order differences stay below the
12-significant-digit canon); guarded cents columns take the full
hostile set. Exact sums under hostility need the cents/decimal path —
which is why the money queries all use it.
"""

from __future__ import annotations

import os

import duckdb
import pytest

from acuvate_spark.queries import REGISTRY

from .oracle_harness import compare, duck_con

SRC = "/root/testdata/sf0.001"

NUMERIC_QUERIES = [
    "pricing_summary", "agg_order_stats", "salted_agg_lineitem",
    "running_totals", "rollup_sales", "cube_order_year",
    "price_equidepth_bins", "sketch_stats", "group_envelope",
    "top_orders", "unpivot_part_metrics", "sketch_hll_distinct",
    "collect_list_per_group", "pivot_order_status", "zorder_orders",
    "salted_skew_join",
]
EVENT_QUERIES = [
    "latest_event_per_user", "sessionize_events", "tumbling_event_counts",
    "sliding_event_counts", "gapfill_daily", "asof_join_events",
    "session_window_counts", "event_funnel", "click_attribution",
    "json_props_extract", "regexp_extract_props",
]
EMBEDDING_QUERIES = [
    "ann_cosine_topk", "ann_lsh_bucketed", "ann_ivf_flat", "ann_ivf_lloyd",
    "dedup_embedding_cosine", "semdedup_clusters", "knn_label_vote",
    "embedding_quantize", "coreset_kcenter",
]


def build_extreme_dir(out: str, poison_seed: bool = False) -> str:
    """DuckDB COPY keeps NaN as NaN (a pandas round-trip would fold it
    into NULL and test nothing)."""
    con = duckdb.connect()
    con.execute(f"""
        COPY (
          SELECT * REPLACE (
            CASE WHEN l_orderkey % 31 = 0 THEN 1e300
                 WHEN l_orderkey % 37 = 0 THEN 1e290
                 ELSE l_quantity END AS l_quantity,
            CASE WHEN l_orderkey % 41 = 0 THEN 'NaN'::DOUBLE
                 WHEN l_orderkey % 43 = 0 THEN 5e-324
                 ELSE l_extendedprice END AS l_extendedprice,
            CASE WHEN l_orderkey % 47 = 0 THEN -0.0
                 ELSE l_discount END AS l_discount
          ) FROM read_parquet('{SRC}/lineitem.parquet')
        ) TO '{out}/lineitem.parquet' (FORMAT PARQUET)
    """)
    con.execute(f"""
        COPY (
          SELECT * REPLACE (
            CASE WHEN o_orderkey % 53 = 0 THEN 'NaN'::DOUBLE
                 WHEN o_orderkey % 59 = 0 THEN 'Infinity'::DOUBLE
                 WHEN o_orderkey % 61 = 0 THEN -1e300
                 ELSE o_totalprice END AS o_totalprice
          ) FROM read_parquet('{SRC}/orders.parquet')
        ) TO '{out}/orders.parquet' (FORMAT PARQUET)
    """)
    con.execute(f"""
        COPY (
          SELECT * REPLACE (
            CASE WHEN event_id % 17 = 0 THEN 'Infinity'::DOUBLE
                 WHEN event_id % 19 = 0 THEN '-Infinity'::DOUBLE
                 WHEN event_id % 23 = 0 THEN 'NaN'::DOUBLE
                 WHEN event_id % 29 = 0 THEN 1e308
                 ELSE value END AS value
          ) FROM read_parquet('{SRC}/events.parquet')
        ) TO '{out}/events.parquet' (FORMAT PARQUET)
    """)
    nan_mod, inf_mod = (0, 1) if poison_seed else (5, 3)
    con.execute(f"""
        COPY (
          SELECT * REPLACE (
            CASE WHEN vec_id % 13 = {nan_mod} THEN ['NaN'::FLOAT] || embedding[2:]
                 WHEN vec_id % 11 = {inf_mod} THEN ['Infinity'::FLOAT] || embedding[2:]
                 ELSE embedding END AS embedding
          ) FROM read_parquet('{SRC}/embeddings.parquet')
        ) TO '{out}/embeddings.parquet' (FORMAT PARQUET)
    """)
    for t in "region nation customer supplier part documents".split():
        os.symlink(f"{SRC}/{t}.parquet", f"{out}/{t}.parquet")
    return out


@pytest.fixture(scope="module")
def extreme_dir(tmp_path_factory):
    return build_extreme_dir(str(tmp_path_factory.mktemp("extreme")))


@pytest.mark.parametrize("name", NUMERIC_QUERIES + EVENT_QUERIES + EMBEDDING_QUERIES)
def test_family_agrees_on_extreme_corpus(spark, extreme_dir, name):
    spec = REGISTRY[name]
    sp = spec.fn(spark, extreme_dir).toPandas()
    spark.catalog.clearCache()
    if spec.oracle is None:
        return  # rows-only query: surviving hostile cells IS the test
    du = duck_con(extreme_dir).execute(spec.oracle).fetchdf()
    assert not compare(sp, du, name)


def test_cents_guard_domain(spark):
    """The guarded cents expression cell-by-cell: NULL outside
    |x| < 9e13, exact integer cents inside — including -0.0 and the
    denormal, which are in-domain."""
    from pyspark.sql import functions as F

    from acuvate_spark.queries.core import _cents

    vals = [
        (1, 12.34), (2, float("nan")), (3, float("inf")), (4, float("-inf")),
        (5, 9e13), (6, -9e13), (7, 8.9999e13), (8, -0.0), (9, 5e-324),
        (10, 1e300),
    ]
    df = spark.createDataFrame(vals, "id long, x double")
    got = {
        r["id"]: r["c"]
        for r in df.select("id", _cents(F.col("x")).alias("c")).collect()
    }
    assert got == {
        1: 1234, 2: None, 3: None, 4: None, 5: None, 6: None,
        7: 8999900000000000, 8: 0, 9: 0, 10: None,
    }


def test_kcenter_poisoned_seed_is_empty_selection(spark, tmp_path):
    """vec_id 0 carrying a non-finite component falls out of the scan,
    so the greedy trajectory has no seed: the pinned contract is the
    empty selection in BOTH engines (not a crash, not a re-seed)."""
    seedless = tmp_path / "seedless"
    seedless.mkdir()
    out = build_extreme_dir(str(seedless), poison_seed=True)
    spec = REGISTRY["coreset_kcenter"]
    sp = spec.fn(spark, out).toPandas()
    du = duck_con(out).execute(spec.oracle).fetchdf()
    assert len(sp) == 0 and len(du) == 0
