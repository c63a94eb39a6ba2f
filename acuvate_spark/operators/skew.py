"""Skew mitigation — salting for hot keys (SURVEY §4: "skewed keys →
salting or AQE skew-join").

AQE's skew-join handles most cases at runtime; explicit salting is
for the aggregation/join shapes AQE can't split (e.g. a single giant
group in a groupBy, where all rows for one key land on one task).

``salted_agg`` runs the canonical two-phase rewrite: group on
(key, salt) first — spreading one hot key over N tasks — then
re-aggregate the partials by key. Correct for any decomposable
aggregate (sum/count/min/max); the query layer proves equivalence to
the plain GROUP BY via the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


N_SALTS = 16


def salted_agg(
    df: DataFrame,
    group_cols: list[str],
    partial_aggs: list[Column],
    final_aggs: list[Column],
) -> DataFrame:
    """Two-phase skew-safe aggregation:
    phase 1 groups on (group_cols + salt) with ``partial_aggs``
    (e.g. sum(x) as s, count(*) as c);
    phase 2 groups on group_cols with ``final_aggs`` over the partials
    (e.g. sum(s), sum(c)). The salt is uniform random in
    [0, N_SALTS): rand() is fine here, because the salt never affects
    results, only placement (re-aggregation removes it)."""
    salted = df.withColumn("__salt", (F.rand(seed=42) * N_SALTS).cast("int"))
    phase1 = salted.groupBy(*group_cols, "__salt").agg(*partial_aggs)
    return phase1.groupBy(*group_cols).agg(*final_aggs)
