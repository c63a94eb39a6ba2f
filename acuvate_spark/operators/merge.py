"""MERGE — the one keyed upsert dataflow (SURVEY §2.11 M1/M2 upsert,
M6 approve): ``target FULL OUTER JOIN source ON key``, then one caller
expression per output column, over ``t(name)`` / ``s(name)`` (join
aliases; no side is renamed). On Delta/Iceberg it is ``MERGE INTO``.
``first_per_key`` is the one row-per-key pick and
``approval_disposition`` the one Add/Edit approval rule.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

_T, _S = "__merge_t", "__merge_s"


def t(name: str) -> Column:
    """Target column ``name`` inside a ``merge`` value expression."""
    return F.col(f"{_T}.{name}")


def s(name: str) -> Column:
    """Source column ``name`` inside a ``merge`` value expression."""
    return F.col(f"{_S}.{name}")


def merge(target: DataFrame, source: DataFrame, key: str, values: dict[str, Column]) -> DataFrame:
    """One row per matched pair and per unmatched row of either side:
    ``key`` (the target's, else the source's), then each ``values``
    expression under its name. An unmatched target row sees every
    ``s(...)`` NULL, an unmatched source row every ``t(...)`` NULL.
    One sort-merge join shuffles each side once on ``key``; a side
    already partitioned on it (``first_per_key``) is not reshuffled.

    NULL-key contract: a NULL key matches nothing, and a NULL-key
    target row comes through unchanged — once, resolved exactly like
    an unmatched target row."""
    joined = target.alias(_T).join(source.alias(_S), t(key) == s(key), "full_outer")
    return joined.select(
        F.coalesce(t(key), s(key)).alias(key), *[v.alias(n) for n, v in values.items()]
    )


def first_per_key(df: DataFrame, keys: list[str], *order: str | Column) -> DataFrame:
    """One row of ``df`` per ``keys`` value (one row overall for no
    keys): the first by ``order`` — a name sorts ascending, NULLs
    first; pass ``F.col(c).desc()`` for the greatest. Full ties pick
    an arbitrary row."""
    w = Window.partitionBy(*keys).orderBy(*order)
    return df.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") == 1).drop("__rn")


def approval_disposition(key: str, action: str) -> Column:
    """The approval rule (reference approve_tag_equipment
    app.py:5706-5888) inside a ``merge`` of a register with pending
    Add/Edit rows: no pending row -> unchanged; an Edit of an existing
    key -> edited, an Add of one -> rejected_add; an Add of a missing
    key -> added; anything else -> rejected_edit."""
    exists, act = t(key).isNotNull(), s(action)
    return (
        F.when(s(key).isNull(), F.lit("unchanged"))
        .when(exists & (act == "Edit"), F.lit("edited"))
        .when(exists & (act == "Add"), F.lit("rejected_add"))
        .when(act == "Add", F.lit("added"))
        .otherwise(F.lit("rejected_edit"))
    )
