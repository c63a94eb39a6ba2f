"""Timestamp-extreme parity ring (r14 ring #9): calendar edge cells —
the epoch, a leap day, a DST-gap instant, the int64-nanosecond window
edges (1677-09-22 / 2262-04-10), and the 1752 calendar-switch date —
injected into events.ts / orders.o_orderdate / lineitem.l_shipdate,
with the ALL-AGREE contract over every timestamp-consuming family.

Outcome when the ring was first run: the ENGINES already agree
on every case — both use the proleptic Gregorian calendar over
microsecond instants — so this ring pins guarantees rather than fixes
(zero code changes, zero version bumps). Two boundaries it documents:

* The Arrow/pandas bridge, NOT the engine, rejects instants outside
  the int64-ns window [1677-09-21, 2262-04-11]: a year-0001 cell
  computes fine (year-level aggregates over 0001/9999 inputs agreed
  in a one-off probe run) but dies in toPandas()/fetchdf() — and a
  DERIVED instant can leave the window even when inputs are inside
  (date_trunc('year', 1677-09-22) -> 1677-01-01 crashed the bridge).
  Collection-side consumers of raw-timestamp columns inherit that
  window; year/day-level aggregates do not.
* gapfill_daily densifies each user's [min_day, max_day]: ONE
  poisoned 1677 cell explodes that user's grid to ~213k rows (both
  engines agree — and both pay it). Resample span is a data-quality
  invariant the pipeline must validate upstream; the ring pins the
  agreement at one exploded user (~500k total rows), not the guard.
"""

from __future__ import annotations

import os

import duckdb
import pytest

from acuvate_spark.queries import REGISTRY

from .oracle_harness import compare, duck_con
from .test_extreme_parity import SRC

TS_QUERIES = [
    "latest_event_per_user", "sessionize_events", "tumbling_event_counts",
    "sliding_event_counts", "asof_join_events", "session_window_counts",
    "event_funnel", "click_attribution", "gapfill_daily",
    "date_functions", "scd2_history", "running_totals", "cube_order_year",
    "pivot_order_status", "zorder_orders", "top_orders", "getdata_keyset",
    "pricing_summary", "upsert_orders", "soft_delete_users",
]


def build_ts_dir(out: str) -> str:
    """Poisoned copies are written as microsecond TIMESTAMP (DuckDB's
    default): int64 nanosecond timestamps only span 1677-2262, and
    Spark reads micros directly (the nanos compat tune simply doesn't
    trigger)."""
    con = duckdb.connect()
    # events.ts extremes stay inside the int64-NANOSECOND window
    # [1677-09-21, 2262-04-11]: results cross the Arrow/pandas bridge
    # (both the oracle harness and any toPandas consumer), and the
    # bridge — not the engine — rejects earlier instants (ArrowInvalid
    # on collect; the Spark plans themselves ran). 1677/2262 edges, the
    # epoch, a leap day and a DST-gap instant are the hostile cases
    # that remain representable.
    con.execute(f"""
        COPY (
          SELECT * REPLACE (CAST(
            CASE WHEN event_id % 17 = 0 THEN TIMESTAMP '1970-01-01 00:00:00'
                 WHEN event_id % 19 = 0 THEN TIMESTAMP '2024-02-29 12:00:00'
                 WHEN event_id % 23 = 0 THEN TIMESTAMP '2026-03-08 07:30:00'
                 WHEN event_id = 29 THEN TIMESTAMP '1677-09-22 00:00:00'
                 WHEN event_id = 31 THEN TIMESTAMP '2262-04-10 00:00:00'
                 ELSE ts END AS TIMESTAMP) AS ts
          ) FROM read_parquet('{SRC}/events.parquet')
        ) TO '{out}/events.parquet' (FORMAT PARQUET)
    """)
    # same ns-window bound for the date columns: date_functions /
    # running_totals / scd2_history RETURN the raw timestamp, so a
    # year-0001 cell dies at the bridge, not in the plan. (A one-off
    # run with 0001/9999 here confirmed the year-level queries —
    # cube_order_year, pivot, zorder — agree on the full range.)
    con.execute(f"""
        COPY (
          SELECT * REPLACE (CAST(
            CASE WHEN o_orderkey % 41 = 0 THEN TIMESTAMP '1680-01-01 00:00:00'
                 WHEN o_orderkey % 43 = 0 THEN TIMESTAMP '2260-12-31 00:00:00'
                 WHEN o_orderkey % 47 = 0 THEN TIMESTAMP '1752-09-02 00:00:00'
                 ELSE o_orderdate END AS TIMESTAMP) AS o_orderdate
          ) FROM read_parquet('{SRC}/orders.parquet')
        ) TO '{out}/orders.parquet' (FORMAT PARQUET)
    """)
    con.execute(f"""
        COPY (
          SELECT * REPLACE (CAST(
            CASE WHEN l_orderkey % 53 = 0 THEN TIMESTAMP '1677-09-22 00:00:00'
                 WHEN l_orderkey % 59 = 0 THEN TIMESTAMP '2262-04-10 00:00:00'
                 ELSE l_shipdate END AS TIMESTAMP) AS l_shipdate
          ) FROM read_parquet('{SRC}/lineitem.parquet')
        ) TO '{out}/lineitem.parquet' (FORMAT PARQUET)
    """)
    for t in "region nation customer supplier part documents embeddings".split():
        os.symlink(f"{SRC}/{t}.parquet", f"{out}/{t}.parquet")
    return out


@pytest.fixture(scope="module")
def ts_dir(tmp_path_factory):
    return build_ts_dir(str(tmp_path_factory.mktemp("tsx")))


@pytest.mark.parametrize("name", TS_QUERIES)
def test_family_agrees_on_calendar_edges(spark, ts_dir, name):
    spec = REGISTRY[name]
    sp = spec.fn(spark, ts_dir).toPandas()
    spark.catalog.clearCache()
    if spec.oracle is None:
        return
    du = duck_con(ts_dir).execute(spec.oracle).fetchdf()
    assert not compare(sp, du, name)


def test_gapfill_span_explosion_is_shared_and_bounded(spark, ts_dir):
    """The single 1677 event cell explodes exactly its user's grid;
    the two engines agree on the exploded result. Pins the magnitude
    so a future fixture edit cannot silently stop exercising it."""
    spec = REGISTRY["gapfill_daily"]
    sp = spec.fn(spark, ts_dir).toPandas()
    spark.catalog.clearCache()
    assert len(sp) > 100_000  # one user's span reaches back to 1677
    du = duck_con(ts_dir).execute(spec.oracle).fetchdf()
    assert not compare(sp, du, "gapfill_daily")
