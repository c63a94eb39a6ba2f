"""Driver contract for the spark-graft builder (PySpark target).

Thin view over ``acuvate_spark.queries.REGISTRY``: every implemented
operator from SURVEY.md §2 (plus the training-data pipeline ops) is a
named query with, where SQL-expressible, a DuckDB oracle.

The correctness harness evaluates queries in dict order and runs at
most ~50 per round, so ordering decides which queries get a hard
verification row.  Instead of a hand-maintained list (which went stale
in rounds 1 and 2), the order is *computed* from the committed
``CORRECTNESS_r*.json`` files: least-recently-verified first, so

  1. queries with no passing row in any committed round lead,
  2. then queries whose newest passing row is oldest,
  3. ties broken by registry (registration) order.

A row counts as "passing" only if its value-hash matched (or it is a
rows-only-by-design query that produced rows); failed or errored rows
push a query back to the front of the next round's window.

Rows are further gated by ``QUERY_VERSIONS.json`` (see
``tools/query_versions.py``): a row only verifies a query if the row's
round >= the round this VERSION of the query appeared, so rewriting a
query or its oracle automatically re-front-loads it (a round-1 green
row must not carry a round-3 rewrite — the round-3 review caught
exactly that with dedup_embedding_cosine's LSH rewrite). Since round
6 the hash also covers every package symbol the query transitively
references, so a shared-helper edit outside the decorated function
re-front-loads its dependents too (the r05 verdict's item-2 blind
spot). The hash covers code, not text: a comment or docstring edit
re-front-loads nothing. ``tests/test_docs.py`` pins the rotation, the
manifest freshness, and the helper-bump behavior so none can regress.
"""

from __future__ import annotations

import json
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from acuvate_spark.queries import REGISTRY

_ROOT = Path(__file__).resolve().parent


def _round_results() -> dict[int, dict]:
    """Parsed CORRECTNESS_r{N}.json files keyed by round number N."""
    out: dict[int, dict] = {}
    for p in sorted(_ROOT.glob("CORRECTNESS_r*.json")):
        try:
            n = int(p.stem.replace("CORRECTNESS_r", ""))
            out[n] = json.loads(p.read_text())
        except (ValueError, json.JSONDecodeError):
            continue
    return out


def _row_passed(row: dict) -> bool:
    if not isinstance(row, dict):
        return False
    if row.get("hash_match") is True:
        return True
    # rows-only-by-design queries (no oracle): "produced rows" is the
    # signal, so the count must be a POSITIVE integer — a silently
    # empty result must rotate back to the front, not count as green
    if row.get("err") != "no_oracle":
        return False
    rows = row.get("spark_rows")
    return isinstance(rows, int) and rows > 0


def _since_rounds() -> dict[str, int]:
    """Round in which each query's CURRENT version appeared (from the
    committed QUERY_VERSIONS.json manifest; missing entry = treat as
    brand-new so it front-loads)."""
    try:
        manifest = json.loads((_ROOT / "QUERY_VERSIONS.json").read_text())
    except (OSError, json.JSONDecodeError):
        manifest = {}
    out: dict[str, int] = {}
    for name in REGISTRY:
        entry = manifest.get(name)
        out[name] = int(entry["since_round"]) if entry else 10**9
    return out


def _last_verified() -> dict[str, int]:
    """Newest round in which each query's CURRENT version had a
    passing row (0 = never verified since it last changed)."""
    since = _since_rounds()
    last: dict[str, int] = {name: 0 for name in REGISTRY}
    for rnd, results in _round_results().items():
        for name, row in results.items():
            if name in last and rnd >= since[name] and _row_passed(row):
                last[name] = max(last[name], rnd)
    return last


def _ordered_names() -> list[str]:
    reg_index = {name: i for i, name in enumerate(REGISTRY)}
    last = _last_verified()
    return sorted(REGISTRY, key=lambda n: (last[n], reg_index[n]))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return REGISTRY["getdata_page"].fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: REGISTRY[name].fn for name in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query (omitted for non-SQL-expressible
    ops, which get rows-only checks)."""
    return {
        name: REGISTRY[name].oracle
        for name in _ordered_names()
        if REGISTRY[name].oracle is not None
    }
