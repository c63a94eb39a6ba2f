"""Hot-entity window-family fixes (r12): the running_totals adaptive
two-level cumsum is a PLAN lever, never a result lever — both routes
are pinned row-identical on uniform and hot-key fixtures (the
throughput halves live in SCALING.md via tools/skew_audit.py window_skew).
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

from acuvate_spark.queries import REGISTRY
from acuvate_spark.queries import core as qcore

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT / "tools"))


@pytest.fixture(scope="module")
def hot_dir(tmp_path_factory):
    import skew_audit as w

    from acuvate_spark.session import get_spark

    spark = get_spark("acuvate-tests")
    out = str(tmp_path_factory.mktemp("window_hot"))
    return w.build_hot_fixture(spark, "/root/testdata/sf0.001", out)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("src", ["/root/testdata/sf0.001", "hot"])
def test_running_totals_routes_identical(spark, hot_dir, monkeypatch, src):
    """Single-window vs two-level cumsum: identical rows on the
    uniform corpus AND on a corpus where 30% of orders belong to one
    customer (where the bucket decomposition actually engages beyond
    one bucket per key)."""
    d = hot_dir if src == "hot" else src
    monkeypatch.setattr(qcore, "_RT_HOT_KEY_MIN", 1 << 60)  # force classic
    want = _rows(REGISTRY["running_totals"].fn(spark, d))
    monkeypatch.setattr(qcore, "_RT_HOT_KEY_MIN", 1)  # force two-level
    got = _rows(REGISTRY["running_totals"].fn(spark, d))
    assert len(want) > 0
    assert got == want


def test_running_totals_auto_routes_on_hot_key(spark, hot_dir):
    """The probe routes the hot fixture to two-level only when the max
    per-key population crosses the knee — at fixture scale (30% of
    1,500 orders) it stays classic, which is exactly the point of the
    adaptive gate: tiny corpora never pay the offsets join."""
    out = REGISTRY["running_totals"].fn(spark, hot_dir)
    assert out.count() > 0  # probe + route executes end-to-end
