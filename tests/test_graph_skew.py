"""Wedge-join hub-skew fixes (VERDICT r11 item 1): orientation and
candidate generation are PLAN levers, never result levers. Both r12
rewrites are pinned result-identical to their pre-r12 shapes on a hub
fixture built by the same generator the throughput audit uses
(tools/skew_audit.py graph_skew, shrunk sizes — the 20x-scale wall
clocks live in SCALING.md, correctness identity lives here).
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from acuvate_spark.queries import REGISTRY
from acuvate_spark.queries.graph import _edges

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT / "tools"))


@pytest.fixture(scope="module")
def hub_dir(tmp_path_factory):
    """Tiny twin of the audit fixture off sf0.001: a mid-id triangle
    hub (deg 60 -> 900 wedges at one pivot) and a hot supplier
    (deg 80 -> 3160 doomed candidate pairs)."""
    import skew_audit as g

    from acuvate_spark.session import get_spark

    spark = get_spark("acuvate-tests")
    out = str(tmp_path_factory.mktemp("graph_hub"))
    return g.build_hub_fixture(
        spark, "/root/testdata/sf0.001", out, hub_deg=60, hot_supp_deg=80
    )


def test_triangle_degree_orientation_identity_on_hub(spark, hub_dir):
    """Degree-then-id orientation counts EXACTLY the triangles the
    id-oriented (oracle-shaped) wedge join counts, on a fixture where
    the hub makes the two plans maximally different."""
    import skew_audit as g

    got = REGISTRY["triangle_count"].fn(spark, hub_dir).collect()[0].asDict()
    n_edges, n_tri = g.brute_triangles(spark, hub_dir)
    assert got == {"n_edges": n_edges, "n_triangles": n_tri}
    assert got["n_triangles"] > 0  # the hub closers make this non-trivial


def test_link_prediction_pair_key_identity_on_hub(spark, hub_dir):
    """The supplier-pair candidate scheme returns EXACTLY the rows of
    the pre-r12 single-supplier wedge join (recomputed here), on a
    fixture where the hot supplier makes the two plans maximally
    different — including n_common/deg/jaccard VALUES, not just the
    pair set."""
    e = _edges(spark, hub_dir)
    deg = e.groupBy("src").agg(F.count("*").cast("long").alias("deg"))
    a = e.select(F.col("src").alias("part_a"), F.col("dst").alias("s"))
    b = e.select(F.col("src").alias("part_b"), F.col("dst").alias("s"))
    common = (
        a.join(b, ["s"])
        .where(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").cast("long").alias("n_common"))
        .where(F.col("n_common") >= 2)
    )
    da = deg.select(F.col("src").alias("part_a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("src").alias("part_b"), F.col("deg").alias("deg_b"))
    want = sorted(
        tuple(r)
        for r in common.join(da, "part_a")
        .join(db, "part_b")
        .select(
            F.col("part_a").cast("long"),
            F.col("part_b").cast("long"),
            "n_common",
            "deg_a",
            "deg_b",
            (
                F.col("n_common").cast("double")
                / (F.col("deg_a") + F.col("deg_b") - F.col("n_common"))
            ).alias("jaccard"),
        )
        .collect()
    )
    got = sorted(
        tuple(r) for r in REGISTRY["link_prediction_jaccard"].fn(spark, hub_dir).collect()
    )
    assert len(want) > 0
    assert got == want
