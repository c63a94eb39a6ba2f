"""Document-dimension spatial fixtures (VERDICT r06 item 1).

The r06 sf1 smoke showed the four spatial/benchmark queries going
super-linear because their synthetic inputs drew all geometry into one
fixed canvas — corpus scale became density scale. The fixtures now
carry a per-document id (constant boxes/lines per doc; doc_id joins
the grid-cell key), so these tests pin the per-document isolation
invariants.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from acuvate_spark.queries import REGISTRY
from acuvate_spark.queries.pid import _LINES_PER_DOC
from acuvate_spark.queries.synth import BOXES_PER_DOC


def test_doc_dimension_ratio_assumption_holds_in_fixtures(spark):
    """The per-document keys assume part:supplier = 20:1 with dense
    0-based keys (lines p_partkey div 200 must land in the same doc
    range as boxes s_suppkey div 10). Pin that against the actual
    driver data at every committed sf, so a testdata change can't
    silently desynchronize the two doc spaces."""
    for sf in ("0.001", "0.01", "0.1"):
        sup = spark.read.parquet(f"/root/testdata/sf{sf}/supplier.parquet")
        prt = spark.read.parquet(f"/root/testdata/sf{sf}/part.parquet")
        n_s, n_p = sup.count(), prt.count()
        assert n_p == 20 * n_s, (sf, n_s, n_p)
        assert sup.agg({"s_suppkey": "min"}).collect()[0][0] == 0
        assert prt.agg({"p_partkey": "min"}).collect()[0][0] == 0
        assert sup.agg({"s_suppkey": "max"}).collect()[0][0] == n_s - 1
        assert prt.agg({"p_partkey": "max"}).collect()[0][0] == n_p - 1
        # same number of documents on both sides
        assert -(-n_s // BOXES_PER_DOC) == -(-n_p // _LINES_PER_DOC)
    assert _LINES_PER_DOC == 20 * BOXES_PER_DOC


def test_grid_containment_join_equals_naive_theta_any_cell(spark):
    """Direct property pin for the grid operator (previously verified
    only transitively through query oracles): for RANDOM boxes and
    points, any cell size, any margin, and with or without extra
    equi-keys, the grid-bucketed join must produce exactly the naive
    crossJoin + containment-filter pair set — the cell size tunes
    candidates, never results."""
    import random

    from acuvate_spark.operators.spatial import grid_containment_join

    rng = random.Random(20260815)
    pts = [
        (i, rng.randrange(4), rng.uniform(-50, 150), rng.uniform(-50, 150))
        for i in range(300)
    ]
    boxes = []
    for b in range(60):
        x1, y1 = rng.uniform(-40, 140), rng.uniform(-40, 140)
        boxes.append((b, rng.randrange(4), x1, y1, x1 + rng.uniform(0, 15), y1 + rng.uniform(0, 15)))
    pdf = spark.createDataFrame(pts, "pid long, doc long, x double, y double")
    bdf = spark.createDataFrame(boxes, "box_id long, doc long, bx1 double, by1 double, bx2 double, by2 double")

    for cell, margin, keys in [(10, 1.0, ()), (7, 2.5, ()), (25, 0.0, ("doc",)), (10, 1.0, ("doc",))]:
        got = {
            (r["pid"], r["box_id"])
            for r in grid_containment_join(
                pdf, bdf, margin=margin, cell=cell, keys=keys
            ).collect()
        }
        want = set()
        for pid, pdoc, x, y in pts:
            for bid, bdoc, x1, y1, x2, y2 in boxes:
                if keys and pdoc != bdoc:
                    continue
                if x1 - margin <= x <= x2 + margin and y1 - margin <= y <= y2 + margin:
                    want.add((pid, bid))
        assert got == want, (cell, margin, keys)


def test_pid_connections_pairs_stay_within_document(spark, sf_dir):
    """A line can only connect boxes of its OWN drawing: every output
    pair's two box ids must map to the same doc (box doc = s_suppkey
    div BOXES_PER_DOC). This is the invariant that makes the grid key
    carry corpus scale."""
    out = REGISTRY["pid_connections"].fn(spark, sf_dir)
    crossers = out.where(
        F.expr(f"box_a div {BOXES_PER_DOC}") != F.expr(f"box_b div {BOXES_PER_DOC}")
    ).count()
    assert crossers == 0
    assert out.count() > 0


def test_nearest_tag_join_stays_within_document(spark, sf_dir):
    """Each part's nearest tag must come from the part's own document
    (part doc = p_partkey div 200, tag doc = s_suppkey div 10)."""
    out = REGISTRY["nearest_tag_join"].fn(spark, sf_dir)
    crossers = out.where(
        F.expr("p_partkey div 200") != F.expr("nearest_tag div 10")
    ).count()
    assert crossers == 0
    assert out.count() > 0


def test_distance_dedupe_domination_is_per_document(spark):
    """Two same-class points at the same cx in DIFFERENT documents must
    both survive — domination only applies within a doc. Needs a
    multi-document fixture, so this runs at sf0.01 (sf0.001's 200
    parts are a single doc); assert at least one surviving
    (p_type, cx) group spans docs."""
    out = REGISTRY["distance_dedupe"].fn(spark, "/root/testdata/sf0.01").toPandas()
    assert len(out) > 0
    multi = out.groupby(["p_type", "cx"])["doc_id"].nunique()
    assert (multi > 1).any(), "expected same-class same-cx survivors in different docs"
