"""Spatial join operators — the grid-bucket reformulation of
containment/distance theta joins (SURVEY §4 O3: the reference's
spatial hash grid at app.py:1383-1414, generalized).

A margin-expanded box spans ``(x2-x1) + 2*margin`` per axis; with a
cell size >= that span each box covers at most 2 cells per axis, so
exploding boxes to their covered cells and keying points by their
exact cell turns the unbounded |points| x |boxes| theta join into a
hash equi-join on (cx, cy) whose candidate count tracks cell
co-occupancy. The exact predicate re-checks inside matching cells, so
results are identical to the naive join for ANY cell size — the cell
size only tunes candidate counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def grid_containment_join(
    points: DataFrame,
    boxes: DataFrame,
    *,
    px: str = "x",
    py: str = "y",
    bx1: str = "bx1",
    by1: str = "by1",
    bx2: str = "bx2",
    by2: str = "by2",
    margin: float = 1.0,
    cell: int = 10,
    keys: tuple[str, ...] = (),
) -> DataFrame:
    """All (point, box) pairs with the point inside the margin-expanded
    box. Returns points' columns + boxes' columns (one row per pair;
    callers project/distinct as needed). The exploded box side is
    broadcast. The single ``margin`` value
    drives BOTH the cell-coverage bounds and the exact predicate, so
    they cannot drift apart.

    ``keys`` are extra equi-join columns present on BOTH sides — in
    practice the per-document/per-drawing id. They matter at scale:
    with the document id in the join key, corpus growth adds KEY
    GROUPS (more documents) instead of cell occupancy (denser cells),
    so per-cell candidate pairs stay bounded by per-document geometry
    no matter the corpus size; without them, a 10x corpus in a fixed
    coordinate domain is 10x density and ~100x candidate pairs (the
    r06 sf1-smoke cliff)."""
    lo_x, hi_x = F.col(bx1) - margin, F.col(bx2) + margin
    lo_y, hi_y = F.col(by1) - margin, F.col(by2) + margin
    box_cells = F.broadcast(
        boxes.withColumn(
            "cx", F.explode(F.sequence(F.floor(lo_x / cell), F.floor(hi_x / cell)))
        ).withColumn(
            "cy", F.explode(F.sequence(F.floor(lo_y / cell), F.floor(hi_y / cell)))
        )
    )
    pts = points.withColumn("cx", F.floor(F.col(px) / cell)).withColumn(
        "cy", F.floor(F.col(py) / cell)
    )
    return (
        pts.join(box_cells, ["cx", "cy", *keys])
        .where(F.col(px).between(lo_x, hi_x) & F.col(py).between(lo_y, hi_y))
        .drop("cx", "cy")
    )
