"""CheckpointRing: superseded localCheckpoint rounds must be freed
deterministically (r14 — one 25-round CC run left 24 dead label
snapshots pinned; a following query in the same session measured 3.5x
slower until a manual gc.collect())."""

from __future__ import annotations

from pyspark.sql import functions as F

from acuvate_spark.operators.checkpoints import CheckpointRing, _persistent_ids


def test_ring_keeps_exactly_keep_rounds(spark):
    spark.catalog.clearCache()
    base = len(_persistent_ids(spark))
    ring = CheckpointRing(spark)
    cur = spark.range(50000).withColumn("x", F.rand(7)).localCheckpoint(eager=True)
    ring.rotate()
    for _ in range(8):
        cur = cur.withColumn("x", F.col("x") * 1.001).localCheckpoint(eager=True)
        ring.rotate()
    assert len(_persistent_ids(spark)) - base == 1  # newest round only
    assert cur.count() == 50000  # survivor readable after 8 frees


def test_connected_components_leaves_no_dead_rounds(spark):
    """A multi-round CC run must leave O(1) persistent RDDs, not
    O(rounds): a 64-node path graph forces ~32 min-label rounds."""
    from acuvate_spark.operators.graph import connected_components

    spark.catalog.clearCache()
    base = len(_persistent_ids(spark))
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "src long, dst long"
    )
    rounds: list[int] = []
    out = connected_components(edges, max_iter=80, rounds_out=rounds)
    assert out.where(F.col("component") != 0).count() == 0  # one component
    assert rounds[0] > 5  # genuinely multi-round
    # loop-invariant sym + the final labels round; NOT base + rounds
    assert len(_persistent_ids(spark)) - base <= 3

