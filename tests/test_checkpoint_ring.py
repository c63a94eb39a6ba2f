"""``checkpoints.release``: each eager checkpoint is freed through its
own frame, deterministically (one 25-round CC run left 24 dead label
snapshots pinned; a following query in the same session measured 3.5x
slower until a manual gc.collect())."""

from __future__ import annotations

from pyspark.sql import functions as F

from acuvate_spark.operators.checkpoints import release

from .conftest import persisted_ids


def test_release_frees_exactly_its_own_checkpoint(spark):
    base = persisted_ids(spark)
    a = spark.range(1000).localCheckpoint(eager=True)
    (a_id,) = persisted_ids(spark) - base
    b = spark.range(10).localCheckpoint(eager=True)
    (b_id,) = persisted_ids(spark) - base - {a_id}
    release(a)
    assert persisted_ids(spark) - base == {b_id}
    assert b.count() == 10  # a checkpoint taken after a stays readable
    release(b)
    assert persisted_ids(spark) - base == set()


def test_release_on_persisted_frame_acts_like_unpersist(spark):
    base = persisted_ids(spark)
    df = spark.range(1000).persist()
    assert df.count() == 1000
    assert df.is_cached and persisted_ids(spark) - base
    release(df)
    assert not df.is_cached
    assert persisted_ids(spark) - base == set()


def test_release_on_a_frame_that_is_no_checkpoint_frees_nothing(spark):
    base = persisted_ids(spark)
    ckpt = spark.range(100).withColumn("x", F.col("id") * 2).localCheckpoint(eager=True)
    (ckpt_id,) = persisted_ids(spark) - base
    release(ckpt.drop("x"), spark.range(5))  # a projection of it, a plain plan
    assert ckpt_id in persisted_ids(spark)
    assert ckpt.count() == 100
    release(ckpt)


def test_release_per_round_keeps_only_the_newest_round(spark):
    base = persisted_ids(spark)
    cur = spark.range(50000).withColumn("x", F.rand(7)).localCheckpoint(eager=True)
    for _ in range(8):
        nxt = cur.withColumn("x", F.col("x") * 1.001).localCheckpoint(eager=True)
        release(cur)
        cur = nxt
    assert len(persisted_ids(spark) - base) == 1  # newest round only
    assert cur.count() == 50000  # survivor readable after 8 frees
    release(cur)


def test_connected_components_leaves_no_dead_rounds(spark):
    """A multi-round CC run must leave O(1) persistent RDDs, not
    O(rounds): a 64-node path graph forces ~32 min-label rounds."""
    from acuvate_spark.operators.graph import connected_components

    base = persisted_ids(spark)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "src long, dst long"
    )
    rounds: list[int] = []
    out = connected_components(edges, max_iter=80, rounds_out=rounds)
    assert out.where(F.col("component") != 0).count() == 0  # one component
    assert rounds[0] > 5  # genuinely multi-round
    # the loop-invariant sym and the final labels round; NOT base + rounds
    assert len(persisted_ids(spark) - base) == 2
