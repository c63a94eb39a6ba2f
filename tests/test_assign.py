"""The broadcast/shuffled nearest-centroid assign swap (VERDICT r08
item 1): ``operators.assign.nearest_centroids`` must produce
IDENTICAL rows from either physical strategy, and the shuffled
strategy's plan must contain no K-row broadcast nested loop — its
only nested loops are the two 1-row array attaches, and the exact
compare is an equi-join on the cell id.
"""

from __future__ import annotations

import contextlib

import pytest
from pyspark.sql import functions as F

from acuvate_spark.operators import assign
from acuvate_spark.queries import REGISTRY
from acuvate_spark.tables import load_table
from tools.dump_plans import plan_text


# (AUTO_SHUFFLE_MIN_K, BROADCAST_MAX_K) that route every k_hint to one
# strategy
_FORCED = {
    "broadcast": (1 << 62, 1 << 62),
    "blas": (-1, 1 << 62),
    "shuffled": (-1, -1),
}


@contextlib.contextmanager
def _mode(mode):
    shuffle_min_k, broadcast_max_k = _FORCED[mode]
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(assign, "AUTO_SHUFFLE_MIN_K", shuffle_min_k)
        mp.setattr(assign, "BROADCAST_MAX_K", broadcast_max_k)
        yield


def _frames(spark, sf_dir, k):
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cent = e.orderBy("vec_id").limit(k).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("ce")
    )
    return e, cent


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("k,n_best", [(16, 1), (16, 2), (50, 3), (3, 2)])
def test_shuffled_assign_identical_to_broadcast(spark, sf_dir, k, n_best):
    e, cent = _frames(spark, sf_dir, k)
    got = {}
    for mode in ("broadcast", "shuffled", "blas"):
        with _mode(mode):
            got[mode] = _rows(assign.nearest_centroids(e, cent, k_hint=k, n_best=n_best))
    assert len(got["broadcast"]) > 0
    assert got["broadcast"] == got["shuffled"] == got["blas"]


def test_shuffled_assign_empty_centroids_matches_broadcast(spark, sf_dir):
    e, cent = _frames(spark, sf_dir, 5)
    empty_cent = cent.limit(0)
    empty_vec = e.limit(0)
    for mode in ("shuffled", "blas"):
        with _mode(mode):
            assert assign.nearest_centroids(e, empty_cent, k_hint=0).count() == 0
        with _mode(mode):
            assert assign.nearest_centroids(empty_vec, cent, k_hint=5).count() == 0


@pytest.mark.parametrize("name", ["semdedup_clusters", "ann_ivf_flat", "ann_ivf_lloyd"])
def test_swapped_queries_identical_on_fixture(spark, sf_dir, name):
    """End-to-end: the three assign-pass consumers return identical
    result sets under either strategy (the VERDICT's done-condition
    for the swap)."""
    got = {}
    for mode in ("broadcast", "shuffled", "blas"):
        with _mode(mode):
            got[mode] = _rows(REGISTRY[name].fn(spark, sf_dir))
    assert len(got["broadcast"]) > 0
    assert got["broadcast"] == got["shuffled"] == got["blas"]


def _node_count(plan: str, name: str) -> int:
    """Count physical nodes by their detail-section header — the tree
    rendering repeats each node name once more."""
    import re

    return len(re.findall(rf"^\(\d+\) {name}", plan, re.M))


def test_shuffled_plan_has_no_krow_broadcast_nested_loop(spark, sf_dir):
    """Plan pin: in shuffled mode the ONLY BroadcastNestedLoopJoins
    are the 1-row collect_list array attaches — the supers attach
    (appearing twice: the member-assign subtree feeds both the radius
    aggregate and the probe join, a documented recompute) and the
    cells attach. The K-row centroid frame itself never rides a
    nested loop, and the exact compare is an equi-join (hash or
    sort-merge) on the cell id. In broadcast mode the single nested
    loop IS the K-row cross — the shape the swap removes."""
    e, cent = _frames(spark, sf_dir, 16)
    with _mode("shuffled"):
        plan = plan_text(assign.nearest_centroids(e, cent, k_hint=16))
    assert "CartesianProduct" not in plan
    assert _node_count(plan, "BroadcastNestedLoopJoin") == 3
    # both nested-loop build sides are the 1-row collect_list frames
    assert plan.count("collect_list") >= 2
    # the exact compare reaches the corpus through an equi-join
    assert any(
        m in plan for m in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    )
    with _mode("broadcast"):
        bplan = plan_text(assign.nearest_centroids(e, cent, k_hint=16))
    assert _node_count(bplan, "BroadcastNestedLoopJoin") == 1


def test_auto_mode_threshold(spark, sf_dir):
    e, cent = _frames(spark, sf_dir, 4)
    plan_small = plan_text(assign.nearest_centroids(e, cent, k_hint=4))
    # k_hint <= threshold: broadcast shape (one K-row nested loop)
    assert _node_count(plan_small, "BroadcastNestedLoopJoin") == 1
    plan_mid = plan_text(
        assign.nearest_centroids(e, cent, k_hint=assign.AUTO_SHUFFLE_MIN_K)
    )
    # at the crossover: still broadcast
    assert _node_count(plan_mid, "BroadcastNestedLoopJoin") == 1
    plan_big = plan_text(
        assign.nearest_centroids(e, cent, k_hint=assign.AUTO_SHUFFLE_MIN_K + 1)
    )
    # past the measured crossover (r11): the cogrouped-matmul shape —
    # no nested loop anywhere, candidates come out of the kernel and
    # meet the K-row frame on a hash equi-join for the exact ccos
    assert _node_count(plan_big, "BroadcastNestedLoopJoin") == 0
    assert "FlatMapCoGroupsInPandas" in plan_big
    plan_huge = plan_text(
        assign.nearest_centroids(e, cent, k_hint=assign.BROADCAST_MAX_K + 1)
    )
    # past the broadcast CAPACITY bound: the two-level shuffled shape
    # (K no longer fits a task, matmul included)
    assert _node_count(plan_huge, "BroadcastNestedLoopJoin") == 3
    assert "FlatMapCoGroupsInPandas" not in plan_huge


def test_shuffled_assign_on_skewed_corpus_matches_broadcast(spark, sf_dir):
    """VERDICT r09 item 6 (skew audit): candidate cells inherit the
    centroid distribution, so a lumpy corpus concentrates probes in
    few cells. Correctness half of the audit: a corpus where ~80% of
    vectors are one tight cluster (exact duplicates of a single
    direction — the worst case, every probe hits ONE cell) must still
    produce rows identical to the broadcast form. The throughput half
    is measured by tools/skew_audit.py assign_skew (SCALING.md)."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dom = (
        e.orderBy("vec_id")
        .limit(1)
        .select(
            F.explode(F.sequence(F.lit(500_000), F.lit(502_000))).alias("vec_id"),
            "embedding",
        )
    )
    skewed = e.unionByName(dom)
    cent = skewed.orderBy("vec_id").limit(50).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("ce")
    )
    got = {}
    for mode in ("broadcast", "shuffled", "blas"):
        with _mode(mode):
            got[mode] = _rows(assign.nearest_centroids(skewed, cent, k_hint=50, n_best=2))
    assert len(got["broadcast"]) > 0
    assert got["broadcast"] == got["shuffled"] == got["blas"]


def test_blas_assign_block_count_invariant(spark, sf_dir):
    """The blas block fan-out is a memory lever, never a result lever:
    1 block (everything in one cogroup) and 7 blocks (multi-block with
    uneven hash populations) must produce identical rows, and both
    must match broadcast. Pins the margin logic across block
    boundaries — a per-block n_best-th-max computed on a SUBSET of
    centroids would silently drop candidates, which this would catch
    because every block sees ALL centroids by construction."""
    e, cent = _frames(spark, sf_dir, 50)
    with _mode("broadcast"):
        want = _rows(assign.nearest_centroids(e, cent, k_hint=50, n_best=2))
    got = {}
    for nb in (1, 7):
        with pytest.MonkeyPatch.context() as mp, _mode("blas"):
            mp.setattr(assign, "_blas_blocks", lambda spark, nb=nb: nb)
            got[nb] = _rows(assign.nearest_centroids(e, cent, k_hint=50, n_best=2))
    assert got[1] == got[7] == want


def test_blas_plan_shape(spark, sf_dir):
    """blas mode plan pin: the kernel node is present, the exact-ccos
    join on the K-row centroid frame is a broadcast HASH join (K is
    under the capacity bound by routing), and no nested loop or
    cartesian appears anywhere."""
    e, cent = _frames(spark, sf_dir, 16)
    with _mode("blas"):
        plan = plan_text(assign.nearest_centroids(e, cent, k_hint=16))
    assert "FlatMapCoGroupsInPandas" in plan
    assert "CartesianProduct" not in plan
    assert _node_count(plan, "BroadcastNestedLoopJoin") == 0
    assert "BroadcastHashJoin" in plan


def test_blas_zero_norm_centroid_never_poisons_block(spark, sf_dir):
    """ADVICE r11: a zero-norm centroid scores NaN against every
    probe; before the mask, np.partition propagated that NaN into the
    per-probe kth threshold and the WHOLE assignment silently returned
    0 rows. Pin: with one zero-norm centroid appended, blas returns
    exactly the rows it returns without it — the bad centroid is never
    a candidate and never perturbs anyone's threshold."""
    e, cent = _frames(spark, sf_dir, 16)
    bad = spark.createDataFrame(
        [(999_999, [0.0] * 64)], "centroid_id long, ce array<float>"
    )
    with _mode("blas"):
        want = _rows(assign.nearest_centroids(e, cent, k_hint=16, n_best=2))
        got = _rows(
            assign.nearest_centroids(e, cent.unionByName(bad), k_hint=17, n_best=2)
        )
    assert len(want) > 0
    assert got == want


def test_blas_zero_norm_probe_emits_no_candidates(spark, sf_dir):
    """The zero-norm-probe contract (NaN scores emit no candidates)
    must survive the NaN mask: masking to -inf without the finiteness
    guard would make EVERY centroid a candidate for the bad probe."""
    e, cent = _frames(spark, sf_dir, 16)
    bad = spark.createDataFrame(
        [(888_888, [0.0] * 64)], "vec_id long, embedding array<float>"
    )
    with _mode("blas"):
        out = assign.nearest_centroids(
            e.unionByName(bad), cent, k_hint=16, n_best=1
        )
        assert out.where(F.col("vec_id") == 888_888).count() == 0


def test_blas_multi_chunk_matches_broadcast(spark, sf_dir, monkeypatch):
    """Force the WITHIN-group chunk loop to run many probe chunks
    (chunk budget shrunk to 64 score-doubles -> 1-row chunks at
    K=50): an off-by-one in the chunk slicing would silently drop
    probes, which the equivalence tests can't see because at their
    scales every group is a single chunk."""
    monkeypatch.setattr(assign, "_BLAS_CHUNK_DOUBLES", 64)
    e, cent = _frames(spark, sf_dir, 50)
    with _mode("broadcast"):
        want = _rows(assign.nearest_centroids(e, cent, k_hint=50, n_best=2))
    with _mode("blas"):
        got = _rows(assign.nearest_centroids(e, cent, k_hint=50, n_best=2))
    assert got == want
