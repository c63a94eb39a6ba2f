"""Registry-wide physical-plan audit: NO registered query may plan an
unbounded join (CartesianProduct / BroadcastNestedLoopJoin) unless it
is on the explicit allowlist below with a documented bound. This is
the repo's standing guard against the quiet way scale bugs arrive — a
predicate change or a Catalyst version bump silently degrading an
equi-join into a nested loop. Complements the per-query pins in
test_plans.py: those assert the plan a query SHOULD have, this one
asserts the plan shapes no query may EVER have.

Queries that eagerly materialize (localCheckpoint) return an opaque
``Scan ExistingRDD`` plan; those are REBUILT with localCheckpoint
stubbed to a no-op so their FULL logical plan is audited too — only
``coreset_kcenter`` (whose result is a driver-assembled k-row frame by
design) keeps a skip, with its round body pinned in test_plans.py.
"""

from __future__ import annotations

import pytest

from acuvate_spark.queries import REGISTRY
from tools.dump_plans import plan_text

# Queries allowed to contain a nested-loop/cartesian join because the
# streamed side is bounded by construction (broadcast of a tiny,
# documented-constant frame). Keep each entry justified.
ALLOWED_UNBOUNDED = {
    # <= 5 boxes broadcast; per-document-small at scale (docstring)
    "containment_join",
    # broadcast query set (vec_id % 100 == 0) against the corpus;
    # corpus stays partitioned — the theta predicate is `!=`, which is
    # the documented exact-baseline shape
    "ann_cosine_topk",
    # broadcast held-out query sample against the labeled corpus (the
    # ann_cosine_topk shape; docstring names ann_lsh_bucketed as the
    # candidate-join swap at scale)
    "knn_label_vote",
    # K=16 seed centroids / refined centroids broadcast over the
    # corpus — the IVF assign pass is definitionally a small cross
    "ann_ivf_flat",
    "ann_ivf_lloyd",
    # 1-row broadcast frames (corpus size N, quantization ranges,
    # sketch thresholds)
    "tfidf_top_terms",
    "embedding_quantize",
    "length_outlier_trim",
    # 1-row x 1-row cross assembling the (n_edges, n_triangles) scalar
    "triangle_count",
    # <= page_size rows cross a broadcast 1-row totalCount aggregate
    # (the scale-safe replacement for COUNT(*) OVER (), r03 verdict 1)
    "getdata_page",
    # 1-row cursor frame (page tail via top-10) broadcast over the
    # filtered scan; the page itself is a distributed top-k
    "getdata_keyset",
    # 1-row corpus-total frame broadcast over the unigram counts
    "unigram_logprob_score",
    # 1-row (n_docs, sum_dl) stats frame broadcast over the
    # |probes|-bounded tf frame
    "bm25_probe_ranking",
    # K = max(16, N/125) seed centroids: the assign auto mode
    # (operators/assign.py AUTO_SHUFFLE_MIN_K) only plans the
    # broadcast BNL at K <= 240 — the measured wall-clock crossover —
    # and swaps to the cogrouped-matmul (blas) form above it (the
    # two-level shuffled form past the 64k broadcast capacity), so
    # the BNL this allowlists is bounded by ROUTING, not by a fixed K
    # (at fixture scales K stays well under the crossover, hence the
    # BNL plans here; test_semdedup_large_k_plans_no_bnl pins the
    # other side)
    "semdedup_clusters",
    # |sources| x K sketch frame (20 x 64 here) joined against itself
    # under source_a < source_b — corpus-size-independent by design
    "source_overlap_kmv",
    # 1-row quantile-boundaries frame broadcast over the fact table
    "price_equidepth_bins",
}

_UNBOUNDED_MARKERS = ("CartesianProduct", "BroadcastNestedLoopJoin")


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_no_unbounded_join_in_plan(name, spark, sf_dir, monkeypatch):
    df = REGISTRY[name].fn(spark, sf_dir)
    plan = plan_text(df)
    if "Scan ExistingRDD" in plan and not any(m in plan for m in _UNBOUNDED_MARKERS):
        # materialized result: localCheckpoint hides the stages BEFORE
        # the checkpoint from this scan. Rebuild the query with the
        # checkpoint no-op'd so the FULL logical plan is audited (the
        # r05 SimHash/kcore double-evaluation fixes made this the
        # common shape; hand-pinning every materialized core in
        # test_plans.py does not scale with the registry).
        # patch the CONCRETE class — pyspark 4 defines localCheckpoint
        # on classic.DataFrame, which shadows a base-class patch
        from pyspark.sql.classic.dataframe import DataFrame

        monkeypatch.setattr(
            DataFrame, "localCheckpoint", lambda self, eager=True: self
        )
        if name == "coreset_kcenter":
            # its RESULT is a driver-assembled k-row frame by design
            # (each greedy round ends in a distributed argmax collect);
            # the distributed round body is pinned separately in
            # test_plans.py::test_kcenter_round_argmax_is_distributed_topk
            pytest.skip("driver-assembled k-row result; round plan pinned in test_plans.py")
        plan = plan_text(REGISTRY[name].fn(spark, sf_dir))
        assert "Scan ExistingRDD" not in plan, (
            f"{name} still materializes with localCheckpoint stubbed — "
            "audit cannot see its full plan"
        )
    if name in ALLOWED_UNBOUNDED:
        return  # documented-bounded; nothing to assert
    for marker in _UNBOUNDED_MARKERS:
        assert marker not in plan, (
            f"{name} plans a {marker}: an unbounded join reached the registry. "
            "Re-key it to an equi-join (grid cell / LSH band / block key) or "
            "add it to ALLOWED_UNBOUNDED with a documented bound."
        )


def test_semdedup_large_k_plans_no_bnl(spark, sf_dir, tmp_path, monkeypatch):
    """VERDICT r10 item 2: the semdedup_clusters allowlist entry is
    bounded by ROUTING (assign auto mode leaves the broadcast cross at
    the measured K = AUTO_SHUFFLE_MIN_K crossover — since r11 for the
    cogrouped-matmul blas form, the shuffled form past the 64k
    broadcast capacity), not by a fixed K — so pin the other side
    end-to-end: against a corpus whose DERIVED K = (n + nc) // 125
    exceeds the crossover, the full query must plan the blas assign
    (kernel node present, ZERO BroadcastNestedLoopJoins), never the
    K-row broadcast cross the allowlist permits at fixture scales."""
    import math

    from pyspark.sql import functions as F

    from acuvate_spark.operators.assign import AUTO_SHUFFLE_MIN_K

    raw = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base_n = raw.count()
    # K = (n + n/50) // 125 > crossover  =>  n > crossover * 125 / 1.02
    need = int(AUTO_SHUFFLE_MIN_K * 125 / 1.02) + 125
    reps = math.ceil(need / base_n)
    big = (
        raw.crossJoin(spark.range(reps).select(F.col("id").alias("__r")))
        .select(
            (F.col("vec_id") + F.col("__r") * 10_000_000).alias("vec_id"),
            *[c for c in raw.columns if c != "vec_id"],
        )
        .limit(need)
    )
    big.write.parquet(str(tmp_path / "embeddings.parquet"))

    # stub localCheckpoint so the assign stage is visible in the plan
    # (same trick as the registry-wide audit above)
    from pyspark.sql.classic.dataframe import DataFrame

    monkeypatch.setattr(DataFrame, "localCheckpoint", lambda self, eager=True: self)
    import re

    def bnl_count(plan):
        return len(re.findall(r"^\(\d+\) BroadcastNestedLoopJoin", plan, re.M))

    df = REGISTRY["semdedup_clusters"].fn(spark, str(tmp_path))
    plan = plan_text(df)
    assert "CartesianProduct" not in plan
    # auto routes K > crossover (and <= 64k capacity) to the blas
    # assign: the cogrouped kernel appears, and NO nested loop does —
    # assert the contrast by forcing broadcast (the K-row cross, once
    # per inlining of the cell subtree: both sides of the dup
    # self-join + the final left join = 3), so the pin can't pass on
    # the wrong shape
    assert bnl_count(plan) == 0, f"expected no BNL in blas shape, saw {bnl_count(plan)}"
    assert "FlatMapCoGroupsInPandas" in plan
    from acuvate_spark.operators import assign

    monkeypatch.setattr(assign, "AUTO_SHUFFLE_MIN_K", 1 << 62)
    forced = plan_text(REGISTRY["semdedup_clusters"].fn(spark, str(tmp_path)))
    assert bnl_count(forced) == 3  # the K-row cross, once per inlining
