"""Semantic property tests for the round-4 training-pipeline
operators — invariants the value-hash oracle implies but doesn't
STATE (the oracle would agree with a shared bug; these pin the
intended semantics independently).
"""

from __future__ import annotations

from acuvate_spark.queries import REGISTRY


def test_token_budget_mix_selects_budget_bounded_prefix(spark, sf_dir):
    from acuvate_spark.queries.training import _TOKEN_BUDGETS

    rows = REGISTRY["token_budget_mix"].fn(spark, sf_dir).collect()
    by_source: dict[str, list] = {}
    for r in rows:
        by_source.setdefault(r.source, []).append(r)
    for source, rs in by_source.items():
        budget = _TOKEN_BUDGETS[source]
        # selection rule is exactly "tokens before me under budget"
        for r in rs:
            assert r.selected == (r.cum_before < budget)
        sel = [r for r in rs if r.selected]
        assert sel, f"{source} selected nothing"
        total = sum(r.n_tokens for r in sel)
        # overshoot is bounded by one document
        assert total < budget + max(r.n_tokens for r in sel)


def test_span_removal_bounds_and_internal_consistency(spark, sf_dir):
    import hashlib

    rows = REGISTRY["dedup_span_removal"].fn(spark, sf_dir).collect()
    empty_md5 = hashlib.md5(b"").hexdigest()
    clones = [r for r in rows if r.doc_id >= 100000]
    assert clones, "planted clones missing from span-removal output"
    for r in rows:
        assert 0 <= r.n_kept <= r.n_words
        # empty reassembly <=> md5('')
        assert (r.n_kept == 0) == (r.clean_md5 == empty_md5)
    # clone docs duplicate an entire original => every span is non-first
    assert all(r.n_kept == 0 for r in clones)


def test_mlm_span_mask_span_accounting(spark, sf_dir):
    rows = REGISTRY["mlm_span_mask"].fn(spark, sf_dir).collect()
    masked_any = 0
    for r in rows:
        assert 0 <= r.n_masked <= r.n_words
        assert 0 <= r.n_spans <= r.n_masked  # spans merge >=1 position each
        assert (r.n_spans == 0) == (r.n_masked == 0)
        masked_any += r.n_masked
    assert masked_any > 0


def test_coreset_kcenter_distances_monotone_nonincreasing(spark, sf_dir):
    """Greedy max-min selection: each round's selection distance can
    never exceed the previous round's (the selected point was in the
    previous round's candidate pool)."""
    rows = sorted(
        REGISTRY["coreset_kcenter"].fn(spark, sf_dir).collect(),
        key=lambda r: r.sel_rank,
    )
    assert [r.sel_rank for r in rows] == list(range(1, len(rows) + 1))
    dists = [r.dist_micro for r in rows[1:]]  # rank 1 is the seed (0)
    assert all(a >= b for a, b in zip(dists, dists[1:]))
    assert len({r.vec_id for r in rows}) == len(rows), "centers must be distinct"


def test_knn_label_vote_votes_bounded_by_k(spark, sf_dir):
    from acuvate_spark.queries.similarity import _KNN_K

    rows = REGISTRY["knn_label_vote"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 1 <= r.n_votes <= _KNN_K
        assert r.correct == (r.pred_label == r.true_label)


def _simhash_reference(doc_tokens: dict[int, list[str]]) -> dict[int, str]:
    """Pure-Python SimHash reference: the naive 64 vote sums the
    packed-lane aggregate must reproduce bit for bit."""
    import hashlib

    out = {}
    for doc, tokens in doc_tokens.items():
        votes = [0] * 64
        for t in tokens:
            d0 = hashlib.md5(f"s0|{t}".encode()).hexdigest()
            d1 = hashlib.md5(f"s1|{t}".encode()).hexdigest()
            hexcat = d0 + d1
            for i in range(64):
                votes[i] += 1 if hexcat[i] >= "8" else -1
        out[doc] = "".join("1" if v > 0 else "0" for v in votes)
    return out


def test_simhash_packed_lanes_match_naive_reference(spark):
    """The r05 packed-lane vote aggregate (16 sums of 4x16-bit lanes,
    spread-multiply bit math) against the naive per-bit reference —
    including a document LONGER than one 16384-token chunk, so the
    two-level (doc, chunk) fold and its lane-overflow guarantee are
    exercised, and a single-token doc (all-lane edge)."""
    import random as _r

    from acuvate_spark.operators.dedup import _CHUNK_TOKENS, simhash_signature

    rng = _r.Random(7)
    vocab = [f"w{i}" for i in range(50)]
    docs = {
        1: [rng.choice(vocab) for _ in range(_CHUNK_TOKENS + 500)],  # crosses chunks
        2: [rng.choice(vocab) for _ in range(37)],
        3: ["solo"],
        4: [rng.choice(vocab) for _ in range(256)],
    }
    rows = [
        (doc, pos, tok)
        for doc, toks in docs.items()
        for pos, tok in enumerate(toks)
    ]
    df = spark.createDataFrame(rows, "doc_id long, pos long, token string")
    got = {
        r["doc_id"]: r["sig"]
        for r in simhash_signature(df, "doc_id", "token", pos_col="pos").collect()
    }
    assert got == _simhash_reference(docs)


def test_cc_matches_union_find_on_random_graphs(spark):
    """Min-label propagation vs a Python union-find reference on random
    graphs — component = min reachable id for any topology."""
    import random as _r

    from acuvate_spark.operators.graph import connected_components

    def union_find(edges):
        parent: dict[int, int] = {}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)  # root = component min
        return {(n, find(n)) for n in parent}

    rng = _r.Random(11)
    for trial in range(3):
        n = 40
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(rng.randrange(10, 45))
        ]
        edges = [e for e in edges if e[0] != e[1]] or [(0, 1)]
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {
            (r["node"], r["component"])
            for r in connected_components(df, max_iter=60).collect()
        }
        assert got == union_find(edges), f"trial {trial}: labels vs union-find disagree"


def test_cc_null_endpoints_propagate_like_distinct_seed(spark):
    """r15 regression pin: the self-loop fold's `a != b` filter dropped
    edges with a NULL endpoint (NULL comparisons filter), losing the
    NULL node and its neighbor propagation — caught by the null-parity
    ring. NULL must behave exactly as the pre-r15 distinct-seeded form:
    it is a node, its component is the min component among its non-NULL
    neighbors, and a node whose only edge partner is NULL keeps its own
    id."""
    from acuvate_spark.operators.graph import connected_components

    edges = [(None, 7), (7, 3), (9, None), (5, 5)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        (r["node"], r["component"])
        for r in connected_components(df).collect()
    }
    assert got == {(3, 3), (7, 3), (None, 3), (9, 9), (5, 5)}


def test_cc_prepartition_gate_result_invariant(spark):
    """r14: connected_components gains a scale-adaptive pre-partition
    of the checkpointed edge set (shuffle-free per-round joins once the
    label frame outgrows broadcast). Force BOTH gate conditions at
    fixture scale — AQE coalescing off so the materialized edge set
    keeps >= 8 partitions, broadcast threshold -1 so the label-bytes
    test always fires — and pin that the pre-partitioned path emits
    EXACTLY the labels of the default (gate-off) path."""
    import random as _r

    from acuvate_spark.operators.graph import connected_components

    rng = _r.Random(23)
    edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(80)]
    edges = [e for e in edges if e[0] != e[1]] or [(0, 1)]
    df = spark.createDataFrame(edges, "src long, dst long")
    base = {(r["node"], r["component"]) for r in connected_components(df).collect()}
    coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    bcast_key = "spark.sql.autoBroadcastJoinThreshold"
    part_key = "spark.sql.shuffle.partitions"
    old_coalesce, old_bcast = spark.conf.get(coalesce_key), spark.conf.get(bcast_key)
    old_parts = spark.conf.get(part_key)
    gate_probe: list = []
    try:
        spark.conf.set(coalesce_key, "false")
        spark.conf.set(bcast_key, "-1")
        # ADVICE r14: conftest's SPARK_GRAFT_CPUS=8 default sits exactly
        # ON the >= 8 partition boundary of the gate's cheap pre-probe;
        # a lower env override would silently skip the gated path while
        # the test still passed. Pin the shuffle width AND assert via
        # the gate_out hook that the pre-partitioned path actually ran.
        spark.conf.set(part_key, "8")
        gated = {
            (r["node"], r["component"])
            for r in connected_components(df, gate_out=gate_probe).collect()
        }
    finally:
        spark.conf.set(coalesce_key, old_coalesce)
        spark.conf.set(bcast_key, old_bcast)
        spark.conf.set(part_key, old_parts)
    assert gate_probe == [True], "pre-partition gate did not fire under forced conditions"
    assert gated == base


def test_simhash_exact_past_lane_limit(spark):
    """ADVICE r05: the old single-pass lanes were only exact to 65,535
    tokens per document — past that they silently wrapped (or
    ANSI-overflowed mid-aggregate). The signature now chunks on the
    token position, so a document LONGER than the old limit, spread
    over several partitions, must match the naive reference bit for
    bit — alongside a short document through the same path."""
    from pyspark.sql import functions as F

    from acuvate_spark.operators.dedup import simhash_signature

    short = {5: [f"w{i % 40}" for i in range(120)]}
    rows = [(doc, pos, tok) for doc, toks in short.items() for pos, tok in enumerate(toks)]
    df = spark.createDataFrame(rows, "doc_id long, pos long, token string")
    got = {
        r["doc_id"]: r["sig"]
        for r in simhash_signature(df, "doc_id", "token", pos_col="pos").collect()
    }
    assert got == _simhash_reference(short)

    n_long = 0x10000 + 7
    long_df = spark.range(n_long).repartition(8).select(
        F.lit(9).alias("doc_id"),
        F.col("id").alias("pos"),
        (F.col("id") % 50).cast("string").alias("token"),
    )
    got_long = {
        r["doc_id"]: r["sig"]
        for r in simhash_signature(long_df, "doc_id", "token", pos_col="pos").collect()
    }
    expected_long = _simhash_reference(
        {9: [str(i % 50) for i in range(n_long)]}
    )
    assert got_long == expected_long
