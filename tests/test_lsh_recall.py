"""Independent recall check for the banded hyperplane-LSH near-dup
path (ADVICE r03): the driver oracle for ``dedup_embedding_cosine``
renders the SAME banding scheme in DuckDB, so it proves engine parity
but cannot catch a banding scheme that systematically misses true
cosine>=0.95 pairs. This test compares the LSH result against the
exact brute-force all-pairs set at fixture scale (1000 vectors — fine
locally, never the corpus path).
"""

from __future__ import annotations

import numpy as np

from acuvate_spark.queries import REGISTRY


def _exact_pairs(spark, sf_dir, threshold=0.95):
    """Brute-force cosine>=threshold pairs over the same corpus the
    query builds (embeddings + cloned vec_id%50==0 rows), computed in
    numpy from the raw parquet — fully independent of the Spark plan
    AND of the hyperplane scheme."""
    pdf = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    ).toPandas()
    ids = pdf.vec_id.to_numpy()
    mat = np.array(pdf.embedding.tolist(), dtype=np.float64)
    clone_mask = ids % 50 == 0
    ids = np.concatenate([ids, ids[clone_mask] + 100000])
    mat = np.vstack([mat, mat[clone_mask]])
    normed = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    cos = normed @ normed.T
    ia, ib = np.where(np.round(cos, 4) >= threshold)
    return {
        (int(min(ids[a], ids[b])), int(max(ids[a], ids[b])))
        for a, b in zip(ia, ib)
        if ids[a] != ids[b]
    }


def test_embedding_lsh_recall_vs_exact_all_pairs(spark, sf_dir):
    exact = _exact_pairs(spark, sf_dir)
    got = {
        (int(r.vec_a), int(r.vec_b))
        for r in REGISTRY["dedup_embedding_cosine"].fn(spark, sf_dir).collect()
    }
    # precision is structural: every reported pair was exact-verified
    assert got <= exact, f"false positives: {sorted(got - exact)[:5]}"
    # exact clones agree on every sign bit -> every band collides:
    # the clone pairs must ALL be recovered, no probabilistic slack
    clones = {(a, b) for a, b in exact if b == a + 100000}
    assert clones <= got, f"missed exact clones: {sorted(clones - got)[:5]}"
    # overall recall: the 8x8 banding gives ~98.8% per-pair collision
    # probability at cosine 0.95; demand >= 0.9 on the fixture so a
    # systematically bad scheme (e.g. degenerate planes) fails loudly
    assert len(exact) > 0
    recall = len(got & exact) / len(exact)
    assert recall >= 0.9, f"LSH recall {recall:.3f} < 0.9 ({len(exact)} true pairs)"


def test_emb_lsh_adaptive_config_math():
    """The adaptive banding config (r09 — fixed 8-bit band keys made
    the candidate term n^2/256, measured 65.8x at the 50x octave):
    floor below the threshold; beyond it, bits tracks occupancy and
    bands holds the recall bound; planes stay a deterministic prefix
    of the floor's Gaussian stream."""
    import math

    from acuvate_spark.queries.dedup import (
        _EMB_ADAPTIVE_MIN_N,
        _EMB_BANDS,
        _EMB_BITS,
        _EMB_PLANES,
        _emb_lsh_config,
    )

    assert _emb_lsh_config(0) == (_EMB_BITS, _EMB_BANDS, _EMB_PLANES)
    assert _emb_lsh_config(_EMB_ADAPTIVE_MIN_N - 1) == (_EMB_BITS, _EMB_BANDS, _EMB_PLANES)

    p = 1.0 - math.acos(0.95) / math.pi
    for n in (300_000, 1_000_000, 100_000_000):
        bits, bands, planes = _emb_lsh_config(n)
        # occupancy: buckets-per-band covers n at <= 32 rows each
        assert n / 2**bits <= 32
        assert 2 ** (bits - 1) < max(n / 32, 2**_EMB_BITS) or bits == _EMB_BITS
        # recall bound at the design point
        assert 1 - (1 - p**bits) ** bands >= 0.99
        assert len(planes) == bits * bands
        # deterministic prefix: the floor planes open the stream
        assert planes[: len(_EMB_PLANES)] == _EMB_PLANES
    # monotone: more corpus never shrinks the key
    assert _emb_lsh_config(10_000_000)[0] >= _emb_lsh_config(1_000_000)[0]


def test_emb_lsh_adaptive_config_recall_on_fixture(spark, sf_dir):
    """Drive the ADAPTIVE config (as chosen for a 1M-vector corpus) on
    the fixture corpus and check recall/precision against exact
    all-pairs — the empirical check that growing (bits, bands)
    preserves the pair set quality, which the config math alone only
    promises at the design point."""
    from acuvate_spark.queries.dedup import _emb_lsh_config, _emb_near_dup_pairs
    from acuvate_spark.tables import load_table, repartition_for_compute
    from pyspark.sql import functions as F

    bits, bands, planes = _emb_lsh_config(1_000_000)
    assert (bits, bands) != (8, 8)
    e = repartition_for_compute(
        load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    )
    clones = e.where(F.col("vec_id") % 50 == 0).withColumn(
        "vec_id", F.col("vec_id") + F.lit(100000)
    )
    emb = e.unionByName(clones)
    got = {
        (int(r.vec_a), int(r.vec_b))
        for r in _emb_near_dup_pairs(emb, bits, bands, planes).collect()
    }
    exact = _exact_pairs(spark, sf_dir)
    assert got <= exact, f"false positives: {sorted(got - exact)[:5]}"
    clones_pairs = {(a, b) for a, b in exact if b == a + 100000}
    assert clones_pairs <= got, f"missed exact clones: {sorted(clones_pairs - got)[:5]}"
    recall = len(got & exact) / len(exact)
    assert recall >= 0.9, f"adaptive-config recall {recall:.3f} < 0.9"


def test_minhash_lsh_recall_vs_exact_jaccard(spark, sf_dir):
    """Same blind spot, MinHash path: the dedup_minhash_lsh oracle
    replays the identical md5 minhash + banding in DuckDB, so engine
    parity cannot catch a banding scheme that misses true
    Jaccard>=0.7 pairs. Ground truth here is exact set Jaccard over
    the 3-word shingle sets computed in pure Python."""
    import itertools
    import re

    pdf = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .toPandas()
    )
    shingles = {}
    for doc_id, text in zip(pdf.doc_id, pdf.text):
        w = [x for x in re.split(r"\s+", text.strip()) if x != ""]
        s = {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}
        shingles[int(doc_id)] = s
        if doc_id % 50 == 0:
            shingles[int(doc_id) + 100000] = s
    exact = set()
    for a, b in itertools.combinations(sorted(shingles), 2):
        sa, sb = shingles[a], shingles[b]
        if not sa and not sb:
            continue
        inter = len(sa & sb)
        if inter and inter / (len(sa) + len(sb) - inter) >= 0.7:
            exact.add((a, b))
    got = {
        (int(r.doc_a), int(r.doc_b))
        for r in REGISTRY["dedup_minhash_lsh"].fn(spark, sf_dir).collect()
    }
    # precision is structural (candidates are exact-verified)
    assert got <= exact, f"false positives: {sorted(got - exact)[:5]}"
    # identical shingle sets -> identical signatures -> every band
    # collides: clone pairs must all be recovered
    clones = {(a, b) for a, b in exact if b == a + 100000}
    assert clones and clones <= got, f"missed clones: {sorted(clones - got)[:5]}"
    # 4 bands of 2 at J=0.7 give ~93% per-pair collision probability;
    # demand >= 0.85 so degenerate banding fails loudly
    recall = len(got & exact) / len(exact)
    assert recall >= 0.85, f"MinHash LSH recall {recall:.3f} < 0.85 ({len(exact)} true pairs)"


# ---------------------------------------------------------------- size gate


def test_corpus_gate_pays_count_when_size_unknown(spark, sf_dir, tmp_path):
    """An unreadable footer must fall through to the count job — the
    gate is an optimization, not a correctness gate, so 'size unknown'
    can never be treated as 'small' (that would reinstate the fixed-
    bucket-space cliff on exactly the object stores the adaptive
    banding targets). Exact footer row counts decide when readable
    (VERDICT r10 item 1); anything else pays the count job."""
    from acuvate_spark.queries.dedup import _corpus_n_gated
    from acuvate_spark.tables import load_table

    raw = load_table(spark, sf_dir, "embeddings").select("vec_id")
    calls = []

    def count(df):
        calls.append(1)
        return 12345

    # unknown footers (bad path) -> count job runs
    assert _corpus_n_gated(raw, sf_dir, "no_such_table", count, 1) == 12345
    assert calls == [1]
    # footer rows provably below the threshold -> gate short-circuits,
    # no count job
    calls.clear()
    assert _corpus_n_gated(raw, sf_dir, "embeddings", count, 1 << 60) == 0
    assert calls == []
    # footer rows past the threshold -> count job runs
    calls.clear()
    assert _corpus_n_gated(raw, sf_dir, "embeddings", count, 1) == 12345
    assert calls == [1]
    # footer-unreadable (no parquet footers under the path) -> the
    # count job runs at either threshold
    fake = tmp_path / "fake.parquet"
    fake.mkdir()
    (fake / "blob.bin").write_bytes(b"x" * 1024)
    calls.clear()
    assert _corpus_n_gated(raw, str(tmp_path), "fake", count, 1 << 60) == 12345
    assert _corpus_n_gated(raw, str(tmp_path), "fake", count, 1) == 12345
    assert calls == [1, 1]


def test_short_doc_corpus_crosses_threshold_under_byte_gate(spark, tmp_path):
    """VERDICT r10 item 1 / the last silent-floor path: a corpus of
    SHORT rows can cross the n = 131,072 adaptive threshold while its
    on-disk bytes stay under any plausible byte gate (a 16 MiB gate
    assumes ~115 B/row). The footer-row probe must catch it: the gate
    pays the count job and returns the true corpus size, engaging the
    adaptive banding a byte heuristic would have silently skipped."""
    from pyspark.sql import functions as F

    from acuvate_spark.operators.dedup import (
        _SIMHASH_ADAPTIVE_MIN_N,
        simhash_lsh_config,
    )
    from acuvate_spark.queries.dedup import _doc_corpus_n, _footer_rows

    n = _SIMHASH_ADAPTIVE_MIN_N  # 131,072 rows, each a handful of bytes
    spark.range(n).select(F.col("id").alias("doc_id")).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    assert _footer_rows(spark, f"{tmp_path}/documents.parquet") == n

    got = _doc_corpus_n(spark, str(tmp_path))
    expected = n + len([i for i in range(n) if i % 50 == 0])
    assert got == expected  # exact corpus, NOT the gate's 0
    assert got >= _SIMHASH_ADAPTIVE_MIN_N
    # and the config the corpus size drives is the adaptive one
    floor = simhash_lsh_config(0)
    assert simhash_lsh_config(got) != floor


def test_emb_corpus_n_file_uri_gates_like_local(spark, sf_dir):
    """End-to-end: the embedding gate returns the same decision for a
    scheme-qualified URI as for the plain path (the r09 bug returned 0
    for ANY non-os-visible path shape)."""
    from acuvate_spark.queries.dedup import _emb_corpus_n
    from acuvate_spark.tables import load_table

    raw = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    assert _emb_corpus_n(raw, "file:" + sf_dir) == _emb_corpus_n(raw, sf_dir)


# ------------------------------------------------- simhash block-combination


def test_simhash_lsh_config_math():
    """The adaptive block-combination config (r10 — VERDICT r09 flagged
    the fixed 4x16 band space as the same fixed-bucket-occupancy class
    the embedding fix closed): floor below the threshold; beyond it the
    smallest block count whose minimum key width holds per-table
    occupancy <= the target; blocks always partition the 64 bits."""
    import math
    from itertools import combinations

    from acuvate_spark.operators.dedup import (
        _SIMHASH_ADAPTIVE_MIN_N,
        _SIMHASH_OCC_TARGET,
        simhash_lsh_config,
    )

    # floor: the committed 4x16 single-block bands the oracle renders
    for n in (0, 510, 51_000, 102_000, _SIMHASH_ADAPTIVE_MIN_N - 1):
        blocks, combos = simhash_lsh_config(n)
        assert blocks == [(0, 16), (16, 16), (32, 16), (48, 16)]
        assert combos == [(0,), (1,), (2,), (3,)]

    prev_key = 0
    for n in (255_000, 510_000, 10_000_000, 10**9, 10**11):
        blocks, combos = simhash_lsh_config(n)
        b = len(blocks)
        widths = [w for _, w in blocks]
        # blocks tile the signature exactly
        assert sum(widths) == 64
        assert [s for s, _ in blocks] == [sum(widths[:i]) for i in range(b)]
        # one table per (b-3)-subset
        assert combos == list(combinations(range(b), b - 3))
        # occupancy bound: the SMALLEST key still covers n at <= target
        min_key = sum(sorted(widths)[: b - 3])
        assert n / 2**min_key <= _SIMHASH_OCC_TARGET or b == 8
        # monotone: more corpus never shrinks the key
        assert min_key >= prev_key
        prev_key = min_key


def test_simhash_config_pigeonhole_exactness():
    """Executable proof of the exact-recall property: however 3 bit
    errors land in blocks, some table's key avoids every error block —
    so a hamming<=3 pair ALWAYS collides. This is what lets the
    adaptive swap be result-invariant rather than recall-bounded."""
    from itertools import combinations

    from acuvate_spark.operators.dedup import simhash_lsh_config

    for n in (0, 255_000, 10**9, 10**11, 1 << 42):
        blocks, combos = simhash_lsh_config(n)
        b = len(blocks)
        for error_blocks in combinations(range(b), 3):
            assert any(
                not (set(c) & set(error_blocks)) for c in combos
            ), f"b={b}: no table avoids error blocks {error_blocks}"


def test_simhash_adaptive_pairs_identical_to_floor(spark, sf_dir):
    """Drive the ADAPTIVE configs on the fixture corpus: because
    block-combination recall is exact by pigeonhole, the pair set must
    be IDENTICAL to the floor's — no probabilistic slack at all."""
    from pyspark.sql import functions as F

    from acuvate_spark.functions import textual
    from acuvate_spark.operators import dedup as dops
    from acuvate_spark.queries.dedup import _docs_plus_clones

    docs = _docs_plus_clones(spark, sf_dir)
    tokens = docs.select(
        "doc_id",
        F.posexplode(textual.words(F.lower(F.col("text")))).alias("pos", "token"),
    ).where(F.col("token") != "")
    sig = dops.simhash_signature(tokens, "doc_id", "token", pos_col="pos")

    def pairs(corpus_n):
        return {
            (r.key_a, r.key_b, r.hamming)
            for r in dops.simhash_near_pairs(
                sig, "doc_id", max_hamming=3, corpus_n=corpus_n
            ).collect()
        }

    floor = pairs(0)
    assert len(floor) > 0
    assert pairs(300_000) == floor  # b=5, 10 tables
    assert pairs(1 << 42) == floor  # b=8 cap, 56 tables


def test_doc_corpus_n_gate(spark, sf_dir):
    """The simhash count job is gated exactly like the embedding one:
    fixture scales skip it (return 0 -> floor config), and the footer
    probe reads ``file:`` URIs as well as plain paths."""
    from acuvate_spark.queries.dedup import _doc_corpus_n

    assert _doc_corpus_n(spark, sf_dir) == 0
    assert _doc_corpus_n(spark, "file:" + sf_dir) == 0


def test_emb_hot_bucket_path_is_result_invariant(spark, sf_dir):
    """The hot-bucket blocked-BLAS candidate path must be invisible in
    the RESULT: forcing every bucket hot (threshold 0) and forcing
    every bucket cold (threshold n) must produce the identical pair
    set on the same corpus — the r11 pin that the 0.9499 prune bound
    sits strictly under the exact verify's keep bound, and that the
    block-pair decomposition enumerates every unordered pair exactly
    once (a lost block pair would silently drop recall only on the
    concentrated corpora the path exists for)."""
    from pyspark.sql import functions as F

    from acuvate_spark.queries.dedup import (
        _EMB_BANDS,
        _EMB_BITS,
        _EMB_PLANES,
        _emb_near_dup_pairs,
    )
    from acuvate_spark.tables import load_table, repartition_for_compute

    e = repartition_for_compute(
        load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    )
    clones = e.where(F.col("vec_id") % 50 == 0).withColumn(
        "vec_id", F.col("vec_id") + F.lit(100000)
    )
    emb = e.unionByName(clones)

    def pairs(hot_min):
        return {
            (int(r.vec_a), int(r.vec_b), float(r.cos_sim))
            for r in _emb_near_dup_pairs(
                emb, _EMB_BITS, _EMB_BANDS, _EMB_PLANES, hot_bucket_min=hot_min
            ).collect()
        }

    all_hot = pairs(0)
    all_cold = pairs(10**9)
    assert all_hot == all_cold, (
        f"hot-only {len(all_hot)} pairs != cold-only {len(all_cold)}; "
        f"diff={sorted(all_hot ^ all_cold)[:5]}"
    )
    assert all_cold, "fixture produced no pairs — the invariance check is vacuous"


def test_emb_hot_bucket_path_blocks_cover_all_pairs(spark):
    """Block decomposition unit check at a size that forces MULTIPLE
    blocks in one bucket: 60 vectors in a tight cone (every pair
    verifies), block_rows=16 -> 4 blocks, 10 block-pair groups. Every
    C(60,2) pair must come back exactly once."""
    from pyspark.sql import functions as F

    from acuvate_spark.operators.dedup import hot_bucket_cosine_candidates

    n = 60
    base = [1.0] + [0.0] * 63
    rows = [
        (i, [1.0] + [0.0001 * ((i * 7 + j) % 5)] + [0.0] * 62)
        for i in range(n)
        for j in (0,)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    bands_df = emb.select("vec_id", F.lit(0).alias("band"), F.lit("k").alias("bkey"))
    hot_keys = spark.createDataFrame(
        [(0, "k", n)], "band int, bkey string, __bc long"
    )
    got = {
        (r.vec_a, r.vec_b)
        for r in hot_bucket_cosine_candidates(
            bands_df, hot_keys, emb, 0.9499, block_rows=16
        ).collect()
    }
    want = {(a, b) for a in range(n) for b in range(a + 1, n)}
    assert got == want, (
        f"{len(want - got)} missing, {len(got - want)} extra; "
        f"missing sample {sorted(want - got)[:5]}"
    )


# ---------------------------------------------------------------------------
# r14 (VERDICT r13 item 6): boundary-exact equality across the adaptive
# gates. The config steps at n = 65,536 (embedding) and 131,072
# (simhash) were exercised only by the 100x sweeps; these tests force
# the REGISTRY QUERIES themselves onto the adaptive side at fixture
# scale (monkeypatching the gate constants, so the count job, the
# config function, and the full downstream construction all take the
# adaptive branch end-to-end) and assert the result set equals the
# floor run on the planted-clone corpus.
# ---------------------------------------------------------------------------


def _query_rows(spark, sf_dir, name):
    from acuvate_spark.queries import REGISTRY

    out = sorted(tuple(r) for r in REGISTRY[name].fn(spark, sf_dir).collect())
    spark.catalog.clearCache()
    return out


def test_dedup_embedding_cosine_equal_across_adaptive_gate(
    spark, sf_dir, monkeypatch
):
    """Both sides of the 65,536-row embedding gate on one corpus: the
    floor run (committed constants) and a forced-adaptive run (gate at
    1 row, occupancy target at 1 so bits/bands genuinely re-derive)
    must produce the IDENTICAL pair set — planted exact clones collide
    in every band under any config, and the fixture's verify step
    keeps only true near-dups, so a divergence here means the adaptive
    construction (not recall slack) broke."""
    import acuvate_spark.queries.dedup as qd

    floor = _query_rows(spark, sf_dir, "dedup_embedding_cosine")
    assert floor  # planted clones exist at every fixture scale
    monkeypatch.setattr(qd, "_EMB_ADAPTIVE_MIN_N", 1)
    monkeypatch.setattr(qd, "_EMB_BUCKET_TARGET", 1)
    # the patched gate must actually flip the construction
    bits, bands, _ = qd._emb_lsh_config(2_000)
    assert (bits, bands) != (qd._EMB_BITS, qd._EMB_BANDS)
    assert _query_rows(spark, sf_dir, "dedup_embedding_cosine") == floor


def test_dedup_simhash_equal_across_adaptive_gate(spark, sf_dir, monkeypatch):
    """Both sides of the 131,072-doc simhash gate on one corpus: the
    block-combination scheme's recall is exact by pigeonhole, so the
    forced-adaptive run must reproduce the floor's result set row for
    row — no probabilistic slack tolerated."""
    import acuvate_spark.operators.dedup as dops

    floor = _query_rows(spark, sf_dir, "dedup_simhash")
    assert floor
    monkeypatch.setattr(dops, "_SIMHASH_ADAPTIVE_MIN_N", 1)
    # at fixture n the floor's 16-bit key already meets the occupancy
    # bound, so shrink the target too — the need_bits math then demands
    # a wider key and the block set genuinely re-derives
    monkeypatch.setattr(dops, "_SIMHASH_OCC_TARGET", 2**-12)
    blocks, combos = dops.simhash_lsh_config(2_000)
    assert len(combos) > 4  # adaptive: C(b, k) tables, not the 4 bands
    assert _query_rows(spark, sf_dir, "dedup_simhash") == floor
