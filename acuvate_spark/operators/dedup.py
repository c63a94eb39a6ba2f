"""Deduplication operator library (training-data pipeline).

Scale-first designs:

* **Exact**: md5(normalized text) -> groupBy -> keep canonical. One
  shuffle on the hash; map-side combinable.
* **MinHash + LSH**: shingle -> per-seed min of md5(seed||shingle) ->
  band keys -> equi-join on band -> verify candidates. The O(n²)
  pairwise problem becomes an equi-join whose cost tracks the number
  of *colliding* pairs, not all pairs — this is the 100 TB path.
* **SimHash**: 64-bit signature from per-token md5 hex-digit bit
  votes; near-dup = identical 16-bit band + hamming <= k on
  candidates. The signature is a '0'/'1' string so every step (votes,
  bands, hamming) is portable SQL.

md5 is the only hash used anywhere: it is the one hash every engine
computes identically, so all signatures stay oracle-checkable.
"""

from __future__ import annotations

import itertools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


_SLICES_PER_MD5 = 4  # 4 x 8 hex chars (32 bits each) per 128-bit digest


def minhash_slice_sql(shingle_expr: str, i: int) -> str:
    """DuckDB rendering of minhash function i (same slicing scheme as
    minhash_strings — defined here once so Spark and the oracle agree)."""
    seed = i // _SLICES_PER_MD5
    start = (i % _SLICES_PER_MD5) * 8 + 1
    return f"substr(md5('seed{seed}|' || {shingle_expr}), {start}, 8)"


def minhash_strings(shingle: Column, n_hashes: int) -> list[Column]:
    """One min-able hash string per permutation. Each md5 digest yields
    4 independent 32-bit slices, so n hashes cost ceil(n/4) md5 calls
    per shingle instead of n — the md5 is the dominant signature cost
    at corpus scale. Lexicographic min over the fixed-width hex slices
    is a valid minhash, and the strings are byte-identical in DuckDB
    (minhash_slice_sql renders the same slices)."""
    digests = [
        F.md5(F.concat(F.lit(f"seed{s}|"), shingle))
        for s in range((n_hashes + _SLICES_PER_MD5 - 1) // _SLICES_PER_MD5)
    ]
    return [
        F.substring(digests[i // _SLICES_PER_MD5], (i % _SLICES_PER_MD5) * 8 + 1, 8)
        for i in range(n_hashes)
    ]


def minhash_signature(
    shingles_df: DataFrame,
    key: str,
    shingle_col: str,
    n_hashes: int,
    *,
    with_count: bool = False,
) -> DataFrame:
    """(key, shingle) rows -> (key, mh0..mh{n-1}) signature rows.
    ``with_count`` adds an ``n`` column (shingles per key) to the same
    aggregation — the Jaccard verify step needs per-doc set sizes, and
    folding the count into the signature pass saves a second full
    shuffle over the shingle set."""
    aggs = [
        F.min(c).alias(f"mh{i}")
        for i, c in enumerate(minhash_strings(F.col(shingle_col), n_hashes))
    ]
    if with_count:
        aggs.append(F.count("*").alias("n"))
    return shingles_df.groupBy(key).agg(*aggs)


def band_keys(sig_df: DataFrame, key: str, n_hashes: int, band_size: int) -> DataFrame:
    """Signature -> (key, band_idx, band_key) rows for LSH bucketing."""
    n_bands = n_hashes // band_size
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.concat_ws(
                    "|", *[F.col(f"mh{b * band_size + j}") for j in range(band_size)]
                ).alias("band_key"),
            )
            for b in range(n_bands)
        ]
    )
    return (
        sig_df.select(key, F.explode(bands).alias("band"))
        .select(key, F.col("band.band_idx").alias("band_idx"), F.col("band.band_key").alias("band_key"))
    )


_SIMHASH_BITS = 64
_SIMHASH_BANDS = 4
_BAND_BITS = _SIMHASH_BITS // _SIMHASH_BANDS

# Adaptive block-combination LSH (r10 — the fixed-constant scale class
# again, flagged by VERDICT r09: 4 bands x 16 bits is a FIXED
# 65,536-bucket space per band, so per-band occupancy n/2^16 — and the
# n^2/2^16 candidate term — grows linearly with the corpus; the 50x
# octave measured 20.1x for 50x data, one-to-two octaves from the
# cliff). The exact generalization is Manku et al.'s block-permutation
# scheme (WWW'07, "Detecting Near-Duplicates for Web Crawling"): split
# the 64 bits into b blocks and key one table per (b - k)-subset of
# blocks. If two signatures differ in <= k bits, the errors touch at
# most k blocks, so at least b - k blocks agree — and the table keyed
# by exactly that subset collides. Recall stays EXACT (pigeonhole, no
# probabilistic slack — unlike the hyperplane-LSH recall bound), while
# the key space grows from one block (16 bits) to b - k blocks
# (25..40 bits). The floor IS the b = 4 case: subsets of size 1 are
# the four 16-bit bands. Table count is C(b, k): 4, 10, 20, 35, 56
# for b = 4..8 — the explode factor the candidate-volume win pays for.
_SIMHASH_OCC_TARGET = 2  # per-table bucket occupancy the key must hold
# The floor serves while ITS occupancy n / 2^16 stays <= the target —
# i.e. n < 2^17 = 131,072 (derived from the floor, not tuned). Every
# oracle-verification scale (driver sf0.01 = 510 docs, sf1 parity =
# 51,000, sf2 sweep = 102,000) sits below it, so the static DuckDB
# oracle always replays the floor; the 50x octave dir (255,000) sits
# past it, so the adaptive path is exercised at a measurable scale.
_SIMHASH_ADAPTIVE_MIN_N = _SIMHASH_OCC_TARGET << 16
_SIMHASH_MAX_BLOCKS = 8  # key = 5 x 8-bit blocks = 40 bits; enough to
# hold occupancy <= 2 to n = 2^41 docs (~2 trillion)


def simhash_lsh_config(
    n: int, max_hamming: int = 3
) -> tuple[list[tuple[int, int]], list[tuple[int, ...]]]:
    """(blocks, combos) for the block-combination LSH at corpus size
    ``n``: ``blocks`` is a list of (start_bit, width) partitioning the
    64 signature bits; ``combos`` lists, per table, the block indices
    whose concatenated values form that table's key. Floor (n below
    ``_SIMHASH_ADAPTIVE_MIN_N``): 4 blocks of 16, one table per single
    block — byte-identical to the committed banding the static oracle
    renders. Beyond it: the smallest b <= 8 whose MINIMUM
    (b - max_hamming)-subset key width reaches
    ceil(log2(n / _SIMHASH_OCC_TARGET)), i.e. per-table bucket
    occupancy stays <= the target under the uniform-signature model
    (real text signatures are skewed; the target leaves that headroom
    the same way the embedding config's occupancy knob does)."""
    import math

    need_bits = (
        0 if n < _SIMHASH_ADAPTIVE_MIN_N
        else math.ceil(math.log2(max(n, 2) / _SIMHASH_OCC_TARGET))
    )
    for b in range(max_hamming + 1, _SIMHASH_MAX_BLOCKS + 1):
        w, r = divmod(_SIMHASH_BITS, b)
        widths = [w + 1] * r + [w] * (b - r)
        keep = b - max_hamming
        min_key = sum(sorted(widths)[:keep])
        if (n < _SIMHASH_ADAPTIVE_MIN_N and b == max_hamming + 1) or (
            min_key >= need_bits
        ) or b == _SIMHASH_MAX_BLOCKS:
            starts = [sum(widths[:i]) for i in range(b)]
            blocks = list(zip(starts, widths))
            combos = list(itertools.combinations(range(b), keep))
            return blocks, combos
    raise AssertionError("unreachable")


def _simhash_bit_sources() -> list[tuple[int, int]]:
    """Bit i of the signature votes on hex digit ``pos`` (1-based) of
    digest ``seed`` = md5('s{seed}|' || token). Two digests cover all
    64 bits (32 hex chars each). Defined once so the Spark builder and
    the SQL renderer cannot disagree on the mapping."""
    return [(i // 32, i % 32 + 1) for i in range(_SIMHASH_BITS)]


# Packed-lane vote aggregation: 4 hex digits (one 16-bit conv) per
# group; the 4 nibble high-bits are spread into the low bit of four
# 16-bit lanes of ONE long by a single multiply+mask, so the hot
# aggregate is 16 packed sums + a count instead of 64 independent
# conditional sums (the registry's old CPU outlier — a ~4x smaller
# aggregation buffer and integer ops instead of 64 string compares
# per token). flag bits sit at 0,4,8,12; term 2^(12k) of the spread
# constant lifts flag 4j to bit 4j+12k, and 4j+12k = 16m only for
# j = k = m, so the post-multiply mask isolates exactly one flag per
# lane (no aliasing).
_LANE_GROUPS = _SIMHASH_BITS // 4
_LANE_SPREAD = 1 | (1 << 12) | (1 << 24) | (1 << 36)
_LANE_MASK = 0x0001000100010001
_CHUNK_SHIFT = 14
_CHUNK_TOKENS = 1 << _CHUNK_SHIFT  # lanes hold counts < 2^16 by construction


def simhash_signature(
    tokens_df: DataFrame, key: str, token_col: str, pos_col: str
) -> DataFrame:
    """(key, token) rows -> (key, sig) where sig is a 64-char '0'/'1'
    string. Bit i is the sign of the vote sum over tokens: hex digit i
    of the token's md5 digests votes +1 if >= '8' (high bit set) else
    -1 — equivalently, bit i is set iff 2*count_high(i) > n_tokens,
    which is what the packed-lane aggregation computes. All JVM-side
    column expressions; md5/hex primitives keep the signature
    bit-identical in any engine (xxhash64 would be ~2x faster per
    token but is Spark-specific).

    Exact for documents of ANY length: tokens aggregate per
    (key, chunk) first — bounding every 16-bit lane (and keeping the
    packed ANSI long sum <= 2^14 * 2^48 = 2^62) — then the tiny
    per-chunk rows (64 plain sums over ~n_tokens/16384 rows per doc)
    fold to the doc totals. The chunk is ``pos_col >> 14``, where
    ``pos_col`` is the caller's 0-based token position: the chunk
    SPLIT is arbitrary for vote sums (any partition of a doc's tokens
    yields the same totals), and positions are unique per doc so no
    chunk group exceeds 16,384 tokens. (The pre-r06 single-pass form
    silently wrapped its lanes past 65,535 tokens — ADVICE r05; the
    chunking removes the limit instead of guarding it.)

    r14 (guide §1.2 "per-task work" + §7.3 driver cost): the packed
    lanes parse the hex digest with 8 ``conv`` calls of 8 chars each
    instead of 16 of 4 — one 32-bit parse yields TWO adjacent 4-nibble
    groups (group 2k is the parse's high 16 bits, shift 16+3; group
    2k+1 its low 16, shift 3), so the per-token string-parse count
    halves while every ``p{g}`` value stays bit-identical (measured on
    the sf0.1 token stage: 2.16 s -> 1.53 s, 0 mismatching lanes over
    275,902 tokens). The whole signature builder also moved from
    per-Column py4j construction (~800 round trips, 1.4-2.7 s of
    driver time per query BUILD) to ``selectExpr`` strings parsed
    JVM-side in a handful of calls — same expression tree, same plan,
    ~0.2 s.

    r15 (guide §2.3 "aggregate before you shuffle"; the
    cms_point_query treatment): tokens REDUCE to (key, chunk, token,
    count) before any hashing — the sf0.1 stream repeats each
    (doc, chunk, token) 2.33x on average — so md5, conv and the lane
    spread run once per DISTINCT token per chunk, with the packed
    flags multiplied by the count (distributivity of the vote sum;
    each 16-bit lane then holds count <= 2^14 per token and the chunk
    sum stays <= 2^14 per lane, the same bound as before). The
    count-first groupBy's exchange is narrow (token + two longs) and
    its map side dedupes fully because one doc's exploded tokens never
    split across partitions. Measured on the sf0.1 signature stage:
    1.96 s -> 1.45 s min-of-5, signatures byte-identical."""
    # integer shift, not float division: >> 14 is exact floor division
    # for any non-negative long
    base = tokens_df.select(
        F.col(key),
        F.shiftright(F.col(pos_col).cast("long"), _CHUNK_SHIFT).alias("__chunk"),
        F.col(token_col).alias("__tok"),
    )
    counted = base.groupBy(key, "__chunk", "__tok").agg(F.count("*").alias("__c"))
    counted = counted.withColumn(
        "__h",
        F.concat(
            F.md5(F.concat(F.lit("s0|"), F.col("__tok"))),
            F.md5(F.concat(F.lit("s1|"), F.col("__tok"))),
        ),
    )
    lane_exprs = []
    for k in range(_LANE_GROUPS // 2):
        v = f"cast(conv(substring(__h, {8 * k + 1}, 8), 16, 10) as bigint)"
        for half, shift in ((0, 19), (1, 3)):
            lane_exprs.append(
                f"(((shiftright({v}, {shift}) & {0x1111}) * {_LANE_SPREAD}L)"
                f" & {_LANE_MASK}L) * __c AS p{2 * k + half}"
            )
    stamped = counted.selectExpr(key, "__chunk", "__c", *lane_exprs)
    partial = stamped.groupBy(key, "__chunk").agg(
        *[F.sum(f"p{g}").alias(f"s{g}") for g in range(_LANE_GROUPS)],
        F.sum("__c").alias("__n"),
    )
    # conv('abcd') is big-endian: the group's FIRST hex digit lands in
    # the highest lane, so digit 4g+r lives in lane 3-r of s{g}
    unpacks = []
    for i in range(_SIMHASH_BITS):
        g, r = divmod(i, 4)
        lane = 3 - r
        unpacks.append(f"shiftright(s{g}, {16 * lane}) & {0xFFFF} AS c{i}")
    counted = (
        partial.selectExpr(key, *unpacks, "__n")
        .groupBy(key)
        .agg(
            *[F.sum(f"c{i}").alias(f"c{i}") for i in range(_SIMHASH_BITS)],
            F.sum("__n").alias("__n"),
        )
    )
    sig = "concat(" + ", ".join(
        f"case when c{i} * 2 > __n then '1' else '0' end"
        for i in range(_SIMHASH_BITS)
    ) + ") AS sig"
    return counted.selectExpr(key, sig)


def simhash_vote_sql(i: int) -> str:
    """DuckDB rendering of bit i's vote term (mirrors simhash_signature)."""
    seed, pos = _simhash_bit_sources()[i]
    return f"sum(CASE WHEN substr(d{seed}, {pos}, 1) >= '8' THEN 1 ELSE -1 END)"


def simhash_near_pairs(
    sig_df: DataFrame, key: str, max_hamming: int = 3, corpus_n: int = 0
) -> DataFrame:
    """Candidate pairs via block-combination LSH (pigeonhole: hamming
    <= k over b blocks guarantees b - k identical blocks, and one
    table is keyed by exactly that subset), verified by exact hamming
    distance. The band equi-join is the whole point: cost tracks key
    collisions, not n² pairs. The (blocks, tables) layout comes from
    ``simhash_lsh_config(corpus_n)``: the floor 4x16 single-block keys
    below ``_SIMHASH_ADAPTIVE_MIN_N`` (what the static oracle renders,
    and what callers get for the default ``corpus_n=0``), wider
    multi-block keys past it so per-table bucket occupancy — and the
    n * occupancy / 2 candidate term — stays bounded as the corpus
    grows. Recall is exact in BOTH regimes, so the adaptive swap is
    result-invariant (pinned by tests/test_lsh_recall.py).

    Two things keep the verify cheap at scale:

    * the signature frame is materialized (localCheckpoint) before the
      self-join, so both join sides read the same few-longs-per-doc
      table instead of each re-running the scan -> explode -> md5 ->
      vote pipeline upstream of it;
    * each block is decoded ONCE per doc into a long; a table key is
      the shift-concatenation of its blocks (<= 40 bits, one long —
      never a string), and the hamming distance is
      ``sum(bit_count(a XOR b))`` over the b block longs — Catalyst
      pushes the hamming filter into the join condition, where it runs
      per KEY COLLISION, so it must be a handful of integer ops, not
      the 64 per-character string compares the bit-string form costs
      (that expression made the verify stage the registry's CPU
      outlier)."""
    blocks, combos = simhash_lsh_config(corpus_n, max_hamming)
    nb = len(blocks)
    sig_df = sig_df.localCheckpoint(eager=False)
    block_longs = [
        F.conv(F.substring(F.col("sig"), start + 1, width), 2, 10)
        .cast("long")
        .alias(f"b{i}")
        for i, (start, width) in enumerate(blocks)
    ]

    def _key_val(combo: tuple[int, ...]) -> Column:
        v = F.col(f"b{combo[0]}")
        for i in combo[1:]:
            v = F.shiftleft(v, blocks[i][1]).bitwiseOR(F.col(f"b{i}"))
        return v

    banded = (
        sig_df.select(key, *block_longs)
        .select(
            key,
            *[f"b{i}" for i in range(nb)],
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(t).alias("band_idx"),
                            _key_val(combo).alias("band_val"),
                        )
                        for t, combo in enumerate(combos)
                    ]
                )
            ).alias("band"),
        )
        .select(
            key,
            *[f"b{i}" for i in range(nb)],
            F.col("band.band_idx").alias("band_idx"),
            F.col("band.band_val").alias("band_val"),
        )
    )
    a = banded.alias("a")
    b = banded.alias("b")
    hamming = sum(
        F.bit_count(F.col(f"a.b{k}").bitwiseXOR(F.col(f"b.b{k}")))
        for k in range(nb)
    ).cast("long")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col(f"a.{key}") < F.col(f"b.{key}")),
        )
        .select(
            F.col(f"a.{key}").alias("key_a"),
            F.col(f"b.{key}").alias("key_b"),
            hamming.alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash_hamming_sql(sa: str, sb: str) -> str:
    """DuckDB rendering of the bit-string hamming distance."""
    terms = " + ".join(
        f"CAST(substr({sa}, {i + 1}, 1) <> substr({sb}, {i + 1}, 1) AS INT)"
        for i in range(_SIMHASH_BITS)
    )
    return f"CAST({terms} AS BIGINT)"


# ---------------------------------------------------------------------------
# Hot-bucket candidate generation for banded hyperplane LSH
# ---------------------------------------------------------------------------

# A bucket past this size takes the blocked-BLAS prune path instead of
# the pair-expanding band self-join. The routing is COST-based, not an
# anomaly escape hatch: a bucket of m rows expands to m^2/2 candidate
# rows (distinct + two array-carrying joins each), while the BLAS path
# ships each row once and pays the m^2 compares as local FLOPs — the
# expansion loses from m ~ tens upward. Measured at the 20x dir
# (SCALING.md r11): thresholds 1024 / 256 / 128 / 64 / 32 / 16 ran
# 28.2 / 20.1 / 11.9 / 8.3 / 6.2 / 6.2 s on the uniform corpus
# (identical 800 rows throughout) — the knee sits at the adaptive
# config's own ~32 occupancy target, so that is the default. Small
# corpora (driver-gate sf0.01, bench sf0.1: mean occupancy 4-8) stay
# fully declarative; results are mode-invariant by the margin proof
# regardless of where the threshold lands (forced-hot == forced-cold
# pinned in tests/test_lsh_recall.py), so the constant is purely a
# physical-plan lever.
HOT_BUCKET_MIN = 32
# Block edge for the within-bucket blocked matmul: bounds every
# kernel invocation at ~(2 * block * dim) input floats and
# (block x block) score floats regardless of bucket size, and spreads
# one hot bucket over nb*(nb+1)/2 independent tasks.
HOT_BLOCK_ROWS = 2048


def hot_bucket_cosine_candidates(
    bands_df: DataFrame,
    hot_keys: DataFrame,
    emb: DataFrame,
    prune_bound: float,
    block_rows: int = HOT_BLOCK_ROWS,
) -> DataFrame:
    """Candidate pairs from OVERSIZED LSH buckets via bucket-local
    blocked BLAS, pre-pruned at ``prune_bound``.

    Why not the band self-join: a bucket of m rows expands to m^2/2
    candidate rows, each then carrying two full embedding arrays
    through the verify joins — for a template-heavy corpus whose hot
    cone sits just under the verify threshold, that is tens of
    millions of near-miss rows of pure wasted shuffle (and more LSH
    bits cannot help: a cone at cosine ~0.89 survives each extra
    hyperplane at ~0.85, nearly the 0.90 of a true 0.95 pair, so the
    band count needed to hold 99% recall cancels the split — measured,
    SCALING.md r11). Here each vector ships once per BLOCK PAIR
    (nb ~ m/block copies), the m x m cosine matrix is computed inside
    Arrow-batched numpy (built-in column ops cannot express a matmul
    without materializing the pair rows — exactly the cost being
    removed), and only entries >= ``prune_bound`` come back.

    Result-identical by construction: callers pass a ``prune_bound``
    strictly below their exact verify threshold minus any possible
    float64 summation-order difference (~1e-12 relative; e.g. 0.9499
    for a 0.95-on-4-decimals verify), and every emitted pair still
    flows through the caller's exact declarative verify expression —
    the numpy scores only PRUNE, they are never returned. Zero-norm
    vectors produce NaN scores, which fail the >= prune and match the
    exact path's NULL-cosine drop.

    ``bands_df`` is (vec_id, band, bkey); ``hot_keys`` is the
    (band, bkey, __bc) frame of oversized buckets (tiny — broadcast);
    ``emb`` is (vec_id, embedding).
    """
    import numpy as np  # local: keep module import light
    import pandas as pd

    hot_rows = bands_df.join(F.broadcast(hot_keys), ["band", "bkey"]).join(
        emb, "vec_id"
    )
    nb = F.greatest(F.lit(1), F.ceil(F.col("__bc") / F.lit(block_rows))).cast("int")
    blk = F.pmod(F.xxhash64("vec_id"), nb).cast("int")
    hot_rows = hot_rows.withColumn("__nb", nb).withColumn("__blk", blk)
    # Replicate each row to every block-pair group it belongs to:
    # block b meets block o in group (min(b,o), max(b,o)) — each row
    # lands in exactly nb groups, each unordered block pair in exactly
    # one group, so no pair is ever enumerated twice across groups.
    grouped = hot_rows.withColumn(
        "__other", F.explode(F.sequence(F.lit(0), F.col("__nb") - 1))
    ).select(
        "band",
        "bkey",
        F.least("__blk", "__other").alias("__gi"),
        F.greatest("__blk", "__other").alias("__gj"),
        "__blk",
        "vec_id",
        "embedding",
    )

    def kernel(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        _, _, gi, gj = key
        a = pdf[pdf["__blk"] == gi]
        b = a if gi == gj else pdf[pdf["__blk"] == gj]
        if len(a) == 0 or len(b) == 0:
            return pd.DataFrame({"vec_a": pd.Series(dtype="int64"),
                                 "vec_b": pd.Series(dtype="int64")})
        xa = np.vstack(a["embedding"].to_numpy()).astype(np.float64)
        xb = xa if gi == gj else np.vstack(b["embedding"].to_numpy()).astype(np.float64)
        na = np.linalg.norm(xa, axis=1)
        nbn = na if gi == gj else np.linalg.norm(xb, axis=1)
        with np.errstate(divide="ignore", invalid="ignore"):
            scores = (xa @ xb.T) / np.outer(na, nbn)
        ia, ib = np.nonzero(scores >= prune_bound)  # NaN compares False
        va = a["vec_id"].to_numpy()[ia]
        vb = b["vec_id"].to_numpy()[ib]
        if gi == gj:
            keep = va < vb  # symmetric matrix: keep one orientation, drop self
            lo, hi = va[keep], vb[keep]
        else:
            lo, hi = np.minimum(va, vb), np.maximum(va, vb)
        return pd.DataFrame({"vec_a": lo, "vec_b": hi})

    return grouped.groupBy("band", "bkey", "__gi", "__gj").applyInPandas(
        kernel, schema="vec_a long, vec_b long"
    )
