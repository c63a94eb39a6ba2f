"""Deduplication queries over ``documents``/``embeddings`` — exact,
n-gram Jaccard, MinHash+LSH, SimHash, embedding-cosine near-dup.

To make the dedup paths observable on the synthetic corpus, every
query's input is ``documents`` (or ``embeddings``) plus *planted
clones*: rows with ``id % 50 == 0`` duplicated at ``id + 100000``.
Both the Spark side and the DuckDB oracle construct the identical
input, so the planted duplicates must be found by both.
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import textual, vectors
from ..operators import assign
from ..operators import dedup as dedup_ops
from ..operators.checkpoints import release
from ..tables import (
    load_embeddings,
    load_table,
    materialize_and_release,
    repartition_for_compute,
)
from .registry import register

# --- shared planted-clone inputs -------------------------------------------

_DOCS_SQL = """
docs AS (
  SELECT doc_id, text, source FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text, source FROM documents WHERE doc_id % 50 = 0
)
"""

_SHINGLES_SQL = f"""
words AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '{textual.WS_REGEX}') AS w FROM docs
),
sh AS (
  SELECT DISTINCT doc_id, unnest({textual.word_shingles_sql('w', 3)}) AS shingle
  FROM words
)
"""


def _docs_plus_clones(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    clones = d.where(F.col("doc_id") % 50 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(100000)
    )
    return d.unionByName(clones)


def _doc_shingles(docs, n=3):
    w = textual.words(F.trim(F.col("text")))
    # Per-doc distinct is computed INSIDE the row (array_distinct on
    # the shingle array, then explode): the (doc_id, shingle) rows
    # come out already unique, so no shuffle-distinct over the full
    # shingle set — measured 2x faster than explode+distinct at sf0.1.
    # Persisted: the set feeds signatures, per-doc counts AND both
    # sides of the candidate-verification join.
    shingles = F.array_distinct(
        F.filter(textual.word_shingles(w, n), lambda s: s != "")
    )
    return (
        repartition_for_compute(docs)
        .select("doc_id", F.explode(shingles).alias("shingle"))
        .persist()
    )


# ---------------------------------------------------------------------------
# Exact dedup: hash-groupBy
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    oracle=f"""
WITH {_DOCS_SQL}
SELECT md5(lower(trim(text))) AS content_hash,
       min(doc_id) AS canonical_id,
       count(*) AS n_copies
FROM docs GROUP BY 1
""",
    survey_ref="training-data: exact dedup; A2 F9",
)
def dedup_exact(spark, sf_dir):
    """Exact dedup = md5(normalized text) -> groupBy -> min-id
    canonical. One map-side-combinable shuffle on a 32-byte key; at
    100 TB the text never shuffles, only hashes do."""
    docs = _docs_plus_clones(spark, sf_dir)
    return (
        docs.select("doc_id", F.md5(F.lower(F.trim(F.col("text")))).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("canonical_id"), F.count("*").alias("n_copies"))
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup (bounded: one source partition)
# ---------------------------------------------------------------------------


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
WITH {_DOCS_SQL},
limited AS (SELECT doc_id, text FROM docs WHERE source = 'src0'),
words AS (SELECT doc_id, regexp_split_to_array(trim(text), '{textual.WS_REGEX}') AS w FROM limited),
sh AS (
  SELECT DISTINCT doc_id, unnest({textual.word_shingles_sql('w', 3)}) AS shingle
  FROM words
),
counts AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(c::DOUBLE / (ca.n + cb.n - c), 6) AS jaccard
FROM common
JOIN counts ca ON ca.doc_id = doc_a
JOIN counts cb ON cb.doc_id = doc_b
WHERE c::DOUBLE / (ca.n + cb.n - c) >= 0.3
""",
    survey_ref="training-data: n-gram Jaccard near-dup; J8 A1",
)
def dedup_ngram_jaccard(spark, sf_dir):
    """3-gram shingle Jaccard similarity: explode shingles ->
    equi-join on shingle -> common counts vs per-doc counts. The
    shingle equi-join is the scalable reformulation of all-pairs; here
    bounded to one source partition (the full-corpus path is
    dedup_minhash_lsh, which prunes candidates before verifying)."""
    docs = _docs_plus_clones(spark, sf_dir).where(F.col("source") == "src0")
    sh = _doc_shingles(docs)
    counts = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("c"))
    )
    ca = counts.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    cb = counts.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("c").cast("double") / (F.col("na") + F.col("nb") - F.col("c"))
    result = (
        common.join(ca, "doc_a")
        .join(cb, "doc_b")
        .where(jac >= 0.3)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )
    return materialize_and_release(result, sh)


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup (the full-corpus scale path)
# ---------------------------------------------------------------------------

_N_HASHES = 8
_BAND_SIZE = 2

def _sig_sql() -> str:
    """MinHash signature SELECT-list (renderer shared by every oracle
    that builds signatures — corpus, cluster, and incremental forms)."""
    return ",\n       ".join(
        f"min({dedup_ops.minhash_slice_sql('shingle', i)}) AS mh{i}"
        for i in range(_N_HASHES)
    )


def _bands_sql(src: str, key: str) -> str:
    """LSH band-key UNION-ALL block over signature CTE ``src`` keyed by
    ``key`` (same renderer for corpus and incremental oracles — one
    place to change the banding scheme)."""
    return "\nUNION ALL\n".join(
        "SELECT {key}, {b} AS band_idx, {bk} AS band_key FROM {src}".format(
            key=key,
            b=b,
            bk=" || '|' || ".join(f"mh{b * _BAND_SIZE + j}" for j in range(_BAND_SIZE)),
            src=src,
        )
        for b in range(_N_HASHES // _BAND_SIZE)
    )


_SIG_SQL = _sig_sql()
_BANDS_SQL = _bands_sql("sig", "doc_id")


# The full MinHash pair pipeline as a reusable CTE block: both the
# pair query and the cluster query (connected components over these
# pairs) render the identical pipeline.
_MH_PAIRS_CTES = f"""{_DOCS_SQL},
{_SHINGLES_SQL},
sig AS (
  SELECT doc_id, {_SIG_SQL}
  FROM sh GROUP BY doc_id
),
bands AS ({_BANDS_SQL}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
counts AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
common AS (
  SELECT c.doc_a, c.doc_b, count(*) AS c
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.doc_a
  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
  GROUP BY c.doc_a, c.doc_b
),
mh_pairs AS (
  SELECT m.doc_a, m.doc_b, round(m.c::DOUBLE / (ca.n + cb.n - m.c), 6) AS jaccard
  FROM common m
  JOIN counts ca ON ca.doc_id = m.doc_a
  JOIN counts cb ON cb.doc_id = m.doc_b
  WHERE m.c::DOUBLE / (ca.n + cb.n - m.c) >= 0.7
)"""


@register(
    "dedup_minhash_lsh",
    oracle=f"""
WITH {_MH_PAIRS_CTES}
SELECT doc_a, doc_b, jaccard FROM mh_pairs
""",
    survey_ref="training-data: MinHash+LSH dedup",
)
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash(8 perms, md5-based) -> 4 LSH bands of 2 -> candidate
    pairs share a band -> verify true Jaccard >= 0.7. The all-pairs
    problem becomes two equi-joins (band join, shingle join over
    candidates only) — cost scales with collisions, not n². md5 minhash
    keeps the signature engine-portable for the oracle."""
    docs = _docs_plus_clones(spark, sf_dir)
    sh = _doc_shingles(docs)
    # one aggregation yields both the signature and the per-doc set
    # size the verify step needs — no second shuffle over shingles;
    # materialized once (one row per doc) because counts and bands are
    # separate consumers that would otherwise re-run the aggregation
    sig = dedup_ops.minhash_signature(
        sh, "doc_id", "shingle", _N_HASHES, with_count=True
    ).localCheckpoint(eager=True)
    counts = sig.select("doc_id", "n")
    bands = dedup_ops.band_keys(sig.drop("n"), "doc_id", _N_HASHES, _BAND_SIZE)
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # EXACT set-size filter BEFORE the shingle verify join: Jaccard is
    # bounded above by min(|A|,|B|)/max(|A|,|B|), so J >= 0.7 forces
    # 10*min(na,nb) >= 7*max(na,nb) — integer arithmetic, provably
    # result-preserving (the final J >= 0.7 predicate subsumes it). On
    # uniform corpora this is ~free: the count attach merely moves here
    # from the post-verify join it replaced. On template-heavy corpora
    # a hot band emits candidates quadratic in bucket size and most are
    # length-mismatched boilerplate — pruning them before their
    # shingles are ever joined keeps the verify step proportional to
    # the SURVIVING candidates (measured: tools/skew_audit.py lsh_skew,
    # SCALING.md r11).
    ca = counts.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    cb = counts.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    cand = (
        cand.join(ca, "doc_a")
        .join(cb, "doc_b")
        .where(F.lit(10) * F.least("na", "nb") >= F.lit(7) * F.greatest("na", "nb"))
        # candidates are collision-bounded and tiny next to the corpus;
        # materializing them once stops the band pipeline running twice
        # (the broadcast id-set below is a second consumer)
        .localCheckpoint(eager=True)
    )
    # verify only needs shingles of docs that appear in some candidate
    # pair — a broadcast semi-join prunes the shingle set map-side
    # BEFORE the expensive (doc, shingle) join, so the full corpus
    # shingle set is never shuffled for verification (candidates are
    # collision-bounded; at extreme candidate volumes this semi-join
    # falls back to shuffle-hash and the plan is still candidate-bound)
    cand_ids = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh_cand = sh.join(F.broadcast(cand_ids), "doc_id", "left_semi")
    sa = sh_cand.select(F.col("doc_id").alias("da"), F.col("shingle").alias("sh_a"))
    sb = sh_cand.select(F.col("doc_id").alias("db"), F.col("shingle").alias("sh_b"))
    common = (
        cand.join(sa, F.col("doc_a") == F.col("da"))
        .join(sb, (F.col("doc_b") == F.col("db")) & (F.col("sh_a") == F.col("sh_b")))
        # na/nb ride the (tiny) candidate rows through the verify join,
        # so no post-verify count joins are needed
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(F.count("*").alias("c"))
    )
    jac = F.col("c").cast("double") / (F.col("na") + F.col("nb") - F.col("c"))
    result = common.where(jac >= 0.7).select(
        "doc_a", "doc_b", F.round(jac, 6).alias("jaccard")
    )
    return materialize_and_release(result, sh, sig, cand)


@register(
    "dedup_clusters",
    oracle=f"""
WITH RECURSIVE {_MH_PAIRS_CTES},
ue AS (
  SELECT doc_a AS a, doc_b AS b FROM mh_pairs
  UNION SELECT doc_b, doc_a FROM mh_pairs
),
reach(n, m) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM ue)
  UNION
  SELECT ue.b, r.m FROM reach r JOIN ue ON ue.a = r.n
),
comp AS (SELECT n AS node, min(m) AS component FROM reach GROUP BY n)
SELECT d.doc_id,
       coalesce(c.component, d.doc_id) AS cluster_id,
       d.doc_id = coalesce(c.component, d.doc_id) AS is_canonical
FROM docs d LEFT JOIN comp c ON c.node = d.doc_id
""",
    survey_ref="training-data: near-dup cluster resolution (pairs -> groups -> canonical)",
)
def dedup_clusters(spark, sf_dir):
    """What a dedup pass actually ships: near-dup PAIRS resolved into
    CLUSTERS (connected components over the MinHash pair graph) with
    one canonical doc per cluster — transitive duplicates (A~B~C with
    A!~C) collapse to one keep. Composes dedup_minhash_lsh with the
    label-propagation CC operator; the pair graph is tiny relative to
    the corpus, so the iterative step runs on collisions only. The
    oracle replays the identical pipeline with a recursive-CTE
    closure."""
    from ..operators.graph import connected_components

    pairs = dedup_minhash_lsh(spark, sf_dir)  # localCheckpointed: bounded lineage for CC
    cc = connected_components(pairs, src="doc_a", dst="doc_b")
    release(pairs)  # CC's checkpointed edge set is all the result reads
    docs = _docs_plus_clones(spark, sf_dir).select("doc_id")
    cluster = F.coalesce(F.col("component"), F.col("doc_id"))
    return (
        docs.join(cc, docs.doc_id == cc.node, "left")
        .select(
            "doc_id",
            cluster.alias("cluster_id"),
            (F.col("doc_id") == cluster).alias("is_canonical"),
        )
    )


# ---------------------------------------------------------------------------
# SimHash near-dup — Spark-native bit votes (rows-only check)
# ---------------------------------------------------------------------------


_SIMHASH_VOTES_SQL = ",\n         ".join(
    f"{dedup_ops.simhash_vote_sql(i)} AS v{i}" for i in range(64)
)
_SIMHASH_SIG_SQL = "concat(" + ", ".join(
    f"CASE WHEN v{i} > 0 THEN '1' ELSE '0' END" for i in range(64)
) + ")"
_SIMHASH_BANDS_SQL = "\nUNION ALL\n".join(
    f"SELECT doc_id, {b} AS band_idx, substr(sig, {b * 16 + 1}, 16) AS band_val, sig FROM sig"
    for b in range(4)
)


@register(
    "dedup_simhash",
    oracle=f"""
WITH {_DOCS_SQL},
tok0 AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '{textual.WS_REGEX}')) AS token
  FROM docs
),
tok AS (
  SELECT doc_id, md5('s0|' || token) AS d0, md5('s1|' || token) AS d1
  FROM tok0 WHERE token <> ''
),
votes AS (
  SELECT doc_id,
         {_SIMHASH_VOTES_SQL}
  FROM tok GROUP BY doc_id
),
sig AS (SELECT doc_id, {_SIMHASH_SIG_SQL} AS sig FROM votes),
bands AS ({_SIMHASH_BANDS_SQL}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sig AS sa, b.sig AS sb
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id
),
ham AS (
  SELECT doc_a, doc_b, {dedup_ops.simhash_hamming_sql("sa", "sb")} AS hamming FROM cand
)
SELECT doc_a, doc_b, hamming FROM ham WHERE hamming <= 3
""",
    survey_ref="training-data: SimHash near-dup",
)
def dedup_simhash(spark, sf_dir):
    """64-bit SimHash from per-word md5 hex-digit bit votes,
    block-combination LSH candidates, hamming <= 3 verification.
    Entirely JVM-side expressions — no Python, no all-pairs — and
    every step is portable SQL, so the oracle pins the full pipeline
    bit-for-bit (round 1 used xxhash64 votes, which forced a weaker
    rows-only check). The vote aggregate packs 4 bit-counts per long
    into 16-bit lanes (16 sums + a count instead of 64 conditional
    sums — the old form was the registry's CPU outlier), chunked by
    token position so lanes stay exact for documents of any length;
    the oracle's 64 plain sums are the same counts by construction.
    At 100 TB: the banding is ADAPTIVE (``simhash_lsh_config`` — the
    r10 fix for the fixed-bucket-space class VERDICT r09 flagged):
    below n = 131,072 docs the committed 4x16 banding the oracle
    renders; past it, b blocks with one table per (b-3)-subset key, so
    per-table occupancy stays <= 2 while recall stays EXACT by
    pigeonhole — the swap is result-invariant, unlike a probabilistic
    banding. Config choice pays one count job, gated on input bytes,
    so verification scales stay zero-extra-jobs."""
    docs = _docs_plus_clones(spark, sf_dir)
    tokens = docs.select(
        "doc_id",
        F.posexplode(textual.words(F.lower(F.col("text")))).alias("pos", "token"),
    ).where(F.col("token") != "")
    sig = dedup_ops.simhash_signature(tokens, "doc_id", "token", pos_col="pos")
    pairs = dedup_ops.simhash_near_pairs(
        sig, "doc_id", max_hamming=3, corpus_n=_doc_corpus_n(spark, sf_dir)
    )
    return pairs.select(
        F.col("key_a").alias("doc_a"), F.col("key_b").alias("doc_b"), "hamming"
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup
# ---------------------------------------------------------------------------

_EMB_SQL = """
embeddings AS (SELECT * FROM main.embeddings WHERE embedding IS NOT NULL
                AND len(list_filter(embedding,
                        x -> NOT coalesce(abs(x) < 'Infinity'::FLOAT, FALSE))) = 0),
emb AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 100000 AS vec_id, embedding FROM embeddings WHERE vec_id % 50 = 0
)
"""


# Banded random-hyperplane LSH for embedding near-dup: one 64-bit sign
# signature per vector (seeded planes, embedded as literals so Spark and
# DuckDB share them exactly — same scheme ann_lsh_bucketed proves out),
# sliced into 8 bands x 8 bits. For cosine >= 0.95 (angle <= 18.2 deg,
# per-bit agreement p ~ 0.899) the probability a true near-dup pair
# collides in no band is (1 - 0.899^8)^8 ~ 1.2% — and exact clones
# always collide. Band width/count trade recall vs candidate volume.
_emb_rng = random.Random(13)
_EMB_PLANES = [[round(_emb_rng.gauss(0.0, 1.0), 6) for _ in range(64)] for _ in range(64)]
_EMB_BANDS = 8
_EMB_BITS = 8
# Adaptive banding (r09 — the fixed-constant scale class, caught by the
# 50x octave at 65.8x for 50x data): a FIXED 8-bit band key means a
# fixed 256-bucket space per band, so bucket occupancy — and the
# n^2/2^bits candidate term — grows linearly with the corpus. Past
# _EMB_ADAPTIVE_MIN_N (beyond every built verification scale, so the
# static oracle always replays the floor config) bits grows with
# log2(n / target-occupancy) and bands grows to hold recall at the
# 0.95-cosine design point.
# Per-band candidate cost is buckets * C(occupancy, 2) ~ n * occupancy
# / 2, so occupancy is THE knob: the adaptive branch re-buckets to
# <= 32 rows per (band, bucket) — the measured-good point (at the 50x
# dir, occupancy-32 banding ran 64 s where occupancy-203 banding ran
# 539 s and the saturated floor 310+ s).
_EMB_BUCKET_TARGET = 32
# The threshold is derived from the FLOOR, not tuned: the floor
# serves while its per-band bucket occupancy n / 2^8 stays under 256
# rows, i.e. n < 2^16 = 65,536. Every oracle-verification scale (max
# sf2 = 40,800) sits under it — the static DuckDB oracle always
# replays the floor — while the 50x octave dir (102,000) sits past
# it, so the adaptive path is exercised at a measurable scale. The
# config therefore STEPS at the threshold (occupancy up to ~256 on
# the floor -> <= 32 adaptive) by design.
_EMB_ADAPTIVE_MIN_N = 2 ** (2 * _EMB_BITS)
_EMB_RECALL_MISS = 0.01  # adaptive bands sized for >= 99% recall


def _emb_lsh_config(n: int) -> tuple[int, int, list[list[float]]]:
    """(bits, bands, planes) for the banded hyperplane LSH at corpus
    size ``n``. Floor: the committed 8x8 over the 64-plane pool — used
    at every verification scale, so the static DuckDB oracle replays
    the construction bit-for-bit. Beyond ``_EMB_ADAPTIVE_MIN_N``:
    bits = ceil(log2(n / _EMB_BUCKET_TARGET)) = ceil(log2(n / 32))
    keeps per-band bucket occupancy
    ~constant (the candidate join stays linear in n), and bands grows
    to hold 1 - (1 - p^bits)^bands >= 0.99 at the design point
    p = 1 - acos(0.95)/pi ~ 0.8994 (per-hyperplane agreement
    probability of a cosine-0.95 pair). Planes are a deterministic
    prefix of the seed-13 Gaussian stream (the floor's 64 planes ARE
    the first 64), so any two runs at the same n agree exactly."""
    if n < _EMB_ADAPTIVE_MIN_N:
        return _EMB_BITS, _EMB_BANDS, _EMB_PLANES
    import math

    p = 1.0 - math.acos(0.95) / math.pi
    bits = max(_EMB_BITS, math.ceil(math.log2(n / _EMB_BUCKET_TARGET)))
    bands = max(
        _EMB_BANDS,
        math.ceil(math.log(_EMB_RECALL_MISS) / math.log(1.0 - p**bits)),
    )
    rng = random.Random(13)
    planes = [
        [round(rng.gauss(0.0, 1.0), 6) for _ in range(64)] for _ in range(bits * bands)
    ]
    return bits, bands, planes


def _footer_rows(spark, path: str) -> int | None:
    """EXACT row count summed over parquet footers (VERDICT r10 item 1:
    the byte gate infers rows at an assumed bytes/row, so a short-doc
    or highly-compressible corpus — and dedup corpora are repetitive by
    premise — could cross the adaptive threshold while staying under
    the byte gate, silently pinning the floor banding with its
    n²/2^bits candidate term). Metadata-only, driver-side, no Spark
    job and no data pages — the same footer source
    ``operators.storage.scan_stats`` manifests from. Local filesystem
    paths only (``file:`` URIs included); remote URIs and any
    read/listing failure return ``None`` so callers fall back to the
    count job."""
    import glob as _glob
    import os

    p = path[len("file:") :] if path.startswith("file:") else path
    if "://" in p:
        return None
    try:
        import pyarrow.parquet as pq

        if os.path.isfile(p):
            files = [p]
        else:
            files = [
                f
                for f in _glob.glob(os.path.join(p, "**", "*.parquet"), recursive=True)
                if os.path.isfile(f)
            ]
        if not files:
            return None
        return sum(pq.read_metadata(f).num_rows for f in files)
    except Exception:
        return None


def _corpus_n_gated(raw, sf_dir: str, table: str, count_fn, threshold_rows: int) -> int:
    """Corpus size for an adaptive-LSH config choice, paying a count
    job ONLY when the input could possibly cross the adaptive
    threshold — verification scales stay zero-extra-jobs. The probe is
    the exact parquet-footer row count (local paths; the corpus is
    base rows + predicate clones ≤ 2x base rows, so 2·rows < threshold
    PROVES the floor config is right). Unknown footers (remote store,
    unreadable path) pay the count job: the gate is an optimization
    and must never silently pin the floor config."""
    rows = _footer_rows(raw.sparkSession, f"{sf_dir}/{table}.parquet")
    if rows is not None and 2 * rows < threshold_rows:
        return 0
    return count_fn(raw)


def _doc_corpus_n(spark, sf_dir: str) -> int:
    """Document-corpus size (base + clones) for ``simhash_lsh_config``
    — same footer-rows gate as the embedding config."""
    raw = load_table(spark, sf_dir, "documents").select("doc_id")

    def count(raw):
        cnt = raw.agg(
            F.count("*").alias("n"),
            F.count_if(F.col("doc_id") % 50 == 0).alias("nc"),
        ).first()
        return int(cnt["n"] + cnt["nc"])

    return _corpus_n_gated(
        raw, sf_dir, "documents", count, dedup_ops._SIMHASH_ADAPTIVE_MIN_N
    )


def _emb_corpus_n(raw, sf_dir: str) -> int:
    """Embedding-corpus size (base + clones) for ``_emb_lsh_config``."""

    def count(raw):
        cnt = _sem_k_agg(raw).first()
        return int(cnt["n"] + cnt["nc"])

    return _corpus_n_gated(raw, sf_dir, "embeddings", count, _EMB_ADAPTIVE_MIN_N)


def _emb_near_dup_pairs(
    emb,
    bits: int,
    bands: int,
    planes: list[list[float]],
    hot_bucket_min: int = dedup_ops.HOT_BUCKET_MIN,
):
    """The banded-LSH near-dup pipeline at an explicit (bits, bands,
    planes) config — split out so the recall test can drive the
    ADAPTIVE config on fixture data, where exact all-pairs truth is
    computable.

    Buckets past ``hot_bucket_min`` rows are routed to
    ``dedup_ops.hot_bucket_cosine_candidates`` (blocked-BLAS prune at
    0.9499, strictly below the 0.95-on-4-decimals verify minus any
    float64 summation-order difference) instead of the pair-expanding
    band self-join; every surviving candidate still flows through the
    SAME exact verify expression below, so the split is
    result-invariant — pinned by ``tests/test_lsh_recall.py`` both
    ways (forced-hot vs forced-cold pair sets identical). The routing
    is a cost knee, not an anomaly gate (see ``HOT_BUCKET_MIN``):
    driver-gate and bench corpora (occupancy 4-8) stay fully
    declarative, mid-scale dense buckets take the kernel (20x dir:
    28.2 -> 6.2 s uniform), and concentrated corpora — boilerplate
    embeddings packed into one cone, the case the r11 skew audit
    caught at 6.18x — collapse to ~1.02x of uniform
    (tools/skew_audit.py lsh_skew, SCALING.md r11)."""
    sig = emb.withColumn("sig", vectors.hyperplane_signature(F.col("embedding"), planes))
    # materialize the tiny (vec_id, band, bkey) frame before the
    # self-join: each signature is bits*bands dot products over the
    # embedding, and without the checkpoint BOTH join sides recompute
    # them (the same double-evaluation dedup_simhash's verify had)
    bands_df = sig.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.substring("sig", i * bits + 1, bits).alias("bkey"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("c"),
    ).select("vec_id", "c.band", "c.bkey").localCheckpoint(eager=False)
    # Oversized buckets (concentrated corpora only — see docstring)
    # take the blocked-BLAS path; the band self-join runs on the rest.
    # The bucket-size frame is tiny (one row per occupied bucket) and
    # eagerly materialized so the hot/cold split doesn't re-run the
    # banding; hot_keys is empty on every uniform corpus, making the
    # anti-join a broadcast no-op.
    hot_keys = (
        bands_df.groupBy("band", "bkey")
        .agg(F.count("*").alias("__bc"))
        .where(F.col("__bc") > hot_bucket_min)
        .localCheckpoint(eager=True)
    )
    cold = bands_df.join(
        F.broadcast(hot_keys.select("band", "bkey")), ["band", "bkey"], "left_anti"
    )
    left = cold.select(F.col("vec_id").alias("vec_a"), "band", "bkey")
    right = cold.select(F.col("vec_id").alias("vec_b"), "band", "bkey")
    cand = (
        left.join(right, ["band", "bkey"])
        .where(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .unionByName(
            dedup_ops.hot_bucket_cosine_candidates(
                bands_df, hot_keys, emb.select("vec_id", "embedding"), 0.9499
            )
        )
        .distinct()
    )
    # verify with norms hoisted once per side (r10; bit-identical —
    # the division sees the same doubles as the inline cosine)
    embn = emb.withColumn("__n", vectors.norm(F.col("embedding")))
    pairs = (
        cand.join(
            embn.select(
                F.col("vec_id").alias("vec_a"),
                F.col("embedding").alias("ea"),
                F.col("__n").alias("na"),
            ),
            "vec_a",
        )
        .join(
            embn.select(
                F.col("vec_id").alias("vec_b"),
                F.col("embedding").alias("eb"),
                F.col("__n").alias("nb"),
            ),
            "vec_b",
        )
        .withColumn(
            "cos_sim",
            F.round(
                vectors.dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb")), 4
            ),
        )
    )
    return pairs.where(F.col("cos_sim") >= 0.95).select("vec_a", "vec_b", "cos_sim")


@register(
    "dedup_embedding_cosine",
    oracle=f"""
WITH {_EMB_SQL},
sig AS (
  SELECT vec_id, embedding,
         {vectors.hyperplane_signature_sql('embedding', _EMB_PLANES)} AS sig
  FROM emb
),
bands AS (
  SELECT vec_id, band, substr(sig, band * {_EMB_BITS} + 1, {_EMB_BITS}) AS bkey
  FROM sig CROSS JOIN (SELECT unnest(range({_EMB_BANDS})) AS band)
),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bkey = b.bkey AND a.vec_id < b.vec_id
),
pairs AS (
  SELECT c.vec_a, c.vec_b,
         {vectors.cosine_rounded_sql("ea.embedding", "eb.embedding", 4)} AS cos_sim
  FROM cand c
  JOIN emb ea ON ea.vec_id = c.vec_a
  JOIN emb eb ON eb.vec_id = c.vec_b
)
SELECT vec_a, vec_b, cos_sim FROM pairs WHERE cos_sim >= 0.95
""",
    survey_ref="training-data: embedding near-dup",
)
def dedup_embedding_cosine(spark, sf_dir):
    """Embedding near-duplicate pairs (cosine >= 0.95) via banded
    hyperplane LSH (VERDICT r02 item 5 — the all-pairs self-join is
    gone): each vector gets a 64-bit sign signature, candidates meet
    on an 8x8-bit band equi-join, and exact cosine verifies only the
    collision-bounded candidate set. The signature is a pure column
    expression (zip_with/aggregate dots, JVM-side) and the oracle
    computes the identical signature — sign bits on the
    SIGN_DECIMALS-rounded dot product (r04), so a last-ULP summation-
    order difference can't diverge the candidate sets — and both
    engines see the same candidates; tests/test_lsh_recall.py
    additionally pins recall against the exact all-pairs set, which
    engine parity alone cannot. At 100 TB: the band key is ADAPTIVE
    (``_emb_lsh_config``) — a fixed 8-bit key means a fixed 256-bucket
    space whose occupancy (and the n^2/2^bits candidate term) grows
    with the corpus, so past n = 2^16 = 65,536 vectors bits grows with
    log2(n/32) to hold occupancy <= 32 and bands grows to hold
    >= 99% recall at the 0.95-cosine design point; every verification
    scale stays on the floor 8x8 config the oracle renders.
    Embeddings re-join the candidate pairs by id, so full vectors
    cross the wire only for verified candidates."""
    raw = load_embeddings(spark, sf_dir)
    e = repartition_for_compute(raw)
    # clone expansion as ONE generator pass instead of base-UNION-clones:
    # the union form read the corpus twice (two subtrees over the same
    # scan) and, worse, Union constraint rewriting over two branches of
    # one cached relation is the attribute-id-sensitive Spark seam that
    # intermittently kills a downstream localCheckpoint with
    # "NoSuchElementException: key not found: embedding#N" (reproduced:
    # toPandas-read the same parquet first, then build the banded
    # pipeline). Row set is identical: every row keeps vec_id, and
    # vec_id%50==0 rows additionally emit vec_id+100000.
    emb = e.select(
        F.explode(
            F.when(
                F.col("vec_id") % 50 == 0,
                F.array(F.col("vec_id"), F.col("vec_id") + F.lit(100000)),
            ).otherwise(F.array(F.col("vec_id")))
        ).alias("vec_id"),
        "embedding",
    )
    bits, bands, planes = _emb_lsh_config(_emb_corpus_n(raw, sf_dir))
    return _emb_near_dup_pairs(emb, bits, bands, planes)


# ---------------------------------------------------------------------------
# Train/test contamination check (cross-corpus shingle overlap)
# ---------------------------------------------------------------------------


_BENCH_CAP = 500  # fixed benchmark universe: constant 50 docs at ANY corpus scale


@register(
    "contamination_check",
    oracle=f"""
WITH bench AS (
  SELECT doc_id, text FROM documents
  WHERE doc_id % 10 = 0 AND doc_id < {_BENCH_CAP}
),
corpus AS (
  SELECT doc_id, text FROM documents WHERE NOT (doc_id % 10 = 0 AND doc_id < {_BENCH_CAP})
  UNION ALL
  SELECT doc_id + 200000 AS doc_id, text FROM bench
),
bw AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '{textual.WS_REGEX}') AS w FROM bench
),
bsh AS (SELECT DISTINCT unnest({textual.word_shingles_sql('w', 3)}) AS shingle FROM bw),
cw AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '{textual.WS_REGEX}') AS w FROM corpus
),
csh AS (
  SELECT DISTINCT doc_id, unnest({textual.word_shingles_sql('w', 3)}) AS shingle
  FROM cw
),
counts AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles FROM csh GROUP BY doc_id),
hits AS (
  SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_overlap
  FROM csh c WHERE EXISTS (SELECT 1 FROM bsh b WHERE b.shingle = c.shingle)
  GROUP BY c.doc_id
)
SELECT h.doc_id, n.n_shingles, h.n_overlap,
       h.n_overlap::DOUBLE / n.n_shingles AS contamination
FROM hits h JOIN counts n ON n.doc_id = h.doc_id
WHERE h.n_overlap::DOUBLE / n.n_shingles >= 0.8
""",
    survey_ref="training-data: benchmark contamination check (cross-corpus "
    "shingle overlap)",
)
def contamination_check(spark, sf_dir):
    """Train/test contamination — flag training documents whose 3-gram
    shingles are mostly contained in a held-out benchmark set (planted
    here by cloning the benchmark docs into the corpus at +200000, so
    both engines must find exactly those clones plus any natural
    overlap). The benchmark universe is a FIXED key range (doc_id <
    500, every 10th: 50 docs at any sf) — a held-out benchmark does
    not grow with the training corpus, and modeling it as a corpus
    percentage made the r06 sf1 smoke broadcast a 10x benchmark set
    (verdict item 1); with the cap, corpus scale-up grows only the
    probe side, linearly. The scalable shape: the benchmark shingle
    set is small by construction — it broadcasts — and the corpus side
    is ONE pass: a broadcast left join marks each corpus shingle as
    benchmark-hit or not, then a single map-side-combinable groupBy
    computes the shingle count and the overlap count together (the
    r03 plan scanned the corpus shingles twice through a persist;
    this one never caches). Corpus text never shuffles. The
    contamination fraction is an exact integer ratio, so the double
    is bit-identical across engines."""
    return _contamination_plan(spark, sf_dir)


def _contamination_plan(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    is_bench = (F.col("doc_id") % 10 == 0) & (F.col("doc_id") < _BENCH_CAP)
    bench = d.where(is_bench)
    corpus = d.where(~is_bench).unionByName(
        bench.withColumn("doc_id", F.col("doc_id") + F.lit(200000))
    )
    w = textual.words(F.trim(F.col("text")))
    bsh = (
        bench.select(
            F.explode(
                F.array_distinct(F.filter(textual.word_shingles(w, 3), lambda s: s != ""))
            ).alias("shingle")
        )
        .distinct()  # cross-doc distinct still needed for the broadcast set
        .withColumn("hit", F.lit(1))
    )
    # per-doc-distinct corpus shingles computed in-row (the
    # _doc_shingles pattern) — single consumer, so no persist
    shingles = F.array_distinct(
        F.filter(textual.word_shingles(w, 3), lambda s: s != "")
    )
    csh = repartition_for_compute(corpus).select(
        "doc_id", F.explode(shingles).alias("shingle")
    )
    return (
        csh.join(F.broadcast(bsh), "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_shingles"),
            F.count("hit").cast("long").alias("n_overlap"),
        )
        .withColumn("contamination", F.col("n_overlap") / F.col("n_shingles"))
        .where(F.col("contamination") >= 0.8)
        .select("doc_id", "n_shingles", "n_overlap", "contamination")
    )


# ---------------------------------------------------------------------------
# Incremental dedup: new batch vs existing corpus (MinHash LSH semi-join)
# ---------------------------------------------------------------------------

@register(
    "dedup_incremental",
    oracle=f"""
WITH corpus AS (SELECT doc_id, text FROM documents),
batch AS (
  SELECT doc_id + 300000 AS batch_id, text FROM documents WHERE doc_id % 50 = 0
  UNION ALL
  SELECT doc_id + 400000 AS batch_id, substr(text, 1, length(text) // 2) AS text
  FROM documents WHERE doc_id % 50 = 25
),
cw AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '{textual.WS_REGEX}') AS w FROM corpus
),
csh AS (
  SELECT DISTINCT doc_id, unnest({textual.word_shingles_sql('w', 3)}) AS shingle
  FROM cw
),
csh2 AS (SELECT doc_id, shingle FROM csh WHERE shingle <> ''),
bw AS (
  SELECT batch_id, regexp_split_to_array(trim(text), '{textual.WS_REGEX}') AS w FROM batch
),
bsh AS (
  SELECT DISTINCT batch_id, unnest({textual.word_shingles_sql('w', 3)}) AS shingle
  FROM bw
),
bsh2 AS (SELECT batch_id, shingle FROM bsh WHERE shingle <> ''),
csig AS (SELECT doc_id, {_sig_sql()} FROM csh2 GROUP BY doc_id),
bsig AS (SELECT batch_id, {_sig_sql()} FROM bsh2 GROUP BY batch_id),
cbands AS ({_bands_sql('csig', 'doc_id')}),
bbands AS ({_bands_sql('bsig', 'batch_id')}),
cand AS (
  SELECT DISTINCT b.batch_id, c.doc_id
  FROM bbands b JOIN cbands c
    ON c.band_idx = b.band_idx AND c.band_key = b.band_key
),
ccounts AS (SELECT doc_id, count(*) AS n FROM csh2 GROUP BY doc_id),
bcounts AS (SELECT batch_id, count(*) AS n FROM bsh2 GROUP BY batch_id),
common AS (
  SELECT c.batch_id, c.doc_id, count(*) AS c
  FROM cand c
  JOIN bsh2 sb ON sb.batch_id = c.batch_id
  JOIN csh2 sc ON sc.doc_id = c.doc_id AND sc.shingle = sb.shingle
  GROUP BY c.batch_id, c.doc_id
),
scored AS (
  SELECT m.batch_id, m.doc_id,
         round(m.c::DOUBLE / (cb.n + cc.n - m.c), 6) AS jaccard
  FROM common m
  JOIN bcounts cb ON cb.batch_id = m.batch_id
  JOIN ccounts cc ON cc.doc_id = m.doc_id
  WHERE m.c::DOUBLE / (cb.n + cc.n - m.c) >= 0.7
),
best AS (
  SELECT batch_id, doc_id, jaccard FROM (
    SELECT batch_id, doc_id, jaccard,
           row_number() OVER (PARTITION BY batch_id
                              ORDER BY jaccard DESC, doc_id) AS rn
    FROM scored
  ) WHERE rn = 1
)
SELECT b.batch_id, s.doc_id AS matched_doc_id, s.jaccard,
       s.doc_id IS NOT NULL AS is_duplicate
FROM batch b LEFT JOIN best s USING (batch_id)
""",
    survey_ref="training-data: incremental dedup (new batch vs existing corpus)",
)
def dedup_incremental(spark, sf_dir):
    """Incremental dedup — the shape a continuously-ingesting pipeline
    actually runs: a small NEW batch is checked against the big
    EXISTING corpus, not corpus-vs-itself. Planted batch: exact
    re-submissions of corpus docs (doc_id%50==0, must match at
    jaccard 1.0) plus half-truncated variants (doc_id%50==25, whose
    ~0.5 jaccard must NOT clear the 0.7 bar). MinHash band keys on
    both sides; candidates come from the batch-bands x corpus-bands
    equi-join, verification joins shingles of candidate docs only.
    At 100 TB the corpus band keys are a precomputed index (bucketed
    parquet in the real sink — storage.py); the batch side is tiny and
    broadcast everywhere, so the corpus text and shingles never
    shuffle and per-batch cost tracks band collisions, not corpus
    size. Best match per batch doc via one row_number over the
    (tiny) scored candidate set; left join back marks non-duplicates."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = d
    batch = (
        d.where(F.col("doc_id") % 50 == 0)
        .select((F.col("doc_id") + 300000).alias("batch_id"), "text")
        .unionByName(
            d.where(F.col("doc_id") % 50 == 25).select(
                (F.col("doc_id") + 400000).alias("batch_id"),
                F.expr("substring(text, 1, length(text) div 2)").alias("text"),
            )
        )
    )
    csh = _doc_shingles(corpus, 3)
    w = textual.words(F.trim(F.col("text")))
    bsh = (
        batch.select(
            "batch_id",
            F.explode(
                F.array_distinct(F.filter(textual.word_shingles(w, 3), lambda s: s != ""))
            ).alias("shingle"),
        )
        .persist()
    )
    # one row per doc; materialized because counts and bands are
    # separate consumers that would otherwise re-run the signature
    # aggregation over the full shingle set (same reuse
    # dedup_minhash_lsh pins)
    csig = dedup_ops.minhash_signature(
        csh, "doc_id", "shingle", _N_HASHES, with_count=True
    ).localCheckpoint(eager=False)
    bsig = dedup_ops.minhash_signature(
        bsh, "batch_id", "shingle", _N_HASHES, with_count=True
    ).localCheckpoint(eager=False)
    ccounts = csig.select("doc_id", F.col("n").alias("nc"))
    bcounts = bsig.select("batch_id", F.col("n").alias("nb"))
    cbands = dedup_ops.band_keys(csig.drop("n"), "doc_id", _N_HASHES, _BAND_SIZE)
    bbands = dedup_ops.band_keys(bsig.drop("n"), "batch_id", _N_HASHES, _BAND_SIZE)
    cand = (
        cbands.join(F.broadcast(bbands), ["band_idx", "band_key"])
        .select("batch_id", "doc_id")
        .distinct()
        .localCheckpoint(eager=True)
    )
    cand_corpus_ids = cand.select("doc_id").distinct()
    csh_cand = csh.join(F.broadcast(cand_corpus_ids), "doc_id", "left_semi")
    sb = bsh.select("batch_id", F.col("shingle").alias("sh_b"))
    sc = csh_cand.select(F.col("doc_id").alias("cd"), F.col("shingle").alias("sh_c"))
    common = (
        cand.join(sb, "batch_id")
        .join(sc, (F.col("doc_id") == F.col("cd")) & (F.col("sh_b") == F.col("sh_c")))
        .groupBy("batch_id", "doc_id")
        .agg(F.count("*").alias("c"))
    )
    jac = F.col("c").cast("double") / (F.col("nb") + F.col("nc") - F.col("c"))
    scored = (
        common.join(bcounts, "batch_id")
        .join(ccounts, "doc_id")
        .where(jac >= 0.7)
        .select("batch_id", "doc_id", F.round(jac, 6).alias("jaccard"))
    )
    rn = Window.partitionBy("batch_id").orderBy(F.col("jaccard").desc(), "doc_id")
    best = scored.withColumn("rn", F.row_number().over(rn)).where(F.col("rn") == 1)
    result = (
        batch.select("batch_id")
        .join(best.select("batch_id", "doc_id", "jaccard"), "batch_id", "left")
        .select(
            "batch_id",
            F.col("doc_id").alias("matched_doc_id"),
            "jaccard",
            F.col("doc_id").isNotNull().alias("is_duplicate"),
        )
    )
    return materialize_and_release(result, csh, bsh, csig, bsig, cand)


# ---------------------------------------------------------------------------
# Exact-substring contamination (char n-grams; complements the word-shingle
# contamination_check the way Lee et al. 2021's exact-substring dedup
# complements MinHash)
# ---------------------------------------------------------------------------

_SUB_N = 30  # char n-gram length
_SUB_MIN_HITS = 3  # flag docs sharing at least this many distinct grams


@register(
    "contamination_substring",
    oracle=f"""
WITH bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0
  UNION ALL
  SELECT doc_id + 500000 AS doc_id, substr(text, 50, 200) AS text FROM bench
),
bg AS (
  SELECT DISTINCT unnest([substr(text, i, {_SUB_N})
                          FOR i IN range(1, length(text) - {_SUB_N - 2})]) AS gram
  FROM bench WHERE length(text) >= {_SUB_N}
),
cg AS (
  SELECT DISTINCT doc_id, unnest([substr(text, i, {_SUB_N})
                                  FOR i IN range(1, length(text) - {_SUB_N - 2})]) AS gram
  FROM corpus WHERE length(text) >= {_SUB_N}
),
counts AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams FROM cg GROUP BY doc_id),
hits AS (
  SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_hit
  FROM cg c WHERE EXISTS (SELECT 1 FROM bg b WHERE b.gram = c.gram)
  GROUP BY c.doc_id
)
SELECT n.doc_id, n.n_grams,
       COALESCE(h.n_hit, 0) AS n_hit,
       COALESCE(h.n_hit, 0) >= {_SUB_MIN_HITS} AS flagged
FROM counts n LEFT JOIN hits h USING (doc_id)
""",
    survey_ref="training-data: exact-substring contamination (char n-grams, "
    "Lee et al. 2021 style)",
)
def contamination_substring(spark, sf_dir):
    """Exact-substring benchmark contamination: flag corpus documents
    sharing >= 3 distinct verbatim 30-char spans with the held-out
    benchmark set — catches copied passages even when the surrounding
    text differs enough to defeat word-shingle Jaccard (the planted
    contamination here is a 200-char excerpt of each benchmark doc,
    invisible to whole-doc similarity). Same scale shape as
    contamination_check: the benchmark gram set is small by definition
    and broadcasts; the corpus side is one explode + distinct + a
    broadcast semi-join + two map-side-combinable counts — corpus text
    never shuffles. Char grams explode ~len(text) rows per doc, so the
    production run dictionaries/bloom-filters the benchmark set; the
    dataflow is identical."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    bench = d.where(F.col("doc_id") % 10 == 0)
    corpus = d.where(F.col("doc_id") % 10 != 0).unionByName(
        bench.select(
            (F.col("doc_id") + 500000).alias("doc_id"),
            F.expr("substring(text, 50, 200)").alias("text"),
        )
    )
    # char-gram extraction SPLITS THE TEXT TO A CHAR ARRAY ONCE and
    # slices it positionally (r13 lambda-quadratic sweep): the old
    # per-element ``substring(text, i, N)`` re-scans the UTF8String
    # from byte 0 to locate char i, O(len^2) per document — measured
    # 1.6/3.8/15.8 s for ONE 20k/40k/80k-char string; a book-length
    # doc would take ~an hour in one task. ``slice`` on the projected
    # array is positional, O(N) per gram; values identical, unicode
    # included (codepoint units both ways — the emoji/CJK corpus in
    # tests/test_unicode_parity.py pins this query on exactly that).
    grams = F.expr(
        f"array_distinct(transform(sequence(1, size(ch) - {_SUB_N - 1}), "
        f"i -> array_join(slice(ch, i, {_SUB_N}), '')))"
    )

    def _char_grams(frame):
        return frame.where(F.length("text") >= _SUB_N).select(
            "doc_id", F.split(F.col("text"), "").alias("ch")
        )

    bg = (
        _char_grams(bench)
        .select(F.explode(grams).alias("gram"))
        .distinct()  # cross-doc distinct still needed for the broadcast set
    )
    # ONE pass over the corpus gram stream (r15, guide §2.3/§2.4): the
    # r14 form persisted cg and consumed it twice (a count aggregate
    # and a broadcast-semi-join hit aggregate), then outer-joined the
    # two 1-row-per-doc frames back together. Because bg is DISTINCT
    # on gram, a broadcast LEFT join preserves every cg row exactly
    # once with a hit marker attached, so one aggregation computes
    # n_grams (count of rows) and n_hit (count of markers) together —
    # the second cg pass, the persist, and the counts-hits join all
    # disappear, and n_hit counts to 0 naturally where the old form
    # coalesced a null.
    cg = repartition_for_compute(_char_grams(corpus)).select(
        "doc_id", F.explode(grams).alias("gram")
    )
    marked = cg.join(
        F.broadcast(bg.withColumn("__hit", F.lit(1))), "gram", "left"
    )
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.count("__hit").cast("long").alias("n_hit"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_hit",
            (F.col("n_hit") >= _SUB_MIN_HITS).alias("flagged"),
        )
    )


# ---------------------------------------------------------------------------
# Corpus-internal repeated n-gram inventory (exact-substring dedup discovery)
# ---------------------------------------------------------------------------

_SPAN_N = 8  # words per span — the discovery granularity
_SPAN_TOP = 500


@register(
    "repeated_ngram_spans",
    oracle=f"""
WITH {_DOCS_SQL},
w AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '{textual.WS_REGEX}') AS w FROM docs
),
sp AS (
  SELECT doc_id, md5(unnest({textual.word_shingles_sql('w', _SPAN_N)})) AS h FROM w
),
per_doc AS (
  SELECT h, doc_id, CAST(count(*) AS BIGINT) AS c FROM sp GROUP BY h, doc_id
),
inv AS (
  SELECT h, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(c) AS BIGINT) AS n_occurrences,
         min(doc_id) AS first_doc
  FROM per_doc GROUP BY h
)
SELECT h, n_docs, n_occurrences, first_doc
FROM inv WHERE n_docs >= 2
ORDER BY n_docs DESC, n_occurrences DESC, h
LIMIT {_SPAN_TOP}
""",
    survey_ref="training-data: corpus-internal repeated-span inventory (the "
    "discovery pass of exact-substring dedup, Lee et al. 2022, at word-n-gram "
    "granularity)",
)
def repeated_ngram_spans(spark, sf_dir):
    """Inventory of 8-word spans occurring in two or more
    documents — the discovery pass of exact-substring training-data
    dedup (suffix-array dedup's output, reformulated at n-gram
    granularity so it is one dataflow instead of a suffix array).
    Planted clones guarantee hits; natural boilerplate surfaces too.

    Shuffle story: spans are md5-hashed IN the row, so only 32-byte
    keys ever shuffle — never the text. Two map-side-combinable
    aggregates ((h, doc) then h), and the top-500 is a
    TakeOrderedAndProject heap merge with a full tie-break so both
    engines pick the identical set. At 100 TB nothing in the plan
    holds more than one span's hash per row."""
    docs = _docs_plus_clones(spark, sf_dir)
    w = textual.words(F.trim(F.col("text")))
    sp = repartition_for_compute(docs).select(
        "doc_id",
        F.explode(textual.word_shingles(w, _SPAN_N)).alias("span"),
    ).select("doc_id", F.md5("span").alias("h"))
    per_doc = sp.groupBy("h", "doc_id").agg(F.count("*").cast("long").alias("c"))
    inv = per_doc.groupBy("h").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("c").cast("long").alias("n_occurrences"),
        F.min("doc_id").alias("first_doc"),
    )
    return (
        inv.where(F.col("n_docs") >= 2)
        .orderBy(F.col("n_docs").desc(), F.col("n_occurrences").desc(), "h")
        .limit(_SPAN_TOP)
    )


# ---------------------------------------------------------------------------
# SemDeDup: cluster-scoped semantic dedup over embeddings
# ---------------------------------------------------------------------------

# Centroid count DERIVES from the corpus so per-cluster size stays
# bounded (~_SEM_TARGET members) — with a fixed K, intra-cluster
# pairwise work grows quadratically in the corpus (measured before
# the fix: 16.5x wall-clock for 10x data, the full-registry 10x sweep's
# only >10x ratio). The floor keeps K=16 at every verification scale
# (N=510 at sf0.001/0.01, N=2040 at sf0.1 -> 2040//125=16), so results
# are unchanged where the gate looks; at the 10x point K=163 and
# cluster sizes stay ~125.
_SEM_K_MIN = 16
_SEM_TARGET = 125  # target members per cluster
_SEM_TAU = 0.95


def _sem_k_agg(e):
    """The K-derivation aggregate: base-table row count plus the count
    of rows the clone pass will add (vec_id % 50 == 0), in ONE 1-row
    map-side-combined aggregate over the BASE table — VERDICT r08
    item 5: the pre-r09 form counted the materialized corpus+clones
    UNION, scanning the embeddings twice for one integer. Plan pinned
    in tests/test_plans.py (single scan, no Union)."""
    return e.agg(
        F.count("*").alias("n"),
        F.count(F.when(F.col("vec_id") % 50 == 0, 1)).alias("nc"),
    )


def _sem_k(e) -> int:
    cnt = _sem_k_agg(e).first()
    return max(_SEM_K_MIN, (cnt["n"] + cnt["nc"]) // _SEM_TARGET)


@register(
    "semdedup_clusters",
    oracle=f"""
WITH {_EMB_SQL},
seeds AS (
  SELECT vec_id AS centroid_id, embedding AS ce FROM emb ORDER BY vec_id
  LIMIT (SELECT greatest({_SEM_K_MIN}, count(*) // {_SEM_TARGET}) FROM emb)
),
assign0 AS (
  SELECT e.vec_id, e.embedding, s.centroid_id,
         {vectors.cosine_rounded_sql('e.embedding', 's.ce', 4)} AS ccos
  FROM emb e CROSS JOIN seeds s
),
cell AS (
  SELECT vec_id, embedding, centroid_id FROM (
    SELECT vec_id, embedding, centroid_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, centroid_id) AS rn
    FROM assign0
  ) WHERE rn = 1
),
dup AS (
  SELECT b.vec_id, min(a.vec_id) AS dup_of
  FROM cell a JOIN cell b
    ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
  WHERE {vectors.cosine_rounded_sql('a.embedding', 'b.embedding', 4)} >= {_SEM_TAU}
  GROUP BY b.vec_id
)
SELECT c.vec_id, c.centroid_id, (d.vec_id IS NOT NULL) AS is_dup, d.dup_of
FROM cell c LEFT JOIN dup d ON d.vec_id = c.vec_id
""",
    survey_ref="training-data: SemDeDup (Abbas et al. 2023) — cluster-scoped "
    "semantic dedup; keep the lowest-id representative per cosine ball",
)
def semdedup_clusters(spark, sf_dir):
    """SemDeDup: k-means-cluster the embeddings (deterministic seed
    centroids — the K lowest vec_ids, K = max(16, N // 125) so cluster
    size stays ~bounded BY CONSTRUCTION as the corpus grows — so the
    oracle replays assignment bit-for-bit; production runs Lloyd
    rounds through ann_ivf_lloyd's identical assign pass), then WITHIN
    each cluster mark every vector whose cosine to a lower-id member
    is >= tau as a duplicate of the smallest such member. Pairwise
    cost is scoped to a cluster, never the corpus — which is exactly
    why SemDeDup beats corpus-wide pairwise at scale. The assign pass
    is ``operators.assign.nearest_centroids``: small K broadcasts the
    seed frame; past the measured crossover (AUTO_SHUFFLE_MIN_K = 240;
    K = N/125 crosses it at N = 30k) auto routes to the cogrouped
    blocked-matmul kernel (r11) with identical results — the N x K
    compare becomes executor-local BLAS FLOPs instead of materialized
    pair rows, which is how SemDeDup's own paper pays the isotropic
    floor (the r10 100x octave measured BOTH pair-row modes within
    0.1% of each other at 160-437 s there; the kernel runs the same
    dir in 14.9 s — SCALING.md r11); past the 64k broadcast capacity
    the two-level shuffled equi-join keeps K out of every task, with
    triangle-inequality pruning ~constant per vector whenever the
    corpus actually clusters. K derives
    from ONE 1-row aggregate over the base table (count + clone
    count), not a count of the materialized union. The cluster frame
    feeds both sides of the pairwise join plus the final flag join, so
    it persists for the run and the result materializes before
    release."""
    raw = load_embeddings(spark, sf_dir)
    e = repartition_for_compute(raw)
    clones = e.where(F.col("vec_id") % 50 == 0).withColumn(
        "vec_id", F.col("vec_id") + F.lit(100000)
    )
    emb = e.unionByName(clones)
    # K from the PRE-repartition frame: the round-robin exchange buys
    # nothing for a 1-row count and would shuffle the pruned corpus
    k = _sem_k(raw)
    seeds = (
        emb.orderBy("vec_id")
        .limit(k)
        .select(F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("ce"))
    )
    # per-vector norm computed ONCE before the within-cluster pairwise
    # join (r10): the inline cosine folds dot + both norms per PAIR —
    # 3x the arithmetic — and codegen cannot hoist a norm across the
    # join. dot/(n_a * n_b) over precomputed norms is bit-identical.
    cell = (
        assign.nearest_centroids(emb, seeds, k_hint=k, n_best=1)
        .select("vec_id", "embedding", "centroid_id")
        .withColumn("__n", vectors.norm(F.col("embedding")))
        .persist()
    )
    a = cell.select(
        F.col("centroid_id").alias("ca"),
        F.col("vec_id").alias("va"),
        F.col("embedding").alias("ea"),
        F.col("__n").alias("na"),
    )
    pair_cos = F.round(
        vectors.dot(F.col("ea"), F.col("embedding")) / (F.col("na") * F.col("__n")), 4
    )
    dup = (
        cell.join(a, (F.col("ca") == F.col("centroid_id")) & (F.col("va") < F.col("vec_id")))
        .where(pair_cos >= _SEM_TAU)
        .groupBy("vec_id")
        .agg(F.min("va").alias("dup_of"))
    )
    result = cell.join(dup.withColumnRenamed("vec_id", "vd"), cell.vec_id == F.col("vd"), "left").select(
        "vec_id",
        "centroid_id",
        F.col("vd").isNotNull().alias("is_dup"),
        "dup_of",
    )
    return materialize_and_release(result, cell)


# --- KMV bottom-k sketch: cross-source overlap estimation -------------------

_KMV_K = 64
_KMV_SALTS = 32


@register(
    "source_overlap_kmv",
    oracle=f"""
WITH words AS (
  SELECT source, regexp_split_to_array(trim(text), '{textual.WS_REGEX}') AS w FROM documents
),
sh AS (
  SELECT DISTINCT source, md5(s) AS h
  FROM (SELECT source, unnest([w[i + 0] || ' ' || w[i + 1] || ' ' || w[i + 2] FOR i IN range(1, greatest(len(w) - 2, 0) + 1)]) AS s FROM words)
  WHERE s <> ''
),
ranked AS (
  SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rn FROM sh
),
sk AS (SELECT source, h FROM ranked WHERE rn <= {_KMV_K}),
srcs AS (SELECT DISTINCT source FROM sk),
pairs AS (
  SELECT a.source AS sa, b.source AS sb FROM srcs a JOIN srcs b ON a.source < b.source
),
u AS (
  SELECT p.sa, p.sb, s.h FROM pairs p
  JOIN sk s ON s.source = p.sa OR s.source = p.sb
  GROUP BY p.sa, p.sb, s.h
),
uk AS (
  SELECT sa, sb, h, row_number() OVER (PARTITION BY sa, sb ORDER BY h) AS rn FROM u
),
ukk AS (SELECT sa, sb, h FROM uk WHERE rn <= {_KMV_K}),
both_k AS (
  SELECT k.sa, k.sb, count(*) AS n_both FROM ukk k
  JOIN sk x ON x.source = k.sa AND x.h = k.h
  JOIN sk y ON y.source = k.sb AND y.h = k.h
  GROUP BY k.sa, k.sb
),
kk AS (SELECT sa, sb, count(*) AS k_used FROM ukk GROUP BY sa, sb)
SELECT kk.sa AS source_a, kk.sb AS source_b,
       round(COALESCE(both_k.n_both, 0)::DOUBLE / kk.k_used, 6) AS est_jaccard,
       kk.k_used
FROM kk LEFT JOIN both_k ON both_k.sa = kk.sa AND both_k.sb = kk.sb
""",
    survey_ref="T-sketch KMV overlap",
)
def source_overlap_kmv(spark, sf_dir):
    """Cross-source corpus overlap via KMV (bottom-k) sketches over
    3-gram shingle hashes — the mergeable-sketch answer to "how much do
    my 20 ingest feeds duplicate each other?" without ever joining
    corpus text against corpus text.

    Scale shape (the whole point of KMV at 100 TB):

    * the corpus is read ONCE, shingled, hashed, and reduced to
      ``K`` = 64 hashes per source — every later step runs on a
      ``|sources| x K`` frame, independent of corpus size;
    * bottom-k is computed with BOUNDED state: distinct (source, hash)
      -> per-(source, salt-of-32) ``row_number() <= K`` (the window
      sort is a spillable shuffle sort, state O(1)) -> merge the
      ``<= 32*K`` survivors per source. No ``collect_set`` over an
      unbounded group anywhere;
    * two-phase bottom-k is EXACT (the global bottom-k is contained in
      the union of per-salt bottom-k), so the DuckDB oracle can
      reproduce the estimate bit-for-bit with a plain window — this
      sketch is hash-verified, not bound-checked;
    * pairwise estimates join the tiny sketch frame against itself
      (``<= |sources|^2`` rows), est = |bottom-k(A ∪ B) ∩ A ∩ B| / k'
      — the standard KMV Jaccard estimator (k' = |bottom-k(A ∪ B)|
      caps at K; sources with fewer distinct shingles use their exact
      set, where the estimator degrades to exact Jaccard).
    """
    docs = repartition_for_compute(
        load_table(spark, sf_dir, "documents").select("source", "text")
    )
    w = textual.words(F.trim(F.col("text")))
    shingles = F.array_distinct(
        F.filter(textual.word_shingles(w, 3), lambda s: s != "")
    )
    h = (
        docs.select("source", F.explode(shingles).alias("s"))
        .select("source", F.md5("s").alias("h"))
        .distinct()
    )
    per_salt = Window.partitionBy("source", "salt").orderBy("h")
    survivors = (
        h.withColumn("salt", F.pmod(F.crc32("h"), F.lit(_KMV_SALTS)))
        .withColumn("rn", F.row_number().over(per_salt))
        .where(F.col("rn") <= _KMV_K)
    )
    # sk is |sources| rows (tiny by definition) but BOTH sides of the
    # pairwise self-join below consume it — without materialization the
    # whole corpus pipeline (scan, shingle explode, distinct, bottom-k
    # windows) executed twice, once per join side (r14; the before-plan
    # shows 2 scans / 2 windows / 2 Generates, no ReusedExchange). The
    # eager checkpoint caps that at one pass.
    sk = survivors.groupBy("source").agg(
        F.slice(F.array_sort(F.collect_list("h")), 1, _KMV_K).alias("sk")
    ).localCheckpoint(eager=True)
    a = sk.select(F.col("source").alias("source_a"), F.col("sk").alias("sk_a"))
    b = sk.select(F.col("source").alias("source_b"), F.col("sk").alias("sk_b"))
    pairs = a.join(F.broadcast(b), F.col("source_a") < F.col("source_b"))
    unionk = F.slice(F.array_sort(F.array_union(F.col("sk_a"), F.col("sk_b"))), 1, _KMV_K)
    inter = F.array_intersect(F.col("sk_a"), F.col("sk_b"))
    return pairs.select(
        "source_a",
        "source_b",
        F.round(F.size(F.array_intersect(unionk, inter)) / F.size(unionk), 6).alias(
            "est_jaccard"
        ),
        F.size(unionk).alias("k_used"),
    )


# --- sub-document (line-level) dedup with reassembly ------------------------

_LINE_WORDS = 10


@register(
    "line_dedup_docs",
    oracle=f"""
WITH {_DOCS_SQL},
words AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '{textual.WS_REGEX}') AS w FROM docs
),
linelists AS (
  SELECT doc_id,
         [{{'idx': i - 1,
            'line': array_to_string(w[((i - 1) * {_LINE_WORDS} + 1):((i - 1) * {_LINE_WORDS} + {_LINE_WORDS})], ' ')}}
          FOR i IN range(1, CAST(ceil(len(w) / {_LINE_WORDS}.0) AS BIGINT) + 1)] AS ls
  FROM words
),
lines AS (SELECT doc_id, unnest(ls, recursive := true) FROM linelists),
flagged AS (
  SELECT doc_id, idx, line,
         (row_number() OVER (PARTITION BY md5(line) ORDER BY doc_id, idx) = 1) AS keep
  FROM lines
)
SELECT doc_id,
       md5(COALESCE(string_agg(CASE WHEN keep THEN line END, ' ' ORDER BY idx), '')) AS clean_md5,
       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       count(*) AS n_lines
FROM flagged
GROUP BY doc_id
""",
    survey_ref="T61 sub-document dedup",
)
def line_dedup_docs(spark, sf_dir):
    """Sub-document (line-level) exact dedup with reassembly — the
    Dolma/FineWeb-style pass that strips boilerplate lines repeated
    across a corpus while keeping each line's FIRST occurrence, then
    rebuilds every document from its surviving lines.

    The synthetic corpus has no newlines, so a "line" is a fixed
    10-word segment (the same segmentation ``chunk_documents`` uses);
    planted clone docs (id+100000) lose every line to their original
    and reassemble to the empty string — md5('') pins that case.

    Scale shape: lines are keyed by md5; the keep decision is
    ``row_number() = 1`` over (hash -> first (doc_id, idx)) — one
    shuffle partitioned by line hash, spillable sort, no unbounded
    state. Reassembly is a second shuffle keyed by doc_id where
    in-row ``array_sort(collect_list(struct(idx, line)))`` restores
    order without a global sort. Line text crosses the wire twice;
    a skinny-decision variant (shuffle only (hash, doc_id, idx), join
    the verdicts back) trades the first text shuffle for an extra
    join — worth it when lines are long; at 10 words they are not.
    The output ships md5 + counts per doc, never reassembled text.

    Tokenize ONCE, then slice (r13 agg-state skew audit): the word
    array must be projected to a COLUMN before the per-line
    ``transform`` lambda slices it — Catalyst does not eliminate a
    common subexpression INSIDE a lambda, so slicing the raw
    ``split(text)`` expression re-tokenized the whole document per
    line, O(words^2/line): a 100k-word document measured 146 s (and
    250k words ~15 min) in one task vs 1.7 s tokenized-once. Same
    pattern as ``chunk_documents``.
    """
    docs = _docs_plus_clones(spark, sf_dir)
    w = F.col("w")
    segs = F.transform(
        F.sequence(F.lit(0), F.ceil(F.size(w) / F.lit(float(_LINE_WORDS))).cast("long") - 1),
        lambda i: F.concat_ws(
            " ", F.slice(w, (i * _LINE_WORDS + 1).cast("int"), _LINE_WORDS)
        ),
    )
    lines = (
        docs.select("doc_id", textual.words(F.trim(F.col("text"))).alias("w"))
        .select("doc_id", F.posexplode(segs).alias("idx", "line"))
        .withColumn("h", F.md5("line"))
    )
    first = Window.partitionBy("h").orderBy("doc_id", "idx")
    flagged = lines.withColumn("keep", F.row_number().over(first) == 1)
    kept_struct = F.when(F.col("keep"), F.struct(F.col("idx"), F.col("line")))
    return flagged.groupBy("doc_id").agg(
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)), lambda x: x["line"]
                ),
            )
        ).alias("clean_md5"),
        F.sum(F.col("keep").cast("long")).alias("n_kept"),
        F.count("*").alias("n_lines"),
    )


# ---------------------------------------------------------------------------
# Exact-substring span REMOVAL (Lee et al. 2021 "Deduplicating Training
# Data Makes Language Models Better" — the removal step, word-level)
# ---------------------------------------------------------------------------

_REMOVE_SPAN_N = 5  # word n-gram span width


@register(
    "dedup_span_removal",
    oracle=f"""
WITH {_DOCS_SQL},
ws AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '{textual.WS_REGEX}'), x -> x <> '') AS w
  FROM docs
),
wp AS (
  SELECT doc_id, i AS pos, w[i + 1] AS word
  FROM ws, LATERAL (SELECT unnest(range(0, len(w))) AS i) t
),
occ AS (
  SELECT doc_id, i AS start0,
         md5(w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] || ' ' || w[i+5]) AS gkey
  FROM ws, LATERAL (SELECT unnest(range(0, greatest(len(w) - {_REMOVE_SPAN_N - 1}, 0))) AS i) t
),
firsts AS (
  SELECT gkey, doc_id AS fdoc, start0 AS fstart
  FROM (SELECT gkey, doc_id, start0,
               row_number() OVER (PARTITION BY gkey ORDER BY doc_id, start0) AS rn
        FROM occ)
  WHERE rn = 1
),
nonfirst AS (
  SELECT o.doc_id, o.start0
  FROM occ o JOIN firsts f USING (gkey)
  WHERE NOT (o.doc_id = f.fdoc AND o.start0 = f.fstart)
),
covered AS (
  SELECT DISTINCT doc_id, p AS pos
  FROM nonfirst, LATERAL (SELECT unnest(range(start0, start0 + {_REMOVE_SPAN_N})) AS p) t
),
kept AS (
  SELECT wp.doc_id, wp.pos, wp.word FROM wp ANTI JOIN covered USING (doc_id, pos)
),
clean AS (
  SELECT doc_id, string_agg(word, ' ' ORDER BY pos) AS cleaned,
         CAST(count(*) AS BIGINT) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT ws.doc_id,
       CAST(len(ws.w) AS BIGINT) AS n_words,
       CAST(coalesce(c.n_kept, 0) AS BIGINT) AS n_kept,
       md5(coalesce(c.cleaned, '')) AS clean_md5
FROM ws LEFT JOIN clean c USING (doc_id)
""",
    survey_ref="training-data: exact-substring span REMOVAL (Lee et al. "
    "2021's dedup operation itself, not just detection; word-level spans)",
)
def dedup_span_removal(spark, sf_dir):
    """Duplicated-span REMOVAL: every word position covered by a
    5-gram whose (doc, start) is not that gram's globally-first
    occurrence is cut, and each document is reassembled from its
    surviving words — the operation Lee et al. 2021 apply to
    pretraining corpora (their suffix-array substring match, expressed
    at word granularity so the semantics stay declarative). Planted
    clone docs lose every position (clean_md5 = md5('')); a doc's own
    internal repetitions beyond the first are cut too. Output is
    (doc_id, n_words, n_kept, md5(cleaned_text)) for every document.

    100 TB story: gram occurrences shuffle as (md5 16 B, two longs) —
    never text; the non-first occurrences come from ONE row_number
    window over the gram hash (r15, guide §2.4: the r14 form computed
    a min(struct(doc, start)) argmin and joined it back, which the
    full-lineage plan dump showed costing the occ subtree — explode +
    md5 — TWICE plus a Sort+SortAggregate pair, since struct mins are
    not hash-aggregable and the claimed exchange sharing never
    happened; the window is the same gkey shuffle the join needed,
    minus the second occ pass, both extra sorts and the join. Skew
    note: a hot gram lands its occurrences in one window partition,
    but the replaced sort-merge join put the SAME rows in one join
    partition — the only loss is AQE's skew-join splitting, which
    never applied to the agg side anyway; occurrences of a hot gram
    survive into ``covered`` in full on either form).
    Cover explode is bounded (x5); the keep filter is an anti join on
    (doc, pos); reassembly is a per-doc sort of that doc's own
    surviving words (collect_list + in-row array_sort — state bounded
    by document length, the same bound line_dedup_docs relies on)."""
    docs = _docs_plus_clones(spark, sf_dir)
    wf = F.filter(textual.words(F.trim(F.col("text"))), lambda x: x != "")
    base = repartition_for_compute(docs).select("doc_id", wf.alias("w")).persist()
    wp = base.select("doc_id", F.posexplode("w").alias("pos", "word"))
    occ = (
        base.select("doc_id", F.posexplode(textual.word_shingles(F.col("w"), _REMOVE_SPAN_N)).alias("start0", "gram"))
        .select("doc_id", "start0", F.md5("gram").alias("gkey"))
    )
    first_w = Window.partitionBy("gkey").orderBy("doc_id", "start0")
    nonfirst = occ.withColumn("rn", F.row_number().over(first_w)).where(
        F.col("rn") > 1
    )
    covered = nonfirst.select(
        "doc_id",
        F.explode(F.sequence(F.col("start0"), F.col("start0") + _REMOVE_SPAN_N - 1)).alias("pos"),
    ).distinct()
    kept = wp.join(covered, ["doc_id", "pos"], "left_anti")
    clean = kept.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "word"))), lambda x: x["word"]
            ),
            " ",
        ).alias("cleaned"),
    )
    out = (
        base.select("doc_id", F.size("w").cast("long").alias("n_words"))
        .join(clean, "doc_id", "left")
        .select(
            "doc_id",
            "n_words",
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.md5(F.coalesce("cleaned", F.lit(""))).alias("clean_md5"),
        )
    )
    return materialize_and_release(out, base)
