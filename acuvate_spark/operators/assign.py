"""Exact nearest-centroid assignment with three physical strategies —
the broadcast cross (small K), a cogrouped blocked-matmul candidate
kernel (mid K — the r11 addition, see ``_blas_candidates``), and a
two-level shuffled equi-join (K past the broadcast capacity) —
producing IDENTICAL results.

This is the assign pass shared by the IVF family (``ann_ivf_flat``,
``ann_ivf_lloyd``) and SemDeDup (``semdedup_clusters``). Both need,
for every corpus vector, its top-``n_best`` centroids under
``(cosine_rounded(v, c, 4) DESC, centroid_id ASC)``.

Why two strategies (VERDICT r08 item 1): the broadcast form ships the
whole K-row centroid frame to every task and evaluates N x K cosines.
For IVF's fixed K=16 that is definitionally right; for SemDeDup K
derives from the corpus (K = N/125), so at real corpus scale
(N ~ 1e9 -> K ~ 8e6 rows x 64 floats) the seed frame exceeds any
broadcast budget and the N x K multiply is the measured super-linear
term (9.5x at the 20x point; 162.8x at the r10 100x point). Past
``AUTO_SHUFFLE_MIN_K`` (the measured wall-clock crossover — see the
constant's comment) the assign swaps to the blas kernel, and past
``BROADCAST_MAX_K`` (the capacity bound: the K-row frame no longer
fits a task, matmul included) to the shuffled form below.

Shuffled form — a coarse quantizer over the centroids themselves:

1. pick S = ceil(sqrt(K)) "super-centroids" (the S smallest
   centroid_ids — a deterministic subset of the centroids);
2. assign every centroid to its nearest super (map-side argmax over a
   1-row broadcast array of the S supers) and record the cell radius
   r(T) = max distance of a member to its super (one K-row shuffle);
3. per corpus vector, map-side over the same 1-row cell array:
   compute cos(v, t) per super, derive the candidate cells, explode;
4. exact cosine only inside candidate cells via a SHUFFLED equi-join
   on the cell id — no K-row broadcast anywhere — then a per-vector
   top-``n_best`` window.

Exactness (not an approximation): on unit-normalized vectors
``d(v, c)^2 = 2 - 2 cos(v, c)``, and the triangle inequality gives,
for any centroid c in cell T, ``d(v, c) >= d(v, t) - r(T)``, hence

    cos(v, c) <= 1 - max(0, d(v, t) - r(T))^2 / 2  =: ub(T).

Each super IS a centroid, so the ``n_best``-th largest cos(v, t) is a
lower bound ``lb`` on the true ``n_best``-th best centroid cosine. A
cell with ``ub(T) < lb - SLACK`` cannot hold a top-``n_best`` centroid
even after the 4-digit rounding (two values rounding equal differ by
< 1e-4 raw; SLACK = 2.5e-4 also swallows float noise in ub), so
pruning it never changes the rounded-and-tie-broken top-``n_best``.
The supers' own cells always survive the filter (ub >= their own
cos >= lb), so every vector keeps >= n_best candidates.

Cost at scale: the 1-row array attaches are map-side; the only data
shuffles are the K-row radius aggregate and the candidate equi-join
(N x avg-candidate-cells rows) + the top-k window — all linear in N
for a fixed data distribution. The map-side FLOP count per vector is
S = sqrt(K) super cosines (N*sqrt(K) total — the standard two-level
IVF coarse-quantizer cost, vs the broadcast form's N*K). The K x S member-assign compare is
K^1.5 total FLOPs, one-time and distributed — and it is evaluated
TWICE (the member frame feeds both the radius aggregate and the
probe join; recompute beats an eager checkpoint inside a lazy
operator, and 2 x K^1.5 is still a vanishing fraction of the N-side
work). A third tier repeats the same construction if K^1.5 ever
dominates.

All three strategies appear in plan form in ``tests/test_assign.py``:
the broadcast path keeps its (allowlisted) BroadcastNestedLoopJoin
over the K-row frame; the blas path is the cogrouped kernel plus a
hash equi-join for the exact ccos (zero nested loops); the shuffled
path's only nested loops are the 1-row array attaches, and the exact
compare is a shuffled equi-join. Result identity across all three is
pinned per (k, n_best), on skewed corpora, end-to-end on the three
consumer queries, and across blas block counts.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import vectors

# Documented broadcast CAPACITY bound: 64k centroids x 64 float32 +
# ids ~ 20 MB serialized — comfortably inside executor broadcast
# budgets; the next octave (128k x 64) is where task-heap pressure
# starts.
BROADCAST_MAX_K = 65_536

# Auto-mode crossover (r10 — the 100x full sweep caught semdedup at
# 162.8x for 100x data: K = N/125 was still far under the 64k
# capacity bound, so auto kept the broadcast N x K cross whose row
# volume is quadratic in the corpus). Measured on the semdedup
# production path (min-of-2, quiet box): broadcast wins at K = 163
# (7.6 s vs 8.8 s), shuffled wins at K = 326 (24.4 s vs 27.7 s) and
# never loses above it — so auto swaps at the midpoint. Two regimes
# above the crossover: on clusterable data (SemDeDup's premise) the
# triangle-inequality pruning holds candidates near-constant and the
# shuffled form is ~linear in N (tools/skew_audit.py semdedup_geometry);
# on isotropic-random data NO exact method beats N x K (all super
# cosines ~ 0, radii ~ sqrt(2), nothing prunes — the curse of
# dimensionality, measured: both modes within 0.1% at the 100x dir),
# and the shuffled form degrades to broadcast's cost, never below it.
AUTO_SHUFFLE_MIN_K = 240

# Rounded-compare slack: cosine_rounded uses 4 digits, so two raw
# values rounding to >= the same bucket differ by < 1e-4; 2.5e-4 also
# covers double-precision noise in the ub computation.
_SLACK = 2.5e-4

# Candidate margin for the blas mode (r11): the final ranking is
# (round(cos, 4) DESC, centroid_id ASC), and rounding permutes raw
# order only within a 1e-4-wide band — any centroid whose raw cosine
# sits more than 1e-4 below the raw n_best-th maximum is rounded-
# ranked strictly below >= n_best others (proof: s_i < s_nth - 1e-4
# implies round4(s_i) <= round4(s_nth) - 1e-4). 1.5e-4 adds headroom
# for the float64 summation-order difference between numpy's blocked
# matmul and Spark's sequential aggregate fold (~1e-13 relative) and
# the binary representation of the 1e-4 grid step. A wider margin can
# only ADD candidates (a few extra exact evaluations); it can never
# change the result.
_BLAS_MARGIN = 1.5e-4
# Probe-chunk budget inside one blas cogroup: chunk x K score doubles
# per matmul (32 MB at the default). Module-level so the multi-chunk
# loop is testable at fixture scale (tests/test_assign.py shrinks it).
_BLAS_CHUNK_DOUBLES = 1 << 22


def _blas_blocks(spark) -> int:
    """Probe-side block fan-out: centroids replicate once per block
    (K x blocks rows total), each (block, all-centroids) cogroup is one
    Arrow batch. Sized so a local[32] 100x-octave corpus block
    (~200k/64 rows x 260 B) stays a few MB."""
    return max(64, spark.sparkContext.defaultParallelism * 2)


def _resolved_mode(k_hint: int) -> str:
    if k_hint <= AUTO_SHUFFLE_MIN_K:
        return "broadcast"
    # Past the broadcast crossover but under the broadcast CAPACITY
    # bound, the dense N x K compare is executor-local BLAS FLOPs
    # (r11): cheaper than EITHER pair-row form — the broadcast cross
    # ships no data but materializes N x K codegen rows; the shuffled
    # form's pruning only pays off when the corpus clusters AND its
    # candidate join still materializes >= N rows. Past 64k centroids
    # the K-side no longer fits a task, and the two-level coarse
    # quantizer (shuffled) is the only shape that keeps K out of
    # every task.
    return "blas" if k_hint <= BROADCAST_MAX_K else "shuffled"


def nearest_centroids(
    vec_df: DataFrame, cent_df: DataFrame, *, k_hint: int, n_best: int = 1
) -> DataFrame:
    """Top-``n_best`` centroids per vector, ranked by
    ``(cosine_rounded(embedding, ce, 4) DESC, centroid_id ASC)``.

    ``vec_df``: (vec_id, embedding); ``cent_df``: (centroid_id, ce).
    ``k_hint``: the caller's centroid count (picks the strategy;
    never affects results). Returns (vec_id, embedding,
    centroid_id, ccos, rn) with rn in 1..n_best — identical rows from
    either strategy. Contract: embeddings and centroids have non-zero
    norm (cosine is defined); a zero-norm row yields NULL cosines and
    the two strategies would rank it differently.
    """
    mode = _resolved_mode(k_hint)
    if mode == "broadcast":
        # Norms hoisted OUT of the cross (r10): cosine(a, b) folds
        # dot + both norms per crossed row — 3x the arithmetic the
        # pair needs, and codegen cannot hoist norm(a) across the
        # join. Precomputing N + K norm columns leaves exactly one
        # 64-element fold per pair. Bit-identical: the division sees
        # the same doubles in the same order as the inline form.
        vecs = vec_df.withColumn("__vn", vectors.norm(F.col("embedding")))
        cents = F.broadcast(cent_df.withColumn("__cn", vectors.norm(F.col("ce"))))
        ranked = vecs.crossJoin(cents).withColumn(
            "ccos",
            F.round(
                vectors.dot(F.col("embedding"), F.col("ce"))
                / (F.col("__vn") * F.col("__cn")),
                4,
            ),
        )
        if n_best == 1:
            # argmax as a map-side-combined aggregate: the window form
            # below shuffles all N x K crossed rows by vec_id; max_by
            # with the tie-break encoded in the ordering struct
            # (ccos DESC, centroid_id ASC — unique, so deterministic)
            # partial-aggregates to ONE row per vector before the
            # shuffle. Same rows as the window form by construction.
            best = ranked.groupBy("vec_id").agg(
                F.max_by(
                    F.struct("centroid_id", "embedding", "ccos"),
                    F.struct(F.col("ccos"), (-F.col("centroid_id")).alias("nid")),
                ).alias("_b")
            )
            return best.select(
                "vec_id",
                F.col("_b.embedding").alias("embedding"),
                F.col("_b.centroid_id").alias("centroid_id"),
                F.col("_b.ccos").alias("ccos"),
                F.lit(1).alias("rn"),
            )
    elif mode == "blas":
        ranked = _blas_candidates(vec_df, cent_df, n_best=n_best)
    else:
        ranked = _shuffled_candidates(vec_df, cent_df, k_hint=k_hint, n_best=n_best)
    w = Window.partitionBy("vec_id").orderBy(F.col("ccos").desc(), F.col("centroid_id"))
    return (
        ranked.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= n_best)
        .select("vec_id", "embedding", "centroid_id", "ccos", "rn")
    )


def _shuffled_candidates(
    vec_df: DataFrame, cent_df: DataFrame, *, k_hint: int, n_best: int
) -> DataFrame:
    """Candidate (vector, centroid) pairs with exact ``ccos``,
    guaranteed to contain the true top-``n_best`` per vector (proof in
    the module docstring). The window in :func:`nearest_centroids`
    does the final ranking."""
    s_count = max(n_best, math.isqrt(max(k_hint, 1)) + 1)
    # norms hoisted once per frame (r10 — see the broadcast branch):
    # every cosine below is dot / (precomputed * precomputed),
    # bit-identical to the inline form
    cents = cent_df.withColumn("__cn", vectors.norm(F.col("ce")))
    supers = (
        cents.orderBy("centroid_id")
        .limit(s_count)
        .select(
            F.col("centroid_id").alias("sid"),
            F.col("ce").alias("se"),
            F.col("__cn").alias("sn"),
        )
    )

    # centroid -> nearest super, map-side over a 1-row array of supers
    supers_arr = supers.agg(F.collect_list(F.struct("sid", "se", "sn")).alias("_supers"))
    best = F.array_max(
        F.transform(
            F.col("_supers"),
            lambda s: F.struct(
                (vectors.dot(F.col("ce"), s["se"]) / (F.col("__cn") * s["sn"])).alias("c"),
                (-s["sid"]).alias("nsid"),
            ),
        )
    )
    members = (
        cents.crossJoin(F.broadcast(supers_arr))
        .withColumn("_b", best)
        .select(
            "centroid_id",
            "ce",
            "__cn",
            (-F.col("_b.nsid")).alias("sid"),
            F.sqrt(F.greatest(F.lit(0.0), F.lit(2.0) - 2.0 * F.col("_b.c"))).alias("_d"),
        )
    )
    radii = members.groupBy("sid").agg(F.max("_d").alias("r"))
    cells_arr = (
        supers.join(radii, "sid")
        .agg(F.collect_list(F.struct("sid", "se", "sn", "r")).alias("_cells"))
    )

    # vector -> candidate cells, map-side over the 1-row cell array
    stats = F.transform(
        F.col("_cells"),
        lambda c: F.struct(
            c["sid"].alias("sid"),
            (vectors.dot(F.col("embedding"), c["se"]) / (F.col("__vn") * c["sn"])).alias("c"),
            c["r"].alias("r"),
        ),
    )
    cos_desc = F.sort_array(
        F.transform(F.col("_stats"), lambda x: x["c"]), asc=False
    )
    lb = F.when(
        F.size(F.col("_stats")) >= n_best, F.element_at(cos_desc, n_best)
    ).otherwise(F.lit(-2.0))

    def _ub(x):
        d = F.sqrt(F.greatest(F.lit(0.0), F.lit(2.0) - 2.0 * x["c"]))
        gap = F.greatest(F.lit(0.0), d - x["r"])
        return F.lit(1.0) - gap * gap / 2.0

    cand = F.filter(F.col("_stats"), lambda x: _ub(x) >= F.col("_lb") - F.lit(_SLACK))
    exploded = (
        vec_df.withColumn("__vn", vectors.norm(F.col("embedding")))
        .crossJoin(F.broadcast(cells_arr))
        .withColumn("_stats", stats)
        .withColumn("_lb", lb)
        .select(
            "vec_id",
            "embedding",
            "__vn",
            F.explode(F.transform(cand, lambda x: x["sid"])).alias("sid"),
        )
    )
    return (
        exploded.join(members.select("sid", "centroid_id", "ce", "__cn"), "sid")
        .withColumn(
            "ccos",
            F.round(
                vectors.dot(F.col("embedding"), F.col("ce"))
                / (F.col("__vn") * F.col("__cn")),
                4,
            ),
        )
        .drop("__vn", "__cn")
    )


def _blas_candidates(vec_df: DataFrame, cent_df: DataFrame, *, n_best: int) -> DataFrame:
    """Candidate (vector, centroid) pairs via a cogrouped blocked
    matmul, guaranteed to contain the true top-``n_best`` per vector
    under the (round4 DESC, centroid_id ASC) ranking; exact ``ccos``
    is then computed DECLARATIVELY on the ~n_best surviving rows, so
    the window in :func:`nearest_centroids` ranks the same doubles as
    the other two modes and the result is identical.

    Why Python here: the broadcast mode's N x K cross materializes one
    codegen row per (vector, centroid) — at the 100x octave that is
    ~350M rows through a max_by aggregate, the measured 127x term in
    semdedup_clusters' sweep entry. The same arithmetic as a blocked
    ``X @ C.T`` is executor-local BLAS (~1 GFLOP per 2048-row block at
    K=1664) with ZERO pair rows materialized; built-in column ops
    cannot express a matmul without the pair rows — exactly the cost
    being removed — so this is an Arrow-batched kernel by necessity,
    like ``operators.dedup.hot_bucket_cosine_candidates`` (r11).

    Mechanics: probes hash into ``_blas_blocks`` blocks; centroids
    replicate once per block (K x blocks rows — small next to N);
    each (block) cogroup sees (probe block, ALL centroids), chunks
    the matmul to bound memory, and emits every centroid within
    ``_BLAS_MARGIN`` of the probe's n_best-th-largest score (a proven
    superset of the rounded-and-tie-broken top-``n_best`` — see the
    margin constant). The kernel emits only (vec_id, embedding,
    centroid_id); scores never leave the kernel, so numpy arithmetic
    can only ADD candidates, never decide the result. Zero-norm rows
    are out of contract in every mode; here a zero-norm PROBE emits no
    candidates (its NaN scores mask to -inf and the finiteness guard
    drops them) and a zero-norm CENTROID is simply never a candidate —
    it cannot poison the block's kth threshold."""
    import numpy as np  # local: keep module import light
    import pandas as pd

    nblocks = _blas_blocks(vec_df.sparkSession)
    probes = vec_df.select(
        "vec_id",
        "embedding",
        F.pmod(F.xxhash64("vec_id"), F.lit(nblocks)).cast("int").alias("__blk"),
    )
    cents = cent_df.select(
        "centroid_id",
        "ce",
        F.explode(F.sequence(F.lit(0), F.lit(nblocks - 1))).alias("__blk"),
    )

    def kernel(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "vec_id": pd.Series(dtype="int64"),
                "embedding": pd.Series(dtype="object"),
                "centroid_id": pd.Series(dtype="int64"),
            }
        )
        if len(left) == 0 or len(right) == 0:
            return empty
        c = np.vstack(right["ce"].to_numpy()).astype(np.float64)
        cn = np.linalg.norm(c, axis=1)
        cid = right["centroid_id"].to_numpy()
        k = len(right)
        nth = min(n_best, k)
        chunk = max(1, _BLAS_CHUNK_DOUBLES // k)
        out = []
        for lo in range(0, len(left), chunk):
            part = left.iloc[lo : lo + chunk]
            x = np.vstack(part["embedding"].to_numpy()).astype(np.float64)
            xn = np.linalg.norm(x, axis=1)
            with np.errstate(divide="ignore", invalid="ignore"):
                s = (x @ c.T) / np.outer(xn, cn)
            # A zero-norm CENTROID scores NaN against every probe; left
            # unmasked, np.partition propagates that NaN into kth and
            # the >= comparison goes all-False — the whole block would
            # silently emit zero candidates. Mask to -inf so the bad
            # centroid is merely never a candidate. The trailing
            # s > -inf keeps the zero-norm PROBE contract intact (all
            # its scores mask to -inf, kth becomes -inf, and without
            # the finiteness guard every centroid would qualify).
            s = np.where(np.isnan(s), -np.inf, s)
            kth = np.partition(s, k - nth, axis=1)[:, k - nth]
            ii, jj = np.nonzero((s >= (kth - _BLAS_MARGIN)[:, None]) & (s > -np.inf))
            out.append(
                pd.DataFrame(
                    {
                        "vec_id": part["vec_id"].to_numpy()[ii],
                        "embedding": part["embedding"].to_numpy()[ii],
                        "centroid_id": cid[jj],
                    }
                )
            )
        return pd.concat(out, ignore_index=True) if out else empty

    cand = (
        probes.groupby("__blk")
        .cogroup(cents.groupby("__blk"))
        .applyInPandas(kernel, schema="vec_id long, embedding array<float>, centroid_id long")
    )
    # exact ccos, same hoisted-norm expression as the other modes —
    # the candidate set is ~n_best rows per vector, the centroid side
    # is K <= BROADCAST_MAX_K rows
    cents_n = F.broadcast(cent_df.withColumn("__cn", vectors.norm(F.col("ce"))))
    return (
        cand.withColumn("__vn", vectors.norm(F.col("embedding")))
        .join(cents_n, "centroid_id")
        .withColumn(
            "ccos",
            F.round(
                vectors.dot(F.col("embedding"), F.col("ce"))
                / (F.col("__vn") * F.col("__cn")),
                4,
            ),
        )
        .drop("__vn", "__cn", "ce")
    )
