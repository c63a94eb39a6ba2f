#!/usr/bin/env python3
"""Uniform-vs-skewed audits: each audit plants one skew shape that a
natural corpus has and the scaled dirs lack (hot keys, hub vertices,
template bands, giant payloads, degenerate groups, lumpy embeddings)
and times the same work on the uniform corpus and on its skewed twin.
A plan whose per-key work is super-linear in the key population blows
past the bound; a linear one stays in class.

``AUDITS`` maps each audit to one function and its data: the default
directory and one bound per case. The function writes its twin
corpora under ``out`` and returns ``(cases, extras)``:

* a case is ``(label, uniform_build, skewed_build, bound, units)``,
  the builders being zero-argument frame builders. With ``units=None``
  the verdict is ``t_skewed / t_uniform <= bound``. With ``units =
  (uniform_units, added_units)`` it is the marginal-per-unit ratio
  ``((t_skewed - t_uniform) / added_units) / (t_uniform /
  uniform_units)``: the skewed work runs in one task against a
  parallel uniform run, so ~n_cores is the ceiling of a linear kernel.
* extras are deterministic checks (identities, candidate counts),
  reported; the boolean ones are AND-ed into ``pass``.

One loop measures every case: ``bench.warm_up`` once per process, then
min-of-2 ``bench.time_noop`` per side (a noop write, not ``count()``,
which lets Catalyst prune an unreferenced Window and time a bare
scan), then an untimed ``count()`` per side for the rows. One JSON
line per audit.

    python tools/skew_audit.py <audit>... [--dir D] [--out O]

Audits with no directory build their corpora in memory and ignore
``--dir``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from functools import partial
from typing import Callable, NamedTuple

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from bench import time_noop, warm_up  # noqa: E402

HOT_KEY = 77_777_777  # the one key a 30% slice of rows is reassigned to
HUB_DEG = 16_000  # triangle hub: (D/2)^2 = 64M wedge rows at one pivot key
HOT_SUPP_DEG = 6_000  # link-pred hot supplier: D^2/2 = 18M candidate pairs
OCTAVE_HUB_DEG = 50_000  # fixed-round graph queries: one supplier's fresh parts
GIANT_WORDS = 250_000  # the giant document; corpus documents are ~100 words
AUDIO_MB = 32  # the giant audio row: ~9 hours at 1 byte per ms
ASSIGN_K = 400
SEMGEO_SMALL, SEMGEO_BIG = 25_000, 100_000

# exactly 25 words
BOILERPLATE = (
    "this document is provided under the standard corporate information "
    "classification policy and may not be redistributed copied or disclosed "
    "without prior written permission from the"
)

_TRI_PART0 = 10_000_000  # fresh id spaces for the planted graph rows
_TRI_ORDER0 = 900_000_000
_HOT_SUPP = 8_000_000
_HOT_PART0 = 20_000_000
_HOT_ORDER0 = 910_000_000


class Case(NamedTuple):
    label: str
    uniform: Callable
    skewed: Callable
    bound: float
    units: tuple[int, int] | None = None


class Audit(NamedTuple):
    cases: Callable  # (spark, src, out, bounds) -> (list[Case], extras)
    default_dir: str | None
    # case label -> bound; a label's first word is a registry query or
    # an ``acuvate_spark.operators`` ``module.function``
    bounds: dict[str, float]


def _twin(out: str, **tables) -> str:
    """Write each frame as ``{out}/{table}.parquet``; the twin dir holds
    only the tables the audited queries read."""
    for name, df in tables.items():
        df.write.mode("overwrite").parquet(f"{out}/{name}.parquet")
    return out


def _hot(df, key: str, pick: str):
    """Reassign ``key`` to HOT_KEY on the 30% of rows with pick % 10 < 3:
    row counts stay identical, only the per-key distribution changes."""
    return df.withColumn(
        key, F.when(F.col(pick) % 10 < 3, F.lit(HOT_KEY)).otherwise(F.col(key))
    )


def _query_cases(spark, bounds: dict[str, float], uniform: str, skewed: str) -> list[Case]:
    """One case per registry query in ``bounds``: the query on the
    ``uniform`` dir vs on the ``skewed`` dir."""
    from acuvate_spark.queries import REGISTRY

    return [
        Case(q, partial(REGISTRY[q].fn, spark, uniform), partial(REGISTRY[q].fn, spark, skewed), b)
        for q, b in bounds.items()
    ]


def _routed(build, **limits):
    """``build`` with ``operators.assign``'s routing limits overridden
    while it builds (the strategy is picked when the plan is built) and
    restored after: one process runs several audits, so no override may
    outlive its case."""
    from acuvate_spark.operators import assign

    def run():
        saved = {k: getattr(assign, k) for k in limits}
        try:
            for k, v in limits.items():
                setattr(assign, k, v)
            return build()
        finally:
            for k, v in saved.items():
                setattr(assign, k, v)

    return run


def _toward_first(emb, weight: float):
    """``emb`` plus column ``be``, the lowest vec_id's vector, and the
    expression normalize(be + weight * embedding)."""
    base = emb.orderBy("vec_id").limit(1).select(F.col("embedding").alias("be"))
    blended = F.zip_with(F.col("be"), F.col("embedding"), lambda b, v: b + weight * v)
    norm = F.sqrt(F.aggregate(blended, F.lit(0.0), lambda a, x: a + x * x))
    pulled = F.transform(blended, lambda x: (x / norm).cast("float"))
    return emb.crossJoin(F.broadcast(base)), pulled


# ---- window_skew: per-user window/aggregate family on hot entities


def build_hot_fixture(spark, src: str, out: str) -> str:
    """30% of events go to one hot user and 30% of orders to one hot
    customer (``running_totals`` reads orders)."""
    from acuvate_spark.tables import load_table

    return _twin(
        out,
        events=_hot(load_table(spark, src, "events"), "user_id", "event_id"),
        orders=_hot(load_table(spark, src, "orders"), "o_custkey", "o_orderkey"),
    )


def window_skew(spark, src, out, bounds):
    """A ``Window.partitionBy(user)`` puts each user in one task, so one
    user owning 30% of the log turns a 32-way sort into a single-task
    sort; aggregate forms (max_by, map-side combine) should not care.
    The single-task sort of a 30% slice costs, but must stay in the
    same complexity class."""
    return _query_cases(spark, bounds, src, build_hot_fixture(spark, src, out)), {}


# ---- graph_skew: wedge-join graph family on a hub-heavy graph


def build_hub_fixture(
    spark, src: str, out: str, hub_deg: int = HUB_DEG, hot_supp_deg: int = HOT_SUPP_DEG
) -> str:
    """Lineitem twin with two planted shapes:

    * triangle hub: one part co-purchased (2-item orders, qty 1) with
      ``hub_deg`` fresh parts whose ids straddle the hub's id — the worst
      case for the id-oriented wedge join: (D/2)^2 pair rows at one join
      key. Every 50th consecutive neighbour pair also shares an order, so
      the hub closes real triangles and the identity check is non-trivial.
    * hot supplier: one supplier linked (qty 1) to ``hot_supp_deg`` fresh
      parts. The common-neighbour wedge join pivots on the supplier, so it
      emits deg^2/2 candidate pairs, all failing ``n_common >= 2``.
    """
    from acuvate_spark.tables import load_table

    li = load_table(spark, src, "lineitem")
    d = hub_deg
    hub_id = _TRI_PART0 + d + 1  # odd, mid-range among the even neighbour ids
    nbr = F.col("i") * 2 + _TRI_PART0
    base = spark.range(d).select(F.col("id").cast("int").alias("i"))
    tri_rows = base.select(
        (F.col("i") + _TRI_ORDER0).alias("l_orderkey"),
        F.explode(F.array(F.lit(hub_id), nbr)).alias("l_partkey"),
        F.lit(1).alias("l_suppkey"),
        F.lit(1.0).alias("l_quantity"),
    )
    closer = base.where((F.col("i") % 50 == 0) & (F.col("i") + 1 < d))
    tri_close = closer.select(
        (F.col("i") + _TRI_ORDER0 + d).alias("l_orderkey"),
        F.explode(F.array(nbr, nbr + 2)).alias("l_partkey"),
        F.lit(1).alias("l_suppkey"),
        F.lit(1.0).alias("l_quantity"),
    )
    hot = spark.range(hot_supp_deg).select(
        (F.col("id") + _HOT_ORDER0).alias("l_orderkey"),
        (F.col("id") + _HOT_PART0).cast("int").alias("l_partkey"),
        F.lit(_HOT_SUPP).alias("l_suppkey"),
        F.lit(1.0).alias("l_quantity"),
    )
    # one template row supplies every column the graph queries don't read
    tpl = F.broadcast(li.limit(1).drop("l_orderkey", "l_partkey", "l_suppkey", "l_quantity"))
    extra = tri_rows.unionByName(tri_close).unionByName(hot).crossJoin(tpl)
    return _twin(out, lineitem=li.unionByName(extra.select(*li.columns)))


def brute_triangles(spark, sf_dir: str) -> tuple[int, int]:
    """(n_edges, n_triangles) via the id-oriented wedge join — the
    oracle's shape, independent of the production orientation."""
    from acuvate_spark.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    items = li.where(F.col("l_quantity") <= 10).select("l_orderkey", "l_partkey").distinct()
    a = items.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("u"))
    b = items.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("v"))
    edges = (
        a.join(b, "k").where(F.col("u") < F.col("v")).select("u", "v").distinct()
        .localCheckpoint(eager=True)
    )
    e1 = edges.select(F.col("u").alias("x"), F.col("v").alias("y"))
    e2 = edges.select(F.col("u").alias("y2"), F.col("v").alias("z"))
    tri = (
        e1.join(e2, F.col("y") == F.col("y2"))
        .join(edges, (F.col("x") == F.col("u")) & (F.col("z") == F.col("v")))
        .count()
    )
    return edges.count(), tri


def graph_skew(spark, src, out, bounds):
    """A natural graph is power-law: one hub can dominate the wedge join.
    Orientation is a plan lever, never a result lever, so the production
    triangle count on the hub twin must equal the id-oriented count."""
    from acuvate_spark.queries import REGISTRY

    hub = build_hub_fixture(spark, src, out)
    got = REGISTRY["triangle_count"].fn(spark, hub).first().asDict()
    n_edges, n_tri = brute_triangles(spark, hub)
    extras = {
        "triangle_hub": got,
        "triangle_identity_vs_id_oriented": got == {"n_edges": n_edges, "n_triangles": n_tri},
    }
    return _query_cases(spark, bounds, src, hub), extras


# ---- lsh_skew: banded-LSH candidate joins on a template-heavy corpus


def build_template_fixture(spark, src: str, out: str) -> str:
    """Documents + embeddings twin:

    * 30% of docs (doc_id % 10 < 3) get a fixed 25-word boilerplate
      prefix, so MinHash band keys and SimHash band values go hot;
    * 30% of vectors are blended toward one fixed direction
      (normalize(u + 0.35 v)): pairwise cosine ~1/(1+0.35^2) = 0.89, below
      the 0.95 verify threshold, so every extra candidate the hot buckets
      emit is wasted verify work.
    """
    from acuvate_spark.tables import load_table

    docs = load_table(spark, src, "documents")
    templated = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 10 < 3, F.concat(F.lit(BOILERPLATE + " "), F.col("text"))
        ).otherwise(F.col("text")),
    )
    emb = load_table(spark, src, "embeddings")
    mix, pulled = _toward_first(emb, 0.35)
    hot = mix.withColumn(
        "embedding", F.when(F.col("vec_id") % 10 < 3, pulled).otherwise(F.col("embedding"))
    )
    return _twin(out, documents=templated, embeddings=hot.select(*emb.columns))


def minhash_candidate_counts(spark, sf_dir: str) -> dict[str, int]:
    """Band-collision candidate pairs before/after the exact set-size
    filter (J <= min/max, so J >= 0.7 needs 10 min >= 7 max), computed
    with the production query's shingles, signature and banding."""
    from acuvate_spark.operators import dedup as dedup_ops
    from acuvate_spark.queries import dedup as qd

    docs = qd._docs_plus_clones(spark, sf_dir)
    sh = qd._doc_shingles(docs)
    sig = dedup_ops.minhash_signature(
        sh, "doc_id", "shingle", qd._N_HASHES, with_count=True
    ).localCheckpoint(eager=True)
    sh.unpersist()
    counts = sig.select("doc_id", "n")
    bands = dedup_ops.band_keys(sig.drop("n"), "doc_id", qd._N_HASHES, qd._BAND_SIZE)
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
        .localCheckpoint(eager=True)
    )
    ca = counts.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    cb = counts.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    post = (
        cand.join(ca, "doc_a")
        .join(cb, "doc_b")
        .where(F.lit(10) * F.least("na", "nb") >= F.lit(7) * F.greatest("na", "nb"))
        .count()
    )
    return {"candidates_pre_size_filter": cand.count(), "candidates_post_size_filter": post}


def lsh_skew(spark, src, out, bounds):
    """A hot band emits candidate pairs quadratic in its bucket size.
    The adaptive-banded families (simhash, embedding) stay within 2x;
    minhash gets 6x, its template/uniform residual explained by the
    candidates that survive the size filter, not by plan degradation."""
    template = build_template_fixture(spark, src, out)
    extras = {"minhash_template_candidates": minhash_candidate_counts(spark, template)}
    return _query_cases(spark, bounds, src, template), extras


# ---- graph_octave: fixed-round graph queries on a hub supplier


def graph_octave(spark, src, out, bounds):
    """``pagerank_fixed``, ``label_propagation_communities``,
    ``kcore_peel`` and ``graph_connected_components`` are node-keyed
    joins, windows or partial aggregates per round, so one supplier with
    OCTAVE_HUB_DEG fresh parts must cost ~1x: unlike the wedge joins
    there is no pair materialization to blow up. (Rounds-track-diameter
    and the refusal past ``max_iter`` are pinned in tier-1.)"""
    hub = build_hub_fixture(spark, src, out, hub_deg=0, hot_supp_deg=OCTAVE_HUB_DEG)
    return _query_cases(spark, bounds, src, hub), {}


# ---- agg_state_skew: unbounded per-group aggregation state


def build_hot_lineitem(spark, src: str, out: str) -> str:
    """30% of lineitem rows reassigned to one l_orderkey."""
    from acuvate_spark.tables import load_table

    li = load_table(spark, src, "lineitem")
    return _twin(out, lineitem=_hot(li, "l_orderkey", "l_orderkey"))


def build_giant_doc(spark, src: str, out: str, words: int = GIANT_WORDS) -> str:
    """Documents twin: doc 0's text becomes a ~``words``-word payload
    (distinct enough not to collapse under line/word dedup)."""
    from acuvate_spark.tables import load_table

    d = load_table(spark, src, "documents")
    giant_text = F.concat_ws(
        "\n",
        F.transform(
            F.sequence(F.lit(0), F.lit(words // 10 - 1)),
            lambda i: F.concat_ws(
                " ",
                F.transform(
                    F.sequence(F.lit(0), F.lit(9)),
                    lambda j: F.concat(F.lit("w"), (i * 10 + j).cast("string")),
                ),
            ),
        ),
    )
    return _twin(
        out,
        documents=d.withColumn(
            "text", F.when(F.col("doc_id") == 0, giant_text).otherwise(F.col("text"))
        ),
    )


def agg_state_skew(spark, src, out, bounds):
    """``collect_list`` and in-row ``array_sort(collect_list(...))`` hold
    a whole group in one hash-agg buffer, which does not spill the way a
    sort does. One order key owning 30% of lineitem costs
    ``collect_list_per_group`` within 3x (the result row carries the
    whole group: linear cost, linear memory). One book-sized document
    must cost the per-doc reassembly family at most 40x the uniform
    per-word cost (one buffer, one task vs the parallel corpus)."""
    from acuvate_spark.tables import load_table

    hot = build_hot_lineitem(spark, src, os.path.join(out, "hot_lineitem"))
    giant = build_giant_doc(spark, src, os.path.join(out, "giant_doc"))
    units = (load_table(spark, src, "documents").count() * 100, GIANT_WORDS)
    by_group = {"collect_list_per_group": bounds["collect_list_per_group"]}
    by_word = {q: b for q, b in bounds.items() if q not in by_group}
    return [
        *_query_cases(spark, by_group, src, hot),
        *(c._replace(units=units) for c in _query_cases(spark, by_word, src, giant)),
    ], {}


# ---- kernel_skew: Arrow kernels on one giant payload


def kernel_skew(spark, src, out, bounds):
    """The kernels are skewed by row payload, not key population: one
    giant row serializes into one mapInPandas batch / applyInPandas
    group regardless of partitioning. Per-unit cost must stay linear
    (marginal <= 40: ~n_cores plus Arrow transfer; the payload-quadratic
    audio hash measured ~8000x). ``nms`` plants one page-border box that
    once sized every grid cell to the page; its wall ratio stays <= 3."""
    from acuvate_spark.operators import kernels, multimodal

    # 2000 uniform 64 KB rows vs the same plus one AUDIO_MB row
    uniform = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        F.expr("cast(repeat('u', 64000) as binary)").alias("media"),
    )
    giant = uniform.unionByName(
        spark.range(1).select(
            (F.col("id") + 1_000_000).alias("doc_id"),
            F.expr(f"cast(repeat('g', {AUDIO_MB * 1024 * 1024}) as binary)").alias("media"),
        )
    )
    audio = multimodal.sample_audio_windows
    windows_u, windows_g = audio(uniform).count(), audio(giant).count()

    # 200 uniform ~1.2k-px pages vs the same plus one dense 450 x 450
    # block: one 8-connected component in a single BFS task
    side = 450
    pages = (
        spark.range(200)
        .select(
            F.col("id").alias("image_id"),
            F.explode(F.sequence(F.lit(0), F.lit(40))).alias("x"),
            F.explode(F.sequence(F.lit(0), F.lit(28))).alias("yb"),
        )
        .select("image_id", "x", (F.col("yb") * 2).alias("y"))
    )
    block = spark.range(1).select(
        F.lit(999_999).alias("image_id"),
        F.explode(F.sequence(F.lit(0), F.lit(side - 1))).alias("x"),
        F.explode(F.sequence(F.lit(0), F.lit(side - 1))).alias("y"),
    )

    # 20k dispersed unit boxes on a 100k canvas (nothing suppresses)
    # vs the same plus one page-border box
    def md5_num(start, width):
        h = F.substring(F.md5(F.col("id").cast("string")), start, width)
        return F.conv(h, 16, 10).cast("double")

    boxes = spark.range(20_000).select(
        F.lit("page0").alias("document_id"),
        F.lit("sym").alias("cls"),
        (md5_num(1, 7) % 100_000).alias("x1"),
        (md5_num(8, 7) % 100_000).alias("y1"),
        F.round(md5_num(15, 4) / 65535.0, 6).alias("conf"),
    ).select(
        "document_id", "cls", "x1", "y1",
        (F.col("x1") + 1.0).alias("x2"), (F.col("y1") + 1.0).alias("y2"), "conf",
    )
    border = spark.range(1).select(
        F.lit("page0").alias("document_id"), F.lit("sym").alias("cls"),
        F.lit(0.0).alias("x1"), F.lit(0.0).alias("y1"),
        F.lit(100_000.0).alias("x2"), F.lit(100_000.0).alias("y2"),
        F.lit(0.999999).alias("conf"),
    )

    def case(label, op, u, s, units=None):
        return Case(label, partial(op, u), partial(op, s), bounds[label], units)

    return [
        # output rows: the giant's ~160k windows come from one task
        case("multimodal.sample_audio_windows", audio, uniform, giant,
             (windows_u, windows_g - windows_u)),
        # ~3 output rows per doc: the giant's bytes cross one Arrow batch
        case("multimodal.sample_frames", multimodal.sample_frames, uniform, giant,
             (2000 * 64000, AUDIO_MB * 1024 * 1024)),
        case("kernels.extract_segments", kernels.extract_segments, pages,
             pages.unionByName(block), (pages.count(), side * side)),
        case("kernels.nms", kernels.nms, boxes, boxes.unionByName(border)),
    ], {}


# ---- assign_skew: shuffled nearest-centroid assign on lumpy corpora


def assign_skew(spark, src, out, bounds):
    """Candidate cells inherit the centroid distribution, so a lumpy
    corpus concentrates probes in few cells and the cell equi-join could
    bottleneck on one shuffle partition. Supers are a ~uniform sample of
    the centroids (a dense region subdivides) and AQE splits an
    oversized probe partition; this measures both. Shuffled mode forced,
    K = ASSIGN_K centroids drawn from each corpus: clustered (80% pulled
    into one tight cluster, pairwise distinct) and duplicate (80% exactly
    one vector) vs uniform."""
    from acuvate_spark.operators import assign
    from acuvate_spark.tables import load_table, repartition_for_compute

    e = repartition_for_compute(load_table(spark, src, "embeddings").select("vec_id", "embedding"))
    mix, pulled = _toward_first(e, 0.05)
    skewed = {"clustered": pulled, "duplicate": F.col("be")}

    def assigned(vec):
        vec = vec.localCheckpoint(eager=True)  # time the assign, not the prep
        cent = vec.orderBy("vec_id").limit(ASSIGN_K).select(
            F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("ce")
        ).localCheckpoint(eager=True)
        return _routed(
            lambda: assign.nearest_centroids(vec, cent, k_hint=ASSIGN_K, n_best=1),
            AUTO_SHUFFLE_MIN_K=-1,
            BROADCAST_MAX_K=-1,
        )

    uniform = assigned(e)
    cases = []
    for name, col in skewed.items():
        vec = mix.select(
            "vec_id",
            F.when(F.col("vec_id") % 5 != 0, col).otherwise(F.col("embedding")).alias("embedding"),
        )
        label = f"assign.nearest_centroids {name}"
        cases.append(Case(label, uniform, assigned(vec), bounds[label]))
    return cases, {}


# ---- semdedup_geometry: SemDeDup assign on a hierarchical corpus

META_BLEND = 0.30  # cluster-center spread around its meta-direction
NOISE_BLEND = 0.15  # vector spread around its cluster center


def _u01(expr, salt):
    """Deterministic uniform(0,1) from md5 of ``salt`` (a string column)
    and ``expr`` — engine-side, seedable."""
    return (
        F.conv(F.substring(F.md5(F.concat(salt, expr.cast("string"))), 1, 8), 16, 10)
        .cast("double")
        / F.lit(float(1 << 32))
    )


def build_hierarchical(spark, n: int, out: str) -> int:
    """n unit 64-dim vectors: vec -> cluster (~n/125 of them) -> meta
    (~sqrt(K) of them, aligned with the assign's supers: seeds are the K
    lowest vec_ids = clusters 0..K-1 in order, supers the first sqrt(K)
    of those, and cluster c orbits meta c % S, so super j is a member of
    meta j's family). Returns the K ``semdedup_clusters`` picks."""
    import math

    from acuvate_spark.queries.dedup import _sem_k

    ids = spark.range(n).select(F.col("id").alias("vec_id"))
    k = _sem_k(ids)
    s_est = math.isqrt(k) + 1
    n_clusters = max(n // 125, 1)
    c = (F.col("vec_id") % F.lit(n_clusters)).alias("c")
    m = (F.col("c") % F.lit(s_est)).alias("m")

    def salt(tag, d):  # "m5|" for tag "m", dimension 5
        return F.concat(F.lit(tag), d.cast("string"), F.lit("|"))

    # one lambda over the 64 dimensions: a 64-element F.array of md5
    # terms generated past whole-stage codegen's 64 KB method limit
    dims = F.transform(
        F.sequence(F.lit(0), F.lit(63)),
        lambda d: (_u01(F.col("m"), salt("m", d)) - 0.5)
        + F.lit(META_BLEND) * (_u01(F.col("c"), salt("c", d)) - 0.5)
        + F.lit(NOISE_BLEND) * (_u01(F.col("vec_id"), salt("n", d)) - 0.5),
    )
    norm = F.sqrt(F.aggregate(F.col("raw"), F.lit(0.0), lambda a, x: a + x * x))
    vecs = (
        ids.select("vec_id", c)
        .select("vec_id", "c", m)
        .withColumn("raw", dims)
        .select(
            "vec_id",
            F.transform(F.col("raw"), lambda x: (x / norm).cast("float")).alias("embedding"),
            F.lit(0).alias("label"),
        )
    )
    _twin(out, embeddings=vecs)
    return k


def semdedup_geometry(spark, src, out, bounds):
    """On isotropic-random data the triangle-inequality bound prunes
    nothing (exact nearest-centroid is Omega(N x K) for any method). On
    a hierarchical corpus — the realistic embedding shape — it must
    engage: the production path at two scales 4x apart (spanning the
    AUTO_SHUFFLE_MIN_K crossover) stays within 2x the data ratio, and at
    the big scale beats the broadcast-forced counterfactual."""
    from acuvate_spark.queries import REGISTRY

    fn = REGISTRY["semdedup_clusters"].fn
    dirs, ks = {}, {}
    for n in (SEMGEO_SMALL, SEMGEO_BIG):
        dirs[n] = os.path.join(out, f"n{n}")
        ks[n] = build_hierarchical(spark, n, dirs[n])
    big = partial(fn, spark, dirs[SEMGEO_BIG])
    cases = [
        Case("semdedup_clusters 4x data", partial(fn, spark, dirs[SEMGEO_SMALL]), big,
             bounds["semdedup_clusters 4x data"]),
        Case("semdedup_clusters vs broadcast", _routed(big, AUTO_SHUFFLE_MIN_K=1 << 62), big,
             bounds["semdedup_clusters vs broadcast"]),
    ]
    return cases, {"k": ks}


AUDITS: dict[str, Audit] = {
    "window_skew": Audit(
        window_skew,
        "/tmp/scaled_sf/sf0.5",
        dict.fromkeys(
            ("sessionize_events", "running_totals", "latest_event_per_user", "asof_join_events"),
            3.0,
        ),
    ),
    "graph_skew": Audit(
        graph_skew,
        "/tmp/scaled_sf/sf0.2",
        {"triangle_count": 3.0, "link_prediction_jaccard": 3.0},
    ),
    "lsh_skew": Audit(
        lsh_skew,
        "/tmp/scaled_sf/sf0.2",
        {"dedup_minhash_lsh": 6.0, "dedup_simhash": 2.0, "dedup_embedding_cosine": 2.0},
    ),
    "graph_octave": Audit(
        graph_octave,
        "/tmp/scaled_sf/sf2",
        dict.fromkeys(
            ("pagerank_fixed", "label_propagation_communities", "kcore_peel",
             "graph_connected_components"),
            2.0,
        ),
    ),
    "agg_state_skew": Audit(
        agg_state_skew,
        "/tmp/scaled_sf/sf0.5",
        {
            "collect_list_per_group": 3.0,
            # marginal per word: line_dedup_docs and the word_shingles
            # consumers were the audit's quadratic catches
            "mlm_span_mask": 40.0,
            "line_dedup_docs": 40.0,
            "repeated_ngram_spans": 40.0,
            "dedup_minhash_lsh": 40.0,
        },
    ),
    "kernel_skew": Audit(
        kernel_skew,
        None,
        {
            "multimodal.sample_audio_windows": 40.0,
            "multimodal.sample_frames": 40.0,
            "kernels.extract_segments": 40.0,
            "kernels.nms": 3.0,
        },
    ),
    "assign_skew": Audit(
        assign_skew,
        "/tmp/scaled_sf/sf2",
        {"assign.nearest_centroids clustered": 2.0, "assign.nearest_centroids duplicate": 2.0},
    ),
    "semdedup_geometry": Audit(
        semdedup_geometry,
        None,
        # 2x the 4x data ratio: linear with headroom; production must beat
        # forced broadcast (the pruning is visibly doing work)
        {"semdedup_clusters 4x data": 8.0, "semdedup_clusters vs broadcast": 1.0},
    ),
}


def run_audit(spark, audit: Audit, src: str | None, out: str) -> dict:
    """Measure every case of ``audit``; the verdict record."""
    cases, extras = audit.cases(spark, src, out, audit.bounds)
    result: dict[str, object] = {"dir": src}
    ok = True
    for c in cases:
        t_u, t_s = (min(time_noop(build) for _ in range(2)) for build in (c.uniform, c.skewed))
        rows = [c.uniform().count(), c.skewed().count()]
        if c.units is None:
            ratio = t_s / t_u
        else:
            uniform_units, added_units = c.units
            ratio = ((t_s - t_u) / added_units) / (t_u / uniform_units)
        ratio = round(ratio, 2)
        ok = ok and ratio <= c.bound
        result[c.label] = {
            "uniform_s": round(t_u, 2),
            "skewed_s": round(t_s, 2),
            "ratio": ratio,
            "bound": c.bound,
            "rows": rows,
            **({"units": list(c.units)} if c.units else {}),
        }
        print(f"  {c.label}: uniform {t_u:.2f}s skewed {t_s:.2f}s ratio {ratio}", file=sys.stderr)
    result.update(extras)
    result["pass"] = ok and all(v for v in extras.values() if isinstance(v, bool))
    return result


def main(*audits: str) -> None:
    """Run ``audits`` (the former per-audit tools pass theirs) and those named in argv."""
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("audits", nargs="+", choices=sorted(AUDITS))
    ap.add_argument("--dir", help="uniform corpus (default: each audit's own)")
    ap.add_argument("--out", default="/tmp/skew_audit", help="where the twins are written")
    args = ap.parse_args([*audits, *sys.argv[1:]])
    from acuvate_spark.session import get_spark

    spark = get_spark("skew-audit")
    warm_up(spark, None)
    for name in args.audits:
        audit = AUDITS[name]
        src = audit.default_dir and (args.dir or audit.default_dir)
        result = run_audit(spark, audit, src, os.path.join(args.out, name))
        print(json.dumps({"audit": name, **result}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
