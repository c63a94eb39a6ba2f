"""P&ID pipeline queries — the geometric connection pipeline (SURVEY
§3.2 steps 5-7: polyline-touches-box join J6, pairwise self-join J7,
first-line-per-pair A5), tag parsing/rebuilding (X2/X3), the
LLM-label MD5-cache join (X5/O8), and the multimodal decode plumbing
(X6/X7) — with DuckDB oracles wherever the semantics are
SQL-expressible (the deterministic decode stub was designed to be).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from ..functions import tags
from ..operators import kernels, multimodal
from ..operators.spatial import grid_containment_join
from .synth import SYNTH_BOXES_SQL, synth_boxes, synth_detections, synth_dets_sql
from ..tables import load_table, repartition_for_compute
from .registry import register

# ---------------------------------------------------------------------------
# Geometric connection pipeline: lines x boxes -> touch -> edges
# ---------------------------------------------------------------------------


_LINES_PER_DOC = 200  # 20:1 part:supplier ratio x BOXES_PER_DOC


@register(
    "pid_connections",
    oracle=f"""
WITH {SYNTH_BOXES_SQL},
pts AS (
  SELECT p_partkey AS line_id, p_partkey // {_LINES_PER_DOC} AS doc_id,
         unnest(range(0, 5)) AS j
  FROM part
),
pxy AS (
  SELECT line_id, doc_id,
         (line_id * 3 + j * 7) % 110 AS x, (line_id * 11 + j * 5) % 110 AS y
  FROM pts
),
touch AS (
  SELECT DISTINCT line_id, box_id
  FROM pxy p, boxes b
  WHERE p.doc_id = b.doc_id
    AND x BETWEEN bx1 - 1 AND bx2 + 1 AND y BETWEEN by1 - 1 AND by2 + 1
),
edges AS (
  SELECT a.box_id AS box_a, b.box_id AS box_b, a.line_id
  FROM touch a JOIN touch b ON a.line_id = b.line_id AND a.box_id < b.box_id
)
SELECT box_a, box_b, min(line_id) AS first_line, count(*) AS n_lines
FROM edges GROUP BY 1, 2
""",
    survey_ref="J6 J7 A5 §3.2",
)
def pid_connections(spark, sf_dir):
    """The P&ID connection pipeline (reference
    build_simple_touch_connections_1 app.py:3171-3201 + grouped_lines
    app.py:2137-2152): explode polyline vertices -> margin-expanded
    containment join vs boxes (within the same DRAWING — doc_id joins
    the grid key) -> per-line touched-box set -> in-row pairwise
    expansion -> first-line-per-pair + line counts.

    Scale shape: vertices explode is narrow; the containment join
    meets on (doc_id, cell) — the document id carries corpus scale
    (more drawings of constant complexity, the reference's
    per-drawing reality), so per-cell candidates are bounded by
    per-document geometry at ANY corpus size (r06 verdict item 1: the
    pre-r07 fixture drew every line and box into ONE shared canvas,
    which made corpus scale density scale and measured ~340x at a 10x
    smoke). The box side is broadcast here (dim-like at these
    scales); with doc_id in the key the hint can simply be dropped at
    warehouse scale and the same plan runs as a shuffle equi-join.
    ONE collect_set groupBy replaces the r03 distinct +
    localCheckpoint + self-join (3 shuffles + a materialization -> 1
    shuffle): a line's touched-box set is geometry-bounded (a
    polyline crosses few boxes), so expanding its i<j pairs inside
    the row is both cheaper and skew-proof — per-line state is
    O(boxes touched), never O(lines)."""
    s = load_table(spark, sf_dir, "supplier")
    p = load_table(spark, sf_dir, "part")
    boxes = synth_boxes(s)
    pxy = (
        p.select(
            F.col("p_partkey").alias("line_id"),
            F.expr(f"p_partkey div {_LINES_PER_DOC}").alias("doc_id"),
            F.explode(F.sequence(F.lit(0), F.lit(4))).alias("j"),
        )
        .select(
            "line_id",
            "doc_id",
            ((F.col("line_id") * 3 + F.col("j") * 7) % 110).alias("x"),
            ((F.col("line_id") * 11 + F.col("j") * 5) % 110).alias("y"),
        )
    )
    # Grid-bucketed containment (SURVEY §4 O3, operators.spatial): the
    # |points| x |boxes| theta join becomes a (doc_id, cx, cy)
    # equi-join.
    touched_pairs = grid_containment_join(
        repartition_for_compute(pxy), boxes, margin=1.0, cell=10, keys=("doc_id",)
    )
    touched = touched_pairs.groupBy("line_id").agg(
        F.sort_array(F.collect_set("box_id")).alias("bs")
    )
    # i<j expansion via two codegen-friendly generators (posexplode +
    # slice + explode) — measured 2.4x faster than the equivalent
    # higher-order transform/flatten, which is interpreted per element
    pairs = touched.select(
        "line_id", "bs", F.posexplode("bs").alias("i", "box_a")
    ).select(
        "line_id",
        "box_a",
        F.explode(F.expr("slice(bs, i + 2, size(bs))")).alias("box_b"),
    )
    return pairs.groupBy("box_a", "box_b").agg(
        F.min("line_id").alias("first_line"), F.count("*").alias("n_lines")
    )


# ---------------------------------------------------------------------------
# X2/X3 — tag parse + formula rebuild round-trip
# ---------------------------------------------------------------------------


@register(
    "parse_tag_roundtrip",
    oracle="""
WITH synth AS (
  SELECT p_partkey,
         ['E17-A','E17-B','L7-C'][(p_partkey % 3) + 1] || '_' ||
         ['PIT','F','CBL'][(p_partkey % 3) + 1] || '-' ||
         CAST(1000 + p_partkey AS VARCHAR) ||
         CASE WHEN p_partkey % 4 = 0 THEN '-A' ELSE '' END AS tag_no
  FROM part
), parsed AS (
  SELECT p_partkey, tag_no,
         split_part(tag_no, '_', 1) AS asset,
         split_part(split_part(tag_no, '_', 2), '-', 1) AS func,
         split_part(split_part(tag_no, '_', 2), '-', 2) AS sequence,
         split_part(split_part(tag_no, '_', 2), '-', 3) AS suffix_1
  FROM synth
)
SELECT p_partkey, tag_no, asset, func, sequence, suffix_1,
       asset || '_' || func || '-' || sequence ||
       CASE WHEN suffix_1 <> '' THEN '-' || suffix_1 ELSE '' END AS rebuilt,
       (asset || '_' || func || '-' || sequence ||
        CASE WHEN suffix_1 <> '' THEN '-' || suffix_1 ELSE '' END) = tag_no AS matches
FROM parsed
""",
    survey_ref="X2 X3 F3 F6",
)
def parse_tag_roundtrip(spark, sf_dir):
    """parse_tag_details (reference app.py:5552-5635: split TAG_NO into
    asset/function/sequence/suffix on '_' and '-') then
    build_tag_no_by_formula (app.py:5929-5996: {ASSET}_{FUNC}-{SEQ}
    [-S1]) — a parse/rebuild round-trip whose `matches` column proves
    the two are inverse. Pure split/concat expressions."""
    p = load_table(spark, sf_dir, "part")
    k = F.col("p_partkey")
    asset = F.element_at(F.array(F.lit("E17-A"), F.lit("E17-B"), F.lit("L7-C")), (k % 3 + 1).cast("int"))
    func0 = F.element_at(F.array(F.lit("PIT"), F.lit("F"), F.lit("CBL")), (k % 3 + 1).cast("int"))
    tag_no = F.concat(
        asset, F.lit("_"), func0, F.lit("-"), (k + 1000).cast("string"),
        F.when(k % 4 == 0, F.lit("-A")).otherwise(F.lit("")),
    )
    synth = p.select("p_partkey", tag_no.alias("tag_no"))
    rest = F.substring_index(F.col("tag_no"), "_", -1)
    parts = F.split(rest, "-")
    parsed = synth.select(
        "p_partkey",
        "tag_no",
        F.substring_index("tag_no", "_", 1).alias("asset"),
        F.element_at(parts, 1).alias("func"),
        F.coalesce(F.try_element_at(parts, F.lit(2)), F.lit("")).alias("sequence"),
        F.coalesce(F.try_element_at(parts, F.lit(3)), F.lit("")).alias("suffix_1"),
    )
    rebuilt = F.concat(
        F.col("asset"), F.lit("_"), F.col("func"), F.lit("-"), F.col("sequence"),
        F.when(F.col("suffix_1") != "", F.concat(F.lit("-"), F.col("suffix_1"))).otherwise(F.lit("")),
    )
    return parsed.select(
        "p_partkey", "tag_no", "asset", "func", "sequence", "suffix_1",
        rebuilt.alias("rebuilt"),
        (rebuilt == F.col("tag_no")).alias("matches"),
    )


# ---------------------------------------------------------------------------
# X5/O8 — LLM label extraction with MD5 cache join
# ---------------------------------------------------------------------------


@register(
    "llm_label_cache",
    oracle="""
WITH items AS (SELECT doc_id, md5(text) AS content_md5 FROM documents),
cache AS (
  SELECT DISTINCT content_md5,
         'CACHED-' || upper(substr(content_md5, 1, 4)) AS label
  FROM items WHERE doc_id % 3 = 0
)
SELECT i.doc_id, i.content_md5,
       coalesce(c.label, 'LBL-' || upper(substr(i.content_md5, 1, 6))) AS label,
       (c.label IS NOT NULL) AS from_cache
FROM items i LEFT JOIN cache c USING (content_md5)
""",
    survey_ref="X5 O8 F9",
)
def llm_label_cache(spark, sf_dir):
    """The LLM-label stage with its MD5 result cache (reference
    extract_label_with_llm app.py:3219-3288 + LLM_CACHE
    app.py:3446-3459): cache hits join by content hash, misses get the
    (deterministic stub) model call. As a dataflow, repeated content
    costs one model call per distinct hash — the property that makes
    LLM labeling affordable over a 100 TB corpus."""
    d = load_table(spark, sf_dir, "documents")
    items = d.select("doc_id", F.md5("text").alias("content_md5"))
    cache = (
        items.where(F.col("doc_id") % 3 == 0)
        .select(
            "content_md5",
            F.concat(F.lit("CACHED-"), F.upper(F.substring("content_md5", 1, 4))).alias("label"),
        )
        .distinct()
    )
    return kernels.llm_label_with_cache(items, cache).select(
        "doc_id", "content_md5", "label", "from_cache"
    )


# ---------------------------------------------------------------------------
# X7/P13 — OCR word extraction kernel + polygon filter (§3.1 steps 3-4 front)
# ---------------------------------------------------------------------------


@register(
    "ocr_page_words",
    oracle=f"""
WITH pages AS (
  SELECT doc_id AS page_id,
         trim(text) || ' x PIT-' || CAST(1000 + doc_id AS VARCHAR)
                   || ' F-' || CAST(doc_id % 90 + 10 AS VARCHAR) || 'A' AS content
  FROM documents
),
t AS (
  SELECT page_id, regexp_split_to_array(content, '\\s+') AS w FROM pages
),
words AS (
  SELECT page_id,
         unnest([struct_pack(idx := i, word := w[i + 1])
                 FOR i IN range(0, len(w))]) AS s
  FROM t
),
ocr AS (
  SELECT page_id, CAST(s.idx AS BIGINT) AS word_idx, s.word AS word,
         CASE WHEN strlen(s.word) >= 2 THEN 10.0 * s.idx END AS poly_x,
         CASE WHEN strlen(s.word) >= 2 THEN CAST(page_id % 100 AS DOUBLE) END AS poly_y
  FROM words WHERE s.word <> ''
)
SELECT page_id, word_idx, word, poly_x, poly_y,
       (regexp_matches(upper(word), '{tags.PAT_REGULAR}')
        AND {tags.is_valid_plant_tag_sql('upper(word)')}) AS is_tag_candidate
FROM ocr WHERE poly_x IS NOT NULL
""",
    survey_ref="X7 P13 §3.1 steps 3-4",
)
def ocr_page_words(spark, sf_dir):
    """The OCR kernel as a driver-visible query (r03 verdict item 2):
    synthetic page rows (documents text + planted tag tokens, the
    redact_pii planting pattern) -> ``kernels.ocr_words_stub``
    mapInPandas word extraction (X7, reference process_single_page
    app.py:1022-1078) -> P13 keep-words-with-polygons filter
    (app.py:1035-1039) -> tag-grammar candidate flag, which is the
    exact handoff into the §3.1 tag ETL (scanner_tag_etl picks up
    from candidate words). The stub is a pure function of
    (page_id, content), so the oracle replays it word for word; the
    kernel itself is the real Arrow-batched mapInPandas path, which at
    100 TB partitions over pages exactly like the production OCR
    fan-out."""
    d = load_table(spark, sf_dir, "documents")
    content = F.concat(
        F.trim(F.col("text")),
        F.lit(" x PIT-"),
        (F.col("doc_id") + 1000).cast("string"),
        F.lit(" F-"),
        (F.col("doc_id") % 90 + 10).cast("string"),
        F.lit("A"),
    )
    pages = repartition_for_compute(
        d.select(F.col("doc_id").alias("page_id"), content.alias("content"))
    )
    ocr = kernels.ocr_words_stub(pages)
    up = F.upper(F.col("word"))
    return ocr.where(F.col("poly_x").isNotNull()).select(
        "page_id",
        "word_idx",
        "word",
        "poly_x",
        "poly_y",
        (up.rlike(tags.PAT_REGULAR) & tags.is_valid_plant_tag(up)).alias(
            "is_tag_candidate"
        ),
    )


# ---------------------------------------------------------------------------
# X6/X7 — multimodal decode + frame sampling (Arrow-batched Pandas UDFs)
# ---------------------------------------------------------------------------

_HEX = "0123456789abcdef"
_B0 = (
    f"((strpos('{_HEX}', substr(content_md5, 1, 1)) - 1) * 16"
    f" + strpos('{_HEX}', substr(content_md5, 2, 1)) - 1)"
)
_B1 = (
    f"((strpos('{_HEX}', substr(content_md5, 3, 1)) - 1) * 16"
    f" + strpos('{_HEX}', substr(content_md5, 4, 1)) - 1)"
)


@register(
    "multimodal_decode",
    oracle=f"""
WITH m AS (
  SELECT doc_id, md5(text) AS content_md5, strlen(text) AS n_bytes FROM documents
)
SELECT doc_id, 'image/fake' AS media_type, n_bytes, content_md5,
       (64 + {_B0} % 192)::INTEGER AS width,
       (64 + {_B1} % 192)::INTEGER AS height
FROM m
""",
    survey_ref="X6 X7 S4 (multimodal decode plumbing)",
)
def multimodal_decode(spark, sf_dir):
    """Binary media -> typed metadata via mapInPandas. The decode is a
    deterministic md5-derived fake (media codecs absent — see
    operators.multimodal), which makes this Pandas-UDF path fully
    oracle-checkable: the oracle recomputes width/height from the md5
    hex. Proves schema/Arrow-batch/UDF plumbing end-to-end."""
    d = load_table(spark, sf_dir, "documents")
    return multimodal.decode_media(multimodal.attach_binary(d))


@register(
    "multimodal_frames",
    oracle="""
SELECT doc_id, j::INTEGER AS frame_idx, md5(text || CAST(j AS VARCHAR)) AS frame_md5
FROM documents, unnest(range(0, 3)) AS t(j)
""",
    survey_ref="X6 (frame sampling: 1 row -> N frames)",
)
def multimodal_frames(spark, sf_dir):
    """'Video' frame sampling: one media row expands to N frame rows
    inside the Pandas UDF (UDTF shape). Frame hashes are md5(bytes ||
    idx), so the oracle can reproduce them."""
    d = load_table(spark, sf_dir, "documents")
    return multimodal.sample_frames(multimodal.attach_binary(d), n_frames=3)


_HEX = "0123456789abcdef"


@register(
    "multimodal_features",
    oracle=f"""
WITH f AS (SELECT doc_id, md5(text) AS m FROM documents),
dims AS (SELECT doc_id, m, unnest(range(0, 8)) AS dim FROM f)
SELECT doc_id, CAST(dim AS BIGINT) AS dim,
       round(((strpos('{_HEX}', substr(m, CAST(2 * dim + 1 AS INT), 1)) - 1) * 16
            + (strpos('{_HEX}', substr(m, CAST(2 * dim + 2 AS INT), 1)) - 1)) / 255.0, 6)
         AS value
FROM dims
""",
    survey_ref="X6 (feature extraction -> embedding column)",
)
def multimodal_features(spark, sf_dir):
    """Media -> fixed-dim feature vector (md5-seeded deterministic
    fake) via Arrow-batched mapInPandas — the vector column feeds the
    similarity operators without reshuffling raw bytes. The registry
    query posexplodes to (doc_id, dim, value) rows: scalar columns
    keep the result frame canonicalizable (arrays crashed the
    harness's sorter for sketch_stats in round 1) and let the oracle
    replay the md5-byte feature derivation value by value (k/255
    rounded at 6 decimals never sits on a .5 boundary, so Python and
    SQL round identically)."""
    d = load_table(spark, sf_dir, "documents")
    feats = multimodal.extract_features(multimodal.attach_binary(d))
    return feats.select(
        "doc_id", F.posexplode("feature").alias("dim", "value")
    ).withColumn("dim", F.col("dim").cast("long"))


@register(
    "nms_detections",
    oracle=None,  # greedy NMS is inherently sequential per group: rows-only
    survey_ref="O6 X6 (per-class greedy NMS kernel)",
)
def nms_detections(spark, sf_dir):
    """Per-(document, class) greedy NMS over synthesized detections
    (reference app.py:1685-1714). applyInPandas kernel; verified by
    property tests (conflict-free output, max-conf retained) in
    tests/test_kernels.py."""
    p = load_table(spark, sf_dir, "part")
    det = synth_detections(p, size=10)
    return kernels.nms(det, iou_threshold=0.5)


# ---------------------------------------------------------------------------
# O10 — tiling with overlap (1 image row -> N tile rows)
# ---------------------------------------------------------------------------

_TILE, _OVERLAP = 640, 100
_STEP = _TILE - _OVERLAP


def _starts_sql(size_expr: str) -> str:
    n_full = f"greatest(ceil(({size_expr} - {_TILE}) / {_STEP}.0)::BIGINT, 0)"
    lst = f"[least(i * {_STEP}, {size_expr} - {_TILE}) FOR i IN range(0, {n_full} + 1)]"
    covering = f"list_distinct(list_filter({lst}, s -> s >= 0))"
    return f"CASE WHEN {size_expr} < {_TILE} THEN [0::BIGINT] ELSE {covering} END"


@register(
    "tile_grid",
    oracle=f"""
WITH imgs AS (
  SELECT doc_id, 800 + (doc_id % 7) * 100 AS width, 600 + (doc_id % 5) * 80 AS height
  FROM documents
)
SELECT doc_id, tx, ty,
       least({_TILE}, width - tx) AS tile_w,
       least({_TILE}, height - ty) AS tile_h
FROM imgs,
     unnest({_starts_sql('width')}) AS u1(tx),
     unnest({_starts_sql('height')}) AS u2(ty)
""",
    survey_ref="O10 X6 (tile/overlap inference prep: app.py:2816-2821, 3955-3957)",
)
def tile_grid(spark, sf_dir):
    """Tiling with overlap (reference compute_tile_starts
    app.py:2816-2821, 640/100 mask params app.py:3955-3957): each image
    row explodes into its overlapping tile grid, with the last tile
    clamped to the image edge. The tile rows feed the detection kernel
    data-parallel — one image no longer binds to one worker. Images
    smaller than one tile produce one whole-image tile."""
    from ..operators.tiling import explode_tiles

    d = load_table(spark, sf_dir, "documents")
    imgs = d.select(
        "doc_id",
        (F.lit(800) + (F.col("doc_id") % 7) * 100).alias("width"),
        (F.lit(600) + (F.col("doc_id") % 5) * 80).alias("height"),
    )
    return explode_tiles(imgs, "width", "height", _TILE, _OVERLAP).select(
        "doc_id", "tx", "ty", "tile_w", "tile_h"
    )


# ---------------------------------------------------------------------------
# §3.2 — the full imageprocess pipeline composed end-to-end (rows-only)
# ---------------------------------------------------------------------------


def _ip_boxes(p):
    """Stage 1 of the imageprocess pipeline: synthetic detections ->
    per-class greedy NMS kernel -> stable box ids. Shared by the
    composed pipeline and the committed-fixture generator
    (tools/make_imageprocess_fixture.py), so the fixture can only be
    the real kernel output."""
    det = synth_detections(p, size=12)
    return kernels.nms(det, iou_threshold=0.5).withColumn(
        "box_id",
        F.xxhash64(F.col("document_id"), F.col("cls"), F.col("x1"), F.col("y1")),
    )


def _ip_segments(p):
    """Stage 2: synthetic mask strokes -> pixel-BFS segmentation ->
    downsampled polylines (same sharing contract as _ip_boxes). The
    image key is ``p_partkey div 2000`` — the SAME document index the
    detections carry ('D' + that index, synth.DETS_PER_DOC), so the
    tail can join boxes to segments per image. Per image: one
    horizontal stroke row per eligible part at y = 2 * (7 * local
    rank % 30) — EVEN rows only, so distinct strokes are 2 px apart
    and never 8-connect into one blob — a constant ~1.2k-pixel,
    ~30-segment mask per image at ANY corpus size (the pre-r07 form
    keyed images by ``p_partkey % 97``, a fixed 97-image set whose
    masks grew with the corpus; its y formula was also degenerate —
    (20m*3) % 60 == 0 put every stroke at y=0)."""
    strokes = (
        p.where(F.col("p_partkey") % 20 == 0)
        .select(
            F.expr("p_partkey div 2000").alias("image_id"),
            F.explode(F.sequence(F.lit(0), F.lit(40))).alias("i"),
            ((F.expr("(p_partkey div 20) * 7") % 30) * 2).alias("ybase"),
        )
        .select("image_id", F.col("i").alias("x"), F.col("ybase").cast("int").alias("y"))
        .distinct()
    )
    return kernels.extract_segments(strokes, downsample=10)


def _ip_tail(boxes, segments):
    """Stages 3-4 — the DECLARATIVE tail: polyline vertices x boxes
    touch join (J6, grid-bucketed, WITHIN an image — the boxes'
    document index joins the grid key, so a segment can only touch
    its own image's boxes, the §3.2 per-image reality; corpus growth
    adds images, never cell density), pairwise edges per segment
    (J7), first-line-per-pair (A5), MD5-cached LLM labels (X5). Pure
    DataFrame ops, so it is oracle-pinnable given fixed kernel
    outputs — which is exactly what imageprocess_tail does."""
    verts = segments.select(
        "image_id", "segment_id", F.explode("points").alias("pt")
    ).select(
        "image_id",
        "segment_id",
        F.element_at("pt", 1).cast("double").alias("px"),
        F.element_at("pt", 2).cast("double").alias("py"),
    )
    # boxes carry document_id = 'D<n>' (synth_detections); n is the
    # segments' image_id
    boxes_k = boxes.withColumn(
        "image_id", F.expr("CAST(substring(document_id, 2, 18) AS BIGINT)")
    )
    # One collect_set groupBy replaces the r03 distinct +
    # localCheckpoint + self-join (same rewrite as pid_connections):
    # with a single consumer the kernel lineage runs exactly once, so
    # the eager materialization is no longer needed either. A
    # segment's touched-box set is geometry-bounded, so the in-row
    # i<j expansion is skew-proof.
    touched = (
        grid_containment_join(
            verts, boxes_k,
            px="px", py="py", bx1="x1", by1="y1", bx2="x2", by2="y2",
            margin=2.0, cell=16, keys=("image_id",),
        )
        .groupBy("image_id", "segment_id")
        .agg(F.sort_array(F.collect_set("box_id")).alias("bs"))
    )
    edges = (
        touched.select(
            "segment_id", "bs", F.posexplode("bs").alias("i", "box_a")
        )
        .select(
            "segment_id",
            "box_a",
            F.explode(F.expr("slice(bs, i + 2, size(bs))")).alias("box_b"),
        )
        .groupBy("box_a", "box_b")
        .agg(F.min("segment_id").alias("first_segment"), F.count("*").alias("n_lines"))
    )
    labeled = edges.withColumn(
        "edge_md5", F.md5(F.concat_ws("|", F.col("box_a"), F.col("box_b")))
    ).withColumn("label", kernels.llm_label_stub_expr(F.col("edge_md5")))
    return labeled.select("box_a", "box_b", "first_segment", "n_lines", "label")


@register(
    "imageprocess_pipeline",
    oracle=None,  # composes the BFS kernel + NMS (sequential kernels) -> rows-only
    survey_ref="§3.2 end-to-end: X6 X8 O6 J6 J7 A5 X5 O8",
)
def imageprocess_pipeline(spark, sf_dir):
    """The reference's /api/Home/imageprocess pipeline (SURVEY §3.2)
    composed end-to-end on synthetic inputs:

    1. detections (from part) -> per-class greedy NMS kernel;
    2. mask pixels (synthetic strokes) -> pixel-BFS segmentation ->
       downsampled polylines;
    3. polyline vertices x surviving boxes -> touch join -> pairwise
       edges per line -> first-line-per-pair;
    4. edge endpoints labeled via the MD5-cached LLM stub.

    Each stage is the operator verified elsewhere (nms_detections,
    extract_segments test, pid_connections, llm_label_cache); this
    query proves they compose into one lazy plan with kernels and
    joins interleaved — the reference's whole §3.2 trace as a single
    dataflow. The declarative tail (stages 3-4) is additionally
    hash-pinned by ``imageprocess_tail`` over committed kernel-output
    fixtures, so only the two sequential kernels themselves sit
    outside oracle verification."""
    p = load_table(spark, sf_dir, "part")
    return _ip_tail(_ip_boxes(p), _ip_segments(p))


_IP_BOXES_FIX = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "resources",
    "ip_boxes.parquet",
)
_IP_SEGMENTS_FIX = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "resources",
    "ip_segments.parquet",
)


@register(
    "imageprocess_tail",
    oracle=f"""
WITH boxes AS (
  SELECT box_id, CAST(substring(document_id, 2) AS BIGINT) AS image_id,
         x1, y1, x2, y2
  FROM '{_IP_BOXES_FIX}'
),
segs AS (SELECT image_id, segment_id, points FROM '{_IP_SEGMENTS_FIX}'),
verts AS (
  SELECT image_id, segment_id,
         CAST(pt[1] AS DOUBLE) AS px, CAST(pt[2] AS DOUBLE) AS py
  FROM (SELECT image_id, segment_id, unnest(points) AS pt FROM segs)
),
touch AS (
  SELECT DISTINCT v.image_id, v.segment_id, b.box_id
  FROM verts v JOIN boxes b
    ON v.image_id = b.image_id
   AND v.px BETWEEN b.x1 - 2 AND b.x2 + 2
   AND v.py BETWEEN b.y1 - 2 AND b.y2 + 2
),
pairs AS (
  SELECT a.segment_id, a.box_id AS box_a, b.box_id AS box_b
  FROM touch a JOIN touch b
    ON a.image_id = b.image_id AND a.segment_id = b.segment_id
   AND a.box_id < b.box_id
),
edges AS (
  SELECT box_a, box_b, min(segment_id) AS first_segment,
         CAST(count(*) AS BIGINT) AS n_lines
  FROM pairs GROUP BY box_a, box_b
)
SELECT box_a, box_b, first_segment, n_lines,
       'LBL-' || upper(substr(md5(CAST(box_a AS VARCHAR) || '|' || CAST(box_b AS VARCHAR)), 1, 6)) AS label
FROM edges
""",
    survey_ref="§3.2 declarative tail, hash-pinned: J6 J7 A5 X5 O8 "
    "(reference app.py:3171-3201 touch/edges + app.py:3462-3604 labeling)",
)
def imageprocess_tail(spark, sf_dir):
    """The imageprocess pipeline's DECLARATIVE TAIL over committed
    kernel-output fixtures: NMS boxes + BFS polylines (generated once
    from the real kernels at sf0.01 by
    tools/make_imageprocess_fixture.py, staleness-tested against the
    live kernels) feed the touch join -> pairwise edges ->
    first-segment agg -> MD5-cached LLM labels — the exact `_ip_tail`
    composition `imageprocess_pipeline` runs. This pins every
    relational stage of the §3.2 trace to a DuckDB hash oracle; only
    the two inherently-sequential kernels (greedy NMS, pixel BFS)
    remain rows-only. The grid-bucketed containment join is proven
    equivalent to the oracle's plain theta join for any cell size —
    the margin drives both the cell cover and the exact predicate."""
    boxes = spark.read.parquet(_IP_BOXES_FIX)
    segments = spark.read.parquet(_IP_SEGMENTS_FIX)
    return _ip_tail(boxes, segments)


@register(
    "nms_parallel",
    oracle=f"""
WITH {synth_dets_sql(10)},
det AS (SELECT DISTINCT document_id, cls, x1, y1, x2, y2, conf FROM dets),
sup AS (
  SELECT a.document_id, a.cls, a.x1, a.y1, a.x2, a.y2, a.conf,
         count(b.x1) > 0 AS suppressed
  FROM det a LEFT JOIN det b
    ON a.document_id = b.document_id AND a.cls = b.cls
   AND (b.conf > a.conf OR (b.conf = a.conf AND (b.y1 < a.y1 OR (b.y1 = a.y1 AND b.x1 < a.x1))))
   AND 2 * (greatest(least(a.x2, b.x2) - greatest(a.x1, b.x1), 0)
          * greatest(least(a.y2, b.y2) - greatest(a.y1, b.y1), 0))
       > ((a.x2 - a.x1) * (a.y2 - a.y1) + (b.x2 - b.x1) * (b.y2 - b.y1)
          - greatest(least(a.x2, b.x2) - greatest(a.x1, b.x1), 0)
            * greatest(least(a.y2, b.y2) - greatest(a.y1, b.y1), 0))
  GROUP BY 1, 2, 3, 4, 5, 6, 7
)
SELECT document_id, cls, x1, y1, x2, y2, conf, suppressed FROM sup
""",
    survey_ref="X6 parallel twin: one-pass dataflow NMS (no Python)",
)
def nms_parallel(spark, sf_dir):
    """Parallel (Matrix-NMS-style) suppression: a box is suppressed
    iff ANY higher-ranked box in its (document, class) group overlaps
    it past IoU 0.5 — one self-equi-join on the group key, zero
    Python. This is the declarative 100 TB twin of the greedy
    applyInPandas kernel (nms_detections): it differs from greedy
    only on chains where a suppressed box would itself have
    suppressed others (greedy keeps those survivors). The IoU
    threshold compares as 2*inter > union in exact integer-valued
    arithmetic, and confidence ties break on (y1, x1), so both
    engines agree bit-for-bit."""
    p = load_table(spark, sf_dir, "part")
    det = synth_detections(p, size=10).distinct()
    a, b = det.alias("a"), det.alias("b")
    c = F.col
    inter = F.greatest(F.least(c("a.x2"), c("b.x2")) - F.greatest(c("a.x1"), c("b.x1")), F.lit(0.0)) \
        * F.greatest(F.least(c("a.y2"), c("b.y2")) - F.greatest(c("a.y1"), c("b.y1")), F.lit(0.0))
    union_area = (
        (c("a.x2") - c("a.x1")) * (c("a.y2") - c("a.y1"))
        + (c("b.x2") - c("b.x1")) * (c("b.y2") - c("b.y1"))
        - inter
    )
    dominates = (c("b.conf") > c("a.conf")) | (
        (c("b.conf") == c("a.conf"))
        & ((c("b.y1") < c("a.y1")) | ((c("b.y1") == c("a.y1")) & (c("b.x1") < c("a.x1"))))
    )
    joined = a.join(
        b,
        (c("a.document_id") == c("b.document_id"))
        & (c("a.cls") == c("b.cls"))
        & dominates
        & (2 * inter > union_area),
        "left",
    )
    return (
        joined.groupBy(
            c("a.document_id").alias("document_id"), c("a.cls").alias("cls"),
            c("a.x1").alias("x1"), c("a.y1").alias("y1"),
            c("a.x2").alias("x2"), c("a.y2").alias("y2"), c("a.conf").alias("conf"),
        )
        .agg((F.count(c("b.x1")) > 0).alias("suppressed"))
    )


@register(
    "multimodal_audio_windows",
    oracle=f"""
WITH a AS (
  SELECT doc_id, text, octet_length(encode(text)) AS n_bytes FROM documents
),
w AS (
  SELECT doc_id, text, unnest(range(0, (n_bytes - {multimodal.AUDIO_WINDOW_MS})
                                      // {multimodal.AUDIO_HOP_MS} + 1)) AS i
  FROM a WHERE n_bytes >= {multimodal.AUDIO_WINDOW_MS}
)
SELECT doc_id,
       CAST(i AS BIGINT) AS window_idx,
       CAST(i * {multimodal.AUDIO_HOP_MS} AS BIGINT) AS start_ms,
       CAST(i * {multimodal.AUDIO_HOP_MS} + {multimodal.AUDIO_WINDOW_MS} AS BIGINT) AS end_ms,
       md5(text || CAST(i AS VARCHAR)) AS window_md5,
       CAST((strpos('{_HEX}', substr(md5(text || CAST(i AS VARCHAR)), 1, 1)) - 1) * 16
            + (strpos('{_HEX}', substr(md5(text || CAST(i AS VARCHAR)), 2, 1)) - 1)
            AS BIGINT) AS energy_scaled
FROM w
""",
    survey_ref="X6 family: audio window sampling (overlapping STFT/VAD framing; "
    "completes the image/video/audio multimodal triad)",
)
def multimodal_audio_windows(spark, sf_dir):
    """'Audio' sliding-window sampling over opaque binary media —
    overlapping 400 ms windows at 200 ms hop (1 byte = 1 ms fake
    duration; a real decoder divides by the sample rate), each window
    carrying its content hash and an md5-derived fake energy. The
    1->N expansion happens inside the Arrow-batched Pandas UDF
    (operators/multimodal.sample_audio_windows); windows carry hashes,
    never bytes, so downstream aggregation shuffles fixed-width rows.
    The oracle replays duration, window math, hashes, and energies
    from the same UTF-8 payload."""
    d = load_table(spark, sf_dir, "documents")
    return multimodal.sample_audio_windows(multimodal.attach_binary(d))
