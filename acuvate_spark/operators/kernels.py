"""Kernel layer — SURVEY §2.10 X5-X8 / §4 O6, O8: the reference's
model-inference stages (LLM labeling, YOLO detection NMS, OCR word
extraction) as Spark operators with deterministic pure-Python
stand-ins (the real model weights are absent from the reference repo,
.MISSING_LARGE_BLOBS).

Design rules carried over from the reference:
* LLM calls are cached by md5 of the input (app.py:3446-3459) -> here
  the cache is a DataFrame joined by hash, so repeated content is
  computed once per corpus, not once per row.
* NMS partitions by class and greedily keeps max-confidence boxes
  (app.py:1685-1714) -> one greedy pass per (document, class) group
  inside a single key-sorted mapInPandas; groups are detection-sized
  (hundreds), so the Python kernel is bounded regardless of corpus
  size.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def llm_label_stub_expr(md5_col):
    """Deterministic stand-in for the LLM label extraction
    (app.py:3219-3288): a pure function of the content hash, so it is
    SQL-expressible and oracle-checkable."""
    return F.concat(F.lit("LBL-"), F.upper(F.substring(md5_col, 1, 6)))


def llm_label_with_cache(items: DataFrame, cache: DataFrame) -> DataFrame:
    """MD5-cache join (O8): items(key, content_md5) ⟕ cache(content_md5,
    label); misses get the (stub) model call; result unions hits and
    computed misses. The cache join replaces the reference's in-memory
    dict so it scales past one process."""
    hits = items.join(cache, "content_md5", "inner").withColumn("from_cache", F.lit(True))
    misses = (
        items.join(cache, "content_md5", "left_anti")
        .withColumn("label", llm_label_stub_expr(F.col("content_md5")))
        .withColumn("from_cache", F.lit(False))
    )
    return hits.unionByName(misses)


NMS_SCHEMA = (
    "document_id string, cls string, x1 double, y1 double, x2 double, y2 double, "
    "conf double"
)


def nms(detections: DataFrame, iou_threshold: float = 0.5) -> DataFrame:
    """Greedy per-class NMS (reference app.py:1685-1714): sort by
    confidence desc, keep a box iff IoU with every kept box is below
    the threshold. The per-(document_id, cls) group kernel is the
    canonical 'small imperative kernel inside a partitioned dataflow'
    shape for operators Spark can't express relationally.

    r15 (guide §4.1/§4.2 — measured): detection groups are tiny
    (~10-15 boxes; a page has bounded detections per class), so the
    r14 ``groupBy().applyInPandas`` paid one Arrow round trip + Python
    call + pandas frame per GROUP — the kernel stage profiled at
    0.99 s of imageprocess_pipeline's 1.79 s with ~1,500 group
    invocations at sf0.1. Now ONE mapInPandas over data repartitioned
    and sorted by the group key runs whole Arrow batches through a
    pandas groupby, holding back each batch's trailing group so a
    group split across batch boundaries is processed once, intact.

    GRID PRESCREEN (r12 kernel audit, SCALING.md): a plain sweep of
    each candidate against the whole kept set is quadratic on
    DISPERSED pages — 20k unit boxes on a large canvas keep
    everything, 9.0 s for ONE group — while the prescreen runs it in
    ~0.1 s, and at fixture group sizes (1-50 boxes) the two cost the
    same (the sort dominates). It is exact, not approximate: cells are
    sized to the group's max box dimension, so any two INTERSECTING
    boxes have min-corner anchor cells differing by <= 1 per axis —
    a candidate's IoU can be non-zero only against kept boxes anchored
    in its 3x3 cell neighborhood, and greedy decisions depend only on
    overlap with kept boxes (a zero-overlap pair never suppresses for
    any ``iou_threshold > 0``). Same sort, same decisions, same rows
    as the plain sweep (pinned in tests/test_kernels.py).

    OVERSIZED boxes get a second tier (r13 kernel payload-skew audit):
    with cells sized to the group max, ONE page-border box on a
    20k-symbol sheet made the cell page-sized and the prescreen
    degraded to the quadratic scan (tools/skew_audit.py kernel_skew). Boxes
    wider than 4x the median dimension are held out of the grid: every
    candidate checks the oversized kept set, and an oversized
    CANDIDATE sweeps the full kept set — so the cell stays sized to
    the normal population. Boxes with a NaN or infinite coordinate
    join that tier too (median and cell come from finite boxes only):
    their IoU is 0 or NaN against every box, so they suppress nothing
    and are kept, exactly as the plain sweep keeps them."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values(["conf", "x1", "y1"], ascending=[False, True, True]).reset_index(
            drop=True
        )
        x1 = pdf["x1"].to_numpy()
        y1 = pdf["y1"].to_numpy()
        x2 = pdf["x2"].to_numpy()
        y2 = pdf["y2"].to_numpy()
        areas = np.maximum(0.0, x2 - x1) * np.maximum(0.0, y2 - y1)
        dims = np.maximum(np.maximum(0.0, x2 - x1), np.maximum(0.0, y2 - y1))
        finite = np.isfinite(x1) & np.isfinite(y1) & np.isfinite(x2) & np.isfinite(y2)
        med = float(np.median(dims[finite])) if finite.any() else 0.0
        big = ~finite | (dims > 4.0 * med)
        cell = max(float(np.max(dims[~big], initial=0.0)), 1e-9)
        by_cell: dict[tuple[int, int], list[int]] = {}
        big_kept: list[int] = []
        kept: list[int] = []
        for i in range(len(pdf)):
            if big[i]:
                # an oversized CANDIDATE spans many cells — its 3x3
                # anchor neighborhood can miss a kept normal box it
                # overlaps, so it sweeps the full kept set (both tiers)
                cand: list[int] = list(kept)
            else:
                cx, cy = int(x1[i] // cell), int(y1[i] // cell)
                cand = list(big_kept)
                for dx in (-1, 0, 1):
                    for dy in (-1, 0, 1):
                        cand += by_cell.get((cx + dx, cy + dy), ())
            if cand:
                k = np.array(cand)
                ix = np.maximum(0.0, np.minimum(x2[i], x2[k]) - np.maximum(x1[i], x1[k]))
                iy = np.maximum(0.0, np.minimum(y2[i], y2[k]) - np.maximum(y1[i], y1[k]))
                inter = ix * iy
                union = areas[i] + areas[k] - inter
                if np.any((union > 0) & (inter / np.maximum(union, 1e-12) >= iou_threshold)):
                    continue
            if big[i]:
                big_kept.append(i)
            else:
                by_cell.setdefault((cx, cy), []).append(i)
            kept.append(i)
        return pdf.iloc[kept]

    cols = [c.split(" ")[0] for c in NMS_SCHEMA.split(", ")]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def run(pdf: pd.DataFrame) -> pd.DataFrame:
            outs = [
                kernel(g)
                for _, g in pdf.groupby(["document_id", "cls"], sort=False)
            ]
            return pd.concat(outs, ignore_index=True)[cols]

        carry: pd.DataFrame | None = None
        for pdf in it:
            if len(pdf) == 0:
                continue
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
            # rows arrive sorted by the group key, so the batch's LAST
            # group is its only possibly-incomplete one — hold it back
            last_doc = pdf["document_id"].iloc[-1]
            last_cls = pdf["cls"].iloc[-1]
            mask = (pdf["document_id"] == last_doc) & (pdf["cls"] == last_cls)
            carry = pdf.loc[mask]
            head = pdf.loc[~mask]
            if len(head):
                yield run(head)
        if carry is not None and len(carry):
            yield run(carry)

    parted = detections.repartition("document_id", "cls").sortWithinPartitions(
        "document_id", "cls"
    )
    return parted.mapInPandas(batches, schema=NMS_SCHEMA)



OCR_WORDS_SCHEMA = (
    "page_id long, word_idx long, word string, poly_x double, poly_y double"
)


def ocr_words_stub(pages: DataFrame, passthrough: tuple[str, ...] = ()) -> DataFrame:
    """OCR page processing shape (reference process_single_page
    app.py:1022-1078): page rows -> word rows with polygon anchors,
    via mapInPandas (the reference's 10-thread OCR pool,
    app.py:1180-1188, becomes partition parallelism). Deterministic
    stand-in: words are the whitespace tokens of the page's text
    payload; single-character tokens get NO polygon, mirroring the
    reference's words-without-bounding-polygons case that the P13
    filter (app.py:1035-1039) drops downstream. The derivation is a
    pure function of (page_id, content), so a SQL oracle can replay
    it word for word.

    ``passthrough`` names string page-metadata columns copied onto
    every word row (file name, document id) — carrying metadata
    through the kernel instead of re-joining on page_id afterwards,
    which would cost an extra shuffle of the word stream at scale."""

    cols = ["page_id", "word_idx", "word", "poly_x", "poly_y", *passthrough]
    schema = OCR_WORDS_SCHEMA + "".join(f", {c} string" for c in passthrough)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # one numpy explosion for every batch: repeat page ids/metadata
        # by token count, one arange subtraction for word_idx, one
        # fromiter for the flat word array. No per-token row loop for
        # token-sparse batches: on one-token pages it saves at most
        # ~0.5 ms of CPU per Arrow batch and takes about twice as long
        # from ~1,000 pages per batch (micro-benchmark of both bodies,
        # CHANGES.md). None text yields no tokens; a 1-char word's
        # polygon cells are NaN, which Arrow writes as null.
        import itertools

        import numpy as np

        for pdf in it:
            toks = [
                str(t).split() if t is not None else [] for t in pdf["content"]
            ]
            lens = np.fromiter((len(t) for t in toks), dtype=np.int64, count=len(toks))
            total = int(lens.sum())
            words = np.fromiter(
                itertools.chain.from_iterable(toks), dtype=object, count=total
            )
            page_rep = np.repeat(pdf["page_id"].to_numpy(), lens)
            starts = np.repeat(lens.cumsum() - lens, lens)
            word_idx = np.arange(total, dtype=np.int64) - starts
            wlen = np.fromiter((len(w) for w in words), dtype=np.int64, count=total)
            has_poly = wlen >= 2
            poly_x = np.where(has_poly, 10.0 * word_idx, np.nan)
            poly_y = np.where(has_poly, (page_rep % 100).astype(np.float64), np.nan)
            out = {
                "page_id": page_rep,
                "word_idx": word_idx,
                "word": words,
                "poly_x": poly_x,
                "poly_y": poly_y,
            }
            for c in passthrough:
                out[c] = np.repeat(pdf[c].to_numpy(), lens)
            yield pd.DataFrame(out, columns=cols)

    return pages.mapInPandas(batches, schema=schema)


SEGMENTS_SCHEMA = "image_id long, segment_id int, points array<array<int>>"


def extract_segments(pixels: DataFrame, downsample: int = 10) -> DataFrame:
    """Pixel-BFS stroke segmentation (reference extract_segments
    app.py:3034-3059): 'on' pixels of a line mask are grouped into
    8-connected components by BFS, each emitted as a polyline
    downsampled to every ``downsample``-th pixel (reference keeps every
    10th, app.py:3064-3079).

    Input: (image_id, x, y) rows. applyInPandas per image — a mask is
    one drawing page, so the imperative kernel stays bounded while the
    corpus scales by partitioning over images.
    """

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        image_id = int(pdf["image_id"].iloc[0])
        todo = set(zip(pdf["x"].astype(int), pdf["y"].astype(int)))
        # seeds come from ONE upfront sort + index advance: min(todo)
        # per component would be O(pixels x components) on noisy masks
        ordered = sorted(todo)
        seed_idx = 0
        out_rows = []
        seg = 0
        while todo:
            while ordered[seed_idx] not in todo:
                seed_idx += 1
            seed = ordered[seed_idx]  # deterministic traversal order
            stack = [seed]
            todo.discard(seed)
            component = []
            while stack:
                x, y = stack.pop()
                component.append((x, y))
                for dx in (-1, 0, 1):
                    for dy in (-1, 0, 1):
                        n = (x + dx, y + dy)
                        if n in todo:
                            todo.discard(n)
                            stack.append(n)
            component.sort()
            pts = component[::downsample]
            if component[-1] not in pts:
                pts.append(component[-1])
            out_rows.append((image_id, seg, [[px, py] for px, py in pts]))
            seg += 1
        return pd.DataFrame(out_rows, columns=["image_id", "segment_id", "points"])

    return pixels.groupBy("image_id").applyInPandas(kernel, schema=SEGMENTS_SCHEMA)
