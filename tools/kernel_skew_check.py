#!/usr/bin/env python3
"""Payload-size skew audit for the Arrow kernel family (r13 — the
ring after key-skew: LSH hot bands r11, wedge-join hubs r12,
hot-entity windows r12). The kernels are not skewed by KEY population
but by ROW PAYLOAD: one 10-hour audio row, one dense 10k x 10k page,
or one page-border box serializes into a single mapInPandas batch /
applyInPandas group regardless of partitioning, so the question is
whether per-group cost is linear in the payload (acceptable: the
graph_two_hop output-proportional precedent) or super-linear (a
scale-killer needing a fix — the NMS grid prescreen precedent).

What this audit measured and what changed (see SCALING.md r13):

* sample_audio_windows hashed md5(raw + str(i)) PER WINDOW — a
  payload-quadratic O(windows x bytes): one fake 32 MB row is ~160k
  windows x 32 MB = ~5 TB hashed in one task. Fixed result-identical
  by hashing the payload once and cloning the digest state per window
  (md5(raw || str(i)) either way); sample_frames got the same clone.
* the NMS grid prescreen sized cells to the GROUP max box dimension — one
  page-border box made every cell page-sized and the prescreen
  degraded to the quadratic scan. Fixed result-identical with a
  second tier: boxes > 4x median dim are swept globally, the grid
  cell stays sized to the normal population.
* extract_segments (pixel BFS) is genuinely linear per pixel
  (set-based BFS, one sort); a giant page costs one task of O(px) —
  documented single-task bound, same class as the uniform corpus.

Fixtures are engine-built (spark.range + exprs, no driver loops over
payloads); wall clocks are min-of-2 bench.time_noop runs after
bench.warm_up; pass = every giant-vs-uniform run within BOUND x after
accounting for the giant's own output share.

    python tools/kernel_skew_check.py [--audio-mb 32]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from bench import time_noop, warm_up  # noqa: E402

BOUND = 3.0


def _noop_time(df) -> float:
    return min(time_noop(lambda: df) for _ in range(2))


def _audio_frames(spark, audio_mb: int):
    """sample_audio_windows / sample_frames: 2000 uniform 64 KB rows
    vs the same plus ONE audio_mb-MB row (fake 1 byte = 1 ms: the
    giant is ~9 hours of audio against 64-second clips)."""
    from acuvate_spark.operators import multimodal

    uniform = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        F.expr("cast(repeat('u', 64000) as binary)").alias("media"),
    )
    giant_row = spark.range(1).select(
        (F.col("id") + 1_000_000).alias("doc_id"),
        F.expr(f"cast(repeat('g', {audio_mb * 1024 * 1024}) as binary)").alias("media"),
    )
    out = {}
    # audio: output rows dominate (the giant is ~160k windows), and the
    # giant's windows are produced by ONE task while the uniform corpus
    # runs 32-way — the fair bound is MARGINAL cost per output row vs
    # the uniform per-row cost (ceiling ~n_cores for a linear kernel).
    # The pre-fix payload-quadratic form measured ~8000x on this metric
    # (157.9 s for a 4 MB giant's 20k windows); linear is ~10-15x.
    op = multimodal.sample_audio_windows
    t_u, t_g = _noop_time(op(uniform)), _noop_time(op(uniform.unionByName(giant_row)))
    rows_u = op(uniform).count()
    rows_g = op(uniform.unionByName(giant_row)).count()
    ratio = round(((t_g - t_u) / (rows_g - rows_u)) / (t_u / rows_u), 2)
    out["sample_audio_windows"] = {
        "uniform_s": round(t_u, 2),
        "giant_s": round(t_g, 2),
        "rows": [rows_u, rows_g],
        "marginal_per_row_ratio": ratio,
        "note": "giant's windows come from one task; honest ceiling for a "
        "linear kernel is ~n_cores plus Arrow transfer overhead",
    }
    print(
        f"  sample_audio_windows: uniform {t_u:.2f}s (+giant {audio_mb}MB) "
        f"{t_g:.2f}s rows {rows_u}->{rows_g} marginal-per-row ratio {ratio}",
        file=sys.stderr,
    )
    # frames: output stays ~constant (3 rows per doc) while the giant's
    # BYTES are serialized through one Arrow batch in one task — the
    # fair bound is marginal cost per byte vs the (32-way parallel)
    # uniform per-byte cost, same formulation as extract_segments
    op = multimodal.sample_frames
    t_u, t_g = _noop_time(op(uniform)), _noop_time(op(uniform.unionByName(giant_row)))
    bytes_u, bytes_g = 2000 * 64000, audio_mb * 1024 * 1024
    ratio = round(((t_g - t_u) / bytes_g) / (t_u / bytes_u), 2)
    out["sample_frames"] = {
        "uniform_s": round(t_u, 2),
        "giant_s": round(t_g, 2),
        "marginal_per_byte_ratio": ratio,
        "note": "giant payload is one Arrow batch in one task; honest "
        "ceiling for a byte-linear kernel is ~n_cores plus transfer "
        "overhead",
    }
    print(
        f"  sample_frames: uniform {t_u:.2f}s (+giant {audio_mb}MB) {t_g:.2f}s "
        f"marginal-per-byte ratio {ratio}",
        file=sys.stderr,
    )
    return out


def _segments(spark, side: int = 450):
    """extract_segments: 200 uniform ~1.2k-px pages vs the same plus
    ONE dense side x side block (one 8-connected component of side^2
    pixels in a single BFS task)."""
    from acuvate_spark.operators import kernels

    uniform = (
        spark.range(200)
        .select(
            F.col("id").alias("image_id"),
            F.explode(F.sequence(F.lit(0), F.lit(40))).alias("x"),
            F.explode(F.sequence(F.lit(0), F.lit(28))).alias("yb"),
        )
        .select("image_id", "x", (F.col("yb") * 2).alias("y"))
    )
    giant = (
        spark.range(1)
        .select(
            F.lit(999_999).alias("image_id"),
            F.explode(F.sequence(F.lit(0), F.lit(side - 1))).alias("x"),
            F.explode(F.sequence(F.lit(0), F.lit(side - 1))).alias("y"),
        )
        .select("image_id", "x", "y")
    )
    px_u = uniform.count()
    px_g = px_u + side * side
    t_u = _noop_time(kernels.extract_segments(uniform))
    t_g = _noop_time(kernels.extract_segments(uniform.unionByName(giant)))
    # per-PIXEL cost must stay in class (the giant is one task, so a
    # uniform run that parallelized across 32 cores can legitimately
    # look up to ~min(32, n_images)x cheaper per pixel — the bound is
    # on the per-pixel cost ratio, i.e. linearity, not on wall clock)
    ratio = round((t_g - t_u) / (t_u * (px_g - px_u) / px_u), 2) if px_g > px_u else 0.0
    print(
        f"  extract_segments: uniform {t_u:.2f}s ({px_u}px) +giant {t_g:.2f}s "
        f"({side}x{side} single component) marginal-per-px ratio {ratio}",
        file=sys.stderr,
    )
    return {
        "uniform_s": round(t_u, 2),
        "giant_s": round(t_g, 2),
        "pixels": [px_u, px_g],
        "marginal_per_pixel_ratio": ratio,
        "note": "one giant page = one task of O(px); ratio is marginal cost "
        "per pixel vs uniform per-pixel cost (single-task vs 32-way "
        "parallel, so ~n_cores is the honest ceiling for a linear kernel)",
    }


def _nms_giant_box(spark, n: int = 20_000):
    """kernels.nms: n dispersed unit boxes on a 100k canvas (nothing
    suppresses — the grid's best case) vs the same plus ONE
    page-border box. Pre-r13 the giant sized every cell to the page
    and the prescreen degraded to the quadratic scan."""
    from acuvate_spark.operators import kernels

    base = spark.range(n).select(
        F.lit("page0").alias("document_id"),
        F.lit("sym").alias("cls"),
        (F.conv(F.substring(F.md5(F.col("id").cast("string")), 1, 7), 16, 10)
         .cast("double") % 100_000).alias("x1"),
        (F.conv(F.substring(F.md5(F.col("id").cast("string")), 8, 7), 16, 10)
         .cast("double") % 100_000).alias("y1"),
        F.round(
            F.conv(F.substring(F.md5(F.col("id").cast("string")), 15, 4), 16, 10)
            .cast("double") / 65535.0, 6
        ).alias("conf"),
    ).select(
        "document_id", "cls", "x1", "y1",
        (F.col("x1") + 1.0).alias("x2"), (F.col("y1") + 1.0).alias("y2"), "conf",
    ).select("document_id", "cls", "x1", "y1", "x2", "y2", "conf")
    giant = spark.range(1).select(
        F.lit("page0").alias("document_id"), F.lit("sym").alias("cls"),
        F.lit(0.0).alias("x1"), F.lit(0.0).alias("y1"),
        F.lit(100_000.0).alias("x2"), F.lit(100_000.0).alias("y2"),
        F.lit(0.999999).alias("conf"),
    )
    t_u = _noop_time(kernels.nms(base))
    t_g = _noop_time(kernels.nms(base.unionByName(giant)))
    ratio = round(t_g / t_u, 2)
    print(
        f"  nms: {n} dispersed {t_u:.2f}s +page-border box {t_g:.2f}s "
        f"ratio {ratio}",
        file=sys.stderr,
    )
    return {
        "uniform_s": round(t_u, 2),
        "giant_s": round(t_g, 2),
        "ratio": ratio,
        "bound": BOUND,
    }


def main() -> None:
    from acuvate_spark.session import get_spark

    audio_mb = (
        int(sys.argv[sys.argv.index("--audio-mb") + 1])
        if "--audio-mb" in sys.argv
        else 32
    )
    spark = get_spark("kernel-skew-check")
    warm_up(spark, None)
    result: dict[str, object] = {"audio_mb": audio_mb}
    result.update(_audio_frames(spark, audio_mb))
    result["extract_segments"] = _segments(spark)
    result["nms_giant_box"] = _nms_giant_box(spark)
    ok = (
        result["nms_giant_box"]["ratio"] <= BOUND
        # row/byte/pixel-linear kernels serialized into one task: the
        # honest ceiling is ~n_cores (32) vs the parallel uniform run;
        # 40 = that plus transfer overhead. Class check, not wall-clock
        # (the pre-fix quadratics measured 3.6x wall / ~8000x marginal)
        and result["sample_audio_windows"]["marginal_per_row_ratio"] <= 40.0
        and result["sample_frames"]["marginal_per_byte_ratio"] <= 40.0
        and result["extract_segments"]["marginal_per_pixel_ratio"] <= 40.0
    )
    result["pass"] = ok
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
