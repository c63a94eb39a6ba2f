#!/usr/bin/env python3
"""Geometry taxonomy for the SemDeDup assign (r10): the 100x full
sweep measured `semdedup_clusters` at 162.8x for 100x data on the
decorrelated synthetic dir. Diagnosis, verified by forcing both
physical modes (within 0.1% of each other at the 100x dir): on data
with no hierarchical structure the triangle-inequality bound prunes
nothing — every probe's cosine to every super is ~0 and every cell
radius is ~sqrt(2), so ub(T) = 1 >= lb for all T. That is not a plan
bug: exact nearest-centroid assignment on isotropic-random
high-dimensional vectors is Omega(N x K) for ANY method (curse of
dimensionality); SemDeDup's own paper runs this as a dense matmul and
accepts the FLOPs. The engine's recorded linear-scaling alternative
for unstructured corpora is dedup_embedding_cosine.

The pruning DOES engage when the centroid space itself clusters —
the realistic shape for embedding corpora (topical manifolds at
multiple scales). This tool builds exactly that: S meta-directions,
~K cluster centers drawn around them, N vectors drawn around the
centers (all md5-derived engine-side; unit-normalized; no driver
materialization), then runs the REAL `semdedup_clusters` production
path at two scales 4x apart spanning the AUTO_SHUFFLE_MIN_K
crossover, plus a broadcast-FORCED counterfactual at the big scale.

Pass = production ratio <= 2x the data ratio (linear with headroom)
AND production at the big scale beats the forced-broadcast
counterfactual (the pruning is visibly doing work). Wall clocks are
min-of-2 bench.time_noop runs after bench.warm_up.

    python tools/semdedup_geometry_check.py [--small 25000] [--big 100000]
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from bench import time_noop, warm_up  # noqa: E402

DIMS = 64
META_BLEND = 0.30  # cluster-center spread around its meta-direction
NOISE_BLEND = 0.15  # vector spread around its cluster center


def _u01(expr, salt: str):
    """Deterministic uniform(0,1) from md5 — engine-side, seedable."""
    return (
        F.conv(F.substring(F.md5(F.concat(F.lit(salt), expr.cast("string"))), 1, 8), 16, 10)
        .cast("double")
        / F.lit(float(1 << 32))
    )


def build_hierarchical(spark, n: int, out: str) -> None:
    """n unit vectors: vec -> cluster (~n/125 of them) -> meta
    (~sqrt(K) of them, aligned with the assign's supers: seeds are the
    K lowest vec_ids = clusters 0..K-1 in order, supers the first
    sqrt(K) of those, and cluster c orbits meta c % S — so super j IS
    a member of meta j's family)."""
    if os.path.isdir(out):
        shutil.rmtree(out)
    k_est = max(16, int(n * 1.02) // 125)
    s_est = math.isqrt(k_est) + 1
    n_clusters = max(n // 125, 1)
    ids = spark.range(n).select(F.col("id").alias("vec_id"))
    c = (F.col("vec_id") % F.lit(n_clusters)).alias("c")
    m = (F.col("c") % F.lit(s_est)).alias("m")
    dims = F.array(
        *[
            (
                (_u01(F.col("m"), f"m{d}|") - 0.5)
                + F.lit(META_BLEND) * (_u01(F.col("c"), f"c{d}|") - 0.5)
                + F.lit(NOISE_BLEND) * (_u01(F.col("vec_id"), f"n{d}|") - 0.5)
            ).alias(f"d{d}")
            for d in range(DIMS)
        ]
    )
    norm = F.sqrt(F.aggregate(F.col("raw"), F.lit(0.0), lambda a, x: a + x * x))
    vecs = (
        ids.select("vec_id", c)
        .select("vec_id", "c", m)
        .withColumn("raw", dims)
        .select(
            "vec_id",
            F.transform(F.col("raw"), lambda x: (x / norm).cast("float")).alias(
                "embedding"
            ),
            F.lit(0).alias("label"),
        )
    )
    vecs.write.parquet(os.path.join(out, "embeddings.parquet"))


def main() -> None:
    small = int(sys.argv[sys.argv.index("--small") + 1]) if "--small" in sys.argv else 25_000
    big = int(sys.argv[sys.argv.index("--big") + 1]) if "--big" in sys.argv else 100_000
    from acuvate_spark.operators import assign
    from acuvate_spark.queries import REGISTRY
    from acuvate_spark.session import get_spark

    spark = get_spark("semdedup-geometry")
    warm_up(spark, None)
    dirs = {}
    for n in (small, big):
        d = f"/tmp/semgeo_{n}"
        build_hierarchical(spark, n, d)
        dirs[n] = d

    def timed(d: str, force_broadcast: bool = False) -> float:
        routed = assign.AUTO_SHUFFLE_MIN_K
        if force_broadcast:
            assign.AUTO_SHUFFLE_MIN_K = 1 << 62  # every k_hint routes to broadcast
        fn = REGISTRY["semdedup_clusters"].fn
        best = min(time_noop(lambda: fn(spark, d)) for _ in range(2))
        assign.AUTO_SHUFFLE_MIN_K = routed
        mode = "broadcast" if force_broadcast else "routed"
        print(f"  {d} mode={mode}: {best:.2f}s", file=sys.stderr)
        return best

    t_small = timed(dirs[small])
    t_big = timed(dirs[big])
    t_big_bcast = timed(dirs[big], force_broadcast=True)
    data_ratio = big / small
    out = {
        "small_n": small,
        "big_n": big,
        "k_small": max(16, int(small * 1.02) // 125),
        "k_big": max(16, int(big * 1.02) // 125),
        "t_small": round(t_small, 2),
        "t_big_production": round(t_big, 2),
        "t_big_broadcast_forced": round(t_big_bcast, 2),
        "ratio_production": round(t_big / t_small, 2),
        "data_ratio": data_ratio,
        "pass": t_big / t_small <= 2 * data_ratio and t_big < t_big_bcast,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
