#!/usr/bin/env python3
"""Skew audit for the shuffled nearest-centroid assign (VERDICT r09
item 6): candidate cells inherit the centroid distribution, so a lumpy
corpus concentrates probes in few cells and the cell equi-join
(operators/assign.py) could bottleneck on one shuffle partition.

Two mitigations already in the design, which this tool measures rather
than assumes:

* supers are a ~uniform SAMPLE of the centroids (smallest S ids), so a
  dense region attracts proportionally many supers and subdivides —
  cell populations stay near K/S regardless of density;
* AQE skew-join handling (on in session defaults) splits an oversized
  probe-side partition at runtime; the downstream top-k window
  re-shuffles by vec_id, so a split is always safe.

Protocol: 20x-scale corpus (the sf2 dir's 40,800 embeddings), K = 400
centroids drawn from the corpus itself, shuffled mode FORCED. Three
corpora: uniform (the dir as-is), clustered (80% of vectors pulled
into one tight cluster around a single direction — distinct vectors,
one dominant cell population), duplicate (80% of vectors EXACTLY one
vector — the pathological single-cell case). Wall clocks are min-of-2
bench.time_noop runs after bench.warm_up. Passes when each skewed
runtime is within 2x of uniform.

    python tools/assign_skew_check.py [--dir /tmp/scaled_sf/sf2] [--k 400]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from bench import time_noop, warm_up  # noqa: E402


def _corpora(spark, d):
    from acuvate_spark.tables import load_table, repartition_for_compute

    e = repartition_for_compute(
        load_table(spark, d, "embeddings").select("vec_id", "embedding")
    )
    base = e.orderBy("vec_id").limit(1).select(F.col("embedding").alias("be"))
    mix = e.crossJoin(F.broadcast(base))
    # clustered: 80% of vectors become unit-normalized be + 0.05 * v —
    # pairwise distinct, all nearest the same few cells
    blended = F.zip_with(F.col("be"), F.col("embedding"), lambda b, v: b + 0.05 * v)
    norm = F.sqrt(F.aggregate(blended, F.lit(0.0), lambda a, x: a + x * x))
    clustered = mix.select(
        "vec_id",
        F.when(
            F.col("vec_id") % 5 != 0,
            F.transform(blended, lambda x: (x / norm).cast("float")),
        )
        .otherwise(F.col("embedding"))
        .alias("embedding"),
    )
    # duplicate: 80% of vectors are EXACTLY the base vector
    duplicate = mix.select(
        "vec_id",
        F.when(F.col("vec_id") % 5 != 0, F.col("be"))
        .otherwise(F.col("embedding"))
        .alias("embedding"),
    )
    return {"uniform": e, "clustered": clustered, "duplicate": duplicate}


def main() -> None:
    d = (
        sys.argv[sys.argv.index("--dir") + 1]
        if "--dir" in sys.argv
        else "/tmp/scaled_sf/sf2"
    )
    k = int(sys.argv[sys.argv.index("--k") + 1]) if "--k" in sys.argv else 400
    from acuvate_spark.operators import assign
    from acuvate_spark.session import get_spark

    spark = get_spark("assign-skew-check")
    # route every k_hint to the shuffled strategy
    assign.AUTO_SHUFFLE_MIN_K = assign.BROADCAST_MAX_K = -1
    warm_up(spark, d)
    out = {}
    for name, vec in _corpora(spark, d).items():
        vec = vec.localCheckpoint(eager=True)  # time the assign, not the prep
        cent = vec.orderBy("vec_id").limit(k).select(
            F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("ce")
        ).localCheckpoint(eager=True)
        best = min(
            time_noop(lambda: assign.nearest_centroids(vec, cent, k_hint=k, n_best=1))
            for _ in range(2)
        )
        out[name] = round(best, 2)
        print(f"  {name}: {best:.2f}s", file=sys.stderr)
        vec.unpersist()
    out["clustered_vs_uniform"] = round(out["clustered"] / out["uniform"], 2)
    out["duplicate_vs_uniform"] = round(out["duplicate"] / out["uniform"], 2)
    out["pass"] = (
        out["clustered_vs_uniform"] <= 2.0 and out["duplicate_vs_uniform"] <= 2.0
    )
    print(json.dumps({"dir": d, "k": k, **out}))


if __name__ == "__main__":
    main()
