#!/usr/bin/env python3
"""Floor-vs-adaptive A/B for the SimHash block-combination banding
(r10): at a dir past the adaptive threshold, measure BOTH configs'
end-to-end wall clock and band-collision candidate volume (the
n * occupancy / 2 term the adaptive key bounds), and assert the pair
sets are identical (exact pigeonhole recall — the swap must be
result-invariant, not recall-traded).

    python tools/simhash_band_check.py [--dir /tmp/scaled_sf/sf5]

One JSON line: {"n": ..., "floor_s": ..., "adaptive_s": ...,
"floor_candidates": ..., "adaptive_candidates": ..., "pairs_equal": ...}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from bench import warm_up  # noqa: E402


def main() -> None:
    d = (
        sys.argv[sys.argv.index("--dir") + 1]
        if "--dir" in sys.argv
        else "/tmp/scaled_sf/sf5"
    )
    from acuvate_spark.functions import textual
    from acuvate_spark.operators import dedup as dops
    from acuvate_spark.queries.dedup import _doc_corpus_n, _docs_plus_clones
    from acuvate_spark.session import get_spark

    spark = get_spark("simhash-band-check")
    warm_up(spark, d)
    n = _doc_corpus_n(spark, d)
    docs = _docs_plus_clones(spark, d)
    tokens = docs.select(
        "doc_id",
        F.posexplode(textual.words(F.lower(F.col("text")))).alias("pos", "token"),
    ).where(F.col("token") != "")
    # signature once, materialized: the A/B times the CANDIDATE+VERIFY
    # stages the banding changes, not the shared vote pipeline
    sig = dops.simhash_signature(tokens, "doc_id", "token", pos_col="pos")
    sig = sig.localCheckpoint(eager=True)

    def run(corpus_n: int) -> tuple[float, int, int]:
        t0 = time.perf_counter()
        pairs = dops.simhash_near_pairs(sig, "doc_id", max_hamming=3, corpus_n=corpus_n)
        n_pairs = pairs.count()
        el = time.perf_counter() - t0
        # candidate volume: band-key collisions before the hamming
        # verify (the term the adaptive key is meant to re-linearize)
        blocks, combos = dops.simhash_lsh_config(corpus_n)
        banded = sig.select(
            "doc_id",
            *[
                F.conv(F.substring(F.col("sig"), s + 1, w), 2, 10)
                .cast("long")
                .alias(f"b{i}")
                for i, (s, w) in enumerate(blocks)
            ],
        )
        cand = 0
        for t, combo in enumerate(combos):
            key = F.col(f"b{combo[0]}")
            for i in combo[1:]:
                key = F.shiftleft(key, blocks[i][1]).bitwiseOR(F.col(f"b{i}"))
            counts = banded.select(key.alias("k")).groupBy("k").count()
            cand += counts.agg(
                F.sum(F.col("count") * (F.col("count") - 1) / 2)
            ).first()[0]
        return el, n_pairs, int(cand)

    floor_s, floor_pairs, floor_cand = run(0)
    adaptive_s, adaptive_pairs, adaptive_cand = run(n)
    # result-invariance on the full dir
    pf = dops.simhash_near_pairs(sig, "doc_id", 3, corpus_n=0)
    pa = dops.simhash_near_pairs(sig, "doc_id", 3, corpus_n=n)
    diff = pf.select("key_a", "key_b").exceptAll(pa.select("key_a", "key_b")).count() + \
        pa.select("key_a", "key_b").exceptAll(pf.select("key_a", "key_b")).count()
    print(
        json.dumps(
            {
                "dir": d,
                "n": n,
                "config": [list(x) for x in dops.simhash_lsh_config(n)[0]],
                "floor_s": round(floor_s, 2),
                "adaptive_s": round(adaptive_s, 2),
                "floor_candidates": floor_cand,
                "adaptive_candidates": adaptive_cand,
                "n_pairs": adaptive_pairs,
                "pairs_equal": diff == 0 and floor_pairs == adaptive_pairs,
            }
        )
    )


if __name__ == "__main__":
    main()
