#!/usr/bin/env python3
"""Unbounded per-group aggregation-state audit (r13, ring #5 after
LSH bands r11, graph hubs r12, hot window entities r12, kernel
payloads r13). `collect_list` / in-row `array_sort(collect_list(...))`
aggregations hold their WHOLE group in one hash-agg buffer — and
hash-agg buffers on one key do not spill the way sorts do (the
inverted_index docstring already encodes this: its postings head is a
row_number window, not a collect over stopword terms). The group keys
in the registry are data-model-bounded (lineitems per order, words
per document), so the question this audit answers is: what happens
when a DEGENERATE key shows up anyway — one order key owning 30% of
lineitem, one document carrying a book-sized text — and is the cost
output-proportional (the graph_two_hop / kernel-payload class, fine)
or a scale-killer?

Fixtures (engine-built): a hot-orderkey lineitem twin (30% of rows
reassigned to ONE l_orderkey — the window_skew_check recipe) for
`collect_list_per_group`; a giant-document twin (doc 0's text
replaced by a ~250k-word payload vs the corpus' ~100-word docs) for
the per-doc in-row reassembly family (`mlm_span_mask`,
`line_dedup_docs`). Bound: marginal cost per output ELEMENT within
~n_cores of the uniform per-element cost (single buffer vs 32-way),
same honest formulation as tools/kernel_skew_check.py. Wall clocks are
min-of-2 bench.time_noop runs after bench.warm_up.

    python tools/agg_state_skew_check.py [--dir /tmp/scaled_sf/sf0.5]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from bench import time_noop, warm_up  # noqa: E402

HOT_KEY = 77_777_777
BOUND_WALL = 3.0
BOUND_MARGINAL = 40.0


def _noop_time(fn, spark, d) -> float:
    return min(time_noop(lambda: fn(spark, d)) for _ in range(2))


def build_hot_lineitem(spark, src: str, out: str) -> str:
    from acuvate_spark.tables import load_table

    os.makedirs(out, exist_ok=True)
    li = load_table(spark, src, "lineitem")
    hot = li.withColumn(
        "l_orderkey",
        F.when(F.col("l_orderkey") % 10 < 3, F.lit(HOT_KEY)).otherwise(
            F.col("l_orderkey")
        ),
    )
    hot.write.mode("overwrite").parquet(f"{out}/lineitem.parquet")
    return out


def build_giant_doc(spark, src: str, out: str, words: int = 250_000) -> str:
    """documents twin: doc 0's text becomes a ~`words`-word payload
    (distinct enough not to collapse under line/word dedup)."""
    from acuvate_spark.tables import load_table

    os.makedirs(out, exist_ok=True)
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
    d.withColumn(
        "text", F.when(F.col("doc_id") == 0, giant_text).otherwise(F.col("text"))
    ).write.mode("overwrite").parquet(f"{out}/documents.parquet")
    return out


def main() -> None:
    src = (
        sys.argv[sys.argv.index("--dir") + 1]
        if "--dir" in sys.argv
        else "/tmp/scaled_sf/sf0.5"
    )
    out_root = "/tmp/agg_state_skew"
    from acuvate_spark.queries import REGISTRY
    from acuvate_spark.session import get_spark
    from acuvate_spark.tables import load_table

    spark = get_spark("agg-state-skew-check")
    warm_up(spark, src)
    result: dict[str, object] = {"dir": src}

    # ---- collect_list_per_group on a 30%-hot order key
    hot_dir = build_hot_lineitem(spark, src, os.path.join(out_root, "hot_li"))
    fn = REGISTRY["collect_list_per_group"].fn
    t_u, t_h = _noop_time(fn, spark, src), _noop_time(fn, spark, hot_dir)
    n_rows = load_table(spark, src, "lineitem").count()
    ratio = round(t_h / t_u, 2)
    result["collect_list_per_group"] = {
        "uniform_s": round(t_u, 2),
        "hot_s": round(t_h, 2),
        "ratio": ratio,
        "bound": BOUND_WALL,
        "hot_group_rows": int(n_rows * 0.3),
        "note": "one agg buffer holds the hot group (30% of lineitem); "
        "state is output-row-proportional — the result ROW carries the "
        "whole group. Linear cost, linear memory: a truly degenerate key "
        "at 100 TB needs the inverted_index window pattern or an upstream "
        "cap, which the docstring now names.",
    }
    print(
        f"  collect_list_per_group: uniform {t_u:.2f}s hot {t_h:.2f}s "
        f"ratio {ratio} (hot group ~{int(n_rows * 0.3)} rows)",
        file=sys.stderr,
    )

    # ---- per-doc in-row reassembly on one book-sized document
    giant_dir = build_giant_doc(spark, src, os.path.join(out_root, "giant_doc"))
    n_docs = load_table(spark, src, "documents").count()
    uniform_words = 100  # corpus docs are ~100 words
    giant_words = 250_000
    # line_dedup_docs and the word_shingles family are the audit's two
    # real catches (in-lambda re-tokenization, O(words^2) per doc);
    # mlm_span_mask was linear from the start; dedup_minhash_lsh and
    # repeated_ngram_spans cover the shingle consumers post-fix
    for qname in (
        "mlm_span_mask",
        "line_dedup_docs",
        "repeated_ngram_spans",
        "dedup_minhash_lsh",
    ):
        fn = REGISTRY[qname].fn
        t_u, t_g = _noop_time(fn, spark, src), _noop_time(fn, spark, giant_dir)
        # marginal per-word cost of the giant vs uniform per-word cost
        marg = ((t_g - t_u) / giant_words) / (t_u / (n_docs * uniform_words))
        marg = round(marg, 2)
        result[qname] = {
            "uniform_s": round(t_u, 2),
            "giant_s": round(t_g, 2),
            "marginal_per_word_ratio": marg,
            "bound": BOUND_MARGINAL,
            "note": "giant doc's words pass through one agg buffer + one "
            "task; honest ceiling for a linear agg is ~n_cores",
        }
        print(
            f"  {qname}: uniform {t_u:.2f}s +{giant_words // 1000}k-word doc "
            f"{t_g:.2f}s marginal-per-word ratio {marg}",
            file=sys.stderr,
        )

    ok = result["collect_list_per_group"]["ratio"] <= BOUND_WALL and all(
        result[q]["marginal_per_word_ratio"] <= BOUND_MARGINAL
        for q in (
            "mlm_span_mask",
            "line_dedup_docs",
            "repeated_ngram_spans",
            "dedup_minhash_lsh",
        )
    )
    result["pass"] = ok
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
