#!/usr/bin/env python3
"""Formatted physical plans, with ``localCheckpoint`` stubbed to a
no-op so eagerly materialized queries show their full lineage.

    python tools/dump_plans.py
        regenerate PLANS.md (flagship queries with scale commentary);
        run after changing any flagship query
    python tools/dump_plans.py <round> <tag> <query> [query ...]
        write plans/<round>/<query>_<tag>.txt — before/after evidence
        for an optimization round (tag is e.g. ``before`` or ``after``)

Queries whose construction runs driver-side loops (graph CC, k-center)
execute those loops here; the dump is the plan of the RETURNED frame.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

COMMENTARY = {
    "pricing_summary": (
        "Filter + projection reach the parquet scan (PushedFilters/ReadSchema); "
        "partial_* aggregate functions before the Exchange = map-side combine; "
        "the shuffle carries 6 groups, not 600k rows."
    ),
    "getdata_page": (
        "The ILIKE filter runs distributed; the page is ONE TakeOrderedAndProject "
        "(per-partition top-k heaps, offset applied at the merge — no Window, no "
        "global Sort) and totalCount a broadcast 1-row partial-count aggregate."
    ),
    "nearest_tag_join": (
        "BroadcastHashJoin on (doc_id, cellx, celly) — tags exploded to "
        "their 3x3 neighbor cells and broadcast, the per-drawing doc id in "
        "the key so corpus growth adds documents, never cell density — then "
        "partial min(struct(dist,key)): the argmin is map-side combinable, "
        "so the candidate pairs never shuffle."
    ),
    "anti_join_customers": (
        "LeftAnti BroadcastHashJoin — the existence check is one hash probe "
        "per row, no shuffle of the big side while the dim side broadcasts."
    ),
    "dedup_minhash_lsh": (
        "Shingle explode -> two hash-aggregate passes for signatures -> band "
        "equi-join for candidates -> exact set-size filter (r11: J <= min/max "
        "prunes length-mismatched hot-band pairs before their shingles ship) "
        "-> shingle equi-join only over surviving candidates. No all-pairs "
        "stage anywhere in the plan."
    ),
    "scanner_tag_etl": (
        "End-to-end §3.1: one Arrow-batched mapInPandas OCR stage (pages -> "
        "words, P13 filter) feeding a codegen'd pipeline of filters/"
        "projections with two shuffles (distinct, anti-joins) — grammar, "
        "validity, expansion and classification all fuse into post-OCR stages."
    ),
    "pid_connections": (
        "Grid-bucketed containment (operators.spatial): boxes explode to "
        "covered cells, points key by exact cell, and the containment check "
        "runs only within matching (doc_id, cx, cy) cells — a hash "
        "equi-join whose candidate count tracks per-document cell "
        "co-occupancy (bounded geometry per drawing), not |points| x "
        "|boxes| and not corpus density."
    ),
    "edge_snap_join": (
        "Same grid reformulation with margin = snap radius: endpoint-to-box "
        "candidates come from a BroadcastHashJoin on (doc_id, cx, cy) cells "
        "(round 1 shipped a BroadcastNestedLoopJoin here; the per-drawing "
        "doc id joined the key in r07, taking the 10x smoke from 8.7x to "
        "1.2x), then the exact clamped-axis distance and a "
        "map-side-combinable min(struct) argmin."
    ),
    "ann_ivf_flat": (
        "Both small sides broadcast: the K centroids for the assign pass and "
        "the probe set for candidate generation. The corpus is never "
        "shuffled for candidates — at 100 TB the probe is an equi-join on "
        "centroid_id against the inverted-file layout."
    ),
    "curation_pipeline": (
        "The whole curation trace is narrow expressions around ONE Exchange "
        "(the content-hash window for canonicalization); lang/token/quality "
        "gates all fuse into the scan-side codegen stage."
    ),
    "fuzzy_match_blocked": (
        "The edit-distance theta join becomes a BroadcastHashJoin on the "
        "block key; levenshtein evaluates only on block-collision "
        "candidates, and the best-match argmin is a map-side-combinable "
        "min(struct). The 100 TB scan side never shuffles."
    ),
    "heavy_hitters": (
        "Word counts partial-aggregate before the Exchange (only "
        "(word, count) pairs shuffle, never text), then TakeOrderedAndProject "
        "keeps a 25-row heap per partition — no global sort at any scale."
    ),
    "triangle_count": (
        "Co-purchase projection is an equi-join on the order key (bounded "
        "by order size); edges then orient from the (degree, id)-smaller "
        "endpoint (r12 — degree agg + two AQE-broadcast degree joins), so "
        "the wedge join pivots on each triangle's (degree, id)-minimum and "
        "wedge rows are bounded by m^1.5 regardless of hubs; the closing "
        "probe is an equi-join into the id-canonical edge set. Cost tracks "
        "degree-oriented wedges, not sum(deg^2)."
    ),
    "unpivot_part_metrics": (
        "One Expand node, zero Exchange: wide-to-long is a map-side "
        "expansion fused into the scan stage."
    ),
    "zorder_orders": (
        "The Morton key is a single codegen projection — zero Exchange, "
        "zero Python; the sample predicate pushes into the parquet scan. "
        "write_zordered adds exactly one range shuffle, the unavoidable "
        "cost of a clustering rewrite."
    ),
    "source_overlap_kmv": (
        "The corpus reduces to |sources| x K hashes before anything joins: "
        "distinct + per-salt bottom-k window + merge are all hash-keyed "
        "bounded-state steps; the pairwise estimator runs on the tiny "
        "sketch frame (the one BNL join, bounded by |sources|^2)."
    ),
    "line_dedup_docs": (
        "Two bounded shuffles: the keep-first decision is a window over "
        "line-hash partitions (spillable in-partition sort), reassembly a "
        "doc_id hash aggregate whose ordering is the in-row "
        "array_sort(collect_list) — no global sort, no joins."
    ),
    "corpus_report_by_source": (
        "Every signal (words, quality, lang, fingerprint) fuses into the "
        "scan projection; the report is exactly two map-side-combinable "
        "hash aggregates — text never shuffles, no joins at all."
    ),
    "price_equidepth_bins": (
        "Pass 1 is a 1-row quantile aggregate (the piece that swaps for a "
        "mergeable sketch at corpus scale); pass 2 a broadcast of that row "
        "plus a map-side CASE assign feeding a 4-group hash aggregate."
    ),
    "kcore_peel": (
        "The undirected edges are exploded from one edge scan; each peel "
        "round is two window counts (over b, then a) and a filter — no "
        "join, no checkpoint, O(1) row state, one single-integer-key "
        "shuffle per window. The last window leaves the frame partitioned "
        "by a, so the final per-node count adds no Exchange."
    ),
    "token_budget_mix": (
        "The per-source prefix sum is a DISTRIBUTED two-level cumsum: the "
        "row-level window partitions by (source, md5-prefix bucket) — 256-way "
        "parallel per source — and the per-bucket base offsets come from a "
        "tiny aggregate whose own window is |sources|x256 rows, re-joined as "
        "a broadcast. No Sort is global; the single-window form the oracle "
        "runs would funnel each source through one task."
    ),
    "dedup_span_removal": (
        "Gram occurrences shuffle as (md5, two longs) — never text; the "
        "global first-occurrence is a map-side-combinable min(struct(doc, "
        "start)) — a two-column lexicographic argmin, exact for documents "
        "of any length; the cover explode is bounded x5; reassembly sorts "
        "only within each document's own collected words."
    ),
    "hashed_text_classifier": (
        "Explode + hash + weight are narrow codegen expressions fused into "
        "the scan; the ONLY exchange is the map-side-combinable per-doc "
        "aggregate. A trained model swaps in as a broadcast (bucket, weight) "
        "join without adding a shuffle."
    ),
    "gapfill_daily": (
        "Daily pre-aggregation shuffles one row per user-day (partial agg "
        "before the exchange); the calendar grid explodes from a per-user "
        "span aggregate; the forward-fill window partitions BY USER over a "
        "calendar-bounded frame — no partition-less Window anywhere."
    ),
}


def plan_text(df) -> str:
    """The formatted physical plan of ``df``."""
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def write_plans_md(spark, registry) -> None:
    lines = [
        "# PLANS — physical plans of the flagship queries",
        "",
        f"Generated by `tools/dump_plans.py` at sf dir `{SF_DIR}`.",
        "Each plan is the shape asserted by `tests/test_plans.py`; the",
        "commentary says why that shape survives a 100 TB scale-up",
        "(`localCheckpoint` is stubbed during the dump so eagerly",
        "materialized queries show their full lineage).",
        "",
    ]
    for name, note in COMMENTARY.items():
        plan = plan_text(registry[name].fn(spark, SF_DIR))
        lines += [f"## {name}", "", note, "", "```", plan.strip(), "```", ""]
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(lines))
    print("wrote PLANS.md")


def write_round_plans(spark, registry, rnd: str, tag: str, names: list[str]) -> None:
    out = os.path.join(ROOT, "plans", rnd)
    os.makedirs(out, exist_ok=True)
    for name in names:
        plan = plan_text(registry[name].fn(spark, SF_DIR))
        path = os.path.join(out, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(f"== {name} ({tag}) @ {SF_DIR} ==\n\n" + plan)
        print(f"wrote {path} ({len(plan)} chars)")
        spark.catalog.clearCache()


def main() -> None:
    args = sys.argv[1:]
    if 0 < len(args) < 3:
        sys.exit("usage: dump_plans.py [<round> <tag> <query> [query ...]]")
    # patch the CONCRETE class — pyspark 4 defines localCheckpoint on
    # classic.DataFrame, which shadows a base-class patch
    from pyspark.sql.classic.dataframe import DataFrame

    from acuvate_spark.queries import REGISTRY
    from acuvate_spark.session import get_spark

    # Queries that eagerly materialize (localCheckpoint) would dump an
    # opaque `Scan ExistingRDD`; stub it to a no-op (the
    # tests/test_plan_audit.py technique) so the dump shows the FULL
    # lineage the optimizer actually planned (r12 — the minhash and
    # scanner_tag_etl entries were single-node stubs before).
    DataFrame.localCheckpoint = lambda self, eager=True: self

    spark = get_spark("plan-dump", cpus=8)
    if args:
        write_round_plans(spark, REGISTRY, args[0], args[1], args[2:])
    else:
        write_plans_md(spark, REGISTRY)
    spark.stop()


if __name__ == "__main__":
    main()
