#!/usr/bin/env python3
"""Diameter/degree octaves for the iterative graph family (VERDICT r11
item 4): the 100x sweep scales ROWS, but `graph_connected_components`,
`pagerank_fixed`, `label_propagation_communities` and `kcore_peel` are
round-dominated — their scale risk is graph SHAPE (diameter for the
convergence loop, hub degree for the per-round joins), not row count.
Three measurements:

1. **Rounds track diameter** (chain octaves, in-memory edge frames):
   min-label CC on alternating part-supplier chains of diameter
   8/16/32 must report rounds ~ diameter (the `rounds_out` hook) and
   label every chain node.
2. **Long-diameter safety at scale** (chain embedded in a scaled dir):
   a diameter-400 chain is appended to the dir's lineitem projection.
   Min-label must REFUSE (RuntimeError at max_iter=25 — the documented
   no-silent-partial-labels contract).
3. **Hub immunity of the fixed-round queries** (power-law twin of the
   scaled dir): one supplier gains HUB_DEG fresh parts; all four
   registry queries are node-keyed join + partial-agg per round, so
   the hub must cost ~1x (bound 2x) — unlike the wedge joins audited
   by graph_skew_check.py, there is no pair materialization to blow
   up.

    python tools/graph_octave_check.py [--dir /tmp/scaled_sf/sf2]
        [--out /tmp/graph_octave]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

CHAIN_L = 200  # parts in the embedded chain -> diameter 2L
HUB_DEG = 50_000
_CHAIN_PART0 = 30_000_000
_CHAIN_SUPP0 = 9_000_000
_CHAIN_ORDER0 = 920_000_000
_HUB_SUPP = 8_500_000
_HUB_PART0 = 40_000_000
_HUB_ORDER0 = 930_000_000

FIXED_ROUND_QUERIES = (
    "pagerank_fixed",
    "label_propagation_communities",
    "kcore_peel",
    "graph_connected_components",
)


def chain_edges(spark, n_parts: int):
    """Alternating part-supplier chain p0-s0-p1-s1-...-p_{n-1}: ids
    increase along the chain, so the min label starts at one END and
    min-label propagation needs ~diameter rounds."""
    base = spark.range(n_parts - 1).select(F.col("id").cast("int").alias("i"))
    e1 = base.select(
        (F.col("i") + _CHAIN_PART0).alias("src"),
        (-(F.col("i") + _CHAIN_SUPP0 + 1)).alias("dst"),
    )
    e2 = base.select(
        (F.col("i") + 1 + _CHAIN_PART0).alias("src"),
        (-(F.col("i") + _CHAIN_SUPP0 + 1)).alias("dst"),
    )
    return e1.unionByName(e2)


def build_fixture(spark, src: str, out: str, *, chain: bool, hub: bool) -> str:
    from acuvate_spark.tables import load_table

    os.makedirs(out, exist_ok=True)
    li = load_table(spark, src, "lineitem")
    tpl = F.broadcast(
        li.limit(1).drop("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
    )
    parts = [li]
    if chain:
        base = spark.range(CHAIN_L - 1).select(F.col("id").cast("int").alias("i"))
        rows = base.select(
            (F.col("i") + _CHAIN_ORDER0).alias("l_orderkey"),
            F.explode(
                F.array(F.col("i") + _CHAIN_PART0, F.col("i") + 1 + _CHAIN_PART0)
            ).alias("l_partkey"),
            (F.col("i") + _CHAIN_SUPP0).alias("l_suppkey"),
            F.lit(1.0).alias("l_quantity"),
        )
        parts.append(rows.crossJoin(tpl).select(*li.columns))
    if hub:
        rows = spark.range(HUB_DEG).select(
            (F.col("id") + _HUB_ORDER0).alias("l_orderkey"),
            (F.col("id") + _HUB_PART0).cast("int").alias("l_partkey"),
            F.lit(_HUB_SUPP).alias("l_suppkey"),
            F.lit(1.0).alias("l_quantity"),
        )
        parts.append(rows.crossJoin(tpl).select(*li.columns))
    out_df = parts[0]
    for p in parts[1:]:
        out_df = out_df.unionByName(p)
    out_df.write.mode("overwrite").parquet(f"{out}/lineitem.parquet")
    return out


def main() -> None:
    src = (
        sys.argv[sys.argv.index("--dir") + 1]
        if "--dir" in sys.argv
        else "/tmp/scaled_sf/sf2"
    )
    out_root = (
        sys.argv[sys.argv.index("--out") + 1]
        if "--out" in sys.argv
        else "/tmp/graph_octave"
    )
    from acuvate_spark.operators.graph import connected_components
    from acuvate_spark.queries import REGISTRY
    from acuvate_spark.session import get_spark

    spark = get_spark("graph-octave-check")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # JIT warmup
    result: dict[str, object] = {"dir": src, "chain_l": CHAIN_L, "hub_deg": HUB_DEG}
    ok = True

    # 1. rounds track diameter (chain octaves, in-memory)
    octaves = []
    for n_parts in (5, 9, 17):  # diameters 8 / 16 / 32
        e = chain_edges(spark, n_parts).localCheckpoint(eager=True)
        diameter = 2 * (n_parts - 1)
        ml_rounds: list = []
        t0 = time.perf_counter()
        ml = connected_components(e, max_iter=80, rounds_out=ml_rounds)
        n_ml = ml.count()
        ml_s = round(time.perf_counter() - t0, 2)
        labeled = n_ml == 2 * n_parts - 1
        ok = ok and labeled and abs(ml_rounds[0] - diameter) <= 2
        octaves.append(
            {
                "diameter": diameter,
                "minlabel_rounds": ml_rounds[0],
                "minlabel_s": ml_s,
                "all_nodes_labeled": labeled,
            }
        )
        print(f"  chain d={diameter}: minlabel {ml_rounds[0]}r/{ml_s}s, "
              f"labeled={labeled}", file=sys.stderr)
    result["chain_octaves"] = octaves

    # 2. long-diameter chain embedded at scale
    chain_dir = build_fixture(
        spark, src, os.path.join(out_root, "chain"), chain=True, hub=False
    )
    from acuvate_spark.queries.graph import _edges

    e = _edges(spark, chain_dir)
    raised = False
    t0 = time.perf_counter()
    try:
        connected_components(e).count()
    except RuntimeError:
        raised = True
    refuse_s = round(time.perf_counter() - t0, 2)
    ok = ok and raised
    result["embedded_chain"] = {
        "diameter": 2 * CHAIN_L,
        "minlabel_refused_at_max_iter": raised,
        "minlabel_refuse_s": refuse_s,
    }
    print(f"  embedded chain: minlabel refused={raised} ({refuse_s}s)",
          file=sys.stderr)

    # 3. hub immunity of the per-round joins
    hub_dir = build_fixture(
        spark, src, os.path.join(out_root, "hub"), chain=False, hub=True
    )
    hub_res: dict[str, object] = {}
    for name in FIXED_ROUND_QUERIES:
        fn = REGISTRY[name].fn
        times = {}
        for label, d in (("uniform", src), ("hub", hub_dir)):
            best = None
            for _ in range(2):
                t0 = time.perf_counter()
                fn(spark, d).count()
                el = time.perf_counter() - t0
                best = el if best is None or el < best else best
            times[label] = round(best, 2)
        ratio = round(times["hub"] / times["uniform"], 2)
        ok = ok and ratio <= 2.0
        hub_res[name] = {**{f"{k}_s": v for k, v in times.items()}, "ratio": ratio}
        print(f"  {name}: uniform {times['uniform']}s hub {times['hub']}s "
              f"ratio {ratio}", file=sys.stderr)
    result["hub_fixed_round"] = hub_res
    result["pass"] = ok
    print(json.dumps(result))


if __name__ == "__main__":
    main()
