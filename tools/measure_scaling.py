#!/usr/bin/env python3
"""Measure the scaling exponent of the most expensive registry queries
(VERDICT r05 item 4): run them at sf0.1 (driver data) and at the
sf0.2 / sf0.5 scale-ups from tools/make_scaled_sf.py, fit
log(time) ~ log(sf), and print a JSON line per query. Timing is the
bench's own: bench.warm_up, then min-of-passes of bench.time_noop.

The 100x design claims in PLANS.md / query docstrings are argued from
plan shapes (banded LSH, grid equi-joins, two-level prefix sums);
this measures them: a query whose cost is ~linear in rows should show
time ratios ~2x / ~5x minus the fixed per-query overhead (Spark job
setup, plan compile — ~0.2-0.5 s at this scale, which flattens small
queries' exponents below 1). Anything super-linear (exponent >> 1)
is either a plan bug or a generator artifact and must be explained in
SCALING.md.

    python tools/make_scaled_sf.py           # once
    python tools/measure_scaling.py [--passes 2] [--sf1] [--sf2] [--sf5]
        [--sf10] [--scales 0.1,1.0] [--queries q1,q2 | --all]
        [--conf key=value ...]
"""

from __future__ import annotations

import json
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import time_noop, warm_up  # noqa: E402

QUERIES = [
    "dedup_embedding_cosine",
    "dedup_simhash",
    "scanner_tag_etl",
    "dedup_clusters",
    "dedup_span_removal",
    "coreset_kcenter",
    "graph_connected_components",
    "dedup_incremental",
    "bm25_probe_ranking",
    "dedup_minhash_lsh",
]

SF_DIRS = {
    0.1: "/root/testdata/sf0.1",
    0.2: "/tmp/scaled_sf/sf0.2",
    0.5: "/tmp/scaled_sf/sf0.5",
}


def main() -> None:
    passes = int(sys.argv[sys.argv.index("--passes") + 1]) if "--passes" in sys.argv else 2
    if "--sf1" in sys.argv:  # 10x point (build with make_scaled_sf.py --sf1)
        SF_DIRS[1.0] = "/tmp/scaled_sf/sf1"
    if "--sf2" in sys.argv:  # 20x point (build with make_scaled_sf.py --sf2)
        SF_DIRS[2.0] = "/tmp/scaled_sf/sf2"
    if "--sf5" in sys.argv:  # 50x point (build with make_scaled_sf.py --sf5)
        SF_DIRS[5.0] = "/tmp/scaled_sf/sf5"
    if "--sf10" in sys.argv:  # 100x point (build with make_scaled_sf.py --sf10)
        SF_DIRS[10.0] = "/tmp/scaled_sf/sf10"
    if "--scales" in sys.argv:
        # restrict to a comma-list of scale factors, e.g. --scales 0.1,1.0
        # (with --sf1) for a cheap full-registry 10x-ratio sweep — the
        # coarse net that catches a super-linear query the per-family
        # exponent sampling missed
        keep = {float(s) for s in sys.argv[sys.argv.index("--scales") + 1].split(",")}
        for sf in [s for s in SF_DIRS if s not in keep]:
            del SF_DIRS[sf]
    queries = QUERIES
    if "--queries" in sys.argv:
        queries = sys.argv[sys.argv.index("--queries") + 1].split(",")
    if "--all" in sys.argv:
        from acuvate_spark.queries import REGISTRY as _R

        queries = sorted(_R)
    from acuvate_spark.queries import REGISTRY
    from acuvate_spark.session import get_spark

    spark = get_spark("scaling-measure")
    # extra runtime conf, e.g. spark.sql.shuffle.partitions=64 to
    # measure at a different shuffle width. Repeatable (--conf a=1
    # --conf b=2); each os-arg splits on its FIRST '=' only, so
    # comma-valued confs (e.g. extraJavaOptions) pass through intact
    # (ADVICE r09: the old comma-join split mis-parsed those).
    for i, a in enumerate(sys.argv):
        if a == "--conf":
            if i + 1 >= len(sys.argv) or "=" not in sys.argv[i + 1]:
                sys.exit("usage: --conf key=value (repeatable)")
            k, v = sys.argv[i + 1].split("=", 1)
            spark.conf.set(k, v)
    warm_up(spark, SF_DIRS[min(SF_DIRS)])
    times: dict[str, dict[float, float]] = {q: {} for q in queries}
    for _ in range(passes):
        for sf, d in SF_DIRS.items():
            for q in queries:
                el = time_noop(lambda: REGISTRY[q].fn(spark, d))
                if sf not in times[q] or el < times[q][sf]:
                    times[q][sf] = el
                print(f"  sf{sf} {q}: {el:.2f}s", file=sys.stderr)
    out = []
    for q in queries:
        pts = sorted(times[q].items())
        rec = {"query": q, "t": {str(sf): round(t, 2) for sf, t in pts}}
        # a single-scale run has no fit (and must not ZeroDivisionError
        # away the whole timed sweep — ADVICE r08): emit timings only
        if len(pts) >= 2:
            xs = [math.log(sf) for sf, _ in pts]
            ys = [math.log(t) for _, t in pts]
            n = len(pts)
            mx, my = sum(xs) / n, sum(ys) / n
            slope = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sum(
                (x - mx) ** 2 for x in xs
            )
            rec["exponent"] = round(slope, 2)
        base_sf = min(times[q])
        for sf in sorted(times[q]):
            if sf != base_sf:
                rec[f"ratio_{sf:g}"] = round(times[q][sf] / times[q][base_sf], 2)
        out.append(rec)
        print(json.dumps(rec))
    spark.stop()


if __name__ == "__main__":
    main()
