"""The ``batch_queries`` workload: a fixed list of registry queries, each
built with ``REGISTRY[q].fn(spark, sf_dir)`` and written to the ``noop``
sink, pass after pass."""

from __future__ import annotations

import hashlib
import json
import os
import time

from perfbench import gen
from perfbench.harness import HERE, SF, WALL, median

PINS = os.path.join(HERE, "pins.json")


def rows_digest(pdf) -> list:
    """Row count and order-insensitive hash of a result, over the canonical
    rendering the oracle harness compares."""
    from tests.oracle_harness import canon

    cols, rows = canon(pdf)
    return [len(rows), hashlib.sha256(repr((cols, rows)).encode()).hexdigest()]


def check_outputs(run, names, sf_dir, results) -> None:
    """Compare the warm-up pass's outputs with their DuckDB oracle, or with
    the pinned digest for the rows-only queries."""
    from acuvate_spark.queries import REGISTRY
    from tests.oracle_harness import compare, duck_con

    with open(PINS) as f:
        pins = json.load(f)
    con = duck_con(sf_dir)
    try:
        for q in names:
            if q not in results:
                continue
            oracle = REGISTRY[q].oracle
            if oracle is None:
                got = rows_digest(results[q])
                if got != pins.get(q):
                    run.fail(f"{q}: rows {got} differ from pinned {pins.get(q)}")
                continue
            for problem in compare(results[q], con.execute(oracle).fetchdf(), q)[:3]:
                run.fail(problem)
    finally:
        con.close()


def run_queries(run, names):
    from acuvate_spark.queries import REGISTRY

    sf_dir = os.path.join(run.work, "tables")
    gen.make_tables(sf_dir, run.seed, SF)
    run.start_session()
    spark, tracer = run.spark, run.tracer

    def run_query(q, pass_index):
        run.attempted += 1
        try:
            df, build_s, build_cpu, sb = tracer.call(f"{q}.build", lambda: REGISTRY[q].fn(spark, sf_dir))
            _, action_s, action_cpu, sa = tracer.call(
                f"{q}.action", lambda: df.write.format("noop").mode("overwrite").save()
            )
        except Exception as e:
            run.fail(f"{q}: pass {pass_index} raised {type(e).__name__}: {e}")
            return 0.0, 0.0, []
        return build_s + action_s, build_cpu + action_cpu, [sp for sp in (sb, sa) if sp]

    # untimed warm-up pass; its outputs are the ones checked
    t0 = time.perf_counter()
    results = {}
    for q in names:
        run.attempted += 1
        try:
            results[q] = REGISTRY[q].fn(spark, sf_dir).toPandas()
        except Exception as e:  # a failing query is an error, not a crash
            run.fail(f"{q}: warm-up raised {type(e).__name__}: {e}")
    run.layer["session.warmup_s"] = time.perf_counter() - t0
    tracer.span("warmup", t0, t0 + run.layer["session.warmup_s"], run.trace)
    run.end_setup()

    passes, elapsed = run.loop(names, run_query)
    check_outputs(run, names, sf_dir, results)

    end_to_end = run.end_to_end(passes, elapsed)
    if run.trace:
        traced = run.traced(passes, len(names))
        run.spark_layer(traced)
        layer = run.layer
        layer.update({k: end_to_end[k] for k in WALL})
        spans = [sp for p in traced for _, _, _, sps in p for sp in sps]
        n = max(1, len(traced))
        layer["queries.build_s"] = sum(sp["end"] - sp["start"] for sp in spans if sp["name"].endswith(".build")) / n
        layer["queries.action_s"] = sum(sp["end"] - sp["start"] for sp in spans if sp["name"].endswith(".action")) / n
        layer["spark.build_jobs"] = sum(sp["jobs"] for sp in spans if sp["name"].endswith(".build")) / n
        for q in names:
            layer[f"q.{q}.s"] = median([s for p in traced for u, s, _, _ in p if u == q])
            layer[f"q.{q}.build_jobs"] = sum(
                sp["jobs"] for sp in spans if sp["name"] == f"{q}.build") / n
        layer["trace.overhead_pct"] = run.overhead_pct(passes, len(names))
        layer["session.jvm_peak_rss_mb"] = tracer.jvm_peak_rss_mb()
        run.dump_spans()
    return end_to_end, run.layer
