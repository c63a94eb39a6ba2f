"""Null-dense corpus parity (r13 ring #7): null CELLS (text,
embedding), not empty tables — the empty-input sweep covers those.
At web scale both happen: extraction failures leave null text,
embedding-service failures leave null vectors.

What the probe found (r13), all fixed:

* null ``embedding`` rows CRASHED the blas hot-bucket kernel and the
  coreset kernel (``None`` is not a float array), silently skewed
  ann_ivf_lloyd's k-means trajectory, and rendered as '' vs NULL in
  embedding_quantize. Contract now: a null embedding carries nothing
  to index/search/cluster — ``tables.load_embeddings`` excludes them
  at the scan (pushed IsNotNull) and every family oracle shadows the
  view with the same filter.
* ``stratified_sample`` ordered by ``md5('smpl|' || text)``, which is
  NULL for null text — and the engines disagree on NULL sort position
  (Spark NULLS FIRST asc, DuckDB NULLS LAST), so the SAMPLES silently
  differed. The key now coalesces to '' (defined, engine-agnostic).
"""

from __future__ import annotations

import os

import duckdb
import pytest

from acuvate_spark.queries import REGISTRY

from .oracle_harness import compare, duck_con

TEXT_QUERIES = [
    "token_stats", "quality_scores", "lang_id_heuristic", "doc_fingerprints",
    "dedup_exact", "line_dedup_docs", "dedup_minhash_lsh", "dedup_ngram_jaccard",
    "tfidf_top_terms", "inverted_index", "chunk_documents", "heavy_hitters",
    "redact_pii", "ngram_lm_counts", "bpe_pair_counts", "rarity_score",
    "length_quartiles", "repetition_metrics", "unigram_logprob_score",
    "corpus_report_by_source", "hashed_text_classifier", "mlm_span_mask",
    "dedup_span_removal", "repeated_ngram_spans", "contamination_check",
    "contamination_substring", "dedup_simhash", "length_outlier_trim",
    "quality_weighted_sample", "stratified_sample", "train_test_split",
    "token_budget_mix", "pack_sequences",
]
EMBEDDING_QUERIES = [
    "ann_cosine_topk", "ann_lsh_bucketed", "ann_ivf_flat", "ann_ivf_lloyd",
    "dedup_embedding_cosine", "semdedup_clusters", "knn_label_vote",
    "embedding_quantize", "coreset_kcenter",
]


@pytest.fixture(scope="module")
def null_dir(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("nulls"))
    con = duckdb.connect()
    docs = con.execute(
        "select * from read_parquet('/root/testdata/sf0.001/documents.parquet')"
    ).fetchdf()
    docs.loc[docs.index % 7 == 0, "text"] = None
    docs.loc[docs.index % 11 == 0, "text"] = ""
    if len(docs) > 3:
        docs.loc[3, "text"] = "   "
    docs.to_parquet(f"{out}/documents.parquet", index=False)
    emb = con.execute(
        "select * from read_parquet('/root/testdata/sf0.001/embeddings.parquet')"
    ).fetchdf()
    emb.loc[emb.index % 9 == 0, "embedding"] = None
    emb.to_parquet(f"{out}/embeddings.parquet", index=False)
    for t in "region nation customer supplier part orders lineitem events".split():
        os.symlink(f"/root/testdata/sf0.001/{t}.parquet", f"{out}/{t}.parquet")
    return out


@pytest.mark.parametrize("name", TEXT_QUERIES + EMBEDDING_QUERIES)
def test_family_agrees_on_null_dense_corpus(spark, null_dir, name):
    spec = REGISTRY[name]
    sp = spec.fn(spark, null_dir).toPandas()
    spark.catalog.clearCache()
    if spec.oracle is None:
        return  # rows-only query: evaluating without a crash IS the test
    du = duck_con(null_dir).execute(spec.oracle).fetchdf()
    assert not compare(sp, du, name)


# ---------------------------------------------------------------------------
# r14 ring extension (VERDICT r13 item 5): null cells in EVENTS
# (user_id / ts / event_type / value / props) and in the GRAPH edge
# source (lineitem l_partkey / l_suppkey / l_quantity).
#
# What this probe found (r14), all fixed with documented contracts:
#
# * ASC NULL-sort divergence — Spark orders NULLS FIRST ascending,
#   DuckDB NULLS LAST (both agree NULLS LAST descending, which is why
#   latest_event_per_user never diverged). Every timeline query with
#   an ASC ts ordering silently disagreed on null-dense input:
#   sessionize_events / session_window_counts shifted session
#   boundaries, asof_join_events carried a NULL-ts event into every
#   early order. Contract: a NULL-ts event has no timeline position —
#   excluded at the scan (identity on null-free corpora).
# * event_funnel: the window form groups ALL NULL users into one
#   funnel while the oracle's equi-joins drop them (NULL never equals
#   NULL). Contract: no user or no timestamp => no attribution.
# * sliding_event_counts: window(NULL) is one NULL group in Spark but
#   the oracle's two-window expansion double-counts into it.
# * json_props_extract: from_json(NULL).isNotNull() rendered False
#   where json_valid(NULL) is NULL — aligned to the SQL convention.
#
# The graph family (lineitem-derived edges) agreed everywhere without
# code changes: NULL src/dst cells flow through DISTINCT, equi-joins,
# and group-bys with identical semantics in both engines — pinned
# here so a future rewrite cannot regress it silently.
# ---------------------------------------------------------------------------

EVENT_QUERIES = [
    "regexp_extract_props", "latest_event_per_user", "sessionize_events",
    "tumbling_event_counts", "sliding_event_counts", "json_props_extract",
    "event_funnel", "click_attribution", "asof_join_events",
    "session_window_counts", "gapfill_daily",
]
GRAPH_QUERIES = [
    "graph_connected_components", "graph_degrees", "first_line_per_pair",
    "graph_two_hop", "triangle_count", "graph_bfs_levels", "kcore_peel",
    "link_prediction_jaccard", "label_propagation_communities",
    "graph_delete_document", "pagerank_fixed", "edge_snap_join",
]


@pytest.fixture(scope="module")
def null_events_dir(tmp_path_factory):
    import pandas as pd

    out = str(tmp_path_factory.mktemp("null_events"))
    con = duckdb.connect()
    ev = con.execute(
        "select * from read_parquet('/root/testdata/sf0.001/events.parquet')"
    ).fetchdf()
    for c in ("event_id", "user_id"):
        ev[c] = ev[c].astype("Int64")
    ev.loc[ev.index % 7 == 0, "user_id"] = pd.NA
    ev.loc[ev.index % 11 == 0, "ts"] = pd.NaT
    ev.loc[ev.index % 13 == 0, "event_type"] = None
    ev.loc[ev.index % 9 == 0, "value"] = None
    ev.loc[ev.index % 17 == 0, "props"] = None
    ev.to_parquet(f"{out}/events.parquet", index=False)
    li = con.execute(
        "select * from read_parquet('/root/testdata/sf0.001/lineitem.parquet')"
    ).fetchdf()
    for c, m in [("l_partkey", 17), ("l_suppkey", 19), ("l_quantity", 23)]:
        if li[c].dtype.kind == "i":
            li[c] = li[c].astype("Int64")
        li.loc[li.index % m == 0, c] = pd.NA
    li.to_parquet(f"{out}/lineitem.parquet", index=False)
    for t in (
        "region nation customer supplier part orders documents embeddings".split()
    ):
        os.symlink(f"/root/testdata/sf0.001/{t}.parquet", f"{out}/{t}.parquet")
    return out


@pytest.mark.parametrize("name", EVENT_QUERIES + GRAPH_QUERIES)
def test_family_agrees_on_null_dense_events_and_edges(spark, null_events_dir, name):
    spec = REGISTRY[name]
    sp = spec.fn(spark, null_events_dir).toPandas()
    spark.catalog.clearCache()
    if spec.oracle is None:
        return  # rows-only query: evaluating without a crash IS the test
    du = duck_con(null_events_dir).execute(spec.oracle).fetchdf()
    assert not compare(sp, du, name)


# ---------------------------------------------------------------------------
# Connected-components NULL contract (operators.graph.connected_components
# docstring), pinned on two hand-built edge sets against the registered
# recursive-CTE oracle with its lineitem edge CTE swapped for VALUES.
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "edges",
    [
        # isolated NULL node: labels itself (NULL, NULL)
        [(None, None), (1, 2)],
        # NULL cut vertex: takes its neighbours' min, never bridges them
        [(1, None), (None, 5)],
    ],
    ids=["isolated_null_node", "null_cut_vertex"],
)
def test_connected_components_null_contract_matches_oracle(spark, edges):
    from acuvate_spark.operators.graph import connected_components
    from acuvate_spark.queries.graph import _EDGES_SQL

    df = spark.createDataFrame(edges, "src long, dst long")
    sp = connected_components(df).select("node", "component").toPandas()
    values = ", ".join(
        f"({'NULL' if a is None else a}::BIGINT, {'NULL' if b is None else b}::BIGINT)"
        for a, b in edges
    )
    oracle = REGISTRY["graph_connected_components"].oracle.replace(
        _EDGES_SQL, f"edges(src, dst) AS (SELECT * FROM (VALUES {values}))"
    )
    assert oracle != REGISTRY["graph_connected_components"].oracle
    du = duckdb.connect().execute(oracle).fetchdf()
    assert not compare(sp, du, "graph_connected_components")


def test_kcore_peel_counts_a_null_neighbor_in_round_one_only(spark, tmp_path):
    """kcore_peel's NULL contract (its docstring): the oracle's first
    degree counts an edge to a NULL neighbor, and its inner joins then
    drop that edge. On the 11-node path p1-s1-p2-...-s5-p6 with a NULL
    supplier on p1, peeling from the p1 end lags one round, so three
    rounds leave p2-s2-p3-s3-p4-s4. Dropping NULL edges before the
    first count would peel p2 as well."""
    import pandas as pd

    pairs = [(p, s) for s in range(1, 6) for p in (s, s + 1)] + [(1, None)]
    pd.DataFrame(
        {
            "l_partkey": pd.array([p for p, _ in pairs], dtype="Int64"),
            "l_suppkey": pd.array([s for _, s in pairs], dtype="Int64"),
            "l_quantity": [1.0] * len(pairs),
        }
    ).to_parquet(tmp_path / "lineitem.parquet", index=False)
    sp = REGISTRY["kcore_peel"].fn(spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM '{tmp_path}/lineitem.parquet'")
    du = con.execute(REGISTRY["kcore_peel"].oracle).fetchdf()
    assert not compare(sp, du, "kcore_peel")
    assert dict(zip(sp["node"], sp["degree"])) == {2: 1, -3: 2, 3: 2, -4: 2, 4: 2, -5: 1}
