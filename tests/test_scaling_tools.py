"""The SCALING.md measurements are only as good as the scale-up
generator, so its invariants are pinned: exact k-fold row scaling,
referential integrity across offset keys, fixed dimensions, bijective
(length/shape-preserving) text and embedding transforms, and replica
DECORRELATION — the property that keeps near-dup cluster sizes
constant so a k x corpus doesn't smuggle k^2 LSH candidate pairs into
the measurement (a generator artifact the round-6 sf1 smoke showed is
very real for fixed-domain workloads).

DuckDB-only: no SparkSession, runs in seconds off sf0.001.
"""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pytest

ROOT = Path(__file__).resolve().parent.parent
SRC = "/root/testdata/sf0.001"
K = 3


@pytest.fixture(scope="module")
def scaled(tmp_path_factory):
    sys.path.insert(0, str(ROOT / "tools"))
    import make_scaled_sf as m

    out_root = str(tmp_path_factory.mktemp("scaled"))
    m.build("t", K, src=SRC, out_root=out_root)
    return f"{out_root}/sft"


def test_cli_plan_pins_sf1_and_sf2_harness_paths():
    """Round protocol since r09: the per-round coarse net runs at BOTH
    the 10x (``--sf1``) and 20x (``--sf2``) points. Pin the flag -> (sf
    label, k) mapping so the harness path can't silently drift."""
    sys.path.insert(0, str(ROOT / "tools"))
    import make_scaled_sf as m

    assert m.plan([]) == [("0.2", 2), ("0.5", 5)]
    assert ("1", 10) in m.plan(["--sf1"])
    assert ("2", 20) in m.plan(["--sf2"])
    assert ("5", 50) in m.plan(["--sf5"])
    assert ("10", 100) in m.plan(["--sf10"])
    assert m.plan(["--sf1", "--sf2"]) == [
        ("0.2", 2), ("0.5", 5), ("1", 10), ("2", 20)
    ]


def test_row_counts_scale_exactly_and_dims_stay_fixed(scaled):
    con = duckdb.connect()
    for name in ["customer", "supplier", "part", "orders", "lineitem",
                 "events", "documents", "embeddings"]:
        n0 = con.execute(f"SELECT count(*) FROM '{SRC}/{name}.parquet'").fetchone()[0]
        n1 = con.execute(f"SELECT count(*) FROM '{scaled}/{name}.parquet'").fetchone()[0]
        assert n1 == K * n0, name
    for name in ["region", "nation"]:
        n0 = con.execute(f"SELECT count(*) FROM '{SRC}/{name}.parquet'").fetchone()[0]
        n1 = con.execute(f"SELECT count(*) FROM '{scaled}/{name}.parquet'").fetchone()[0]
        assert n1 == n0, name


def test_referential_integrity_and_key_uniqueness(scaled):
    con = duckdb.connect()
    for fk, pk, ftab, ptab in [
        ("l_orderkey", "o_orderkey", "lineitem", "orders"),
        ("l_partkey", "p_partkey", "lineitem", "part"),
        ("l_suppkey", "s_suppkey", "lineitem", "supplier"),
        ("o_custkey", "c_custkey", "orders", "customer"),
    ]:
        orphans = con.execute(f"""
            SELECT count(*) FROM '{scaled}/{ftab}.parquet' f
            LEFT JOIN '{scaled}/{ptab}.parquet' p ON f.{fk} = p.{pk}
            WHERE p.{pk} IS NULL""").fetchone()[0]
        assert orphans == 0, (ftab, fk)
    for key, tab in [("o_orderkey", "orders"), ("p_partkey", "part"),
                     ("c_custkey", "customer"), ("doc_id", "documents"),
                     ("vec_id", "embeddings")]:
        n, d = con.execute(
            f"SELECT count(*), count(DISTINCT {key}) FROM '{scaled}/{tab}.parquet'"
        ).fetchone()
        assert n == d, tab


def test_replicas_are_shape_preserving_but_decorrelated(scaled):
    con = duckdb.connect()
    # text: every replica doc keeps its source length (bijective char
    # map) but replica 1+ shares no exact text with replica 0
    n_docs = con.execute(f"SELECT count(*) FROM '{SRC}/documents.parquet'").fetchone()[0]
    bad_len = con.execute(f"""
        SELECT count(*) FROM '{scaled}/documents.parquet' s
        JOIN '{SRC}/documents.parquet' o ON s.doc_id % {n_docs} = o.doc_id
        WHERE len(s.text) <> len(o.text)""").fetchone()[0]
    assert bad_len == 0
    cross_dups = con.execute(f"""
        SELECT count(*) FROM '{scaled}/documents.parquet' a
        JOIN '{scaled}/documents.parquet' b
          ON a.text = b.text AND a.doc_id // {n_docs} <> b.doc_id // {n_docs}
        """).fetchone()[0]
    assert cross_dups == 0
    # embeddings: rotation + per-replica sign flips (r10 — rotation
    # alone repeated every 64 replicas) preserve the multiset of
    # ABSOLUTE values per vector — so norms and within-replica dot
    # products are exactly preserved — while the signed multiset may
    # legitimately change
    bad_vec = con.execute(f"""
        SELECT count(*) FROM '{scaled}/embeddings.parquet' s
        JOIN '{SRC}/embeddings.parquet' o ON s.vec_id % {
            con.execute(f"SELECT max(vec_id)+1 FROM '{SRC}/embeddings.parquet'").fetchone()[0]
        } = o.vec_id
        WHERE len(s.embedding) <> len(o.embedding)
           OR list_sort(list_transform(s.embedding, x -> abs(x)))
              <> list_sort(list_transform(o.embedding, x -> abs(x)))""").fetchone()[0]
    assert bad_vec == 0


def test_within_replica_dup_structure_is_preserved(scaled):
    """Planted exact-dup clusters must appear k times at their original
    SIZE (cluster count scales, cluster size doesn't)."""
    con = duckdb.connect()
    base = con.execute(f"""
        SELECT count(*) FROM (
          SELECT text FROM '{SRC}/documents.parquet' GROUP BY text HAVING count(*) > 1)
        """).fetchone()[0]
    scaled_n = con.execute(f"""
        SELECT count(*) FROM (
          SELECT text FROM '{scaled}/documents.parquet' GROUP BY text HAVING count(*) > 1)
        """).fetchone()[0]
    assert scaled_n == K * base
    max0 = con.execute(f"""
        SELECT max(c) FROM (SELECT count(*) c FROM '{SRC}/documents.parquet' GROUP BY text)
        """).fetchone()[0]
    max1 = con.execute(f"""
        SELECT max(c) FROM (SELECT count(*) c FROM '{scaled}/documents.parquet' GROUP BY text)
        """).fetchone()[0]
    assert max1 == max0


def test_charmap_injective_and_bijective_through_100_replicas():
    """r10: the rotation-only charmap had period 26, so replicas r and
    r+26 carried IDENTICAL text — cross-replica exact-dup pairs grow
    ~k^2/26 per base doc, quadratic generator structure planted exactly
    where the dedup octaves look for engine-side quadratic growth. The
    affine map must be a bijection per replica, identity at r=0, and
    pairwise distinct across every replica an octave build can use."""
    import tools.make_scaled_sf as m

    seen = set()
    for r in range(100):
        src, dst = m._charmap(r)
        assert sorted(dst) == sorted(src)  # bijection
        assert dst not in seen, f"replica {r} repeats an earlier charmap"
        seen.add(dst)
    assert m._charmap(0)[1] == m._charmap(0)[0]  # identity base replica


def test_lsh_skew_fixture_is_deterministic_and_hot(spark, tmp_path):
    """The r11 hot-band audit fixture must be reproducible (two builds
    content-identical) and actually HOT — the boilerplate share must
    concentrate band keys well above the uniform corpus's max bucket,
    else the audit measures nothing. Hot-bucket populations are
    quadratically visible only at audit scale, so the pin runs at
    sf0.01 (measured 12 vs 3 there; 5.77M vs 17.2k candidate pairs at
    the audit's 20x dir) and asserts the direction with headroom, not
    the audit-scale magnitude."""
    sf_dir = "/root/testdata/sf0.01"
    import sys

    sys.path.insert(0, str(__import__("pathlib").Path(__file__).resolve().parent.parent))
    from pyspark.sql import functions as F

    from tools.skew_audit import BOILERPLATE, build_template_fixture

    assert len(BOILERPLATE.split()) == 25
    d1 = build_template_fixture(spark, sf_dir, str(tmp_path / "a"))
    d2 = build_template_fixture(spark, sf_dir, str(tmp_path / "b"))
    r1 = sorted(
        tuple(r) for r in spark.read.parquet(f"{d1}/documents.parquet").collect()
    )
    r2 = sorted(
        tuple(r) for r in spark.read.parquet(f"{d2}/documents.parquet").collect()
    )
    assert r1 == r2 and len(r1) > 0

    from acuvate_spark.operators import dedup as dedup_ops
    from acuvate_spark.queries import dedup as qd

    def max_band_bucket(path):
        docs = qd._docs_plus_clones(spark, path)
        sh = qd._doc_shingles(docs)
        sig = dedup_ops.minhash_signature(sh, "doc_id", "shingle", qd._N_HASHES)
        bands = dedup_ops.band_keys(sig, "doc_id", qd._N_HASHES, qd._BAND_SIZE)
        top = (
            bands.groupBy("band_idx", "band_key")
            .count()
            .agg(F.max("count"))
            .first()[0]
        )
        sh.unpersist()
        return top

    hot = max_band_bucket(d1)
    uniform = max_band_bucket(sf_dir)
    assert hot >= 2 * uniform, (
        f"template fixture max band bucket {hot} not hot vs uniform {uniform}"
    )
