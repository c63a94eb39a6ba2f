"""Storage layout tests: bucketed joins must be exchange-free, and
partitioned layouts must prune."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from acuvate_spark.operators import storage
from acuvate_spark.tables import load_table
from tools.dump_plans import plan_text


@pytest.fixture(scope="module")
def warehouse(spark, sf_dir, tmp_path_factory):
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force the issue
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    storage.write_bucketed(o, "b_orders", "o_orderkey", 8, sort_col="o_orderkey")
    storage.write_bucketed(
        li.withColumnRenamed("l_orderkey", "o_orderkey"), "b_lineitem", "o_orderkey", 8,
        sort_col="o_orderkey",
    )
    yield
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_bucketed_join_has_no_exchange(spark, warehouse):
    a = spark.table("b_orders")
    b = spark.table("b_lineitem")
    joined = a.join(b, "o_orderkey").groupBy("o_orderstatus").count()
    plan = plan_text(joined)
    join_section = plan.split("SortMergeJoin")[0] if "SortMergeJoin" in plan else plan
    # co-bucketed join: no shuffle exchange feeding the join
    assert "hashpartitioning" not in join_section, plan


def test_unbucketed_join_does_shuffle(spark, sf_dir):
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    joined = o.join(li, o.o_orderkey == li.l_orderkey).groupBy("o_orderstatus").count()
    plan = plan_text(joined)
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert "hashpartitioning" in plan  # the baseline the buckets remove


def test_partitioned_write_prunes(spark, sf_dir, tmp_path):
    o = load_table(spark, sf_dir, "orders").withColumn(
        "status", F.col("o_orderstatus")
    )
    path = str(tmp_path / "orders_part")
    storage.write_partitioned(o, path, ["status"])
    back = spark.read.parquet(path).where(F.col("status") == "O")
    plan = plan_text(back)
    assert "PartitionFilters" in plan and "status" in plan.split("PartitionFilters")[1][:200]
    assert back.count() == o.where(F.col("o_orderstatus") == "O").count()


def test_zorder_key_interleaves_bits(spark):
    # x=3 (bits 0,1 -> out 0,2), y=1 (bit 0 -> out 1): z = 1+4+2 = 7
    df = spark.range(1).select(
        storage.zorder_key([F.lit(3), F.lit(1)], bits=2).alias("z")
    )
    assert df.collect()[0].z == 7
    # 3 dims: x=1->pos0, y=1->pos1, w=1->pos2 => 7
    df3 = spark.range(1).select(
        storage.zorder_key([F.lit(1), F.lit(1), F.lit(1)], bits=1).alias("z")
    )
    assert df3.collect()[0].z == 7


def _file_spans(path, col):
    """Per-parquet-file (min, max) of a column, read from real footers
    via pyarrow — the same stats Spark's scan uses for skipping."""
    import glob

    import pyarrow.parquet as pq

    spans = []
    for f in sorted(glob.glob(f"{path}/*.parquet")):
        md = pq.ParquetFile(f).metadata
        idx = md.schema.names.index(col)
        lo = min(md.row_group(g).column(idx).statistics.min for g in range(md.num_row_groups))
        hi = max(md.row_group(g).column(idx).statistics.max for g in range(md.num_row_groups))
        spans.append((lo, hi))
    return spans


def test_zorder_write_prunes_both_dimensions(spark, sf_dir, tmp_path):
    """A date-sorted layout prunes date filters but custkey filters hit
    every file; Z-order gives BOTH dimensions sub-linear file hits."""
    o = load_table(spark, sf_dir, "orders").withColumn(
        "o_day",
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")),
    )
    zpath = str(tmp_path / "zorder")
    storage.write_zordered(o, zpath, ["o_custkey", "o_day"], bits=8, n_files=8)

    # correctness: the rewrite is a permutation, nothing lost
    assert spark.read.parquet(zpath).count() == o.count()

    cust_spans = _file_spans(zpath, "o_custkey")
    day_spans = _file_spans(zpath, "o_day")
    n = len(cust_spans)
    assert n > 1

    # a narrow slab in EITHER dimension must intersect only a strict
    # subset of files (single-column sort can't deliver both)
    ck_lo, ck_hi = 10, 25
    d_lo, d_hi = 100, 200
    cust_hits = sum(1 for lo, hi in cust_spans if not (hi < ck_lo or lo > ck_hi))
    day_hits = sum(1 for lo, hi in day_spans if not (hi < d_lo or lo > d_hi))
    assert cust_hits < n, cust_spans
    assert day_hits < n, day_spans


def test_sharded_export_is_deterministic_and_ordered(spark, sf_dir, tmp_path):
    """write_sharded: every shard directory exists, each holds its
    rows in md5-key order (the reproducible global permutation), and
    the union of shards is exactly the input."""
    import glob
    import hashlib

    import pyarrow.parquet as pq

    n = 8
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    path = str(tmp_path / "shards")
    storage.write_sharded(docs, path, n_shards=n, key_col="doc_id")

    def h(doc_id):
        return hashlib.md5(f"shard|{doc_id}".encode()).hexdigest()

    seen = []
    for k in range(n):
        files = sorted(glob.glob(f"{path}/shard={k}/*.parquet"))
        assert files, f"missing shard {k}"
        assert len(files) == 1, "one key-ordered file per shard per write"
        ids = pq.read_table(files[0]).column("doc_id").to_pylist()
        keys = [h(i) for i in ids]
        assert keys == sorted(keys), f"shard {k} not in key order"
        assert all(int(h(i)[:8], 16) % n == k for i in ids), "row in wrong shard"
        seen.extend(ids)
    expected = [r.doc_id for r in docs.collect()]
    assert sorted(seen) == sorted(expected)


def test_sharded_export_order_is_cluster_size_invariant(spark, sf_dir, tmp_path):
    """The export's in-shard order must depend only on the md5 keys —
    NOT on how the input happened to be partitioned (the 'reproducible
    global permutation at any cluster size' claim)."""
    import glob

    import pyarrow.parquet as pq

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def shard_orders(path):
        out = {}
        for d in sorted(glob.glob(f"{path}/shard=*")):
            k = int(d.rsplit("=", 1)[1])
            files = sorted(glob.glob(f"{d}/*.parquet"))
            out[k] = [
                i for f in files for i in pq.read_table(f).column("doc_id").to_pylist()
            ]
        return out

    p1 = str(tmp_path / "narrow")
    p2 = str(tmp_path / "wide")
    storage.write_sharded(docs.repartition(3), p1, n_shards=8, key_col="doc_id")
    storage.write_sharded(docs.repartition(13), p2, n_shards=8, key_col="doc_id")
    assert shard_orders(p1) == shard_orders(p2)


def test_scan_stats_manifest_reflects_layout(spark, sf_dir, tmp_path):
    """scan_stats: footer-only manifest — row counts sum to the
    table, and a zordered layout shows tighter (disjoint-ish) per-file
    key ranges than random placement would."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    path = str(tmp_path / "orders_z")
    storage.write_zordered(orders, path, ["o_custkey", "o_orderkey"], n_files=4)
    stats = storage.scan_stats(spark, path, ["o_orderkey"]).collect()
    assert len(stats) >= 2
    assert sum(r.n_rows for r in stats) == orders.count()
    for r in stats:
        assert r.min_o_orderkey is not None
        assert int(r.min_o_orderkey) <= int(r.max_o_orderkey)


def test_scan_stats_decodes_string_stats(spark, sf_dir, tmp_path):
    """String/binary footer statistics must surface as decoded text
    (never a Python b'...' repr), and min/max are pruning BOUNDS:
    every actual value sits inside [min, max] per file."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "lang")
    path = str(tmp_path / "docs_flat")
    docs.repartition(3).write.parquet(path)
    stats = storage.scan_stats(spark, path, ["source", "lang"]).collect()
    assert len(stats) >= 2
    lo = min(r.min_source for r in stats)
    hi = max(r.max_source for r in stats)
    assert not lo.startswith("b'") and not hi.startswith("b'")
    actual_lo, actual_hi = docs.agg(
        F.min("source"), F.max("source")
    ).first()
    assert lo <= actual_lo and hi >= actual_hi
    # exactness flags: present -> boolean, or null when the writer
    # didn't record them; never a crash
    for r in stats:
        assert r.source_exact in (True, False, None)


def test_pruning_audit_measures_zorder_benefit(spark, sf_dir, tmp_path):
    """The layout claims measured (VERDICT r04 stretch): for a range
    predicate on EITHER z-order dimension, footer pruning skips real
    bytes under the z-ordered layout but ~nothing under a layout
    sorted on just the other column — and pruning is SOUND: the
    skipped files contain zero matching rows."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    zpath = str(tmp_path / "orders_z")
    storage.write_zordered(orders, zpath, ["o_custkey", "o_orderkey"], n_files=8)
    single = str(tmp_path / "orders_by_cust")
    orders.repartitionByRange(8, "o_custkey").sortWithinPartitions(
        "o_custkey"
    ).write.parquet(single)

    okey_max = orders.agg(F.max("o_orderkey")).first()[0]
    lo, hi = 0.0, okey_max * 0.10  # bottom decile of the SECOND z dim
    z = storage.pruning_audit(spark, zpath, "o_orderkey", lo, hi)
    s = storage.pruning_audit(spark, single, "o_orderkey", lo, hi)
    assert z["n_files"] >= 8 and z["bytes_total"] > 0
    # z-order prunes a real fraction on the non-leading dimension;
    # the single-column sort can't (its files all span the okey range)
    assert z["bytes_pruned"] > 0 and z["n_pruned"] >= 2
    assert z["bytes_pruned"] > s["bytes_pruned"]
    # soundness: no pruned file contains a matching row
    for f in z["files_pruned"]:
        n = (
            spark.read.parquet(f)
            .where(F.col("o_orderkey").between(lo, hi))
            .count()
        )
        assert n == 0, f"pruned file {f} had {n} matching rows"
    # and the pruned scan still returns every matching row
    keep = [r["file"] for r in storage.scan_stats(spark, zpath, ["o_orderkey"]).collect()
            if r["file"] not in set(z["files_pruned"])]
    kept_n = (
        spark.read.parquet(*keep).where(F.col("o_orderkey").between(lo, hi)).count()
    )
    full_n = orders.where(F.col("o_orderkey").between(lo, hi)).count()
    assert kept_n == full_n > 0


def test_scan_stats_covers_mixed_top_level_layout(spark, sf_dir, tmp_path):
    """A directory holding loose parquet files BESIDE partition
    subdirectories must manifest every file — the distributed listing
    roots on both kinds of top-level child."""
    import shutil

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    mixed = tmp_path / "mixed"
    orders.withColumn("status", F.col("o_orderstatus")).write.partitionBy(
        "status"
    ).parquet(str(mixed))
    flat = tmp_path / "flat"
    orders.coalesce(1).write.parquet(str(flat))
    loose = next(flat.glob("part-*.parquet"))
    shutil.copyfile(loose, mixed / "loose.parquet")

    stats = storage.scan_stats(spark, str(mixed), ["o_orderkey"]).collect()
    assert any(r["file"].endswith("loose.parquet") for r in stats)
    assert sum(r.n_rows for r in stats) == orders.count() * 2


def test_pruning_audit_exact_for_int64_past_double_mantissa(spark, tmp_path):
    """ADVICE r05: footer stats re-parsed via float() round int64
    values past 2^53, which could flip the disjointness test and prune
    a file that HOLDS matching rows. Stats must re-parse as exact ints:
    a file whose only value is 2^53 + 1 (not float-representable —
    float() rounds it to 2^53) queried with lo = 2^53 + 1 must NOT be
    pruned, while a genuinely disjoint file still is."""
    big = 2**53 + 1
    path = str(tmp_path / "bigints")
    spark.createDataFrame([(big,)], "v long").coalesce(1).write.parquet(path)
    spark.createDataFrame([(5,)], "v long").coalesce(1).write.mode(
        "append"
    ).parquet(path)

    audit = storage.pruning_audit(spark, path, "v", lo=big, hi=big + 10)
    assert audit["n_files"] == 2
    # float() parsing would compute max=2^53 < lo and prune the match
    assert audit["n_pruned"] == 1
    kept = [
        r["file"]
        for r in storage.scan_stats(spark, path, ["v"]).collect()
        if r["file"] not in set(audit["files_pruned"])
    ]
    assert spark.read.parquet(*kept).where(F.col("v") >= big).count() == 1
