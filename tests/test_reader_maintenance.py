"""Readers racing the maintenance path of ``storage.compact_path``.

The writer lease serializes WRITERS, and the chaos sweeps cover every
single-writer crash point; these tests interleave a hive-ROOT reader at
every directory rename of ``compact_path``, asserting the read is pre-
or post-compaction truth — never a silent mix. The swap's temp and
backup siblings are dot-prefixed, so Spark's path filter hides them
from a root scan for the whole rewrite window.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from acuvate_spark.operators import storage
from acuvate_spark.tables import load_table


# ---------------------------------------------------------------------------
# compact_path vs a hive-ROOT reader
# ---------------------------------------------------------------------------


def test_root_reader_racing_compact_path_never_sees_extra_rows(spark, sf_dir, tmp_path):
    """Probe a root scan before every directory rename of the
    per-leaf swap: with the temp fully written (pre-swap) and with the
    backup beside the new leaf (post-swap) the count must equal the
    original — the unhidden siblings used to surface as duplicate
    partition rows. The only tolerated deviation is the documented
    instant between the two renames, where the swapped leaf is absent
    (count drops by exactly that leaf, never grows, never mixes)."""
    o = load_table(spark, sf_dir, "orders").withColumn("status", F.col("o_orderstatus"))
    path = str(tmp_path / "orders_hive")
    o.repartition(8).write.partitionBy("status").parquet(path)
    before = spark.read.parquet(path).count()
    per_leaf = {
        r["status"]: r["n"]
        for r in spark.read.parquet(path).groupBy("status").agg(F.count("*").alias("n")).collect()
    }

    real_rename = os.rename
    observed = []

    def observing(src, dst):
        n = spark.read.parquet(path).count()
        # which state? 1st rename of a pair moves the LEAF away (src
        # is the leaf, all leaves still present); 2nd moves tmp into
        # place (src is the hidden tmp, leaf currently absent)
        leaf_absent = os.path.basename(src).startswith(".")
        missing = per_leaf[os.path.basename(dst).split("=", 1)[1]] if leaf_absent else 0
        observed.append((n, before - missing))
        return real_rename(src, dst)

    os.rename = observing
    try:
        storage.compact_path(spark, path, target_file_bytes=1 << 40)
    finally:
        os.rename = real_rename

    assert len(observed) == 2 * len(per_leaf)  # two renames per leaf
    for got, want in observed:
        assert got == want
    assert spark.read.parquet(path).count() == before


def test_compact_path_siblings_are_hidden_from_spark(spark, sf_dir, tmp_path):
    """Static shape check: a fully-written temp AND a backup sitting
    beside a leaf must be invisible to a root scan (dot-prefix), so
    even a reader with pathological timing lists no sibling."""
    o = load_table(spark, sf_dir, "orders").withColumn("status", F.col("o_orderstatus"))
    path = str(tmp_path / "orders_hive2")
    o.repartition(4).write.partitionBy("status").parquet(path)
    before = spark.read.parquet(path).count()
    leaf = os.path.join(path, "status=O")
    shutil.copytree(leaf, os.path.join(path, ".status=O.__compacting__"))
    shutil.copytree(leaf, os.path.join(path, ".status=O.__pre_compact__"))
    assert spark.read.parquet(path).count() == before
    # and the sweep heals them away (backup present + leaf present ->
    # completed-swap shape: backup discarded; temp discarded)
    storage.compact_path(spark, path, target_file_bytes=1)
    assert [
        d
        for d in os.listdir(path)
        if d.startswith(".") and os.path.isdir(os.path.join(path, d))
    ] == []
    assert spark.read.parquet(path).count() == before


def test_compact_path_recovers_hidden_scheme_crash_shapes(spark, sf_dir, tmp_path):
    """The r13 hidden naming is also what recovery heals: a leaf
    renamed to its hidden backup (died between renames) is restored;
    a stale hidden temp is discarded. Legacy unhidden names keep
    their own coverage in test_storage."""
    events = load_table(spark, sf_dir, "events")
    path = str(tmp_path / "events_hidden_crash")
    events.repartition(8).write.parquet(path)
    n_rows = spark.read.parquet(path).count()
    os.rename(path, str(tmp_path / ".events_hidden_crash.__pre_compact__"))
    n = storage.compact_path(spark, path, target_file_bytes=1 << 40)
    assert n == 1
    assert spark.read.parquet(path).count() == n_rows
