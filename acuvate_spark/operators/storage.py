"""Storage layout operators — the 100 TB persistence story.

The reference delegates storage to Snowflake; a Spark-native engine
owns its layout. Two primitives matter at scale:

* **Partitioned writes** (`write_partitioned`): coarse pruning keys
  (date, tag_type, source) become directories, so predicate pushdown
  prunes whole files before any IO (partition pruning).
* **Bucketed tables** (`write_bucketed`): pre-shuffling by join key at
  write time. Two tables bucketed by the same key join with NO
  exchange — at 100 TB, removing the fact-fact shuffle is the single
  biggest win available (tests/test_storage.py asserts the plan has no
  Exchange on the bucketed join).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def write_partitioned(df: DataFrame, path: str, partition_cols: list[str]) -> None:
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int,
    sort_col: str | None = None,
) -> None:
    """Persist as a bucketed managed table (saveAsTable is required —
    plain parquet paths carry no bucket metadata)."""
    writer = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
    if sort_col:
        writer = writer.sortBy(sort_col)
    writer.format("parquet").saveAsTable(table)


def zorder_key(cols: list[Column], bits: int = 8) -> Column:
    """Morton (Z-order) interleave of n non-negative integer columns:
    bit ``j`` of column ``k`` lands at output position ``j*n + k``.

    Pure column arithmetic — the ``bits * n`` terms unroll into one
    whole-stage-codegen expression (no UDF, no shuffle). Inputs must
    already be reduced to ``[0, 2**bits)``; ``write_zordered`` does
    that with a min/max equi-width scaling, the ``zorder_orders``
    registry query with a modulus so the DuckDB oracle can replicate
    the exact bit math.

    Why this matters at 100 TB: sorting by a single column clusters
    parquet row-group min/max stats on that column only — a filter on
    any OTHER column still touches every file. Interleaving makes each
    file a HYPER-RECTANGLE in key space, so min/max pruning works for
    range predicates on every participating dimension (the same layout
    Delta's OPTIMIZE ZORDER BY produces).
    """
    n = len(cols)
    z = F.lit(0).cast("long")
    for k, c in enumerate(cols):
        lc = c.cast("long")
        for j in range(bits):
            z = z + F.shiftright(lc, j).bitwiseAND(F.lit(1)) * F.lit(1 << (j * n + k))
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = 8,
    n_files: int = 16,
) -> None:
    """Rewrite ``df`` in Z-order layout over ``cols`` (numeric).

    Plan shape (all declarative, scale-safe):

    1. one 1-row min/max aggregate per run (map-side combinable),
       broadcast back — NO driver collect;
    2. equi-width scale each column to ``[0, 2**bits)`` (the same
       normalize-then-interleave scheme Delta uses, except Delta uses
       range-partition ranks; equi-width keeps it a pure map);
    3. interleave with :func:`zorder_key`;
    4. ``repartitionByRange`` + ``sortWithinPartitions`` on the key —
       ONE shuffle, which is the unavoidable cost of a clustering
       rewrite (this is what OPTIMIZE ZORDER pays too).

    The result: parquet files whose min/max footer stats are tight in
    EVERY ``cols`` dimension, so predicate pushdown skips files/row
    groups for range filters on any of them
    (tests/test_storage.py::test_zorder_write_prunes_both_dimensions).
    """
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"__min_{c}"), F.max(c).alias(f"__max_{c}")]
    minmax = df.agg(*aggs)
    joined = df.crossJoin(F.broadcast(minmax))
    top = (1 << bits) - 1
    scaled = []
    for c in cols:
        rng = (F.col(f"__max_{c}") - F.col(f"__min_{c}")).cast("double")
        s = (
            F.when(rng <= 0, F.lit(0))
            .otherwise(F.floor((F.col(c) - F.col(f"__min_{c}")).cast("double") * top / rng))
            .cast("long")
        )
        scaled.append(s)
    out = (
        joined.withColumn("__zkey", zorder_key(scaled, bits))
        .repartitionByRange(n_files, "__zkey")
        .sortWithinPartitions("__zkey")
        .select(*df.columns)
    )
    out.write.mode("overwrite").parquet(path)


def write_sharded(
    df: DataFrame,
    path: str,
    n_shards: int = 16,
    key_col: str = "doc_id",
) -> None:
    """Deterministic global-shuffle sharded export — the last mile of
    a training-data pipeline: every row gets a stable md5 shuffle key,
    ``shard = key mod n_shards`` becomes a partition directory, and
    rows are written in key order within their shard. Concatenating
    shard 0..n-1 therefore replays ONE fixed, seed-stable global
    permutation of the corpus regardless of cluster size or input
    order — reproducible epochs without ever materializing a global
    sort.

    Plan: one hash-partition shuffle on the shard id plus an
    in-partition sort — no global Sort node, no window. All rows of a
    shard land in one task, so each ``shard=k/`` directory holds one
    key-ordered file per write."""
    h = F.md5(F.concat(F.lit("shard|"), F.col(key_col).cast("string")))
    shard = (
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % n_shards
    ).cast("int")
    out = (
        df.withColumn("__h", h)
        .withColumn("shard", shard)
        .repartition(n_shards, "shard")
        .sortWithinPartitions("shard", "__h")
        .drop("__h")
    )
    out.write.mode("overwrite").partitionBy("shard").parquet(path)


def scan_stats(spark: SparkSession, path: str, columns: list[str]) -> DataFrame:
    """Per-file min/max/row-count manifest from parquet FOOTERS only —
    the audit table behind file-skipping decisions (is my layout
    tight? which files would a given range predicate prune?). Reads
    metadata, never data pages.

    The reported min/max are PRUNING BOUNDS, not guaranteed exact
    extrema: parquet writers may truncate statistics for long
    string/binary values, so the stored min is <= the true min (resp.
    max >= true max) — exactly the contract a file-skipping decision
    needs, and the only one footers universally provide. Where the
    footer carries exactness flags (pyarrow >= 16 exposes
    ``is_min_value_exact``) they are AND-folded per file into
    ``{col}_exact`` (null = writer didn't say). Byte-typed statistics
    (binary/string physical type) are utf-8-decoded before rendering
    so the manifest never shows a Python ``b'...'`` repr.

    Scale shape: both the LISTING and the footer reads are
    distributed — the driver enumerates only the top-level children of
    ``path`` (on a real lake: one listing RPC), each task recursively
    expands its own subtree and reads the footers it found
    (mapInPandas, Arrow-batched) — a 100k-file lake manifests without
    a driver-side glob of every leaf. Statistics come from the
    footers' row-group stats (min over mins, max over maxes)."""
    import os as _os

    from pyspark.sql import functions as _F

    if not _os.path.isdir(path):
        raise FileNotFoundError(f"scan_stats: no such directory {path!r}")
    # top-level children only; tasks expand their own subtrees. Loose
    # top-level parquet files become their own roots so a MIXED layout
    # (files beside partition dirs) loses nothing.
    entries = list(_os.scandir(path))
    roots = sorted(
        [e.path for e in entries if e.is_dir()]
        + [e.path for e in entries if e.is_file() and e.name.endswith(".parquet")]
    ) or [path]
    roots_df = spark.createDataFrame([(r,) for r in roots], "root string").repartition(
        min(len(roots), 64)
    )
    out_fields = ", ".join(
        f"`min_{c}` string, `max_{c}` string, `{c}_exact` boolean" for c in columns
    )
    schema = f"file string, n_rows long, {out_fields}"

    def _render(v):
        if isinstance(v, bytes):
            return v.decode("utf-8", errors="replace")
        return str(v)

    def read_footers(it):
        import glob as _glob

        import pandas as pd
        import pyarrow.parquet as pq

        for pdf in it:
            rows = []
            for root in pdf["root"]:
                if _os.path.isfile(root):
                    files = [root] if root.endswith(".parquet") else []
                else:
                    files = sorted(
                        p
                        for p in _glob.glob(
                            _os.path.join(root, "**", "*.parquet"), recursive=True
                        )
                        if _os.path.isfile(p)
                    )
                for f in files:
                    md = pq.read_metadata(f)
                    name_to_idx = {
                        md.schema.column(i).name: i for i in range(md.num_columns)
                    }
                    rec = {"file": f, "n_rows": md.num_rows}
                    for c in columns:
                        mins, maxs, exact = [], [], []
                        idx = name_to_idx.get(c)
                        if idx is not None:
                            for rg in range(md.num_row_groups):
                                st = md.row_group(rg).column(idx).statistics
                                if st is not None and st.has_min_max:
                                    mins.append(st.min)
                                    maxs.append(st.max)
                                    exact.append(
                                        getattr(st, "is_min_value_exact", None)
                                    )
                                    exact.append(
                                        getattr(st, "is_max_value_exact", None)
                                    )
                        rec[f"min_{c}"] = _render(min(mins)) if mins else None
                        rec[f"max_{c}"] = _render(max(maxs)) if maxs else None
                        rec[f"{c}_exact"] = (
                            all(exact) if exact and all(e is not None for e in exact) else None
                        )
                    rows.append(rec)
            yield pd.DataFrame(
                rows,
                columns=["file", "n_rows"]
                + [p for c in columns for p in (f"min_{c}", f"max_{c}", f"{c}_exact")],
            )

    return roots_df.mapInPandas(read_footers, schema).orderBy(_F.col("file"))


def _exact_number(s):
    """Footer stat string -> int when integral (exact at any magnitude,
    unlike float() which rounds int64 values past 2^53), else float."""
    try:
        return int(s)
    except (TypeError, ValueError):
        return float(s)


def pruning_audit(
    spark: SparkSession, path: str, column: str, lo: float, hi: float
) -> dict:
    """MEASURED file-skipping effectiveness of a layout for the range
    predicate ``lo <= column <= hi`` — the number SCALING.md's layout
    claims cash out to: how many files (and bytes) would a footer
    min/max pruner skip? A file is prunable iff its [min, max] bound
    is disjoint from [lo, hi]; because stored stats are conservative
    bounds (see :func:`scan_stats`), pruning on them is always sound,
    which ``tests/test_storage.py`` verifies by reading the pruned
    files back and asserting zero matching rows.

    Returns ``{n_files, n_pruned, bytes_total, bytes_pruned,
    files_pruned}``. NUMERIC columns only (the manifest renders stats
    as strings; integral strings re-parse as Python ints — exact at any
    magnitude, so an int64 stat >= 2^53 cannot round across the bound
    and prune a file that holds matching rows — others as floats; the
    int-vs-float comparisons below are exact in Python). The
    manifest is built distributed by scan_stats; collecting it is one
    row per FILE (not per row group), the same driver-side footprint
    a table format's manifest query has."""
    import os as _os

    rows = scan_stats(spark, path, [column]).collect()
    n_files = len(rows)
    bytes_total = bytes_pruned = 0
    pruned = []
    for r in rows:
        size = _os.path.getsize(r["file"])
        bytes_total += size
        mn, mx = r[f"min_{column}"], r[f"max_{column}"]
        if mn is not None and mx is not None and (
            _exact_number(mx) < lo or _exact_number(mn) > hi
        ):
            bytes_pruned += size
            pruned.append(r["file"])
    return {
        "n_files": n_files,
        "n_pruned": len(pruned),
        "bytes_total": bytes_total,
        "bytes_pruned": bytes_pruned,
        "files_pruned": pruned,
    }
