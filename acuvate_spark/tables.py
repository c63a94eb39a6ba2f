"""Canonical loaders for the synthetic test tables (TESTDATA.md).

All queries go through ``load_table`` so that:

* the nanosecond-timestamp compatibility conversion happens in exactly
  one place (``events.ts`` arrives as INT64 nanos; Spark reads it as a
  long under ``nanosAsLong`` and we convert with integer division —
  matching DuckDB's ``ts::TIMESTAMP`` truncation semantics);
* the driver's own SparkSession gets ``session.tune`` applied before
  any read;
* scans stay plain ``spark.read.parquet`` — declarative, so Catalyst
  pushes filters/projections down to the parquet footer (verified via
  ``.explain``: PushedFilters / ReadSchema).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.checkpoints import release
from .session import tune

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    tune(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # INT64 TIMESTAMP(NANOS) read as long; truncate to micros
            # with integer division (ts/1000 in double would round
            # above 2^53).
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # Belt-and-braces for sessions where inferTimestampNTZ
            # couldn't be unset: NTZ -> session-local timestamp is
            # value-preserving under the UTC session timezone.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_embeddings(spark: SparkSession, sf_dir: str, *extra_cols: str) -> DataFrame:
    """Embedding-corpus entry point for the ANN/dedup/quantize family:
    rows whose ``embedding`` is NULL — or carries any null or
    non-finite component — have no usable vector to index, search,
    cluster or quantize and are EXCLUDED up front. The r13 null-corpus
    audit found NULL rows crashing the blas/coreset Python kernels
    (``None`` is not a float array) and silently skewing k-means seeds
    and quantization stats relative to the oracles. The r14
    extreme-value ring extended the contract to vector CELLS: a NaN
    component poisons every dot product it touches, and the engines
    then disagree on what a NaN similarity means — numpy kernels drop
    it (IEEE ``NaN >= t`` is false) while SQL total-order comparison
    keeps it (NaN sorts greatest), which turned dedup_embedding_cosine
    into 9-vs-2308 rows and crashed ann_ivf_lloyd / coreset_kcenter on
    ANSI NaN casts. Every family oracle carries the matching finite
    filter in its ``embeddings`` CTE:
    ``len(list_filter(embedding, x -> NOT coalesce(abs(x) <
    'Infinity'::FLOAT, FALSE))) = 0``. The Spark twin below uses the
    same ``abs(x) < Inf`` form, which is false for NaN in BOTH engines
    (each treats NaN as greater than infinity), with null components
    coalesced to excluded. A clean corpus is byte-identical with or
    without the filter, and the null test is still a pushed IsNotNull
    at the scan."""
    finite = F.forall(
        F.col("embedding"),
        lambda x: F.coalesce(x.isNotNull() & (F.abs(x) < F.lit(float("inf"))), F.lit(False)),
    )
    return (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding", *extra_cols)
        .where(F.col("embedding").isNotNull() & finite)
    )


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every test table as a temp view so ad-hoc ``spark.sql``
    (the CLI ``sql`` subcommand) can query them by name — the same
    names the DuckDB oracle uses, so any oracle string also runs here.
    Views go through ``load_table`` so the nanos-timestamp conversion
    applies."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def materialize_and_release(result: DataFrame, *frames: DataFrame) -> DataFrame:
    """Run the query now (eager ``localCheckpoint`` — registry results
    are small), then :func:`~acuvate_spark.operators.checkpoints.release`
    the given persisted frames and checkpoints, which the materialized
    result no longer reads, so back-to-back registry queries never
    accumulate blocks across a long session. The standard epilogue for
    any registry query that persists or checkpoints a mid-plan frame
    (``scanner_tag_etl`` and the dedup family). The plan audit stubs
    ``localCheckpoint`` to a no-op, so full lineage stays auditable."""
    out = result.localCheckpoint(eager=True)
    release(*frames)
    return out


def repartition_for_compute(df: DataFrame) -> DataFrame:
    """Spread a small-file scan across the cluster before a CPU-heavy
    derived stage (explode, cross join, regex cascade). The test
    parquet arrives as single-row-group files — unsplittable, so a
    20k-row input would otherwise run a 20M-pair cross join on ONE
    core. At real scale inputs arrive pre-split; this keeps the local
    plan shaped like the cluster plan. One round-robin shuffle of the
    (small) input buys full parallelism for everything downstream."""
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n)
