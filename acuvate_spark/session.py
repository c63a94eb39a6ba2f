"""SparkSession bootstrap and compatibility tuning.

Two entry paths:

* ``get_spark()`` — used by our own tests/bench; builds a local session
  sized by ``SPARK_GRAFT_CPUS``.
* ``tune(spark)`` — applied to ANY session (including the driver's)
  before reading the test tables. Everything set here must be
  runtime-settable (verified: ``spark.sql.legacy.parquet.nanosAsLong``
  and ``spark.sql.session.timeZone`` are).

Why these settings:

* ``nanosAsLong`` — the driver-generated parquet stores ``events.ts``
  as INT64 TIMESTAMP(NANOS), which Spark's vectorized reader rejects.
  With the flag on, it reads as a long; ``tables.load_table`` converts
  to a microsecond timestamp (integer ``div 1000`` — float division
  would lose precision above 2^53).
* session timezone UTC — keeps naive parquet timestamps bit-identical
  between Spark results and the DuckDB oracle.
* AQE on — runtime coalescing + skew-join handling is a core part of
  the 100 TB story (SURVEY.md §4); local runs keep the same plan shape
  the cluster would use.
* ``spark.python.daemon.module`` (``get_spark`` only) — on CPython < 3.12
  PySpark's per-task ``importlib.invalidate_caches()`` re-reads the directory
  of ``pyspark.zip`` once per zip importer, ~0.2 CPU-s a task;
  ``acuvate_spark.pydaemon`` skips unchanged archives. The conf is static, so
  ``tune()`` cannot apply it: externally owned sessions keep the stock daemon.
  ``spark.executorEnv.PYTHONPATH`` lets workers import it from any cwd.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Settings safe (and necessary) to apply to an externally-owned session.
_RUNTIME_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Driver-generated parquet has also shipped events.ts as plain
    # TIMESTAMP(MICROS) with no UTC flag; Spark 4 infers that as
    # TIMESTAMP_NTZ, which unix_micros()/window() reject or treat
    # differently. Read it as the session-local TIMESTAMP instead —
    # with the UTC session timezone below the values are identical.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Externally-owned sessions keep Spark's default of 200 shuffle
    # partitions — wasteful scheduling at test scale; 64 + AQE
    # coalescing is right for local runs, and a cluster deployment
    # overrides it per-job anyway.
    "spark.sql.shuffle.partitions": "64",
}


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable compatibility/perf confs; never raises.
    Static confs such as ``spark.python.daemon.module`` cannot reach a
    running session; ``get_spark`` sets those when it builds one."""
    for key, value in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            pass
    return spark


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(app_name: str = "acuvate-spark", cpus: int | None = None) -> SparkSession:
    """Local session for tests and bench runs on ``cpus`` cores
    (default ``SPARK_GRAFT_CPUS``). Shuffle partitions are ``tune()``'s
    64, which AQE coalesces at local scale; on a real cluster they
    would be sized to ~2-3x total cores (see README scale notes).
    """
    n = cpus or default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.daemon.module", "acuvate_spark.pydaemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    return tune(builder.getOrCreate())
