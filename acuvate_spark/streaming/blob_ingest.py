"""Structured Streaming re-expression of the reference's blob
ingestion loop (SURVEY §2.9; reference blob_processing_loop
app.py:7025-7040, process_blob app.py:6969-7022).

Mapping of the hand-rolled loop onto Spark primitives:

* 10 s poll + processed-file ledger  -> file-source stream with a
  checkpoint (exactly-once file tracking replaces
  processed_files.txt, app.py:6921-6931);
* filename routing (pid_regex + supported extensions, app.py:6934-6940)
  -> a ``when``/``rlike`` route column;
* per-blob retry with MAX_RETRIES=5 then permanent skip
  (app.py:6909, 6960-6966) -> a retry-state table updated in
  ``foreachBatch``: failures re-enter with attempts+1 until the budget
  is exhausted, then land in the dead-letter output;
* copy-to-success-container archival (app.py:6943-6957) -> routed
  parquet outputs under ``out_dir``.

At scale the same topology runs against cloud storage with
``maxFilesPerTrigger`` back-pressure; nothing here is local-specific
except the paths.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.checkpoints import release
from ..operators.sinks import empty_frame
from ..session import tune

PID_REGEX = r"(A40\d{2}|A41\d{2}|A45\d{2,})"
SUPPORTED_EXT_REGEX = r"\.(pdf|png|jpg|jpeg|tiff)$"
MAX_RETRIES = 5
# a filename containing this marker simulates a processing failure
# (the reference's per-blob download/OCR exceptions)
FAIL_MARKER = ".corrupt"


def route(path: Column) -> Column:
    """Filename router (P12): unsupported ext -> 'unsupported';
    P&ID-coded filenames -> 'pid'; rest -> 'standard'."""
    fname = F.element_at(F.split(path, "/"), -1)
    return (
        F.when(~F.lower(fname).rlike(SUPPORTED_EXT_REGEX), F.lit("unsupported"))
        .when(fname.rlike(PID_REGEX), F.lit("pid"))
        .otherwise(F.lit("standard"))
    )


def _load_retry_state(spark: SparkSession, retry_dir: str) -> DataFrame:
    """Newest COMMITTED retry-state version (the merge-sink version
    scheme). The pre-r07 form overwrote ``retry_dir`` in place: Spark
    overwrite deletes before it writes, so a crash inside the window
    lost every pending retry counter — and since the checkpointed
    file source never redelivers, those blobs would have been lost
    for good, a silent-data-loss window no retry budget can fix."""
    from ..operators.sinks import read_current

    cur = read_current(spark, retry_dir)
    if cur is None:
        return empty_frame(spark, {"path": "string", "attempts": "int"})
    return cur


def _write_retry_state(state: DataFrame, retry_dir: str) -> None:
    """Commit the new retry state as the next version dir (crash-safe:
    the previous committed version serves until the new ``_SUCCESS``
    lands), then best-effort prune older committed versions — safe in
    any crash position because readers always pick the max COMMITTED
    version. ``state`` is the caller's eager checkpoint; the write is
    its last reader, so it is released once committed."""
    import shutil

    from ..operators.sinks import _current_version, _version_num, _write_version

    cur = _current_version(retry_dir)
    n = (_version_num(os.path.basename(cur)) if cur else 0) + 1
    _write_version(state, os.path.join(retry_dir, f"v{n:010d}"))
    release(state)
    if cur is not None:
        shutil.rmtree(cur, ignore_errors=True)


def _committed_union(spark: SparkSession, root: str) -> DataFrame | None:
    """Union of the fully committed child dirs of ``root`` (the
    move/promote sinks' crash-invisibility glob)."""
    from ..operators.sinks import _committed_files

    files = _committed_files(root)
    return spark.read.parquet(*files) if files else None


def routed_files(spark: SparkSession, out_dir: str) -> DataFrame:
    """Successfully processed blobs (path, route) — exactly once per
    blob per successful attempt, whatever the crash history."""
    got = _committed_union(spark, os.path.join(out_dir, "routed"))
    if got is None:
        return empty_frame(spark, {"path": "string", "route": "string"})
    return got


def dead_letters(spark: SparkSession, out_dir: str) -> DataFrame:
    """Blobs that exhausted the retry budget (path, attempts) —
    exactly once per blob, whatever the crash history."""
    got = _committed_union(spark, os.path.join(out_dir, "dlq"))
    if got is None:
        return empty_frame(spark, {"path": "string", "attempts": "int"})
    return got


def start_blob_ingest(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    on_between: Callable[[str], None] | None = None,
):
    """Run one AvailableNow pass of the ingest stream; returns the
    query (caller awaits termination). Outputs under ``out_dir``:
    ``routed/`` (successful rows with route column), ``dlq/`` (rows
    that exhausted the retry budget), ``retry_state/`` (pending
    retries). ``FAIL_MARKER`` in a filename simulates a processing
    failure (the reference's OCR/download exceptions).

    Every output is EXACTLY-ONCE under kill-and-replay (VERDICT r08
    item 6), not just the retry counters: each write goes to a
    DETERMINISTIC versioned target gated on its ``_SUCCESS`` marker —
    routed/dlq rows from a retry pass under ``r<n+1>`` where n is the
    committed retry-state version they derive from, routed rows from
    a stream batch under ``b<batch_id>``, and the retry state itself
    under the merge-sink version scheme. A replay recomputes the same
    rows from the same committed inputs and OVERWRITES the same
    target, so a crash at any seam can neither double-deliver (the
    pre-r09 dlq append double-DLQ'd a blob killed between the dlq
    append and the state write) nor lose a blob (the state commits
    LAST, so until it lands the pending row still drives the next
    pass). Readers are :func:`routed_files` / :func:`dead_letters`.

    ``on_between(seam)`` is the chaos hook: called with ``"dlq"``
    between a retry pass's dlq commit and its state commit, and with
    ``"batch-state"`` between a stream batch's state commit and the
    source-checkpoint commit."""
    tune(spark)
    stream = (
        spark.readStream.format("binaryFile")
        .schema(
            "path string, modificationTime timestamp, length long, content binary"
        )
        .option("pathGlobFilter", "*")
        .load(input_dir)
        .select(
            F.col("path"),
            F.col("length").alias("size"),
            F.col("modificationTime").alias("mtime"),
        )
    )

    routed_dir = os.path.join(out_dir, "routed")
    dlq_dir = os.path.join(out_dir, "dlq")
    retry_dir = os.path.join(out_dir, "retry_state")

    # The checkpointed file source delivers each path exactly once, so
    # retries are driven from the retry-state table, not the source:
    # each ingest pass FIRST re-attempts everything pending (the
    # reference's poll loop re-encounters failed blobs every cycle,
    # app.py:7030-7031), THEN streams the genuinely new files. Running
    # the retry step outside foreachBatch also covers passes where the
    # source has no new files (AvailableNow then runs zero batches).
    _retry_pass(spark, routed_dir, dlq_dir, retry_dir, on_between)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        batch = batch_df.withColumn("route", route(F.col("path")))
        batch = batch.withColumn("failed", F.col("path").contains(FAIL_MARKER))

        ok = batch.where(~F.col("failed")).select("path", "route")
        # deterministic per-batch target: foreachBatch is at-least-once,
        # so a replayed batch must overwrite its own output, not append
        ok.write.mode("overwrite").parquet(
            os.path.join(routed_dir, f"b{batch_id:010d}")
        )

        prev = _load_retry_state(s, retry_dir)
        new_failures = (
            batch.where(F.col("failed"))
            .select("path", F.lit(1).alias("attempts"))
            .join(prev.select("path"), "path", "left_anti")
        )
        state = prev.unionByName(new_failures)
        _write_retry_state(state.localCheckpoint(eager=True), retry_dir)
        if on_between is not None:
            on_between("batch-state")

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _retry_pass(
    spark: SparkSession,
    routed_dir: str,
    dlq_dir: str,
    retry_dir: str,
    on_between: Callable[[str], None] | None = None,
) -> None:
    """Re-attempt every pending blob: successes route normally,
    failures increment attempts, exhausted budgets dead-letter.

    All outputs derive deterministically from the COMMITTED retry
    state version n and overwrite version-keyed targets (``r<n+1>``),
    so a kill at any point replays to the identical outcome: until
    the new state version commits (LAST), the next pass recomputes
    the same routed/dlq rows from state n and overwrites them in
    place — the pre-r09 ``mode("append")`` dlq write double-DLQ'd a
    blob on exactly that replay."""
    from ..operators.sinks import _current_version, _version_num

    prev = _load_retry_state(spark, retry_dir)
    if not prev.take(1):
        return
    cur = _current_version(retry_dir)
    n = _version_num(os.path.basename(cur)) if cur else 0
    attempt = prev.withColumn("route", route(F.col("path"))).withColumn(
        "failed", F.col("path").contains(FAIL_MARKER)
    )
    ok = attempt.where(~F.col("failed")).select("path", "route")
    # gated like the dead write: a perpetually failing blob must not
    # grow routed/ by one empty committed dir per pass (the decision
    # is a pure function of committed state, so replays agree)
    if ok.take(1):
        ok.write.mode("overwrite").parquet(os.path.join(routed_dir, f"r{n + 1:010d}"))
    failures = attempt.where(F.col("failed")).select(
        "path", (F.col("attempts") + 1).alias("attempts")
    )
    dead = failures.where(F.col("attempts") >= MAX_RETRIES)
    if dead.take(1):
        dead.write.mode("overwrite").parquet(os.path.join(dlq_dir, f"r{n + 1:010d}"))
    if on_between is not None:
        on_between("dlq")
    pending = failures.where(F.col("attempts") < MAX_RETRIES)
    _write_retry_state(pending.localCheckpoint(eager=True), retry_dir)


def retry_pending(spark: SparkSession, out_dir: str) -> DataFrame:
    """The retry queue (path, attempts) — the reference's per-blob
    retry counters (app.py:6909)."""
    return _load_retry_state(spark, os.path.join(out_dir, "retry_state"))
