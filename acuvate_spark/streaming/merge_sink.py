"""Streaming MERGE sink — M1 (conditional upsert, reference
insert_tag_endpoint app.py:4544-4690) under Structured Streaming via
``foreachBatch``, the r03 verdict's stretch item.

Each micro-batch is applied as a Delta-style MERGE against a
versioned parquet target (the same copy-on-write scheme
``api.TagRegistry`` uses): read the current version, full-outer join
on the key, coalesce updated values over existing ones, write the
post-state as a NEW version directory named by batch_id, then the
reader picks the max version. Naming versions by batch_id makes the
sink IDEMPOTENT under foreachBatch's at-least-once contract — a
replayed batch overwrites its own version with identical content
instead of double-applying. On a deployment with Delta/Iceberg the
body of ``_apply`` is literally ``MERGE INTO``; everything around it
(dedupe-within-batch, version commit) is what the table format's
transaction log would do.

At 100 TB the per-batch cost is one key-shuffle join of
(batch x current) — batches are micro (bounded by the trigger), so
broadcast joins apply; the rewrite cost is bounded by partition
pruning on a real table format (this emulation rewrites the whole
small register, exactly like api.TagRegistry's mutations).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.merge import first_per_key, merge, s, t
from ..operators.sinks import _write_version, read_current


def merge_batch(
    target: DataFrame | None,
    batch: DataFrame,
    key: str,
    seq_col: str,
) -> DataFrame:
    """One MERGE step as dataflow: latest-per-key within the batch
    (by ``seq_col`` — micro-batches can carry several updates for one
    key), then ``operators.merge`` against the target; matched keys
    take the batch values only when the batch row is at least as new
    (``seq_col`` >=) as the target row — the WHEN MATCHED AND
    condition of a real MERGE INTO — and a new key inserts the batch
    row whatever its ``seq_col`` (WHEN NOT MATCHED). The guard matters
    beyond replays: the file source can split one logical batch's
    same-key rows across micro-batches in either order
    (maxFilesPerTrigger), and an unconditional overwrite would let
    the stale row win. Pure function of (target, batch) so streaming
    and batch share it."""
    latest = first_per_key(batch, [key], F.col(seq_col).desc())
    if target is None:
        return latest
    take_src = (
        s(seq_col).isNotNull() & (t(seq_col).isNull() | (s(seq_col) >= t(seq_col)))
    ) | (t(key).isNull() & s(key).isNotNull())
    return merge(target, latest, key, {
        c: F.when(take_src, s(c)).otherwise(t(c)) for c in latest.columns if c != key
    })


def start_merge_stream(
    stream: DataFrame,
    target_dir: str,
    checkpoint_dir: str,
    key: str,
    seq_col: str,
):
    """writeStream.foreachBatch MERGE with availableNow trigger: drain
    the source, applying each micro-batch as one idempotent MERGE
    version. Returns the StreamingQuery."""
    spark = stream.sparkSession

    def _apply(batch: DataFrame, batch_id: int) -> None:
        # base state = newest version at or below batch_id: a REPLAYED
        # batch (at-least-once) merges against its original base, never
        # against its own post-state — which also means the read path
        # and the overwrite path are always different directories
        current = read_current(spark, target_dir, max_num=batch_id)
        post = merge_batch(current, batch, key, seq_col)
        _write_version(post, os.path.join(target_dir, f"v{batch_id + 1:010d}"))

    return (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
