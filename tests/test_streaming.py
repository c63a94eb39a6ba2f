"""Streaming layer tests: routing, checkpointed ingest with retry/DLQ,
and batch/stream parity of the windowed aggregation."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from acuvate_spark.streaming import blob_ingest, windows
from tests.conftest import persisted_ids
from tests.test_api import _work


def _touch(path: str, content: bytes = b"x") -> None:
    with open(path, "wb") as f:
        f.write(content)


def test_route_filenames(spark):
    rows = [
        ("c/E17-A_A4010-0001.pdf",),  # pid-coded
        ("c/E17-B_A4511-0002.png",),  # pid-coded (A45\d{2,})
        ("c/E17-C_B5-0003.pdf",),  # standard
        ("c/notes.txt",),  # unsupported
        ("c/scan.jpeg",),  # standard
    ]
    df = spark.createDataFrame(rows, "path string").withColumn(
        "route", blob_ingest.route(F.col("path"))
    )
    got = {r["path"]: r["route"] for r in df.collect()}
    assert got == {
        "c/E17-A_A4010-0001.pdf": "pid",
        "c/E17-B_A4511-0002.png": "pid",
        "c/E17-C_B5-0003.pdf": "standard",
        "c/notes.txt": "unsupported",
        "c/scan.jpeg": "standard",
    }


def test_blob_ingest_checkpoint_and_dlq(spark, tmp_path):
    input_dir = tmp_path / "in"
    out_dir = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    input_dir.mkdir()

    _touch(str(input_dir / "E17-A_A4010-0001.pdf"))
    _touch(str(input_dir / "E17-C_B5-0003.pdf"))
    _touch(str(input_dir / "bad.corrupt.pdf"))

    # every pass commits its retry state through an eager checkpoint,
    # released once committed: the persisted set must not grow per pass
    base = persisted_ids(spark)
    pinned = []

    q = blob_ingest.start_blob_ingest(spark, str(input_dir), str(ckpt), str(out_dir))
    q.awaitTermination()
    pinned.append(len(persisted_ids(spark) - base))

    routed = blob_ingest.routed_files(spark, str(out_dir))
    paths = {os.path.basename(r["path"]) for r in routed.collect()}
    assert paths == {"E17-A_A4010-0001.pdf", "E17-C_B5-0003.pdf"}
    pend = blob_ingest.retry_pending(spark, str(out_dir)).collect()
    assert len(pend) == 1 and pend[0]["attempts"] == 1

    # second pass: only the NEW file enters from the source (checkpoint
    # = ledger), and the pending failure is retried -> attempts = 2
    _touch(str(input_dir / "E17-D_A6-0004.png"))
    q = blob_ingest.start_blob_ingest(spark, str(input_dir), str(ckpt), str(out_dir))
    q.awaitTermination()
    pinned.append(len(persisted_ids(spark) - base))
    routed = blob_ingest.routed_files(spark, str(out_dir))
    assert routed.count() == 3  # 2 + 1, no reprocessing of succeeded files
    pend = blob_ingest.retry_pending(spark, str(out_dir)).collect()
    assert len(pend) == 1 and pend[0]["attempts"] == 2

    # exhaust the retry budget: each pass increments attempts; at
    # MAX_RETRIES the blob dead-letters and leaves the retry queue
    for _ in range(blob_ingest.MAX_RETRIES - 2):
        q = blob_ingest.start_blob_ingest(spark, str(input_dir), str(ckpt), str(out_dir))
        q.awaitTermination()
        pinned.append(len(persisted_ids(spark) - base))
    assert all(b <= a for a, b in zip(pinned, pinned[1:])), pinned
    assert blob_ingest.retry_pending(spark, str(out_dir)).count() == 0
    dlq = blob_ingest.dead_letters(spark, str(out_dir)).collect()
    assert len(dlq) == 1 and "bad.corrupt.pdf" in dlq[0]["path"]
    assert dlq[0]["attempts"] == blob_ingest.MAX_RETRIES


def test_retry_pass_kill_between_dlq_and_state_replays_exactly_once(spark, tmp_path):
    """VERDICT r08 item 6: kill the retry pass BETWEEN its dlq commit
    and its retry-state commit, replay, and assert the exhausted blob
    is dead-lettered exactly once (the pre-r09 append dlq wrote it
    twice on this seam) and nothing is lost."""
    input_dir, out_dir, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ckpt"
    input_dir.mkdir()
    _touch(str(input_dir / "bad.corrupt.pdf"))

    # drive attempts to MAX_RETRIES - 1 (next failure dead-letters)
    for _ in range(blob_ingest.MAX_RETRIES - 1):
        q = blob_ingest.start_blob_ingest(spark, str(input_dir), str(ckpt), str(out_dir))
        q.awaitTermination()
    pend = blob_ingest.retry_pending(spark, str(out_dir)).collect()
    assert len(pend) == 1 and pend[0]["attempts"] == blob_ingest.MAX_RETRIES - 1

    class Boom(Exception):
        pass

    def crash(seam):
        if seam == "dlq":
            raise Boom()

    with pytest.raises(Boom):
        blob_ingest.start_blob_ingest(
            spark, str(input_dir), str(ckpt), str(out_dir), on_between=crash
        )
    # dlq committed before the kill; the state still holds the blob
    assert blob_ingest.dead_letters(spark, str(out_dir)).count() == 1
    assert blob_ingest.retry_pending(spark, str(out_dir)).count() == 1

    # replay: the pass recomputes from the same committed state and
    # OVERWRITES the same dlq target — exactly one dead letter, the
    # retry queue drains, nothing lost
    q = blob_ingest.start_blob_ingest(spark, str(input_dir), str(ckpt), str(out_dir))
    q.awaitTermination()
    dlq = blob_ingest.dead_letters(spark, str(out_dir)).collect()
    assert len(dlq) == 1 and "bad.corrupt.pdf" in dlq[0]["path"]
    assert dlq[0]["attempts"] == blob_ingest.MAX_RETRIES
    assert blob_ingest.retry_pending(spark, str(out_dir)).count() == 0
    # and a further pass stays a no-op
    q = blob_ingest.start_blob_ingest(spark, str(input_dir), str(ckpt), str(out_dir))
    q.awaitTermination()
    assert blob_ingest.dead_letters(spark, str(out_dir)).count() == 1


def test_batch_kill_between_state_write_and_checkpoint_replays_exactly_once(
    spark, tmp_path
):
    """VERDICT r08 item 6, second seam: kill a stream batch AFTER its
    retry-state commit but BEFORE the source checkpoint commits. The
    replayed batch must not reset the failure's attempt counter (the
    r07 anti-join hardening) and must not duplicate routed rows (the
    per-batch overwrite target)."""
    input_dir, out_dir, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ckpt"
    input_dir.mkdir()
    _touch(str(input_dir / "E17-A_A4010-0001.pdf"))
    _touch(str(input_dir / "bad.corrupt.pdf"))

    class Boom(Exception):
        pass

    def crash(seam):
        if seam == "batch-state":
            raise Boom()

    q = blob_ingest.start_blob_ingest(
        spark, str(input_dir), str(ckpt), str(out_dir), on_between=crash
    )
    with pytest.raises(Exception):  # surfaces as StreamingQueryException
        q.awaitTermination()
    pend = blob_ingest.retry_pending(spark, str(out_dir)).collect()
    assert len(pend) == 1 and pend[0]["attempts"] == 1

    # replay: checkpoint never committed, so the batch redelivers; the
    # retry pass FIRST re-attempts the pending blob (attempts -> 2),
    # then the replayed batch must neither reset it to 1 nor re-append
    # the succeeded blob
    q = blob_ingest.start_blob_ingest(spark, str(input_dir), str(ckpt), str(out_dir))
    q.awaitTermination()
    pend = blob_ingest.retry_pending(spark, str(out_dir)).collect()
    assert len(pend) == 1 and pend[0]["attempts"] == 2
    routed = blob_ingest.routed_files(spark, str(out_dir)).collect()
    assert [os.path.basename(r["path"]) for r in routed] == ["E17-A_A4010-0001.pdf"]
    assert blob_ingest.dead_letters(spark, str(out_dir)).count() == 0


def test_windowed_counts_stream_matches_batch(spark, sf_dir, tmp_path):
    from acuvate_spark.tables import load_table

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    in_dir = tmp_path / "events_json"
    events.coalesce(1).write.json(str(in_dir))

    stream = windows.stream_events_from_json(spark, str(in_dir))
    agg = windows.windowed_counts(stream)
    q = (
        agg.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    batch = (
        events.groupBy(F.date_trunc("hour", F.col("ts")).alias("ws"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("s"))
        .collect()
    )
    expected = {(r["ws"], r["event_type"]): (r["n"], r["s"]) for r in batch}
    assert got == expected


def test_daily_sync_job(spark, sf_dir, tmp_path):
    n = windows.run_daily_sync(spark, sf_dir, str(tmp_path / "sync_out"))
    assert n > 0


def test_stateful_running_totals_across_restarts(spark, sf_dir, tmp_path):
    """State survives across two AvailableNow runs via the checkpoint:
    totals after run 2 include run 1's events."""
    from acuvate_spark.streaming import stateful
    from acuvate_spark.tables import load_table

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    first = events.where(F.col("event_id") % 2 == 0)
    second = events.where(F.col("event_id") % 2 == 1)
    in_dir = tmp_path / "stream_in"
    ckpt = str(tmp_path / "ckpt")
    first.coalesce(1).write.mode("append").json(str(in_dir))
    out_dir = str(tmp_path / "totals_out")

    def run():
        stream = windows.stream_events_from_json(spark, str(in_dir))

        def sink(batch_df, batch_id):
            batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(out_dir)

        q = (
            stateful.running_user_totals(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run()
    second.coalesce(1).write.mode("append").json(str(in_dir))
    run()

    emitted = spark.read.parquet(out_dir)
    latest = (
        emitted.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(F.col("batch_id").desc())
            ),
        )
        .where("rn = 1")
    )
    # only assert users updated in the SECOND run (their totals must
    # include first-run state carried by the checkpoint)
    max_batch = emitted.agg(F.max("batch_id")).collect()[0][0]
    got = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in latest.where(F.col("batch_id") == max_batch).collect()
    }
    expected = {
        r["user_id"]: (r["n"], r["s"])
        for r in events.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("s"))
        .collect()
    }
    assert got  # users updated in run 2
    for uid, (n, s) in got.items():
        assert (n, s) == expected[uid], uid


def test_streaming_seen_filter_dedupes(spark, tmp_path):
    from acuvate_spark.streaming import stateful

    in_dir = tmp_path / "tags_in"
    ckpt = str(tmp_path / "tags_ckpt")
    rows = spark.createDataFrame(
        [("f1", "T-1"), ("f1", "T-1"), ("f1", "T-2"), ("f2", "T-1")],
        "file_name string, tag string",
    )
    out_dir = str(tmp_path / "seen_out")

    def run():
        stream = spark.readStream.schema("file_name string, tag string").json(str(in_dir))

        def sink(batch_df, batch_id):
            batch_df.write.mode("append").parquet(out_dir)

        q = (
            stateful.streaming_seen_filter(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    rows.coalesce(1).write.mode("append").json(str(in_dir))
    run()
    got = {(r["file_name"], r["tag"]) for r in spark.read.parquet(out_dir).collect()}
    assert got == {("f1", "T-1"), ("f1", "T-2"), ("f2", "T-1")}
    n_first = spark.read.parquet(out_dir).count()
    assert n_first == 3  # in-batch duplicate suppressed too

    # re-sending the same tags emits nothing new (state remembers)
    rows.coalesce(1).write.mode("append").json(str(in_dir))
    run()
    assert spark.read.parquet(out_dir).count() == n_first


def test_watermark_drops_late_events(spark, tmp_path):
    """Events older than the watermark horizon are dropped once the
    watermark has advanced past their window (append mode only emits
    finalized windows)."""
    from acuvate_spark.streaming import stateful, windows as W

    in_dir = tmp_path / "late_in"
    ckpt = str(tmp_path / "late_ckpt")
    out_dir = str(tmp_path / "late_out")

    def emit(rows):
        spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
        ).coalesce(1).write.mode("append").json(str(in_dir))

    def run():
        stream = W.stream_events_from_json(spark, str(in_dir))
        agg = W.windowed_counts(stream, window_len="1 hour", watermark="1 hour")

        def sink(batch_df, batch_id):
            batch_df.write.mode("append").parquet(out_dir)

        q = (
            agg.writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    import datetime as dt

    base = dt.datetime(2024, 6, 1, 10, 0, 0)
    emit([(1, base, 1, "click", 1.0), (2, base + dt.timedelta(hours=3), 1, "click", 1.0)])
    run()  # watermark advances to ~12:00 — the 10:00 window finalizes
    emit([(3, base + dt.timedelta(minutes=5), 1, "click", 1.0)])  # LATE: inside 10:00 window
    emit([(4, base + dt.timedelta(hours=4), 1, "click", 1.0)])
    run()

    import os

    got = {
        (r["window_start"], r["n_events"])
        for r in spark.read.parquet(out_dir).collect()
    }
    # the 10:00 window was finalized with 1 event; the late event did not resurrect it
    assert (base, 1) in got
    assert (base, 2) not in got


def test_stream_stream_attribution_join_matches_batch(spark, sf_dir, tmp_path):
    """The watermarked stream-stream click->purchase join must emit
    exactly the pair set of the registered batch twin
    click_attribution."""
    from acuvate_spark.queries import REGISTRY
    from acuvate_spark.tables import load_table

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    in_dir = tmp_path / "events_json_attr"
    events.coalesce(1).write.option(
        "timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
    ).json(str(in_dir))

    stream = windows.stream_events_from_json(spark, str(in_dir))
    joined = windows.click_purchase_attribution(
        stream.where(F.col("event_type") == "click"),
        stream.where(F.col("event_type") == "purchase"),
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("attr_pairs")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["user_id"], r["purchase_id"], r["click_id"])
        for r in spark.sql("SELECT * FROM attr_pairs").collect()
    }
    expected = {
        (r["user_id"], r["purchase_id"], r["click_id"])
        for r in REGISTRY["click_attribution"].fn(spark, sf_dir).collect()
    }
    assert got == expected and len(got) > 0


def test_session_window_counts_stream_matches_batch(spark, sf_dir, tmp_path):
    """Session-window stream (30 min gap, watermarked) must equal the
    batch twin session_window_counts row for row (VERDICT r02 item 6)."""
    from acuvate_spark.queries import REGISTRY
    from acuvate_spark.queries.training import SESSION_GAP_MIN
    from acuvate_spark.tables import load_table

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    in_dir = tmp_path / "events_json_session"
    # default JSON write truncates to milliseconds; session bounds are
    # raw event timestamps, so microseconds must survive the round-trip
    events.coalesce(1).write.option(
        "timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
    ).json(str(in_dir))

    stream = windows.stream_events_from_json(spark, str(in_dir))
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy("user_id", F.session_window("ts", f"{SESSION_GAP_MIN} minutes"))
        .agg(F.count("*").cast("long").alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("session_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["user_id"], r["session_start"], r["session_end"]): r["n_events"]
        for r in spark.sql("SELECT * FROM session_counts").collect()
    }
    batch = REGISTRY["session_window_counts"].fn(spark, sf_dir).collect()
    expected = {
        (r["user_id"], r["session_start"], r["session_end"]): r["n_events"] for r in batch
    }
    assert got == expected


def test_sliding_windowed_counts_stream_matches_batch(spark, sf_dir, tmp_path):
    """Hopping-window stream (1h window / 30m slide) must equal the
    batch twin sliding_event_counts row for row."""
    from acuvate_spark.queries import REGISTRY
    from acuvate_spark.tables import load_table

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    in_dir = tmp_path / "events_json_sliding"
    events.coalesce(1).write.json(str(in_dir))

    stream = windows.stream_events_from_json(spark, str(in_dir))
    agg = windows.windowed_counts(stream, slide="30 minutes")
    q = (
        agg.writeStream.format("memory")
        .queryName("sliding_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.sql("SELECT * FROM sliding_counts").collect()
    }
    batch = REGISTRY["sliding_event_counts"].fn(spark, sf_dir).collect()
    expected = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"]) for r in batch
    }
    assert got == expected


def test_watermarked_dedup_bounds_state(spark, tmp_path):
    """dropDuplicatesWithinWatermark — the BOUNDED-state streaming
    dedup (state for a key is evictable once the watermark passes it),
    vs stateful.streaming_seen_filter which remembers keys forever.
    Within the watermark horizon duplicates are suppressed exactly."""
    import datetime as dt

    in_dir = tmp_path / "dedup_in"
    ckpt = str(tmp_path / "dedup_ckpt")
    out_dir = str(tmp_path / "dedup_out")
    base = dt.datetime(2024, 6, 1, 10, 0, 0)

    def emit(rows):
        spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
        ).coalesce(1).write.mode("append").option(
            "timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
        ).json(str(in_dir))

    def run():
        stream = windows.stream_events_from_json(spark, str(in_dir))
        deduped = stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
            ["event_id"]
        )

        def sink(batch_df, batch_id):
            batch_df.write.mode("append").parquet(out_dir)

        q = (
            deduped.writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # same event_id delivered 3x inside the horizon -> emitted once
    emit([(1, base, 7, "click", 1.0), (1, base + dt.timedelta(minutes=5), 7, "click", 1.0)])
    run()
    emit([(1, base + dt.timedelta(minutes=10), 7, "click", 1.0), (2, base + dt.timedelta(minutes=30), 7, "view", 2.0)])
    run()
    got = [r["event_id"] for r in spark.read.parquet(out_dir).collect()]
    assert sorted(got) == [1, 2]


def test_foreach_batch_merge_matches_batch_merge(spark, tmp_path):
    """M1 under Structured Streaming (r03 stretch): three micro-batches
    of upserts applied through the foreachBatch MERGE sink must leave
    the target in exactly the state of one batch MERGE over the same
    rows — and replaying a batch (at-least-once) must be a no-op."""
    from acuvate_spark.streaming import merge_sink

    target = tmp_path / "target"
    ckpt = tmp_path / "ckpt"
    src_dir = tmp_path / "src"
    src_dir.mkdir()

    # seed state v0: keys 1..4
    seed = spark.createDataFrame(
        [(k, f"orig-{k}", 0) for k in range(1, 5)], "key long, val string, seq long"
    )
    seed.write.parquet(str(target / "v0000000000"))

    # three single-file micro-batches: update 2, insert 5 (twice in one
    # batch - latest seq wins), update 2 again in a later batch
    batches = [
        [(2, "b0-upd2", 10)],
        [(5, "b1-ins5-old", 20), (5, "b1-ins5-new", 21)],
        [(2, "b2-upd2", 30), (6, "b2-ins6", 31)],
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, "key long, val string, seq long").write.parquet(
            str(src_dir / f"b{i}")
        )

    stream = (
        spark.readStream.schema("key long, val string, seq long")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src_dir}/*")
    )
    q = merge_sink.start_merge_stream(
        stream, str(target), str(ckpt), key="key", seq_col="seq"
    )
    q.awaitTermination()

    got = {
        r["key"]: r["val"]
        for r in merge_sink.read_current(spark, str(target)).collect()
    }
    # batch-side expectation: same rows merged in one pass
    all_rows = [r for b in batches for r in b]
    expected_post = merge_sink.merge_batch(
        seed,
        spark.createDataFrame(all_rows, "key long, val string, seq long"),
        key="key",
        seq_col="seq",
    )
    expected = {r["key"]: r["val"] for r in expected_post.collect()}
    assert got == expected
    assert got[2] == "b2-upd2" and got[5] == "b1-ins5-new" and got[1] == "orig-1"

    # idempotent replay: re-applying the LAST batch against its base
    # version must reproduce the same newest version content
    import os

    newest = sorted(os.listdir(target))[-1]
    last_batch_id = int(newest[1:]) - 1
    before = got
    base = merge_sink.read_current(spark, str(target), max_num=last_batch_id)
    # any of the three source files could have been batch N; replay
    # them all in order against their recorded bases
    for bid in range(last_batch_id + 1):
        b = merge_sink.read_current(spark, str(target), max_num=bid)
        assert b is not None
    replay = merge_sink.merge_batch(
        base,
        spark.createDataFrame(batches[-1], "key long, val string, seq long"),
        key="key",
        seq_col="seq",
    )
    after = {r["key"]: r["val"] for r in replay.collect()}
    assert after == before


def test_foreach_batch_merge_survives_crash_replay(spark, tmp_path):
    """Chaos replay through the REAL checkpoint machinery (VERDICT r04
    item 7): delete the checkpoint's last commit marker after a run —
    the exact state a crash between the version write and the
    checkpoint commit leaves behind — and restart. Structured
    Streaming re-runs that micro-batch (at-least-once); the
    batch_id-versioned, seq-conditional MERGE must overwrite its own
    version with identical content: same final state, same version
    directories, no double-apply."""
    import os

    from acuvate_spark.streaming import merge_sink

    target = tmp_path / "target"
    ckpt = tmp_path / "ckpt"
    src_dir = tmp_path / "src"
    src_dir.mkdir()
    seed = spark.createDataFrame(
        [(k, f"orig-{k}", 0) for k in range(1, 4)], "key long, val string, seq long"
    )
    seed.write.parquet(str(target / "v0000000000"))
    batches = [
        [(1, "b0-upd1", 10), (4, "b0-ins4", 11)],
        [(2, "b1-upd2", 20), (4, "b1-upd4", 21)],
    ]
    for i, rows in enumerate(batches):
        # one part-file per batch dir so maxFilesPerTrigger=1 maps one
        # source dir to one micro-batch
        spark.createDataFrame(rows, "key long, val string, seq long").coalesce(
            1
        ).write.parquet(str(src_dir / f"b{i}"))

    def run(sess):
        stream = (
            sess.readStream.schema("key long, val string, seq long")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src_dir}/*")
        )
        q = merge_sink.start_merge_stream(
            stream, str(target), str(ckpt), key="key", seq_col="seq"
        )
        q.awaitTermination()

    def state():
        versions = sorted(v for v in os.listdir(target) if v.startswith("v"))
        contents = {
            v: sorted(
                (r["key"], r["val"], r["seq"])
                for r in spark.read.parquet(str(target / v)).collect()
            )
            for v in versions
        }
        return versions, contents

    run(spark)
    versions_before, contents_before = state()
    assert len(versions_before) == 3  # seed + one per micro-batch

    # crash simulation: the version write landed, the commit didn't
    # (drop the marker AND its local-FS checksum twin — a stale .crc
    # makes the re-commit look like a concurrent writer)
    commit_files = [f for f in os.listdir(ckpt / "commits") if f.isdigit()]
    last_commit = max(commit_files, key=int)
    os.remove(ckpt / "commits" / last_commit)
    crc = ckpt / "commits" / f".{last_commit}.crc"
    if crc.exists():
        os.remove(crc)
    # restart in a fresh session, as a post-crash restart is: the old
    # session's StreamingQueryManager remembers the checkpoint's last
    # commit and would treat the regressed log as concurrent use
    run(spark.newSession())  # -> replays the uncommitted batch

    versions_after, contents_after = state()
    assert versions_after == versions_before
    assert contents_after == contents_before
    final = {
        r["key"]: r["val"]
        for r in merge_sink.read_current(spark, str(target)).collect()
    }
    assert final == {1: "b0-upd1", 2: "b1-upd2", 3: "orig-3", 4: "b1-upd4"}


def test_session_close_emitter_emits_each_session_once(spark, tmp_path):
    """Emit-on-close sessionization (applyInPandasWithState +
    EventTimeTimeout): an intra-batch gap closes a session immediately;
    the final open session closes when the watermark passes its
    deadline; every session is emitted exactly once; the emitted set
    equals the batch session_window aggregation."""
    import datetime as dt

    from acuvate_spark.streaming import stateful

    in_dir = tmp_path / "sess_in"
    ckpt = str(tmp_path / "sess_ckpt")
    out_dir = str(tmp_path / "sess_out")
    base = dt.datetime(2024, 6, 1, 10, 0, 0)

    def emit(rows):
        spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
        ).coalesce(1).write.mode("append").json(str(in_dir))

    def run():
        stream = windows.stream_events_from_json(spark, str(in_dir))

        def sink(batch_df, batch_id):
            batch_df.write.mode("append").parquet(out_dir)

        q = (
            stateful.session_close_emitter(stream, gap_minutes=30)
            .writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    m = dt.timedelta(minutes=1)
    # user 7: two bursts 2h apart IN ONE BATCH -> burst 1 closes
    # intra-batch; burst 2 stays open in state
    first_events = [
        (1, base, 7, "click", 1.0),
        (2, base + 5 * m, 7, "click", 1.0),
        (3, base + 120 * m, 7, "view", 1.0),
        (4, base + 121 * m, 7, "view", 1.0),
    ]
    emit(first_events)
    run()
    # a much-later event from ANOTHER user advances the watermark past
    # burst 2's deadline -> its timeout fires and emits it
    late = [(5, base + dt.timedelta(hours=12), 8, "click", 1.0)]
    emit(late)
    run()

    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.read.parquet(out_dir).collect()
    }
    expected_closed = {
        (7, base, base + 5 * m, 2),
        (7, base + 120 * m, base + 121 * m, 2),
    }
    assert got == expected_closed

    # batch parity for the closed sessions: native session_window over
    # the same replayed log (user 8's session never closed - excluded)
    batch = (
        spark.createDataFrame(
            first_events,
            "event_id long, ts timestamp, user_id long, event_type string, value double",
        )
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select("user_id", F.col("w.start").alias("s"), "n_events")
    )
    batch_rows = {
        (r["user_id"], r["s"], r["n_events"]) for r in batch.collect()
    }
    assert {(u, s, n) for (u, s, _e, n) in got} == batch_rows


def test_daily_forward_fill_stream_matches_batch(spark, sf_dir, tmp_path):
    """The stateful streaming gap-fill (two-long state per user) must
    emit exactly the batch gapfill_daily rows over one availableNow
    pass."""
    from acuvate_spark.queries import REGISTRY
    from acuvate_spark.streaming.stateful import daily_forward_fill
    from acuvate_spark.tables import load_table

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    in_dir = tmp_path / "events_json_gapfill"
    events.coalesce(1).write.option(
        "timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
    ).json(str(in_dir))
    stream = windows.stream_events_from_json(spark, str(in_dir))
    q = (
        daily_forward_fill(stream)
        .writeStream.format("memory")
        .queryName("gapfill_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["user_id"], r["day"], r["n_events"], r["gap"], r["ff_value_cents"])
        for r in spark.sql("SELECT * FROM gapfill_stream").collect()
    }
    expected = {
        (r["user_id"], r["day"], r["n_events"], r["gap"], r["ff_value_cents"])
        for r in REGISTRY["gapfill_daily"].fn(spark, sf_dir).collect()
    }
    assert got == expected and len(got) > 0


def test_daily_forward_fill_resumes_state_across_restarts(spark, tmp_path):
    """The stateful gap-fill's core claim: a user quiet across
    micro-batches gets the missing days emitted FORWARD-FILLED FROM
    CHECKPOINTED STATE when they reappear in a later run."""
    import json as _json

    from acuvate_spark.streaming.stateful import daily_forward_fill

    in_dir = tmp_path / "gapfill_in"
    in_dir.mkdir()
    ckpt = str(tmp_path / "gapfill_ckpt")

    def write_batch(fname, rows):
        with open(in_dir / fname, "w") as f:
            for eid, day, val in rows:
                f.write(
                    _json.dumps(
                        {
                            "event_id": eid,
                            "ts": f"2024-01-{day:02d}T12:00:00.000000Z",
                            "user_id": 1,
                            "event_type": "click",
                            "value": val,
                        }
                    )
                    + "\n"
                )

    out_dir = str(tmp_path / "gapfill_out")

    def run():
        # file sink: the memory sink refuses checkpoint recovery
        stream = windows.stream_events_from_json(spark, str(in_dir))
        q = (
            daily_forward_fill(stream)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            (r["day"].day, r["n_events"], r["gap"], r["ff_value_cents"])
            for r in spark.read.parquet(out_dir).collect()
        }

    write_batch("b1.json", [(1, 1, 1.0), (2, 2, 2.0)])
    got1 = run()
    assert got1 == {(1, 1, False, 100), (2, 1, False, 200)}

    # user goes quiet for days 3-4, reappears on day 5 in a NEW run:
    # the gap days must emit forward-filled from the restored state
    write_batch("b2.json", [(3, 5, 5.0)])
    got2 = run()
    assert got2 == got1 | {(3, 0, True, 200), (4, 0, True, 200), (5, 1, False, 500)}

    # LATE-ONLY batch: an event for day 3 (already emitted as a gap
    # day) must neither duplicate output nor regress the state...
    write_batch("b3.json", [(4, 3, 9.0)])
    got3 = run()
    assert got3 == got2
    # ...so the next on-time day resumes the grid from day 5, not day 3
    write_batch("b4.json", [(5, 6, 6.0)])
    got4 = run()
    assert got4 == got3 | {(6, 1, False, 600)}


def test_merge_batch_matches_dict_reference_on_random_sequences(spark):
    """merge_batch against a dict-model reference over randomized
    upsert sequences (hypothesis, derandomized): whatever order keys
    and seqs arrive in, applying batches one at a time must equal the
    last-writer-wins-by-seq model — the invariant the chaos-replay
    test's idempotency claim rests on. A NULL seq ranks below every
    seq, and a new key inserts whatever its seq."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from acuvate_spark.streaming import merge_sink

    rows = st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=5),     # key
            st.integers(min_value=0, max_value=9),     # val id
            st.none() | st.integers(min_value=0, max_value=20),  # seq
        ),
        min_size=1,
        max_size=8,
    )

    @settings(max_examples=10, deadline=None, derandomize=True)
    @given(batches=st.lists(rows, min_size=1, max_size=3))
    def run(batches):
        model: dict = {}
        target = None
        for batch in batches:
            # within-batch dedupe keeps the max-seq row, NULL last
            # (first-listed among equal seqs, mirroring row_number's
            # stable order); a new key inserts it, an existing key takes
            # it iff its seq is non-NULL and >= the target row's seq
            # (or the target's is NULL)
            best: dict = {}
            for k, v, s in batch:
                if k not in best or (s is not None and (best[k][1] is None or s > best[k][1])):
                    best[k] = (v, s)
            df = spark.createDataFrame(batch, "key long, val long, seq long")
            target = merge_sink.merge_batch(target, df, key="key", seq_col="seq")
            for k, (v, s) in best.items():
                if k not in model or (s is not None and (model[k][1] is None or s >= model[k][1])):
                    model[k] = (v, s)
        got = {r["key"]: (r["val"], r["seq"]) for r in target.collect()}
        assert got == model

    run()


def test_forward_fill_late_corrections_restore_batch_truth(spark, tmp_path):
    """VERDICT r05 item 5 — the batch half of the forward-fill lambda
    split. The append-mode stream DROPS late events to keep its state
    monotone; gapfill_corrections recomputes batch truth for exactly
    the affected users from storage and merge_corrections overlays it,
    so stream + corrections == gapfill batch truth when late events
    exist — including a late day inside an emitted span (ff values
    shift downstream) and a late day BEFORE a user's first emitted day
    (the grid extends backwards)."""
    import json as _json

    from acuvate_spark.queries.timeseries import (
        gapfill_corrections,
        gapfill_frame,
        merge_corrections,
    )
    from acuvate_spark.streaming.stateful import daily_forward_fill

    in_dir = tmp_path / "ff_in"
    in_dir.mkdir()
    ckpt = str(tmp_path / "ff_ckpt")
    out_dir = str(tmp_path / "ff_out")

    def rows_to_json(fname, rows):
        with open(in_dir / fname, "w") as f:
            for eid, user, day, val in rows:
                f.write(
                    _json.dumps(
                        {
                            "event_id": eid,
                            "ts": f"2024-01-{day:02d}T12:00:00.000000Z",
                            "user_id": user,
                            "event_type": "click",
                            "value": val,
                        }
                    )
                    + "\n"
                )

    def run_stream():
        stream = windows.stream_events_from_json(spark, str(in_dir))
        q = (
            daily_forward_fill(stream)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # batch 1 (all on time): user 1 days 3+6, user 2 days 3+5, user 3 day 5
    batch1 = [
        (1, 1, 3, 10.0), (2, 1, 6, 20.0),
        (3, 2, 3, 5.0), (4, 2, 5, 7.0),
        (5, 3, 5, 9.0),
    ]
    # batch 2: user 1 late day 4 (inside emitted span) + on-time day 8;
    # user 3 late day 2 (BEFORE its first emitted day); user 2 untouched
    late = [(6, 1, 4, 99.0), (8, 3, 2, 42.0)]
    batch2 = late + [(7, 1, 8, 30.0)]
    rows_to_json("b1.json", batch1)
    run_stream()
    rows_to_json("b2.json", batch2)
    run_stream()

    def ev_df(rows):
        return spark.createDataFrame(
            [(u, f"2024-01-{d:02d}T12:00:00", float(v)) for _, u, d, v in rows],
            "user_id long, ts string, value double",
        ).select("user_id", F.col("ts").cast("timestamp").alias("ts"), "value")

    key = lambda r: (r["user_id"], r["day"], r["n_events"], r["gap"], r["ff_value_cents"])
    stream_out = spark.read.parquet(out_dir)
    truth = gapfill_frame(ev_df(batch1 + batch2))
    truth_set = {key(r) for r in truth.collect()}
    stream_set = {key(r) for r in stream_out.collect()}
    assert stream_set != truth_set, "no late effect — the test would be vacuous"

    corrections = gapfill_corrections(ev_df(batch1 + batch2), ev_df(late))
    merged = merge_corrections(stream_out, corrections)
    assert {key(r) for r in merged.collect()} == truth_set
    # the unaffected user's rows came from the STREAM, not the recompute
    assert {key(r) for r in corrections.collect() if r["user_id"] == 2} == set()
    assert {key(r) for r in merged.where("user_id = 2").collect()} == {
        key(r) for r in stream_out.where("user_id = 2").collect()
    }


def test_merge_sink_uncommitted_version_is_invisible(spark, tmp_path):
    """r07 sweep of the _SUCCESS lens: a version dir whose writer was
    killed mid job-commit (part files present, no marker) must not be
    served as current — the previous committed version stays current,
    for both the plain reader and the max_num replay path."""
    import os
    import shutil

    from acuvate_spark.streaming import merge_sink

    target = str(tmp_path / "reg")
    v1 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    os.makedirs(target)
    v1.write.parquet(os.path.join(target, "v0000000001"))

    # partial newer version: copy part files only, no _SUCCESS
    staged = str(tmp_path / "staged")
    spark.createDataFrame([(9, "X")], "k long, v string").coalesce(1).write.parquet(staged)
    partial = os.path.join(target, "v0000000002")
    os.makedirs(partial)
    for f in os.listdir(staged):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(staged, f), partial)

    got = {tuple(r) for r in merge_sink.read_current(spark, target).collect()}
    assert got == {(1, "a"), (2, "b")}
    got2 = {tuple(r) for r in merge_sink.read_current(spark, target, max_num=2).collect()}
    assert got2 == {(1, "a"), (2, "b")}


def test_retry_state_survives_crashed_rewrite(spark, tmp_path):
    """r07: the retry-state table is versioned-commit, not
    overwrite-in-place — a crash mid-rewrite (partial newer version,
    no _SUCCESS) must leave the previous committed counters serving.
    The old overwrite form deleted before writing, so that crash
    window lost every pending retry counter and (because the
    checkpointed source never redelivers) the blobs themselves."""
    import os
    import shutil

    from acuvate_spark.streaming import blob_ingest

    retry_dir = str(tmp_path / "retry_state")
    state = spark.createDataFrame([("a.pdf", 2), ("b.pdf", 1)], "path string, attempts int")
    blob_ingest._write_retry_state(state, retry_dir)
    got = {tuple(r) for r in blob_ingest._load_retry_state(spark, retry_dir).collect()}
    assert got == {("a.pdf", 2), ("b.pdf", 1)}

    # crashed rewrite: partial newer version without a marker
    staged = str(tmp_path / "staged")
    spark.createDataFrame([("x.pdf", 9)], "path string, attempts int").coalesce(1).write.parquet(staged)
    partial = os.path.join(retry_dir, "v0000000099")
    os.makedirs(partial)
    for f in os.listdir(staged):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(staged, f), partial)
    got2 = {tuple(r) for r in blob_ingest._load_retry_state(spark, retry_dir).collect()}
    assert got2 == {("a.pdf", 2), ("b.pdf", 1)}

    # a successful rewrite prunes the old committed version
    blob_ingest._write_retry_state(
        spark.createDataFrame([("a.pdf", 3)], "path string, attempts int"), retry_dir
    )
    committed = [
        v for v in os.listdir(retry_dir)
        if v.startswith("v") and os.path.isfile(os.path.join(retry_dir, v, "_SUCCESS"))
    ]
    assert len(committed) == 1
    got3 = {tuple(r) for r in blob_ingest._load_retry_state(spark, retry_dir).collect()}
    assert got3 == {("a.pdf", 3)}


def test_retry_state_reads_run_no_empty_tasks_and_no_schema_job(spark, tmp_path):
    """An empty retry state is planned in the JVM, so the ``take(1)``
    every ingest pass runs on it starts no task. A committed state is
    read back with the schema its writer recorded, so collecting it
    runs one job and no schema-inference job."""
    retry_dir = str(tmp_path / "retry_state")
    os.makedirs(retry_dir)
    rows, _, tasks = _work(spark, lambda: blob_ingest._load_retry_state(spark, retry_dir).take(1))
    assert rows == [] and tasks == 0

    state = spark.createDataFrame([("a.pdf", 2)], "path string, attempts int")
    blob_ingest._write_retry_state(state, retry_dir)
    rows, jobs, _ = _work(spark, lambda: blob_ingest._load_retry_state(spark, retry_dir).collect())
    assert [tuple(r) for r in rows] == [("a.pdf", 2)] and jobs == 1
