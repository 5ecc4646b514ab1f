"""Streaming tests (SURVEY.md section 5.2 item 4): file-source micro-batches
through the foreachBatch publisher, and windowed totals == the batch answer.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from poc_parquet_publisher_spark.catalog import load_table
from poc_parquet_publisher_spark.pipeline import (
    DirectoryQueue,
    consume_batch_counts,
)
from poc_parquet_publisher_spark.streaming import (
    dedup_stream,
    running_event_totals,
    stream_publish,
    streaming_hourly_counts,
    windowed_event_counts,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """Events re-materialized as micros-timestamp parquet: the fixture's
    TIMESTAMP(NANOS) physical type needs the nanosAsLong conf + catalog
    normalization, which a streaming schema can't express directly."""
    out = tmp_path_factory.mktemp("stream") / "events"
    df = load_table(spark, SF, "events").repartition(4)
    df.write.mode("overwrite").parquet(str(out))
    return str(out), spark.read.parquet(str(out))


def test_stream_publish_counts(spark, events_dir, tmp_path):
    src, batch_df = events_dir
    spool = str(tmp_path / "spool")
    ckpt = str(tmp_path / "ckpt")
    total = batch_df.count()

    seen: list[tuple[int, int]] = []
    q = stream_publish(
        spark,
        src,
        batch_df.schema,
        lambda: DirectoryQueue(spool),
        checkpoint_dir=ckpt,
        max_files_per_trigger=1,  # force several micro-batches
        on_batch=lambda bid, n: seen.append((bid, n)),
    )
    q.awaitTermination(120)
    assert not q.isActive

    # publisher-side: every row published exactly once across batches
    assert sum(n for _, n in seen) == total
    assert len(seen) >= 2
    # consumer-side analog: spool counts agree, 10-message cap holds
    counts = consume_batch_counts(spool)
    assert sum(counts) == total
    assert max(counts) <= 10


def test_stream_dedup_drops_cross_batch_duplicates(spark, events_dir, tmp_path):
    """The same events delivered twice (two micro-batches) come out once:
    state keyed on event_id survives across micro-batches and expires
    past the watermark."""
    _, batch_df = events_dir
    src = str(tmp_path / "dup_src")
    ckpt = str(tmp_path / "ckpt")
    sample = batch_df.limit(200).cache()
    n = sample.count()
    # two identical files => the duplicate arrives in a later micro-batch
    sample.coalesce(1).write.mode("overwrite").parquet(src)
    sample.coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(batch_df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    deduped = dedup_stream(stream, ["event_id"], ts_col="ts", watermark="2 hours")
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_t")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    out = spark.table("dedup_t")
    assert out.count() == n
    assert out.select("event_id").distinct().count() == n


def test_stateful_running_totals(spark, events_dir, tmp_path):
    """applyInPandasWithState: per-key state survives across micro-batches
    (final running_total == batch-mode count per key)."""
    src, batch_df = events_dir
    ckpt = str(tmp_path / "ckpt")

    stream = (
        spark.readStream.schema(batch_df.schema)
        .option("maxFilesPerTrigger", 1)  # several micro-batches
        .parquet(src)
    )
    q = (
        running_event_totals(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("totals_t")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    out = spark.table("totals_t")
    # per key: totals are monotone, max(total) == batch-mode count,
    # and the per-batch increments sum to that same count
    expected = {
        r.event_type: r.n
        for r in batch_df.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    rows = out.collect()
    assert {r.event_type for r in rows} == set(expected)
    for key, n in expected.items():
        mine = [r for r in rows if r.event_type == key]
        assert max(r.running_total for r in mine) == n
        assert sum(r.batch_rows for r in mine) == n
        assert len(mine) >= 2  # state really crossed micro-batches


def test_streaming_windows_match_batch(spark, events_dir, tmp_path):
    src, batch_df = events_dir
    ckpt = str(tmp_path / "ckpt")

    q = streaming_hourly_counts(
        spark, src, batch_df.schema, ckpt, sink_table="hourly_t"
    )
    q.awaitTermination(120)

    stream_rows = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in spark.table("hourly_t").collect()
    }
    batch_rows = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in windowed_event_counts(batch_df).collect()
    }
    assert stream_rows == batch_rows
    assert len(batch_rows) > 0


def test_streaming_sessions_match_batch(spark, events_dir, tmp_path):
    """Native session windows (x48) through the streaming engine: the
    drained session table must equal the batch answer regardless of how
    files were micro-batched -- the merge-across-micro-batches case is
    exactly what distinguishes session state from tumbling windows."""
    from poc_parquet_publisher_spark.streaming import (
        session_event_counts,
        streaming_session_counts,
    )

    src, batch_df = events_dir
    ckpt = str(tmp_path / "ckpt-sessions")

    q = streaming_session_counts(
        spark, src, batch_df.schema, ckpt, sink_table="sessions_t"
    )
    q.awaitTermination(120)

    stream_rows = {
        (r.user_id, r.session_start): (r.session_end, r.n_events)
        for r in spark.table("sessions_t").collect()
    }
    batch_rows = {
        (r.user_id, r.session_start): (r.session_end, r.n_events)
        for r in session_event_counts(batch_df).collect()
    }
    assert stream_rows == batch_rows
    assert len(batch_rows) > 0


def test_streaming_quarantine_routes_both_ways(spark, events_dir, tmp_path):
    """x53's ingest gate on the streaming path: each micro-batch splits
    into ok/quarantined sinks via one foreachBatch, and the routed
    totals reconcile with the batch classification."""
    from poc_parquet_publisher_spark.pipeline.ingest import json_quarantine

    src, batch_df = events_dir
    ckpt = str(tmp_path / "ckpt-quarantine")
    counts = {"ok": 0, "quarantined": 0}

    def corrupt(df):
        return df.select(
            "event_id",
            F.when(F.col("event_id") % 13 == 0, F.lit("{bad json"))
            .when(F.col("event_id") % 17 == 0, F.lit("{}"))
            .otherwise(F.col("props"))
            .alias("props"),
        )

    def route(batch, _id):
        gated = json_quarantine(corrupt(batch), "event_id", "props")
        for status in counts:
            counts[status] += gated.filter(
                F.col("status") == status
            ).count()

    q = (
        spark.readStream.schema(batch_df.schema)
        .parquet(src)
        .writeStream.foreachBatch(route)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    expected = {
        r.status: r.n
        for r in json_quarantine(corrupt(batch_df), "event_id", "props")
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert counts == expected
    assert counts["quarantined"] > 0 and counts["ok"] > 0


def test_streaming_sliding_windows_match_batch(spark, events_dir, tmp_path):
    """x58's sliding (hopping) windows through the streaming engine:
    the drained table equals the batch answer -- each event counted in
    BOTH of its overlapping windows regardless of micro-batching."""
    src, batch_df = events_dir
    ckpt = str(tmp_path / "ckpt-sliding")

    def sliding(df):
        return (
            df.withColumn("ts", F.col("ts").cast("timestamp"))
            .withWatermark("ts", "1 hour")
            .groupBy(
                F.window("ts", "1 hour", "30 minutes").alias("w"),
                "event_type",
            )
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                F.col("w.start").alias("window_start"),
                "event_type",
                "n_events",
            )
        )

    q = (
        sliding(spark.readStream.schema(batch_df.schema).parquet(src))
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("sliding_t")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    stream_rows = {
        (r.window_start, r.event_type): r.n_events
        for r in spark.table("sliding_t").collect()
    }
    batch_rows = {
        (r.window_start, r.event_type): r.n_events
        for r in sliding(batch_df).collect()
    }
    assert stream_rows == batch_rows
    # overlap sanity: total window-memberships == 2x event count
    assert sum(batch_rows.values()) == 2 * batch_df.count()


def test_stateful_sessionize_matches_batch(spark, events_dir, tmp_path):
    """Hand-rolled keyed-state sessionization (applyInPandasWithState +
    event-time timeout) against the batch lag-method sessions: every
    emitted session must exactly match a batch session, and every
    session CLOSED IN-STREAM (all but each user's last -- an availableNow
    drain may stop before final timeouts fire) must be emitted."""
    from pyspark.sql.window import Window

    from poc_parquet_publisher_spark.streaming import sessionize_stateful

    src, batch_df = events_dir
    ckpt = str(tmp_path / "ckpt-stateful-sessions")

    out = sessionize_stateful(
        spark.readStream.schema(batch_df.schema).parquet(src)
    )
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("stateful_sessions_t")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    emitted = {
        (r.user_id, r.session_start): (r.session_end, r.n_events)
        for r in spark.table("stateful_sessions_t").collect()
    }

    # batch reference: x21's lag method (gap STRICTLY > 30 min)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ts_s = F.col("ts").cast("timestamp").cast("long")
    gap = ts_s - F.lag(ts_s).over(w)
    sessions = (
        batch_df.select(
            "user_id",
            "event_id",
            F.col("ts").cast("timestamp").alias("ts"),
            F.when(gap.isNull() | (gap > 30 * 60), 1).otherwise(0).alias(
                "ns"
            ),
        )
        .withColumn("session_id", F.sum("ns").over(run))
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    rows = sessions.collect()
    batch = {
        (r.user_id, r.session_start): (r.session_end, r.n_events)
        for r in rows
    }
    last_per_user = {}
    for r in rows:
        cur = last_per_user.get(r.user_id)
        if cur is None or r.session_start > cur:
            last_per_user[r.user_id] = r.session_start

    # every emitted session is a real batch session, field-exact
    for k, v in emitted.items():
        assert batch.get(k) == v, (k, v, batch.get(k))
    # every in-stream-closed session was emitted
    for k in batch:
        if k[1] != last_per_user[k[0]]:
            assert k in emitted, k
    assert len(emitted) > 0


def test_streaming_attribution_matches_batch(spark, events_dir, tmp_path):
    """STREAM-STREAM interval join (x103): the drained pair set must
    equal the batch interval join exactly -- both sides of the join
    hold state across micro-batches (a view in batch 1 matching a
    click in batch 3 is the case that distinguishes this from a
    stream-static join)."""
    from pyspark.sql import functions as F

    from poc_parquet_publisher_spark.streaming.windows import (
        streaming_attribution,
        view_click_attribution,
    )

    src, batch_df = events_dir
    ckpt = str(tmp_path / "ckpt-attr")

    q = streaming_attribution(
        spark, src, batch_df.schema, ckpt, sink_table="attr_t"
    )
    q.awaitTermination(120)

    stream_rows = {
        (r.click_id, r.view_id): (r.user_id, r.gap_sec)
        for r in spark.table("attr_t").collect()
    }
    batch_pairs = view_click_attribution(
        batch_df.filter(F.col("event_type") == "view"),
        batch_df.filter(F.col("event_type") == "click"),
    )
    batch_rows = {
        (r.click_id, r.view_id): (r.user_id, r.gap_sec)
        for r in batch_pairs.collect()
    }
    assert stream_rows == batch_rows
    assert len(batch_rows) > 0


def test_checkpoint_recovery_no_dupes_no_loss(spark, events_dir, tmp_path):
    """Exactly-once at micro-batch granularity across a mid-stream crash
    (round-4 verdict task #4): kill the publish leg AFTER batch 0
    commits but BEFORE batch 1 sends anything, restart from the SAME
    checkpoint dir, and the spool must end up holding every source row
    exactly once -- batch 0 is not replayed (checkpoint commit), batch 1
    onward is not lost (checkpoint resume). Reference analog: the SQS
    redrive/DLQ recovery contract (template.yaml:6-16)."""
    import json as _json

    from pyspark.errors.exceptions.captured import StreamingQueryException

    src, batch_df = events_dir
    spool = str(tmp_path / "spool")
    ckpt = str(tmp_path / "ckpt")
    armed = str(tmp_path / "armed.marker")
    total = batch_df.count()

    class FailOnceQueue(DirectoryQueue):
        """Raises on every send while the armed marker exists: batch 1's
        workers all check the marker before their FIRST send, so the
        failed micro-batch publishes NOTHING (deterministic -- no
        partial batch to deduplicate on restart)."""

        def send_message_batch(self, QueueUrl="", Entries=None):
            import os as _os

            if _os.path.exists(armed):
                raise RuntimeError("injected crash: queue down")
            return super().send_message_batch(QueueUrl, Entries)

    def arm_after_first_commit(batch_id: int, rows: int) -> None:
        # runs driver-side after batch 0's publish, before its commit;
        # the injected failure only fires from batch 1's sends
        if batch_id == 0:
            open(armed, "w").close()

    q = stream_publish(
        spark,
        src,
        batch_df.schema,
        lambda: FailOnceQueue(spool),
        checkpoint_dir=ckpt,
        max_files_per_trigger=1,
        on_batch=arm_after_first_commit,
    )
    with pytest.raises(StreamingQueryException):
        q.awaitTermination(120)
        raise AssertionError("query should have crashed on batch 1")

    published_before = consume_batch_counts(spool)
    assert 0 < sum(published_before) < total  # batch 0 out, rest pending

    # recovery: same checkpoint, healthy queue
    import os

    os.remove(armed)
    q2 = stream_publish(
        spark,
        src,
        batch_df.schema,
        lambda: DirectoryQueue(spool),
        checkpoint_dir=ckpt,
        max_files_per_trigger=1,
    )
    q2.awaitTermination(120)
    assert not q2.isActive

    counts = consume_batch_counts(spool)
    assert sum(counts) == total  # no loss, and batch 0 NOT replayed
    assert max(counts) <= 10

    # row-level: every event_id exactly once across the whole spool
    ids: list[int] = []
    import glob as _glob

    for path in sorted(_glob.glob(os.path.join(spool, "*.batch.jsonl"))):
        with open(path, encoding="utf-8") as f:
            for line in f:
                body = _json.loads(_json.loads(line)["MessageBody"])
                ids.append(body["event_id"])
    assert len(ids) == total
    assert len(set(ids)) == total
