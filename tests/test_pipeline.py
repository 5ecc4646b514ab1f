"""Pipeline e2e (SURVEY.md section 5.2 item 3): parquet -> JSON -> queue.

Invariant under test: published count == df.count() and every payload
parses back to its source row -- the invariant the reference logs at
cmd/parquetgo-record-processor/handler.go:231-239.
"""

from __future__ import annotations

import json

import pytest

from poc_parquet_publisher_spark.catalog import table_path
from poc_parquet_publisher_spark.pipeline import (
    DirectoryQueue,
    consume_batch_counts,
    publish,
    read_request,
    resolve_paths,
    run_pipeline,
    serialize_json,
)
from poc_parquet_publisher_spark.pipeline.consumer import read_messages

SF = "/root/testdata/sf0.001"


def test_resolve_paths_bucket_and_local():
    assert resolve_paths("b", ["k1", "/k2"]) == ["s3a://b/k1", "s3a://b/k2"]
    assert resolve_paths(None, ["/tmp/x.parquet"]) == ["/tmp/x.parquet"]
    with pytest.raises(ValueError):
        resolve_paths("b", [])


def test_read_request(spark):
    df = read_request(spark, {"paths": [table_path(SF, "region")]})
    assert df.count() == 5


def test_publish_roundtrip(spark, tmp_path):
    spool = str(tmp_path / "spool")
    orders = spark.read.parquet(table_path(SF, "orders")).limit(137)
    total = orders.count()

    result = publish(orders, lambda: DirectoryQueue(spool), batch_size=10)
    assert result.published == total
    assert result.dead_lettered == 0

    counts = consume_batch_counts(spool)
    assert sum(counts) == total
    # AWS hard limit: no batch exceeds 10 entries (handler.go:23-26)
    assert max(counts) <= 10

    # Payloads parse back to source rows, keyed by primary key.
    msgs = {m["o_orderkey"]: m for m in read_messages(spool)}
    assert len(msgs) == total
    row = orders.orderBy("o_orderkey").first()
    msg = msgs[row.o_orderkey]
    assert msg["o_custkey"] == row.o_custkey
    assert msg["o_orderstatus"] == row.o_orderstatus


def test_publish_fail_fast(spark, tmp_path):
    class FailingQueue:
        def send_message_batch(self, QueueUrl="", Entries=None):
            return {"Failed": [{"Id": e["Id"]} for e in (Entries or [])]}

    region = spark.read.parquet(table_path(SF, "region"))
    with pytest.raises(Exception, match="failed to send"):
        publish(region, FailingQueue, batch_size=2)


def test_publish_retry_then_succeed(spark, tmp_path):
    """A transiently failing queue succeeds within the redrive budget."""
    spool = str(tmp_path / "spool")
    marker = str(tmp_path / "attempts")

    class FlakyQueue:
        """Fails each batch's first 2 attempts, then delivers."""

        def __init__(self):
            self.inner = DirectoryQueue(spool)

        def send_message_batch(self, QueueUrl="", Entries=None):
            import os as _os

            path = f"{marker}-{Entries[0]['Id']}"  # one counter per batch
            n = 0
            if _os.path.exists(path):
                with open(path) as f:
                    n = int(f.read())
            with open(path, "w") as f:
                f.write(str(n + 1))
            if n < 2:
                return {"Failed": [{"Id": e["Id"]} for e in Entries]}
            return self.inner.send_message_batch(QueueUrl, Entries)

    region = spark.read.parquet(table_path(SF, "region"))
    result = publish(
        region, FlakyQueue, batch_size=2, max_attempts=5,
        retry_backoff_s=0.001,
    )
    assert result.published == 5
    assert result.dead_lettered == 0
    assert sum(consume_batch_counts(spool)) == 5


def test_publish_partial_failure_resends_only_failed_entries(
    spark, tmp_path
):
    """SendMessageBatch's Failed list names only the entries that
    failed; the others were delivered. A retry must resend just the
    failed ones, so every row lands exactly once and none is counted
    twice or dead-lettered."""
    spool = str(tmp_path / "spool")
    dlq_spool = str(tmp_path / "dlq")
    seen = str(tmp_path / "seen")

    class FailsOneOnFirstAttempt:
        """Each batch's first attempt drops its first entry (reported
        in Failed) and delivers the rest."""

        def __init__(self):
            self.inner = DirectoryQueue(spool)

        def send_message_batch(self, QueueUrl="", Entries=None):
            import os as _os

            # a batch's first attempt carries its first Id; a marker
            # file per Id survives the per-partition client
            marker = f"{seen}-{Entries[0]['Id']}"
            if _os.path.exists(marker):
                return self.inner.send_message_batch(QueueUrl, Entries)
            open(marker, "w").close()
            self.inner.send_message_batch(QueueUrl, Entries[1:])
            return {
                "Successful": [{"Id": e["Id"]} for e in Entries[1:]],
                "Failed": [{"Id": Entries[0]["Id"], "SenderFault": False}],
            }

    orders = spark.read.parquet(table_path(SF, "orders")).limit(53)
    rows = orders.count()
    result = publish(
        orders,
        FailsOneOnFirstAttempt,
        batch_size=10,
        max_attempts=3,
        dlq_client_factory=lambda: DirectoryQueue(dlq_spool),
        retry_backoff_s=0.001,
    )
    assert result.published == rows
    assert result.dead_lettered == 0
    keys = [m["o_orderkey"] for m in read_messages(spool)]
    assert sorted(keys) == sorted(r.o_orderkey for r in orders.collect())


def test_publish_dead_letters_after_exhausted_retries(spark, tmp_path):
    """template.yaml:10-12 analog: after max_attempts the batch goes to
    the DLQ instead of failing the job."""
    dlq_spool = str(tmp_path / "dlq")

    class AlwaysFailing:
        def send_message_batch(self, QueueUrl="", Entries=None):
            return {"Failed": [{"Id": e["Id"]} for e in (Entries or [])]}

    region = spark.read.parquet(table_path(SF, "region"))
    result = publish(
        region,
        AlwaysFailing,
        batch_size=2,
        max_attempts=3,
        dlq_client_factory=lambda: DirectoryQueue(dlq_spool),
        retry_backoff_s=0.001,
    )
    assert result.published == 0
    assert result.dead_lettered == 5
    assert sum(consume_batch_counts(dlq_spool)) == 5


def test_run_pipeline_envelope(spark, tmp_path):
    spool = str(tmp_path / "spool")
    req = {"paths": [table_path(SF, "region")]}
    resp = run_pipeline(spark, req, lambda: DirectoryQueue(spool))
    assert resp == {"paths": req["paths"], "published": 5}
    assert sum(consume_batch_counts(spool)) == 5


def test_queue_roundtrip_as_dataframe(spark, tmp_path):
    """rows -> to_json -> queue -> from_json -> rows: full fidelity."""
    from poc_parquet_publisher_spark.pipeline.consumer import (
        messages_as_dataframe,
    )

    spool = str(tmp_path / "spool")
    orders = spark.read.parquet(table_path(SF, "orders")).limit(50)
    publish(orders, lambda: DirectoryQueue(spool))

    back = messages_as_dataframe(spark, spool, orders.schema)
    assert back.schema.simpleString() == orders.schema.simpleString()
    src = {tuple(r) for r in orders.collect()}
    out = {tuple(r) for r in back.collect()}
    assert out == src


def test_serialize_json_nested(spark):
    df = spark.createDataFrame(
        [(1, {"city": "Denver"}, ["a", "b"])], "id int, address struct<city:string>, tags array<string>"
    )
    body = serialize_json(df).first().body
    parsed = json.loads(body)
    assert parsed == {"id": 1, "address": {"city": "Denver"}, "tags": ["a", "b"]}
