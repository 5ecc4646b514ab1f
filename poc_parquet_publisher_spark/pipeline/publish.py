"""Row -> JSON -> queue publishing (the reference's SQS leg).

Reference behavior being rebuilt (cmd/parquetgo-record-processor/):
- per-row ``json.Marshal`` with struct-tag keys (handler.go:52-62)
  -> ``to_json(struct(*cols))``, JVM-side, whole-stage codegen.
- fixed 10-message batches, the AWS SendMessageBatch hard limit
  (handler.go:23-26,199-205) -> ``itertools`` chunking inside
  ``foreachPartition``.
- concurrent batch sends via errgroup, one goroutine per batch
  (handler.go:194-216) -> a bounded thread pool per partition; across
  partitions Spark's task parallelism already fans out.
- fail-fast on the first failed entry (handler.go:89-97, 219-229) ->
  raising inside the partition function fails the task and aborts the
  job. Delivery is therefore at-least-once under task retry -- the same
  contract as SQS itself.

The queue client is pluggable: anything with a boto3-shaped
``send_message_batch(QueueUrl=..., Entries=[...]) -> {"Failed": [...]}``.
``DirectoryQueue`` is the hermetic test double (a filesystem spool that
works across Python worker processes); real SQS comes from boto3 when
available. The client is constructed INSIDE each partition (via a
picklable zero-arg factory) -- network clients never ride the closure.
"""

from __future__ import annotations

import itertools
import json
import os
import time
import uuid
from collections.abc import Callable, Iterable, Iterator
from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# AWS SendMessageBatch hard limit (handler.go:23-26).
SQS_BATCH_SIZE = 10

# Redrive threshold: template.yaml:10-12 (maxReceiveCount: 5).
DEFAULT_MAX_ATTEMPTS = 5


@dataclass(frozen=True)
class PublishResult:
    published: int
    dead_lettered: int


def serialize_json(df: DataFrame) -> DataFrame:
    """Each row -> one JSON document string, keys = column names.

    Mirrors json.Marshal per record (handler.go:54); nested structs and
    arrays serialize recursively, matching the struct-tag JSON shape of
    internal/models/record.go.
    """
    return df.select(F.to_json(F.struct(*df.columns)).alias("body"))


class DirectoryQueue:
    """Filesystem-spool queue double.

    One ``send_message_batch`` call writes one JSON-lines file (atomic
    rename, unique name per process), so concurrent writers from many
    Spark python workers never interleave. The spool directory is the
    "queue"; each file is one delivered batch event.
    """

    def __init__(self, spool_dir: str):
        self.spool_dir = spool_dir
        os.makedirs(spool_dir, exist_ok=True)

    def send_message_batch(
        self, QueueUrl: str = "", Entries: list[dict[str, Any]] | None = None
    ) -> dict[str, Any]:
        entries = Entries or []
        name = f"{os.getpid()}-{uuid.uuid4().hex}"
        tmp = os.path.join(self.spool_dir, f".{name}.tmp")
        final = os.path.join(self.spool_dir, f"{name}.batch.jsonl")
        with open(tmp, "w", encoding="utf-8") as f:
            for e in entries:
                f.write(json.dumps(e) + "\n")
        os.rename(tmp, final)
        return {"Successful": [{"Id": e["Id"]} for e in entries], "Failed": []}


def _boto3_client_factory(
    service: str,
    region: str | None,
    endpoint: str | None,
    access_key: str | None,
    secret_key: str | None,
):
    """Picklable zero-arg boto3 client factory for ``service``; without
    boto3 the call raises NotImplementedError."""

    def make():
        try:
            import boto3
        except ImportError as exc:  # pragma: no cover - no boto3 here
            raise NotImplementedError(
                f"boto3 is not installed; a real {service} client needs it"
            ) from exc
        return boto3.client(
            service,
            region_name=region,
            endpoint_url=endpoint,
            aws_access_key_id=access_key,
            aws_secret_access_key=secret_key,
        )

    return make


def sqs_client_factory(
    region: str | None = None,
    endpoint: str | None = None,
    access_key: str | None = None,
    secret_key: str | None = None,
):
    """Real-SQS factory (boto3 is optional in this environment).

    Static credentials ride the factory, not the process environment:
    the factory is pickled into Spark python workers whose daemon may
    predate any env mutation on the driver (the endpoint-override
    deployment shape -- LocalStack/minio/moto -- always pairs an
    explicit endpoint with explicit static creds).
    """
    return _boto3_client_factory(
        "sqs", region, endpoint, access_key, secret_key
    )


def _chunks(it: Iterable, size: int) -> Iterator[list]:
    it = iter(it)
    while chunk := list(itertools.islice(it, size)):
        yield chunk


def publish(
    df: DataFrame,
    client_factory: Callable[[], Any],
    queue_url: str = "",
    batch_size: int = SQS_BATCH_SIZE,
    max_concurrency: int = 8,
    max_attempts: int = 1,
    dlq_client_factory: Callable[[], Any] | None = None,
    dlq_url: str = "",
    retry_backoff_s: float = 0.05,
) -> PublishResult:
    """Publish every row of ``df`` as a JSON message.

    Runs as one narrow pass: serialize (JVM) -> foreachPartition, each
    partition chunking into ``batch_size`` entries and sending chunks on a
    bounded thread pool (the errgroup analog -- queue I/O is
    latency-bound, so overlapping sends inside a partition matters as
    much as partition fan-out).

    Failure policy mirrors the reference's queue redrive
    (template.yaml:6-16): a batch's Failed entries -- only those, the
    rest were delivered -- retry up to ``max_attempts`` times (pass
    DEFAULT_MAX_ATTEMPTS for the reference's maxReceiveCount=5); entries
    that exhaust retries go to the dead-letter client when one is
    configured, otherwise raise -- failing the Spark task, fail-fast like
    handler.go:219-229. Delivery is at-least-once under task retry, the
    same contract as SQS itself.

    Counts are driver-side accumulator totals -- a scan-free analog of the
    reference's publishedRows log (handler.go:231-239).
    """
    serialized = serialize_json(df)
    acc = df.sparkSession.sparkContext.accumulator(0)
    dead = df.sparkSession.sparkContext.accumulator(0)

    def send_partition(rows: Iterator) -> None:
        client = client_factory()
        dlq = dlq_client_factory() if dlq_client_factory else None
        base = uuid.uuid4().hex[:8]

        def send(indexed_chunk: tuple[int, list[str]]) -> tuple[int, int]:
            idx, chunk = indexed_chunk
            pending = [
                {"Id": f"{base}-{idx * batch_size + j}", "MessageBody": body}
                for j, body in enumerate(chunk)
            ]
            for attempt in range(max_attempts):
                result = client.send_message_batch(
                    QueueUrl=queue_url, Entries=pending
                )
                # Failed names only the entries that failed; the rest
                # were delivered and must not be sent again
                failed = {f["Id"] for f in result.get("Failed") or []}
                pending = [e for e in pending if e["Id"] in failed]
                if not pending:
                    return len(chunk), 0
                if attempt + 1 < max_attempts:
                    time.sleep(retry_backoff_s * (attempt + 1))
            if dlq is not None:
                dlq.send_message_batch(QueueUrl=dlq_url, Entries=pending)
                return len(chunk) - len(pending), len(pending)
            raise RuntimeError(
                f"failed to send {len(pending)} messages in batch {idx} "
                f"after {max_attempts} attempts"
            )

        bodies = (row.body for row in rows)
        # Windowed submit, NOT pool.map: map drains the whole chunk
        # iterator eagerly, buffering every serialized body of the
        # partition in memory before the first send returns. Capping
        # in-flight futures keeps the partition a true stream -- memory
        # is O(max_in_flight * batch_size) bodies regardless of
        # partition size.
        max_in_flight = max_concurrency * 2

        def drain(done) -> None:
            for fut in done:
                ok, dl = fut.result()  # re-raises -> fail-fast task abort
                acc.add(ok)
                dead.add(dl)

        with ThreadPoolExecutor(max_workers=max_concurrency) as pool:
            in_flight: set = set()
            for item in enumerate(_chunks(bodies, batch_size)):
                if len(in_flight) >= max_in_flight:
                    done, in_flight = wait(
                        in_flight, return_when=FIRST_COMPLETED
                    )
                    drain(done)
                in_flight.add(pool.submit(send, item))
            if in_flight:
                done, _ = wait(in_flight)
                drain(done)

    serialized.foreachPartition(send_partition)
    return PublishResult(published=acc.value, dead_lettered=dead.value)


def run_pipeline(
    spark,
    request: dict,
    client_factory: Callable[[], Any],
    queue_url: str = "",
    batch_size: int = SQS_BATCH_SIZE,
) -> dict:
    """Full request -> publish -> response envelope (handler.go:104-251).

    Response carries the processed paths plus the published-row count the
    reference only logged.
    """
    from .ingest import read_request

    df = read_request(spark, request)
    result = publish(
        df, client_factory, queue_url=queue_url, batch_size=batch_size
    )
    return {
        "paths": list(request.get("paths", [])),
        "published": result.published,
    }
