"""The benchmark's queue double: a boto3-shaped ``send_message_batch`` with a
fixed simulated round trip, counting what it receives through Spark
accumulators (publishing runs in Python worker processes, so plain
counters would stay in the workers).

Per call it counts calls, entries, Ids repeated within the call (SQS
rejects such a call) and calls over the 10-entry limit, adds a keyed
64-bit hash of every body to an order-independent digest, and keeps the
bodies whose hash falls in a seed-chosen sample. With ``trace`` it also
keeps each call's wall-clock interval and per-client entry totals.
"""

from __future__ import annotations

import hashlib
import json
import threading
import time
import uuid

import pyarrow as pa
from pyspark.accumulators import AccumulatorParam

SQS_MAX_ENTRIES = 10
DIGEST_MOD = 1 << 64


class ListParam(AccumulatorParam):
    def zero(self, value):
        return []

    def addInPlace(self, a, b):
        a.extend(b)
        return a


class CountsParam(AccumulatorParam):
    """Per-key integer sums (per-client entry totals)."""

    def zero(self, value):
        return {}

    def addInPlace(self, a, b):
        for k, v in b.items():
            a[k] = a.get(k, 0) + v
        return a


def body_hash(body: str, key: bytes) -> int:
    return int.from_bytes(
        hashlib.blake2b(body.encode(), digest_size=8, key=key).digest(),
        "little",
    )


class SinkStats:
    """Driver-side accumulators for one sink; travels to workers inside
    ``QueueFactory``."""

    def __init__(self, sc, seed: int, sample_mod: int, trace: bool):
        self.key = f"perfbench-{seed}".encode()
        self.sample_mod = sample_mod
        self.trace = trace
        self.calls = sc.accumulator(0)
        self.entries = sc.accumulator(0)
        self.digest = sc.accumulator(0)
        self.id_repeats = sc.accumulator(0)
        self.oversized = sc.accumulator(0)
        self.samples = sc.accumulator([], ListParam())
        self.intervals = sc.accumulator([], ListParam())
        self.per_client = sc.accumulator({}, CountsParam())

    def snapshot(self) -> dict:
        return {
            "calls": self.calls.value,
            "entries": self.entries.value,
            "digest": self.digest.value % DIGEST_MOD,
            "id_repeats": self.id_repeats.value,
            "oversized": self.oversized.value,
            "samples": list(self.samples.value),
            "intervals": list(self.intervals.value),
            "per_client": dict(self.per_client.value),
        }


class QueueDouble:
    """One client per partition (``publish`` calls the factory there);
    ``send_message_batch`` runs on that partition's sender threads."""

    def __init__(self, stats: SinkStats, rtt_s: float, fault: dict | None):
        self._stats = stats
        self._rtt_s = rtt_s
        self._fault = fault or {}
        self._lock = threading.Lock()
        self._client = uuid.uuid4().hex

    def send_message_batch(self, QueueUrl: str = "", Entries=None) -> dict:
        entries = list(Entries or [])
        start = time.time()
        time.sleep(self._rtt_s)
        stats = self._stats
        bodies = [
            (e["MessageBody"], body_hash(e["MessageBody"], stats.key))
            for e in entries
        ]
        times = 1
        target = self._fault.get("target")
        if target is not None and any(h == target for _, h in bodies):
            if self._fault["mode"] == "drop_one":
                bodies = [(b, h) for b, h in bodies if h != target]
            elif self._fault["mode"] == "dup_batch":
                times = 2
        delivered = [h for _, h in bodies]
        samples = [b for b, h in bodies if h % stats.sample_mod == 0]
        n_ids = len({e["Id"] for e in entries})
        end = time.time()
        with self._lock:
            for _ in range(times):
                stats.calls.add(1)
                stats.entries.add(len(delivered))
                stats.digest.add(sum(delivered) % DIGEST_MOD)
                stats.samples.add(samples)
            stats.id_repeats.add(len(entries) - n_ids)
            stats.oversized.add(int(len(entries) > SQS_MAX_ENTRIES))
            if stats.trace:
                stats.intervals.add([(start, end)])
                stats.per_client.add({self._client: len(entries)})
        return {
            "Successful": [{"Id": e["Id"]} for e in entries],
            "Failed": [],
        }


class QueueFactory:
    """Picklable zero-arg client factory (``publish``'s contract)."""

    def __init__(self, stats: SinkStats, rtt_s: float, fault=None):
        self.stats = stats
        self.rtt_s = rtt_s
        self.fault = fault

    def __call__(self) -> QueueDouble:
        return QueueDouble(self.stats, self.rtt_s, self.fault)


# --- driver-side checks -------------------------------------------------


def expected_sink(bodies: list[str], key: bytes, sample_mod: int) -> dict:
    """Digest and sample a correct delivery of ``bodies`` must produce."""
    digest = 0
    samples = []
    for body in bodies:
        h = body_hash(body, key)
        digest += h
        if h % sample_mod == 0:
            samples.append(body)
    return {
        "entries": len(bodies),
        "digest": digest % DIGEST_MOD,
        "samples": sorted(samples),
    }


def _decoded_matches(decoded: dict, row: dict, schema: pa.Schema) -> bool:
    for field in schema:
        got, want = decoded.get(field.name), row[field.name]
        if pa.types.is_timestamp(field.type):
            # JSON carries milliseconds; compare at that precision
            want_ms = want.isoformat(timespec="milliseconds")
            if got is None or got.rstrip("Z") != want_ms[:23]:
                return False
        elif got != want:
            return False
    return set(decoded) == set(schema.names)


def check_delivery(
    got: dict, want: dict, source: pa.Table, key_col: str
) -> list[str]:
    """Compare a sink snapshot with ``expected_sink`` output; every decoded
    sample must equal its source row (found by ``key_col``). Returns the
    failed checks, empty when the delivery is correct."""
    errors = []
    if got["entries"] != want["entries"]:
        errors.append(
            f"delivered {got['entries']} messages, source has "
            f"{want['entries']} rows"
        )
    if got["digest"] != want["digest"]:
        errors.append("body digest differs from the source's")
    if got["id_repeats"]:
        errors.append(f"{got['id_repeats']} Ids repeated within a call")
    if got["oversized"]:
        errors.append(f"{got['oversized']} calls exceed {SQS_MAX_ENTRIES}")
    if sorted(got["samples"]) != want["samples"]:
        errors.append("sampled bodies differ from the source's")
        return errors
    wanted_keys = {}
    for body in want["samples"]:
        wanted_keys[json.loads(body)[key_col]] = body
    if wanted_keys:
        keys = source.column(key_col).to_pylist()
        for i, k in enumerate(keys):
            if k in wanted_keys:
                row = source.slice(i, 1).to_pylist()[0]
                decoded = json.loads(wanted_keys[k])
                if not _decoded_matches(decoded, row, source.schema):
                    errors.append(f"sample {key_col}={k} decodes wrong")
    return errors
