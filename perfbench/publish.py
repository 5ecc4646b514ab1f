"""Publish workload: a traffic mix of batch requests through
``pipeline.run_pipeline`` (wide Records) and stream drains through
``streaming.publisher.stream_publish`` (narrow lineitem-like rows), both
into the benchmark's queue double."""

from __future__ import annotations

import importlib
import os
import time

import numpy as np
import pyarrow as pa

from . import inputs, sink
from .trace import Tracer, median

# Simulated SendMessageBatch round trip (a same-region SQS call).
SINK_RTT_S = 0.005
# One body in SAMPLE_MOD (by keyed hash) is kept and decoded by the check.
SAMPLE_MOD = 256
# Rows of the warm-up operation each setup cycle runs.
WARM_ROWS = 100

# ``pipeline.publish`` resolves to the re-exported function, so the
# modules are bound by name to reach (and trace) their attributes.
ingest_mod = importlib.import_module(
    "poc_parquet_publisher_spark.pipeline.ingest")
publish_mod = importlib.import_module(
    "poc_parquet_publisher_spark.pipeline.publish")
stream_mod = importlib.import_module(
    "poc_parquet_publisher_spark.streaming.publisher")


class _Expected:
    """Running total of what a correct sink must have received."""

    def __init__(self):
        self.entries = 0
        self.digest = 0
        self.samples: list[str] = []

    def add(self, part: dict) -> None:
        self.entries += part["entries"]
        self.digest = (self.digest + part["digest"]) % sink.DIGEST_MOD
        self.samples.extend(part["samples"])

    def as_dict(self) -> dict:
        return {
            "entries": self.entries,
            "digest": self.digest,
            "samples": sorted(self.samples),
        }


def _sweep_max(intervals: list[tuple[float, float]]) -> int:
    """Most sink calls in flight at once, across all worker processes."""
    events = sorted(
        [(s, 1) for s, _ in intervals] + [(e, -1) for _, e in intervals]
    )
    cur = best = 0
    for _, d in events:
        cur += d
        best = max(best, cur)
    return best


def _skew(before: dict, after: dict) -> float:
    """Max over mean rows per non-empty partition (one client per
    partition) between two per-client snapshots."""
    rows = [after[k] - before.get(k, 0) for k in after]
    rows = [r for r in rows if r > 0]
    return max(rows) / (sum(rows) / len(rows)) if rows else 0.0


class _Traffic:
    """Shared sink plumbing of one kind of traffic: the untraced loop and
    the traced loop each publish into their own sink, checked against its
    own expected delivery."""

    key_col = ""

    def __init__(
        self, seed: int, stream: int, work_dir: str, tracer: Tracer,
        trace: bool,
    ):
        self.seed = seed
        self.rng = np.random.default_rng([seed, stream])
        self.work_dir = work_dir
        self.tracer = tracer
        self.trace = trace
        self.source: pa.Table | None = None
        self.errors: list[str] = []
        self.skews: list[float] = []

    def bind(self, spark) -> None:
        self.spark = spark
        sc = spark.sparkContext
        self.sinks = {False: sink.SinkStats(sc, self.seed, SAMPLE_MOD, False)}
        if self.trace:
            self.sinks[True] = sink.SinkStats(sc, self.seed, SAMPLE_MOD, True)
        self.expected = {k: _Expected() for k in self.sinks}

    def _warm_factory(self, spark) -> sink.QueueFactory:
        stats = sink.SinkStats(spark.sparkContext, self.seed, SAMPLE_MOD, False)
        return sink.QueueFactory(stats, SINK_RTT_S)

    def _expect(self, bodies: list[str]) -> dict:
        return sink.expected_sink(
            bodies, f"perfbench-{self.seed}".encode(), SAMPLE_MOD
        )

    def _publish(self, traced: bool, fault, send) -> int:
        """Run ``send(factory)``; in the traced loop also record the
        partition skew of what reached the sink."""
        stats = self.sinks[traced]
        before = dict(stats.per_client.value) if traced else {}
        published = send(sink.QueueFactory(stats, SINK_RTT_S, fault))
        if traced:
            self.skews.append(_skew(before, stats.per_client.value))
        return published

    def check(self) -> list[str]:
        errors = list(self.errors)
        for traced, stats in self.sinks.items():
            errors += [
                f"{type(self).__name__} "
                f"{'traced' if traced else 'untraced'} sink: {e}"
                for e in sink.check_delivery(
                    stats.snapshot(), self.expected[traced].as_dict(),
                    self.source, self.key_col,
                )
            ]
        return errors

class WideRequests(_Traffic):
    """``{bucket, paths[]}`` requests, each over 1-4 seed-chosen files of
    wide Records."""

    key_col = "id"
    n_files = 12
    rows_per_file = 2_500

    def prepare(self) -> None:
        self._sizes: list[int] = []
        tables = [
            inputs.records_table(self.rng, self.rows_per_file)
            for _ in range(self.n_files)
        ]
        self.paths = inputs.write_files(
            tables, os.path.join(self.work_dir, "records"), "records"
        )
        self.file_expected = [
            self._expect(inputs.expected_bodies(t)) for t in tables
        ]
        self.source = pa.concat_tables(tables)
        self.warm_paths = inputs.write_files(
            [inputs.records_table(self.rng, WARM_ROWS)],
            os.path.join(self.work_dir, "warm"), "records",
        )

    def _request(self) -> list[int]:
        # Sizes 1-4 come in seed-shuffled rounds, so every run of a few
        # rounds publishes the same mix of request sizes.
        if not self._sizes:
            self._sizes = self.rng.permutation([1, 2, 3, 4]).tolist()
        k = self._sizes.pop()
        return sorted(self.rng.choice(self.n_files, k, replace=False).tolist())

    def warm(self, spark) -> None:
        request = {"bucket": None, "paths": self.warm_paths}
        publish_mod.run_pipeline(spark, request, self._warm_factory(spark))

    def start_tracing(self) -> None:
        self.tracer.wrap(ingest_mod, "read_request", "ingest.read_request")
        self.tracer.wrap(
            publish_mod, "publish", "publish.publish", count_tasks=True
        )

    def step(self, traced: bool, fault=None) -> dict:
        files = self._request()
        request = {"bucket": None, "paths": [self.paths[i] for i in files]}
        want = sum(self.file_expected[i]["entries"] for i in files)
        t0 = time.perf_counter()
        with self.tracer.span("request"):
            published = self._publish(
                traced, fault,
                lambda factory: publish_mod.run_pipeline(
                    self.spark, request, factory
                )["published"],
            )
        latency = time.perf_counter() - t0
        for i in files:
            self.expected[traced].add(self.file_expected[i])
        if published != want:
            self.errors.append(
                f"request reported {published} published, its files hold "
                f"{want} rows"
            )
        if traced:
            df = ingest_mod.read_request(self.spark, request)
            with self.tracer.span("publish.serialize"):
                publish_mod.serialize_json(df).write.format("noop").mode(
                    "overwrite"
                ).save()
        kind = f"request-{len(files)}-files"
        return {
            "latencies": [(kind, latency)],
            "op": (kind, latency, published),
        }

    def layer_metrics(self) -> dict:
        t = self.tracer
        return {
            "ingest.read_request_s": median(
                t.durations("ingest.read_request")
            ),
            "publish.call_s": median(t.durations("publish.publish")),
            "publish.tasks": median(
                c["tasks"] for c in t.named("publish.publish")
            ),
            "publish.serialize_s": median(t.durations("publish.serialize")),
        }


class StreamDrains(_Traffic):
    """Stream drains: each drain is a fresh ``stream_publish`` query over
    the same source directory of narrow lineitem-like files,
    ``maxFilesPerTrigger`` files per micro-batch."""

    key_col = "l_orderkey"
    n_files = 12
    rows_per_file = 2_000
    files_per_trigger = 3

    def prepare(self) -> None:
        tables = [
            inputs.lineitem_table(
                self.rng, self.rows_per_file, i * self.rows_per_file
            )
            for i in range(self.n_files)
        ]
        self.src = os.path.join(self.work_dir, "stream-src")
        inputs.write_files(tables, self.src, "lineitem")
        self.warm_src = os.path.join(self.work_dir, "stream-warm")
        inputs.write_files(
            [inputs.lineitem_table(self.rng, WARM_ROWS, 0)], self.warm_src,
            "lineitem",
        )
        self.source = pa.concat_tables(tables)
        self.drain_expected = self._expect(
            inputs.expected_bodies(self.source)
        )
        self.drains = 0
        self.progress: list[dict] = []

    def _drain(self, spark, src: str, factory):
        """One ``availableNow`` drain of ``src``; returns (query, rows the
        publisher reported)."""
        self.drains += 1
        ckpt = os.path.join(self.work_dir, f"ckpt-{self.drains}")
        rows = []
        query = stream_mod.stream_publish(
            spark, src, self.schema, factory, ckpt,
            max_files_per_trigger=self.files_per_trigger,
            on_batch=lambda _bid, n: rows.append(n),
        )
        query.awaitTermination()
        return query, sum(rows)

    def warm(self, spark) -> None:
        self.schema = spark.read.parquet(self.warm_src).schema
        self._drain(spark, self.warm_src, self._warm_factory(spark))

    def start_tracing(self) -> None:
        self.tracer.wrap(stream_mod, "publish", "stream.publish")

    def step(self, traced: bool, fault=None) -> dict:
        box = {}

        def send(factory) -> int:
            box["query"], rows = self._drain(self.spark, self.src, factory)
            return rows

        t0 = time.perf_counter()
        with self.tracer.span("drain"):
            rows = self._publish(traced, fault, send)
        drain_s = time.perf_counter() - t0
        self.expected[traced].add(self.drain_expected)
        if rows != self.drain_expected["entries"]:
            self.errors.append(
                f"drain reported {rows} published, source holds "
                f"{self.drain_expected['entries']} rows"
            )
        progress = [
            p["durationMs"] for p in box["query"].recentProgress
            if p["numInputRows"]
        ]
        if traced:
            self.progress.extend(progress)
        latencies = [("batch", p["triggerExecution"] / 1000.0) for p in progress]
        return {"latencies": latencies, "op": ("drain", drain_s, rows)}

    def layer_metrics(self) -> dict:
        return {
            "stream.batches": float(len(self.progress)),
            "stream.add_batch_ms": median(
                p["addBatch"] for p in self.progress
            ),
            "stream.overhead_ms": median(
                p["triggerExecution"] - p["addBatch"] for p in self.progress
            ),
        }


class Publish:
    """The publish workload: rounds of four requests (one of each size,
    seed-shuffled) and one stream drain, in seeded order."""

    name = "publish"

    def __init__(self, seed: int, work_dir: str, tracer: Tracer, trace: bool):
        self.rng = np.random.default_rng([seed, 0])
        self.tracer = tracer
        self.traffic = {
            "request": WideRequests(seed, 1, work_dir, tracer, trace),
            "drain": StreamDrains(seed, 2, work_dir, tracer, trace),
        }
        self._plan: list[str] = []

    def prepare(self) -> None:
        for t in self.traffic.values():
            t.prepare()

    def warm(self, spark) -> None:
        for t in self.traffic.values():
            t.warm(spark)

    def bind(self, spark) -> None:
        for t in self.traffic.values():
            t.bind(spark)

    def start_tracing(self) -> None:
        for t in self.traffic.values():
            t.start_tracing()

    def step(self, traced: bool) -> dict:
        if not self._plan:
            self._plan = [
                str(k) for k in self.rng.permutation(["request"] * 4 + ["drain"])
            ]
        return self.traffic[self._plan.pop()].step(traced)

    def check(self) -> list[str]:
        return [e for t in self.traffic.values() for e in t.check()]

    def layer_metrics(self) -> dict:
        out = {}
        for t in self.traffic.values():
            out.update(t.layer_metrics())
        snaps = [t.sinks[True].snapshot() for t in self.traffic.values()]
        intervals = [iv for snap in snaps for iv in snap["intervals"]]
        calls = sum(snap["calls"] for snap in snaps)
        entries = sum(snap["entries"] for snap in snaps)
        busy = sum(e - s for s, e in intervals)
        publish_wall = sum(
            self.tracer.durations("publish.publish")
            + self.tracer.durations("stream.publish")
        )
        out.update(
            {
                "publish.partition_skew": median(
                    s for t in self.traffic.values() for s in t.skews
                ),
                "sink.calls": 1000.0 * calls / entries if entries else 0.0,
                "sink.entries_per_call": (
                    entries / (calls * sink.SQS_MAX_ENTRIES) if calls else 0.0
                ),
                "sink.busy_s": busy,
                "sink.in_flight_mean": (
                    busy / publish_wall if publish_wall else 0.0
                ),
                "sink.in_flight_max": float(_sweep_max(intervals)),
            }
        )
        return out
