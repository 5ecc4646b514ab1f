"""Lake workload: declared SQL over a seeded star schema, interleaved with
sized Record writes (``generate.write_sized_parquet``) and their
compaction (``pipeline.layout.compact``). The publish layers do no work
here."""

from __future__ import annotations

import concurrent.futures
import importlib
import importlib.util
import os
import time

import numpy as np
import pyarrow.parquet as pq

from poc_parquet_publisher_spark.generate import records as gen_records
from poc_parquet_publisher_spark.queries import REGISTRY, all_queries

from . import inputs
from .trace import Tracer, median

declared_mod = importlib.import_module("poc_parquet_publisher_spark.queries.declared")
writer_mod = importlib.import_module("poc_parquet_publisher_spark.generate.writer")
layout_mod = importlib.import_module("poc_parquet_publisher_spark.pipeline.layout")

# Declared queries checked and timed on every run: a count, a scan with
# filter pushdown, aggregation, a multiway and an anti join, two kinds of
# window, JSON extraction and exact percentiles, each loading its tables
# through the catalog. A round of the timed loop is these queries in seeded
# order with a write cycle before each half (~10 s), so every query is
# timed on every run and the write rate has ~6 cycles in a 30 s run to
# take a median over. Checking all 49 declared queries cold would take ~50 s per run.
QUERIES = (
    "q01_count",
    "q04_filter",
    "q07_group_agg",
    "q12_join_multiway",
    "q15_join_anti",
    "q17_window_rank",
    "q26_json_extract",
    "q30_exact_percentiles",
    "q37_range_frame_window",
)
N_ORDERS = 15_000
# Sized writes: ~2 MiB of Records in files of at most 400 rows, probed
# with a 400-row sample, then compacted toward 1 MiB files.
WRITE_TARGET_BYTES = 2 << 20
WRITE_ROWS_PER_FILE = 400
WRITE_SAMPLE_ROWS = 400
COMPACT_TARGET_BYTES = 1 << 20


def _oracle_harness():
    """``tests/oracle_harness.py`` loaded by path (read-only reuse)."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(root, "tests", "oracle_harness.py")
    spec = importlib.util.spec_from_file_location("oracle_harness", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def _data_files(path: str) -> list[str]:
    return sorted(
        os.path.join(d, f)
        for d, _, names in os.walk(path)
        for f in names
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )


def _tree_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in _data_files(path))


def _tree_ids(path: str) -> tuple[int, int, set]:
    """(files, rows, distinct ids) of a Parquet tree, read with pyarrow."""
    files = _data_files(path)
    ids: set = set()
    rows = 0
    for f in files:
        col = pq.read_table(f, columns=["id"]).column("id").to_pylist()
        rows += len(col)
        ids.update(col)
    return len(files), rows, ids


class Lake:
    name = "lake"

    def __init__(self, seed: int, work_dir: str, tracer: Tracer, trace: bool):
        self.rng = np.random.default_rng(seed)
        self.work_dir = work_dir
        self.tracer = tracer
        self.errors: list[str] = []
        self.writes: list[dict] = []
        self.traced_latency: dict[str, list[float]] = {q: [] for q in QUERIES}
        self._plan: list[str] = []

    def prepare(self) -> None:
        self.sf_dir = os.path.join(self.work_dir, "tables")
        inputs.write_star_schema(self.rng, self.sf_dir, N_ORDERS)
        all_queries()
        self.specs = {q: REGISTRY[q] for q in QUERIES}

    def _run_query(self, spark, name: str) -> float:
        t0 = time.perf_counter()
        with self.tracer.span("queries.build"):
            df = self.specs[name].spark(spark, self.sf_dir)
        with self.tracer.span("queries.action", count_tasks=True):
            df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def warm(self, spark) -> None:
        self._run_query(spark, QUERIES[0])

    def bind(self, spark) -> None:
        """Check every timed query against its DuckDB oracle, four at a
        time; the pass also warms the JVM for the timed loop, and one
        write cycle beside it warms the writer."""
        self.spark = spark
        harness = _oracle_harness()
        con = harness.duckdb_connection(self.sf_dir)
        try:
            with concurrent.futures.ThreadPoolExecutor(4) as pool:
                futures = [pool.submit(self._write_cycle, False)]
                futures += [
                    pool.submit(self.check_query, harness, con.cursor(), q)
                    for q in QUERIES
                ]
                for f in futures:
                    f.result()
        finally:
            con.close()

    def check_query(self, harness, con, name: str, corrupt=None) -> None:
        df = self.specs[name].spark(self.spark, self.sf_dir)
        if corrupt is not None:
            df = corrupt(df)
        result = harness.compare(df, con, self.specs[name].oracle)
        if not result["match"]:
            self.errors.append(f"{name} differs from its oracle: {result}")

    def start_tracing(self) -> None:
        self.tracer.wrap(declared_mod, "load_table", "catalog.load_table")
        self.tracer.wrap(
            writer_mod, "rows_for_target_bytes", "generate.size_probe"
        )

    def _next_op(self) -> str:
        if not self._plan:
            order = [str(q) for q in self.rng.permutation(QUERIES)]
            half = len(order) // 2
            self._plan = ["write", *order[:half], "write", *order[half:]]
        return self._plan.pop(0)

    def _write_cycle(self, timed: bool) -> float:
        """One sized write then its compaction; returns their seconds."""
        out = os.path.join(self.work_dir, f"records-{len(self.writes)}")
        t0 = time.perf_counter()
        with self.tracer.span("generate.write_sized_parquet"):
            n = writer_mod.write_sized_parquet(
                self.spark,
                out,
                target_bytes=WRITE_TARGET_BYTES,
                rows_per_file=WRITE_ROWS_PER_FILE,
                sample_rows=WRITE_SAMPLE_ROWS,
            )
        write_s = time.perf_counter() - t0
        # the pre-compaction snapshot is read outside the timed interval
        before = _tree_ids(out)
        t1 = time.perf_counter()
        with self.tracer.span("layout.compact"):
            info = layout_mod.compact(
                self.spark, out, target_file_bytes=COMPACT_TARGET_BYTES
            )
        compact_s = time.perf_counter() - t1
        self.writes.append(
            {"path": out, "rows": n, "before": before, "info": info,
             "bytes_out": _tree_bytes(out),
             "traced": timed and self.tracer.enabled}
        )
        return write_s + compact_s

    def step(self, traced: bool) -> dict:
        op = self._next_op()
        if op == "write":
            cycle_s = self._write_cycle(timed=True)
            return {"latencies": [],
                    "op": ("write", cycle_s, self.writes[-1]["rows"])}
        latency = self._run_query(self.spark, op)
        if traced:
            self.traced_latency[op].append(latency)
        return {"latencies": [(op, latency)], "op": (op, latency, 0)}

    def check(self) -> list[str]:
        errors = list(self.errors)
        names = {f.name for f in gen_records.RECORD_SCHEMA}
        for w in self.writes:
            files_before, rows_before, ids_before = w["before"]
            files, rows, ids = _tree_ids(w["path"])
            if rows_before != w["rows"] or len(ids_before) != w["rows"]:
                errors.append(
                    f"{w['path']}: wrote {rows_before} rows "
                    f"({len(ids_before)} distinct), asked for {w['rows']}"
                )
            if rows != rows_before or ids != ids_before:
                errors.append(
                    f"{w['path']}: compaction kept {rows} of {rows_before} "
                    f"rows"
                )
            if not 0 < files < files_before or files != w["info"]["files_after"]:
                errors.append(
                    f"{w['path']}: {files_before} files compacted into "
                    f"{files}, compact reported {w['info']['files_after']}"
                )
            for f in _data_files(w["path"])[:1]:
                columns = set(pq.read_schema(f).names)
                if columns != names:
                    errors.append(f"{f}: columns {sorted(columns)}")
        return errors

    def layer_metrics(self) -> dict:
        t = self.tracer
        per_query = [median(v) for v in self.traced_latency.values() if v]
        n_queries = sum(len(v) for v in self.traced_latency.values())
        traced_writes = [w for w in self.writes if w["traced"]]
        probe = t.durations("generate.size_probe")
        write = t.durations("generate.write_sized_parquet")
        rows = sum(w["rows"] for w in traced_writes)
        out_bytes = [w["bytes_out"] for w in traced_writes]
        return {
            "catalog.load_table_calls": (
                len(t.durations("catalog.load_table")) / n_queries
                if n_queries else 0.0
            ),
            "catalog.load_table_s": median(t.durations("catalog.load_table")),
            "queries.build_s": median(t.durations("queries.build")),
            "queries.action_s": median(t.durations("queries.action")),
            "queries.tasks": median(
                s["tasks"] for s in t.named("queries.action")
            ),
            "queries.pass_s": sum(per_query),
            "generate.size_probe_s": median(probe),
            "generate.write_s": median(w - p for w, p in zip(write, probe)),
            "generate.useful_row_ratio": (
                rows / (rows + WRITE_SAMPLE_ROWS * len(traced_writes))
                if traced_writes else 0.0
            ),
            "layout.compact_s": median(t.durations("layout.compact")),
            "layout.files_out": median(
                w["info"]["files_after"] for w in traced_writes
            ),
            "layout.bytes_out": median(out_bytes),
            "layout.stored_bytes_per_row": (
                sum(out_bytes) / rows if rows else 0.0
            ),
        }
