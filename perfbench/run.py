"""Repository benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: ``publish`` and ``lake`` (see ``BENCHMARK.json`` for why each). One process, one closed-loop client on
``local[nproc]``: each operation is issued only after the previous one
ended. A run

1. generates the workload's inputs from ``--seed`` (pyarrow, in a scratch
   directory of the checkout that is removed at exit), overlapped with the
   JVM launch;
2. sets up ``SETUP_CYCLES`` times -- ``session.build_session`` on a fresh
   SparkContext plus one workload-shaped warm-up operation -- and reports
   the median as ``setup_s`` (the first cycle also launches the JVM);
3. runs the workload's untimed checks and warm-up (the lake workload
   checks its timed queries against their DuckDB oracles here);
4. loops operations for ``--seconds`` seconds, untraced -- with
   ``--trace 1`` for half of them, then for the other half with spans
   around the engine's public calls, Spark task counts per job group and
   sink call intervals;
5. checks every output, prints the load record and one line per metric,
   and last one JSON object ``{"correct", "attempted", "failed",
   "metrics"}``.

With ``--trace 0`` the metrics are ``END_TO_END``, measured on the
untraced loop; with ``--trace 1`` they are ``PER_LAYER``, measured on the
traced loop, and ``trace.overhead_ratio`` is the traced loop's
``latency_gmean_s`` over the untraced loop's. Spans are written to
``.perfbench-traces/`` in the checkout.

``latency_gmean_s`` is the geometric mean over operation kinds of each
kind's median latency (kinds: request sizes and micro-batches, or each
declared query), so every kind weighs the same whatever its scale.
``peak_rss_mb`` is the median over the timed operations of each one's
peak resident memory of the process tree (driver, JVM, Python workers).
``rows_per_s`` is the rate of one round of the mix from per-kind medians
(see ``round_rate``): messages published, or Records written and compacted.
The driver JVM gets a fixed heap of ``DRIVER_MEMORY``, touched at start,
so the JVM heap's share of ``peak_rss_mb`` is constant and the metric moves
with the Python workers' and the JVM's off-heap memory.

The exit code is non-zero when any correctness check fails.
"""

from __future__ import annotations

import argparse
import concurrent.futures
import dataclasses
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_CYCLES = 3
DRIVER_MEMORY = "1g"

END_TO_END = {
    "setup_s": "s",
    "latency_gmean_s": "s",
    "rows_per_s": "1/s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.first_build_s": "s",
    "session.build_s": "s",
    "session.warmup_s": "s",
    "ingest.read_request_s": "s",
    "publish.call_s": "s",
    "publish.serialize_s": "s",
    "publish.tasks": "count",
    "publish.partition_skew": "ratio",
    "sink.calls": "count/krow",
    "sink.entries_per_call": "ratio",
    "sink.busy_s": "s",
    "sink.in_flight_mean": "count",
    "sink.in_flight_max": "count",
    "stream.batches": "count",
    "stream.add_batch_ms": "ms",
    "stream.overhead_ms": "ms",
    "catalog.load_table_calls": "count/query",
    "catalog.load_table_s": "s",
    "queries.build_s": "s",
    "queries.action_s": "s",
    "queries.tasks": "count",
    "queries.pass_s": "s",
    "generate.size_probe_s": "s",
    "generate.useful_row_ratio": "ratio",
    "generate.write_s": "s",
    "layout.compact_s": "s",
    "layout.files_out": "count",
    "layout.bytes_out": "bytes",
    "layout.stored_bytes_per_row": "bytes",
    "jvm.gc_s": "s",
    "bench.inputs_s": "s",
    "bench.checks_s": "s",
    "trace.overhead_ratio": "ratio",
}


def _workloads():
    from perfbench.lake import Lake
    from perfbench.publish import Publish

    return {w.name: w for w in (Publish, Lake)}


_T0 = time.perf_counter()


def _log(msg: str) -> None:
    print(f"[perfbench +{time.perf_counter() - _T0:6.1f}s] {msg}",
          file=sys.stderr, flush=True)


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat", encoding="ascii") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _isolate(work: str) -> dict[str, str]:
    """Keep every scratch file of the run (Python, JVM, Spark) under
    ``work`` and put the checkout on the Python workers' path; returns
    the session conf that does the same inside the JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(_nproc())
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    # every JVM spark-submit starts (launcher and driver): temp files in
    # ``work``, no hsperfdata files under /tmp
    opts = os.environ.get("JAVA_TOOL_OPTIONS")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData" + (f" {opts}" if opts else "")
    )
    return {
        # a fixed, pre-touched heap: G1 otherwise grows and shrinks the
        # default quarter-of-RAM heap by GC timing, and the process tree's
        # resident memory would follow that rather than the workload
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def latency_gmean(samples: list[tuple[str, float]]) -> float:
    """Geometric mean over operation kinds of each kind's median latency,
    so a loop cut by the deadline mid-round still weighs every kind once."""
    by_kind: dict[str, list[float]] = {}
    for kind, value in samples:
        by_kind.setdefault(kind, []).append(value)
    if not by_kind:
        return float("nan")
    return statistics.geometric_mean(
        statistics.median(v) for v in by_kind.values()
    )


def round_rate(ops: list[tuple[str, float, int]]) -> float:
    """Rows per second of one round of the workload's mix: the sum over
    the operation kinds that move rows of each kind's median rows over
    the sum of their median seconds. Medians keep a stalled operation out;
    summing by kind keeps a round cut by the deadline from changing the
    mix."""
    by_kind: dict[str, tuple[list[float], list[int]]] = {}
    for kind, seconds, rows in ops:
        if rows:
            secs, counts = by_kind.setdefault(kind, ([], []))
            secs.append(seconds)
            counts.append(rows)
    if not by_kind:
        return float("nan")
    rows = sum(statistics.median(c) for _, c in by_kind.values())
    return rows / sum(statistics.median(s) for s, _ in by_kind.values())


@dataclasses.dataclass
class Loop:
    samples: list[tuple[str, float]]
    ops: list[tuple[str, float, int]]
    attempted: int
    failed: int
    wall: float


def _loop(wl, tracer, seconds: float, traced: bool, rss=None) -> Loop:
    """Closed loop: the next operation starts when the previous one ended,
    until ``seconds`` have passed. ``rss`` gets a lap per operation."""
    loop = Loop([], [], 0, 0, 0.0)
    tracer.enabled = traced
    start = time.perf_counter()
    try:
        while time.perf_counter() < start + seconds:
            loop.attempted += 1
            try:
                out = wl.step(traced)
            except Exception:
                loop.failed += 1
                traceback.print_exc()
                continue
            loop.samples.extend(out["latencies"])
            loop.ops.append(out["op"])
            if rss is not None:
                rss.lap()
    finally:
        tracer.enabled = False
    loop.wall = time.perf_counter() - start
    return loop


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    from poc_parquet_publisher_spark import session
    from perfbench import procs
    from perfbench.trace import JobGroups, RssSampler, Tracer, jvm_gc_seconds

    procs.adopt_orphans()
    load_before = os.getloadavg()[0]
    steal_before = _steal_s()
    work = os.path.join(ROOT, ".perfbench-work", f"{workload}-{seed}-{os.getpid()}")
    conf = _isolate(work)
    tracer = Tracer()
    wl = _workloads()[workload](seed, work, tracer, trace)
    spark = None
    try:
        with concurrent.futures.ThreadPoolExecutor(1) as pool:
            prepared = pool.submit(_timed, wl.prepare)
            cycles = []
            for i in range(SETUP_CYCLES):
                if spark is not None:
                    spark.stop()
                t0 = time.perf_counter()
                spark = session.build_session(
                    master=f"local[{_nproc()}]", extra_conf=conf
                )
                build_s = time.perf_counter() - t0
                if i == 0:
                    inputs_s = prepared.result()
                t1 = time.perf_counter()
                wl.warm(spark)
                cycles.append((build_s, time.perf_counter() - t1))
                _log(f"setup cycle {i + 1}: build {build_s:.2f}s, "
                     f"warm-up {cycles[-1][1]:.2f}s")

        t_chk = time.perf_counter()
        wl.bind(spark)
        checks_s = time.perf_counter() - t_chk
        _log(f"inputs {inputs_s:.2f}s, pre-loop checks {checks_s:.2f}s")
        # a traced run splits its time between an untraced and a traced
        # loop, so both kinds of run take equally long
        loop_s = seconds / 2 if trace else seconds
        with RssSampler() as rss:
            plain = _loop(wl, tracer, loop_s, traced=False, rss=rss)
        loops = [plain]
        if trace:
            tracer.jobs = JobGroups(spark)
            wl.start_tracing()
            gc0 = jvm_gc_seconds(spark)
            loops.append(_loop(wl, tracer, loop_s, traced=True))
            gc_s = jvm_gc_seconds(spark) - gc0
            tracer.unwrap_all()
        t_chk = time.perf_counter()
        errors = wl.check()
        checks_s += time.perf_counter() - t_chk
        _log(f"timed loop {plain.wall:.2f}s, {plain.attempted} ops; checked")
    finally:
        try:
            if spark is not None:
                spark.stop()
        finally:
            procs.stop_all()
            shutil.rmtree(work, ignore_errors=True)
            _log("session and JVM stopped")

    attempted = sum(lp.attempted for lp in loops)
    failed = sum(lp.failed for lp in loops)
    notes = [
        f"load: nproc={_nproc()} loadavg1_before={load_before:.2f} "
        f"loadavg1_after={os.getloadavg()[0]:.2f} "
        f"cpu_steal_s={_steal_s() - steal_before:.2f}",
        f"samples: {len(plain.samples)} latencies from {plain.attempted} "
        f"ops in {plain.wall:.2f}s",
    ]
    by_kind: dict[str, list[float]] = {}
    for kind, seconds, _ in plain.ops:
        by_kind.setdefault(kind, []).append(seconds)
    notes.append(
        "operation seconds: "
        + "; ".join(
            f"{kind} " + " ".join(f"{v:.3f}" for v in values)
            for kind, values in sorted(by_kind.items())
        )
    )
    notes += [f"check failed: {e}" for e in errors]
    if trace:
        metrics = {name: 0.0 for name in PER_LAYER}
        metrics.update(wl.layer_metrics())
        metrics.update(
            {
                "session.first_build_s": cycles[0][0],
                "session.build_s": statistics.median(b for b, _ in cycles),
                "session.warmup_s": statistics.median(w for _, w in cycles),
                "jvm.gc_s": gc_s,
                "bench.inputs_s": inputs_s,
                "bench.checks_s": checks_s,
                "trace.overhead_ratio": (
                    latency_gmean(loops[1].samples)
                    / latency_gmean(plain.samples)
                ),
            }
        )
        units = PER_LAYER
        os.makedirs(os.path.join(ROOT, ".perfbench-traces"), exist_ok=True)
        tracer.dump(
            os.path.join(
                ROOT, ".perfbench-traces", f"{workload}-{seed}.jsonl"
            )
        )
    else:
        metrics = {
            "setup_s": statistics.median(b + w for b, w in cycles),
            "latency_gmean_s": latency_gmean(plain.samples),
            "rows_per_s": round_rate(plain.ops),
            "peak_rss_mb": statistics.median(rss.laps) / 1e6,
        }
        units = END_TO_END
    return {
        "notes": notes,
        "result": {
            "correct": not errors and failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {
                k: {"value": float(v), "unit": units[k]}
                for k, v in metrics.items()
            },
        },
    }


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)
    # a terminated run still stops the processes it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, ROOT)
    if args.workload not in _workloads():
        parser.error(f"unknown workload {args.workload!r}")
    out = run(args.workload, args.seed, args.seconds, bool(args.trace))
    result = out["result"]
    for note in out["notes"]:
        print(f"# {note}")
    for name, m in result["metrics"].items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
