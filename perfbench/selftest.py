"""Self-test of the benchmark's correctness checks.

    python3 perfbench/selftest.py

At tiny size, every workload's check must pass on correct output and fail
on deliberately corrupted output: the sink drops one message, a batch is
delivered twice, one query row is wrong, compaction loses a file. Exits
non-zero when any check misses its corruption.
"""

from __future__ import annotations

import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _tiny(cls, **attrs):
    return type(f"Tiny{cls.__name__}", (cls,), attrs)


def _publish_cases(spark, work: str, tracer) -> list[tuple[str, bool]]:
    from perfbench import inputs, sink
    from perfbench.publish import StreamDrains, WideRequests

    wide = _tiny(
        WideRequests, n_files=2, rows_per_file=60,
        _request=lambda self: [0, 1],
    )
    stream = _tiny(
        StreamDrains, n_files=2, rows_per_file=60, files_per_trigger=1
    )
    results = []
    for cls in (wide, stream):
        for fault in (None, "drop_one", "dup_batch"):
            wl = cls(7, 1, os.path.join(work, f"{cls.__name__}-{fault}"),
                     tracer, False)
            wl.prepare()
            if cls is stream:
                wl.schema = spark.read.parquet(wl.src).schema
            wl.bind(spark)
            spec = None
            if fault:
                first = inputs.expected_bodies(wl.source.slice(0, 1))[0]
                key = f"perfbench-{wl.seed}".encode()
                spec = {"mode": fault, "target": sink.body_hash(first, key)}
            wl.step(False, spec)
            results.append(
                (f"{cls.__name__} {fault or 'clean'}", not wl.check())
            )
    return results


def _lake_cases(spark, work: str, tracer) -> list[tuple[str, bool]]:
    from pyspark.sql import functions as F

    from perfbench import lake

    wl = lake.Lake(7, os.path.join(work, "lake"), tracer, False)
    wl.prepare()
    wl.spark = spark
    harness = lake._oracle_harness()
    con = harness.duckdb_connection(wl.sf_dir)
    results = []
    try:
        wl.check_query(harness, con, "q01_count")
        results.append(("lake query clean", not wl.errors))
        wl.check_query(
            harness, con, "q01_count",
            corrupt=lambda df: df.select((F.col("n") + 1).alias("n")),
        )
        results.append(("lake query row wrong", not wl.errors))
    finally:
        con.close()
    wl.errors.clear()
    wl._write_cycle(timed=True)
    results.append(("lake write clean", not wl.check()))
    os.remove(lake._data_files(wl.writes[-1]["path"])[0])
    results.append(("lake compaction lost a file", not wl.check()))
    return results


def main() -> int:
    sys.path.insert(0, ROOT)
    from poc_parquet_publisher_spark import session

    from perfbench import procs
    from perfbench.run import _isolate, _nproc
    from perfbench.trace import Tracer

    procs.adopt_orphans()
    work = os.path.join(ROOT, ".perfbench-work", f"selftest-{os.getpid()}")
    conf = _isolate(work)
    try:
        spark = session.build_session(
            master=f"local[{_nproc()}]", extra_conf=conf
        )
        try:
            tracer = Tracer()
            results = _publish_cases(spark, work, tracer)
            results += _lake_cases(spark, work, tracer)
        finally:
            spark.stop()
    finally:
        procs.stop_all()
        shutil.rmtree(work, ignore_errors=True)
    ok = True
    for name, passed in results:
        want = name.endswith("clean")
        good = passed == want
        ok &= good
        print(f"{'ok  ' if good else 'FAIL'} {name}: check "
              f"{'passed' if passed else 'failed'}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
