"""Data layout management for parquet at scale: partitioned writes,
small-file compaction, and the one place Parquet trees are listed,
measured and rewritten.

The reference's only layout control is a size-bounded single file
(cmd/create-test-data/main.go:57-91: flush every 10k rows, stop at
1 GB). At 100 TB a single unpartitioned directory is unusable -- every
query scans everything -- so this module provides the two layout
operations a production lake needs:

- ``write_partitioned``: hive-style ``partitionBy`` directories (e.g.
  ``event_date=2024-01-05/``) so Catalyst prunes whole partitions at
  planning time (visible as ``PartitionFilters`` in the scan node),
  plus in-file ordering via ``sortWithinPartitions`` so parquet
  row-group min/max stats prune within files. One ``repartition`` on
  the partition columns keeps each output directory written by as few
  tasks as possible -- without it, every one of the N shuffle tasks can
  emit a file into every one of the P directories (N*P small files,
  the classic lake pathology).
- ``compact``: rewrite a directory tree to a bounded file count per
  partition, the standard maintenance pass after streaming/incremental
  ingestion leaves thousands of KB-sized files behind.

Listing and sizing live only here: ``_list_data_files`` is the one
listing of a tree (the generator's size probe, index compaction and
the JSONL exporter all call it), ``_rewrite_tree`` is the one
measure-then-rewrite core (``compact`` and ops/incremental.py's index
compaction), and ``_write_tree`` is the one write step. Row-group
sizing (the reference's flush interval) maps to ``parquet.block.size``;
per-file row bounds to ``maxRecordsPerFile``.
"""

from __future__ import annotations

import math
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .publish import serialize_json


def _fs_for(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` via the Hadoop FileSystem API, so
    every layout operation works on any supported scheme (file:, hdfs:,
    s3a:) -- never os.walk/os.rename, which silently scope the 100 TB
    claims to a local disk."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath


def _list_data_files(
    spark: SparkSession, path: str, suffix: str = ".parquet"
) -> list[tuple[str, int]]:
    """Recursive (path, bytes) of the data files under a tree: every
    non-hidden file ending in ``suffix`` (``""`` matches any name)."""
    fs, jpath = _fs_for(spark, path)
    if not fs.exists(jpath):
        return []
    out: list[tuple[str, int]] = []
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        status = it.next()
        name = status.getPath().getName()
        if name.endswith(suffix) and not name.startswith(("_", ".")):
            out.append((status.getPath().toString(), status.getLen()))
    return out


def staged_swap(spark: SparkSession, path: str, write_to) -> None:
    """Rewrite ``path`` durably: ``write_to(staging_path)`` produces the
    new tree in a sibling staging directory, then two renames swap it in
    (atomic-enough on HDFS/local; object stores copy+delete -- pause
    readers or rewrite into a new table path there). Stale staging /
    backup debris from a crashed run is cleared first, so the swap is
    re-runnable; a failed final rename rolls the original back."""
    fs, _ = _fs_for(spark, path)
    jpath = spark._jvm.org.apache.hadoop.fs.Path
    staging = path.rstrip("/") + "._compact_tmp"
    backup = path.rstrip("/") + "._compact_old"
    for stale in (staging, backup):
        if fs.exists(jpath(stale)):
            fs.delete(jpath(stale), True)
    write_to(staging)
    if not fs.rename(jpath(path), jpath(backup)):
        raise IOError(f"staged_swap: failed to move {path} aside")
    if not fs.rename(jpath(staging), jpath(path)):
        fs.rename(jpath(backup), jpath(path))  # roll back
        raise IOError(f"staged_swap: failed to swap staging into {path}")
    fs.delete(jpath(backup), True)


def _write_tree(
    df: DataFrame,
    path: str,
    partition_cols: list[str] | None = None,
    sort_cols: list[str] | None = None,
    max_records_per_file: int | None = None,
    n_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """The one parquet write step: repartition (on the partition key, or
    into ``n_files`` tasks), sort within tasks, optional ``partitionBy``
    and ``maxRecordsPerFile``."""
    partition_cols = partition_cols or []
    if partition_cols:
        out = df.repartition(*[F.col(c) for c in partition_cols])
    else:
        out = df.repartition(n_files)
    if sort_cols:
        out = out.sortWithinPartitions(*partition_cols, *sort_cols)
    writer = out.write.mode(mode)
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.parquet(path)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    sort_cols: list[str] | None = None,
    max_records_per_file: int | None = 1_000_000,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as a hive-partitioned parquet tree.

    Shuffles once on the partition columns so each output directory is
    produced by the tasks that own that key range (bounded file count),
    then sorts within tasks so row groups carry tight min/max stats on
    ``sort_cols`` -- the two cheap layout decisions that make every
    later scan prune both partitions and row groups.

    ``max_records_per_file`` bounds any one file (the reference's 1 GB
    stop condition, expressed in rows); AQE may still coalesce tiny
    partitions into fewer tasks.
    """
    if not partition_cols:
        raise ValueError("partition_cols must be non-empty")
    _write_tree(
        df, path, partition_cols, sort_cols, max_records_per_file, mode=mode
    )


def data_files(path: str, spark: SparkSession | None = None) -> list[str]:
    """All parquet data files under a (possibly partitioned) tree, listed
    through the Hadoop FileSystem of the path's scheme."""
    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError("data_files needs an active SparkSession")
    return [p for p, _sz in _list_data_files(spark, path)]


def _rewrite_tree(
    spark: SparkSession,
    path: str,
    target_file_bytes: int,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    partition_cols: list[str] | None = None,
    sort_cols: list[str] | None = None,
) -> dict:
    """List -> read -> optional ``transform`` -> count -> size -> write
    -> swap: the one measure-then-rewrite core.

    On-disk bytes and the row count are observed, not guessed (the
    bytes-per-row trick behind the reference's 1 GB stop condition), and
    set both the task count, never above the input file count, and
    ``maxRecordsPerFile``. The count and the write each run the read
    plan, so a costly ``transform`` pins its own result
    (localCheckpoint) to run once.

    Returns {files_before, files_after, bytes, rows}.
    """
    files = _list_data_files(spark, path)
    if not files:
        raise ValueError(f"no parquet data files under {path}")
    total_bytes = sum(sz for _p, sz in files)
    df = spark.read.parquet(path)
    if transform is not None:
        df = transform(df)
    n_rows = df.count()
    bytes_per_row = max(1.0, total_bytes / max(1, n_rows))
    n_out = max(
        1, min(len(files), math.ceil(total_bytes / target_file_bytes))
    )
    max_records = max(1, int(target_file_bytes / bytes_per_row))
    staged_swap(
        spark,
        path,
        lambda staging: _write_tree(
            df, staging, partition_cols, sort_cols, max_records, n_out
        ),
    )
    return {
        "files_before": len(files),
        "files_after": len(_list_data_files(spark, path)),
        "bytes": total_bytes,
        "rows": n_rows,
    }


def compact(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 512 * 1024 * 1024,
    partition_cols: list[str] | None = None,
    sort_cols: list[str] | None = None,
) -> dict:
    """Rewrite a parquet tree into ~``target_file_bytes`` files.

    Reads the tree, measures on-disk bytes and row count, and rewrites:

    - unpartitioned: ``repartition(ceil(bytes / target))``, capped at
      the input file count;
    - partitioned: one shuffle on the partition key keeps the hive
      layout, and ``maxRecordsPerFile`` (derived from observed
      bytes/row) bounds file size WITHIN each directory too.

    All listing/rename/delete goes through the Hadoop FileSystem API,
    so the same code compacts file:, hdfs:, or s3a: trees. The rewrite
    lands in a staging directory and swaps in via two renames --
    atomic-enough on HDFS/local (directory rename), but object stores
    implement rename as copy+delete and concurrent readers can see the
    table vanish for the duration of the swap: pause readers or
    compact into a new table path there. Stale ``._compact_tmp`` /
    ``._compact_old`` debris from a crashed run is cleared first, so
    compaction is re-runnable.

    Returns {files_before, files_after, bytes, rows}.
    """
    return _rewrite_tree(
        spark,
        path,
        target_file_bytes,
        partition_cols=partition_cols,
        sort_cols=sort_cols,
    )


def export_jsonl(
    df: DataFrame,
    path: str,
    max_records_per_file: int | None = None,
    compression: str | None = None,
) -> int:
    """Export a corpus as JSON-Lines shards -- the interchange format
    every tokenizer/training loader ingests. One row per line via
    pipeline/publish.py ``serialize_json`` (the publish leg's
    serialization), written with Spark's text sink so shard count ==
    task count and ``maxRecordsPerFile`` bounds shard size -- the
    100 TB posture: no driver-side iteration, no collect, shards land
    in parallel on any Hadoop scheme (file:, hdfs:, s3a:).

    Returns the number of shard files written. ``compression`` accepts
    the text-sink codecs ('gzip', 'snappy', ...) for wire-friendly
    shards.
    """
    writer = serialize_json(df).write.mode("overwrite")
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    if compression:
        writer = writer.option("compression", compression)
    writer.text(path)
    return len(_list_data_files(df.sparkSession, path, suffix=""))
