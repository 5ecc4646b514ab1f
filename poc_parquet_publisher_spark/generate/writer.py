"""Size-bounded parquet writing (cmd/create-test-data/main.go:57-91, S8).

The reference writes 10k-row batches and stats the file after each flush,
stopping at >= 1 GB -- a write-then-check loop Spark cannot do mid-write.
The Spark-native equivalent measures bytes/row on a written sample, then
writes the computed row count in one distributed pass:

- flush granularity -> Parquet row-group size (``parquet.block.size``);
- the 1 GB bound -> ``rows_for_target_bytes`` + one ``write.parquet``;
- per-file size control -> ``maxRecordsPerFile`` so a 1000-executor run
  emits uniformly sized files instead of one giant one.

The sample is measured through pipeline/layout.py ``_list_data_files``,
the one listing of a Parquet tree (Hadoop FileSystem API, any scheme);
this module holds no listing or tree-rewrite code of its own.
"""

from __future__ import annotations

import math
import os
import shutil
import tempfile

from pyspark.sql import SparkSession

from ..pipeline.layout import _list_data_files
from .records import generate_records

DEFAULT_TARGET_BYTES = 1 << 30  # main.go:19,87
ROWS_PER_FLUSH = 10_000  # main.go:60


def rows_for_target_bytes(
    spark: SparkSession,
    target_bytes: int,
    sample_rows: int = ROWS_PER_FLUSH,
) -> int:
    """Estimate the row count whose parquet footprint is ~target_bytes.

    Writes a ``sample_rows`` parquet sample to scratch and measures
    bytes/row. The Record body is incompressible random text (~1 KB/row),
    so the estimate is stable -- the same ~10^6 rows/GB envelope the
    reference converges to by stat-polling.
    """
    tmp = tempfile.mkdtemp(prefix="sizer-")
    try:
        out = os.path.join(tmp, "sample.parquet")
        generate_records(spark, sample_rows).write.mode("overwrite").parquet(
            out
        )
        sample_bytes = sum(sz for _p, sz in _list_data_files(spark, out))
        bytes_per_row = sample_bytes / sample_rows
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return max(1, math.ceil(target_bytes / bytes_per_row))


def write_sized_parquet(
    spark: SparkSession,
    out_path: str,
    target_bytes: int = DEFAULT_TARGET_BYTES,
    rows_per_file: int | None = None,
    sample_rows: int = ROWS_PER_FLUSH,
) -> int:
    """Generate + write ~target_bytes of Records; returns rows written."""
    n = rows_for_target_bytes(spark, target_bytes, sample_rows=sample_rows)
    writer = generate_records(spark, n).write.mode("overwrite")
    if rows_per_file:
        writer = writer.option("maxRecordsPerFile", rows_per_file)
    writer.parquet(out_path)
    return n
