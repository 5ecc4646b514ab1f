"""Table loading over the parquet fixtures.

The reference treats "table = one parquet file" and interpolates file paths
into SQL text (cmd/duckdb-record-processor/worker.go:14, handler.go:65 -- an
injection-prone pattern). Here paths go to ``spark.read.parquet`` and tables
register as temp views, so Spark SQL and the DataFrame API share one catalog.

Nanosecond-timestamp normalization: with
``spark.sql.legacy.parquet.nanosAsLong=true`` (see session.py), Parquet
TIMESTAMP(NANOS) columns (e.g. ``events.ts``) surface as raw nanosecond
longs. ``load_table`` converts them to TIMESTAMP_NTZ at microsecond
precision -- exactly what DuckDB yields when it reads the same column -- so
every downstream query sees one uniform timestamp type.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .session import _REQUIRED_RUNTIME_CONFS

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Columns known to be physical TIMESTAMP(NANOS) in the driver fixtures.
# Used when footer inspection isn't possible (e.g. object-store paths).
_KNOWN_NANOS_COLUMNS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def _nanos_columns(path: str) -> set[str] | None:
    """Detect timestamp[ns] columns from the parquet footer (local paths).

    Returns None when the footer can't be inspected locally; callers then
    fall back to the static map above.
    """
    try:
        import pyarrow.parquet as pq

        if os.path.isdir(path):
            candidates = sorted(glob.glob(os.path.join(path, "*.parquet")))
            if not candidates:
                return None
            path = candidates[0]
        elif not os.path.isfile(path):
            return None
        schema = pq.read_schema(path)
        return {
            field.name
            for field in schema
            if str(field.type) == "timestamp[ns]"
        }
    except Exception:
        return None


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def ensure_session_confs(spark: SparkSession) -> None:
    """Apply the runtime-settable SQL confs the engine depends on
    (session._REQUIRED_RUNTIME_CONFS). The harness driver hands us *its*
    SparkSession (entry/queries contract), which may not have been built
    by session.build_session -- without nanosAsLong every events-table
    read dies with PARQUET_TYPE_ILLEGAL, and without a pinned UTC zone
    the nanos->NTZ conversion below would shift by the session zone
    offset."""
    for key, value in _REQUIRED_RUNTIME_CONFS.items():
        if spark.conf.get(key, None) != value:
            spark.conf.set(key, value)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table, normalizing nanos-long timestamp columns."""
    ensure_session_confs(spark)
    path = table_path(sf_dir, name)
    df = spark.read.parquet(path)
    nanos = _nanos_columns(path)
    if nanos is None:
        nanos = set(_KNOWN_NANOS_COLUMNS.get(name, ()))
    for col in nanos:
        field = df.schema[col]
        if isinstance(field.dataType, T.LongType):
            # Integral `div` keeps full long precision (a double round-trip
            # would corrupt epoch-nanos > 2^53); truncating nanos -> micros
            # matches DuckDB's read of the same column.
            df = df.withColumn(
                col,
                F.timestamp_micros(F.expr(f"`{col}` div 1000")).cast(
                    "timestamp_ntz"
                ),
            )
    return df


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every fixture table present in ``sf_dir`` as a temp view."""
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        if os.path.exists(table_path(sf_dir, name)) or sf_dir.startswith(
            ("s3a://", "s3://")
        ):
            df = load_table(spark, sf_dir, name)
            df.createOrReplaceTempView(name)
            out[name] = df
    return out
