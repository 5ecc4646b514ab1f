"""Scale utilities: skew salting and bucketed (co-located) joins.

Neither exists in the reference -- its only parallelism tool is the
row-range shard planner (cmd/duckdb-record-processor/handler.go:75-95).
These are the two knobs a 1000-executor run needs that AQE alone does not
fully cover:

- **Salting**: AQE's skew-join handling splits oversized SORT-MERGE
  partitions, but a pathologically hot key inside one partition (the
  null-key or celebrity-user case) still lands on one task. Salting
  splits the hot key across ``n_salts`` tasks deterministically.
- **Bucketing**: pre-shuffling both fact tables into the same bucket
  layout makes every subsequent equi-join on the bucket key shuffle-free
  -- the amortize-one-shuffle-across-many-joins pattern for tables joined
  daily at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .pipeline.layout import _fs_for


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    n_salts: int = 16,
    how: str = "inner",
    seed: int = 7,
    salt_col: str | None = None,
) -> DataFrame:
    """Equi-join with the big side's hot keys spread over ``n_salts`` tasks.

    The big side gets a salt in [0, n_salts); the small side is
    replicated once per salt (an ``explode(sequence(...))`` -- cheap when
    the small side is dimension-sized). The join key becomes (on, salt),
    so one hot key hash-partitions into n_salts shuffle partitions
    instead of one. Result is row-identical to ``big.join(small, on,
    how)`` for inner/left joins (each big row matches exactly its own
    salt's replica).

    Salt assignment: by default ``rand(seed)``, which spreads a hot key
    uniformly but is partition-order-dependent (intermediate stats are
    not reproducible across repartitions). Pass ``salt_col`` -- a
    ROW-UNIQUE (or near-unique) column of ``big`` -- to derive the salt
    as ``pmod(hash(salt_col, seed), n_salts)`` instead: fully
    deterministic under any repartitioning, same spread. Do NOT pass the
    join key itself: hashing ``on`` maps each key to ONE salt, which
    un-spreads the hot key and defeats the salting.
    """
    if how not in ("inner", "left"):
        raise ValueError(
            "salting preserves semantics for inner/left joins only"
        )
    if salt_col is not None:
        if salt_col == on:
            raise ValueError(
                "salt_col must not be the join key: hash(on) sends every "
                "row of a hot key to the same salt, defeating the spread"
            )
        salt_expr = F.pmod(F.hash(F.col(salt_col), F.lit(seed)), F.lit(n_salts))
    else:
        salt_expr = (F.rand(seed) * n_salts).cast("int")
    salted_big = big.withColumn("__salt", salt_expr)
    salted_small = small.withColumn(
        "__salt",
        F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))),
    )
    out = salted_big.join(salted_small, [on, "__salt"], how)
    return out.drop("__salt")


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 32,
    sort: bool = True,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` bucketed (and sorted) by the join key.

    Two tables written with the SAME (bucket_col domain, n_buckets) join
    with zero Exchange: each task merge-joins bucket i of both sides.
    Bucketed layout only survives through the catalog (saveAsTable), not
    bare write.parquet -- parquet files alone carry no bucket metadata.
    """
    spark = df.sparkSession
    if mode == "overwrite":
        # A managed-table LOCATION can outlive the (in-memory) catalog
        # entry across sessions; saveAsTable then fails with
        # LOCATION_ALREADY_EXISTS even though the table is "new" to
        # this catalog. Drop both the entry and any stale directory.
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        warehouse = spark.conf.get("spark.sql.warehouse.dir")
        fs, p = _fs_for(spark, f"{warehouse.rstrip('/')}/{table.lower()}")
        if fs.exists(p):
            fs.delete(p, True)
    # One file per bucket: without the repartition, EVERY writer task
    # emits a file for every bucket it sees -- a 32-partition input
    # yields up to 32 x n_buckets tiny files, and every later scan of
    # the table pays n_input_partitions file-opens per bucket (measured
    # 640 x ~20 KB files for a 13 MB edge table; PageRank's three
    # iteration scans each lost ~1 s/task to file opens). The exchange
    # this adds is keyed identically to the bucket spec, so the write
    # itself is what a bucketed shuffle would do anyway (guide section 6
    # small-files; section 2.4 shared partitioning).
    writer = df.repartition(n_buckets, bucket_col).write.bucketBy(
        n_buckets, bucket_col
    )
    if sort:
        writer = writer.sortBy(bucket_col)
    writer.mode(mode).format("parquet").saveAsTable(table)


def bucketed_join(
    spark: SparkSession, left_table: str, right_table: str, on: str,
    how: str = "inner",
) -> DataFrame:
    """Join two same-bucketed catalog tables (shuffle-free by layout)."""
    return spark.table(left_table).join(spark.table(right_table), on, how)


def heavy_hitters(
    df, col: str, n: int = 20
):
    """Exact top-n heaviest keys of a column with counts and frequency
    share -- the skew diagnostic that decides whether a join needs
    ``salted_join`` or AQE skew handling (a key holding >> 1/tasks of
    the rows serializes its partition).

    Output: (key, cnt, share) ordered heaviest-first. One hash-groupBy
    (map-side combine shrinks it to one row per distinct key per
    partition) + a TakeOrdered of n rows + a broadcast 1-row total --
    never a full sort, safe at any cardinality.
    """
    from pyspark.sql import functions as F

    counts = df.groupBy(F.col(col).alias("key")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    total = counts.agg(F.sum("cnt").cast("double").alias("__total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "key",
            "cnt",
            F.round(F.col("cnt") / F.col("__total"), 4).alias("share"),
        )
        .orderBy(F.col("cnt").desc(), F.col("key"))
        .limit(n)
    )


def prefix_sum(
    df: DataFrame,
    order_col,
    value_col: str,
    out_col: str = "running_sum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Distributed running sum of ``value_col`` ORDER BY ``order_col``:
    the two-pass partition prefix-sum that replaces a global
    ``Window.orderBy(...)`` -- which Spark plans as ``Exchange
    SinglePartition`` + one task scanning EVERY row, the classic
    scale-killer on an unbounded key.

    Two passes over a pinned range partitioning:

    1. ``repartitionByRange(order_col)`` + ``sortWithinPartitions``
       gives a TOTAL order split across tasks (every key in partition
       i precedes every key in partition i+1), then ``localCheckpoint``
       pins the partition assignment so both passes see identical
       splits (range sampling is not re-run).
    2. Pass 1: per-partition totals -- one tiny job collecting
       ``num_partitions`` rows to the driver (bounded by cluster
       parallelism, never by data size), folded into EXCLUSIVE
       cumulative offsets.
    3. Pass 2: each task adds its broadcast offset to a
       partition-LOCAL cumulative sum via ``mapInPandas`` -- ZERO
       additional shuffle (the data is already range-partitioned and
       sorted; a ``Window.partitionBy(pid)`` would re-shuffle), and
       the cumsum is one vectorized Arrow-batch call.

    Nulls in ``value_col`` contribute 0 and the running total starts
    at 0, so an all-null prefix yields 0 where SQL's ``SUM() OVER``
    yields NULL -- i.e. this computes ``COALESCE(SUM(v) OVER (...),
    0)``. The sum is computed in int64 -- callers needing float prefix
    sums should scale to integers first (the x37/x46 DECIMAL recipe).

    ``order_col`` may be a column name, a sort expression (e.g.
    ``F.col("score").desc()``), or a list of either -- whatever total
    order the running sum should follow; make it a TOTAL order (add a
    unique tiebreak column) or the within-tie order is partition-
    dependent.
    """
    import pandas as pd  # noqa: F401  (mapInPandas ships pandas frames)

    spark = df.sparkSession
    order = order_col if isinstance(order_col, list) else [order_col]
    n = num_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions", "32")
    )
    part = (
        df.repartitionByRange(n, *order)
        .sortWithinPartitions(*order)
        .localCheckpoint()
    )
    val_type = part.schema[value_col].dataType.simpleString()
    val_expr = F.col(value_col)
    if val_type in ("float", "double"):
        # NaN propagates through SUM (and the Arrow cast maps it to
        # INT64_MIN): treat it as 0, matching fillna(0) semantics.
        val_expr = F.nanvl(val_expr, F.lit(0.0))
    totals = {
        r["pid"]: r["t"] or 0
        for r in part.groupBy(
            F.spark_partition_id().alias("pid")
        ).agg(F.sum(val_expr).alias("t")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(totals):
        offsets[pid] = acc
        acc += totals[pid]

    out_fields = part.schema.fields
    schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in out_fields]
        + [f"{out_col} bigint"]
    )

    def cumsum_with_offset(batches):
        # mapInArrow, not mapInPandas: every non-value column passes
        # through as its original Arrow buffer (zero copy), where the
        # pandas path materialized Python objects per row -- DATE/
        # TIMESTAMP passthrough columns cost ~10 us/row each way as
        # datetime objects (measured 24 s of task CPU for a 1.2M-row
        # rank whose tiebreak columns were dates). Only the int64
        # cumsum itself is computed, via pyarrow.compute.
        import pyarrow as pa
        import pyarrow.compute as pc
        from pyspark import TaskContext

        running = offsets.get(TaskContext.get().partitionId(), 0)
        cast_opts = pc.CastOptions(
            target_type=pa.int64(), allow_float_truncate=True
        )
        for b in batches:
            if len(b) == 0:
                continue
            col = b.column(value_col)
            if pa.types.is_floating(col.type):
                # NaN is not null: casting it with allow_float_truncate
                # yields INT64_MIN silently, corrupting every subsequent
                # running sum. Zero NaNs first (matching the old pandas
                # fillna(0) semantics).
                col = pc.if_else(pc.is_nan(col), pa.scalar(0.0, col.type), col)
            vals = pc.fill_null(
                pc.cast(col, options=cast_opts), 0
            )
            cum = pc.add(
                pc.cumulative_sum(vals), pa.scalar(running, pa.int64())
            )
            running = cum[len(cum) - 1].as_py()
            yield pa.RecordBatch.from_arrays(
                list(b.columns) + [cum],
                names=list(b.schema.names) + [out_col],
            )

    return part.mapInArrow(cumsum_with_offset, schema=schema)


def global_row_number(
    df: DataFrame,
    order_col,
    out_col: str = "rn",
    num_partitions: int | None = None,
) -> DataFrame:
    """Global 1-based ``ROW_NUMBER() OVER (ORDER BY ...)`` without a
    global sort: ``Window.orderBy`` ranking plans as ``Exchange
    SinglePartition`` and funnels EVERY row through one task -- the
    most common accidental scale-killer in ranking/report queries.
    This is ``prefix_sum`` of the constant 1 over the same pinned
    range partitioning: per-partition row counts collect to the driver
    (partition-count rows), fold into exclusive offsets, and each task
    numbers its own rows locally. Same contract: ``order_col`` must be
    a TOTAL order (add a unique tiebreak) for a deterministic result.
    """
    tmp = "__grn_one"
    if tmp in df.columns or out_col in df.columns:
        raise ValueError(
            f"global_row_number writes columns '{tmp}'/'{out_col}'; "
            "rename conflicting input columns first"
        )
    return prefix_sum(
        df.withColumn(tmp, F.lit(1)),
        order_col,
        tmp,
        out_col,
        num_partitions,
    ).drop(tmp)


def zorder_key(cols: list[str], bits: int = 8) -> F.Column:
    """Morton (Z-order) interleaved key over non-negative integer
    columns, each truncated to ``bits`` bits -- the multi-dimensional
    clustering key behind Delta/Iceberg OPTIMIZE ZORDER BY.

    Sorting (repartitionByRange + sortWithinPartitions) on this key
    gives every output file a TIGHT min/max envelope on EVERY input
    column simultaneously, so parquet row-group stats prune scans that
    filter on any subset of the dimensions -- a single-column sort only
    prunes its leading column. Pure bitwise expression (shift/and/or),
    JVM-side, codegen; callers bucket raw values first (modulo or
    quantile rank) so inputs fit ``bits``.
    """
    n = len(cols)
    key = F.lit(0).cast("long")
    for b in range(bits):
        for j, c in enumerate(cols):
            bit = F.shiftright(F.col(c).cast("long"), b).bitwiseAND(
                F.lit(1)
            )
            key = key.bitwiseOR(
                F.shiftleft(bit, b * n + j)
            )
    return key


def zorder_key_sql(cols: list[str], bits: int = 8) -> str:
    """The same Morton key as a SQL expression (DuckDB / ANSI bitwise
    operators) for oracle mirroring."""
    n = len(cols)
    parts = []
    for b in range(bits):
        for j, c in enumerate(cols):
            parts.append(
                f"((({c} >> {b}) & 1) << {b * n + j})"
            )
    return "(" + " | ".join(parts) + ")"
