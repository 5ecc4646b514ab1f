"""Seeded input generation for the benchmark workloads.

Everything here is pyarrow + numpy driven by one ``numpy.random.Generator``,
so the same seed yields byte-identical inputs. The engine's own
``generate.generate_records`` is not used for inputs: it draws ``uuid()`` and
``current_timestamp()``, so its output differs on every run.

Doubles of the publish inputs are exact binary fractions (multiples of 1/4
or 1/64) inside [1e-3, 1e7): there the JVM's ``Double.toString`` and
Python's ``repr`` print the same digits, so ``expected_bodies`` can rebuild
the exact JSON text the engine's ``to_json`` emits without running the
engine.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from poc_parquet_publisher_spark.generate import records as gen_records

# Row-group size of the reference writer (cmd/create-test-data/main.go:60).
ROW_GROUP_ROWS = 10_000

_UTC = dt.timezone.utc
_EPOCH_US_2024 = int(dt.datetime(2024, 1, 1, tzinfo=_UTC).timestamp() * 1e6)
_DAY_US = 86_400 * 1_000_000
_EPOCH = dt.datetime(1970, 1, 1)


def _pick(rng: np.random.Generator, pool: list[str], n: int) -> list[str]:
    return [pool[i] for i in rng.integers(0, len(pool), n)]


def _arrow_type(spark_type) -> pa.DataType:
    """pyarrow type for the Spark types used by ``RECORD_SCHEMA``."""
    from pyspark.sql import types as T

    if isinstance(spark_type, T.StringType):
        return pa.string()
    if isinstance(spark_type, T.TimestampType):
        return pa.timestamp("us", tz="UTC")
    if isinstance(spark_type, T.DoubleType):
        return pa.float64()
    if isinstance(spark_type, T.BooleanType):
        return pa.bool_()
    if isinstance(spark_type, T.ArrayType):
        return pa.list_(_arrow_type(spark_type.elementType))
    if isinstance(spark_type, T.StructType):
        return pa.struct(
            [pa.field(f.name, _arrow_type(f.dataType)) for f in spark_type]
        )
    raise TypeError(f"no arrow mapping for {spark_type}")


def record_arrow_schema() -> pa.Schema:
    return pa.schema(
        [
            pa.field(f.name, _arrow_type(f.dataType))
            for f in gen_records.RECORD_SCHEMA
        ]
    )


def _bodies(rng: np.random.Generator, n: int) -> list[str]:
    charset = np.frombuffer(gen_records.BODY_CHARSET.encode(), dtype=np.uint8)
    length = gen_records.BODY_LENGTH
    codes = charset[rng.integers(0, len(charset), (n, length))]
    raw = codes.tobytes()
    return [raw[i * length:(i + 1) * length].decode() for i in range(n)]


def _uuid4(rng: np.random.Generator, n: int) -> list[str]:
    raw = rng.integers(0, 256, (n, 16), dtype=np.uint8)
    raw[:, 6] = (raw[:, 6] & 0x0F) | 0x40
    raw[:, 8] = (raw[:, 8] & 0x3F) | 0x80
    out = []
    for row in raw:
        h = row.tobytes().hex()
        out.append(f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:]}")
    return out


def _sampled(rng, pool: list[str], counts: np.ndarray) -> list[list[str]]:
    return [_pick(rng, pool, int(c)) for c in counts]


def records_table(rng: np.random.Generator, n: int) -> pa.Table:
    """``n`` Records shaped like the reference's generator output: value
    pools from ``generate.records``, a 1000-char body, the nested address
    struct and two string arrays."""
    g = gen_records
    first = _pick(rng, g.FIRST_NAMES, n)
    last = _pick(rng, g.LAST_NAMES, n)
    created = _EPOCH_US_2024 - rng.integers(0, 365 * _DAY_US, n)
    updated = created + rng.integers(0, 30 * _DAY_US, n)
    login = _EPOCH_US_2024 - rng.integers(0, 30 * _DAY_US, n)
    emails = [
        f"{a.lower()}.{b.lower()}@{d}"
        for a, b, d in zip(
            _pick(rng, g.FIRST_NAMES, n),
            _pick(rng, g.LAST_NAMES, n),
            _pick(rng, g.EMAIL_DOMAINS, n),
        )
    ]
    phones = [
        f"+1-{a:03d}-{b:03d}-{c:04d}"
        for a, b, c in zip(
            rng.integers(200, 1000, n),
            rng.integers(100, 1000, n),
            rng.integers(1000, 10000, n),
        )
    ]
    dobs = [
        f"{y:04d}-{m:02d}-{d:02d}"
        for y, m, d in zip(
            rng.integers(1950, 2000, n),
            rng.integers(1, 13, n),
            rng.integers(1, 29, n),
        )
    ]
    address = pa.StructArray.from_arrays(
        [
            pa.array(
                [
                    f"{k} {s}"
                    for k, s in zip(
                        rng.integers(0, 9999, n), _pick(rng, g.STREETS, n)
                    )
                ]
            ),
            pa.array(_pick(rng, g.CITIES, n)),
            pa.array(_pick(rng, g.STATES, n)),
            pa.array([f"{k:05d}" for k in rng.integers(0, 99999, n)]),
            pa.array(_pick(rng, g.COUNTRIES, n)),
        ],
        names=["street", "city", "state", "postal_code", "country"],
    )
    balance = rng.integers(0, 10_000, n) + rng.integers(1, 4, n) / 4.0
    columns = {
        "id": pa.array(_uuid4(rng, n)),
        "created_at": pa.array(created, pa.timestamp("us", tz="UTC")),
        "updated_at": pa.array(updated, pa.timestamp("us", tz="UTC")),
        "first_name": pa.array(first),
        "last_name": pa.array(last),
        "email": pa.array(emails),
        "phone_number": pa.array(phones),
        "date_of_birth": pa.array(dobs),
        "address": address,
        "account_type": pa.array(_pick(rng, g.ACCOUNT_TYPES, n)),
        "account_status": pa.array(_pick(rng, g.ACCOUNT_STATUSES, n)),
        "last_login_date": pa.array(login, pa.timestamp("us", tz="UTC")),
        "account_balance": pa.array(balance, pa.float64()),
        "language": pa.array(_pick(rng, g.LANGUAGES, n)),
        "communication_preferences": pa.array(
            _sampled(rng, g.COMM_PREFS, rng.integers(1, 5, n))
        ),
        "newsletter_subscribed": pa.array(rng.random(n) > 0.5),
        "tags": pa.array(
            _sampled(rng, g.TAGS, rng.integers(0, 4, n)), pa.list_(pa.string())
        ),
        "body": pa.array(_bodies(rng, n)),
    }
    return pa.Table.from_pydict(columns, schema=record_arrow_schema())


LINEITEM_SCHEMA = pa.schema(
    [
        ("l_orderkey", pa.int64()),
        ("l_partkey", pa.int64()),
        ("l_suppkey", pa.int64()),
        ("l_linenumber", pa.int32()),
        ("l_quantity", pa.float64()),
        ("l_extendedprice", pa.float64()),
        ("l_discount", pa.float64()),
        ("l_tax", pa.float64()),
        ("l_returnflag", pa.string()),
        ("l_linestatus", pa.string()),
        ("l_shipdate", pa.timestamp("us", tz="UTC")),
    ]
)


def lineitem_table(
    rng: np.random.Generator, n: int, first_key: int
) -> pa.Table:
    """Narrow lineitem-like rows (~190 B of JSON each). ``l_orderkey`` runs
    from ``first_key`` so it identifies a row across all files."""
    ship = (
        int(dt.datetime(1995, 1, 2, tzinfo=_UTC).timestamp() * 1e6)
        + rng.integers(0, 2500, n) * _DAY_US
    )
    return pa.Table.from_pydict(
        {
            "l_orderkey": np.arange(first_key, first_key + n, dtype=np.int64),
            "l_partkey": rng.integers(0, 200_000, n),
            "l_suppkey": rng.integers(0, 10_000, n),
            "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": rng.integers(3600, 420_000, n) / 4.0,
            "l_discount": rng.integers(0, 7, n) / 64.0,
            "l_tax": rng.integers(0, 6, n) / 64.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n),
            "l_linestatus": _pick(rng, ["F", "O"], n),
            "l_shipdate": pa.array(ship, pa.timestamp("us", tz="UTC")),
        },
        schema=LINEITEM_SCHEMA,
    )


def write_files(
    tables: list[pa.Table], out_dir: str, prefix: str
) -> list[str]:
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i, table in enumerate(tables):
        path = os.path.join(out_dir, f"{prefix}-{i:04d}.parquet")
        pq.write_table(table, path, row_group_size=ROW_GROUP_ROWS)
        paths.append(path)
    return paths


# --- expected message bodies -------------------------------------------


def _ts_json(us: int) -> str:
    """The engine's JSON timestamp text with session zone UTC:
    ``"yyyy-MM-dd'T'HH:mm:ss.SSSZ"``."""
    t = _EPOCH + dt.timedelta(microseconds=us)
    return f'"{t:%Y-%m-%dT%H:%M:%S}.{t.microsecond // 1000:03d}Z"'


def _fragments(values: list, typ: pa.DataType) -> list[str]:
    """JSON text of each value of one column (no nulls in our inputs)."""
    if pa.types.is_timestamp(typ):
        return [_ts_json(v) for v in values]
    if pa.types.is_struct(typ):
        fields = [typ.field(i) for i in range(typ.num_fields)]
        parts = [
            _keyed(f.name, [v[f.name] for v in values], f.type)
            for f in fields
        ]
        return ["{" + ",".join(row) + "}" for row in zip(*parts)]
    if pa.types.is_list(typ):
        return [
            "[" + ",".join(_fragments(v, typ.value_type)) + "]"
            for v in values
        ]
    if pa.types.is_boolean(typ):
        return ["true" if v else "false" for v in values]
    if pa.types.is_floating(typ):
        return [repr(float(v)) for v in values]
    if pa.types.is_integer(typ):
        return [str(int(v)) for v in values]
    return [json.dumps(v) for v in values]


def _keyed(name: str, values: list, typ: pa.DataType) -> list[str]:
    key = json.dumps(name) + ":"
    return [key + f for f in _fragments(values, typ)]


def expected_bodies(table: pa.Table) -> list[str]:
    """The JSON text ``to_json(struct(*cols))`` produces for each row."""
    parts = []
    for field in table.schema:
        col = table.column(field.name)
        if pa.types.is_timestamp(field.type):
            col = col.cast(pa.int64())
        parts.append(_keyed(field.name, col.to_pylist(), field.type))
    return ["{" + ",".join(row) + "}" for row in zip(*parts)]


# --- star schema for the declared queries ------------------------------

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
              "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "view", "signup", "purchase", "error"]
_WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "dup",
          "fast", "filter", "group", "hash", "join", "key", "line", "merge",
          "order", "part", "query", "row", "scan", "slow", "small", "sort",
          "spark", "stream", "table", "the", "value", "vector", "window"]


def _cents(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days_us(rng, start: dt.date, days: int, n: int) -> np.ndarray:
    base = dt.datetime(start.year, start.month, start.day, tzinfo=_UTC)
    return int(base.timestamp()) * 1_000_000 + rng.integers(0, days, n) * _DAY_US


def star_schema_tables(
    rng: np.random.Generator, n_orders: int
) -> dict[str, pa.Table]:
    """TPC-H-ish tables with the column names, types and value domains the
    declared queries filter on ('ASIA', '%widget%', 'BUILDING', order
    statuses F/O/P, JSON ``props`` with an integer ``k`` ...).
    Timestamps are naive (``timestamp[us]``) like the query fixtures."""
    n_cust = max(10, n_orders // 10)
    n_supp, n_part = 100, 2000
    n_line = n_orders * 4
    n_events, n_users, n_docs = n_orders * 2 // 3, 150, 500
    ts = pa.timestamp("us")
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()),
         "r_name": _REGIONS}
    )
    t["nation"] = pa.table(
        {"n_nationkey": pa.array(range(25), pa.int32()),
         "n_name": [f"NATION_{i}" for i in range(25)],
         "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32())}
    )
    t["customer"] = pa.table(
        {"c_custkey": np.arange(n_cust, dtype=np.int64),
         "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
         "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
         "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
         "c_mktsegment": _pick(rng, _SEGMENTS, n_cust)}
    )
    t["supplier"] = pa.table(
        {"s_suppkey": np.arange(n_supp, dtype=np.int64),
         "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
         "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
         "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp)}
    )
    t["part"] = pa.table(
        {"p_partkey": np.arange(n_part, dtype=np.int64),
         "p_name": [f"{a} {b}" for a, b in zip(
             _pick(rng, _PART_ADJ, n_part), _pick(rng, _PART_NOUN, n_part))],
         "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
         "p_type": _pick(rng, _PART_TYPES, n_part),
         "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
         "p_retailprice": 900.0 + rng.integers(0, 1000, n_part) / 10.0}
    )
    t["orders"] = pa.table(
        {"o_orderkey": np.arange(n_orders, dtype=np.int64),
         "o_custkey": rng.integers(0, n_cust, n_orders),
         "o_orderstatus": _pick(rng, ["F", "O", "P"], n_orders),
         "o_totalprice": _cents(rng, 1000.0, 500_000.0, n_orders),
         "o_orderdate": pa.array(
             _days_us(rng, dt.date(1995, 1, 1), 2404, n_orders), ts),
         "o_orderpriority": _pick(rng, _PRIORITIES, n_orders)}
    )
    t["lineitem"] = pa.table(
        {"l_orderkey": rng.integers(0, n_orders, n_line),
         "l_partkey": rng.integers(0, n_part, n_line),
         "l_suppkey": rng.integers(0, n_supp, n_line),
         "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
         "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
         "l_extendedprice": _cents(rng, 900.0, 105_000.0, n_line),
         "l_discount": rng.integers(0, 11, n_line) / 100.0,
         "l_tax": rng.integers(0, 9, n_line) / 100.0,
         "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
         "l_linestatus": _pick(rng, ["F", "O"], n_line),
         "l_shipdate": pa.array(
             _days_us(rng, dt.date(1995, 1, 2), 2499, n_line), ts)}
    )
    t["events"] = pa.table(
        {"event_id": np.arange(n_events, dtype=np.int64),
         "ts": pa.array(
             _EPOCH_US_2024 + rng.integers(0, 30 * _DAY_US, n_events), ts),
         "user_id": rng.integers(0, n_users, n_events),
         "event_type": _pick(rng, _EVENT_TYPES, n_events),
         "value": _cents(rng, 0.01, 490.0, n_events),
         "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]}
    )
    texts = [
        " ".join(_pick(rng, _WORDS, int(k)))
        for k in rng.integers(10, 100, n_docs)
    ]
    t["documents"] = pa.table(
        {"doc_id": np.arange(n_docs, dtype=np.int64),
         "text": texts,
         "lang": _pick(rng, ["de", "en", "es", "fr", "zh"], n_docs),
         "source": [f"src{k}" for k in rng.integers(0, 20, n_docs)],
         "n_chars": np.array([len(x) for x in texts], dtype=np.int64)}
    )
    return t


def write_star_schema(
    rng: np.random.Generator, out_dir: str, n_orders: int
) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in star_schema_tables(rng, n_orders).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
