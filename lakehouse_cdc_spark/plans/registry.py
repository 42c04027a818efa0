"""Query registry plumbing.

A query = a Spark DataFrame program ``fn(spark, sf_dir) -> DataFrame``
plus (when SQL-expressible) an ANSI-SQL oracle string DuckDB runs on
the same parquet tables.  Column names are aliased identically on both
sides — the driver's comparator sorts columns by name before hashing.

Determinism contract for oracle-checked queries:
- double aggregates go through ``DECIMAL(18,4)`` partials (exact
  arithmetic, identical rounding in both engines) and are emitted as
  DOUBLE — bit-identical across engines;
- timestamps are emitted as formatted strings or epoch integers, never
  raw timestamp values (time-zone-representation differences);
- every ranking has a total order (explicit tie-breaker columns).
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DataType,
    LongType,
    MapType,
    StructField,
    StructType,
    TimestampType,
)


@dataclass
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None = None  # DuckDB SQL; None → driver does rows-only check
    doc: str = ""
    bench: bool = False  # include in bench.py headline set
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str | None = None,
    bench: bool = False,
    tags: tuple[str, ...] = (),
):
    """Decorator: add ``fn(spark, sf_dir) -> DataFrame`` to REGISTRY.
    A name can be registered once: a second registration would
    silently replace the first query (whichever module imports last
    wins), so it raises ``ValueError`` instead."""
    if name in REGISTRY:
        raise ValueError(f"query {name!r} is already registered")

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        REGISTRY[name] = QuerySpec(
            name=name,
            fn=fn,
            oracle=oracle,
            doc=(fn.__doc__ or "").strip(),
            bench=bench,
            tags=tags,
        )
        return fn

    return deco


#: footer key under which Spark's parquet writer stores the row schema
#: as JSON; ``ParquetFileFormat.readSchemaFromFooter`` reads it first
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def footer_schema(path: str) -> StructType:
    """The schema Spark's parquet reader would infer for ``path``,
    taken from ONE parquet footer read on the driver with pyarrow — no
    Spark job.

    ``path`` is a file, or a directory whose first non-hidden file in
    sorted order is read (Spark, without ``mergeSchema``, also trusts a
    single part file).  A Spark-written footer carries its row schema
    as JSON, used verbatim.  Otherwise the arrow schema is mapped the
    way Spark's parquet converter maps it: INT96 → ``timestamp``
    (pyarrow reports it as ``timestamp[ns]``), a ``ns`` timestamp →
    ``bigint`` (the engine reads them with ``nanosAsLong``, see
    ``table``), any other timestamp → ``timestamp_ntz`` without a time
    zone and ``timestamp`` with one, the rest as ``from_arrow_type``.
    Like Spark's file sources, every field comes back nullable.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_type

    if os.path.isdir(path):
        with os.scandir(path) as entries:
            path = min(
                e.path
                for e in entries
                if e.is_file() and not e.name.startswith(("_", "."))
            )
    meta = pq.read_metadata(path)
    spark_json = (meta.metadata or {}).get(_SPARK_ROW_METADATA)
    if spark_json is not None:
        return _nullable(StructType.fromJson(json.loads(spark_json)))
    columns = [meta.schema.column(i) for i in range(meta.num_columns)]
    int96 = {c.path for c in columns if c.physical_type == "INT96"}

    def spark_type(f) -> DataType:
        if f.name in int96:
            return TimestampType()
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns":
            return LongType()
        return from_arrow_type(f.type, prefer_timestamp_ntz=True)

    arrow = meta.schema.to_arrow_schema()
    return _nullable(StructType([StructField(f.name, spark_type(f)) for f in arrow]))


def _nullable(dt: DataType) -> DataType:
    """Spark's ``DataType.asNullable``: file sources read every field,
    array element and map value as nullable."""
    if isinstance(dt, StructType):
        return StructType(
            [StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in dt]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one testdata parquet table (column pruning + predicate
    pushdown reach the scan because this stays a plain v1 parquet
    relation — verify with ``.explain``'s PushedFilters/ReadSchema).

    The schema comes from ``footer_schema``, so building the scan runs
    no schema-inference Spark job; the files are still scanned by
    every query that runs.

    ``events.ts`` has two on-disk encodings.  The test data stores
    TIMESTAMP(MICROS, isAdjustedToUTC=false), which reads as
    ``timestamp_ntz``; it is cast to the session-TZ (UTC) timestamp
    every query expects, so casts to long / ``unix_micros`` keep
    working.  The benchmark's generated inputs store
    TIMESTAMP(NANOS), which Spark's reader rejects unless
    ``nanosAsLong`` reads it as a long; the timestamp is then rebuilt
    at microsecond precision — the same ns→µs truncation DuckDB
    applies, so oracle comparisons line up exactly.

    ``nanosAsLong`` is a DELIBERATE session-wide default of this
    engine (also set in ``session.get_spark``): the conf is consulted
    lazily at scan execution, so a set-read-restore scope here would
    race with deferred actions on the returned DataFrame.  The runtime
    ``conf.set`` below makes the contract hold even on foreign
    sessions (e.g. the driver's vanilla harness session).
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.schema(footer_schema(path)).parquet(path)
    if name != "events":
        return df
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    dt = dict(df.dtypes).get("ts")
    if dt == "bigint":
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    if dt == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def fixed_point(col: Column, scale: int = 4) -> Column:
    """Quantize a double expression to 10^-scale units as BIGINT.

    ``floor(x * 10^scale + 0.5)`` uses only IEEE-754 double ops —
    bit-identical in Spark and DuckDB.  (Casting double→decimal is NOT
    portable: Spark rounds the shortest string representation,
    DuckDB the true binary value, and they disagree a few times per
    100k rows.)
    """
    return F.floor(col * F.lit(float(10**scale)) + F.lit(0.5)).cast("bigint")


def dsum(col: Column, alias: str, scale: int = 4) -> Column:
    """Cross-engine-deterministic SUM of a double expression: exact
    order-independent bigint sum of fixed-point units, rescaled."""
    return (
        F.sum(fixed_point(col, scale)).cast("double") / F.lit(float(10**scale))
    ).alias(alias)


def davg(col: Column, alias: str, scale: int = 4) -> Column:
    """Deterministic AVG: fixed-point sum / count, divided as doubles."""
    return (
        F.sum(fixed_point(col, scale)).cast("double")
        / F.lit(float(10**scale))
        / F.count(F.lit(1)).cast("double")
    ).alias(alias)


# the matching oracle-side SQL fragments (DuckDB)
def sql_fixed_point(expr: str, scale: int = 4) -> str:
    return f"CAST(floor(({expr}) * {float(10 ** scale)} + 0.5) AS BIGINT)"


def sql_dsum(expr: str, alias: str, scale: int = 4) -> str:
    return (
        f"CAST(SUM({sql_fixed_point(expr, scale)}) AS DOUBLE)"
        f" / {float(10 ** scale)} AS {alias}"
    )


def sql_davg(expr: str, alias: str, scale: int = 4) -> str:
    return (
        f"CAST(SUM({sql_fixed_point(expr, scale)}) AS DOUBLE)"
        f" / {float(10 ** scale)} / CAST(COUNT(*) AS DOUBLE) AS {alias}"
    )
