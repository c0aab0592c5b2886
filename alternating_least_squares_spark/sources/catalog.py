"""Sources & sinks.

The reference's IO surface is CSV only (`data.clj:5-15` — ``open-csv``
eager read, ``save-csv`` write). We re-expose that (B1/B2 in
SURVEY.md §2) plus parquet (the driver testdata format) and JSON, all
with explicit schemas so scans prune columns and push filters.

At 100 TB the scan is the whole game: always select the needed columns
before any transform (column pruning reaches the parquet footer), and
filter as early as possible (predicate pushdown; check with
``df.explain`` → ``PushedFilters``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Pinned schemas for the driver testdata (FIXTURES.md §B). Explicit
# schemas mean zero inference jobs and stable oracle comparisons.
TABLES: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    # events.parquet has shipped with two physical layouts for ``ts``:
    # INT64 TIMESTAMP(NANOS) — which the Spark parquet reader rejects
    # outright ([PARQUET_TYPE_ILLEGAL]) unless read with nanosAsLong —
    # and INT64 TIMESTAMP(MICROS, isAdjustedToUTC=false), which arrives
    # as TIMESTAMP_NTZ. ``load_table`` detects the layout from the file
    # footer and normalizes both to this POST-conversion contract:
    # ``ts`` a proper TimestampType (microsecond precision) and
    # ``ts_ns`` the epoch-nanos long for timezone-independent
    # arithmetic (oracle parity: DuckDB's epoch_ns(ts) yields the same
    # value for either layout).
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("ts_ns", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}


def normalize_events(raw: DataFrame) -> DataFrame:
    """Map either physical layout of ``events`` onto the catalog
    contract (``TABLES["events"]``): ``ts`` micros TimestampType +
    ``ts_ns`` epoch-nanos long.

    Works on batch and streaming DataFrames alike (pure column
    expressions, no actions).
    """
    if isinstance(raw.schema["ts"].dataType, T.LongType):
        # INT64 TIMESTAMP(NANOS) read under nanosAsLong: raw epoch
        # nanos. Integer division: `/` would round through double and
        # can land 1µs high before the truncating cast.
        ts = F.timestamp_micros(F.expr("ts DIV 1000")).alias("ts")
        ts_ns = F.col("ts").alias("ts_ns")
    else:
        # INT64 TIMESTAMP(MICROS, unadjusted) arrives as TIMESTAMP_NTZ.
        # ts_ns must stay timezone-independent (DuckDB's epoch_ns reads
        # the naive value as-is), so measure micros from the NTZ epoch
        # with timestampdiff — unlike unix_micros(cast), this does not
        # route through the session timezone. The ts cast itself
        # round-trips for field extraction (hour/date) because display
        # and interpretation use the same session zone.
        ts = F.col("ts").cast("timestamp").alias("ts")
        ts_ns = (
            F.expr(
                "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
            )
            * F.lit(1000)
        ).alias("ts_ns")
    return raw.select(
        "event_id", ts, ts_ns, "user_id", "event_type", "value", "props"
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver testdata table by name (parquet scan).

    Parquet scans get column pruning + predicate pushdown for free:
    any ``.select``/``.filter`` the caller adds reaches the reader.

    ``events`` needs special handling — see :func:`normalize_events`.
    The nanosAsLong flip is safe under either layout (it only affects
    NANOS columns, which Spark cannot read at all otherwise) and is set
    on the *caller's* session so this works under the driver-owned
    SparkSession too, not just :mod:`..session`.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return normalize_events(spark.read.parquet(path))
    return spark.read.parquet(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    header: bool = True,
) -> DataFrame:
    """CSV scan (reference B1, `data.clj:5-9`).

    The reference reads CSV fully eagerly into driver memory; here the
    scan is lazy and distributed. Pass a schema to skip the inference
    pass (one full extra read otherwise).
    """
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """CSV sink (reference B2, `data.clj:11-15`)."""
    df.write.mode(mode).option("header", "true").csv(path)


def read_json(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    """JSON-lines scan. Always pass a schema in production — inference
    is a full extra read, and at 100 TB a schema drift should fail
    loudly at plan time, not silently widen types."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSON-lines sink (one object per line, splittable on read)."""
    df.write.mode(mode).json(path)


def read_orc(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    """ORC scan. Columnar like parquet (striped, with min/max indexes),
    so column pruning and predicate pushdown reach the reader the same
    way; the format matters for interop with Hive/Trino warehouses."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC sink (zlib-striped, splittable)."""
    df.write.mode(mode).orc(path)


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """Parquet sink. ``partition_by`` gives partition pruning to every
    downstream reader — at 100 TB this is the difference between a
    full scan and reading one directory."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)

