"""Sources & sinks.

The reference's IO surface is CSV only (`data.clj:5-15` — ``open-csv``
eager read, ``save-csv`` write). We re-expose that (B1/B2 in
SURVEY.md §2) plus parquet (the driver testdata format), JSON and ORC.

One rule for the testdata tables: :data:`TABLES` is the only statement
of each table's read schema. :func:`load_table` reads with it, so a
table load infers nothing, starts no Spark job and writes no session
conf; the one exception is the nanos layout of ``events`` (see
:func:`events_read_schema`).

At 100 TB the scan is the whole game: always select the needed columns
before any transform (column pruning reaches the parquet footer), and
filter as early as possible (predicate pushdown; check with
``df.explain`` → ``PushedFilters``).
"""

from __future__ import annotations

import os

import pyarrow.dataset as pads
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# The read schema of each driver testdata table (FIXTURES.md §B), equal
# field for field to its parquet footer (tests/test_catalog.py checks
# this at every testdata scale). Reading with it means no inference job.
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
            T.StructField("o_orderdate", T.TimestampNTZType()),
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
            T.StructField("l_shipdate", T.TimestampNTZType()),
        ]
    ),
    # events is the one table whose pin is the contract after
    # normalize_events, not the file: ``ts`` a TimestampType and
    # ``ts_ns`` the epoch-nanos long for timezone-independent arithmetic
    # (DuckDB's epoch_ns(ts) gives the same value). The file holds ``ts``
    # only, in one of two layouts; events_read_schema reads the layout.
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
        # INT64 TIMESTAMP(NANOS) read as a long: raw epoch nanos.
        # Integer division: `/` would round through double and
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


def events_read_schema(spark: SparkSession, path: str) -> T.StructType:
    """Physical read schema of an ``events`` parquet file or directory:
    ``TABLES["events"]`` without ``ts_ns``, with ``ts`` typed as Spark
    types the ``ts`` column of the (first) footer.

    The footer is read with pyarrow, so this starts no Spark job.
    TIMESTAMP(MICROS, unadjusted), the testdata layout, reads as
    TIMESTAMP_NTZ; INT96 (Spark's own writer) and UTC-adjusted columns
    as TIMESTAMP. Spark rejects INT64 TIMESTAMP(NANOS)
    ([PARQUET_TYPE_ILLEGAL]) unless it reads it as a raw epoch-nanos
    long, which a session conf allows; that layout alone sets it, on
    the caller's session, which the scan reads it from.
    """
    fragment = next(pads.dataset(path, format="parquet").get_fragments())
    footer = fragment.metadata.schema
    physical = footer.column(footer.names.index("ts")).physical_type
    ts = fragment.physical_schema.field("ts").type
    ts_type: T.DataType = T.TimestampNTZType()
    if physical == "INT64" and ts.unit == "ns":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        ts_type = T.LongType()
    elif physical == "INT96" or ts.tz is not None:
        ts_type = T.TimestampType()
    return T.StructType(
        [
            T.StructField("ts", ts_type) if f.name == "ts" else f
            for f in TABLES["events"].fields
            if f.name != "ts_ns"
        ]
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver testdata table by name with its pinned schema.

    The schema is ``TABLES[name]``, so the read infers nothing and
    starts no Spark job. ``events`` is read with
    :func:`events_read_schema` and mapped onto its pin by
    :func:`normalize_events`. Parquet scans get column pruning and
    predicate pushdown: any ``.select``/``.filter`` the caller adds
    reaches the reader.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        return normalize_events(
            spark.read.schema(events_read_schema(spark, path)).parquet(path)
        )
    return spark.read.schema(TABLES[name]).parquet(path)


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


def read_json(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """JSON-lines scan with an explicit schema: inference would be a
    full extra read, and at 100 TB a schema drift should fail loudly at
    plan time, not silently widen types."""
    return spark.read.schema(schema).json(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSON-lines sink (one object per line, splittable on read)."""
    df.write.mode(mode).json(path)


def read_orc(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """ORC scan with an explicit schema. Columnar like parquet (striped,
    with min/max indexes), so column pruning and predicate pushdown
    reach the reader the same way; the format matters for interop with
    Hive/Trino warehouses."""
    return spark.read.schema(schema).orc(path)


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

