"""Canonical table loader for the synthetic test catalog.

The driver generates TPC-H-ish parquet tables plus ``events`` (stream-shaped),
``documents`` (text corpus) and ``embeddings`` (vector table) at
``/root/testdata/sf*/`` (TESTDATA.md). All engine queries address tables
through this loader so source handling is one place: parquet scan, explicit
column pruning left to Catalyst.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLE_NAMES = (
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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# Parquet schema inference launches a 1-task Spark job per spark.read.parquet
# call (ParquetFileFormat.inferSchema reads a footer sample cluster-side).
# Catalog tables are immutable per (path, mtime), so cache the inferred
# StructType and hand it back via .schema(...) on every later load — a query
# touching 5 tables otherwise pays 5 serialized scheduler round-trips
# (~400 ms at local[32]) before its first real stage. On a 1000-executor
# cluster the same jobs ride the full scheduler path, so the cache matters
# there too. Keyed by (path, mtime) and, for events, the nanosAsLong conf the
# schema depends on.
_SCHEMA_CACHE: dict[tuple[str, float, str], StructType] = {}


def _cached_read(spark: SparkSession, path: str, conf_key: str = "") -> DataFrame:
    try:
        mtime = os.path.getmtime(path)
    except OSError:
        return spark.read.parquet(path)  # missing/odd layout: let Spark error
    key = (path, mtime, conf_key)
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; known: {TABLE_NAMES}")
    if name == "events":
        # The testdata generator has stored ``ts`` with several parquet
        # encodings across regenerations; normalize every one of them to a
        # plain TimestampType so downstream code (unix_micros, watermarks,
        # window ranges) sees one stable schema:
        #   - TIMESTAMP(NANOS): Spark has no nanos type; read as long nanos
        #     (legacy SQLConf) and truncate to micros exactly like DuckDB's
        #     ns→timestamp conversion so oracles agree.
        #   - timestamp[us] without tz: surfaces as TIMESTAMP_NTZ; cast to
        #     TIMESTAMP. Session tz is pinned UTC (session.py), so the
        #     instant equals DuckDB's epoch interpretation of the naive value.
        #   - timestamp[us] with tz: already TimestampType; pass through.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = _cached_read(spark, table_path(sf_dir, name), "nanosAsLong")
        return _normalize_event_ts(df)
    return _cached_read(spark, table_path(sf_dir, name))


def _normalize_event_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Coerce an event-time column to TimestampType regardless of the parquet
    physical encoding (nanos-as-long / micros-NTZ / micros-UTC)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    dt = df.schema[col].dataType
    if isinstance(dt, LongType):
        # integer division, NOT floor(ts/1000): double division of an
        # ~1.7e18 nanos value rounds in the 53-bit mantissa and lands
        # ±1 µs off the exact truncation DuckDB does.
        return df.withColumn(col, F.timestamp_micros(F.expr(f"{col} DIV 1000")))
    if isinstance(dt, TimestampNTZType):
        # NTZ→TIMESTAMP interprets the naive value in the SESSION timezone;
        # pin UTC (runtime conf — the driver hands us a vanilla session) so
        # the instant equals DuckDB's epoch view of the same naive value.
        df.sparkSession.conf.set("spark.sql.session.timeZone", "UTC")
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Load every catalog table as a DataFrame (lazy — no scan happens here)."""
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def local_frame(spark: SparkSession, rows, schema: str) -> DataFrame:
    """Driver-local rows -> a SINGLE-SLICE DataFrame.

    ``spark.createDataFrame(rows, schema)`` parallelizes into
    defaultParallelism pickled slices; every downstream job then pays one
    Python-worker round-trip PER SLICE — and ``coalesce(1)`` makes it
    worse, folding all slices into ONE task that evaluates them
    sequentially (measured ~5.9 s per count on local[32] for a 4-row
    frame vs ~0.4 s for an explicit 1-slice parallelize). Every driver-
    computed result frame (trained trajectories, local graph censuses)
    goes through here."""
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
