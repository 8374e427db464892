"""Parquet / CSV table loaders for the engine's relational layer.

Reference parity: OP-SRC-CSV (Step 2 CSVs → SQLite load, NB:12026-12030) and
OP-SNK-SQL's query layer (CREATE TABLE + INSERT, NB:12003). In Spark the
durable layer is partitioned parquet; temp views replace SQLite tables
(SURVEY.md §2.1-§2.2).

At 100 TB the landing zone is a partitioned parquet directory per table;
``spark.read.parquet`` gives partition pruning + predicate pushdown + column
pruning for free. Nothing here collects to the driver.

Timestamps are decoded here, once, for both the batch tables and the events
streams (``streaming/events.py``). Spark's parquet reader decodes seconds,
millis, micros and INT96 natively; the one encoding it cannot turn into a
timestamp is INT64 ``TIMESTAMP(NANOS)``, which ``ensure_utc`` makes it read
as ``bigint`` and :func:`decode_nanos` converts to micros.
"""

from __future__ import annotations

import glob
import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.types import StructType

#: Tables the driver materializes at each scale factor (TESTDATA.md).
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


#: session confs the engine's timestamp semantics depend on
_UTC_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def ensure_utc(spark: SparkSession) -> None:
    """Pin the session timezone to UTC and parquet timestamp inference to
    session-zone TimestampType (idempotent). Timestamp semantics must not
    depend on who built the SparkSession: the engine's queries are defined
    over UTC wall-clock values and the DuckDB oracle reads parquet
    timestamps as-is, so a caller session left on a local zone would shift
    every timestamp crossing the Arrow boundary.

    ``inferTimestampNTZ`` must be OFF because the testdata's parquet
    annotates timestamps ``isAdjustedToUTC=false``; left on, Spark 4 scans
    them as TIMESTAMP_NTZ — a different column type than the engine's
    declared model (plain TimestampType under a UTC session, identical
    wall-clock values), which breaks double-casts, window arithmetic and
    schema stability. Disabling it at the scan keeps the type native to
    the parquet reader, so filter pushdown is unaffected (no cast wrapped
    around the scan column).

    ``nanosAsLong`` makes the reader return TIMESTAMP(NANOS) columns as
    their raw int64 instead of failing with PARQUET_TYPE_ILLEGAL;
    :func:`decode_nanos` turns them into timestamps.

    Each conf is read without a default: every one is registered with its
    own, and Spark validates a caller-supplied default (``""`` is not a
    valid time zone), so one JVM read per conf, plus a write only when it
    differs."""
    for key, want in _UTC_CONFS.items():
        if spark.conf.get(key) != want:
            spark.conf.set(key, want)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one parquet table (a file or a directory) from a scale-factor
    directory, timestamps decoded by :func:`decode_nanos`."""
    ensure_utc(spark)
    path = f"{sf_dir}/{name}.parquet"
    key = (id(spark), path)
    cached = _TABLE_CACHE.get(key)
    if cached is not None:
        return cached
    df = decode_nanos(spark.read.parquet(path), path)
    # belt-and-braces vs ensure_utc's inferTimestampNTZ=false: if a future
    # Spark stops honoring that conf, normalize any NTZ column to the
    # session-zone type here (UTC session → identical wall-clock values;
    # normally a no-op so scans keep native-type filter pushdown)
    ntz = [f.name for f in df.schema.fields
           if isinstance(f.dataType, T.TimestampNTZType)]
    for c in ntz:
        df = df.withColumn(c, F.col(c).cast(T.TimestampType()))
    _TABLE_CACHE[key] = df
    return df


#: per-(session, path) DataFrame handles: avoids re-listing files and
#: re-probing footers on every query over the same table (pure metadata
#: reuse — no data is cached/pinned). CAVEAT: the handle's file index is
#: resolved eagerly, so a path whose files are REWRITTEN after first load
#: serves stale file lists — call clear_table_cache() after rewriting a
#: table in place (immutable landing zones, the normal layout, never hit
#: this).
_TABLE_CACHE: dict[tuple[int, str], DataFrame] = {}


def clear_table_cache() -> None:
    """Drop all memoized table handles (after rewriting a table's files
    in place, or to release handles pinned to stopped sessions)."""
    _TABLE_CACHE.clear()


def _source_files(src: str) -> list[str]:
    """The parquet files behind ``src``: the file itself, or every
    ``*.parquet`` under a directory (part files, hive partitions),
    sorted."""
    if os.path.isdir(src):
        return sorted(glob.glob(os.path.join(src, "**", "*.parquet"), recursive=True))
    return [src]


def _nanos_columns(path: str) -> list[str]:
    """Top-level columns stored as physical INT64 with the logical type
    TIMESTAMP(NANOS), read from the footer of ``path``'s first file
    (driver-side, O(1)). INT96 also reaches pyarrow as ``timestamp[ns]``,
    so the parquet logical type is read, not the arrow type."""
    import pyarrow.parquet as pq

    schema = pq.ParquetFile(_source_files(path)[0]).schema
    cols = (schema.column(i) for i in range(len(schema)))
    return [
        c.name for c in cols
        if c.path == c.name and c.physical_type == "INT64"
        and json.loads(c.logical_type.to_json()).get("timeUnit") == "nanoseconds"
    ]


def decode_nanos(df: DataFrame, path: str) -> DataFrame:
    """Turn the raw int64 TIMESTAMP(NANOS) columns of a batch or
    streaming read of ``path`` into TimestampType: ``div 1000`` is exact
    integer math, the same truncation to micros DuckDB applies at scan, so
    oracle values agree exactly. Every other encoding is already a
    timestamp."""
    for c in _nanos_columns(path):
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names}


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Register each table as a temp view so ``spark.sql`` can hit it.

    This is the engine's replacement for the reference's SQLite load step
    (NB:12026-12031): instead of copying rows into a database file, views
    bind lazily to the parquet scans and Catalyst prunes/pushes down.
    """
    dfs = load_tables(spark, sf_dir, names)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
    header: bool = True,
) -> DataFrame:
    """CSV source with explicit schema (OP-SRC-CSV, NB:12026-12029).

    An explicit schema avoids a second inference pass over the files —
    mandatory at scale. Without one we fall back to inference (small/ad-hoc
    inputs only).
    """
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        return reader.schema(schema).csv(path)
    return reader.option("inferSchema", "true").csv(path)
