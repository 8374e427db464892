"""Sinks (SURVEY.md §2.2, milestone 5).

- OP-SNK-CSV (S2:282-332): 5-file CSV export with headers. The reference's
  UnicodeDictWriter shim (S2:286-288) is obsolete — Spark strings are
  Unicode; headers come from ``header=True``; the row-at-a-time append
  becomes per-partition parallel file writes.
- OP-SNK-SQL (NB:12003, 12026-12031): CREATE TABLE + executemany becomes
  ``saveAsTable`` / temp views over a partitioned parquet landing zone —
  the durable, splittable replacement for the SQLite file.

Scale notes: partitioning tag tables by ``type`` aligns with the Q1/Q2/Q3
filters (partition pruning; SURVEY.md §4 rewrite checklist); writers never
collect — a 100 TB export is N parallel part files per table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Reference-parity CSV (header row, UTF-8)."""
    df.write.mode(mode).option("header", "true").csv(path)


def write_parquet(
    df: DataFrame,
    path: str,
    partition_by: tuple[str, ...] = (),
    mode: str = "overwrite",
) -> None:
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def compact_parquet(
    spark: SparkSession,
    src: str,
    dst: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-file compaction for a parquet landing zone: rewrite ``src``
    into ``dst`` with file count sized to ``target_file_bytes`` (HDFS/S3
    block-friendly 128 MB default). Returns the output file count.

    The small-file problem is the classic failure mode of streaming /
    micro-batch ingest at scale: thousands of KB-sized part files turn
    a 100 TB scan into metadata-and-open-call soup. Compaction sizes
    output files from the ACTUAL input bytes (driver-side file listing
    — metadata only, no data read), then uses ``coalesce`` when
    shrinking the file count (no shuffle: each output task concatenates
    input splits) and ``repartition`` only when growing it (a shuffle
    is unavoidable to split files).

    Run it per-partition-directory on a partitioned zone so unchanged
    partitions stay untouched (same pattern as the merge_upsert dynamic
    -overwrite write path).

    ``dst`` must differ from ``src``: an overwrite-mode write into the
    path being lazily read would truncate the landing zone before the
    scan runs — the guard below refuses it (same defensive style as the
    reserved-column and cartesian refusals elsewhere)."""
    import math
    import os

    if os.path.abspath(src.removeprefix("file:")) == os.path.abspath(
        dst.removeprefix("file:")
    ):
        raise ValueError(
            f"compact_parquet: dst == src ({src!r}) — overwrite while "
            "lazily reading the same path would destroy the input; "
            "compact into a sibling directory and swap"
        )

    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc
    hadoop_path = jvm.org.apache.hadoop.fs.Path(src)
    fs = hadoop_path.getFileSystem(jsc.hadoopConfiguration())
    total = 0
    it = fs.listFiles(hadoop_path, True)
    while it.hasNext():
        f = it.next()
        if f.getPath().getName().endswith(".parquet"):
            total += f.getLen()
    df = spark.read.parquet(src)
    n_files = max(1, math.ceil(total / target_file_bytes))
    n_input = df.rdd.getNumPartitions()
    out = df.coalesce(n_files) if n_files <= n_input else df.repartition(n_files)
    out.write.mode("overwrite").parquet(dst)
    return n_files


#: per-table partition columns for the normalized star schema: tag tables
#: partition by their low-cardinality `type` (aligned with Q1-Q3 filters)
DEFAULT_PARTITIONING: dict[str, tuple[str, ...]] = {
    "nodes": (),
    "ways": (),
    "nodes_tags": ("type",),
    "ways_tags": ("type",),
    "ways_nodes": (),
}


#: the CSV read-back's ``nullValue``. The writer leaves a null field bare
#: and quotes an empty string (``""``); Spark's default ``nullValue=""``
#: reads both as NULL. With this sentinel a bare field still reads as NULL
#: and ``""`` reads as ``''``.
_CSV_NULL_VALUE = "\u0000"


def write_tables(
    tables: dict[str, DataFrame],
    out_dir: str,
    fmt: str = "parquet",
    register: SparkSession | None = None,
) -> None:
    """Persist the normalized 5-table schema; optionally register each
    written table back as a temp view (the query layer, OP-SNK-SQL).

    A CSV table registered back keeps empty strings as ``''``; the one
    string value that reads back as NULL is ``"\\u0000"``, which XML 1.0
    forbids in any document, so no value parsed from OSM XML holds it."""
    for name, df in tables.items():
        path = f"{out_dir}/{name}"
        if fmt == "csv":
            write_csv(df, path)
        else:
            write_parquet(df, path, DEFAULT_PARTITIONING.get(name, ()))
        if register is not None:
            # read back with the WRITTEN df's schema: a bare CSV read
            # would give all-string columns (no types in the format)
            reader = register.read.format(fmt).option("header", "true")
            if fmt == "csv":
                reader = reader.option("nullValue", _CSV_NULL_VALUE)
            back = reader.schema(df.schema).load(path)
            back.createOrReplaceTempView(name)
