"""Streaming OSM-XML ingest (SURVEY.md §2.10: "the engine may optionally
expose the ingest as readStream over a landing directory").

The stream watches a landing directory with the text source in
``wholetext`` mode (one row per arriving file — XML cannot be split
line-wise) and parses each file inside ``mapInPandas`` with the batch
reader's one parse loop (``sources.osm_xml._elements``). New region
extracts dropped into the directory flow through normalization without
re-running a batch job — the continuous-ingest pattern for a 100 TB
corpus that grows by region.

Parity contract (tests/test_streaming_osm.py): draining the stream over
a directory of fixture files yields EXACTLY the rows of the batch reader
over the same files.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession

from data_wrangling_spark.sources.osm_xml import (
    RAW_ELEMENT_SCHEMA,
    _KEPT_TAGS,
    _elements,
)
from data_wrangling_spark.streaming.events import _drain_to_memory

_COLS = [f.name for f in RAW_ELEMENT_SCHEMA.fields]


def read_osm_stream(
    spark: SparkSession,
    landing_dir: str,
    tags: tuple[str, ...] = _KEPT_TAGS,
) -> DataFrame:
    """readStream over an OSM landing directory → RAW_ELEMENT_SCHEMA rows."""
    stream = (
        spark.readStream.format("text")
        .option("wholetext", "true")
        .load(landing_dir)
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows: list[tuple] = []
            for xml_text in pdf["value"]:
                rows.extend(_elements([xml_text.encode("utf-8")], tags))
            if rows:
                yield pd.DataFrame(rows, columns=_COLS)

    return stream.mapInPandas(batches, RAW_ELEMENT_SCHEMA)


def drain_osm_stream(
    spark: SparkSession,
    landing_dir: str,
    tags: tuple[str, ...] = _KEPT_TAGS,
    table_name: str = "stream_osm_elements",
) -> DataFrame:
    """Run the ingest with AvailableNow into a memory sink (bounded
    drain for tests/driver checks; a real deployment writes the
    partitioned parquet landing zone with foreachBatch/toTable)."""
    return _drain_to_memory(
        spark, read_osm_stream(spark, landing_dir, tags), table_name, "append"
    )
