"""One parquet timestamp decoder (``sources.tables.decode_nanos``) behind
both ``load_table`` and the events streams: every encoding the events
table lands in — micros, a nanos file, a directory of nanos part files, a
Spark-written INT96 file — reads back as the sf0.001 rows, batch and
stream."""

from __future__ import annotations

import glob
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from data_wrangling_spark.sources.tables import load_table
from data_wrangling_spark.streaming.events import _drain_to_memory, read_events_stream
from tests.conftest import SF_DIR

ENCODINGS = ("micros", "nanos_file", "nanos_dir", "int96_file")


@pytest.fixture(scope="module")
def sf_dirs(spark, tmp_path_factory):
    """encoding -> a scale-factor dir whose events.parquet uses it."""
    root = tmp_path_factory.mktemp("ts_encodings")
    micros = pq.read_table(f"{SF_DIR}/events.parquet")
    ts = micros.schema.get_field_index("ts")
    nanos = micros.set_column(ts, "ts", micros.column("ts").cast(pa.timestamp("ns")))
    dirs = {"micros": SF_DIR}
    for enc in ENCODINGS[1:]:
        dirs[enc] = str(root / enc)
        (root / enc).mkdir()

    pq.write_table(nanos, f"{dirs['nanos_file']}/events.parquet")
    (root / "nanos_dir" / "events.parquet").mkdir()
    half = nanos.num_rows // 2
    pq.write_table(nanos.slice(0, half), f"{dirs['nanos_dir']}/events.parquet/part-0.parquet")
    pq.write_table(nanos.slice(half), f"{dirs['nanos_dir']}/events.parquet/part-1.parquet")

    spark_out = str(root / "spark_written")
    load_table(spark, SF_DIR, "events").coalesce(1).write.parquet(spark_out)
    int96 = f"{dirs['int96_file']}/events.parquet"
    shutil.move(glob.glob(f"{spark_out}/part-*.parquet")[0], int96)
    footer = pq.ParquetFile(int96).schema
    assert footer.column(footer.names.index("ts")).physical_type == "INT96"
    return dirs


def _rows(df):
    return sorted(map(tuple, df.collect()))


@pytest.fixture(scope="module")
def want(spark):
    return _rows(load_table(spark, SF_DIR, "events"))


@pytest.mark.parametrize("encoding", ENCODINGS)
def test_events_read_back_in_every_encoding(spark, sf_dirs, want, encoding):
    batch = load_table(spark, sf_dirs[encoding], "events")
    assert batch.schema["ts"].dataType.simpleString() == "timestamp"
    assert _rows(batch) == want

    stream = read_events_stream(spark, sf_dirs[encoding])
    drained = _drain_to_memory(spark, stream, f"ts_encoding_{encoding}", "append")
    assert _rows(drained) == want


def test_stream_refuses_a_nanos_and_micros_mix(spark, sf_dirs, tmp_path):
    events = tmp_path / "events.parquet"
    events.mkdir()
    shutil.copy(f"{sf_dirs['nanos_file']}/events.parquet", events / "a.parquet")
    shutil.copy(f"{SF_DIR}/events.parquet", events / "b.parquet")
    with pytest.raises(ValueError, match="mixed parquet timestamp encodings"):
        read_events_stream(spark, str(tmp_path))
