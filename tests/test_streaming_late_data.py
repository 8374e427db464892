"""Watermark late-data semantics, multi-batch: a second file delivered
after the watermark has advanced past its window must be DROPPED from
append-mode output — the state-bounding contract that makes windowed
streaming viable at scale (without it, every window stays open forever).

This drives real multi-batch behavior (maxFilesPerTrigger=1, file mtimes
ordering the batches), not a single-batch drain."""

from __future__ import annotations

import calendar
import datetime as dt
import os

import pandas as pd

from pyspark.sql import functions as F


def _ns(d: dt.datetime) -> int:
    return calendar.timegm(d.timetuple()) * 1_000_000_000


def _write_events(path: str, rows: list[tuple[int, dt.datetime]]) -> None:
    pd.DataFrame(
        {
            "event_id": [r[0] for r in rows],
            "ts": pd.Series([_ns(r[1]) for r in rows], dtype="int64"),
            "user_id": [1] * len(rows),
            "event_type": ["click"] * len(rows),
            "value": [1.0] * len(rows),
            "props": ["{}"] * len(rows),
        }
    ).to_parquet(path)


def _run_windowed(spark, landing: str, checkpoint: str, out: str) -> dict:
    # parquet sink, not memory: the memory sink cannot recover from a
    # checkpoint, and run 2 must RESUME run 1's watermark state
    schema = ("event_id long, ts long, user_id long, "
              "event_type string, value double, props string")
    stream = (
        spark.readStream.schema(schema).format("parquet")
        .load(landing)
        .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("cnt"))
        .select(F.col("w.start").alias("window_start"), "cnt")
    )
    q = (
        stream.writeStream.format("parquet")
        .outputMode("append")  # append = finalized windows only
        .option("path", out)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return {r.window_start: r.cnt for r in spark.read.parquet(out).collect()}


def test_late_event_dropped_after_watermark(spark, tmp_path):
    jan1 = dt.datetime(2024, 1, 1, 0, 0)
    landing = tmp_path / "landing"
    landing.mkdir()
    ck = str(tmp_path / "ck")  # SHARED checkpoint: run 2 resumes run 1
    out = str(tmp_path / "out")  # shared parquet sink dir

    # run 1: two events in the 00:00 window + one far ahead (Jan 5) that
    # advances the committed watermark to Jan 5 12:00 - 2h
    _write_events(str(landing / "a.parquet"), [
        (1, jan1 + dt.timedelta(minutes=10)),
        (2, jan1 + dt.timedelta(minutes=20)),
        (3, dt.datetime(2024, 1, 5, 12, 0)),
    ])
    out1 = _run_windowed(spark, str(landing), ck, out)
    # the 00:00 window finalized (watermark passed its end): emitted with 2
    assert out1.get(jan1) == 2, out1
    # the Jan 5 window is still open → not emitted in append mode
    assert len(out1) == 1, out1

    # run 2 (resume from checkpoint): deliver a LATE event for the
    # long-finalized 00:00 window
    _write_events(str(landing / "b.parquet"), [(4, jan1 + dt.timedelta(minutes=30))])
    os.utime(str(landing / "b.parquet"), None)
    out2 = _run_windowed(spark, str(landing), ck, out)

    # the late row must be DROPPED: sink contents unchanged — no
    # re-emission of the 00:00 window, no new finalized windows
    assert out2 == out1, (out1, out2)


def test_mixed_timestamp_units_fail_loudly(tmp_path):
    """The stream's schema and nanos conversion are fixed at plan-build
    time from one footer; a landing dir mixing nanos and micros files
    would silently read the micros file as raw int64 — the reader must
    refuse instead (round-3 advice)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from data_wrangling_spark.streaming.events import _assert_uniform_nanos

    def write(path, unit):
        pq.write_table(
            pa.table({"ts": pa.array([1_000_000], pa.timestamp(unit))}),
            path,
        )

    write(tmp_path / "a.parquet", "ns")
    write(tmp_path / "b.parquet", "us")
    with pytest.raises(ValueError, match="mixed parquet timestamp encodings"):
        _assert_uniform_nanos(str(tmp_path))

    # single-unit dir passes
    (tmp_path / "b.parquet").unlink()
    _assert_uniform_nanos(str(tmp_path))
