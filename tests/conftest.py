"""Shared fixtures: one SparkSession per test run + a DuckDB oracle harness
that mirrors the driver's comparison (row count, column names, order-
insensitive values with columns sorted by name)."""

from __future__ import annotations

import math
from contextlib import contextmanager

import duckdb
import pandas as pd
import pytest

from data_wrangling_spark.session import get_spark
from data_wrangling_spark.sources.tables import TABLES

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="dws-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def canonical(df: pd.DataFrame) -> list[tuple]:
    """Columns sorted by name, rows sorted, values stringified — an
    order-insensitive canonical form comparable across engines."""
    df = df[sorted(df.columns)]
    rows = []
    for row in df.itertuples(index=False):
        vals = []
        for v in row:
            if v is None or (isinstance(v, float) and math.isnan(v)):
                vals.append("<null>")
            elif isinstance(v, float):
                vals.append(repr(v))  # repr → exact bits visible
            elif hasattr(v, "isoformat"):
                vals.append(pd.Timestamp(v).isoformat())
            elif isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
                vals.append(str([repr(float(x)) for x in v]))
            else:
                vals.append(str(v))
        rows.append(tuple(vals))
    return sorted(rows)


def assert_matches_oracle(spark, duck, spark_fn, sql: str, sf_dir: str = SF_DIR):
    """Run the Spark query and the DuckDB oracle; assert canonical equality."""
    got = canonical(spark_fn(spark, sf_dir).toPandas())
    want = canonical(duck.execute(sql).fetchdf())
    assert len(got) == len(want), f"row count: spark={len(got)} duckdb={len(want)}"
    mism = [(g, w) for g, w in zip(got, want) if g != w]
    assert not mism, f"{len(mism)} mismatched rows; first: {mism[0]}"


FILE_CONFS = ("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes")


@contextmanager
def split_size(spark, n_bytes, open_cost=None):
    """Set ``spark.sql.files.maxPartitionBytes`` to ``n_bytes`` and
    ``openCostInBytes`` to ``open_cost`` (default ``n_bytes``, which makes
    read_osm_xml's split size exactly ``n_bytes``); restore both on exit."""
    saved = [spark.conf.get(k) for k in FILE_CONFS]
    for k, v in zip(FILE_CONFS, (n_bytes, open_cost or n_bytes)):
        spark.conf.set(k, str(v))
    try:
        yield
    finally:
        for k, v in zip(FILE_CONFS, saved):
            spark.conf.set(k, v)
