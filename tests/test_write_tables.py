"""``sinks.write_tables``, the 5-table sink ``osm_ingest`` writes through
(OP-SNK-CSV / OP-SNK-SQL): one directory per normalized table, the parquet
tag tables hive-partitioned by ``type`` (the CSV export stays flat, as the
reference's five CSV files are), and ``register=`` serving each table back
as a temp view with the written schema."""

from __future__ import annotations

import os

import pytest

from data_wrangling_spark.operators.normalize import normalize
from data_wrangling_spark.sinks import write_tables
from data_wrangling_spark.sources.osm_fixture import build_osm_xml
from data_wrangling_spark.sources.osm_xml import read_osm_xml

TABLE_NAMES = {"nodes", "nodes_tags", "ways", "ways_nodes", "ways_tags"}


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    p = tmp_path_factory.mktemp("osm_sink") / "fixture.osm"
    p.write_text(build_osm_xml())
    out = normalize(read_osm_xml(spark, str(p)), clean=True).as_dict()
    for df in out.values():
        df.cache()
    yield out
    for df in out.values():
        df.unpersist()


def _rows(df):
    return sorted(map(repr, df.collect()))


@pytest.mark.parametrize("fmt", ["parquet", "csv"])
def test_write_tables_layout_and_register(spark, tables, tmp_path, fmt):
    out = str(tmp_path / fmt)
    write_tables(tables, out, fmt=fmt, register=spark)

    assert set(os.listdir(out)) == TABLE_NAMES
    for name, df in tables.items():
        subdirs = {d for d in os.listdir(f"{out}/{name}")
                   if os.path.isdir(f"{out}/{name}/{d}")}
        if fmt == "parquet" and name in ("nodes_tags", "ways_tags"):
            types = {r["type"] for r in df.select("type").distinct().collect()}
            assert subdirs == {f"type={t}" for t in types}, (name, subdirs)
        else:
            assert not subdirs, (name, subdirs)

        back = spark.table(name)
        assert back.schema.simpleString() == df.schema.simpleString(), name
        assert _rows(back) == _rows(df), name
