"""Byte-range split-parallel OSM-XML scan (SURVEY.md §7 hard-point 2):
one big file must fan out into N boundary-synced tasks whose union is
row-identical to the one-task read — every element emitted by exactly
the split holding its first byte, splits reading past their end to
finish a straddling element."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from data_wrangling_spark.sources.osm_fixture import build_osm_xml
from data_wrangling_spark.sources.osm_xml import (
    _elements,
    _parse_byte_range,
    read_osm_xml,
)
from tests.conftest import FILE_CONFS, split_size

KINDS = ("node", "way", "relation")


@pytest.fixture(scope="module")
def one_file(tmp_path_factory):
    p = tmp_path_factory.mktemp("osm-split") / "fixture.osm"
    p.write_text(build_osm_xml(n_extra_nodes=40))
    return str(p)


def _canon(df):
    out = df.select(
        "element", "id", "lat", "lon", "user", "uid", "version",
        "changeset", "timestamp",
        F.to_json("tags").alias("tags"), F.to_json("nds").alias("nds"),
    )
    return sorted(tuple(r) for r in out.collect())


def test_multi_split_row_identical_to_one_task(spark, one_file):
    whole = read_osm_xml(spark, one_file)  # size << 4 MB floor -> one task
    assert whole.rdd.getNumPartitions() == 1
    with split_size(spark, 700):
        split = read_osm_xml(spark, one_file)
    assert split.rdd.getNumPartitions() > 4
    want = _canon(whole)
    assert len(want) > 40
    assert _canon(split) == want


def test_split_size_follows_input_and_file_confs(spark, one_file):
    """Spark's maxSplitBytes rule: with the open cost lowered and the
    128 MB cap kept, the split is the file's share of defaultParallelism,
    so the one file fans out to about one range per core; the confs are
    back to their values afterwards."""
    saved = [spark.conf.get(k) for k in FILE_CONFS]
    cores = spark.sparkContext.defaultParallelism
    with split_size(spark, 128 << 20, open_cost=1):
        df = read_osm_xml(spark, one_file)
    assert cores <= df.rdd.getNumPartitions() <= cores + 1
    assert _canon(df) == _canon(read_osm_xml(spark, one_file))
    assert [spark.conf.get(k) for k in FILE_CONFS] == saved


@pytest.mark.parametrize("width", [120, 333, 1021, 5000])
def test_every_split_width_is_row_identical(spark, one_file, width):
    """Sweep widths so boundaries land mid-element, mid-token, inside
    attribute values, and inside the header — including widths smaller
    than one element (some splits then sync past their whole range and
    emit nothing; their elements belong to the preceding split)."""
    want = _canon(read_osm_xml(spark, one_file))
    with split_size(spark, width):
        got = _canon(read_osm_xml(spark, one_file))
    assert got == want


def test_parse_byte_range_partitions_elements_exactly(one_file):
    """Driver-free unit check: for ANY 2-way cut point, range rows
    concatenate to the whole-file rows in document order (no loss, no
    duplication, no reorder) — exhaustive over a byte stride."""
    size = os.path.getsize(one_file)
    with open(one_file, "rb") as f:
        want = list(_elements(iter(lambda: f.read(4096), b""), KINDS))
    for cut in range(0, size + 1, 97):
        a = list(_parse_byte_range(one_file, 0, cut, KINDS))
        b = list(_parse_byte_range(one_file, cut, size, KINDS))
        assert a + b == want, f"cut={cut}: {len(a)}+{len(b)} != {len(want)}"


def test_tag_kind_filter_parity_across_split(spark, one_file):
    want = _canon(read_osm_xml(spark, one_file, tags=("node", "way")))
    with split_size(spark, 400):
        got = _canon(read_osm_xml(spark, one_file, tags=("node", "way")))
    assert got == want
    assert all(r[0] != "relation" for r in got)


def test_invalid_attr_fixture_parity_across_split(spark, tmp_path):
    """Quarantine-path fixture (missing uid/user attrs) survives the
    split scan byte-for-byte too."""
    p = tmp_path / "invalid.osm"
    p.write_text(build_osm_xml(include_invalid=True))
    want = _canon(read_osm_xml(spark, str(p)))
    with split_size(spark, 256):
        got = _canon(read_osm_xml(spark, str(p)))
    assert got == want


def test_nonstandard_tags_fall_back_to_one_task(spark, one_file):
    """Sync tokens cover only node/way/relation; another kind must use
    the whole-file path (still correct, just unsplit)."""
    with split_size(spark, 200):
        df = read_osm_xml(spark, one_file, tags=("bounds",))
    assert df.rdd.getNumPartitions() == 1
    assert df.count() == 1  # the fixture's single <bounds/>
