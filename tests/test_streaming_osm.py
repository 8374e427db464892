"""Streaming OSM ingest == batch OSM ingest over the same landing
directory (multiple files, including the dirty-value fixture)."""

from __future__ import annotations

from data_wrangling_spark.sources.osm_fixture import build_osm_xml
from data_wrangling_spark.sources.osm_xml import read_osm_xml
from data_wrangling_spark.streaming.osm import drain_osm_stream


def _canon(df):
    return sorted(
        (
            r.element, r.id, r.lat, r.lon, r.user, r.uid, r.version,
            r.changeset, r.timestamp,
            tuple((t.k, t.v) for t in (r.tags or [])),
            tuple(r.nds or []),
        )
        for r in df.collect()
    )


def test_stream_matches_batch_ingest(spark, tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "region_a.osm").write_text(build_osm_xml())
    (landing / "region_b.osm").write_text(build_osm_xml(include_invalid=True))

    streamed = drain_osm_stream(spark, str(landing), table_name="t_osm_stream")
    batch = read_osm_xml(spark, str(landing / "*.osm"))

    got, want = _canon(streamed), _canon(batch)
    assert len(got) == len(want) and got == want
    # the shared parser yields tags as (k, v) tuples; Arrow must turn
    # them into the struct through mapInPandas, not into nulls
    assert any(row[9] for row in got)
