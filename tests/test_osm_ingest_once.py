"""One ingest parses its XML once: ``read_osm_xml`` returns a lazy,
serialized local checkpoint, so the audit, ``normalize`` and the five
``write_tables`` jobs after the first action read the stored rows, not the
file. The store must also fail safe: it spills to disk instead of holding
deserialized rows, and Spark frees it once the frame is garbage-collected."""

from __future__ import annotations

import gc
import shutil
import time

from pyspark.sql import functions as F

from data_wrangling_spark.operators.audit import audit
from data_wrangling_spark.operators.normalize import normalize
from data_wrangling_spark.sinks import write_tables
from data_wrangling_spark.sources.osm_fixture import build_osm_xml
from data_wrangling_spark.sources.osm_xml import read_osm_xml

TABLES = ("nodes", "nodes_tags", "ways", "ways_nodes", "ways_tags")


def _ingest(spark, path, out, delete_after_audit):
    """The reference's audit -> clean -> load request, optionally deleting
    the source file once the audit has been collected."""
    raw = read_osm_xml(spark, str(path))
    tags = raw.select(F.explode("tags").alias("t")).select(
        F.col("t.k").alias("key"), F.col("t.v").alias("value")
    )
    audited = sorted(map(repr, audit(tags).collect()))
    if delete_after_audit:
        path.unlink()
    tables = normalize(raw, clean=True, validate="permissive")
    write_tables(tables.as_dict(), str(out), fmt="parquet")
    return audited


def _written(spark, path):
    return sorted(map(repr, spark.read.parquet(str(path)).collect()))


def test_ingest_parses_the_source_once(spark, tmp_path):
    src = tmp_path / "fixture.osm"
    src.write_text(build_osm_xml())
    kept = tmp_path / "kept.osm"
    shutil.copy(src, kept)

    got = _ingest(spark, src, tmp_path / "got", delete_after_audit=True)
    want = _ingest(spark, kept, tmp_path / "want", delete_after_audit=False)

    assert not src.exists()
    assert got == want
    for t in TABLES:
        rows = _written(spark, tmp_path / "got" / t)
        assert rows and rows == _written(spark, tmp_path / "want" / t), t


def _stored_ids(sc) -> set[int]:
    """Ids of the RDDs holding cached blocks. Polled instead of
    ``getPersistentRDDs``, whose returned map keeps every RDD in it
    reachable from Python and so never lets the cleaner run."""
    return {info.id() for info in sc._jsc.sc().getRDDStorageInfo()}


def test_checkpoint_is_serialized_spills_and_is_freed(spark, tmp_path):
    sc = spark.sparkContext
    src = tmp_path / "fixture.osm"
    src.write_text(build_osm_xml())
    before = set(sc._jsc.getPersistentRDDs().keySet().toArray())

    raw = read_osm_xml(spark, str(src))
    assert raw.count() > 0
    persistent = sc._jsc.getPersistentRDDs()
    new = set(persistent.keySet().toArray()) - before
    assert len(new) == 1, new
    (rdd_id,) = new
    level = persistent.get(rdd_id).getStorageLevel()
    assert level.useDisk() and not level.deserialized(), level.toString()
    assert rdd_id in _stored_ids(sc)

    del raw, persistent, level
    deadline = time.monotonic() + 30
    while rdd_id in _stored_ids(sc):
        assert time.monotonic() < deadline, f"checkpoint RDD {rdd_id} never freed"
        gc.collect()
        sc._jvm.System.gc()
        time.sleep(1)
