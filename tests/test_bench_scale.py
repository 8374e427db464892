"""scripts/bench_scale.py: the key-shifted replicator on real tables, the
OSM extract generator, and the SCALING.md renderer on canned ``bench.py``
lines (no JVM)."""

from __future__ import annotations

import os
import subprocess
import sys

from pyspark.sql import functions as F

from scripts.bench_scale import (
    DIM_TABLES,
    REPO,
    SHIFT_COLS,
    STRIDE,
    generate,
    materialize,
    render_scaling_md,
)
from tests.conftest import SF_DIR


def _read(spark, d, table):
    return spark.read.parquet(os.path.join(d, f"{table}.parquet"))


def test_materialize_doubles_facts_and_keeps_dims(spark, tmp_path):
    out = str(tmp_path / "mult2")
    meta = materialize(spark, SF_DIR, out, 2)
    for table in SHIFT_COLS:
        n = _read(spark, SF_DIR, table).count()
        assert _read(spark, out, table).count() == meta["rows"][table] == 2 * n
    for table in DIM_TABLES:
        n = _read(spark, SF_DIR, table).count()
        assert _read(spark, out, table).count() == meta["rows"][table] == n

    # copy 1 is copy 0 with every entity id shifted by STRIDE
    for table, cols in SHIFT_COLS.items():
        for c in cols:
            base = _read(spark, SF_DIR, table).select(c)
            copy1 = _read(spark, out, table).select(c).filter(F.col(c) >= STRIDE)
            shifted = base.select((F.col(c) + STRIDE).alias(c))
            assert copy1.exceptAll(shifted).count() == 0
            assert shifted.exceptAll(copy1).count() == 0

    def joined(d):
        return (
            _read(spark, d, "orders")
            .join(_read(spark, d, "customer"), F.col("o_custkey") == F.col("c_custkey"))
            .count()
        )

    assert joined(out) == 2 * joined(SF_DIR)


def test_generate_writes_a_readable_extract(spark, tmp_path):
    from data_wrangling_spark.sources.osm_xml import read_osm_xml

    path = str(tmp_path / "gen.osm")
    generate(path, 50, 5)
    raw = read_osm_xml(spark, path)
    assert raw.count() == 55
    assert raw.filter("element = 'way'").count() == 5

    # the generator runs before any Spark session: importing the module
    # must not load pyspark
    probe = "import sys, scripts.bench_scale; print('pyspark' in sys.modules)"
    out = subprocess.run(
        [sys.executable, "-c", probe], cwd=REPO, capture_output=True, text=True,
        check=True,
    )
    assert out.stdout.strip() == "False"


def _bench_line(q1, q2, solo_published):
    return {
        "value": 0.5,
        "sequential_total": q1 + q2,
        "queries": {"q1": q1, "q2": q2},
        "trimmed_spread_pct": {"q1": 4.0, "q2": 12.5},
        "solo_remeasured": {
            "q2": {"suite": 0.9, "median": q2, "published": solo_published},
        },
        "duckdb_calibration": {"q1": 0.05, "q2": 0.1},
        "duckdb_calibration_total": 0.15,
    }


def test_render_scaling_md_rows():
    header = {"command": "python3 scripts/bench_scale.py 10", "commit": "abc1234",
              "cores": 4, "cpus": 4, "driver_mem": "2g"}
    points = [
        {"label": "sf0.1", "rows": {"orders": 150_000, "region": 5},
         "bench": _bench_line(0.2, 0.4, "solo"),
         "solo": {"mix_a": {"median": 0.3, "trimmed_pct": 7.5}, "mix_b": None},
         "duck": {"mix_a": 0.1, "mix_b": 0.2}},
        {"label": "×10 sf0.1", "rows": {"orders": 1_500_000, "region": 5},
         "bench": _bench_line(1.0, 2.0, "suite"),
         "solo": {"mix_a": {"median": 1.2, "trimmed_pct": 3.0},
                  "mix_b": {"median": 0.8, "trimmed_pct": 1.0}},
         "duck": {"mix_a": 0.4, "mix_b": 0.2}},
    ]
    md = render_scaling_md(header, points)
    lines = md.splitlines()
    assert "`python3 scripts/bench_scale.py 10` at commit `abc1234`" in md
    assert "`local[4]` (4 CPUs available), driver memory 2g" in md
    assert "| orders | 150,000 | 1,500,000 |" in lines
    assert "| region | 5 | 5 |" in lines
    # summary: a failed mix worker leaves the mix total empty
    assert "| sf0.1 | 0.500 | 0.600 | 0.150 | — | 0.300 |" in lines
    assert "| ×10 sf0.1 | 0.500 | 3.000 | 0.150 | 2.000 | 0.600 |" in lines
    # per-point tables: headline rows, the solo marker, mix rows
    assert "| q1 | headline | 0.200 | 4.0% | 0.050 | 4.0x |" in lines
    assert "| q2 | headline, *solo* | 0.400 | 12.5% | 0.100 | 4.0x |" in lines
    assert "| q2 | headline | 2.000 | 12.5% | 0.100 | 20.0x |" in lines
    assert "| mix_a | mix | 0.300 | 7.5% | 0.100 | 3.0x |" in lines
    assert "| mix_b | mix | — | failed | 0.200 | — |" in lines
    assert "| mix_b | mix | 0.800 | 1.0% | 0.200 | 4.0x |" in lines
    assert lines[-1].endswith("remain at `104d720:SCALING.md`.")
