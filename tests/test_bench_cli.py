"""bench.py is a driver surface: run the actual CLI in a subprocess at
the smallest scale factor and validate the JSON contract (one line,
required keys, positive timings)."""

from __future__ import annotations

import json
import os
import subprocess
import sys


def test_bench_cli_contract():
    env = dict(os.environ, SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
               SPARK_GRAFT_CPUS="4")
    proc = subprocess.run(
        [sys.executable, "bench.py"],
        # 600s: the round-12 solo re-run rule may spawn a fresh JVM per
        # trimmed-spread-flagged query (tiny-SF spreads flag easily)
        capture_output=True, text=True, timeout=600, env=env,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    line = proc.stdout.strip().splitlines()[-1]
    out = json.loads(line)
    assert out["metric"] == "headline_queries_total_wall"
    assert out["unit"] == "sec" and out["sf"] == 0.001
    assert out["value"] > 0 and out["sequential_total"] > 0
    assert out["queries"] and all(v > 0 for v in out["queries"].values())


def test_timed_runs_rebuilds_the_plan_and_drops_its_cache(spark):
    """A persist inside a query's plan must be written and read on every
    run, not written by the warmups and read by every timed run: the
    loop builds the plan once per run and clears the cache after it."""
    from bench import _RUNS, _WARMUPS, timed_runs

    builds = []

    def build():
        builds.append(1)
        return spark.range(1000).persist()

    stats = timed_runs(spark, build)
    assert len(builds) == _WARMUPS + _RUNS
    assert spark.sparkContext._jsc.getPersistentRDDs().isEmpty()
    assert stats["median"] > 0
    assert stats["spread_pct"] >= stats["trimmed_pct"] >= 0
