"""data_wrangling_spark.session: the local core count every harness uses."""

from __future__ import annotations

import os

from data_wrangling_spark.session import default_parallelism


def test_default_parallelism_falls_back_to_the_affinity_mask(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_parallelism() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_parallelism() == 3
