"""data_wrangling_spark.session: the local core count every harness uses."""

from __future__ import annotations

import os

from data_wrangling_spark.session import default_parallelism
from data_wrangling_spark.sources.tables import _UTC_CONFS, ensure_utc, load_table
from tests.conftest import SF_DIR


def test_default_parallelism_falls_back_to_the_affinity_mask(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_parallelism() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_parallelism() == 3


class _CountingConf:
    """Wraps a session's JVM RuntimeConfig, counting get/set calls."""

    def __init__(self, jconf):
        self._jconf, self.calls = jconf, []

    def get(self, *args):
        self.calls.append(("get", args[0]))
        return self._jconf.get(*args)

    def set(self, *args):
        self.calls.append(("set", args[0]))
        return self._jconf.set(*args)


def test_ensure_utc_on_a_session_with_no_time_zone_set(spark):
    s = spark.newSession()
    s.conf.unset("spark.sql.session.timeZone")
    ensure_utc(s)
    assert {k: s.conf.get(k) for k in _UTC_CONFS} == _UTC_CONFS

    load_table(s, SF_DIR, "region")
    counting = s.conf._jconf = _CountingConf(s.conf._jconf)
    load_table(s, SF_DIR, "region")  # cached: confs already pinned
    assert sorted(counting.calls) == sorted(("get", k) for k in _UTC_CONFS)
