"""scripts/ab.py: the verdict rule on synthetic timings, and one real
fresh-JVM worker run against a ``git archive`` tree."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))

import ab  # noqa: E402

from data_wrangling_spark.plans.registry import QUERIES, queries  # noqa: E402
from perfbench.oracle import canon_hash  # noqa: E402
from tests.conftest import SF_DIR  # noqa: E402


def _lines(times, h="h"):
    return [{"median": t, "hash": h} for t in times]


BASE = [1.00, 1.02, 0.98, 1.01, 0.99, 1.03, 0.97, 1.00, 1.02, 0.98]


@pytest.mark.parametrize(
    "base, work, expected",
    [
        # every pair won, median gap 0.2 s against a base IQR of 0.04 s
        (BASE, [t - 0.2 for t in BASE], "faster"),
        (BASE, [t + 0.2 for t in BASE], "slower"),
        # a tie counts for neither side
        (BASE, BASE, "unresolved"),
        # 9 of 10 won, but the 0.01 s median gap is inside the base IQR
        (BASE, [t - 0.015 for t in BASE[:9]] + [1.5], "unresolved"),
        # 8 of 10 won by a wide margin: below the 9-win bar
        (BASE, [t - 0.2 for t in BASE[:8]] + [2.0, 2.0], "unresolved"),
    ],
)
def test_verdict_rule(base, work, expected):
    assert ab.summarize(_lines(base), _lines(work))["verdict"] == expected


def test_verdict_refused_on_hash_mismatch():
    work = _lines([t - 0.2 for t in BASE])
    work[3]["hash"] = "other"
    out = ab.summarize(_lines(BASE), work)
    assert out["verdict"].startswith("refused")
    assert out["hashes"] == ["h", "other"]


def test_solo_worker_imports_the_tree_under_test(spark, tmp_path, monkeypatch):
    """One ``bench.py --solo`` worker over a ``git archive HEAD`` tree
    imports the package from that tree, and its value hash equals the
    hash of the same query collected in this process."""
    name = "ext_tpch_q3_shipping_priority"
    tree = str(tmp_path / "tree")
    ab.extract("HEAD", tree)
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", SF_DIR)
    line = ab.solo_remeasure(name, tree=tree)
    assert line is not None
    assert line["package"] == os.path.join(tree, "data_wrangling_spark")
    queries()
    expected = canon_hash(QUERIES[name].spark(spark, SF_DIR).toPandas())
    assert line["hash"] == expected
    assert line["median"] > 0
