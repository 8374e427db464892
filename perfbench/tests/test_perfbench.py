"""The benchmark's own tests, at a fixed small seed.

    python3 -m pytest perfbench/tests -q

The two command-line tests each run one short benchmark (about a minute).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import inputs, run, workloads

ROOT = run.ROOT
SEED = 7


def _tree_bytes(root: str) -> dict[str, bytes]:
    out = {}
    for dirpath, _, names in os.walk(root):
        for n in names:
            p = os.path.join(dirpath, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = f.read()
    return out


def test_same_seed_regenerates_byte_identical_inputs(tmp_path):
    for d in ("a", "b"):
        inputs.ensure_tables(str(tmp_path / d), SEED)
        inputs.ensure_osm(str(tmp_path / d), SEED)
    a, b = _tree_bytes(str(tmp_path / "a")), _tree_bytes(str(tmp_path / "b"))
    assert len(a) > 30
    assert a == b
    other = [e.path for e in inputs.ensure_osm(str(tmp_path / "c"), SEED + 1)]
    mine = [e.path for e in inputs.ensure_osm(str(tmp_path / "a"), SEED)]
    for p, q in zip(mine, other):
        with open(p, "rb") as f, open(q, "rb") as g:
            assert f.read() != g.read()


def test_osm_extracts_cover_every_cleaner_and_the_quarantine(tmp_path):
    e = inputs.ensure_osm(str(tmp_path), SEED)[0]
    fields = {row[0] for row in e.audit}
    assert fields == {"street", "state", "phone", "postcode", "city", "housenumber"}
    assert e.quarantine["nodes"] > 0 and e.quarantine["ways"] > 0
    with open(e.path) as f:
        xml = f.read()
    assert "<relation " in xml and "k=\"odd key\"" in xml


class _Flaky:
    """A workload whose requests fail in the request or in its check."""

    def cycle(self):
        return ["ok", "raises", "check_raises", "wrong"]

    def request(self, item, rid):
        if item == "raises":
            raise RuntimeError("request failed")
        return item

    def finish(self, item, result, rid):
        if item == "check_raises":
            raise FileNotFoundError("partial output")
        return item == "ok"


def test_errors_in_a_request_or_its_check_count_as_failed():
    summary = run.summarize(run.measure(_Flaky(), 1e-9, 0))
    assert summary["attempted"] == 4
    assert summary["failed"] == 3


def test_refuses_a_window_without_requests():
    with pytest.raises(SystemExit):
        run.parse_args(["--workload", "query_mix", "--seed", "1", "--seconds", "0"])


@pytest.fixture(scope="module")
def spark():
    from data_wrangling_spark.session import get_spark

    s = get_spark(app_name="perfbench-tests", master="local[2]", shuffle_partitions=2)
    yield s
    s.stop()


def test_corrupted_expected_hash_counts_in_failed_share(spark, tmp_path, monkeypatch):
    from data_wrangling_spark.plans.registry import oracle_sql
    from perfbench import oracle
    from perfbench.trace import Tracer

    kinds = ("q1_type_counts_union", "x_text_quality_classifier")
    monkeypatch.setattr(workloads, "MIX_KINDS", kinds)
    tables_dir, _ = inputs.ensure_tables(str(tmp_path), SEED)
    expected = oracle.expected_hashes(
        tables_dir, {k: oracle_sql()[k] for k in kinds}, 2, str(tmp_path)
    )
    expected["x_text_quality_classifier"] = "0" * 64
    wl = workloads.QueryMix(spark, Tracer(spark, False), tables_dir, expected, SEED)
    wl.load_handles()
    wl.warm()
    assert wl.ok == {"q1_type_counts_union": True, "x_text_quality_classifier": False}
    records = run.measure(wl, 0.01, 0)
    summary = run.summarize(records)
    assert summary["attempted"] == 2
    assert summary["failed"] == 1


def _bench(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(SEED), "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


@pytest.mark.parametrize("workload,trace", [("query_mix", 0), ("osm_ingest", 1)])
def test_every_metric_name_and_unit_is_printed(workload, trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    proc = _bench(workload, trace)
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    declared = spec["per_layer" if trace else "end_to_end"]
    assert {m: v["unit"] for m, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in declared
    }


def test_refuses_a_directory_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    proc = _bench("query_mix", 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
