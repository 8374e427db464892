"""The benchmark's workloads: closed loops with one client.

``osm_ingest`` ingests one generated OSM extract per request the way the
reference does, Step 1 then Step 2: ``read_osm_xml`` -> ``audit`` over
the exploded tags (collected) -> ``normalize(clean=True,
validate="permissive")`` -> ``write_tables(..., fmt="parquet")``.

``query_mix`` runs registered queries over the generated tables; a
request is building the plan (``queries()[name](spark, dir)``) plus
executing it to a ``noop`` sink.

Each workload has an untraced request (what a caller pays) and a traced
one that wraps a span around each call into a layer and, because Spark
is lazy, forces that layer's output on its own.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import time
import traceback

import numpy as np
import pyarrow.dataset as ds

from perfbench.inputs import OsmExpect
from perfbench.oracle import canon_hash

#: The mix is the registered queries that ROADMAP item 3 targets (q9/q21
#: join hints, the adaptive as-of, the md5-floor text scorer,
#: snapshot_diff's exchange), so that one run (a fresh JVM, two warm
#: passes, a 15 s window) stays near a minute on four cores.
#: x_dedup_semantic, also a target, is left out: its seven eager build
#: jobs and k-means rounds add about 14 s to every run.
MIX_KINDS = (
    "ext_tpch_q9_product_type_profit",
    "ext_tpch_q21_waiting_suppliers",
    "ext_asof_latest_order_adaptive",
    "x_text_quality_classifier",
    "x_corpus_snapshot_diff",
)

OSM_TABLES = ("nodes", "nodes_tags", "ways", "ways_nodes", "ways_tags")


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


class QueryMix:
    """Registered queries over the generated tables."""

    def __init__(self, spark, tracer, tables_dir: str, expected: dict[str, str], seed: int):
        from data_wrangling_spark.plans.registry import queries

        self.spark = spark
        self.tracer = tracer
        self.dir = tables_dir
        self.expected = expected
        self.builders = {k: queries()[k] for k in MIX_KINDS}
        self.rng = np.random.default_rng([seed, 1])
        self.ok: dict[str, bool] = {}

    def load_handles(self) -> None:
        from data_wrangling_spark.sources.tables import TABLES, load_table

        with self.tracer.span("sources.tables.load"):
            for t in TABLES:
                load_table(self.spark, self.dir, t)

    def warm(self) -> float:
        """Two untimed passes: the first collects each kind's result once and
        checks it, the second runs the requests as measured, so the window
        starts past the steepest part of the JIT warm-up (the first pass
        after a collect pass runs about 1.5 times as long as later ones).
        Returns the seconds spent hashing, which are not setup."""
        hashing = 0.0
        for kind in MIX_KINDS:
            try:
                pdf = self.builders[kind](self.spark, self.dir).toPandas()
            except Exception:  # counted against every request of the kind
                traceback.print_exc()
                self.ok[kind] = False
                continue
            t0 = time.perf_counter()
            self.ok[kind] = canon_hash(pdf) == self.expected.get(kind)
            hashing += time.perf_counter() - t0
        for kind in MIX_KINDS:
            if self.ok[kind]:
                self.request(kind, -1)
        return hashing

    def cycle(self) -> list[str]:
        """Every kind once, in a seeded order."""
        return [MIX_KINDS[i] for i in self.rng.permutation(len(MIX_KINDS))]

    def request(self, kind: str, rid: int) -> str:
        with self.tracer.span("request", request=rid):
            with self.tracer.span(f"plans.{kind}.build"):
                df = self.builders[kind](self.spark, self.dir)
            with self.tracer.span(f"exec.{kind}"):
                noop(df)
        return kind

    def finish(self, kind: str, result, rid: int) -> bool:
        """A noop sink returns nothing: a request is as correct as its
        kind's collected result."""
        return self.ok[kind]

    def layer_metrics(self, spans) -> dict[str, float]:
        out = {}
        for kind in MIX_KINDS:
            build = [s for s in spans if s.name == f"plans.{kind}.build"]
            out[f"plans.{kind}.build_s"] = median([s.seconds for s in build])
            out[f"plans.{kind}.build_jobs"] = (
                sum(s.counters["jobs"] for s in build) / len(build) if build else 0.0
            )
            out[f"exec.{kind}.s"] = median([s.seconds for s in spans if s.name == f"exec.{kind}"])
        return out

    def cleanup(self) -> None:
        pass


class OsmIngest:
    """The reference's audit -> clean -> load pipeline over XML extracts."""

    def __init__(self, spark, tracer, extracts: list[OsmExpect], out_root: str, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.extracts = extracts
        self.out_root = out_root
        self.rng = np.random.default_rng([seed, 2])
        self.ok: dict[str, bool] = {}
        self.order: list[OsmExpect] = []
        #: traced requests' (extract, output dir), kept for layer metrics
        self.done: dict[int, tuple[OsmExpect, str]] = {}

    def load_handles(self) -> None:
        pass

    def _out(self, rid: int) -> str:
        return os.path.join(self.out_root, f"req-{rid}")

    def _pipeline(self, path: str, out: str):
        from pyspark.sql import functions as F

        from data_wrangling_spark.operators.audit import audit
        from data_wrangling_spark.operators.normalize import normalize
        from data_wrangling_spark.sinks import write_tables
        from data_wrangling_spark.sources.osm_xml import read_osm_xml

        tr = self.tracer
        with tr.span("sources.osm_xml.parse"):
            raw = read_osm_xml(self.spark, path)
            if tr.enabled:
                raw = raw.persist()
                with tr.span("exec.osm_xml.parse"):
                    noop(raw)
        with tr.span("operators.audit"):
            tags = raw.select(F.explode("tags").alias("t")).select(
                F.col("t.k").alias("key"), F.col("t.v").alias("value")
            )
            audited = audit(tags)
            with tr.span("exec.audit"):
                rows = audited.collect()
        with tr.span("operators.normalize") as sp:
            tables = normalize(raw, clean=True, validate="permissive")
            if tr.enabled:
                with tr.span("exec.normalize"):
                    valid = sum(df.count() for df in tables.as_dict().values())
                    bad = sum(df.count() for df in tables.quarantine.values())
                sp.counters["valid"], sp.counters["shaped"] = valid, valid + bad
        with tr.span("sinks.write_tables"):
            write_tables(tables.as_dict(), out, fmt="parquet")
        if tr.enabled:
            raw.unpersist()
        return rows, tables

    def warm(self) -> float:
        """One untimed request, checked in full (also quarantine counts and
        a sample of cleaned tags); a failure counts against every request.
        Returns the seconds spent checking, which are not setup."""
        e, out, checking = self.extracts[0], self._out(-1), 0.0
        try:
            rows, tables = self._pipeline(e.path, out)
            t0 = time.perf_counter()
            self.ok["ingest"] = self.check(e, rows, out, tables)
            checking = time.perf_counter() - t0
        except Exception:
            traceback.print_exc()
            self.ok["ingest"] = False
        shutil.rmtree(out, ignore_errors=True)
        return checking

    def cycle(self) -> list[OsmExpect]:
        """One request: the next extract of a seeded round-robin order, so
        a window ends within one request of ``--seconds``."""
        if not self.order:
            self.order = [self.extracts[i] for i in self.rng.permutation(len(self.extracts))]
        return [self.order.pop()]

    def request(self, e: OsmExpect, rid: int) -> tuple[list, str]:
        out = self._out(rid)
        with self.tracer.span("request", request=rid):
            rows, _ = self._pipeline(e.path, out)
        return rows, out

    def check(self, e: OsmExpect, rows, out: str, tables=None) -> bool:
        """Audit rows and written row counts against the generator; with
        ``tables``, also quarantine counts and the cleaned-tag sample."""
        got_audit = sorted(
            [r["field"], r["bucket"], "|".join(r["values"]), r["n_values"]] for r in rows
        )
        ok = got_audit == e.audit
        for t in OSM_TABLES:
            ok &= ds.dataset(f"{out}/{t}", format="parquet", partitioning="hive").count_rows() == e.tables[t]
        if tables is not None:
            for t in OSM_TABLES:
                ok &= tables.quarantine[t].count() == e.quarantine[t]
            got = ds.dataset(f"{out}/nodes_tags", format="parquet", partitioning="hive").to_table()
            have = set(zip(*(got[c].to_pylist() for c in ("id", "key", "value", "type"))))
            ok &= all(tuple(r) in have for r in e.tag_sample)
        return ok

    def finish(self, e: OsmExpect, result, rid: int) -> bool:
        """Untimed per-request check of a measured request."""
        rows, out = result
        good = self.check(e, rows, out) and self.ok["ingest"]
        if self.tracer.enabled:
            self.done[rid] = (e, out)
        else:
            shutil.rmtree(out, ignore_errors=True)
        return good

    def layer_metrics(self, spans) -> dict[str, float]:
        """Over the traced requests that completed and were checked."""

        def named(n):
            return [s for s in spans if s.name == n and s.request in self.done]

        parse = named("sources.osm_xml.parse")
        norm = named("operators.normalize")
        write = named("sinks.write_tables")
        written = files = 0
        for _, out in self.done.values():
            for dirpath, _, names in os.walk(out):
                for n in names:
                    if n.endswith(".parquet"):
                        files += 1
                        written += os.path.getsize(os.path.join(dirpath, n))
            shutil.rmtree(out, ignore_errors=True)
        input_bytes = sum(e.bytes for e, _ in self.done.values())
        elements = sum(self.done[s.request][0].elements for s in parse)
        return {
            "sources.osm_xml.parse_s": median([s.seconds for s in parse]),
            "sources.osm_xml.tasks": median([s.counters["tasks"] for s in named("exec.osm_xml.parse")]),
            "sources.osm_xml.elements_per_s": ratio(elements, sum(s.seconds for s in parse)),
            "operators.audit.s": median([s.seconds for s in named("operators.audit")]),
            "operators.normalize.s": median([s.seconds for s in norm]),
            "operators.normalize.valid_share": ratio(
                sum(s.counters["valid"] for s in norm), sum(s.counters["shaped"] for s in norm)
            ),
            "sinks.write_tables.s": median([s.seconds for s in write]),
            "sinks.write_tables.files": ratio(files, len(self.done)),
            "sinks.write_tables.bytes_per_input_byte": ratio(written, input_bytes),
        }

    def cleanup(self) -> None:
        shutil.rmtree(self.out_root, ignore_errors=True)


def exec_metrics(spans, wall: float, cores: int, n_requests: int) -> dict[str, float]:
    """Spark's counters over every span of the traced window, per request."""
    tot: dict[str, float] = {}
    for s in spans:
        for k, v in s.counters.items():
            tot[k] = tot.get(k, 0.0) + v
    per = max(1, n_requests)
    return {
        "exec.jobs": tot.get("jobs", 0.0) / per,
        "exec.tasks": tot.get("tasks", 0.0) / per,
        "exec.scan_bytes": tot.get("scan_bytes", 0.0) / per,
        "exec.shuffle_read_bytes": tot.get("shuffle_read_bytes", 0.0) / per,
        "exec.shuffle_write_bytes": tot.get("shuffle_write_bytes", 0.0) / per,
        "exec.spill_bytes": tot.get("spill_bytes", 0.0) / per,
        "exec.gc_s": tot.get("gc_ms", 0.0) / 1000.0 / per,
        "exec.core_utilization": ratio(tot.get("run_ms", 0.0) / 1000.0, wall * cores),
    }


def tail_latency(latencies: list[float]) -> dict | None:
    """The highest whole percentile with at least ten samples beyond it."""
    n = len(latencies)
    if n < 20:
        return None
    pct = math.floor(100 * (1 - 10 / n))
    xs = sorted(latencies)
    return {"percentile": pct, "n": n, "value_s": xs[min(n - 1, math.ceil(pct / 100 * n) - 1)]}
