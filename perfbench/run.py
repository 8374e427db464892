#!/usr/bin/env python3
"""Benchmark of the data_wrangling_spark engine: one closed-loop client
against inputs generated from a seed.

    python3 perfbench/run.py --workload osm_ingest --seed 1 --seconds 10 --trace 0

Run it from the repository root.  Each invocation is one fresh process
with its own Spark session on ``local[<cpus>]``.  The workloads, their
metrics and bounds are declared in ``BENCHMARK.json``.

``--trace 0`` times requests as a caller issues them and prints the
end-to-end metrics.  ``--trace 1`` first repeats that untraced window,
then runs a traced window that wraps a span around each call into a
layer, and prints the per-layer metrics, the layers' self time and the
tracing overhead against the untraced window.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  The line before it
(``perfbench-info``) pins the environment and holds the figures that
are reported but not gated.  Inputs and expected results are cached
under ``.perfbench/inputs``; Spark's local dirs, its warehouse and the
written tables go under ``.perfbench/run``, which each run clears.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

PROCESS_START = time.perf_counter()

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_DIR = os.path.join(ROOT, ".perfbench")
INPUT_DIR = os.path.join(BENCH_DIR, "inputs")
RUN_DIR = os.path.join(BENCH_DIR, "run")

#: fixed driver heap, so memory figures compare across machines and commits
DRIVER_MEM = "2g"

WORKLOADS = ("osm_ingest", "query_mix")


class RssSampler(threading.Thread):
    """Peak resident memory of this process and its descendants (the
    driver JVM and the Python workers), read from ``/proc``."""

    def __init__(self, interval: float = 0.2):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_kb = 0
        self._stop_event = threading.Event()

    def run(self) -> None:
        while not self._stop_event.is_set():
            self.sample()
            self._stop_event.wait(self.interval)

    def stop(self) -> None:
        self._stop_event.set()
        self.join(timeout=5)

    def sample(self) -> None:
        parents: dict[int, int] = {}
        for entry in os.listdir("/proc"):
            if entry.isdigit():
                try:
                    with open(f"/proc/{entry}/stat") as f:
                        parents[int(entry)] = int(f.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    continue
        tree, frontier = {os.getpid()}, [os.getpid()]
        while frontier:
            pid = frontier.pop()
            kids = [p for p, pp in parents.items() if pp == pid and p not in tree]
            tree.update(kids)
            frontier.extend(kids)
        total = 0
        for pid in tree:
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmRSS:"):
                            total += int(line.split()[1])
                            break
            except OSError:
                continue
        self.peak_kb = max(self.peak_kb, total)


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds <= 0:
        ap.error("--seconds must be positive")
    return args


def pin_environment(cpus: int) -> None:
    """Everything the JVM and its Python workers inherit; set before the
    session starts."""
    for d in ("spark-local", "warehouse", "tmp", "duckdb", "out"):
        os.makedirs(os.path.join(RUN_DIR, d), exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(RUN_DIR, "spark-local")
    os.environ["TMPDIR"] = os.path.join(RUN_DIR, "tmp")
    os.environ.pop("OMP_NUM_THREADS", None)


def session_conf(trace: bool) -> dict[str, str]:
    tmp = os.path.join(RUN_DIR, "tmp")
    conf = {
        "spark.local.dir": os.path.join(RUN_DIR, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(RUN_DIR, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if trace:
        # keep every job and stage of the run in the status store
        conf["spark.ui.retainedJobs"] = "100000"
        conf["spark.ui.retainedStages"] = "100000"
    return conf


def measure(wl, seconds: float, rid0: int) -> list[tuple[str, float, bool]]:
    """Closed loop, one client: whole cycles until ``seconds`` of request
    time have passed.  Returns (kind, latency, correct) per request; the
    untimed per-request checks are not part of any latency.  An error in
    a request or in its check is a failed request; the loop goes on."""
    records: list[tuple[str, float, bool]] = []
    busy, rid = 0.0, rid0
    while busy < seconds:
        for item in wl.cycle():
            t0 = time.perf_counter()
            try:
                result = wl.request(item, rid)
            except Exception:
                traceback.print_exc()
                result = None
            dt = time.perf_counter() - t0
            try:
                good = result is not None and wl.finish(item, result, rid)
            except Exception:
                traceback.print_exc()
                good = False
            records.append((os.path.basename(str(getattr(item, "path", item))), dt, good))
            busy += dt
            rid += 1
    return records


def summarize(records) -> dict:
    lat = [dt for _, dt, _ in records]
    wall = sum(lat)
    good = sum(1 for *_, ok in records if ok)
    return {
        "attempted": len(records),
        "failed": len(records) - good,
        "wall_s": wall,
        "requests_per_s": good / wall if wall else 0.0,
        "latency_p50_s": float(statistics.median(lat)) if lat else 0.0,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (
        os.path.isfile(os.path.join(ROOT, "data_wrangling_spark", "session.py"))
        and os.path.isfile(os.path.join(ROOT, "scripts", "bench_scale.py"))
    ):
        fail(f"{ROOT} is not a checkout of the engine (data_wrangling_spark/ missing)")
    cpus = len(os.sched_getaffinity(0))
    sys.path.insert(0, ROOT)
    shutil.rmtree(RUN_DIR, ignore_errors=True)
    pin_environment(cpus)
    rss = RssSampler()
    rss.start()
    try:
        return run(args, cpus, rss)
    finally:
        rss.stop()
        shutil.rmtree(RUN_DIR, ignore_errors=True)


def run(args, cpus: int, rss: RssSampler) -> int:
    import data_wrangling_spark
    from perfbench import inputs, oracle, workloads
    from perfbench.trace import Span, Tracer

    if not os.path.abspath(data_wrangling_spark.__file__).startswith(ROOT + os.sep):
        fail(f"data_wrangling_spark imported from outside {ROOT}")

    # -- inputs and expectations: excluded from setup, reported on their own
    t_in = time.perf_counter()
    if args.workload == "osm_ingest":
        extracts = inputs.ensure_osm(INPUT_DIR, args.seed)
    else:
        from data_wrangling_spark.plans.registry import oracle_sql

        tables_dir, _ = inputs.ensure_tables(INPUT_DIR, args.seed)
        oracles = {k: oracle_sql()[k] for k in workloads.MIX_KINDS}
        expected = oracle.expected_hashes(tables_dir, oracles, cpus, os.path.join(RUN_DIR, "duckdb"))
    inputs_s = time.perf_counter() - t_in

    # -- setup: session, input handles, one warm pass over every kind
    from data_wrangling_spark.session import get_spark

    t_sess = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=session_conf(bool(args.trace)))
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t_sess
    tracer = Tracer(spark, enabled=bool(args.trace))
    if args.workload == "osm_ingest":
        wl = workloads.OsmIngest(spark, tracer, extracts, os.path.join(RUN_DIR, "out"), args.seed)
    else:
        wl = workloads.QueryMix(spark, tracer, tables_dir, expected, args.seed)
    wl.load_handles()
    tracer.enabled = False
    hashing_s = wl.warm()
    setup_s = time.perf_counter() - PROCESS_START - inputs_s - hashing_s

    # -- measured window(s)
    records = measure(wl, args.seconds, 0)
    base = summarize(records)
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "master": spark.sparkContext.master,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "cpus": cpus,
        "driver_memory": DRIVER_MEM,
        "inputs_s": inputs_s,
        "kinds_correct": wl.ok,
        "failed_share": base["failed"] / base["attempted"],
        "latency_tail": workloads.tail_latency([dt for _, dt, _ in records]),
    }
    if args.trace:
        tracer.enabled = True
        traced = measure(wl, args.seconds, len(records))
        tracer.enabled = False
        tracer.collect_counters()
        window = [s for s in tracer.spans if s.request is not None]
        n = len(traced)
        t_wall = sum(dt for _, dt, _ in traced)
        metrics = {"session.start_s": session_s}
        for s in tracer.spans:
            if s.name == "sources.tables.load":
                metrics["sources.tables.load_s"] = s.seconds
        metrics.update(wl.layer_metrics(window))
        metrics.update(workloads.exec_metrics(window, t_wall, cpus, n))
        self_s = tracer.self_seconds(window)
        for layer in ("request", "sources", "operators", "sinks", "plans", "exec"):
            metrics[f"self.{layer}.s"] = self_s.get(layer, 0.0) / n
        metrics["trace.overhead_share"] = (t_wall / n) / (base["wall_s"] / base["attempted"]) - 1
        if args.workload == "query_mix":
            metrics.update(oracle.duckdb_seconds(tables_dir, oracles, cpus, os.path.join(RUN_DIR, "duckdb")))
        tracer.spans.insert(0, Span("session.start", t_sess, t_sess + session_s))
        tracer.write(os.path.join(BENCH_DIR, f"trace-{args.workload}-{args.seed}.jsonl"))
        attempted = base["attempted"] + n
        failed = base["failed"] + sum(1 for *_, ok in traced if not ok)
    else:
        metrics = {
            "setup_s": setup_s,
            "requests_per_s": base["requests_per_s"],
            "latency_p50_s": base["latency_p50_s"],
            "peak_rss_mb": rss.peak_kb / 1024.0,
        }
        attempted, failed = base["attempted"], base["failed"]
    wl.cleanup()
    stop_spark(spark)
    spec = load_spec()
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    wanted = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    info["not_exercised"] = [m for m in wanted if m not in metrics]
    print("perfbench-info " + json.dumps(info, default=str), flush=True)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m: {"value": float(metrics.get(m, 0.0)), "unit": units[m]} for m in wanted},
    }), flush=True)
    return 0


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


if __name__ == "__main__":
    sys.exit(main())
