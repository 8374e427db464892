#!/usr/bin/env python3
"""Regenerate SCALING.md: bench.py's numbers at sf0.01, sf0.1 and
key-shifted copies of sf0.1.

    python3 scripts/bench_scale.py [MULT ...]      (default: 10)

Each ×MULT copy of sf0.1 is written under ``$SPARK_GRAFT_SCALE_WORKDIR``
(default /tmp/dws-scale) as ``mult<MULT>/`` — parquet tables plus a
scaled OSM extract, ``osm_scaled.osm`` — and reused by later runs. At each
scale point this script takes every number from ``bench.py``:

- one ``bench.py`` run with ``SPARK_GRAFT_SF_DIR`` set to the point's
  directory gives the headline rows and their DuckDB anchor;
- one fresh-JVM ``bench.py --solo`` worker per ``perfbench`` mix query
  gives the mix rows, and ``bench.duckdb_anchor`` times their oracles.

It then rewrites SCALING.md in the repo root. It keeps no history: a
regression at scale is checked with
``scripts/ab.py QUERY REV --sf $SPARK_GRAFT_SCALE_WORKDIR/mult10``.

Scaled data (``materialize``): fact and entity tables (customer, orders,
lineitem, events, documents, embeddings) are replicated MULT times, and
copy i adds ``i * STRIDE`` to every entity-id column, so join
relationships hold within a copy and never collide across copies; per-key
join fan-out stays constant as the data grows. Dimension tables (region,
nation, part, supplier) are copied as-is, as in TPC-H, and timestamps are
unchanged. Each scaled table is written as several parquet files, one per
~4 MB on disk or ~4k rows, whichever gives more files, capped at 256:
parquet cannot be split below a row group, so a table of few large files
would cap every scan at a few tasks in both engines.

This module is imported by the benchmark's input builder
(``perfbench/inputs.py``) for ``STRIDE``, ``SHIFT_COLS`` and
``DIM_TABLES``, so its import loads neither pyspark nor duckdb.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

STRIDE = 1_000_000_000  # key shift per copy; far above any base key

#: entity-id columns to shift per replicated table (dims stay constant)
SHIFT_COLS: dict[str, list[str]] = {
    "customer": ["c_custkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
DIM_TABLES = ["region", "nation", "part", "supplier"]

#: bump to force scale-dir regeneration when the on-disk layout rules
#: change (v2: bytes+rows file-count formula — see materialize())
LAYOUT_VERSION = 2

#: the commit whose SCALING.md still holds the sections measured on the
#: 32-core box of rounds 1-14 (skew, streaming, advisory-size A/B,
#: cross-round diff, round-13 addendum, XML split, AQE-final plan)
ROUND_ERA_SCALING = "104d720:SCALING.md"

BASE_DIRS = (
    ("sf0.01", "/root/testdata/sf0.01"),
    ("sf0.1", "/root/testdata/sf0.1"),
)


def _path_bytes(path: str) -> int:
    """Total bytes of a parquet file or directory (fs metadata only)."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def materialize(spark, base_dir: str, out_dir: str, mult: int) -> dict:
    """Write the key-shifted MULT-times copy of ``base_dir`` into
    ``out_dir`` (see the module docstring). Idempotent: skips when a
    marker recording (base_dir, mult, layout) exists. Returns the marker
    meta dict ({"rows": {table: n}, ...})."""
    from pyspark.sql import functions as F

    from data_wrangling_spark.sources.tables import ensure_utc

    ensure_utc(spark)  # scaled files inherit the engine's timestamp model

    marker = os.path.join(out_dir, "_SCALE_OK.json")
    if os.path.exists(marker):
        with open(marker) as f:
            meta = json.load(f)
        if (
            meta.get("base") == base_dir
            and meta.get("mult") == mult
            and meta.get("layout") == LAYOUT_VERSION
        ):
            return meta

    rows: dict[str, int] = {}
    copies = spark.range(mult).withColumnRenamed("id", "_copy")
    for table, shift_cols in SHIFT_COLS.items():
        src = os.path.join(base_dir, f"{table}.parquet")
        df = spark.read.parquet(src)
        scaled = df.crossJoin(F.broadcast(copies)).select(
            *[
                (F.col(c) + F.col("_copy") * F.lit(STRIDE)).alias(c)
                if c in shift_cols
                else F.col(c)
                for c in df.columns
            ]
        )
        n_base = df.count()
        # file count: >= ~4 MB of scan work per file, or ~4k rows per
        # file for wide-in-memory, tiny-on-disk tables (float-array
        # embeddings), whichever gives more files, capped at 256
        n_files = max(1, min(256, max(
            (_path_bytes(src) * mult) // (4 << 20),
            (n_base * mult) // 4_000,
        )))
        dst = os.path.join(out_dir, f"{table}.parquet")
        scaled.repartition(n_files).write.mode("overwrite").parquet(dst)
        rows[table] = n_base * mult
    for table in DIM_TABLES:
        df = spark.read.parquet(os.path.join(base_dir, f"{table}.parquet"))
        df.write.mode("overwrite").parquet(os.path.join(out_dir, f"{table}.parquet"))
        rows[table] = df.count()
    meta = {"base": base_dir, "mult": mult, "rows": rows, "layout": LAYOUT_VERSION}
    with open(marker, "w") as f:
        json.dump(meta, f)
    return meta


USERS = ["alice", "bob", "carol", "dave", "erin", "frank%20o'hara", "grace"]
TAGSETS = [
    "",
    '<tag k="highway" v="residential"/>',
    '<tag k="name" v="North Lamar Blvd"/><tag k="tiger:county" v="Travis, TX"/>',
    '<tag k="amenity" v="cafe"/><tag k="addr:street" v="Burnet Rd"/>'
    '<tag k="addr:postcode" v="78758"/>',
]


def generate(path: str, n_nodes: int, n_ways: int) -> None:
    """Write a synthetic OSM extract of ``n_nodes`` nodes (cycling through
    ``USERS`` and ``TAGSETS``) and ``n_ways`` ways of 8 node refs each.
    Writes to a temp path and os.replace()s into place: a run killed
    mid-generate must not leave a truncated file that later runs
    silently reuse via the exists-check (same atomicity rule as the
    golden parquet writes)."""
    t0 = time.perf_counter()
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w", buffering=1 << 22) as f:
        f.write('<?xml version="1.0" encoding="UTF-8"?>\n')
        f.write('<osm version="0.6" generator="dws-bench">\n')
        for i in range(n_nodes):
            u = USERS[i % len(USERS)]
            tags = TAGSETS[i % len(TAGSETS)]
            lat = 30.0 + (i % 10_000) * 1e-5
            lon = -97.0 - (i % 9_973) * 1e-5
            if tags:
                f.write(
                    f'  <node id="{i + 1}" lat="{lat:.7f}" lon="{lon:.7f}" '
                    f'user="{u}" uid="{i % 5000 + 1}" version="{i % 9 + 1}" '
                    f'changeset="{i % 77777 + 1}" '
                    f'timestamp="2017-0{i % 9 + 1}-15T12:30:45Z">'
                    f"{tags}</node>\n"
                )
            else:
                f.write(
                    f'  <node id="{i + 1}" lat="{lat:.7f}" lon="{lon:.7f}" '
                    f'user="{u}" uid="{i % 5000 + 1}" version="{i % 9 + 1}" '
                    f'changeset="{i % 77777 + 1}" '
                    f'timestamp="2017-0{i % 9 + 1}-15T12:30:45Z"/>\n'
                )
        for i in range(n_ways):
            wid = 10_000_000 + i
            nds = "".join(
                f'<nd ref="{(i * 7 + j) % n_nodes + 1}"/>' for j in range(8)
            )
            f.write(
                f'  <way id="{wid}" user="{USERS[i % len(USERS)]}" '
                f'uid="{i % 5000 + 1}" version="1" changeset="{i % 555 + 1}" '
                f'timestamp="2017-03-0{i % 9 + 1}T08:00:00Z">{nds}'
                f'<tag k="highway" v="service"/></way>\n'
            )
        f.write("</osm>\n")
    os.replace(tmp, path)
    print(
        f"generated {path}: {os.path.getsize(path) / 1e6:.0f} MB in "
        f"{time.perf_counter() - t0:.1f}s",
        file=sys.stderr,
    )


#: scaled OSM XML density per multiplier, calibrated to the round-5
#: generator (~210 B/element: 800k nodes + 100k ways ≈ 189 MB) so
#: mult10 ≈ 90 MB and mult100 ≈ 900 MB — the same order as the scaled
#: parquet facts, exercising the split-parallel scan well past the
#: round-5 single-file bench
OSM_NODES_PER_MULT = 38_000
OSM_WAYS_PER_MULT = 4_750


def materialize_osm(out_dir: str, mult: int) -> str:
    """Write `{out_dir}/osm_scaled.osm` for the OSM scale rows
    (x_osm_scale_audit / x_osm_scale_normalize). Pure single-thread
    Python — no Spark session, safe to run next to nothing. Idempotent:
    generate() writes to a tmp name and os.replace()s, so an existing
    file is complete by construction."""
    path = os.path.join(out_dir, "osm_scaled.osm")
    if not os.path.exists(path):
        os.makedirs(out_dir, exist_ok=True)
        generate(path, OSM_NODES_PER_MULT * mult, OSM_WAYS_PER_MULT * mult)
    return path


def row_counts(sf_dir: str) -> dict[str, int]:
    """Rows per table at ``sf_dir``, summed from parquet footers."""
    import pyarrow.dataset as ds

    return {
        t: ds.dataset(os.path.join(sf_dir, f"{t}.parquet")).count_rows()
        for t in [*SHIFT_COLS, *DIM_TABLES]
    }


def run_bench(sf_dir: str) -> dict:
    """One ``bench.py`` run at ``sf_dir``; returns its JSON line."""
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        env=dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir),
        capture_output=True, text=True, cwd=REPO,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"bench.py failed at {sf_dir}: {proc.stderr[-2000:]}")
    return json.loads(lines[-1])


def _cell(x) -> str:
    return "—" if x is None else f"{x:.3f}"


def _ratio(s, d) -> str:
    return f"{s / d:.1f}x" if s is not None and d else "—"


def render_scaling_md(header: dict, points: list[dict]) -> str:
    """SCALING.md text. ``header`` holds ``command``, ``commit``,
    ``cores``, ``cpus`` and ``driver_mem``; each point holds ``label``,
    ``rows`` ({table: n}), ``bench`` (bench.py's JSON line), ``solo``
    ({mix query: ``bench.py --solo`` line or None}) and ``duck`` ({mix
    query: DuckDB seconds})."""
    out: list[str] = []
    a = out.append
    a("# SCALING — bench.py at sf0.01, sf0.1 and scaled copies of sf0.1")
    a("")
    a(f"Generated by `{header['command']}` at commit `{header['commit']}` "
      f"on `local[{header['cores']}]` ({header['cpus']} CPUs available), "
      f"driver memory {header['driver_mem']}. "
      "The file is the script's unedited output.")
    a("")
    a("Every Spark number comes from `bench.py`. The headline rows are one")
    a("`bench.py` run per scale point: per query, median of 5 timed runs")
    a("after 2 warmups, each run on a freshly built plan with the cache")
    a("cleared after it; a query whose trimmed spread exceeds 30% is")
    a("measured again in a fresh JVM and the lower median is kept (marked")
    a("*solo*). The mix rows are the `perfbench` query mix, one fresh-JVM")
    a("`bench.py --solo` worker each, same loop. DuckDB runs each query's")
    a("oracle SQL over the same parquet files at the same thread count")
    a("(1 warmup, median of 3, results fetched). `×N sf0.1` is sf0.1")
    a("replicated N times with entity ids shifted per copy and dimension")
    a("tables constant (`materialize()` in `scripts/bench_scale.py`).")
    a("Regressions at scale are checked with `scripts/ab.py QUERY REV --sf")
    a("<scaled dir>`, not against this file.")
    a("")
    a("## Row counts")
    a("")
    a("| table | " + " | ".join(p["label"] for p in points) + " |")
    a("|---|" + "---|" * len(points))
    for t in points[0]["rows"]:
        a(f"| {t} | " + " | ".join(f"{p['rows'][t]:,}" for p in points) + " |")
    a("")
    a("## Summary (seconds)")
    a("")
    a("| scale | concurrent suite | headline sequential | headline DuckDB "
      "| mix Spark | mix DuckDB |")
    a("|---|---|---|---|---|---|")
    for p in points:
        b = p["bench"]
        mix = [s["median"] for s in p["solo"].values() if s]
        mix_s = sum(mix) if len(mix) == len(p["solo"]) else None
        mix_d = sum(p["duck"].values()) if "error" not in p["duck"] else None
        a(f"| {p['label']} | {_cell(b['value'])} | {_cell(b['sequential_total'])} "
          f"| {_cell(b['duckdb_calibration_total'])} | {_cell(mix_s)} "
          f"| {_cell(mix_d)} |")
    a("")
    for p in points:
        b = p["bench"]
        duck = b["duckdb_calibration"]
        a(f"## {p['label']}")
        a("")
        a("| query | set | Spark (s) | trimmed spread | DuckDB (s) | Spark/DuckDB |")
        a("|---|---|---|---|---|---|")
        for name, sec in b["queries"].items():
            solo = b["solo_remeasured"].get(name, {}).get("published") == "solo"
            d = duck.get(name)
            a(f"| {name} | headline{', *solo*' if solo else ''} | {sec:.3f} "
              f"| {b['trimmed_spread_pct'][name]}% | {_cell(d)} | {_ratio(sec, d)} |")
        for name, line in p["solo"].items():
            sec = line["median"] if line else None
            spread = f"{line['trimmed_pct']}%" if line else "failed"
            d = p["duck"].get(name)
            a(f"| {name} | mix | {_cell(sec)} | {spread} | {_cell(d)} "
              f"| {_ratio(sec, d)} |")
        a("")
        if "error" in duck or "error" in p["duck"]:
            a(f"DuckDB failed: {duck.get('error') or p['duck'].get('error')}")
            a("")
    a("The skew, streaming, advisory-size A/B, cross-round diff, round-13 "
      "addendum, XML-split and AQE-plan sections were measured on a 32-core "
      f"box in rounds 1-14 and remain at `{ROUND_ERA_SCALING}`.")
    return "\n".join(out) + "\n"


def main(argv: list[str]) -> None:
    from bench import duckdb_anchor, solo_remeasure
    from data_wrangling_spark.plans.registry import oracle_sql
    from data_wrangling_spark.session import default_parallelism, get_spark
    from perfbench.workloads import MIX_KINDS

    mults = [int(m) for m in argv] or [10]
    workdir = os.environ.get("SPARK_GRAFT_SCALE_WORKDIR", "/tmp/dws-scale")
    dirs = list(BASE_DIRS)
    spark = get_spark(app_name="dws-bench-scale")
    spark.sparkContext.setLogLevel("ERROR")
    for mult in mults:
        scaled = os.path.join(workdir, f"mult{mult}")
        materialize(spark, BASE_DIRS[-1][1], scaled, mult)
        materialize_osm(scaled, mult)
        dirs.append((f"×{mult} sf0.1", scaled))
    spark.stop()  # the measurements below each run in their own JVM

    oracles = oracle_sql()
    points = []
    for label, d in dirs:
        bench_line = run_bench(d)
        os.environ["SPARK_GRAFT_SF_DIR"] = d  # read by the solo workers
        solo = {name: solo_remeasure(name) for name in MIX_KINDS}
        duck = duckdb_anchor({n: oracles[n] for n in MIX_KINDS}, d)
        points.append({"label": label, "rows": row_counts(d),
                       "bench": bench_line, "solo": solo, "duck": duck})
        print(f"{label}: headline {bench_line['value']}s, mix "
              f"{json.dumps({n: s and s['median'] for n, s in solo.items()})}",
              file=sys.stderr, flush=True)

    commit = subprocess.run(
        ["git", "-C", REPO, "describe", "--always", "--dirty"],
        capture_output=True, text=True,
    ).stdout.strip()
    header = {
        "command": "python3 scripts/bench_scale.py " + " ".join(map(str, mults)),
        "commit": commit,
        "cores": default_parallelism(),
        "cpus": len(os.sched_getaffinity(0)),
        "driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "1g (Spark default)"),
    }
    with open(os.path.join(REPO, "SCALING.md"), "w") as f:
        f.write(render_scaling_md(header, points))


if __name__ == "__main__":
    main(sys.argv[1:])
