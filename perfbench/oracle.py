"""Expected results computed without the engine.

Every registered query carries an ANSI ``oracle_sql``; DuckDB runs it over
the generated parquet and the result is reduced to one hash by the canon
rule of the registry's oracle checks (``__spark_entry__.py``): columns
sorted by name, rows sorted, floats via ``repr``, timestamps via
``isoformat``, nulls and NaN as ``<null>``.  Expectations are computed
once per input set and cached next to the inputs.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import statistics
import time

import numpy as np
import pandas as pd

from data_wrangling_spark.sources.tables import TABLES


def canon_hash(df: pd.DataFrame) -> str:
    """Order-insensitive value hash of a result frame."""
    df = df[sorted(df.columns)]
    rows = []
    for row in df.itertuples(index=False):
        vals = []
        for v in row:
            if isinstance(v, np.ndarray):
                v = v.tolist()
            if v is None or (isinstance(v, float) and math.isnan(v)):
                vals.append("<null>")
            elif isinstance(v, float):
                vals.append(repr(v))
            elif hasattr(v, "isoformat"):
                vals.append(pd.Timestamp(v).isoformat())
            else:
                vals.append(str(v))
        rows.append(vals)
    rows.sort()
    blob = json.dumps([list(df.columns), rows]).encode()
    return hashlib.sha256(blob).hexdigest()


def _connect(tables_dir: str, threads: int, tmp_dir: str):
    import duckdb

    con = duckdb.connect(config={
        "threads": threads, "temp_directory": tmp_dir, "memory_limit": "2GB",
    })
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{tables_dir}/{t}.parquet/*.parquet')"
        )
    return con


def duckdb_seconds(
    tables_dir: str, oracles: dict[str, str], threads: int, tmp_dir: str
) -> dict[str, float]:
    """``duckdb.<query>.s``: median of three timed runs after one warm run,
    results fetched.  A calibration for machine drift, never gated."""
    con = _connect(tables_dir, threads, tmp_dir)
    out = {}
    try:
        for name, sql in oracles.items():
            runs = []
            for _ in range(4):
                t0 = time.perf_counter()
                con.execute(sql).fetchall()
                runs.append(time.perf_counter() - t0)
            out[f"duckdb.{name}.s"] = statistics.median(runs[1:])
    finally:
        con.close()
    return out


def expected_hashes(
    tables_dir: str, oracles: dict[str, str], threads: int, tmp_dir: str
) -> dict[str, str]:
    """``{query: hash}`` of each oracle over ``tables_dir``, cached in
    ``tables_dir`` under a key that covers the SQL text itself."""
    key = hashlib.sha256(json.dumps(sorted(oracles.items())).encode()).hexdigest()[:16]
    cache = os.path.join(tables_dir, f"_expect-{key}.json")
    if os.path.exists(cache):
        with open(cache) as f:
            return json.load(f)
    con = _connect(tables_dir, threads, tmp_dir)
    try:
        out = {name: canon_hash(con.execute(sql).fetchdf()) for name, sql in oracles.items()}
    finally:
        con.close()
    with open(cache + ".tmp", "w") as f:
        json.dump(out, f)
    os.replace(cache + ".tmp", cache)
    return out
