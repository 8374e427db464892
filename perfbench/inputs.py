"""Seeded benchmark inputs, made with NumPy and pyarrow, never with the
engine under test.

Two input families:

- ``tables``: the ten sf0.01 tables of TESTDATA.md (bundled under
  ``data/sf0.01``), replicated ``MULT`` times with the key-shift rule of
  ``scripts/bench_scale.py`` (``STRIDE``, ``SHIFT_COLS``,
  ``DIM_TABLES``).  The seed draws the row order and the file split of
  every replicated table.
- ``osm``: OSM-XML extracts in the reference's shape.  Every extract
  carries dirty values for every cleaner, problem-char keys, elements
  missing ``uid``/``user`` and relations.  The generator records what the
  pipeline must produce from each extract (``OsmExpect``).

The same seed gives byte-identical files.  Inputs are cached per seed
and layout version (``<root>/tables-v4-m2-s<seed>/``,
``<root>/osm-v4-s<seed>/``) behind a ``_DONE.json`` marker, written last.
"""

from __future__ import annotations

import json
import os
import re
import shutil
from dataclasses import asdict, dataclass, field
from xml.sax.saxutils import quoteattr

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from data_wrangling_spark.plans.osm_oracle import _AUDIT_SPECS, _PROBLEM, _SPLIT, _clean
from data_wrangling_spark.sources.tables import TABLES
from scripts.bench_scale import DIM_TABLES, SHIFT_COLS, STRIDE

#: bump when the generated bytes change, so stale caches are rebuilt
LAYOUT_VERSION = 4

#: copies of the base tables (key-shifted, as scripts/bench_scale.py does)
MULT = 2

#: parquet files per replicated table
FILES_PER_TABLE = 4

#: the base tables: the repository's sf0.01 test data (TESTDATA.md),
#: bundled with the benchmark because a run may read only its checkout
BASE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")

#: OSM extracts per seed, all of one size, so every request does the
#: same work and a window's median does not depend on which extracts it
#: drew; one request ingests one extract
OSM_EXTRACTS = 5
OSM_NODES = 3_000
OSM_WAYS_PER_NODE = 0.125
OSM_RELATIONS_PER_NODE = 0.005


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent, reproducible stream per (seed, purpose)."""
    return np.random.default_rng([seed, *stream.encode()])


def base_tables() -> dict[str, pa.Table]:
    """One copy of the ten TESTDATA.md tables, as bundled."""
    return {t: pq.read_table(os.path.join(BASE_DIR, f"{t}.parquet")) for t in TABLES}


def replicate(base: pa.Table, table: str, mult: int) -> pa.Table:
    """``mult`` key-shifted copies: copy i adds ``i * STRIDE`` to every
    entity-id column in ``SHIFT_COLS[table]``; dimension tables stay as-is."""
    if table in DIM_TABLES:
        return base
    copies = []
    for i in range(mult):
        cols = {
            name: (pc.add(base[name], i * STRIDE) if name in SHIFT_COLS[table] else base[name])
            for name in base.column_names
        }
        copies.append(pa.table(cols))
    return pa.concat_tables(copies)


def _write_split(t: pa.Table, path: str, r: np.random.Generator) -> None:
    """Seeded row order, split into ``FILES_PER_TABLE`` parquet files whose
    boundaries the seed moves by up to a tenth of a file."""
    os.makedirs(path)
    t = t.take(r.permutation(t.num_rows))
    n = FILES_PER_TABLE if t.num_rows >= 64 else 1
    size = t.num_rows / n
    bounds = [0, *(round(size * (i + r.uniform(-0.1, 0.1))) for i in range(1, n)), t.num_rows]
    for i in range(n):
        part = t.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, f"{path}/part-{i:05d}.parquet", compression="snappy")


# ---------------------------------------------------------------------------
# OSM extracts
# ---------------------------------------------------------------------------

_STREET_NAMES = ["Main", "Oak", "Cedar", "Pecan", "Elm", "FM 1100", "Basket Flower", "Mesquite"]
_STREET_SUFFIXES = ["St", "St.", "Rd", "Rd.", "Ave", "Blvd", "Dr", "Ln", "Cv", "Ct", "Trl",
                    "Street", "Bend", "Way", "Xyzzy"]
_CITIES = ["Elgin, TX", "Round Rock", "Round", "Cedar-Park", "Austin", "Bastrop, TX"]
_STATES = ["TX", "tx", "Texas", "texas", "Tex"]
_REGULAR = [("highway", ["residential", "service", "primary"]), ("building", ["yes", "house"]),
            ("amenity", ["school", "cafe", "parking"]), ("name", ["Memorial Park", "Elgin Depot"])]
_COLON = [("gnis:feature_id", None), ("tiger:name_base:1", ["County Line", "Oak"]),
          ("tiger:county", ["Bastrop, TX", "Travis, TX"]), ("FIXME:de", ["pruefen"])]
_PROBLEM_KEYS = ["odd key", "a.b", "x&y", "note?", "k=v"]


def _tag(r: np.random.Generator) -> tuple[str, str]:
    """One random tag, dirty for some cleaner most of the time."""
    kind = int(r.integers(0, 10))
    num = int(r.integers(0, 100_000))
    if kind == 0:
        return "addr:street", f"{_STREET_NAMES[num % 8]} {_STREET_SUFFIXES[num % 15]}"
    if kind == 1:
        d = f"512{num % 10_000_000:07d}"
        fmt = num % 4
        phone = (f"({d[:3]}) {d[3:6]}-{d[6:]}", f"+1 {d[:3]} {d[3:6]} {d[6:]}", d,
                 f"{d[:3]}.{d[3:6]}")[fmt]
        return "phone", phone
    if kind == 2:
        z = f"78{num % 1000:03d}"
        return "addr:postcode", (f"{z}-{num % 10_000:04d}", f"TX {z}", z, "Elgin")[num % 4]
    if kind == 3:
        return "addr:state", _STATES[num % 5]
    if kind == 4:
        return "addr:city", _CITIES[num % 6]
    if kind == 5:
        return "addr:housenumber", (f"{num % 900}-{num % 900 + 2}", f"{num % 900}B", str(num % 900))[num % 3]
    if kind in (6, 7):
        k, vals = _REGULAR[num % 4]
        return k, vals[num % len(vals)]
    if kind == 8:
        k, vals = _COLON[num % 4]
        return k, str(num) if vals is None else vals[num % len(vals)]
    return _PROBLEM_KEYS[num % 5], "dropped"


def clean_reference(key: str, value: str) -> str:
    """Pure-Python twin of the reference cleaners (SURVEY.md OP-FN-*).

    ``osm_oracle._clean`` serves street, postcode and city.  For phone and
    state it accepts only the forms its fixture holds (10-digit phones,
    any-case "tx"), while the reference slices any digit run 3/3/rest
    after dropping one leading "1", and maps only the exact "TX"."""
    if key == "phone":
        digits = re.sub(r"[^0-9]+", "", value)
        if digits.startswith("1"):
            digits = digits[1:]
        return f"{digits[:3]}-{digits[3:6]}-{digits[6:]}"
    if key == "state":
        return "Texas" if value == "TX" else value
    return _clean(key, value)


def _split_key(k: str) -> tuple[str, str]:
    m = _SPLIT.match(k)
    if m:
        return m.group(1), m.group(2).split(":")[0]
    return "regular", k


@dataclass
class OsmExpect:
    """What ``normalize`` + ``write_tables`` must produce from one extract."""

    path: str
    bytes: int
    elements: int
    #: written rows per table (valid rows only)
    tables: dict[str, int]
    #: quarantined rows per table
    quarantine: dict[str, int]
    #: sorted (field, bucket, "v1|v2|...", n_values) audit rows
    audit: list[list] = field(default_factory=list)
    #: seeded sample of expected node tag rows: [id, key, value, type]
    tag_sample: list[list] = field(default_factory=list)


def _audit_rows(tags: list[tuple[str, str]]) -> list[list]:
    """Pure-Python twin of the audit pass (osm_oracle's bucket specs)."""
    buckets: dict[tuple[str, str], set] = {}
    for k, v in tags:
        for fld, key, bucket_re, exclude in _AUDIT_SPECS:
            if k != key:
                continue
            if bucket_re is None:
                bucket = ""
            else:
                m = re.search(bucket_re, v)
                bucket = m.group(0) if m else ""
                if not bucket or bucket in exclude:
                    continue
            buckets.setdefault((fld, bucket), set()).add(v)
    return sorted([f, b, "|".join(sorted(vs)), len(vs)] for (f, b), vs in buckets.items())


def write_osm_extract(path: str, n_nodes: int, r: np.random.Generator) -> OsmExpect:
    """Render one extract to ``path`` and return its expectations."""
    lines = ["<?xml version='1.0' encoding='UTF-8'?>",
             "<osm version='0.6' generator='perfbench'>"]
    q = quoteattr
    counts = dict.fromkeys(["nodes", "nodes_tags", "ways", "ways_nodes", "ways_tags"], 0)
    quarantine = dict.fromkeys(counts, 0)
    all_tags: list[tuple[str, str]] = []
    node_tag_rows: list[list] = []

    def tags_xml(el_tags):
        return [f"    <tag k={q(k)} v={q(v)}/>" for k, v in el_tags]

    def attrs(i: int, valid: bool) -> str:
        who = f" user={q('mapper_' + str(i % 13))} uid={q(str(100 + i % 13))}" if valid else ""
        return (f"id={q(str(i))}{who} version={q(str(1 + i % 3))} "
                f"changeset={q(str(9_000_000 + i))} timestamp={q(f'2016-0{1 + i % 9}-1{i % 10}T0{i % 10}:00:00Z')}")

    node_ids = np.arange(1, n_nodes + 1) + 10_000_000 * int(r.integers(1, 100))
    for nid in node_ids.tolist():
        valid = r.random() >= 0.01
        el_tags = [_tag(r) for _ in range(int(r.integers(0, 4)))]
        all_tags.extend(el_tags)
        lat, lon = 30.0 + r.random(), -97.9 + r.random()
        head = f"  <node {attrs(nid, valid)} lat={q(f'{lat:.7f}')} lon={q(f'{lon:.7f}')}"
        if el_tags:
            lines += [head + ">", *tags_xml(el_tags), "  </node>"]
        else:
            lines.append(head + "/>")
        counts["nodes"] += valid
        quarantine["nodes"] += not valid
        for k, v in el_tags:
            if not _PROBLEM.search(k):
                counts["nodes_tags"] += 1
                ktype, key = _split_key(k)
                node_tag_rows.append([nid, key, clean_reference(key, v), ktype])
    n_ways = max(1, int(n_nodes * OSM_WAYS_PER_NODE))
    for j in range(n_ways):
        wid = int(node_ids[0]) + 5_000_000 + j
        valid = r.random() >= 0.01
        nds = node_ids[r.integers(0, n_nodes, int(r.integers(2, 9)))].tolist()
        el_tags = [_tag(r) for _ in range(int(r.integers(1, 4)))]
        all_tags.extend(el_tags)
        lines += [f"  <way {attrs(wid, valid)}>", *[f"    <nd ref={q(str(x))}/>" for x in nds],
                  *tags_xml(el_tags), "  </way>"]
        counts["ways"] += valid
        quarantine["ways"] += not valid
        counts["ways_nodes"] += len(nds)
        counts["ways_tags"] += sum(1 for k, _ in el_tags if not _PROBLEM.search(k))
    n_rel = max(1, int(n_nodes * OSM_RELATIONS_PER_NODE))
    for j in range(n_rel):
        rid = int(node_ids[0]) + 8_000_000 + j
        el_tags = [("type", "multipolygon"), _tag(r)]
        all_tags.extend(el_tags)
        lines += [f"  <relation {attrs(rid, True)}>",
                  f"    <member type='way' ref={q(str(int(node_ids[0]) + 5_000_000))} role='outer'/>",
                  *tags_xml(el_tags), "  </relation>"]
    lines.append("</osm>")
    data = ("\n".join(lines) + "\n").encode()
    with open(path, "wb") as f:
        f.write(data)
    pick = r.choice(len(node_tag_rows), min(200, len(node_tag_rows)), replace=False)
    return OsmExpect(
        path=path, bytes=len(data), elements=n_nodes + n_ways + n_rel,
        tables=counts, quarantine=quarantine, audit=_audit_rows(all_tags),
        tag_sample=sorted(node_tag_rows[i] for i in pick.tolist()),
    )


# ---------------------------------------------------------------------------
# cache
# ---------------------------------------------------------------------------


def _cached(root: str, name: str, build) -> tuple[str, dict]:
    """Run ``build(tmp_dir) -> meta`` once per ``root/name``; the marker
    is written last, so a directory with a marker is complete."""
    out = os.path.join(root, name)
    marker = os.path.join(out, "_DONE.json")
    if os.path.exists(marker):
        with open(marker) as f:
            return out, json.load(f)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(tmp)
    meta = build(tmp)
    with open(os.path.join(tmp, "_DONE.json"), "w") as f:
        json.dump(meta, f)
    os.replace(tmp, out)
    return out, meta


def ensure_tables(root: str, seed: int) -> tuple[str, dict]:
    """Directory of ``<table>.parquet/`` dirs for ``seed``; meta has row counts."""

    def build(tmp: str) -> dict:
        r = _rng(seed, "layout")
        rows = {}
        for name, t in base_tables().items():
            t = replicate(t, name, MULT)
            _write_split(t, os.path.join(tmp, f"{name}.parquet"), r)
            rows[name] = t.num_rows
        return {"seed": seed, "mult": MULT, "rows": rows}

    return _cached(root, f"tables-v{LAYOUT_VERSION}-m{MULT}-s{seed}", build)


def ensure_osm(root: str, seed: int) -> list[OsmExpect]:
    """The seed's OSM extracts with their expectations."""

    def build(tmp: str) -> dict:
        r = _rng(seed, "osm")
        out = []
        for i in range(OSM_EXTRACTS):
            e = write_osm_extract(os.path.join(tmp, f"extract-{i}.osm"), OSM_NODES, r)
            e.path = os.path.basename(e.path)
            out.append(asdict(e))
        return {"seed": seed, "extracts": out}

    out, meta = _cached(root, f"osm-v{LAYOUT_VERSION}-s{seed}", build)
    extracts = [OsmExpect(**e) for e in meta["extracts"]]
    for e in extracts:
        e.path = os.path.join(out, e.path)
    return extracts
