"""Independent golden oracle for the OSM-fixture queries.

Round-3 verdict gap 1: ``osm_pipeline_node_tags`` and
``x_stream_osm_ingest`` were the driver window's only ``no_oracle``
rows, because their input is XML rather than one of the pre-registered
parquet views. This module closes that: it computes the EXPECTED output
rows with an implementation deliberately independent of the Spark
pipeline, writes them to parquet, and the query registrations point
their DuckDB oracle at that parquet — making both queries hash-checked
like every other entry.

Independence, per table:

- ``expected_node_tags`` is a second implementation of the documented
  split/clean semantics (reference S2:242-279 split, S2:32-53 cleaners
  — the same spec ``functions/cleaning.py`` implements as Spark
  expressions) in ~40 lines of plain Python over the fixture's tag
  corpus. A defect in the Spark expressions cannot also appear here.
- ``expected_stream_rows`` constructs what the fixture XML CONTAINS
  directly from the fixture constants (same attribute formulas as
  ``build_osm_xml``), exercising the distributed incremental parse +
  streaming plumbing against a parser-free derivation.
"""

from __future__ import annotations

import json
import os
import re
import tempfile

from data_wrangling_spark.sources.osm_fixture import (
    NODE_TAG_CASES,
    WAY_CASES,
)

_PROBLEM = re.compile(r"[=\+/&<>;'\"\?%#$@\,\. \t\r\n]")
_SPLIT = re.compile(r"^([a-z_]+):(.+)$")

#: last-token street expansions the reference's update_name applies
#: (S2:42-53 mapping; audited suffixes)
_STREET_MAP = {
    "St": "Street",
    "St.": "Street",
    "Rd": "Road",
    "Rd.": "Road",
    "Ave": "Avenue",
    "Blvd": "Boulevard",
    "Dr": "Drive",
    "Ln": "Lane",
    "Cv": "Cove",
    "Ct": "Court",
    "Trl": "Trail",
}
#: street names accepted as-is (reference `expected` list, S2:32-40)
_STREET_EXPECTED = {
    "Street", "Avenue", "Boulevard", "Drive", "Court", "Place",
    "Square", "Lane", "Road", "Trail", "Parkway", "Commons", "Bend",
    "Circle", "Cove", "Crossing", "Highway", "Hollow", "Loop", "Park",
    "Pass", "Path", "Plaza", "Point", "Ridge", "Row", "Run", "Terrace",
    "Trace", "View", "Walk", "Way",
}


def _clean(key: str, value: str) -> str:
    if key == "street":
        tokens = value.split()
        if tokens and tokens[-1] not in _STREET_EXPECTED:
            repl = _STREET_MAP.get(tokens[-1])
            if repl:
                return " ".join(tokens[:-1] + [repl])
        return value
    if key == "phone":  # S2:249-257, for any digit count
        digits = re.sub(r"[^0-9]+", "", value)
        if digits.startswith("1"):
            digits = digits[1:]
        return f"{digits[:3]}-{digits[3:6]}-{digits[6:]}"
    if key == "postcode":
        m = re.search(r"\d{5}", value)
        return m.group(0) if m else ""
    if key == "state":  # S2:276-279: only the exact 'TX'
        return "Texas" if value == "TX" else value
    if key == "city":
        city = value.split(",")[0].strip()
        return "Round Rock" if city == "Round" else city
    return value  # housenumber + regular keys: identity (NB Step-2)


def expected_node_tags() -> list[tuple[int, str, str, str]]:
    rows = []
    for idx, (k, v) in enumerate(NODE_TAG_CASES):
        if _PROBLEM.search(k):
            continue
        m = _SPLIT.match(k)
        if m:
            ktype, key = m.group(1), m.group(2).split(":")[0]
        else:
            ktype, key = "regular", k
        rows.append((1000 + idx, key, _clean(key, v), ktype))
    return rows


def _node_attrs(i: int) -> dict:
    return {
        "element": "node",
        "id": i,
        "lat": 30.3 + (i % 100) * 1e-3,
        "lon": -97.4 + (i % 100) * 1e-3,
        "user": f"user_{i % 7}",
        "uid": 100 + i % 7,
        "version": str(1 + i % 3),
        "changeset": 9_000_000 + i,
        "timestamp": (
            f"2016-0{1 + i % 9}-1{i % 10}T0{i % 10}:2{i % 10}:3{i % 10}Z"
        ),
    }


def _tags_json(tags: list[tuple[str, str]]) -> str:
    return json.dumps(
        [{"k": k, "v": v} for k, v in tags], separators=(",", ":")
    )


def expected_stream_rows(n_extra_nodes: int = 20) -> list[dict]:
    rows = []
    for idx, (k, v) in enumerate(NODE_TAG_CASES):
        rows.append(
            {**_node_attrs(1000 + idx), "tags_json": _tags_json([(k, v)]),
             "nds_json": "[]"}
        )
    for j in range(n_extra_nodes):
        rows.append(
            {**_node_attrs(2000 + j), "tags_json": "[]", "nds_json": "[]"}
        )
    for way_id, nds, tags in WAY_CASES:
        rows.append({
            "element": "way", "id": way_id, "lat": None, "lon": None,
            "user": "mapper", "uid": 55, "version": "2",
            "changeset": 9_100_000 + way_id,
            "timestamp": "2016-05-05T12:00:00Z",
            "tags_json": _tags_json(tags),
            "nds_json": json.dumps(nds, separators=(",", ":")),
        })
    rows.append({
        "element": "relation", "id": 7001, "lat": None, "lon": None,
        "user": "mapper", "uid": 55, "version": "1",
        "changeset": 9_200_000, "timestamp": "2016-06-06T12:00:00Z",
        "tags_json": _tags_json([("type", "multipolygon")]),
        "nds_json": "[]",
    })
    return rows


#: the reference's audit bucket regexes (S1:11-16, S2:26-29), restated
#: here so the oracle does not import the implementation under test
_AUDIT_SPECS = [
    # (field, tag key, bucket regex or None, exclude buckets)
    ("street", "addr:street", r"\S+\.?$", _STREET_EXPECTED),
    ("state", "addr:state", r"[A-Za-z+]+", ()),
    ("phone", "phone", None, ()),
    ("postcode", "addr:postcode", None, ()),
    ("city", "addr:city", r"^[\w\-]+", ()),
    ("housenumber", "addr:housenumber", r"\d+", ()),
]


def expected_audit_rows() -> list[tuple[str, str, str, int]]:
    """Dual implementation of the audit pass (bucket + distinct raw
    values per bucket) over the fixture's raw node+way tags."""
    raw_tags = [kv for kv in NODE_TAG_CASES]
    for _, _, tags in WAY_CASES:
        raw_tags.extend(tags)
    buckets: dict[tuple[str, str], set] = {}
    for k, v in raw_tags:
        for field, key, bucket_re, exclude in _AUDIT_SPECS:
            if k != key:
                continue
            if bucket_re is None:
                bucket = ""
            else:
                m = re.search(bucket_re, v)
                bucket = m.group(0) if m else ""
                if not bucket or bucket in exclude:
                    continue
            buckets.setdefault((field, bucket), set()).add(v)
    return sorted(
        (f, b, "|".join(sorted(vals)), len(vals))
        for (f, b), vals in buckets.items()
    )


def expected_quarantine_rows(
    n_extra_nodes: int = 20,
) -> list[tuple[str, int, int]]:
    """Structural facts of the include_invalid fixture, derived from the
    generator constants: one node missing uid/user is quarantined;
    every other count is arithmetic over the case lists."""
    n_nodes = len(NODE_TAG_CASES) + n_extra_nodes  # valid nodes
    problem = lambda k: bool(_PROBLEM.search(k))  # noqa: E731
    n_node_tags = sum(1 for k, _ in NODE_TAG_CASES if not problem(k))
    n_way_nodes = sum(len(nds) for _, nds, _ in WAY_CASES)
    n_way_tags = sum(
        1 for _, _, tags in WAY_CASES for k, _ in tags if not problem(k)
    )
    return [
        ("nodes", 1, n_nodes),
        ("nodes_tags", 0, n_node_tags),
        ("ways", 0, len(WAY_CASES)),
        ("ways_nodes", 0, n_way_nodes),
        ("ways_tags", 0, n_way_tags),
    ]


_ORACLE_CACHE: dict[str, str] = {}


def oracle_parquet(table: str) -> str:
    """Path to the materialized golden parquet for ``table``.

    Written at registration time because the oracle SQL string must
    embed a concrete path. Content-addressed under ONE stable directory
    (hash of the expected rows in the path), so repeated imports across
    processes reuse the same tiny file instead of leaking a mkdtemp per
    process, and a code change to the expected rows can never collide
    with a stale file from a previous version."""
    cached = _ORACLE_CACHE.get(table)
    if cached is not None and os.path.exists(cached):
        return cached
    import hashlib
    import pyarrow as pa
    import pyarrow.parquet as pq

    content_key = hashlib.sha256(
        repr(
            (
                expected_node_tags(),
                expected_audit_rows(),
                expected_quarantine_rows(),
                expected_stream_rows(),
            )
        ).encode()
    ).hexdigest()[:12]
    stage = os.path.join(
        tempfile.gettempdir(), f"dws-osm-oracle-{content_key}"
    )
    os.makedirs(stage, exist_ok=True)
    path = f"{stage}/{table}.parquet"
    if os.path.exists(path):
        _ORACLE_CACHE[table] = path
        return path
    if table == "node_tags":
        ids, keys, vals, types = zip(*expected_node_tags())
        t = pa.table(
            {
                "id": pa.array(ids, pa.int64()),
                "key": pa.array(keys, pa.string()),
                "value": pa.array(vals, pa.string()),
                "type": pa.array(types, pa.string()),
            }
        )
    elif table == "audit":
        fields, bks, vals, ns = zip(*expected_audit_rows())
        t = pa.table(
            {
                "field": pa.array(fields, pa.string()),
                "bucket": pa.array(bks, pa.string()),
                "values": pa.array(vals, pa.string()),
                "n_values": pa.array(ns, pa.int64()),
            }
        )
    elif table == "quarantine":
        tables_, nq, nc = zip(*expected_quarantine_rows())
        t = pa.table(
            {
                "table": pa.array(tables_, pa.string()),
                "n_quarantined": pa.array(nq, pa.int64()),
                "n_clean": pa.array(nc, pa.int64()),
            }
        )
    elif table == "stream_rows":
        rows = expected_stream_rows()
        t = pa.table(
            {
                "element": pa.array([r["element"] for r in rows], pa.string()),
                "id": pa.array([r["id"] for r in rows], pa.int64()),
                "lat": pa.array([r["lat"] for r in rows], pa.float64()),
                "lon": pa.array([r["lon"] for r in rows], pa.float64()),
                "user": pa.array([r["user"] for r in rows], pa.string()),
                "uid": pa.array([r["uid"] for r in rows], pa.int64()),
                "version": pa.array([r["version"] for r in rows], pa.string()),
                "changeset": pa.array(
                    [r["changeset"] for r in rows], pa.int64()
                ),
                "timestamp": pa.array(
                    [r["timestamp"] for r in rows], pa.string()
                ),
                "tags_json": pa.array(
                    [r["tags_json"] for r in rows], pa.string()
                ),
                "nds_json": pa.array([r["nds_json"] for r in rows], pa.string()),
            }
        )
    else:
        raise ValueError(f"unknown oracle table: {table}")
    # write-to-temp + os.replace (atomic on POSIX): pytest and the
    # driver harness share /tmp, and a reader racing a direct write
    # could see a half-written parquet and fail the oracle spuriously
    tmp = f"{path}.{os.getpid()}.tmp"
    pq.write_table(t, tmp)
    os.replace(tmp, path)
    _ORACLE_CACHE[table] = path
    return path
