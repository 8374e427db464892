"""OP-SHAPE — the reference's shape_element pipeline as DataFrame
transformations (SURVEY.md §2.4, §3 entry point 2).

Reference (Step_2_CSV_and_Data_Cleaning.py:63-186): each <node>/<way>
element becomes rows in 5 relational tables — entity attrs projected by
fixed field list; <tag> children filtered (problem chars), namespace-split
and cleaned by key; <nd> children given dense 0-based positions.

Engine decomposition (all narrow, shuffle-free transformations):
    nodes       filter(element='node')  → select fixed attrs + casts
    ways        filter(element='way')   → select fixed attrs + casts
    nodes_tags  node rows → explode(tags) → problem filter → split → clean
    ways_tags   way  rows → same
    ways_nodes  way  rows → posexplode(nds)

Validation (OP-VALIDATE, S2:232-239 + schema.py:5-65): the cerberus
per-record raise is replaced by schema enforcement (casts) + a quarantine
split: 'permissive' routes violating rows to a side DataFrame, 'strict'
raises with the violation count — the 10×-cost per-row validator becomes
a vectorized null-check predicate (SURVEY.md §1.3).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_wrangling_spark.functions.cleaning import (
    clean_tag_value,
    is_problem_key,
    tag_key,
    tag_type,
)

#: fixed attribute projections (S2:56-60) with engine types (SURVEY §1.2)
NODE_FIELDS: dict[str, str] = {
    "id": "long",
    "lat": "double",
    "lon": "double",
    "user": "string",
    "uid": "long",
    "version": "string",
    "changeset": "long",
    "timestamp": "string",
}
WAY_FIELDS: dict[str, str] = {
    "id": "long",
    "user": "string",
    "uid": "long",
    "version": "string",
    "changeset": "long",
    "timestamp": "string",
}
TAG_FIELDS = ("id", "key", "value", "type")
WAY_NODE_FIELDS = ("id", "node_id", "position")


@dataclass
class NormalizedTables:
    """The reference's 5-table star-ish schema plus quarantines."""

    nodes: DataFrame
    nodes_tags: DataFrame
    ways: DataFrame
    ways_nodes: DataFrame
    ways_tags: DataFrame
    quarantine: dict[str, DataFrame]

    def as_dict(self) -> dict[str, DataFrame]:
        return {
            "nodes": self.nodes,
            "nodes_tags": self.nodes_tags,
            "ways": self.ways,
            "ways_nodes": self.ways_nodes,
            "ways_tags": self.ways_tags,
        }


def _entity(raw: DataFrame, element: str, fields: dict[str, str]) -> DataFrame:
    return raw.filter(F.col("element") == element).select(
        *[F.col(name).cast(typ).alias(name) for name, typ in fields.items()]
    )


def _tags(raw: DataFrame, element: str, clean: bool) -> DataFrame:
    """explode(tags) → OP-FLT-PROBLEM → OP-TAG-SPLIT → §2.5 cleaning."""
    exploded = (
        raw.filter(F.col("element") == element)
        .select(F.col("id").cast("long").alias("id"), F.explode("tags").alias("t"))
        .select("id", F.col("t.k").alias("k"), F.col("t.v").alias("v"))
        .filter(~is_problem_key("k"))
    )
    split = exploded.select(
        "id",
        tag_key("k").alias("key"),
        F.col("v").alias("raw_value"),
        tag_type("k").alias("type"),
    )
    value = clean_tag_value("key", F.col("raw_value")) if clean else F.col("raw_value")
    return split.select("id", "key", value.alias("value"), "type")


def _way_nodes(raw: DataFrame) -> DataFrame:
    """OP-POSEXPLODE (S2:171-182): dense 0-based position per parent way —
    posexplode preserves the XML child order exactly."""
    return (
        raw.filter(F.col("element") == "way")
        .select(F.col("id").cast("long").alias("id"), F.posexplode("nds"))
        .select(
            "id",
            F.col("col").cast("long").alias("node_id"),
            F.col("pos").cast("int").alias("position"),
        )
    )


def _required_violation(df: DataFrame, required: tuple[str, ...]) -> Column:
    cond = F.lit(False)
    for c in required:
        cond = cond | F.col(c).isNull()
    return cond


def normalize_counts(raw: DataFrame, validate: str = "permissive") -> DataFrame:
    """Per-table VALID row counts of ``normalize(raw, validate=validate)``
    as ONE aggregate over the raw-element frame — the aggregate-pushdown
    twin of the 5-table fan-out (round 13, guide §1.2: don't compute
    things you throw away). Counting valid rows requires neither
    materializing the tables nor persisting the parse: each element
    contributes conditional sums, so the whole query is a single pass
    over the source (at the 100x bench: 15.95s for parse→persist→5
    count jobs vs 8.0s for the bare parse noop — this form runs AT the
    parse floor, measured at 0379a6b; `scripts/ab.py
    x_osm_scale_normalize 0379a6b^` re-times it).

    Value identity with the materializing form (asserted by
    tests against both fixtures and by the registered query's VALUES
    oracle):

    - nodes/ways: the schema casts are no-ops on RAW_ELEMENT_SCHEMA,
      so a row is valid iff its required attrs are non-null.
    - nodes_tags/ways_tags: rows with a PROBLEMCHARS key are dropped
      (not quarantined) by the problem FILTER; ``tag_key`` is null iff
      the raw key is null (but such rows never pass the problem filter:
      rlike(null) is null → filtered), ``tag_type`` is never null for a
      surviving key, and every cleaner in functions/cleaning.py is
      null-preserving (regexp_extract/replace, when, concat chains:
      null in → null out), so post-clean ``value`` is null iff the raw
      ``v`` is null. Validity per surviving tag row therefore =
      element id non-null AND v non-null — cleaning cannot change the
      count, so there is no ``clean`` parameter.
    - ways_nodes: position (posexplode) is never null; validity =
      way id non-null AND the nd ref non-null.

    validate='off' counts every row (no quarantine split); 'strict' is
    not supported here (use normalize() — strict needs the violating
    ROW, not a count)."""
    if validate not in ("off", "permissive"):
        # whitelist, not a 'strict' blacklist (round-14 ADVICE): a typo
        # like 'permisive' must error, not silently take a branch
        raise ValueError("normalize_counts supports validate='off'|'permissive'")
    is_node = F.col("element") == "node"
    is_way = F.col("element") == "way"

    def _attrs_ok(fields: dict[str, str]) -> Column:
        ok = F.lit(True)
        for name, typ in fields.items():
            ok = ok & F.col(name).cast(typ).isNotNull()
        return ok

    if validate == "off":
        node_ok = F.lit(True)
        way_ok = F.lit(True)
        tag_pred = lambda t: ~is_problem_key(t["k"])  # noqa: E731
        nd_pred = lambda x: F.lit(True)  # noqa: E731
        id_ok = F.lit(True)
    else:
        node_ok = _attrs_ok(NODE_FIELDS)
        way_ok = _attrs_ok(WAY_FIELDS)
        tag_pred = lambda t: ~is_problem_key(t["k"]) & t["v"].isNotNull()  # noqa: E731
        nd_pred = lambda x: x.isNotNull()  # noqa: E731
        id_ok = F.col("id").cast("long").isNotNull()
    # valid tag rows per element (the problem filter DROPS rows before
    # validation, so a problem-key tag counts nowhere); a null id
    # quarantines every child row of the element under 'permissive'
    n_tags = F.coalesce(F.size(F.filter("tags", tag_pred)), F.lit(0))
    n_nds = F.coalesce(F.size(F.filter("nds", nd_pred)), F.lit(0))
    one = raw.agg(
        F.sum(F.when(is_node & node_ok, 1).otherwise(0)).alias("_nodes"),
        F.sum(
            F.when(is_node & id_ok, n_tags).otherwise(0)
        ).alias("_nodes_tags"),
        F.sum(F.when(is_way & way_ok, 1).otherwise(0)).alias("_ways"),
        F.sum(
            F.when(is_way & id_ok, n_nds).otherwise(0)
        ).alias("_ways_nodes"),
        F.sum(
            F.when(is_way & id_ok, n_tags).otherwise(0)
        ).alias("_ways_tags"),
    )
    return one.select(
        F.expr(
            "stack(5, 'nodes', _nodes, 'nodes_tags', _nodes_tags, "
            "'ways', _ways, 'ways_nodes', _ways_nodes, "
            "'ways_tags', _ways_tags) AS (table, n_rows)"
        )
    ).select(
        "table", F.col("n_rows").cast("bigint").alias("n_rows")
    ).orderBy("table")


def normalize(
    raw: DataFrame,
    clean: bool = True,
    validate: str = "permissive",
) -> NormalizedTables:
    """Shape the raw-element DataFrame into the 5 normalized tables.

    validate: 'off' | 'permissive' (quarantine split) | 'strict' (raise on
    first violating table, mirroring the reference's per-record raise at
    S2:232-239 but with one vectorized pass instead of a 10× per-row cost).
    """
    tables: dict[str, DataFrame] = {
        "nodes": _entity(raw, "node", NODE_FIELDS),
        "nodes_tags": _tags(raw, "node", clean),
        "ways": _entity(raw, "way", WAY_FIELDS),
        "ways_nodes": _way_nodes(raw),
        "ways_tags": _tags(raw, "way", clean),
    }
    required = {
        "nodes": tuple(NODE_FIELDS),
        "nodes_tags": TAG_FIELDS,
        "ways": tuple(WAY_FIELDS),
        "ways_nodes": WAY_NODE_FIELDS,
        "ways_tags": TAG_FIELDS,
    }
    quarantine: dict[str, DataFrame] = {}
    if validate != "off":
        for name, df in tables.items():
            bad = _required_violation(df, required[name])
            quarantine[name] = df.filter(bad)
            tables[name] = df.filter(~bad)
        if validate == "strict":
            for name, q in quarantine.items():
                # one pass, not count()+first() (each re-runs the
                # table's shaping over the raw frame)
                bad_sample = q.take(1)
                if bad_sample:
                    raise ValueError(
                        f"validation failed: table '{name}' has rows "
                        "violating required-field constraints; first: "
                        f"{bad_sample[0]}"
                    )
    return NormalizedTables(quarantine=quarantine, **tables)
