"""Focused regression tests for the round-13 optimization reworks.

Each test pins the PROPERTY the rework delivered (an operator ordering
or value-identity of a restructured internal), so a later refactor
cannot silently regress it. Plain operator-count facts live in
test_plan_hygiene.py's PLAN_FACTS. The full output values are pinned by
the oracle suite (test_queries_oracle.py) as for every registered query.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from data_wrangling_spark.plans.registry import QUERIES, queries

queries()  # force registration

SF_DIR = "/root/testdata/sf0.001"






def test_q11_filters_lineitem_before_catalog_aggregate(spark):
    """ext_tpch_q11 pushes the ASIA supplier semi-join below the
    (partkey, suppkey) catalog aggregate (guide §3.2): the plan must
    contain a LeftSemi join, and the q11 grouping aggregate must sit
    ABOVE it (the filter runs on scan output, not on aggregated
    partsupp rows)."""
    df = QUERIES["ext_tpch_q11_important_parts"].spark(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan, plan
    # Anchor on the CATALOG aggregate specifically (round-14 ADVICE
    # fix: the FIRST HashAggregate in a top-down plan string is the
    # topmost grand-total aggregate, which precedes the semi join in
    # ANY plan shape — asserting on it was near-vacuous). The plan
    # string concatenates TWO trees (the grand-total scalar subquery
    # replays the catalog aggregation), so check PER SUBTREE: every
    # LeftSemi must have a (ps_partkey, ps_suppkey) catalog aggregate
    # printed above it since the previous semi — a parent prints
    # before its children, so "aggregate consumes the semi-filtered
    # scan" reads as catalog-agg-text before LeftSemi-text within the
    # same subtree. If the semi were hoisted back above the catalog
    # aggregate, its subtree would show the semi first and fail.
    import re

    semis = [m.start() for m in re.finditer(r"LeftSemi", plan)]
    cat_aggs = [
        m.start()
        for m in re.finditer(
            r"HashAggregate\(keys=\[ps_partkey#\d+L?, ps_suppkey", plan
        )
    ]
    assert cat_aggs, f"no (ps_partkey, ps_suppkey) catalog aggregate:\n{plan}"
    prev = 0
    for s in semis:
        assert any(prev < a < s for a in cat_aggs), (
            "a LeftSemi appears without a (ps_partkey, ps_suppkey) "
            "catalog aggregate above it in its subtree — the ASIA "
            "semi join moved back above the catalog aggregate"
        )
        prev = s






def test_normalize_counts_matches_materializing_counts(spark):
    """normalize_counts (the one-pass aggregate-pushdown twin) must
    equal the per-table counts of the materializing normalize() on
    both fixtures, for both validate modes."""
    from data_wrangling_spark.operators.normalize import (
        normalize,
        normalize_counts,
    )
    from data_wrangling_spark.plans.osm_queries import _fixture_path
    from data_wrangling_spark.sources.osm_xml import read_osm_xml

    for include_invalid in (False, True):
        raw = read_osm_xml(
            spark, _fixture_path(include_invalid=include_invalid)
        ).persist()
        try:
            for validate in ("permissive", "off"):
                tables = normalize(
                    raw, clean=True, validate=validate
                ).as_dict()
                want = {name: df.count() for name, df in tables.items()}
                got = {
                    r["table"]: r["n_rows"]
                    for r in normalize_counts(raw, validate=validate).collect()
                }
                assert got == want, (include_invalid, validate, got, want)
        finally:
            raw.unpersist()


def test_normalize_counts_rejects_strict(spark):
    import pytest

    from data_wrangling_spark.operators.normalize import normalize_counts
    from data_wrangling_spark.plans.osm_queries import _fixture_path
    from data_wrangling_spark.sources.osm_xml import read_osm_xml

    raw = read_osm_xml(spark, _fixture_path(include_invalid=False))
    with pytest.raises(ValueError):
        normalize_counts(raw, validate="strict")


def test_lm_score_value_unchanged_by_single_key_join(spark):
    """The single-long-key (xxhash64(h1,h2)) probe join and the
    model-side NLL evaluation must leave the scored values exactly as
    the per-occurrence formulation: spot-check one document's
    aggregate against a direct recomputation in Python."""
    from data_wrangling_spark.operators.text_analysis import lm_score_bigram
    from data_wrangling_spark.sources.tables import load_table

    import math
    from collections import Counter

    docs = load_table(spark, SF_DIR, "documents")
    out = {
        r["doc_id"]: r
        for r in lm_score_bigram(docs).collect()
    }
    rows = docs.select("doc_id", "text").filter(
        F.col("text").isNotNull()
    ).collect()
    tok = {r["doc_id"]: r["text"].strip().split() for r in rows}
    tok = {d: t for d, t in tok.items() if len(t) >= 2}
    big = Counter()
    for t in tok.values():
        big.update(zip(t, t[1:]))
    uni = Counter()
    for (w1, _w2), c in big.items():
        uni[w1] += c
    vocab = len({w for t in tok.values() for w in t})
    some_doc = sorted(tok)[0]
    nll_sum = 0
    for pair in zip(tok[some_doc], tok[some_doc][1:]):
        p = (big[pair] + 1.0) / (uni[pair[0]] + vocab)
        nll_sum += int(round(-math.log(p) * 1000000.0))
    got = out[some_doc]
    assert got["n_bigrams"] == len(tok[some_doc]) - 1
    assert got["nll_micro_sum"] == nll_sum
