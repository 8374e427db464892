"""Query registry: one spec per operator, Spark fn + oracle SQL together.

SURVEY.md §7 "what's hard" item 1: the main correctness risk is drift between
the Spark implementation and the DuckDB oracle SQL. Mitigation: both live in
ONE ``QuerySpec`` — ``__spark_entry__.queries()`` and ``oracle_sql()`` are
views over this registry, never written by hand.

Conventions (driver contract, /root/repo/__spark_entry__.py):
- every computed column is aliased IDENTICALLY in the Spark plan and the SQL;
- floating-point aggregates are rounded (or computed in decimal) on BOTH
  sides so the order-insensitive value hash is stable across engines;
- top-k queries carry a deterministic tiebreak column in the ORDER BY.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    spark: SparkQuery
    #: DuckDB-runnable ANSI SQL over the pre-registered views, or None for
    #: non-SQL-expressible ops (driver then records a rows-only check).
    oracle: str | None
    doc: str = ""
    #: include in bench.py's headline timing loop
    bench: bool = False


QUERIES: dict[str, QuerySpec] = {}

#: The driver's correctness gate checks only the FIRST 50 entries of
#: ``queries()``, so this list pins which 50 lead the iteration order;
#: every other registered query follows in registration order and keeps
#: its sf0.001 pytest oracle row. Slots rotate so every query earns
#: driver rows over time (reference-surface operators first, then new
#: or reworked plans, then the longest-unchecked); the per-round
#: rotation history is in git and ROUNDLOG.md.
DRIVER_WINDOW: list[str] = [
    "ext_table_profile",                 # audit family: one-pass profile
    "clean_tag_dispatch",                # cleaning family: per-key dispatch
    "osm_pipeline_audit",                # reference surface: OP-AGG-AUDIT
    "osm_pipeline_quarantine",           # reference surface: OP-VALIDATE
    "q1_type_counts_union",              # reference query
    "q3_join_filter",                    # reference query
    "q4_top_users",                      # reference query
    "ext_pricing_summary",               # bench headline
    "ext_tpch_q3_shipping_priority",     # bench headline
    "ext_asof_latest_order",             # as-of family: plain form
    "ext_funnel_steps",                  # ordered funnel
    "ext_cohort_retention",              # cohort matrix
    "x_multimodal_features",             # multimodal family
    "x_osm_scale_audit",                 # reference surface at scale
    "x_osm_scale_normalize",             # reference surface at scale
    "x_eval_calibration",                # eval family
    "x_dedup_containment",               # dedup family: n-gram containment
    "x_text_dsir",                       # DSIR importance weighting
    "x_dedup_incremental_diff",          # daily refresh: diff gates dedup
    "x_sketch_hll_weekly_users",         # sketch family
    "op_jsonl_roundtrip",                # sink round trip
    "x_stream_sessionize_custom",        # streaming family
    "x_dedup_incremental",               # batch-vs-index dedup
    "x_eval_brier",                      # eval family
    "x_eval_pr_sweep",                   # eval family
    "x_text_sequence_pack",              # distributed prefix sum
    "x_text_novelty",                    # text family
    "x_text_collocations",               # text family
    "x_corpus_source_cap",               # corpus family
    "ext_ohlc_bars",                     # windowed temporal
    "ext_tpch_q21_waiting_suppliers",    # TPC-H EXISTS/semi shapes
    "x_corpus_snapshot_diff_realistic",  # diff family: 1-10% churn
    "x_text_boilerplate_spans",          # text family
    "x_text_quality_classifier",         # hashed linear classifier
    "ext_ntile_deciles",                 # quantile family
    "x_text_boilerplate_removal",        # CCNet-style removal
    "x_text_lm_score",                   # bigram LM perplexity
    "x_dedup_jaccard_collapsed",         # exact Jaccard: collapse+prefix
    "clean_phone",                       # reference surface: phone cleaner
    "q5a_oldest_ts",                     # reference query: sort+limit
    "op_posexplode_positions",           # reference surface: OP-POSEXPLODE
    "x_sim_topk_ivf",                    # ANN family
    "x_eval_ece",                        # eval family
    "x_multimodal_image_hash",           # perceptual image hash
    "x_multimodal_image_dedup",          # banded-Hamming image near-dups
    "x_corpus_shard_manifest",           # corpus family
    "x_dedup_semantic",                  # SemDeDup
    "x_dataset_split_leakage_safe",      # group-aware split
    "ext_tpch_q7_volume_shipping",       # TPC-H multi-fact join
    "x_dedup_jaccard_prefix",            # exact Jaccard: prefix filter
]


def register(
    name: str,
    oracle: str | None,
    doc: str = "",
    bench: bool = False,
) -> Callable[[SparkQuery], SparkQuery]:
    """Decorator: register a (spark_fn, oracle_sql) pair under one name."""

    def wrap(fn: SparkQuery) -> SparkQuery:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = QuerySpec(name=name, spark=fn, oracle=oracle, doc=doc, bench=bench)
        return fn

    return wrap


def _ordered_names() -> list[str]:
    """All registered names, DRIVER_WINDOW first, the rest (demoted
    near-duplicates) after in registration order."""
    missing = [n for n in DRIVER_WINDOW if n not in QUERIES]
    if missing:
        raise ValueError(f"DRIVER_WINDOW names not registered: {missing}")
    tail = [n for n in QUERIES if n not in set(DRIVER_WINDOW)]
    return list(DRIVER_WINDOW) + tail


def queries() -> dict[str, SparkQuery]:
    _load_all()
    return {name: QUERIES[name].spark for name in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    _load_all()
    return {
        name: QUERIES[name].oracle
        for name in _ordered_names()
        if QUERIES[name].oracle is not None
    }


def bench_queries() -> dict[str, QuerySpec]:
    _load_all()
    return {name: spec for name, spec in QUERIES.items() if spec.bench}


_LOADED = False


def _load_all() -> None:
    """Import every module that registers specs (idempotent)."""
    global _LOADED
    if _LOADED:
        return
    # imports are for their registration side effects
    import data_wrangling_spark.plans.audit_queries  # noqa: F401
    import data_wrangling_spark.plans.cleaning_queries  # noqa: F401
    import data_wrangling_spark.plans.extension_queries  # noqa: F401
    import data_wrangling_spark.plans.osm_queries  # noqa: F401
    import data_wrangling_spark.plans.reference_queries  # noqa: F401
    import data_wrangling_spark.plans.scale_queries  # noqa: F401

    _LOADED = True
