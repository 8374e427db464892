"""Corpus snapshot diff — change detection between two versions of a
document table, the primitive an incremental training-data pipeline
runs before reprocessing anything: which documents are new, which
vanished, which changed content, which are untouched.

Scale shape: each side reduces to (id, raw xxhash64) — a NARROW 8-byte
projection, no text leaves the scan — then ONE full-outer equi join on
the id decides added / removed / raw-identical-unchanged. The md5
regex normalization (two Java regex passes per document — measured
15.6s per 100x corpus scan vs 0.37s for the raw hash, round-9 probe)
runs ONLY on the raw-mismatch present-in-both subset, recovered by
joining the mismatch ids back to the text: raw-equal implies
normalized-equal, and added/removed statuses never read the
fingerprint at all, so the regex cost scales with the CHURN RATE, not
the corpus (at 1–10% realistic churn the normalization pass is 10–100x
smaller than the corpus; at 100% churn it degrades to the old
normalize-everything plan plus two cheap hash scans).

Reference scope: the reference pipeline (S2) is a one-shot batch
script with no notion of snapshots; §2.10/§2.11 extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_wrangling_spark.functions.text import fingerprint


def _raw_hash(text_col: str):
    """NULL-preserving raw-content hash: NULL text stays NULL (Spark's
    xxhash64 hashes NULL inputs to the seed, which would let a NULL
    collide with a real document whose text hashes to 42)."""
    c = F.col(text_col)
    return F.when(c.isNotNull(), F.xxhash64(c))


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document diff of two corpus snapshots. Returns
    (id_col, status) with status in {'added', 'removed', 'changed',
    'unchanged'}: added = id only in ``new``, removed = only in
    ``old``, changed = present in both with different normalized
    content fingerprints (functions/text.py fingerprint — so
    whitespace-only edits count as unchanged, same normalization as
    exact dedup), else unchanged.

    NULL text fingerprints NULL; a NULL on either side of a present
    pair compares as changed unless both are NULL (null-safe
    equality), matching the intuition that text -> NULL is a change.

    Short-circuit structure (round-9 verdict item 3): raw-byte
    equality implies normalized equality (normalization is a pure
    function of the raw text), so present-in-both pairs whose raw
    xxhash64 match are 'unchanged' WITHOUT any regex; only the
    raw-mismatch pairs join back to their text for the fingerprint
    compare — a lazy per-row ``when`` cannot express this because the
    narrow hash projection has already dropped the text, and carrying
    text through the full-outer join would ship the corpus through the
    shuffle. Both-NULL pairs raw-match as NULL eqNullSafe NULL →
    'unchanged', identical to NULL fingerprint semantics; one-NULL
    pairs raw-mismatch into the slow path where NULL fingerprint vs
    non-NULL → 'changed'.

    Round 14 (r13 verdict item 3): the fast branch and the churn-id
    branch are both consumers of the SAME full-outer join, and Spark
    re-executes a shared subtree per consumer — the shipped plan paid
    two corpus hash-scan pairs and two full-outer shuffles for one
    logical join. The join output is PERSISTED (a ~24-byte (id, two
    hashes, two flags) row — far below corpus scale; spills cleanly),
    so the hash scans and the full-outer exchange run exactly once and
    both branches read the cache: 3.16-3.28s -> 2.04-2.54s interleaved
    at 100x realistic churn (measured at 6482cf1; `scripts/ab.py
    x_corpus_snapshot_diff_realistic 6482cf1^`).
    CALLER CONTRACT: like cohort_retention/bm25_topk, the persist is
    not unpersisted here; long-lived sessions should clearCache()
    between calls (the timing harness rebuilds the plan and clears the
    cache per run, so the published numbers price the cache write)."""
    o = old.select(
        F.col(id_col).alias("_id"), _raw_hash(text_col).alias("_oraw")
    ).withColumn("_in_old", F.lit(True))
    n = new.select(
        F.col(id_col).alias("_id"), _raw_hash(text_col).alias("_nraw")
    ).withColumn("_in_new", F.lit(True))
    j = o.join(n, "_id", "full_outer").persist()
    fast_status = (
        F.when(F.col("_in_old").isNull(), F.lit("added"))
        .when(F.col("_in_new").isNull(), F.lit("removed"))
        .when(F.col("_oraw").eqNullSafe(F.col("_nraw")), F.lit("unchanged"))
    )
    fast = j.select(F.col("_id"), fast_status.alias("status")).filter(
        F.col("status").isNotNull()
    )
    # raw-mismatch present-in-both ids — the churn set. Joining ids
    # back to (id, text) keeps the fingerprint ABOVE the join, so the
    # regexes evaluate only for churned rows (AQE broadcasts the id
    # set at realistic churn and no text ever shuffles).
    mis = j.filter(
        F.col("_in_old").isNotNull()
        & F.col("_in_new").isNotNull()
        & ~F.col("_oraw").eqNullSafe(F.col("_nraw"))
    ).select("_id")
    otext = old.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_ot"))
    ntext = new.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_nt"))
    slow = (
        mis.join(otext, "_id")
        .join(ntext, "_id")
        .select(
            F.col("_id"),
            F.when(
                fingerprint("_ot").eqNullSafe(fingerprint("_nt")),
                F.lit("unchanged"),
            )
            .otherwise(F.lit("changed"))
            .alias("status"),
        )
    )
    return fast.unionAll(slow).select(
        F.col("_id").alias(id_col), F.col("status")
    )


def snapshot_diff_summary(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Status counts for the diff — the four-row dashboard number. One
    extra hash aggregate over the diff's (id, status) rows."""
    return (
        snapshot_diff(old, new, id_col, text_col)
        .groupBy("status")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
