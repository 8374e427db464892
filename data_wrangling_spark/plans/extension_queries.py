"""Extension-operator queries (SURVEY.md §2.11 / milestone 6): dedup,
similarity search, text analysis, multimodal, streaming, window/rollup.

Oracle policy: SQL-expressible ops carry an exact DuckDB twin (note the
'g' flag on DuckDB regexp_replace — it replaces first-match-only by
default, Spark replaces all). LSH-based and mapInPandas ops have no
faithful ANSI form → registered without oracle (driver rows-only check),
but each has a pytest asserting its semantics against a brute-force or
hand-computed reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_wrangling_spark.functions import text as TX
from data_wrangling_spark.plans.registry import register
from data_wrangling_spark.plans.seeded_goldens import golden_oracle
from data_wrangling_spark.sources.tables import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# X-DEDUP
# ---------------------------------------------------------------------------

@register(
    "x_dedup_exact",
    oracle="""
        SELECT CAST(min(doc_id) AS BIGINT) AS doc_id, text,
               COUNT(*) AS n_duplicates
        FROM documents GROUP BY text ORDER BY doc_id
    """,
    doc="X-DEDUP-EXACT: hash-groupBy on text, min-id canonical "
        "representative (deterministic, unlike dropDuplicates).",
    bench=True,
)
def x_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.groupBy("text")
        .agg(F.min("doc_id").alias("doc_id"), F.count("*").alias("n_duplicates"))
        .select("doc_id", "text", "n_duplicates")
        .orderBy("doc_id")
    )


@register(
    "x_dedup_fingerprint",
    oracle=r"""
        SELECT md5(trim(regexp_replace(regexp_replace(lower(text), '\s+', ' ', 'g'),
                                       '[^a-z0-9 ]', '', 'g'))) AS fingerprint,
               CAST(min(doc_id) AS BIGINT) AS doc_id,
               COUNT(*) AS n_duplicates
        FROM documents GROUP BY 1 ORDER BY doc_id
    """,
    doc="Fingerprint dedup: md5 of canonicalized text (lowercase, strip "
        "punctuation, squeeze spaces) — catches reformatting-only dups.",
)
def x_dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_wrangling_spark.operators.dedup import dedup_fingerprint

    docs = _t(spark, sf_dir, "documents")
    return dedup_fingerprint(docs, "text", "doc_id").orderBy("doc_id")


# plain pair-join re-derivation in the STRING-shingle domain, shared
# by every exact Jaccard form
_NGRAM_JACCARD_ORACLE = r"""
        WITH docs AS (
            SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
            FROM documents WHERE doc_id < 200
        ), sh AS (
            SELECT doc_id, unnest(list_distinct(
                list_transform(range(1, greatest(len(toks) - 1, 1)),
                               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
            )) AS shingle
            FROM docs WHERE len(toks) >= 3
        ), sizes AS (
            SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
        ), pairs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT p.doc_a, p.doc_b, p.n_common,
               sa.n AS n_a, sb.n AS n_b,
               CAST(p.n_common AS DOUBLE) / (sa.n + sb.n - p.n_common) AS jaccard
        FROM pairs p JOIN sizes sa ON p.doc_a = sa.doc_id
                     JOIN sizes sb ON p.doc_b = sb.doc_id
        WHERE CAST(p.n_common AS DOUBLE) / (sa.n + sb.n - p.n_common) >= 0.3
        ORDER BY doc_a, doc_b
    """


@register(
    "x_dedup_ngram_jaccard",
    oracle=_NGRAM_JACCARD_ORACLE,
    doc="X-DEDUP-FUZZY exact form: word-trigram Jaccard ≥ 0.3 via shingle "
        "inverted-index join (no n² grid). Restricted to doc_id < 200 to "
        "bound the oracle's pair count; the operator itself is unbounded.",
)
def x_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_wrangling_spark.operators.dedup import ngram_jaccard_pairs

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.3).orderBy(
        "doc_a", "doc_b"
    )


@register(
    "x_dedup_containment",
    oracle=r"""
        WITH docs AS (
            SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
            FROM documents WHERE doc_id < 200
        ), sh AS (
            SELECT doc_id, unnest(list_distinct(
                list_transform(range(1, greatest(len(toks) - 1, 1)),
                               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
            )) AS shingle
            FROM docs WHERE len(toks) >= 3
        ), sizes AS (
            SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
        ), pairs AS (
            SELECT a.doc_id AS src_doc, b.doc_id AS dst_doc,
                   COUNT(*) AS n_common
            FROM sh a JOIN sh b
              ON a.shingle = b.shingle AND a.doc_id != b.doc_id
            GROUP BY 1, 2
        )
        SELECT p.src_doc, p.dst_doc, p.n_common,
               sa.n AS n_src, sb.n AS n_dst,
               CAST(p.n_common AS DOUBLE) / sa.n AS containment
        FROM pairs p JOIN sizes sa ON p.src_doc = sa.doc_id
                     JOIN sizes sb ON p.dst_doc = sb.doc_id
        WHERE CAST(p.n_common AS DOUBLE) / sa.n >= 0.6
        ORDER BY src_doc, dst_doc
    """,
    doc="X-DEDUP-FUZZY asymmetric form: directed word-trigram "
        "containment |G_src ∩ G_dst| / |G_src| >= 0.6 — the "
        "quote/excerpt detector Jaccard cannot express (a snippet "
        "wholly inside a long article has containment 1.0 but Jaccard "
        "~0). Prefix filtering adapted to the asymmetric bound: only "
        "the src side prunes (prefix(src) ⋈ full postings), gram "
        "identity rides as 64-bit hashes (operators/dedup.py "
        "containment_pairs). Restricted to doc_id < 200 to bound the "
        "oracle's directed-pair count; the operator itself is "
        "unbounded.",
)
def x_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_wrangling_spark.operators.dedup import containment_pairs

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return containment_pairs(
        docs, "doc_id", "text", n=3, threshold=0.6
    ).orderBy("src_doc", "dst_doc")


@register(
    "x_corpus_snapshot_diff",
    oracle=r"""
        WITH oldv AS (
            SELECT doc_id, text FROM documents WHERE doc_id % 7 != 0
        ), newv AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 3 = 0 THEN text || ' rev2'
                        ELSE text END AS text
            FROM documents WHERE doc_id % 5 != 0
        ), ofp AS (
            SELECT doc_id,
                   md5(trim(regexp_replace(regexp_replace(lower(text),
                       '\s+', ' ', 'g'), '[^a-z0-9 ]', '', 'g'))) AS fp
            FROM oldv
        ), nfp AS (
            SELECT doc_id,
                   md5(trim(regexp_replace(regexp_replace(lower(text),
                       '\s+', ' ', 'g'), '[^a-z0-9 ]', '', 'g'))) AS fp
            FROM newv
        )
        SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
               CASE WHEN o.doc_id IS NULL THEN 'added'
                    WHEN n.doc_id IS NULL THEN 'removed'
                    WHEN o.fp IS NOT DISTINCT FROM n.fp THEN 'unchanged'
                    ELSE 'changed' END AS status
        FROM ofp o FULL OUTER JOIN nfp n ON o.doc_id = n.doc_id
    """,
    doc="Corpus snapshot diff (operators/diff.py): added / removed / "
        "changed / unchanged per document between two corpus versions — "
        "the change-detection primitive an incremental pipeline runs "
        "before reprocessing. Each side reduces to a narrow (id, "
        "normalized-content md5) projection + ONE full-outer equi join; "
        "whitespace-only edits count as unchanged (same normalization "
        "as exact dedup). Snapshots are derived deterministically from "
        "the one documents table (mod-7 drop = added, mod-5 drop = "
        "removed, mod-3 ' rev2' suffix = changed) on BOTH engines. "
        "UNORDERED output on BOTH engines (round 12): the driver's "
        "value-hash compare sorts rows by construction, and a global "
        "sort of a corpus-sized diff feed is presentation scaffolding "
        "a 100 TB pipeline never runs (downstream consumes it keyed) "
        "— on Spark it even costs a second full execution of the "
        "upstream for the range-partitioner's sampling pass (stage "
        "probe: 4.77s -> 3.21s at 100x, measured at 7451f6f; "
        "`scripts/ab.py x_corpus_snapshot_diff 7451f6f^`).",
)
def x_corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_wrangling_spark.operators.diff import snapshot_diff

    docs = _t(spark, sf_dir, "documents")
    oldv = docs.filter(F.col("doc_id") % 7 != 0).select("doc_id", "text")
    newv = docs.filter(F.col("doc_id") % 5 != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0, F.concat(F.col("text"), F.lit(" rev2"))
        ).otherwise(F.col("text")).alias("text"),
    )
    return snapshot_diff(oldv, newv, "doc_id", "text")


@register(
    "x_corpus_snapshot_diff_realistic",
    oracle=r"""
        WITH oldv AS (
            SELECT doc_id, text FROM documents WHERE doc_id % 29 != 0
        ), newv AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 13 = 0 THEN text || ' rev2'
                        ELSE text END AS text
            FROM documents WHERE doc_id % 31 != 0
        ), ofp AS (
            SELECT doc_id,
                   md5(trim(regexp_replace(regexp_replace(lower(text),
                       '\s+', ' ', 'g'), '[^a-z0-9 ]', '', 'g'))) AS fp
            FROM oldv
        ), nfp AS (
            SELECT doc_id,
                   md5(trim(regexp_replace(regexp_replace(lower(text),
                       '\s+', ' ', 'g'), '[^a-z0-9 ]', '', 'g'))) AS fp
            FROM newv
        )
        SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
               CASE WHEN o.doc_id IS NULL THEN 'added'
                    WHEN n.doc_id IS NULL THEN 'removed'
                    WHEN o.fp IS NOT DISTINCT FROM n.fp THEN 'unchanged'
                    ELSE 'changed' END AS status
        FROM ofp o FULL OUTER JOIN nfp n ON o.doc_id = n.doc_id
    """,
    doc="Corpus snapshot diff at the REALISTIC churn design point "
        "(round-10 verdict item 3): ~3.4% added (mod-29 drop from old), "
        "~3.2% removed (mod-31 drop from new), ~7.7% changed (mod-13 "
        "' rev2' suffix) — the 1–10% daily-crawl-refresh regime the "
        "raw-hash short-circuit in operators/diff.py is designed for, "
        "where the two-regex-pass fingerprint runs on <8% of documents "
        "and the diff cost is dominated by the two narrow (id, "
        "xxhash64) scans. The mod-3 27%-churn sibling "
        "(x_corpus_snapshot_diff) stays registered as the adversarial "
        "stress case; this row is the headline the scale table reads. "
        "UNORDERED on both engines since round 12 (see the sibling's "
        "doc: the global sort was presentation scaffolding costing a "
        "second upstream execution for range sampling; the driver "
        "compare is order-insensitive by construction).",
)
def x_corpus_snapshot_diff_realistic(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from data_wrangling_spark.operators.diff import snapshot_diff

    docs = _t(spark, sf_dir, "documents")
    oldv = docs.filter(F.col("doc_id") % 29 != 0).select("doc_id", "text")
    newv = docs.filter(F.col("doc_id") % 31 != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 13 == 0, F.concat(F.col("text"), F.lit(" rev2"))
        ).otherwise(F.col("text")).alias("text"),
    )
    return snapshot_diff(oldv, newv, "doc_id", "text")


@register(
    "x_dedup_jaccard_prefix",
    # SAME oracle as x_dedup_ngram_jaccard (plain pair-join re-derivation
    # in the STRING-shingle domain): prefix filtering is a candidate
    # PRUNING scheme, provably output-identical — a dropped true pair or
    # a gram-hash collision would surface as a driver hash mismatch here
    oracle=_NGRAM_JACCARD_ORACLE,
    doc="X-DEDUP-FUZZY, prefix-filtered exact form (AllPairs/PPJoin): "
        "identical output to x_dedup_ngram_jaccard, but the candidate "
        "join runs over each document's rarest (1-t)-fraction PREFIX "
        "postings only (global df order) — frequent shingles sort to "
        "the suffix and never generate candidates yet still count in "
        "verification, cutting the f²-pair blow-up WITHOUT the max_df "
        "valve's semantics change (operators/dedup.py "
        "jaccard_pairs_prefix).",
)
def x_dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_wrangling_spark.operators.dedup import jaccard_pairs_prefix

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return jaccard_pairs_prefix(
        docs, "doc_id", "text", n=3, threshold=0.3
    ).orderBy("doc_a", "doc_b")


@register(
    "x_dedup_jaccard_collapsed",
    # plain string-domain pair-join re-derivation over a corpus made
    # duplicate-DENSE by construction (two shifted-id replica subsets),
    # so BOTH expansion arms execute: intra-group pairs at Jaccard 1.0
    # and inter-group pairs expanded through the membership relation.
    # A dropped pair, a wrong swap of (n_a, n_b), or a gram-hash /
    # fingerprint collision all surface as a driver hash mismatch.
    oracle=r"""
        WITH corpus AS (
            SELECT doc_id, text FROM documents WHERE doc_id < 150
            UNION ALL
            SELECT doc_id + 10000, text FROM documents
            WHERE doc_id < 150 AND doc_id % 3 = 0
            UNION ALL
            SELECT doc_id + 20000, text FROM documents
            WHERE doc_id < 150 AND doc_id % 6 = 0
        ), docs AS (
            SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
            FROM corpus WHERE text IS NOT NULL
        ), sh AS (
            SELECT doc_id, unnest(list_distinct(
                list_transform(range(1, greatest(len(toks) - 1, 1)),
                               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
            )) AS shingle
            FROM docs WHERE len(toks) >= 3
        ), sizes AS (
            SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
        ), pairs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT p.doc_a, p.doc_b, p.n_common,
               sa.n AS n_a, sb.n AS n_b,
               CAST(p.n_common AS DOUBLE) / (sa.n + sb.n - p.n_common) AS jaccard
        FROM pairs p JOIN sizes sa ON p.doc_a = sa.doc_id
                     JOIN sizes sb ON p.doc_b = sb.doc_id
        WHERE CAST(p.n_common AS DOUBLE) / (sa.n + sb.n - p.n_common) >= 0.3
        ORDER BY doc_a, doc_b
    """,
    doc="X-DEDUP-FUZZY scalable-default composition (round-8 A/B "
        "finding made first-class): exact-dup collapse by "
        "token-sequence fingerprint -> prefix-filtered Jaccard over "
        "one representative per group -> expansion back through the "
        "membership relation (intra-group pairs at Jaccard 1.0, "
        "inter-group pairs with order-aware n_a/n_b swap). Output "
        "identical to x_dedup_ngram_jaccard on any corpus; beats the "
        "plain prefix form wherever duplicate groups carry the "
        "quadratic mass (operators/dedup.py jaccard_pairs_collapsed). "
        "The query's corpus is made duplicate-dense by unioning two "
        "shifted-id replica subsets so both expansion arms execute "
        "(round 13: the replicas derive by exploding an id-offset "
        "array over ONE scan instead of a 3-branch union — the "
        "collapse pipeline references its corpus several times and "
        "each reference re-executed all three scans; 3.3s -> 2.0s "
        "at 100x, identical pairs).",
)
def x_dedup_jaccard_collapsed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_wrangling_spark.operators.dedup import jaccard_pairs_collapsed

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 150)
        .select("doc_id", "text")
    )
    # doc_id % 6 == 0 implies % 3 == 0: one row fans out to its
    # replica set via explode, so every corpus reference costs ONE
    # documents scan (value-identical to the oracle's 3-branch union)
    offs = (
        F.when(
            F.col("doc_id") % 6 == 0,
            F.array(F.lit(0), F.lit(10000), F.lit(20000)),
        )
        .when(F.col("doc_id") % 3 == 0, F.array(F.lit(0), F.lit(10000)))
        .otherwise(F.array(F.lit(0)))
    )
    corpus = docs.select(
        F.explode(offs).alias("_off"), "doc_id", "text"
    ).select((F.col("doc_id") + F.col("_off")).alias("doc_id"), "text")
    return jaccard_pairs_collapsed(
        corpus, "doc_id", "text", n=3, threshold=0.3
    ).orderBy("doc_a", "doc_b")


@register(
    "x_dedup_minhash_lsh",
    oracle=golden_oracle("x_dedup_minhash_lsh"),  # INDEPENDENTLY
        # derived golden: pure-Python XXH64 dual implementation must
        # match before capture (plans/seeded_goldens.py policy +
        # standing pytest); recall pinned vs exact ngram_jaccard
    doc="X-DEDUP-FUZZY scale form: 64-hash MinHash, 16-band LSH bucket "
        "join, est-Jaccard ≥ 0.35. Rows-only driver check; "
        "tests/test_dedup.py checks recall vs the exact Jaccard pairs.",
)
def x_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_wrangling_spark.operators.dedup import minhash_near_duplicates

    docs = _t(spark, sf_dir, "documents")
    return minhash_near_duplicates(
        docs, "doc_id", "text", num_hashes=64, bands=16, threshold=0.35
    ).orderBy("doc_a", "doc_b")


@register(
    "x_dedup_simhash",
    oracle=golden_oracle("x_dedup_simhash"),  # INDEPENDENTLY derived
        # golden: pure-Python XXH64 dual implementation must match
        # before capture (plans/seeded_goldens.py policy + standing
        # pytest); bit-sketch semantics pinned in tests/test_dedup.py
    doc="SimHash near-dup: 64-bit sketch, 4-chunk pigeonhole bucket join, "
        "hamming ≤ 3 verification via bit_count(xor).",
)
def x_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_wrangling_spark.operators.dedup import simhash_near_duplicates

    docs = _t(spark, sf_dir, "documents")
    return simhash_near_duplicates(docs, "doc_id", "text", max_hamming=3).orderBy(
        "doc_a", "doc_b"
    )


@register(
    "x_dedup_embedding_cosine",
    oracle=golden_oracle("x_dedup_embedding_cosine"),  # pinned-snapshot
        # golden (4dp-rounded cosines make it partition-stable); tests
        # verify brute == lsh-verified subset
    doc="Embedding near-dup: hyperplane-LSH candidate join + exact cosine "
        "≥ 0.95 verification within buckets. The synthetic corpus's max "
        "pairwise cosine is ~0.51 (no organic near-duplicates), so the "
        "query unions in deterministic planted duplicates — the first 5 "
        "vectors rescaled by 1.1 under vec_id+1000000 — giving the "
        "driver's rows-only check a non-empty result that exercises the "
        "full LSH path (and pins cosine's scale invariance); a recall "
        "regression now shows up as a row-count drop instead of 0==0. "
        "Semantics pinned in tests/test_dedup.py.",
)
def x_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_wrangling_spark.operators.dedup import embedding_near_duplicates

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planted = emb.filter(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(
            F.col("embedding").cast("array<double>"), lambda x: x * 1.1
        ).cast("array<float>").alias("embedding"),
    )
    out = embedding_near_duplicates(
        emb.unionByName(planted), "vec_id", "embedding",
        threshold=0.95, method="lsh",
    )
    return out.select(
        "id_a", "id_b", F.round("cosine", 4).alias("cosine")
    ).orderBy("id_a", "id_b")


def _semantic_dedup_oracle_sql(
    k: int = 8, iters: int = 2, threshold_milli: int = 950
) -> str:
    """DuckDB oracle for x_dedup_semantic: the integer-exact SemDeDup
    pipeline (operators/dedup.py:semantic_dedup) is fully SQL-expressible
    because every step is exact integer arithmetic — quantized vectors,
    integer squared-L2 argmin, floor(sum/count) centroid updates via a
    deterministic IEEE double division, and a sqrt-free HUGEINT cosine
    test. Fixed Lloyd rounds unroll into a chain of MATERIALIZED CTEs
    (one (dist, assign, centroid) triple per round — the
    _pagerank_oracle_sql technique), so this is an INDEPENDENT
    derivation, not a pinned snapshot."""
    head = r"""
        WITH base AS MATERIALIZED (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
            UNION ALL
            SELECT vec_id + 1000000,
                   CAST(list_transform(CAST(embedding AS DOUBLE[]),
                                       x -> CAST(CAST(x * 1.1 AS FLOAT) AS DOUBLE))
                        AS DOUBLE[]) AS v
            FROM embeddings WHERE vec_id < 5
        ), qv AS MATERIALIZED (
            SELECT vec_id, pos, CAST(ROUND(e * 1000000) AS BIGINT) AS val
            FROM (SELECT vec_id, unnest(v) AS e,
                         unnest(range(0, len(v))) AS pos
                  FROM base)
        ), c0 AS MATERIALIZED (
            SELECT s.cluster_id, q.pos, q.val
            FROM (SELECT vec_id,
                         CAST(ROW_NUMBER() OVER (
                             ORDER BY (vec_id %% 1048576) * 2654435761 %% 1048576,
                                      vec_id) AS INT) - 1 AS cluster_id
                  FROM base) s
            JOIN qv q USING (vec_id)
            WHERE s.cluster_id < %d
        )""" % k
    parts = [head]
    for r in range(1, iters + 1):
        parts.append("""
        , d%d AS MATERIALIZED (
            SELECT q.vec_id, c.cluster_id,
                   SUM((q.val - c.val) * (q.val - c.val)) AS dist
            FROM qv q JOIN c%d c USING (pos) GROUP BY 1, 2
        ), a%d AS MATERIALIZED (
            SELECT vec_id, cluster_id FROM (
                SELECT vec_id, cluster_id,
                       ROW_NUMBER() OVER (PARTITION BY vec_id
                                          ORDER BY dist, cluster_id) AS rn
                FROM d%d) WHERE rn = 1
        ), c%d AS MATERIALIZED (
            SELECT c.cluster_id, c.pos,
                   COALESCE(CAST(FLOOR(CAST(m.s AS DOUBLE) / m.n) AS BIGINT),
                            c.val) AS val
            FROM c%d c LEFT JOIN (
                SELECT a.cluster_id, q.pos, SUM(q.val) AS s, COUNT(*) AS n
                FROM a%d a JOIN qv q USING (vec_id) GROUP BY 1, 2
            ) m ON m.cluster_id = c.cluster_id AND m.pos = c.pos
        )""" % (r, r - 1, r, r, r, r - 1, r))
    parts.append("""
        , dfin AS MATERIALIZED (
            SELECT q.vec_id, c.cluster_id,
                   SUM((q.val - c.val) * (q.val - c.val)) AS dist
            FROM qv q JOIN c%d c USING (pos) GROUP BY 1, 2
        ), afin AS MATERIALIZED (
            SELECT vec_id, cluster_id FROM (
                SELECT vec_id, cluster_id,
                       ROW_NUMBER() OVER (PARTITION BY vec_id
                                          ORDER BY dist, cluster_id) AS rn
                FROM dfin) WHERE rn = 1
        ), nrm AS MATERIALIZED (
            SELECT vec_id, CAST(SUM(val * val) AS BIGINT) AS n2
            FROM qv GROUP BY 1
        ), dots AS MATERIALIZED (
            SELECT fa.vec_id AS id_a, fb.vec_id AS id_b,
                   CAST(SUM(qa.val * qb.val) AS HUGEINT) AS dot
            FROM afin fa
            JOIN afin fb ON fa.cluster_id = fb.cluster_id
                        AND fa.vec_id < fb.vec_id
            JOIN qv qa ON qa.vec_id = fa.vec_id
            JOIN qv qb ON qb.vec_id = fb.vec_id AND qb.pos = qa.pos
            GROUP BY 1, 2
        ), dups AS MATERIALIZED (
            SELECT DISTINCT d.id_b
            FROM dots d
            JOIN nrm na ON na.vec_id = d.id_a
            JOIN nrm nb ON nb.vec_id = d.id_b
            WHERE d.dot > 0
              AND d.dot * d.dot * 1000000 >=
                  %d * CAST(na.n2 AS HUGEINT) * CAST(nb.n2 AS HUGEINT)
        )
        SELECT f.vec_id, f.cluster_id, (d.id_b IS NULL) AS kept
        FROM afin f LEFT JOIN dups d ON f.vec_id = d.id_b
        ORDER BY f.vec_id""" % (iters, threshold_milli * threshold_milli))
    return "".join(parts)


@register(
    "x_dedup_semantic",
    # k = isqrt(505) = 22 — the oracle pins the adaptive-k rule's value
    # at the driver corpus size (500 base + 5 planted rows, identical at
    # sf0.001 and sf0.01); the Spark side computes the same k from its
    # own count, so a corpus-size change breaks this loudly instead of
    # silently diverging
    oracle=_semantic_dedup_oracle_sql(k=22),
    doc="SemDeDup semantic dedup: k-means over integer-quantized "
        "embeddings (adaptive k = min(64, isqrt(n)) — the sqrt-n recipe "
        "that keeps the pair stage ~n^1.5; 2 Lloyd rounds, exact int "
        "squared-L2, deterministic multiplicative-hash seeds), then "
        "within-cluster cosine ≥ 0.95 "
        "pruning — smallest id per near-dup group survives. The same "
        "planted ×1.1 duplicates as x_dedup_embedding_cosine give a "
        "non-trivial pruned set. Every step is exact integer arithmetic, "
        "so the DuckDB oracle is an independent chained-CTE re-derivation "
        "(no pinned golden).",
)
def x_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_wrangling_spark.operators.dedup import semantic_dedup

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planted = emb.filter(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(
            F.col("embedding").cast("array<double>"), lambda x: x * 1.1
        ).cast("array<float>").alias("embedding"),
    )
    out = semantic_dedup(
        emb.unionByName(planted), "vec_id", "embedding",
        n_clusters=None, iters=2, threshold_milli=950,
    )
    return out.orderBy("vec_id")


# ---------------------------------------------------------------------------
# X-SIM-SEARCH
# ---------------------------------------------------------------------------

@register(
    "x_sim_topk_bruteforce",
    oracle="""
        WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec
                   FROM embeddings WHERE vec_id < 5),
             c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cvec
                   FROM embeddings),
             scored AS (
                 SELECT q.query_id, c.neighbor_id,
                        ROUND(list_dot_product(q.qvec, c.cvec) /
                              (sqrt(list_dot_product(q.qvec, q.qvec)) *
                               sqrt(list_dot_product(c.cvec, c.cvec))), 6) AS score
                 FROM c, q WHERE c.neighbor_id <> q.query_id
             )
        SELECT query_id, neighbor_id, score,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY score DESC, neighbor_id) AS INT) AS rank
        FROM scored
        QUALIFY rank <= 5
        ORDER BY query_id, rank
    """,
    doc="X-SIM-SEARCH baseline: exact cosine top-5 for 5 probe vectors, "
        "broadcast queries × one corpus scan, window top-k. Scores rounded "
        "to 6dp on BOTH sides and the rank computed on the rounded score "
        "so float accumulation-order ulps cannot flip ranks.",
    bench=True,
)
def x_sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_wrangling_spark.operators.similarity import topk_bruteforce

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    out = topk_bruteforce(emb, q, "vec_id", "embedding", k=5, round_to=6)
    return out.orderBy("query_id", "rank")


@register(
    "x_sim_topk_lsh",
    oracle=golden_oracle("x_sim_topk_lsh"),  # pinned-snapshot golden;
        # recall vs brute force measured in tests/test_similarity.py
    doc="X-SIM-SEARCH scale path: hyperplane-signature band join prunes "
        "candidates, exact cosine ranks them. Approx — driver rows-only; "
        "tests measure recall vs brute force.",
)
def x_sim_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_wrangling_spark.operators.similarity import topk_lsh

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    return topk_lsh(emb, q, "vec_id", "embedding", k=5).orderBy("query_id", "rank")


# ---------------------------------------------------------------------------
# X-TEXT
# ---------------------------------------------------------------------------

_STOPWORDS_SQL = ", ".join(f"'{w}'" for w in TX.QUALITY_STOPWORDS)


@register(
    "x_text_stats",
    oracle=rf"""
        WITH t AS (
            SELECT doc_id, text,
                   CAST(len(string_split_regex(trim(text), '\s+')) AS INT) AS n_tokens,
                   CAST(length(text) AS INT) AS n_chars_computed,
                   CAST(len(regexp_extract_all(text, '[\.,;:!\?]')) AS INT) AS n_punct,
                   CAST(len(list_filter(list_distinct(string_split_regex(trim(text), '\s+')),
                                        x -> x IN ({_STOPWORDS_SQL}))) AS INT) AS n_stopwords
            FROM documents
        )
        SELECT doc_id, n_tokens, n_chars_computed, n_punct, n_stopwords,
               ROUND(CAST(n_stopwords AS DOUBLE) / n_tokens * 0.5
                     + least(CAST(n_tokens AS DOUBLE), 100.0) / 100.0 * 0.3
                     + (1.0 - CAST(n_punct AS DOUBLE) / n_tokens) * 0.2, 6) AS quality_score
        FROM t ORDER BY doc_id
    """,
    doc="X-TEXT quality features: token/char/punct/stopword counts + a "
        "fixed-formula quality score (rounded 6dp both sides). All narrow "
        "JVM-side expressions — and since round 8, ZERO exchanges: the "
        "cosmetic ORDER BY is dropped (the driver compare is "
        "order-insensitive, the chunk_overlap precedent), which removes "
        "the range-partition sort that was ~half the query's wall time "
        "at 100x — the 2x-of-DuckDB headline gap was the sort, not the "
        "regex stack (measured A/B in ROUNDLOG r8).",
    bench=True,
)
def x_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_wrangling_spark.operators.text_analysis import quality_features

    docs = _t(spark, sf_dir, "documents")
    out = quality_features(docs, "text")
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        F.col("n_chars_computed").cast("int").alias("n_chars_computed"),
        F.col("n_punct").cast("int").alias("n_punct"),
        F.col("n_stopwords").cast("int").alias("n_stopwords"),
        F.round("quality_score", 6).alias("quality_score"),
    )


_LANGID_SCORE_SQL = {
    lang: (
        f"len(list_filter(list_distinct(string_split_regex(trim(lower(text)), '\\s+')), "
        f"x -> x IN ({', '.join(chr(39) + w + chr(39) for w in words)})))"
    )
    for lang, words in TX.LANG_MARKERS.items()
}


@register(
    "x_text_langid",
    oracle=f"""
        WITH s AS (
            SELECT doc_id,
                   {_LANGID_SCORE_SQL['en']} AS s_en,
                   {_LANGID_SCORE_SQL['es']} AS s_es,
                   {_LANGID_SCORE_SQL['de']} AS s_de,
                   {_LANGID_SCORE_SQL['fr']} AS s_fr
            FROM documents
        )
        SELECT doc_id,
               CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
                    WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
                    WHEN s_de >= s_fr THEN 'de'
                    ELSE 'fr' END AS lang_pred
        FROM s ORDER BY doc_id
    """,
    doc="X-TEXT language-ID heuristic: distinct marker-word hits per "
        "language, argmax with fixed priority ties (en>es>de>fr).",
)
def x_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_wrangling_spark.operators.text_analysis import language_id

    docs = _t(spark, sf_dir, "documents")
    return language_id(docs, "text").select("doc_id", "lang_pred").orderBy("doc_id")


@register(
    "x_text_fingerprint",
    oracle=r"""
        SELECT doc_id,
               md5(trim(regexp_replace(regexp_replace(lower(text), '\s+', ' ', 'g'),
                                       '[^a-z0-9 ]', '', 'g'))) AS fingerprint
        FROM documents ORDER BY doc_id
    """,
    doc="X-TEXT document fingerprint: md5 of canonicalized text.",
)
def x_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_wrangling_spark.operators.text_analysis import fingerprint_documents

    docs = _t(spark, sf_dir, "documents")
    return fingerprint_documents(docs, "text").select("doc_id", "fingerprint").orderBy("doc_id")


@register(
    "x_text_token_freq",
    oracle=r"""
        WITH toks AS (
            SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
            FROM documents
        )
        SELECT token, COUNT(*) AS freq FROM toks
        GROUP BY token ORDER BY freq DESC, token
    """,
    doc="X-TEXT corpus token frequencies: explode + hash agg (map-side "
        "partial; shuffle bounded by vocabulary size).",
)
def x_text_token_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_wrangling_spark.operators.text_analysis import token_stats

    docs = _t(spark, sf_dir, "documents")
    return token_stats(docs, "text")


# ---------------------------------------------------------------------------
# X-MULTIMODAL (rows-only: mapInPandas has no ANSI form)
# ---------------------------------------------------------------------------

@register(
    "x_multimodal_features",
    # the stub feature IS engine-independent: feature[i] = float32 of
    # (first-4-bytes-of-sha256-window / 2^32). DuckDB replays it from
    # the hex digest; both engines project the float32 scaled to an e8
    # integer (the double multiply happens AFTER float32 quantization on
    # both sides - DuckDB needs the explicit DOUBLE upcast or it
    # multiplies in single precision) so no float-to-string formatting
    # divergence can break the hash.
    oracle="""
        SELECT doc_id AS media_id,
               'application/octet-stream' AS mime,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               sha256(text) AS digest,
               array_to_string(
                   list_transform(range(0, 8), i ->
                       CAST(ROUND(CAST(CAST(CAST(concat('0x',
                                          substr(sha256(text), i*8+1, 8))
                                          AS UBIGINT) / 4294967296.0
                                          AS REAL) AS DOUBLE)
                                  * 100000000.0) AS BIGINT)),
                   ',') AS feature_e8
        FROM documents ORDER BY media_id
    """,
    doc="X-MULTIMODAL: binary payload column + typed metadata struct → "
        "Arrow-batched mapInPandas feature extraction (decode stubbed "
        "deterministically; see operators/multimodal.py). Fully "
        "hash-checked: DuckDB recomputes the sha256-derived stub feature "
        "from the same bytes. The registered projection scales each "
        "float32 feature to an e8 integer (driver's value-hash cannot "
        "hash raw arrays, and float formatting differs across engines); "
        "library callers get the typed array<float> from "
        "extract_features directly.",
)
def x_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_wrangling_spark.operators.multimodal import (
        extract_features,
        synth_media_from_documents,
    )

    docs = _t(spark, sf_dir, "documents")
    media = synth_media_from_documents(docs)
    feats = extract_features(media)
    return feats.select(
        "media_id",
        "mime",
        "n_bytes",
        "digest",
        F.concat_ws(
            ",",
            F.transform(
                "feature",
                lambda x: F.round(x * F.lit(100000000.0)).cast("bigint"),
            ),
        ).alias("feature_e8"),
    ).orderBy("media_id")


@register(
    "x_dedup_keep_best",
    oracle=rf"""
        WITH t AS (
            SELECT doc_id,
                   md5(trim(regexp_replace(regexp_replace(lower(text), '\s+', ' ', 'g'),
                                           '[^a-z0-9 ]', '', 'g'))) AS fingerprint,
                   CAST(len(string_split_regex(trim(text), '\s+')) AS INT) AS n_tokens,
                   CAST(len(regexp_extract_all(text, '[\.,;:!\?]')) AS INT) AS n_punct,
                   CAST(len(list_filter(list_distinct(string_split_regex(trim(text), '\s+')),
                                        x -> x IN ({_STOPWORDS_SQL}))) AS INT) AS n_stopwords
            FROM documents
        ), scored AS (
            SELECT doc_id, fingerprint,
                   ROUND(CAST(n_stopwords AS DOUBLE) / n_tokens * 0.5
                         + least(CAST(n_tokens AS DOUBLE), 100.0) / 100.0 * 0.3
                         + (1.0 - CAST(n_punct AS DOUBLE) / n_tokens) * 0.2, 6)
                       AS quality_score
            FROM t
        ), ranked AS (
            SELECT doc_id, fingerprint, quality_score,
                   ROW_NUMBER() OVER (PARTITION BY fingerprint
                                      ORDER BY quality_score DESC, doc_id) AS rk,
                   COUNT(*) OVER (PARTITION BY fingerprint) AS n_duplicates
            FROM scored
        )
        SELECT doc_id, fingerprint, quality_score, n_duplicates
        FROM ranked WHERE rk = 1 ORDER BY doc_id
    """,
    doc="Curation-policy dedup (keep-BEST, not keep-first): fingerprint "
        "duplicate groups keep their highest-quality member (fixed quality "
        "formula, rounded 6dp BEFORE ranking on both engines; ties -> min "
        "doc_id). One hash shuffle on the fingerprint; the rank filter is "
        "the WindowGroupLimit argmax pattern "
        "(operators/dedup.py keep_best_representative).",
)
def x_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_wrangling_spark.functions.text import normalized
    from data_wrangling_spark.operators.dedup import keep_best_representative
    from data_wrangling_spark.operators.text_analysis import quality_features

    docs = _t(spark, sf_dir, "documents")
    scored = (
        quality_features(docs, "text")
        .withColumn("fingerprint", F.md5(normalized("text")))
        .select(
            "doc_id", "fingerprint", F.round("quality_score", 6).alias("quality_score")
        )
    )
    best = keep_best_representative(
        scored, group_col="fingerprint", score_col="quality_score", id_col="doc_id"
    )
    return best.select(
        "doc_id", "fingerprint", "quality_score",
        F.col("n_duplicates").cast("bigint").alias("n_duplicates"),
    ).orderBy("doc_id")


@register(
    "x_multimodal_digest",
    oracle="""
        SELECT doc_id AS media_id,
               'application/octet-stream' AS mime,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               sha256(text) AS digest
        FROM documents ORDER BY media_id
    """,
    doc="X-MULTIMODAL's first hash-checked row (round-2 verdict item 6): "
        "the deterministic columns of the media feature pipeline — mime, "
        "byte length, sha256 digest — are engine-independent, so this runs "
        "the REAL Arrow mapInPandas extract_features path and oracles its "
        "output against DuckDB's sha256/octet_length over the same "
        "documents. Only the stub-derived feature vector stays rows-only "
        "(x_multimodal_features).",
)
def x_multimodal_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_wrangling_spark.operators.multimodal import (
        extract_features,
        synth_media_from_documents,
    )

    docs = _t(spark, sf_dir, "documents")
    feats = extract_features(synth_media_from_documents(docs))
    return feats.select("media_id", "mime", "n_bytes", "digest").orderBy("media_id")


# ---------------------------------------------------------------------------
# streaming (Structured Streaming, AvailableNow over the bounded source)
# ---------------------------------------------------------------------------

@register(
    "x_stream_windowed_counts",
    oracle="""
        SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
               event_type AS type, COUNT(*) AS cnt
        FROM events GROUP BY 1, 2 ORDER BY window_start, type
    """,
    doc="Structured Streaming extension (SURVEY §2.10): file-source "
        "micro-batches → watermark → tumbling 1h window counts → memory "
        "sink (AvailableNow drains the bounded source). Oracle-able "
        "because epoch-aligned tumbling windows == time_bucket.",
)
def x_stream_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_wrangling_spark.streaming.events import run_stream_to_memory

    out = run_stream_to_memory(spark, sf_dir, table_name="x_stream_windowed_counts")
    return out.orderBy("window_start", "type")


# ---------------------------------------------------------------------------
# window-function + grouping-set extensions (free via Spark; SURVEY §2.6/§2.10)
# ---------------------------------------------------------------------------

@register(
    "ext_window_running_total",
    oracle="""
        SELECT o_custkey, o_orderkey, o_orderdate,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    OVER (PARTITION BY o_custkey
                          ORDER BY o_orderdate, o_orderkey
                          ROWS UNBOUNDED PRECEDING) AS BIGINT) / 100.0
                   AS running_total
        FROM orders ORDER BY o_custkey, o_orderdate, o_orderkey
    """,
    doc="Window extension: per-customer running total, exact int-cents "
        "accumulation, (o_orderdate, o_orderkey) deterministic frame order.",
)
def ext_window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        (F.sum(cents).over(w) / F.lit(100.0)).alias("running_total"),
    ).orderBy("o_custkey", "o_orderdate", "o_orderkey")


@register(
    "ext_rollup_counts",
    oracle="""
        SELECT o_orderstatus AS status, o_orderpriority AS priority,
               COUNT(*) AS cnt
        FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        ORDER BY status NULLS FIRST, priority NULLS FIRST
    """,
    doc="Grouping-sets extension (SURVEY §2.6 'free via Spark'): ROLLUP "
        "over (status, priority) — subtotals + grand total in one pass.",
)
def ext_rollup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.rollup(
            F.col("o_orderstatus").alias("status"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("status").asc_nulls_first(), F.col("priority").asc_nulls_first())
    )


@register(
    "ext_approx_distinct",
    oracle="""
        SELECT o_orderstatus AS status,
               COUNT(DISTINCT o_custkey) AS exact_distinct
        FROM orders GROUP BY o_orderstatus ORDER BY status
    """,
    doc="Distinct-agg extension: exact countDistinct (oracled); the "
        "approx_count_distinct scale variant is exposed in the library "
        "and smoke-checked in tests (sketch values are engine-specific).",
)
def ext_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.col("o_orderstatus").alias("status"))
        .agg(F.countDistinct("o_custkey").alias("exact_distinct"))
        .orderBy("status")
    )


@register(
    "x_corpus_source_overlap",
    oracle=r"""
        WITH docs AS (
            SELECT source, string_split_regex(trim(text), '\s+') AS toks
            FROM (SELECT DISTINCT source, text FROM documents
                  WHERE text IS NOT NULL)
        ), sh AS (
            SELECT DISTINCT source, unnest(list_distinct(
                list_transform(range(1, greatest(len(toks) - 1, 1)),
                               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
            )) AS shingle
            FROM docs WHERE len(toks) >= 3
        ), sz AS (
            SELECT source, COUNT(*) AS n FROM sh GROUP BY 1
        ), shared AS (
            SELECT a.source AS source_a, b.source AS source_b,
                   COUNT(*) AS n_shared
            FROM sh a JOIN sh b ON a.shingle = b.shingle
                              AND a.source < b.source
            GROUP BY 1, 2
        )
        SELECT s.source_a, s.source_b,
               CAST(s.n_shared AS BIGINT) AS n_shared,
               CAST(sa.n AS BIGINT) AS n_a,
               CAST(sb.n AS BIGINT) AS n_b,
               CAST(ROUND(1000000.0 * s.n_shared / (sa.n + sb.n - s.n_shared))
                    AS BIGINT) AS jaccard_ppm
        FROM shared s
        JOIN sz sa ON sa.source = s.source_a
        JOIN sz sb ON sb.source = s.source_b
        ORDER BY s.source_a, s.source_b
    """,
    doc="Cross-source content-overlap matrix (operators/dedup.py "
        "source_overlap): pairwise 3-gram-shingle Jaccard between corpus "
        "sources in integer ppm — the slice-level redundancy diagnostic "
        "(two crawls that are near-copies show up here before you train "
        "on both). Inverted-index equi join on the shingle; shuffle "
        "bounded by per-source vocabulary, result by #sources².",
)
def x_corpus_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_wrangling_spark.operators.dedup import source_overlap

    docs = _t(spark, sf_dir, "documents")
    return source_overlap(docs, "source", "text", n=3).orderBy(
        "source_a", "source_b"
    )


@register(
    "x_multimodal_audio",
    # the audio features ARE engine-replayable: payloads are real 8-bit
    # PCM WAVs whose sample bytes are the (pure-ASCII) document text, so
    # 8-bit amplitude = (byte-128)/128 and DuckDB recovers the exact
    # integer sample domain from ascii() codes. The Spark side computes
    # rms over v = amplitude·2^23 (exact dyadic ints); the oracle scales
    # the same way (s8·2^32) so the double sequence — CAST exact int,
    # one division, one sqrt — is IEEE-identical in both engines, and
    # every ROUND is half-away-from-zero on both sides.
    oracle="""
        WITH ch AS (
            SELECT doc_id, ascii(substring(text, i, 1)) - 128 AS a
            FROM (SELECT doc_id, text,
                         unnest(range(1, length(text) + 1)) AS i
                  FROM documents
                  WHERE text IS NOT NULL
                    AND strlen(text) = length(text))
        ), agg AS (
            SELECT doc_id, COUNT(*) AS n,
                   SUM(CAST(a * a AS BIGINT)) AS s8,
                   MAX(ABS(a)) AS peak8
            FROM ch GROUP BY 1
        )
        SELECT doc_id AS media_id,
               8000 AS sample_rate, 1 AS channels,
               CAST(n AS BIGINT) AS n_frames,
               CAST(ROUND(1000.0 * n / 8000) AS BIGINT) AS duration_ms,
               CAST(ROUND(1000.0 * sqrt(CAST(s8 * 4294967296 AS DOUBLE) / n)
                          / 8388608.0) AS BIGINT) AS rms_milli,
               CAST(ROUND(1000.0 * (peak8 * 65536) / 8388608.0) AS BIGINT)
                   AS peak_milli
        FROM agg ORDER BY media_id
    """,
    doc="X-MULTIMODAL audio: REAL WAV encode → decode on executors "
        "(operators/audio.py — dependency-free RIFF/PCM codec, the audio "
        "counterpart of the PPM/BMP/PNG/JPEG raster seam). Documents "
        "become genuine 8-bit PCM 8 kHz WAV payloads via wrap_wav_data; "
        "wav_features parses the container and emits integer-milli "
        "RMS/peak plus duration — exact int arithmetic inside, one IEEE "
        "sqrt at the end, hash-exact vs the DuckDB byte-domain replay.",
)
def x_multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_wrangling_spark.operators.audio import (
        synth_wav_from_documents,
        wav_features,
    )

    docs = _t(spark, sf_dir, "documents")
    media = synth_wav_from_documents(docs)
    return wav_features(media).orderBy("media_id")


@register(
    "x_multimodal_video",
    # the decoded luma IS engine-replayable: frames are solid gray
    # g = (doc_id*31 + f*7) % 256, and the decoder's ITU-601 luma of a
    # solid (g,g,g) frame is exactly 0.299·g + 0.587·g + 0.114·g (the
    # 16-pixel mean of identical values is exact pairwise float
    # arithmetic), evaluated in the same left-associated IEEE order by
    # both engines; the half-away rounding is FLOOR(x + 0.5) on both.
    oracle="""
        WITH f AS (
            SELECT doc_id,
                   CAST(unnest(range(0, 1 + doc_id % 4)) AS INT) AS frame_idx
            FROM documents
        ), g AS (
            SELECT doc_id, frame_idx,
                   CAST((doc_id * 31 + frame_idx * 7) % 256 AS DOUBLE) AS g
            FROM f
        )
        SELECT doc_id AS media_id, frame_idx,
               8 AS width, 2 AS height,
               CAST(10000 AS BIGINT) AS fps_milli,
               CAST(FLOOR(1000.0 * (0.299 * g + 0.587 * g + 0.114 * g)
                          / 255.0 + 0.5) AS BIGINT) AS luma_milli
        FROM g ORDER BY media_id, frame_idx
    """,
    doc="X-MULTIMODAL video: REAL AVI encode → decode on executors "
        "(operators/video.py — dependency-free RIFF/AVI parser over "
        "uncompressed 24-bit DIB frames, completing the image/audio/"
        "video real-decode trifecta). Documents become genuine AVI "
        "containers (header lists + bottom-up BGR frame chunks); "
        "sample_avi_frames parses them and emits per-frame integer-"
        "milli luma — hash-exact vs the DuckDB arithmetic replay.",
)
def x_multimodal_video(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_wrangling_spark.operators.video import (
        sample_avi_frames,
        synth_avi_from_documents,
    )

    docs = _t(spark, sf_dir, "documents")
    media = synth_avi_from_documents(docs)
    return sample_avi_frames(media, every_n=1).orderBy("media_id", "frame_idx")


@register(
    "x_multimodal_image_hash",
    # the decoded pixel domain IS engine-replayable: payloads are real
    # binary PGMs whose pixel bytes are the (pure-ASCII) document text,
    # so DuckDB recovers every pixel from ascii() codes and replays the
    # integer aHash (block means // hb, global mean // 64, bit set iff
    # mean >= global) exactly — the x_multimodal_audio byte-replay
    # technique applied to rasters.
    oracle=r"""
        WITH dims AS (
            SELECT doc_id, text, length(text) // 8 AS h,
                   (length(text) // 8) // 8 AS hb
            FROM documents
            WHERE text IS NOT NULL AND strlen(text) = length(text)
              AND length(text) >= 64
        ), cells AS (
            SELECT doc_id, text, hb, unnest(range(0, 64)) AS b FROM dims
        ), px AS (
            SELECT doc_id, b, hb, text, unnest(range(0, hb)) AS k FROM cells
        ), blk AS (
            SELECT doc_id, b,
                   CAST(SUM(ascii(substring(
                       text, (((b // 8) * hb + k) * 8 + (b % 8)) + 1, 1)))
                        // hb AS BIGINT) AS m
            FROM px GROUP BY doc_id, b, hb
        ), gm AS (
            SELECT doc_id, CAST(SUM(m) // 64 AS BIGINT) AS g
            FROM blk GROUP BY doc_id
        ), bits AS (
            SELECT blk.doc_id,
                   CAST(SUM(CASE WHEN m >= g AND b >= 32
                                 THEN (CAST(1 AS BIGINT) << (b - 32))
                                 ELSE 0 END) AS BIGINT) AS ahash_hi,
                   CAST(SUM(CASE WHEN m >= g AND b < 32
                                 THEN (CAST(1 AS BIGINT) << b)
                                 ELSE 0 END) AS BIGINT) AS ahash_lo
            FROM blk JOIN gm ON blk.doc_id = gm.doc_id
            GROUP BY blk.doc_id
        )
        SELECT d.doc_id AS media_id, CAST(8 AS INT) AS width,
               CAST(d.h AS INT) AS height, ahash_hi, ahash_lo
        FROM bits JOIN dims d ON bits.doc_id = d.doc_id
        ORDER BY media_id
    """,
    doc="X-MULTIMODAL perceptual average-hash: documents wrap as REAL "
        "binary PGM images (synth_pgm_from_documents), executors decode "
        "them for real (strict P5 parse in operators/multimodal.py "
        "ahash_64 — the PPM/BMP/PNG/JPEG real-decode seam) and emit the "
        "8x8 integer aHash as two nonnegative 32-bit halves. Every step "
        "is integer floor arithmetic, so the DuckDB oracle re-derives "
        "the hash from the byte domain independently. One Arrow pass, "
        "5 scalars out per image.",
)
def x_multimodal_image_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_wrangling_spark.operators.multimodal import (
        image_ahash,
        synth_pgm_from_documents,
    )

    docs = _t(spark, sf_dir, "documents")
    # ahash_64 needs >= 8 full pixel rows (h >= 8 at width 8)
    media = synth_pgm_from_documents(docs.filter(F.length("text") >= 64))
    return image_ahash(media).orderBy("media_id")


@register(
    "x_multimodal_image_dedup",
    oracle=r"""
        WITH dims AS (
            SELECT doc_id, text, (length(text) // 8) // 8 AS hb
            FROM documents
            WHERE text IS NOT NULL AND strlen(text) = length(text)
              AND length(text) >= 64
        ), cells AS (
            SELECT doc_id, text, hb, unnest(range(0, 64)) AS b FROM dims
        ), px AS (
            SELECT doc_id, b, hb, text, unnest(range(0, hb)) AS k FROM cells
        ), blk AS (
            SELECT doc_id, b,
                   CAST(SUM(ascii(substring(
                       text, (((b // 8) * hb + k) * 8 + (b % 8)) + 1, 1)))
                        // hb AS BIGINT) AS m
            FROM px GROUP BY doc_id, b, hb
        ), gm AS (
            SELECT doc_id, CAST(SUM(m) // 64 AS BIGINT) AS g
            FROM blk GROUP BY doc_id
        ), bits AS (
            SELECT blk.doc_id,
                   CAST(SUM(CASE WHEN m >= g AND b >= 32
                                 THEN (CAST(1 AS BIGINT) << (b - 32))
                                 ELSE 0 END) AS BIGINT) AS ahash_hi,
                   CAST(SUM(CASE WHEN m >= g AND b < 32
                                 THEN (CAST(1 AS BIGINT) << b)
                                 ELSE 0 END) AS BIGINT) AS ahash_lo
            FROM blk JOIN gm ON blk.doc_id = gm.doc_id
            GROUP BY blk.doc_id
        ), bands AS (
            SELECT doc_id, ahash_hi, ahash_lo,
                   unnest(range(0, 4)) AS bi
            FROM bits
        ), bv AS (
            SELECT doc_id, ahash_hi, ahash_lo, bi,
                   CASE bi WHEN 0 THEN ahash_lo % 65536
                           WHEN 1 THEN (ahash_lo >> 16) % 65536
                           WHEN 2 THEN ahash_hi % 65536
                           ELSE (ahash_hi >> 16) % 65536 END AS bv
            FROM bands
        )
        SELECT DISTINCT a.doc_id AS media_a, b.doc_id AS media_b,
               CAST(bit_count(xor(a.ahash_hi, b.ahash_hi))
                    + bit_count(xor(a.ahash_lo, b.ahash_lo)) AS INT)
                   AS hamming
        FROM bv a JOIN bv b
          ON a.bi = b.bi AND a.bv = b.bv AND a.doc_id < b.doc_id
        WHERE bit_count(xor(a.ahash_hi, b.ahash_hi))
              + bit_count(xor(a.ahash_lo, b.ahash_lo)) <= 8
    """,
    doc="X-MULTIMODAL image near-duplicate pairs: real-decoded aHash "
        "(x_multimodal_image_hash) -> four 16-bit LSH bands -> "
        "candidate equi join on (band, value) -> EXACT Hamming "
        "bit_count(xor) <= 8 filter (operators/multimodal.py "
        "ahash_near_dup). The MinHash-LSH posture for rasters: "
        "candidates only, never the n^2 cross join. Round-13 rework "
        "(measured at c4d5f06 at 100x; `scripts/ab.py "
        "x_multimodal_image_dedup c4d5f06^`): decode is 1.9s of the "
        "wall — the cost was 232M band-join candidates from exact-dup "
        "hash groups (487k images, 4,660 distinct hashes) plus a "
        "30.2M-row output DISTINCT and presentation sort; banding "
        "DISTINCT hash values with expansion-join output (no output "
        "DISTINCT, no terminal sort — both engines) took the dedicated "
        "row from 50s spill-thrash to ~6s. Pair semantics "
        "(planted near-dup images) are pinned in tests/"
        "test_multimodal.py; at driver scales the natural corpus may "
        "yield few or zero pairs — both engines derive the same set "
        "either way.",
)
def x_multimodal_image_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_wrangling_spark.operators.multimodal import (
        ahash_near_dup,
        image_ahash,
        synth_pgm_from_documents,
    )

    docs = _t(spark, sf_dir, "documents")
    media = synth_pgm_from_documents(docs.filter(F.length("text") >= 64))
    return ahash_near_dup(image_ahash(media), max_hamming=8)
