"""Text-analysis operators over document tables (SURVEY.md §2.11 X-TEXT).

Language ID, quality scoring, token statistics, fingerprinting — each a
thin DataFrame transformation over the pure Column expressions in
functions/text.py. Everything stays JVM-side (whole-stage codegen); the
per-document cost is O(tokens) with no shuffle at all — these are narrow
ops safe at any scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from data_wrangling_spark.functions import text as TX


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """n-gram/marker-word language heuristic: score each candidate
    language by distinct marker-word hits; argmax with a fixed priority
    order for ties (deterministic)."""
    langs = list(TX.LANG_MARKERS)
    scores = {lang: TX.lang_score(text_col, lang) for lang in langs}
    best: Column = F.lit(langs[-1])
    # fixed priority: earlier langs win ties (iterate reversed)
    for lang in reversed(langs[:-1]):
        cond = None
        for other in langs:
            if other == lang:
                continue
            c = scores[lang] >= scores[other]
            cond = c if cond is None else (cond & c)
        best = F.when(cond, F.lit(lang)).otherwise(best)
    # NULL text → NULL prediction: without the guard every tie condition
    # is NULL, all when() branches fall through, and null documents get
    # silently labeled as the init-default language
    best = F.when(F.col(text_col).isNull(), F.lit(None).cast("string")).otherwise(best)
    return df.withColumn("lang_pred", best)


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword quality signals. The score formula
    is fixed (documented) so the DuckDB oracle can reproduce it exactly:
    stopword_ratio * 0.5 + min(n_tokens, 100) / 100.0 * 0.3 +
    (1 - punct_ratio) * 0.2, all double math in a fixed op order.

    Staged so each expensive expression appears ONCE in the plan: the
    regex tokenization is projected first (`_toks`, referenced by two
    signals), the counts second, and the score third from count COLUMN
    references. Honest magnitude note: whole-stage codegen's
    subexpression elimination already dedups repeated subtrees WITHIN a
    single ProjectExec (measured ~5% here, unlike HOF lambdas where CSE
    cannot reach — the shingles/normalize fixes), so this staging is
    primarily defense: the single-evaluation property no longer depends
    on a runtime conf (`spark.sql.subexpressionElimination.enabled`)
    holding. Multi-use non-cheap aliases survive CollapseProject.

    Like the previous withColumn form, output columns REPLACE any
    same-named input columns (review find: a bare select-append made a
    re-run over its own output raise AMBIGUOUS_REFERENCE) — and they
    replace IN PLACE, keeping the original column ORDER, so positional
    consumers (CSV sinks, tuple unpacking) see a stable schema when the
    operator is re-run over its own output."""
    out_names = ("n_tokens", "n_chars_computed", "n_punct", "n_stopwords",
                 "quality_score")
    orig_order = [c for c in df.columns if c != "_toks"]
    clash = [
        c
        for c in (*out_names, "_toks")
        if c in df.columns and c != text_col
    ]
    if clash:
        df = df.drop(*clash)
    toked = df.select("*", TX.tokens(text_col).alias("_toks"))
    counts = toked.select(
        "*",
        F.size("_toks").alias("n_tokens"),
        TX.char_count(text_col).alias("n_chars_computed"),
        TX.punct_count(text_col).alias("n_punct"),
        TX.stopword_count_from_tokens(F.col("_toks")).alias("n_stopwords"),
    )
    n_tok = F.col("n_tokens").cast("double")
    score = (
        F.col("n_stopwords").cast("double") / n_tok * F.lit(0.5)
        + F.least(n_tok, F.lit(100.0)) / F.lit(100.0) * F.lit(0.3)
        + (F.lit(1.0) - F.col("n_punct").cast("double") / n_tok) * F.lit(0.2)
    )
    result = counts.withColumn("quality_score", score).drop("_toks")
    order = orig_order + [c for c in out_names if c not in orig_order]
    return result.select(*order)


def fingerprint_documents(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stable md5-of-normalized-text fingerprint per document."""
    return df.withColumn("fingerprint", TX.fingerprint(text_col))


def tf_idf(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_k: int = 3,
    round_dp: int = 4,
) -> DataFrame:
    """Classic TF-IDF term weighting, top-k terms per document:
    score = (tf / doc_len) * ln(n_docs / df), one row per kept term as
    (id, term, tfidf, rank).

    Scale shape: one explode of the corpus, a (doc, term) hash aggregate
    (map-side partials do the heavy lifting), a vocabulary-sized document
    -frequency aggregate joined back on term, and the corpus row count
    broadcast — no collect, no driver loop. The per-doc top-k is a
    ``row_number`` window over (doc, score) that Spark executes as
    WindowGroupLimit (partial top-k before the shuffle).

    Determinism across engines: the score is ROUNDED to ``round_dp``
    BEFORE ranking, and ties order by term — so a last-ulp ``ln``
    difference between libm implementations cannot flip ranks."""
    words = df.select(F.col(id_col).alias("id"), F.explode(TX.tokens(text_col)).alias("term"))
    tf = words.groupBy("id", "term").agg(F.count("*").alias("tf"))
    doc_len = tf.groupBy("id").agg(F.sum("tf").alias("doc_len"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = df.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(doc_len, "id")
        .join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col("id").alias(id_col),
            "term",
            F.round(
                (F.col("tf").cast("double") / F.col("doc_len"))
                * F.log(F.col("n_docs").cast("double") / F.col("df")),
                round_dp,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select(id_col, "term", "tfidf", "rank")
    )


def repetition_signals(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style repetition quality signals, one row per document:
    n_words, top_word_frac (most frequent word / total words),
    top_bigram_frac and dup_bigram_frac (1 - distinct/total bigrams) —
    the signals corpus filters cut on to drop boilerplate and generated
    spam. Complements the type-token ratio in
    functions/text.distinct_token_ratio.

    Bigrams come from ``zip_with`` over two shifted slices (narrow,
    JVM-side); the per-doc mode is explode + (doc, gram) hash aggregate
    + per-doc max — partial aggregation keeps the shuffle at distinct-
    gram cardinality, never a per-row Python pass. Single-word docs get
    null bigram fractions (no bigrams exist); NULL-text docs are
    dropped entirely (matching tf_idf and the SQL oracle, where
    unnest(NULL) yields no rows)."""
    toks = TX.tokens(text_col)
    bigrams = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    base = df.select(
        F.col(id_col).alias("id"), toks.alias("_w"), bigrams.alias("_b")
    )

    def _mode_frac(exploded_col: str, out_prefix: str):
        grams = base.select("id", F.explode(exploded_col).alias("g"))
        per_gram = grams.groupBy("id", "g").agg(F.count("*").alias("cnt"))
        return per_gram.groupBy("id").agg(
            F.max("cnt").alias(f"_{out_prefix}_top"),
            F.sum("cnt").alias(f"_{out_prefix}_n"),
            F.count("*").alias(f"_{out_prefix}_distinct"),
        )

    wagg = _mode_frac("_w", "w")
    bagg = _mode_frac("_b", "b")
    return (
        wagg.join(bagg, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.col("_w_n").cast("int").alias("n_words"),
            F.round(F.col("_w_top") / F.col("_w_n"), 6).alias("top_word_frac"),
            F.round(F.col("_b_top") / F.col("_b_n"), 6).alias("top_bigram_frac"),
            F.round(1 - F.col("_b_distinct") / F.col("_b_n"), 6).alias("dup_bigram_frac"),
        )
    )


def keyword_search(
    df: DataFrame,
    terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "all",
) -> DataFrame:
    """Documents matching a term set — the inverted-index access path:
    explode to (doc, token) postings, keep only postings for the query
    terms (the filter lands BEFORE the shuffle, so the aggregate sees
    query-term postings only, not the corpus), then one per-doc
    countDistinct with ``mode='all'`` requiring every term (AND) or
    ``mode='any'`` at least one (OR). Output: (id, n_matched).

    At 100 TB the same plan runs against a PRE-BUILT posting table
    (the explode+distinct materialized once, partitioned by token) and
    becomes a token-key lookup join; the on-the-fly form here shares
    every operator with it."""
    if mode not in ("all", "any"):
        raise ValueError("mode must be 'all' or 'any'")
    if not terms:
        raise ValueError("terms must be non-empty")
    postings = df.select(
        F.col(id_col).alias("id"), F.explode(TX.tokens(text_col)).alias("token")
    ).filter(F.col("token").isin(terms))
    # countDistinct dedups per id on its own — a .distinct() here would
    # just add a second full shuffle of the postings
    agg = postings.groupBy("id").agg(F.countDistinct("token").alias("n_matched"))
    need = len(set(terms)) if mode == "all" else 1
    return agg.filter(F.col("n_matched") >= need).select(
        F.col("id").alias(id_col), F.col("n_matched").cast("int").alias("n_matched")
    )


def token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus-level token statistics: one explode + one hash aggregate
    (partial agg map-side; shuffle is vocabulary-sized)."""
    toks = df.select(F.explode(TX.tokens(text_col)).alias("token"))
    return (
        toks.groupBy("token")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.desc("freq"), "token")
    )


def chunk_overlapping(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    size: int = 32,
    stride: int = 24,
) -> DataFrame:
    """Sliding-window word chunking — the context-window preparation pass
    of an LLM training pipeline (split long documents into fixed-size
    token windows with ``size - stride`` words of overlap so no span is
    lost at a boundary).

    Narrow op, no shuffle: split → ``sequence`` of window starts →
    ``posexplode`` → ``slice``. Output rows ≈ n_words / stride per doc;
    the last window may be shorter (the tail). A window starts at every
    multiple of ``stride`` below n_words, so every word is covered and
    consecutive windows share ``size - stride`` words.

    Null and whitespace-only documents produce NO chunks (dropped
    explicitly, not exploded into an empty-string token).
    """
    if not (0 < stride <= size):
        raise ValueError(f"need 0 < stride <= size, got size={size} stride={stride}")
    toks = TX.tokens(text_col)
    base = df.filter(
        F.col(text_col).isNotNull() & (F.trim(F.col(text_col)) != "")
    ).select(F.col(id_col), toks.alias("_toks"))
    starts = F.sequence(F.lit(0), F.size("_toks") - 1, F.lit(stride))
    return (
        base.select(
            id_col, "_toks", F.posexplode(starts).alias("chunk_id", "_start")
        )
        .select(
            id_col,
            F.col("chunk_id").cast("int").alias("chunk_id"),
            F.slice("_toks", F.col("_start") + 1, size).alias("_chunk"),
        )
        .select(
            id_col,
            "chunk_id",
            F.size("_chunk").cast("int").alias("n_words"),
            F.array_join("_chunk", " ").alias("chunk_text"),
        )
    )


def boilerplate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_docs: int = 2,
    top: int = 20,
) -> DataFrame:
    """Boilerplate detection: word n-gram spans shared verbatim across
    many DISTINCT documents (headers, footers, license blurbs — the
    spans a curation pipeline strips before training).

    Scale shape — count in the HASH domain, reconstruct strings for
    candidates only: per-doc distinct 64-bit gram hashes (``dedup.
    gram_hashes_from_tokens``, no string allocation) → explode → one
    hash aggregate counting rows (each doc contributes a gram at most
    once, so ``count(*)`` IS the document frequency) with
    ``min(doc_id)`` carried as a representative → filter to candidates
    (df >= min_docs) → rebuild span STRINGS only from the
    representative documents (a left_semi on doc ids, ~|candidates|
    docs, never the corpus) → exact top-k on (n_docs desc, span).
    Round-7 A/B at 100x (measured at f6f2a6b; `scripts/ab.py
    x_text_boilerplate_spans f6f2a6b^`): the earlier
    string-domain aggregate built 26M 3-gram strings that compact to
    27k distinct spans and the aggregate keyed on those strings —
    23.8s vs 16.7s hashed, identical top-20. No pairwise comparison
    anywhere; tokenization is staged into a projected ``_toks`` column
    (evaluated once) in both passes.

    Hash-collision caveat: two distinct spans colliding in xxhash64
    would merge their counts (P ~ vocab^2 / 2^65, negligible); the
    output stays in the STRING domain and the registered query's
    DuckDB oracle counts strings independently, so a collision would
    surface as a driver hash mismatch rather than pass silently.
    """
    from data_wrangling_spark.operators.dedup import (
        gram_hashes_from_tokens,
        shingles_from_tokens,
    )
    from data_wrangling_spark.functions import text as TX

    toked = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("_doc"), TX.tokens(text_col).alias("_toks")
    )
    counts = (
        toked.select(
            "_doc",
            F.explode(gram_hashes_from_tokens(F.col("_toks"), n)).alias("_gh"),
        )
        .groupBy("_gh")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("_doc").alias("_rep"))
        .filter(F.col("n_docs") >= min_docs)
    )
    # candidate-only string reconstruction: one pass over the
    # representative docs (<= one per candidate span); the semi join is
    # NOT broadcast-hinted — rep ids are naturally small, let AQE pick
    rep_docs = counts.select(F.col("_rep").alias("_doc")).distinct()
    rebuilt = (
        toked.join(rep_docs, "_doc", "left_semi")
        .select(
            F.explode(
                F.arrays_zip(
                    gram_hashes_from_tokens(F.col("_toks"), n).alias("_gh"),
                    shingles_from_tokens(F.col("_toks"), n).alias("span"),
                )
            ).alias("_z")
        )
        .select(F.col("_z._gh").alias("_gh"), F.col("_z.span").alias("span"))
        .groupBy("_gh")
        .agg(F.min("span").alias("span"))
    )
    return (
        counts.join(rebuilt, "_gh")
        .orderBy(F.desc("n_docs"), "span")
        .limit(top)
        .select("span", F.col("n_docs").cast("bigint").alias("n_docs"))
    )


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    top: int = 20,
) -> DataFrame:
    """Okapi BM25 top-k retrieval over the corpus — the lexical-search
    primitive an LLM-data pipeline uses for decontamination lookups,
    hard-negative mining, and retrieval-based curation:

        score(d, Q) = sum over t in Q of
            ln(1 + (N - df_t + 0.5) / (df_t + 0.5))        # RSJ idf
            * tf * (k1 + 1) / (tf + k1*(1 - b + b*dl/avgdl))

    Scale shape (round-12 rework, A/B'd at 100x): ONE tokenize pass
    builds a NARROW per-document projection (id, dl, tf per query
    term) via per-element equality filters — no posting list is ever
    exploded and no (doc, term) relation shuffles; the projection
    (O(docs) rows x ~24 B, term count bounded by the query) is
    PERSISTED so the corpus-stats aggregate and the per-term hit
    filters read it instead of re-tokenizing the corpus (the previous
    shape tokenized twice — stats branch + hits branch — and shuffled
    an exploded hits relation: 3.62s vs 2.56s persisted one-pass at
    100x; a lookaround regexp_count variant that avoids token arrays
    entirely measured WORSE, 3.45s — bounded-width lookarounds are
    slower than the HOF equality filter). df and (N, avgdl) stay tiny
    broadcast-back aggregates. Top-k is TakeOrderedAndProject; the
    rank window runs over <= ``top`` rows. The timing harness clears
    the cache per run, so published numbers price the persist at
    one-shot cost; at a 100 TB corpus the projection is O(docs) — it
    persists distributed or spills, never O(tokens). CALLER CONTRACT:
    the projection persist is not unpersisted here (the result plan
    still references it lazily); long-lived sessions issuing many
    bm25_topk calls should ``spark.catalog.clearCache()`` between
    them, as the bench harness does. Repeated ``query_terms`` are
    collapsed first-occurrence-wins (set-of-terms semantics).

    Exactness for the oracle: every input to the float math (tf, df, N,
    dl, the exact integer-sum avgdl) is integer-derived and engine-
    identical, so scores differ at most by library-ulp in ln/division;
    scores are rounded to 6dp and the rank computed ON the rounded
    score with an id tiebreak, the same both-engines-round pattern as
    the ANN queries. Matching is exact whitespace tokens,
    case-sensitive — normalize upstream if needed."""
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    # dedupe preserving order (advisor find, round 12): the per-term
    # union branches would otherwise double a repeated term's df
    # (corrupting its idf) AND double-count its score — the pre-rework
    # isin+explode shape collapsed duplicates to one (doc, term) row,
    # and that set semantics is the contract
    query_terms = list(dict.fromkeys(query_terms))
    toked = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), TX.tokens(text_col).alias("_toks")
    )

    def _tf_of(term: str):
        # factory, NOT a two-arg lambda with a default: PySpark treats
        # a two-parameter HOF lambda as (element, index)
        return F.size(F.filter("_toks", lambda t: t == F.lit(term)))

    proj = toked.select(
        id_col,
        F.size("_toks").alias("_dl"),
        *[_tf_of(t).alias(f"_tf{i}") for i, t in enumerate(query_terms)],
    ).persist()
    stats = proj.agg(
        F.count(F.lit(1)).alias("_n"), F.avg("_dl").alias("_avgdl")
    )
    tf = None
    for i, t in enumerate(query_terms):
        part = proj.filter(F.col(f"_tf{i}") > 0).select(
            id_col, "_dl", F.lit(t).alias("_term"),
            F.col(f"_tf{i}").alias("_tf"),
        )
        tf = part if tf is None else tf.unionAll(part)
    dfreq = tf.groupBy("_term").agg(F.count(F.lit(1)).alias("_df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("_n") - F.col("_df") + 0.5) / (F.col("_df") + 0.5)
    )
    tf_part = (F.col("_tf") * (k1 + 1.0)) / (
        F.col("_tf")
        + k1 * (1.0 - b + b * F.col("_dl") / F.col("_avgdl"))
    )
    scored = (
        tf.join(F.broadcast(dfreq), "_term")
        .join(F.broadcast(stats))
        .groupBy(id_col)
        .agg(F.round(F.sum(idf * tf_part), 6).alias("score"))
    )
    w = Window.orderBy(F.desc("score"), id_col)
    return (
        scored.orderBy(F.desc("score"), id_col)
        .limit(top)
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .orderBy("rank")
    )


def lm_score_bigram(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-trained bigram language-model quality score — the
    CCNet/Gopher-style perplexity filter every LLM data pipeline runs:
    train an add-one-smoothed bigram LM on the corpus itself, then score
    each document by its average per-bigram negative log-likelihood
    (high = unusual token transitions = boilerplate/garbled/outlier
    text; low = fluent in-distribution text).

        P(w2 | w1) = (C(w1 w2) + 1) / (C_prefix(w1) + V)

    with C_prefix(w1) = occurrences of w1 as a bigram prefix (so the
    distribution sums to 1 over the vocabulary) and V = |distinct
    tokens|.

    Exactness for the oracle: every count is an exact integer, the
    probability is ONE double division of exact ints (bit-identical
    both engines), and each bigram's NLL is rounded to integer
    MICRO-nats before summation — so the per-document sum is integer
    arithmetic, immune to float summation order across partitions and
    engines (the int-cents pattern applied to logs). The derived
    ``avg_nll`` divides two exact ints in double, rounded to 6dp.

    Scale shape — the ENTIRE pipeline runs in the 64-bit hash domain
    (the boilerplate_removal recipe, round-9 verdict: interpreted
    string-struct explodes and string-keyed shuffles were the repo's
    dominant hidden cost, NOT shuffle structure). A bigram's identity
    is the single long ``xxhash64(h1, h2)`` over the token hashes
    (h1, h2) = (xxhash64(w1), xxhash64(w2)): hashes are computed
    INSIDE the token array (``transform`` over strings → long array,
    one interpreted pass), bigram pairs are two codegen ``slice``
    views zipped with ``arrays_zip``, and the occurrence relation that
    feeds scoring carries exactly TWO longs per row — (doc_id, bh).

    The model is assembled entirely at MODEL scale (distinct-bigram
    cardinality) before any occurrence touches it: the (h1, h2) →
    count aggregate collapses occurrences map-side; the prefix counts
    derive from it (C_prefix(w1) = sum over w2 of C(w1 w2)); the
    vocabulary size is countDistinct over (model h1 ∪ model h2) —
    EXACTLY the distinct-token set, because every token occurrence in
    a scored document is the first element of some bigram or the last
    token, and the last token is the second element of the document's
    final bigram (docs with <2 tokens are filtered out). Round 13:
    this replaced a fourth full corpus tokenize pass (the old per-doc
    last-token union branch) with a model-scale union, and the rounded
    integer micro-nat NLL is now computed ONCE PER DISTINCT BIGRAM on
    the model side (931 ln() calls at the 100x bench instead of 26.6M
    occurrence-side evaluations), then attached to occurrences by ONE
    single-long-key join — two corpus passes total (model build +
    scoring), one occurrence-scale probe, no hint (AQE picks broadcast
    when the materialized model is small; at 100 TB vocabulary the
    same plan degrades to a shuffled join without a code change).

    Hash-collision caveat (same as boilerplate_removal): two distinct
    tokens colliding in xxhash64 — or two distinct (h1, h2) pairs
    colliding in the derived bigram key — would merge their model
    counts (P ~ vocab² / 2^65); the registered query's DuckDB oracle
    counts strings independently, so a collision surfaces as a driver
    hash mismatch rather than passing silently."""
    toked = (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), TX.tokens(text_col).alias("_toks"))
        .filter(F.size("_toks") >= 2)
    )
    # hash inside the array; strings never leave their source task
    staged = toked.select(
        F.col(id_col),
        F.transform("_toks", lambda t: F.xxhash64(t)).alias("_hs"),
    )
    m = F.size("_hs") - F.lit(1)
    # (h1, h2) = (hs[i], hs[i+1]) with MULTIPLICITY, via two codegen
    # slice views zipped positionally — no index-transform chain
    pairs = staged.select(
        F.col(id_col),
        F.slice("_hs", 1, m).alias("_a"),
        F.slice("_hs", 2, m).alias("_b"),
    )
    bi = pairs.select(
        F.col(id_col),
        F.explode(F.arrays_zip("_a", "_b")).alias("_p"),
    ).select(
        id_col,
        F.col("_p._a").alias("_h1"),
        F.col("_p._b").alias("_h2"),
    )
    # model: one aggregate over DISTINCT bigrams (map-side partials
    # collapse occurrence multiplicity before the exchange)
    big = bi.groupBy("_h1", "_h2").agg(F.count(F.lit(1)).alias("_c12"))
    uni = big.groupBy("_h1").agg(F.sum("_c12").cast("long").alias("_c1"))
    # |vocab| = |distinct tokens| = |model h1 ∪ model h2| — a
    # model-scale aggregate; no corpus pass. explode(array(h1,h2))
    # keeps ONE reference to the model subtree (a union of two
    # projections would duplicate it in the logical plan)
    voc = (
        big.select(F.explode(F.array("_h1", "_h2")).alias("_h"))
        .agg(F.countDistinct("_h").alias("_v"))
    )
    # assemble per-bigram NLL at model scale: prefix join + 1-row voc
    # broadcast + the ln() all run over distinct bigrams, never
    # occurrences; the probe key is ONE long
    nll_micro = F.round(
        -F.log(
            (F.col("_c12") + F.lit(1.0)) / (F.col("_c1") + F.col("_v"))
        )
        * 1000000.0,
        0,
    ).cast("bigint")
    model = (
        big.join(uni, "_h1")
        .join(F.broadcast(voc))
        .select(
            F.xxhash64("_h1", "_h2").alias("_bh"),
            nll_micro.alias("_nll"),
        )
    )
    occ = bi.select(
        F.col(id_col), F.xxhash64("_h1", "_h2").alias("_bh")
    )
    return (
        occ.join(model, "_bh")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.sum("_nll").cast("bigint").alias("nll_micro_sum"),
            F.round(
                F.sum("_nll").cast("double")
                / F.count(F.lit(1))
                / F.lit(1000000.0),
                6,
            ).alias("avg_nll"),
        )
    )


def token_entropy(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document Shannon entropy of the token distribution (nats) —
    the gibberish/repetition quality signal: natural prose sits in a
    band, mass-repeated boilerplate scores near 0, and random-token
    noise scores near ln(n_tokens). Complements repetition_signals
    (surface n-gram repeats) and lm_score_bigram (corpus-model fit)
    with a model-free per-document statistic.

    Returns (id_col, n_tokens, distinct_tokens, entropy_micro) where
    entropy_micro is integer MICRO-nats:

        H = ln(n) - (Σ_tok c·ln(c)) / n

    with each c·ln(c) term rounded to integer micro-nats BEFORE the sum
    (the lm_score_bigram int-cents-for-logs pattern) — the inner sum is
    an integer sum, immune to float summation order, and the outer
    expression is a single double op over two exact integers, so the
    value is hash-exact across engines and partitionings.

    Scale shape (round 13): ZERO shuffles. Entropy is a PER-DOCUMENT
    statistic, so no cross-document exchange is fundamentally required
    — the former explode → (doc, token) hash agg → (doc) hash agg
    shape paid two occurrence-bounded exchanges for what one
    projection can compute. Token identity moves to the 64-bit hash
    domain INSIDE the array (``transform`` + xxhash64 — the lm_score
    recipe; strings never leave their source task), the hashed array
    is ``array_sort``-ed per row, run boundaries are the 1-based
    positions where h[i] != h[i-1] (an array HOF ``filter`` over
    ``sequence``), run lengths are ``zip_with`` of the boundary list
    against its shift, and n / distinct / Σ round(1e6·c·ln c) all fall
    out of one codegen-adjacent projection. At any cluster size the
    operator is a single map-only pass over the corpus (100x probe:
    2.87s shipped → 2.02s, measured at 93e38e4 with value identity
    asserted, `scripts/ab.py x_text_entropy 93e38e4^`; the (doc, long)
    hashdom rework measured WORSE at 3.96s — the win is removing the
    exchanges, not narrowing them).

    Hash-collision caveat (the accepted lm_score/boilerplate pattern):
    two distinct tokens colliding in xxhash64 within one document
    would merge their counts; the registered query's DuckDB oracle
    counts strings independently, so a collision surfaces as a driver
    hash mismatch rather than passing silently."""
    from data_wrangling_spark.functions.text import tokens

    staged = (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), tokens(text_col).alias("_toks"))
        .filter(F.size("_toks") >= 1)
        .select(
            id_col,
            F.array_sort(
                F.transform("_toks", lambda t: F.xxhash64(t))
            ).alias("_hs"),
        )
    )
    # run boundaries: 1-based positions i where h[i] starts a new run
    bounded = staged.select(
        id_col,
        F.size("_hs").alias("_n"),
        F.expr(
            "filter(sequence(1, size(_hs)), i -> i = 1 OR "
            "element_at(_hs, i) != element_at(_hs, i - 1))"
        ).alias("_bs"),
    )
    # run lengths = next boundary - this boundary (sentinel n+1 at the
    # end); the integer micro-nat inner sum matches the former
    # per-(doc, token) aggregate term for term
    s = F.expr(
        "aggregate(zip_with(_bs, "
        "concat(slice(_bs, 2, size(_bs) - 1), array(_n + 1)), "
        "(a, b) -> b - a), 0L, (acc, c) -> acc + "
        "cast(round(1000000.0 * c * ln(c)) as long))"
    )
    return bounded.select(
        F.col(id_col),
        F.col("_n").cast("long").alias("n_tokens"),
        F.size("_bs").cast("long").alias("distinct_tokens"),
        F.round(
            F.lit(1000000.0) * F.log("_n") - s.cast("double") / F.col("_n")
        )
        .cast("long")
        .alias("entropy_micro"),
    )


def shingle_novelty(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """Per-document novelty: the fraction (integer ppm) of the
    document's distinct n-gram shingles whose FIRST corpus occurrence
    (minimum id over all documents containing the shingle) is this
    document — the redundancy/curriculum signal: late exact or near
    copies score ~0, fresh content scores ~1e6. Order is the stable id
    order, so the score is deterministic and append-monotone (adding
    later documents never changes earlier scores).

    Returns (id_col, n_shingles, n_novel, novelty_ppm); documents with
    no shingles (< n tokens) produce no row.

    Scale shape: no posting-level join anywhere. Per-doc denominators
    are ``size(shingles(text))`` — the shingle array is already
    per-doc distinct, so the count is a NARROW projection. Novel
    counts come from the vocabulary side: explode → min(id) per
    shingle (map-side partials collapse the shuffle to the distinct
    vocabulary), regrouped by that min id into per-doc novel counts
    (≤ min(docs, vocabulary) rows) and joined back — the join's right
    side is vocabulary-bounded, never posting-bounded. (The first
    form — distinct (doc, shingle) postings joined to the min table —
    ground through a 5·10⁷-row shuffle at 100× and GC-thrashed; this
    one is one vocabulary aggregate.) Shingle identity rides as 64-bit
    GRAM HASHES (dedup.gram_hashes_from_tokens — only counts leave
    this operator, never the gram text): no gram string is ever built
    and the vocabulary aggregate keys on longs (round-7: 28.6s → 19.0s
    at 10x, 53.7s → 34.9s at 20x bench scale, identical output — the
    residual is posting volume, not allocation; collision odds and the
    oracle-would-catch-it argument in the helper's docstring)."""
    from data_wrangling_spark.operators.dedup import gram_hashes_from_tokens

    # tokens staged as a projected multi-use column (advisor find,
    # round 7): gram_hashes_from_tokens instantiates its input n+3
    # times, so the expression form would plant that many tokenize
    # regexes in the plan. The "no shingles" condition is applied as
    # the equivalent CHEAP precondition size(_toks) >= n BEFORE the
    # gram projection — filtering on size(_sh) AFTER it let predicate
    # pushdown substitute the whole gram chain into the filter and
    # evaluate it twice per row (round-8 plan audit: the pushed filter
    # carried 6 tokenize instantiations; HOF chains sit outside
    # codegen's subexpression elimination, so that was real runtime,
    # not plan-text noise — the staged+prefiltered form measured ~2x
    # faster on the projection A/B).
    docs = (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("_doc"), TX.tokens(text_col).alias("_toks"))
        .filter(F.size("_toks") >= n)
        .select("_doc", gram_hashes_from_tokens(F.col("_toks"), n).alias("_sh"))
    )
    # >= n tokens guarantees >= 1 distinct gram: no post-filter needed
    per_doc = docs.select("_doc", F.size("_sh").alias("n_shingles"))
    novel = (
        # explode_outer, NOT explode: InferFiltersFromGenerate adds a
        # size(_sh) > 0 filter under a plain explode and pushdown
        # re-instantiates the gram chain inside it; outer generates
        # infer nothing, and the null row an empty array would emit
        # cannot occur after the >= n-token prefilter (the isNotNull
        # is a cheap belt-and-braces on the exploded long)
        docs.select("_doc", F.explode_outer("_sh").alias("_shingle"))
        .filter(F.col("_shingle").isNotNull())
        .groupBy("_shingle")
        .agg(F.min("_doc").alias("_first"))
        .groupBy("_first")
        .agg(F.count(F.lit(1)).alias("n_novel"))
    )
    return (
        per_doc.join(novel, per_doc["_doc"] == novel["_first"], "left")
        .select(
            F.col("_doc").alias(id_col),
            F.col("n_shingles").cast("long").alias("n_shingles"),
            F.coalesce(F.col("n_novel"), F.lit(0)).cast("long").alias("n_novel"),
            F.round(
                F.lit(1000000.0) * F.coalesce(F.col("n_novel"), F.lit(0))
                / F.col("n_shingles")
            )
            .cast("long")
            .alias("novelty_ppm"),
        )
    )


def boilerplate_removal(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seg_tokens: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """CCNet-style corpus-level segment deduplication WITH document
    reassembly: split every document into consecutive ``seg_tokens``-token
    segments, count each segment's document frequency across the corpus,
    drop segments appearing in >= ``min_docs`` distinct documents
    (shared boilerplate: headers, footers, license blocks, templated
    spans), and rebuild each document from its surviving segments in
    original order. This is the TRANSFORM counterpart of
    :func:`boilerplate_spans` (which only reports the offending spans) —
    the operator a real curation pipeline runs before training.

    Returns (id_col, n_segments, n_kept, cleaned_text); a document whose
    every segment is boilerplate keeps its row with n_kept = 0 and
    cleaned_text = ''.

    Scale shape — every CORPUS-level shuffle rides in the 64-bit hash
    domain; segment STRINGS never leave their source task (the
    :func:`boilerplate_spans` trick, round-8 verdict's last perf-weak
    fix; the previous form keyed the posting aggregate, the df count
    AND the df join on the raw 8-token segment string — 5.9x DuckDB at
    100x for the exact shuffles the hash domain shrinks to 8 bytes):

    1. segmentation is a NARROW projection (regex split) that
       immediately projects ``xxhash64(segment)`` and DROPS the string;
    2. within-doc dedup happens IN THE ARRAY (round 13:
       ``array_distinct`` over the hashed array), so the (doc, hash)
       posting relation is distinct BY CONSTRUCTION straight off the
       scan — the former per-(doc, hash) hash aggregate and its
       corpus-scale exchange are gone outright (guide §2.4); document
       frequency is then ONE h-keyed aggregate whose map-side partials
       collapse to per-task vocabulary;
    3. the drop decision is purely hash-based, so no position lists
       are needed at all (round 13): the distinct posting rows inner-
       join the boilerplate hash set (unique aggregate output — AQE
       broadcasts it when it fits) and ONE per-doc list aggregate
       collects each affected doc's OFFENDER HASHES (bounded by the
       doc's distinct boilerplate segments — tighter than the old
       per-occurrence position lists);
    4. reassembly is a doc-keyed LEFT join of the ORIGINAL rows
       against that drop set: re-segment narrowly (the text was going
       to be read for output anyway) and keep every segment whose
       hash is not in the doc's bad-hash array via one flat ``filter``
       — original order is the array order, deterministic under any
       partitioning.

    Every posting exchange ships rows keyed on 8 bytes — the plan test
    pins that no exchange partitions on the segment string. Round-12
    stage probes at 100x: segmentation pass 0.67s, posting aggregate
    1.69s, shipped 5.19s -> 3.3s (position lists only for dropped
    segments). Round-13 rework (this form): corpus exchanges 3 -> 2
    and segmentation passes 3 -> 2; the local 100x A/B is a WASH
    within noise (3.8-3.9s -> 3.5-3.7s, identical output incl. the
    whitespace edge cases) because the shared final reassembly
    projection dominates locally — the win is the removed
    corpus-scale (doc, hash) exchange, whose bytes scale with the
    corpus while the surviving h-keyed exchange collapses map-side to
    vocabulary.

    Hash-collision caveat (same as :func:`boilerplate_spans`): two
    distinct segments colliding in xxhash64 would merge their df counts
    (P ~ vocab^2 / 2^65); the registered query's DuckDB oracle counts
    strings independently, so a collision surfaces as a driver hash
    mismatch rather than passing silently.

    Segmentation is REGEX-NATIVE, not array-HOF (round-9 A/B at 100x:
    the ``transform(sequence, i -> array_join(slice(tokens, ...)))``
    chain cost 20.5s per corpus pass — nested higher-order functions
    run interpreted, outside whole-stage codegen — vs 2.1s for the
    plain tokenize split; the regex form is three codegen string ops).
    Equivalence to the token-array form, case by case: squeeze
    ``\\s+`` -> one space over the space-only-trimmed text, so every
    token boundary is exactly one space and the empty tokens the
    array form produces (leading non-space whitespace, trailing
    whitespace, ''-token of empty text) survive as leading/trailing
    spaces; then ONE pass inserting a newline after every
    ``seg_tokens``-th token (``[^ ]*`` matches the empty tokens the
    squeeze preserved; post-squeeze content cannot contain a newline —
    every whitespace char became a space — so the separator cannot
    collide); ``split`` keeps trailing empties exactly like the
    tokenizer's ``split``. Each group joins its tokens with single
    spaces — byte-identical to ``array_join(slice(tokens), ' ')``,
    pinned by the string-domain replay test across the whitespace edge
    cases."""
    norm = F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " ")
    group_re = f"((?:[^ ]* ){{{seg_tokens - 1}}}[^ ]*) "
    marked = F.regexp_replace(norm, group_re, "$1\n")
    segs = F.split(marked, "\n")
    # segs staged as a projected column (the shingle_novelty lesson:
    # chained expressions sit outside codegen subexpression
    # elimination, so each textual use re-runs the regexes — the
    # reassembly select reads it three times)
    base = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        segs.alias("_segs"),
        F.array_distinct(
            F.transform(segs, lambda s: F.xxhash64(s))
        ).alias("_hs"),
    )
    # hash INSIDE the array and dedup IN the array: explode then emits
    # distinct (doc, hash) LONG pairs straight off the scan — no
    # per-(doc, hash) aggregate, no corpus-scale exchange (round 13;
    # the segment string never reaches the generator, as before)
    pairs = base.select(
        F.col(id_col), F.explode("_hs").alias("_h")
    )
    bad = (
        pairs.groupBy("_h")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") >= min_docs)
        .select("_h")
    )
    doc_bad = (
        # INNER equi join of the distinct posting rows against bad's
        # unique _h (not left_semi: Catalyst pushes a semi below
        # aggregates and re-scans the corpus branch — the round-9
        # probe measured the semi form at 94.6s vs 49.3s inner at
        # 100x). Re-reading `pairs` here re-runs segmentation+hash
        # (0.67s at 100x) — cheaper than persisting a corpus-scale
        # relation; only OFFENDER hashes are ever list-collected.
        pairs.join(bad, "_h")
        .groupBy(id_col)
        .agg(F.collect_list("_h").alias("_badhs"))
    )
    bad_arr = F.coalesce(F.col("_badhs"), F.array().cast("array<bigint>"))
    # drop decision is purely hash-based: keep segments whose hash is
    # not in the doc's offender set (re-hashing a segment in the
    # filter is one codegen xxhash64 per element)
    kept_segs = F.filter(
        "_segs", lambda s: ~F.array_contains(bad_arr, F.xxhash64(s))
    )
    return (
        base.join(doc_bad, id_col, "left")
        .select(
            F.col(id_col),
            F.size("_segs").cast("long").alias("n_segments"),
            F.size(kept_segs).cast("long").alias("n_kept"),
            F.array_join(kept_segs, " ").alias("cleaned_text"),
        )
    )


#: feature-hashing constants for hashed_linear_score — the md5 bucket is
#: the engine-portable splits.py trick; the synthetic weight is a Knuth
#: multiplicative hash of the bucket (exact integer arithmetic, so a
#: plain-SQL oracle replays the whole model)
HASH_CLS_BUCKETS = 4096
HASH_CLS_WEIGHT_MULT = 2654435761  # dedup.py _SEED_HASH_MULT (Knuth)
HASH_CLS_WEIGHT_MOD = 2001  # weights in [-1000, 1000]


def hashed_linear_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = HASH_CLS_BUCKETS,
    weights: DataFrame | None = None,
    threshold_milli: int = 0,
    carry: list[str] | None = None,
) -> DataFrame:
    """fastText-shaped linear quality classifier via the hashing trick:
    every token hashes into one of ``n_buckets`` feature buckets
    (first 4 hex chars of md5 — the engine-portable splits.py bucket),
    the document's score is the mean bucket weight in integer
    milli-units, and the label thresholds that score. This is the
    architecture of the standard LLM-data quality filter (a linear model
    over hashed n-gram features, CCNet/fastText style); the weights are
    pluggable.

    ``weights``: optional (bucket: int, weight: bigint) DataFrame — a
    trained model. When None, a deterministic synthetic model is used
    (Knuth multiplicative hash of the bucket id → weight in
    [-1000, 1000]), which keeps the plan NARROW (no join at all) and the
    whole pipeline exactly replayable in plain SQL — the registered
    oracle pins that parity.

    Returns (id_col, n_tokens, score_milli, label) with
    score_milli = round(1000 · Σw / n) — an integer sum divided once in
    double, so the value is hash-exact across engines and partitionings.

    Scale shape (round 13): with the synthetic model the whole operator
    is a ZERO-shuffle map-only pass — the score is a per-document
    statistic, so the former explode → per-doc hash agg paid an
    exchange (and the agg machinery over every token occurrence) for
    what one array HOF computes in place: ``aggregate(transform(toks,
    t -> w(t)), 0L, +)`` evaluates the md5 bucket and Knuth weight
    inside the token array and sums in integers (order-independent).
    With a trained ``weights`` relation the explode + broadcast-join
    attach remains (the model is n_buckets rows — tiny by
    construction).

    ``carry``: extra ``df`` columns to pass through onto each output
    row (round 13) — with the map-only synthetic-model path this lets
    consumers that need per-document attributes next to the score
    (the x_eval_* label/group columns) stay join-free: the former
    ``score.join(df.select(...), id)`` re-attach paid a doc-scale
    shuffle of BOTH sides for columns that were sitting in the same
    row all along."""
    carry = carry or []

    def _bucket(tok: Column) -> Column:
        return (
            F.conv(F.substring(F.md5(tok), 1, 4), 16, 10).cast("long")
            % n_buckets
        )

    if weights is None:
        w = lambda t: (  # noqa: E731
            _bucket(t) * HASH_CLS_WEIGHT_MULT % HASH_CLS_WEIGHT_MOD
            - (HASH_CLS_WEIGHT_MOD - 1) // 2
        )
        agg = (
            df.filter(F.col(text_col).isNotNull())
            .select(F.col(id_col), *carry, TX.tokens(text_col).alias("_toks"))
            .filter(F.size("_toks") >= 1)
            .select(
                id_col,
                *carry,
                F.size("_toks").cast("long").alias("n_tokens"),
                F.aggregate(
                    F.transform("_toks", w),
                    F.lit(0).cast("long"),
                    lambda acc, x: acc + x,
                ).alias("_s"),
            )
        )
    else:
        tok_rows = df.filter(F.col(text_col).isNotNull()).select(
            F.col(id_col), *carry, F.explode(TX.tokens(text_col)).alias("_tok")
        ).select(F.col(id_col), *carry, _bucket(F.col("_tok")).alias("_bucket"))
        weighted = tok_rows.join(
            F.broadcast(weights.withColumnRenamed("bucket", "_bucket")), "_bucket"
        ).select(F.col(id_col), *carry, F.col("weight").alias("_w"))
        agg = weighted.groupBy(id_col, *carry).agg(
            F.count(F.lit(1)).alias("n_tokens"), F.sum("_w").alias("_s")
        )
    score = F.round(F.lit(1000.0) * F.col("_s") / F.col("n_tokens")).cast("long")
    return agg.select(
        F.col(id_col),
        *carry,
        F.col("n_tokens").cast("long").alias("n_tokens"),
        score.alias("score_milli"),
    ).withColumn(
        "label",
        F.when(F.col("score_milli") > threshold_milli, F.lit("keep")).otherwise(
            F.lit("drop")
        ),
    )


def collocations_pmi(
    df: DataFrame, text_col: str = "text", min_count: int = 5
) -> DataFrame:
    """Corpus bigram collocations by pointwise mutual information — the
    tokenizer-building / multi-word-expression signal:

        pmi = ln( (c_ab / N_pairs) / ((c_a / N) · (c_b / N)) )

    over exact corpus counts (c_ab = bigram count, c_a/c_b = unigram
    counts, N/N_pairs = corpus totals). Returns every bigram with
    c_ab >= ``min_count`` as (w1, w2, c_ab, pmi_micro) — membership is
    decided by exact integer counts alone (no top-k cut on the float),
    and pmi_micro is the PMI rounded to integer micro-nats: the inputs
    to the single ln() are IEEE doubles derived identically on any
    engine, the entropy/lm_score discipline.

    Scale shape — counting runs ENTIRELY in the 64-bit hash domain
    (the boilerplate_removal / lm_score_bigram recipe, round-9 verdict:
    interpreted string-struct explodes were the repo's dominant hidden
    cost). Token hashes are computed INSIDE the array (one
    ``transform`` pass, strings never leave their source task); bigram
    (h1, h2) pairs are two codegen ``slice`` views zipped with
    ``arrays_zip`` so only longs explode; unigram counts DERIVE from
    the bigram counts — c(w) = Σ_b C(w, b) + #docs whose LAST token is
    w (every token occurrence is a bigram prefix except each
    document's last; single-token documents contribute only the last
    term) — so there is NO token-occurrence explode at all. Token
    STRINGS are attached only at the end: one corpus explode of
    per-document tokens semi-filtered by broadcast against the
    survivor hash set (c_ab >= min_count bounds it by the collocation
    vocabulary), then two tiny hash→string joins.

    Hash-collision caveat (same as boilerplate_removal): two distinct
    tokens colliding in xxhash64 would merge counts (P ~ vocab² /
    2^65); the registered query's DuckDB oracle counts strings
    independently, so a collision surfaces as a driver hash mismatch
    rather than passing silently."""
    toks = TX.tokens(text_col)
    docs = df.filter(F.col(text_col).isNotNull()).select(toks.alias("_toks"))
    staged = docs.select(
        F.col("_toks"),
        F.transform("_toks", lambda t: F.xxhash64(t)).alias("_hs"),
    )
    m = F.size("_hs") - F.lit(1)
    # every document (size >= 1 by split semantics) contributes its
    # last-token hash; docs with >= 2 tokens also contribute bigrams
    pairs = staged.select(
        F.slice("_hs", 1, m).alias("_a"),
        F.slice("_hs", 2, m).alias("_b"),
        F.element_at("_hs", -1).alias("_last"),
    )
    bg = (
        pairs.select(F.explode(F.arrays_zip("_a", "_b")).alias("_p"))
        .select(F.col("_p._a").alias("_h1"), F.col("_p._b").alias("_h2"))
        .groupBy("_h1", "_h2")
        .agg(F.count(F.lit(1)).alias("c_ab"))
    )
    lastc = pairs.groupBy(F.col("_last").alias("_h")).agg(
        F.count(F.lit(1)).alias("_lc")
    )
    # unigram occurrence counts, derived: prefix counts + last-token
    # counts (full outer: a token can appear only as a last token, or
    # only as a prefix)
    uni = (
        bg.groupBy(F.col("_h1").alias("_h"))
        .agg(F.sum("c_ab").alias("_pc"))
        .join(lastc, "_h", "full_outer")
        .select(
            "_h",
            (
                F.coalesce(F.col("_pc"), F.lit(0))
                + F.coalesce(F.col("_lc"), F.lit(0))
            ).alias("_c"),
        )
    )
    totals = uni.agg(
        F.sum("_c").alias("_n"),
    ).crossJoin(bg.agg(F.sum("c_ab").alias("_np")))
    surv = bg.filter(F.col("c_ab") >= min_count)
    # hash→string map for the SURVIVORS only: explode corpus tokens
    # once, semi-filter immediately against the broadcast survivor
    # hash set (collocation-vocabulary-sized), dedupe the tiny result
    need = (
        surv.select(F.col("_h1").alias("_h"))
        .union(surv.select(F.col("_h2").alias("_h")))
        .distinct()
    )
    # explode DISTINCT tokens per document, not occurrences: the
    # hash→string map only needs each (hash, string) pair once per doc,
    # and array_distinct inside the array cuts the exploded row count
    # by the per-doc repetition factor before any row exists (round-10
    # probe at 100x: 15.6s -> 9.6s full-query, the vocab pass being
    # the difference; output identical — dedup per doc changes neither
    # the global pair set nor MIN(_w))
    vocab = (
        docs.select(F.explode(F.array_distinct("_toks")).alias("_w"))
        .select(F.xxhash64("_w").alias("_h"), F.col("_w"))
        .join(F.broadcast(need), "_h")
        .groupBy("_h")
        .agg(F.min("_w").alias("_w"))
    )
    pmi = (
        surv.join(uni.select(F.col("_h").alias("_h1"), F.col("_c").alias("_ca")), "_h1")
        .join(uni.select(F.col("_h").alias("_h2"), F.col("_c").alias("_cb")), "_h2")
        .join(vocab.select(F.col("_h").alias("_h1"), F.col("_w").alias("w1")), "_h1")
        .join(vocab.select(F.col("_h").alias("_h2"), F.col("_w").alias("w2")), "_h2")
        .crossJoin(F.broadcast(totals))
    )
    expr = F.log(
        (F.col("c_ab").cast("double") / F.col("_np"))
        / (
            (F.col("_ca").cast("double") / F.col("_n"))
            * (F.col("_cb").cast("double") / F.col("_n"))
        )
    )
    return pmi.select(
        "w1",
        "w2",
        F.col("c_ab").cast("long").alias("c_ab"),
        F.round(F.lit(1000000.0) * expr).cast("long").alias("pmi_micro"),
    ).orderBy(F.col("pmi_micro").desc(), "w1", "w2")


def dsir_importance(
    df: DataFrame,
    target: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 1024,
    persist_tokens: bool = False,
) -> DataFrame:
    """DSIR-style importance weighting (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): estimate how
    target-like each document is under hashed bag-of-words language
    models of a TARGET slice vs the SOURCE (the rest), as

        log w(doc) = Σ_tokens ln( p_target(bucket) / p_source(bucket) )

    with add-one smoothing over ``n_buckets`` hashed token features.
    DSIR's published recipe then resamples by these weights; here the
    deterministic core — the per-document log importance weight — is
    the output, with ``selected`` = positive per-token average (more
    target-like than source-like).

    Exactness discipline (the lm_score/entropy pattern): each bucket's
    log-ratio is rounded ONCE to integer micro-nats (identical IEEE
    double inputs to one ln per bucket on any engine), and per-document
    weights are INTEGER sums of those — immune to float summation
    order, so the result is hash-exact across engines and partitionings.

    Scale shape: TWO corpus passes, the honest lazy floor — the model
    must exist before scoring can consume it, and Spark does not reuse
    the exchange between a broadcast-subquery stage and the probe side
    (round-10 probe: 0 ReusedExchange in the executed plan), so any
    "shared" intermediate re-executes per consumer. Pass 1 builds the
    bucket model: one token explode into a bucket-keyed hash aggregate
    (≤ n_buckets rows, map-side partials); the smoothing totals come
    from a GLOBAL WINDOW over that n_buckets-row counts table —
    control-plane-sized by construction (plan-hygiene whitelist) — NOT
    a separate totals aggregate, whose broadcast subquery re-executed
    the whole explode as a third corpus pass (round-10 probe at 100x:
    3 Generate-explodes, 30.7s; window form: 2, 24.0s,
    output-identical). Pass 2 scores: explode again, broadcast-join
    the n_buckets-row model, one per-document aggregate. The md5
    bucket hash is oracle-mandated (DuckDB must replay bucket ids
    bit-for-bit; xxhash64 has no DuckDB twin) and costs ~6s/pass of
    the 100x total — the price of a replayable model.

    ``persist_tokens=True`` caches the tokenized (id, is_target,
    bucket) projection (MEMORY_AND_DISK) so pass 2 reads it back
    instead of re-running scan + tokenize + explode + md5: measured
    23.9s -> 16.1s at 100x (measured at 90aa144, fresh JVM,
    value-hash parity checked; `scripts/ab.py x_text_dsir 90aa144^`) —
    DSIR's per-pass compute is costly enough to FLIP the vec_outliers
    round-10 verdict that caching an exploded corpus projection loses
    to recompute. One-shot scoring
    jobs (the production shape) should enable it; the default stays
    False because (a) the cache outlives the returned DataFrame's
    execution — callers own the unpersist — and (b) re-executing the
    same cached plan skips pass 1, so any repeated-measurement
    harness (this repo's bench suite included) would time warm runs
    and publish a number one-shot users never see."""
    bucket = (
        F.conv(F.substring(F.md5(F.col("_tok")), 1, 4), 16, 10).cast("long")
        % n_buckets
    )
    base = df.select(
        F.col(id_col), target.alias("_is_t"), F.col(text_col).alias("_text")
    )
    toks = base.filter(F.col("_text").isNotNull()).select(
        F.col(id_col),
        "_is_t",
        F.explode(TX.tokens("_text")).alias("_tok"),
    ).select(F.col(id_col), "_is_t", bucket.alias("_bucket"))
    if persist_tokens:
        from pyspark import StorageLevel

        toks = toks.persist(StorageLevel.MEMORY_AND_DISK)
    counts = toks.groupBy("_bucket").agg(
        F.sum(F.when(F.col("_is_t"), 1).otherwise(0)).alias("_ct"),
        F.sum(F.when(F.col("_is_t"), 0).otherwise(1)).alias("_cs"),
    )
    # totals via a GLOBAL window over the n_buckets-row counts table
    # (control-plane-sized by construction): a separate totals
    # aggregate + crossJoin(broadcast(...)) plants the counts subplan
    # inside a broadcast subquery, and Spark re-executes the token
    # explode for it — a whole third corpus pass (docstring probe)
    wall = Window.partitionBy()
    b = F.lit(float(n_buckets))
    lr = counts.select(
        "_bucket",
        "_ct",
        "_cs",
        F.sum("_ct").over(wall).alias("_nt"),
        F.sum("_cs").over(wall).alias("_ns"),
    ).select(
        "_bucket",
        F.round(
            F.lit(1000000.0)
            * F.log(
                ((F.col("_ct") + 1).cast("double") / (F.col("_nt") + b))
                / ((F.col("_cs") + 1).cast("double") / (F.col("_ns") + b))
            )
        )
        .cast("long")
        .alias("_lr_micro"),
    )
    scored = (
        toks.join(F.broadcast(lr), "_bucket")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("_lr_micro").alias("weight_micro"),
        )
    )
    avg = F.round(
        F.col("weight_micro").cast("double") / F.col("n_tokens")
    ).cast("long")
    return (
        base.select(id_col, "_is_t")
        .join(scored, id_col, "left")
        .select(
            F.col(id_col),
            F.col("_is_t").alias("is_target"),
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("weight_micro", F.lit(0)).cast("long").alias("weight_micro"),
            F.when(F.col("n_tokens") > 0, avg).alias("avg_micro"),
            F.when(F.col("n_tokens") > 0, avg > 0)
            .otherwise(F.lit(False))
            .alias("selected"),
        )
        .orderBy(id_col)
    )
