"""Deduplication operators for LLM training-data pipelines
(SURVEY.md §2.11 X-DEDUP-*; BASELINE.json north-star mandate).

Five strategies, all pure DataFrame compositions (no Python UDFs, no
driver-side loops):

- exact            hash-groupBy on the raw column
- fingerprint      exact dedup after text canonicalization
- n-gram Jaccard   shingle inverted index → pair counts → Jaccard filter
- MinHash + LSH    k minhash sketches → banded bucket join → estimate
- SimHash          64-bit sign-of-weighted-sum sketch → banded hamming join
- embedding cosine all-pairs / LSH-bucketed cosine over array<float>

Scale posture (100 TB): every strategy avoids the quadratic all-pairs
explosion by joining on a bounded key (text hash / shingle / band bucket),
so shuffle volume is O(data × sketch), not O(n²). The only O(n²) path is
``embedding_near_duplicates(method='brute')``, kept for small dims/oracle
checking; the LSH variant is the scale path. Candidate-pair verification
happens AFTER the bucket join on the (much smaller) candidate set.

Design sources: the MinHash/LSH banding scheme follows the standard
Broder/MMDS construction; hashes are Spark's built-in xxhash64 with the
band/hash index as a second column (deterministic, seed-free).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_wrangling_spark.functions.text import normalized, tokens


# ---------------------------------------------------------------------------
# exact + fingerprint
# ---------------------------------------------------------------------------

def dedup_exact(df: DataFrame, subset: list[str], id_col: str | None = None) -> DataFrame:
    """X-DEDUP-EXACT: keep one row per distinct ``subset``.

    With ``id_col``, keeps the row with the MINIMUM id (deterministic
    canonical representative — ``dropDuplicates`` would keep an arbitrary
    one, which breaks reproducibility across runs/engines)."""
    if id_col is None:
        return df.dropDuplicates(subset)
    # min-of-struct, not groupBy+join-back: a join on the subset columns
    # would use null-unsafe equality and silently DROP groups whose
    # subset contains NULL; the struct min needs no second pass at all
    rest = [c for c in df.columns if c not in subset and c != id_col]
    packed = df.groupBy(*subset).agg(
        F.min(F.struct(id_col, *rest)).alias("_rep")
    )
    return packed.select(
        *subset,
        F.col(f"_rep.{id_col}").alias(id_col),
        *[F.col(f"_rep.{c}").alias(c) for c in rest],
    ).select(*df.columns)


def dedup_fingerprint(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup after canonicalization (lowercase, strip punctuation,
    squeeze whitespace) — catches trivially-reformatted duplicates."""
    fp = df.withColumn("fingerprint", F.md5(normalized(text_col)))
    return (
        fp.groupBy("fingerprint")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("n_duplicates"))
    )


def keep_best_representative(
    df: DataFrame,
    group_col: str,
    score_col: str,
    id_col: str,
) -> DataFrame:
    """Curation-style dedup: per ``group_col`` group keep the single row
    with the HIGHEST ``score_col`` (ties broken by smallest ``id_col`` —
    fully deterministic). Adds ``n_duplicates`` = group size.

    The canonical corpus-curation policy: when a document cluster is a
    duplicate set, keep the best-quality member rather than an arbitrary
    or lowest-id one. Executes as one hash shuffle on the group key with
    both window functions sharing a single sort; the rank filter is the
    argmax pattern Spark runs with partial top-1 pushdown
    (WindowGroupLimit) before the exchange."""
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(F.desc(score_col), F.asc(id_col))
    wcnt = Window.partitionBy(group_col)
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .withColumn("n_duplicates", F.count("*").over(wcnt))
        .filter(F.col("_rk") == 1)
        .drop("_rk")
    )


# ---------------------------------------------------------------------------
# shingles (shared by Jaccard + MinHash)
# ---------------------------------------------------------------------------

def shingles(text_col, n: int = 3):
    """Distinct word n-gram shingles as an array column (built-in
    higher-order fns; empty array for texts shorter than n tokens).

    Built by zip_with over n SHIFTED SLICES of the token array, not by
    ``transform(sequence, i -> element_at(toks, i+j))``: a reference to
    the tokenization expression INSIDE a per-element lambda is inlined
    by Catalyst and re-evaluated for every element — the old form ran
    ``split()`` O(n_tokens) times per row (quadratic in document
    length; measured 8.5s -> 0.6s for one explode+count pass over 5k
    sf0.1 documents). The slice form evaluates the tokenization a
    CONSTANT ~n+1 times per row regardless of document length.

    Semantics identical to the old form: slice(toks, j, 0) is [] when
    the text has fewer than n tokens, so short texts yield [] without a
    guard; all n slices share length m = size - n + 1, so zip_with
    never NULL-pads. One deliberate change: NULL text now yields NULL
    (null-in-null-out) where the old guard yielded [] — all callers
    explode the result, for which the two are indistinguishable."""
    toks = tokens(text_col)
    if n == 1:
        return F.array_distinct(toks)
    m = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(0))
    acc = F.slice(toks, 1, m)
    for j in range(2, n + 1):
        acc = F.zip_with(
            acc, F.slice(toks, j, m), lambda a, b: F.concat_ws(" ", a, b)
        )
    return F.array_distinct(acc)


def shingles_from_tokens(toks: "F.Column", n: int = 3):
    """``shingles`` over a PRE-STAGED token array COLUMN — the fast
    form for hot paths that tokenize once into a projected ``_toks``
    column (see text_analysis.boilerplate_spans).

    Single pass: one index transform building each n-gram with one
    ``concat_ws`` and n O(1) ``element_at`` reads — no intermediate
    slice copies, no 2-gram string allocations (the ``shingles``
    zip-of-slices form allocates a full intermediate string array per
    zip level; measured 21.5s -> 7.9s for the shingle pass over 500k
    documents at 100x). The lambda may reference ``toks`` ONLY because
    it is a bound column attribute: passing a tokenization EXPRESSION
    here would be inlined by Catalyst and re-evaluated per element —
    the exact quadratic bug ``shingles`` exists to avoid. Callers must
    project the tokens first; ``shingles`` remains the safe
    expression-input form.

    Same contract as ``shingles``: distinct n-grams, [] for texts
    shorter than n tokens, NULL for NULL input (sequence(1, m<=0)
    would count DOWN, hence the guarded branches)."""
    if n == 1:
        return F.array_distinct(toks)
    m = F.size(toks) - F.lit(n - 1)
    # index-lambda transform over the token array itself (no index
    # sequence() array materialized per row); the trailing n-1 entries
    # are partial grams (try_element_at past the end is NULL — plain
    # element_at THROWS under ANSI mode — and concat_ws skips NULLs),
    # so slice to the first m
    grams = F.slice(
        F.transform(
            toks,
            lambda x, i: F.concat_ws(
                " ",
                x,
                *[
                    F.try_element_at(toks, i + F.lit(j + 1))
                    for j in range(1, n)
                ],
            ),
        ),
        1,
        F.greatest(m, F.lit(0)),
    )
    return F.when(toks.isNull(), F.lit(None).cast("array<string>")).otherwise(
        F.array_distinct(grams)
    )


def gram_hashes_from_tokens(toks: "F.Column", n: int = 3):
    """Distinct 64-bit hashes of each n consecutive tokens — the
    allocation-free twin of :func:`shingles` for pipelines that only
    need n-gram IDENTITY, not the string (cross-doc frequency counting,
    candidate generation): no intermediate gram string is ever built,
    and downstream joins/aggregates key on longs instead of strings
    (measured on boilerplate_spans at 100x: 23.8s -> 16.7s at f6f2a6b;
    `scripts/ab.py x_text_boilerplate_spans f6f2a6b^`).

    Built like ``shingles`` — a chain of zip_with over n SHIFTED SLICES
    — hashing pairwise per level: ``h_1[i] = xxhash64(t_i)``, ``h_j[i]
    = xxhash64(h_{j-1}[i], t_{i+j-1})``. Every lambda touches only its
    BOUND zip variables, never the token array: an earlier form read
    ``try_element_at(toks, i+j)`` inside a per-element lambda, and even
    with ``toks`` staged as a projected column, filter pushdown +
    InferFiltersFromGenerate re-inlined the tokenization expression
    into the lambda — O(tokens^2) re-tokenization per row (4.5x query
    wall at a 10x bench scale; the exact trap ``shingles``' docstring
    describes). Per-field length framing is preserved by the chain
    (each level hashes one whole token against the running hash), so
    shifted-boundary splits ('ab c' vs 'a bc') cannot alias.

    Same contract as ``shingles``: distinct hashes, [] for texts
    shorter than n tokens, NULL for NULL input. Passing an expression
    (rather than a staged column) is LINEAR-safe, not free: ``toks`` is
    instantiated n+3 times (size + the shifted slices + their length
    args), so an expression input plants that many copies of itself in
    the plan — runtime subexpression elimination within the ProjectExec
    usually dedups them, but callers on a hot path should project the
    token array first (dedup_incremental and shingle_novelty do; the
    quadratic re-tokenization trap the paragraph above describes was a
    separate, lambda-capture problem and stays fixed either way).
    Collisions
    merge two distinct n-grams with probability ~(distinct grams)^2 /
    2^65 — negligible at any realistic vocabulary, and consumers that
    reconstruct strings (boilerplate_spans) or emit statuses
    (dedup_incremental) stay oracle-checked in the string domain, so a
    collision would surface as a driver mismatch."""
    m = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(0))
    acc = F.transform(F.slice(toks, 1, m), lambda x: F.xxhash64(x))
    for j in range(2, n + 1):
        acc = F.zip_with(
            acc, F.slice(toks, j, m), lambda h, x: F.xxhash64(h, x)
        )
    return F.array_distinct(acc)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.3,
    max_df: int | None = None,
) -> DataFrame:
    """X-DEDUP-FUZZY via exact n-gram Jaccard: inverted-index join on
    shingles → per-pair intersection counts → Jaccard ≥ threshold.

    Shuffles on the shingle (bounded fan-out per shingle at realistic
    vocabularies); pair aggregation keys are (id_a, id_b) of candidate
    pairs only — never materializes the full n² grid.

    ``max_df`` is the stop-shingle safety valve for corpus scale: a
    shingle appearing in f documents contributes f·(f-1)/2 candidate
    pairs, so one boilerplate phrase shared by a million documents is a
    5·10¹¹-row join all by itself. With ``max_df`` set, shingles whose
    document frequency exceeds it are dropped BEFORE the pair join (one
    extra DF aggregate + semi join), and the per-document sizes are
    recomputed on the pruned postings so the reported value is the exact
    Jaccard of the PRUNED shingle sets (the standard stop-gram-filtered
    similarity, not an approximation of the unpruned one). Ubiquitous
    shingles carry no discriminative signal, so near-dup recall is
    unaffected; default None preserves exact unpruned semantics."""
    sh = df.select(
        F.col(id_col).alias("doc"), F.explode(shingles(text_col, n)).alias("shingle")
    )
    if max_df is not None:
        keep = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_df)
            .select("shingle")
        )
        sh = sh.join(keep, "shingle", "left_semi")
    sizes = sh.groupBy("doc").agg(F.count("*").alias("n_shingles"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc").alias("doc_a"), F.col("n_shingles").alias("n_a"))
    sb = sizes.select(F.col("doc").alias("doc_b"), F.col("n_shingles").alias("n_b"))
    jac = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_common", "n_a", "n_b", "jaccard")
    )


def _prefix_postings(
    df: DataFrame, id_col: str, text_col: str, n: int, threshold: float
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The prefix-filter builder behind both exact gram joins
    (:func:`jaccard_pairs_prefix`, :func:`containment_pairs`). Returns

    - ``gram_sets`` (doc, _grams): each non-NULL document's DISTINCT
      64-bit gram hashes, documents with no gram dropped;
    - ``sh`` (doc, n_sh, gram): the full postings;
    - ``prefix`` (doc, gram): each document's PREFIX postings — its
      first ``|S| - ceil(t·|S|) + 1`` grams under the global order
      (ascending document frequency, rarest first, ties by gram).

    ``ceil(t·|S|)`` is computed as ``ceil(t·|S| - 1e-9)``: float
    rounding may only LENGTHEN the prefix (extra candidates — safe),
    never shorten it (false negatives — wrong).

    Scale shape: one df aggregate (map-side partials collapse to the
    vocabulary) and one per-DOC row_number window (bounded by document
    length). Gram identity rides as hashes end to end, so strings never
    shuffle."""
    from pyspark.sql import Window

    gram_sets = (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("doc"), tokens(text_col).alias("_toks"))
        .select(
            "doc", gram_hashes_from_tokens(F.col("_toks"), n).alias("_grams")
        )
        .filter(F.size("_grams") >= 1)
    )
    # per-doc set size rides the explode as a projected column — no
    # separate sizes aggregate + join (the arrays are distinct, so
    # size(_grams) IS the posting count). explode_OUTER + manual null
    # filter, NOT plain explode: plain explode lets
    # InferFiltersFromGenerate add a non-null/size filter below the
    # Generate, and its pushdown re-inlines the whole gram-hash chain
    # (tokenize + n zip_with levels) into duplicated expressions —
    # measured 14.4s vs 0.9s on a 200-doc slice at the 100x dir
    # (round-10 probe)
    sh = gram_sets.select(
        "doc",
        F.size("_grams").alias("n_sh"),
        F.explode_outer("_grams").alias("gram"),
    ).filter(F.col("gram").isNotNull())
    dfreq = sh.groupBy("gram").agg(F.count(F.lit(1)).alias("_df"))
    w = Window.partitionBy("doc").orderBy("_df", "gram")
    ranked = sh.join(dfreq, "gram").withColumn("_pos", F.row_number().over(w))
    prefix = ranked.filter(
        F.col("_pos")
        <= F.col("n_sh")
        - F.ceil(F.lit(threshold) * F.col("n_sh") - F.lit(1e-9))
        + F.lit(1)
    ).select("doc", "gram")
    return gram_sets, sh, prefix


def jaccard_pairs_prefix(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.3,
) -> DataFrame:
    """Exact n-gram Jaccard >= threshold via PREFIX FILTERING (the
    AllPairs/PPJoin candidate-pruning scheme, Bayardo et al. 2007 /
    Xiao et al. 2008) — output IDENTICAL to
    :func:`ngram_jaccard_pairs` (same schema, same values; equivalence
    pinned in tests), with a structurally smaller candidate join.

    The theorem: order every document's shingle set by a global total
    order (ascending document frequency, rarest first — ties by gram);
    if Jaccard(A, B) >= t then A and B must share at least one element
    among the FIRST ``|S| - ceil(t·|S|) + 1`` shingles of each (were
    all prefix elements disjoint, the overlap could not reach the
    t·|S| floor). So the inverted-index join runs over PREFIX postings
    only — the rarest ~(1-t) fraction of each document — and a shared
    COMMON shingle no longer generates a candidate pair unless it
    falls in both prefixes. The f²-pair blow-up that ngram_jaccard's
    ``max_df`` valve cuts off by CHANGING semantics (dropping stop
    shingles from the similarity) is here cut without changing them:
    frequent shingles sort to the suffix and never generate
    candidates, yet still count in verification.

    Scale shape: the prefix postings of ``_prefix_postings`` →
    prefix⋈prefix candidate join → verification
    by ``array_intersect`` over the two documents' gram ARRAYS (two
    narrow joins attaching one array per side, O(|S_a| + |S_b|)
    per-pair vectorized work — NOT a posting-level join: the round-8
    A/B found the posting-join verification turns 41M candidates into
    a 2.1 B-row join, 433 s, while the array form is per-pair-linear).
    Array verification is the right trade while documents are shingle-
    count-moderate (10²-10³ grams — this corpus); for huge documents
    the arrays themselves dominate the shuffle and a posting-join
    verification wins instead. Shingle identity rides as 64-bit gram
    hashes end to end (the dedup_incremental discipline — only ids and
    counts leave; the registered query's STRING-domain oracle would
    surface a collision as a driver mismatch).

    Candidate-count honesty (round-8 A/B diagnosis): prefix filtering
    prunes per-document FREQUENT grams; on a corpus dominated by large
    duplicate GROUPS, even each document's rarest grams are shared by
    its whole group, so candidates approach the true-pair count times
    group size — the true output is itself quadratic in group size
    there, and the right composition is exact-dup collapse FIRST
    (operators/splits.py's leakage-safe pattern), then prefix-Jaccard
    over representatives.

    Reference scope: the reference engine has no similarity join at
    all (S2 is an imperative cleaning pipeline); §2.11 X-DEDUP-FUZZY
    extension surface."""
    gram_sets, _, prefix = _prefix_postings(df, id_col, text_col, n, threshold)
    cand = (
        prefix.alias("pa")
        .join(
            prefix.alias("pb"),
            (F.col("pa.gram") == F.col("pb.gram"))
            & (F.col("pa.doc") < F.col("pb.doc")),
        )
        .select(
            F.col("pa.doc").alias("doc_a"), F.col("pb.doc").alias("doc_b")
        )
        .distinct()
    )
    ga = gram_sets.select(
        F.col("doc").alias("doc_a"), F.col("_grams").alias("_ga")
    )
    gb = gram_sets.select(
        F.col("doc").alias("doc_b"), F.col("_grams").alias("_gb")
    )
    verified = (
        cand.join(ga, "doc_a")
        .join(gb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("_ga", "_gb")).alias("n_common"),
            F.size("_ga").alias("n_a"),
            F.size("_gb").alias("n_b"),
        )
    )
    jac = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return (
        verified.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_common", "n_a", "n_b", "jaccard")
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.6,
) -> DataFrame:
    """ASYMMETRIC n-gram containment join: emit directed pairs
    (src, dst) with C(src→dst) = |G_src ∩ G_dst| / |G_src| >= threshold
    over DISTINCT n-gram sets — the quote/excerpt detector Jaccard
    cannot express: a 50-gram snippet fully contained in a 5000-gram
    article has containment 1.0 but Jaccard ~0.01, so symmetric
    near-dup passes keep both while a curation pipeline usually wants
    the subset document flagged (deduplicating quoted/excerpted text is
    the Lee et al. 2022 "Deduplicating Training Data Makes Language
    Models Better" substring-dedup motivation, re-expressed at gram
    granularity).

    Prefix filtering adapts to the asymmetric measure (the overlap-join
    corollary of the AllPairs bound): order every document's gram set
    by ascending document frequency (rarest first, ties by gram); if
    C(src→dst) >= t then dst must contain at least ceil(t·|G_src|)
    of src's grams, so dst must hit at least ONE of src's first
    ``|G_src| - ceil(t·|G_src|) + 1`` grams — were the whole prefix
    missed, the overlap could top out at |G_src| - prefix_len =
    ceil(t·|G_src|) - 1 < t·|G_src|. Only the SRC side can be
    prefix-pruned (containment does not constrain |G_dst ∩ G_src| /
    |G_dst|), so candidates come from prefix(src) ⋈ FULL postings of
    dst — the frequent grams every document shares sort to src
    suffixes and never seed candidates, which is what bounds the join
    fan-out.

    Scale shape: the jaccard_pairs_prefix discipline end to end — the
    same ``_prefix_postings`` (hashed grams, one df aggregate, one
    per-doc row_number window), the prefix⋈postings candidate join on
    a long key, verification by ``array_intersect`` over the two
    documents' gram arrays (per-pair-linear, never a posting-level
    join). Candidate-count honesty: on duplicate-dense corpora compose
    with exact-dup collapse first (jaccard_pairs_collapsed's structure)
    — a large exact-dup group makes the true directed-pair output
    itself quadratic in group size.

    Returns (src_doc, dst_doc, n_common, n_src, n_dst, containment),
    src_doc != dst_doc, containment = n_common / n_src (one IEEE
    division of exact ints — engine-portable). Both directions of a
    mutually-containing pair emit their own rows (A→B and B→A are
    different statements at different denominators).

    Reference scope: no counterpart in the reference engine (S2 is an
    imperative cleaning pipeline); §2.11 X-DEDUP-FUZZY extension
    surface."""
    gram_sets, sh, prefix = _prefix_postings(df, id_col, text_col, n, threshold)
    cand = (
        prefix.select(F.col("doc").alias("src"), "gram")
        .join(
            sh.select(F.col("doc").alias("dst"), "gram"),
            ["gram"],
        )
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    ga = gram_sets.select(F.col("doc").alias("src"), F.col("_grams").alias("_ga"))
    gb = gram_sets.select(F.col("doc").alias("dst"), F.col("_grams").alias("_gb"))
    verified = (
        cand.join(ga, "src")
        .join(gb, "dst")
        .select(
            F.col("src").alias("src_doc"),
            F.col("dst").alias("dst_doc"),
            F.size(F.array_intersect("_ga", "_gb")).alias("n_common"),
            F.size("_ga").alias("n_src"),
            F.size("_gb").alias("n_dst"),
        )
    )
    return (
        verified.withColumn(
            "containment", F.col("n_common") / F.col("n_src")
        )
        .filter(F.col("containment") >= threshold)
        .select("src_doc", "dst_doc", "n_common", "n_src", "n_dst",
                "containment")
    )


def jaccard_pairs_collapsed(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.3,
) -> DataFrame:
    """Exact n-gram Jaccard >= threshold via EXACT-DUP COLLAPSE then
    prefix filtering — output IDENTICAL to :func:`ngram_jaccard_pairs`
    and :func:`jaccard_pairs_prefix` (same schema, same values;
    equivalence pinned in tests), and the scalable default on real
    corpora.

    Why the composition (round-8 A/B, round-8 addendum in
    104d720:SCALING.md):
    prefix filtering prunes per-document FREQUENT grams, but on a
    corpus dense in exact-duplicate GROUPS even each document's rarest
    grams are shared by its whole group, so prefix candidates approach
    true-pairs x group-size and the scheme measured a WASH (1.09x)
    against the plain join. The quadratic mass there is intra-group —
    and intra-group pairs need no gram work at all: members are
    bit-identical in the token domain, so every intra pair is Jaccard
    1.0 with n_common = n_a = n_b = the group's gram-set size. This
    operator therefore:

    1. collapses documents by token-sequence fingerprint
       (``md5(array_join(tokens, ' '))`` — EXACTLY the key that
       determines the gram set, so members of a group provably share
       it; one narrow projection + one hash aggregate, the
       ``leakage_safe_split`` collapse-before-quadratic pattern);
    2. runs :func:`jaccard_pairs_prefix` over one representative per
       group (min id) — the corpus the prefix theorem is actually
       effective on, duplicates gone;
    3. expands back: intra-group pairs from a self-equi-join of the
       membership relation on the group key (output-sized, stats from
       the representative's gram-set size, empty-gram groups excluded
       exactly as the plain join excludes them); inter-group pairs by
       joining each side of the representative pairs through the
       membership relation, swapping (n_a, n_b) when member order
       flips relative to representative order.

    Every shuffle is keyed on ids/fingerprints; gram arrays exist only
    inside the representative-level prefix join. The expansion joins
    are output-bounded (their result IS the pair list).

    Reference scope: §2.11 X-DEDUP-FUZZY extension surface (the
    reference engine has no similarity join)."""
    from data_wrangling_spark.functions.text import tokens

    if threshold > 1.0:
        raise ValueError(f"threshold must be <= 1.0, got {threshold}")
    base = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("doc"),
        F.col(text_col).alias("_text"),
        F.md5(F.array_join(tokens(text_col), " ")).alias("_fp"),
    )
    reps_tbl = base.groupBy("_fp").agg(F.min("doc").alias("_rep"))
    m = base.select("doc", "_fp").join(reps_tbl, "_fp").select("doc", "_rep")
    reps = base.join(
        reps_tbl.select(F.col("_rep").alias("doc")), "doc", "left_semi"
    )
    rep_pairs = jaccard_pairs_prefix(reps, "doc", "_text", n, threshold)

    # inter-group: expand each representative pair through both groups'
    # memberships; (n_a, n_b) swap when the member order flips
    ma = m.select(F.col("_rep").alias("doc_a"), F.col("doc").alias("_da"))
    mb = m.select(F.col("_rep").alias("doc_b"), F.col("doc").alias("_db"))
    swap = F.col("_da") > F.col("_db")
    inter = (
        rep_pairs.join(ma, "doc_a")
        .join(mb, "doc_b")
        .select(
            F.least("_da", "_db").alias("doc_a"),
            F.greatest("_da", "_db").alias("doc_b"),
            F.col("n_common"),
            F.when(swap, F.col("n_b")).otherwise(F.col("n_a")).alias("n_a"),
            F.when(swap, F.col("n_a")).otherwise(F.col("n_b")).alias("n_b"),
            F.col("jaccard"),
        )
    )
    # intra-group: all member pairs at Jaccard exactly 1.0; groups whose
    # gram set is empty (< n tokens) produce no pairs, as in the plain
    # join (no postings -> no candidates)
    rep_sizes = reps.select(
        F.col("doc").alias("_rep"),
        F.size(gram_hashes_from_tokens(tokens("_text"), n)).alias("_n"),
    ).filter(F.col("_n") >= 1)
    intra = (
        m.alias("x")
        .join(
            m.alias("y"),
            (F.col("x._rep") == F.col("y._rep"))
            & (F.col("x.doc") < F.col("y.doc")),
        )
        .select(
            F.col("x.doc").alias("doc_a"),
            F.col("y.doc").alias("doc_b"),
            F.col("x._rep").alias("_rep"),
        )
        .join(rep_sizes, "_rep")
        .select(
            "doc_a",
            "doc_b",
            F.col("_n").alias("n_common"),
            F.col("_n").alias("n_a"),
            F.col("_n").alias("n_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    return inter.unionByName(intra)


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    shingle_n: int = 3,
) -> DataFrame:
    """Per-document MinHash sketch: ``sig[i] = min over shingles of
    xxhash64(shingle, i)``. One explode + one groupBy with ``num_hashes``
    min() aggregates — map-side partial aggregation keeps the shuffle at
    O(docs × num_hashes), independent of document length."""
    sh = df.select(
        F.col(id_col).alias("doc"), F.explode(shingles(text_col, shingle_n)).alias("shingle")
    )
    mins = [
        F.min(F.xxhash64("shingle", F.lit(i))).alias(f"h{i}") for i in range(num_hashes)
    ]
    sig = sh.groupBy("doc").agg(*mins)
    return sig.select("doc", F.array(*[f"h{i}" for i in range(num_hashes)]).alias("signature"))


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """X-DEDUP-FUZZY at scale: banded LSH over MinHash signatures.

    ``bands`` bands of ``num_hashes/bands`` rows each; a pair becomes a
    candidate iff at least one band hashes identically (standard S-curve:
    P(candidate) = 1-(1-s^r)^b). Candidates are verified by estimated
    Jaccard = fraction of matching minhashes, then thresholded.

    Shuffles: one on (band, band_hash) for the bucket join, one to dedup
    candidate pairs. Bucket keys are 64-bit hashes → uniform distribution,
    no skew. Never computes n² pairs."""
    assert num_hashes % bands == 0
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(df, id_col, text_col, num_hashes, shingle_n)

    # band rows carry ONLY (doc, band, bucket) — exploding the 64-long
    # signature into every band row would multiply the bucket-join
    # shuffle volume by the band count; signatures join back once per
    # surviving candidate pair instead
    band_entries = sig.select(
        "doc",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.xxhash64(
                        *[F.element_at("signature", b * rows_per_band + r + 1)
                          for r in range(rows_per_band)]
                    ).alias("bucket"),
                )
                for b in range(bands)
            ])
        ).alias("bb"),
    ).select("doc", "bb.band", "bb.bucket")

    a, b = band_entries.alias("a"), band_entries.alias("b")
    candidate_ids = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    candidates = (
        candidate_ids.join(
            sig.select(F.col("doc").alias("doc_a"), F.col("signature").alias("sig_a")),
            "doc_a",
        )
        .join(
            sig.select(F.col("doc").alias("doc_b"), F.col("signature").alias("sig_b")),
            "doc_b",
        )
    )
    est = (
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda eq: eq
            )
        )
        / F.lit(float(num_hashes))
    )
    return (
        candidates.withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= threshold)
        .select("doc_a", "doc_b", "est_jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 64) -> DataFrame:
    """64-bit SimHash: per token xxhash64; each bit position accumulates
    +1/-1 by the token's bit; sign of the sum becomes the sketch bit.
    Expressed as ``bits`` conditional sums in ONE aggregation (map-side
    partial agg; shuffle is O(docs × 1))."""
    toks = df.select(F.col(id_col).alias("doc"), F.explode(tokens(text_col)).alias("tok"))
    h = F.xxhash64("tok")
    sums = [
        F.sum(
            F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(bits)
    ]
    agg = toks.groupBy("doc").agg(*sums)
    sketch = None
    for i in range(bits):
        # bit 63 is the sign bit: adding -(2^63) sets it exactly in two's
        # complement (the terms are distinct powers of two, no overflow)
        bitval = F.lit(-(1 << 63)).cast("long") if i == 63 else F.lit(1 << i).cast("long")
        term = F.when(F.col(f"b{i}") > 0, bitval).otherwise(F.lit(0).cast("long"))
        sketch = term if sketch is None else sketch + term
    return agg.select("doc", sketch.alias("simhash"))


def simhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    chunks: int = 4,
) -> DataFrame:
    """SimHash near-dup join: by pigeonhole, two sketches within
    ``max_hamming`` bits differ in at most max_hamming chunks, so with
    chunks >= max_hamming + 1 they share at least one identical chunk →
    bucket join per chunk, then exact hamming verification with
    bit_count(xor).

    ``chunks`` is raised to max_hamming + 1 automatically — the recall
    guarantee silently breaks otherwise (a caller asking hamming ≤ 6
    with 4 chunks would miss pairs whose differing bits touch all 4)."""
    chunks = max(chunks, max_hamming + 1)
    sk = simhash(df, id_col, text_col)
    chunk_bits = 64 // chunks
    mask = (1 << chunk_bits) - 1
    entries = sk.select(
        "doc",
        "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(c).alias("chunk"),
                    F.shiftrightunsigned("simhash", c * chunk_bits)
                    .bitwiseAND(F.lit(mask))
                    .alias("bucket"),
                )
                for c in range(chunks)
            ])
        ).alias("cb"),
    ).select("doc", "simhash", "cb.chunk", "cb.bucket")
    a, b = entries.alias("a"), entries.alias("b")
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["doc_a", "doc_b"])
    )


# ---------------------------------------------------------------------------
# embedding cosine near-dup
# ---------------------------------------------------------------------------

def embedding_near_duplicates(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    method: str = "lsh",
    planes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Near-duplicate detection by embedding cosine similarity.

    ``method='brute'``: all-pairs (id_a < id_b) — exact, O(n²); only for
    small n / oracle verification.
    ``method='lsh'``: random-hyperplane signatures (sign of dot with
    ``planes`` deterministic pseudo-random hyperplanes), BANDED: the
    signature splits into ``bands`` bands of ``planes/bands`` planes, a
    candidate pair is any two vectors agreeing on ALL planes of AT LEAST
    ONE band (OR across bands), and cosine is then verified exactly, so
    precision is always 1.0 and only recall is probabilistic.

    Recall math (pinned by test_embedding_lsh_recall_at_threshold): two
    vectors at cosine s agree on one plane with p = 1 - acos(s)/π (s=0.95
    → p≈0.899); a 4-plane band fully matches with p⁴ ≈ 0.65; four bands
    miss simultaneously with (1-p⁴)⁴ ≈ 0.015 → recall ≈ 0.985 at the
    0.95 threshold, higher above it. Raise ``bands`` (more, shorter
    bands) for recall, lower it for fewer candidate collisions.

    Scale: candidate generation is an equi self-join on (band, bucket) —
    one shuffle; no all-pairs path anywhere."""
    from data_wrangling_spark.functions.vectors import cosine

    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("vec_a"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vec_b"))
    if method == "brute":
        pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    else:
        if planes % bands != 0:
            raise ValueError(f"planes ({planes}) must divide into bands ({bands})")
        sig_df = _hyperplane_signatures(df, id_col, vec_col, planes)
        per_band = planes // bands
        entries = sig_df.select(
            F.col(id_col).alias("doc"),
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(c).alias("band"),
                        F.concat_ws(
                            "",
                            *[F.element_at("sig", c * per_band + r + 1).cast("string")
                              for r in range(per_band)],
                        ).alias("bucket"),
                    )
                    for c in range(bands)
                ])
            ).alias("bb"),
        ).select("doc", "bb.band", "bb.bucket")
        ea, eb = entries.alias("ea"), entries.alias("eb")
        cand = (
            ea.join(
                eb,
                (F.col("ea.band") == F.col("eb.band"))
                & (F.col("ea.bucket") == F.col("eb.bucket"))
                & (F.col("ea.doc") < F.col("eb.doc")),
            )
            .select(F.col("ea.doc").alias("id_a"), F.col("eb.doc").alias("id_b"))
            .dropDuplicates(["id_a", "id_b"])
        )
        pairs = cand.join(a, "id_a").join(b, "id_b")
    return (
        pairs.withColumn("cosine", cosine("vec_a", "vec_b"))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def _hyperplane_signatures(
    df: DataFrame, id_col: str, vec_col: str, planes: int, dim: int | None = None
) -> DataFrame:
    """Deterministic pseudo-random hyperplanes without any RNG dependency:
    plane p, dimension d gets weight from a hash of (p, d) mapped to
    [-0.5, 0.5). Constant-folded literals; signature computed JVM-side.

    Pass ``dim`` to skip the one-row probe job; without it, an empty (or
    all-null-vector) frame returns an empty signature frame instead of
    crashing."""
    if dim is None:
        head = df.filter(F.col(vec_col).isNotNull()).select(vec_col).take(1)
        if not head:
            return df.select(id_col).limit(0).withColumn(
                "sig", F.array().cast("array<int>")
            )
        dim = len(head[0][0])
    sig_terms = []
    for p in range(planes):
        weights = [_hash_unit(p, d) for d in range(dim)]
        warr = F.array(*[F.lit(w) for w in weights])
        dotp = F.aggregate(
            F.zip_with(F.col(vec_col).cast("array<double>"), warr, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        sig_terms.append(F.when(dotp >= 0, 1).otherwise(0))
    return df.select(F.col(id_col), F.array(*sig_terms).alias("sig"))


def _hash_unit(p: int, d: int) -> float:
    """Stable hash of (p, d) → [-0.5, 0.5); pure-python, seed-free."""
    x = (p * 1_000_003 + d * 8191 + 0x9E3779B9) & 0xFFFFFFFF
    x ^= x >> 16
    x = (x * 0x85EBCA6B) & 0xFFFFFFFF
    x ^= x >> 13
    x = (x * 0xC2B2AE35) & 0xFFFFFFFF
    x ^= x >> 16
    return x / 2**32 - 0.5


# ---------------------------------------------------------------------------
# cross-source overlap diagnostics
# ---------------------------------------------------------------------------

def source_overlap(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Pairwise content overlap between corpus slices (sources / crawls
    / snapshots): the n-gram-shingle Jaccard of each pair of groups —
    the corpus-composition diagnostic that tells you two crawls are
    near-copies BEFORE you pay to train on both. Complements the
    document-level dedup family with a slice-level rollup.

    Returns (source_a, source_b, n_shared, n_a, n_b, jaccard_ppm) for
    every group pair sharing at least one shingle, jaccard in integer
    parts-per-million (exact-integer division, cross-engine stable).

    Scale shape: one explode → (group, shingle) DISTINCT (map-side
    combine bounds the shuffle by the per-group vocabulary, not token
    occurrences); the pair stage is an inverted-index equi join on the
    shingle — candidates only, never group × group × vocabulary — and
    the result is bounded by #groups². Group sizes join back via two
    broadcasts (#groups rows each)."""
    sh = (
        df.filter(F.col(text_col).isNotNull())
        # (group, text) distinct BEFORE shingling: the output is the
        # distinct (group, shingle) relation either way, so collapsing
        # repeated texts first is an exact no-op that skips re-shingling
        # every duplicate copy (a replicated corpus shingles 100× less)
        .select(F.col(group_col).alias("_g"), F.col(text_col).alias("_t"))
        .distinct()
        .select("_g", F.explode(shingles("_t", n)).alias("_shingle"))
        .distinct()
    )
    sizes = sh.groupBy("_g").agg(F.count(F.lit(1)).alias("_n"))
    a = sh.select(F.col("_g").alias("source_a"), "_shingle")
    b = sh.select(F.col("_g").alias("source_b"), "_shingle")
    shared = (
        a.join(b, "_shingle")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        shared.join(
            F.broadcast(sizes.select(F.col("_g").alias("source_a"),
                                     F.col("_n").alias("n_a"))),
            "source_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("_g").alias("source_b"),
                                     F.col("_n").alias("n_b"))),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            F.col("n_shared").cast("long").alias("n_shared"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.round(
                F.lit(1000000.0) * F.col("n_shared")
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared"))
            )
            .cast("long")
            .alias("jaccard_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# semantic dedup (SemDeDup): k-means clusters + within-cluster cosine prune
# ---------------------------------------------------------------------------

#: Knuth multiplicative-hash constants for the deterministic seed pick —
#: SQL-expressible exact integer arithmetic (unlike xxhash64, which a
#: plain-SQL oracle cannot replay): h(id) = ((id % 2^20) * 2654435761) % 2^20.
_SEED_HASH_MULT = 2654435761
_SEED_HASH_MOD = 1 << 20


def _quantize_micro(vec_col: str | F.Column, scale: int) -> F.Column:
    """array<float> → array<bigint> of round(x * scale) micro-units.

    Every downstream comparison (k-means distances, centroid argmin,
    cosine threshold) is then EXACT integer arithmetic — identical in any
    engine — so the whole pipeline is reproducible by a plain-SQL oracle
    with no float-accumulation-order caveats. Precondition: |x| * scale
    must keep d·m² inside int64 (|x| ≤ ~380 at scale=1e6, d=64); unit-ish
    embedding scales are far inside that."""
    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return F.transform(
        c.cast("array<double>"), lambda x: F.round(x * scale).cast("long")
    )


def _int_dot(a: str, b: str) -> F.Column:
    """Exact int64 dot product of two array<bigint> columns."""
    return F.aggregate(
        F.zip_with(F.col(a), F.col(b), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _exact_int_matmul_guard(q, d: int) -> None:
    """The float64 matmuls below are EXACT only while every partial sum
    stays under 2^53: |v| ≤ sqrt(2^53/d) (≈1.18e7 at d=64, i.e. raw
    |x| ≤ ~11 at scale 1e6). Raise loudly instead of silently crossing
    into rounded arithmetic — the x_sim probe-cap discipline."""
    import numpy as np

    limit = float(np.sqrt(2.0**53 / max(d, 1)))
    mx = float(np.abs(q).max()) if q.size else 0.0
    if mx > limit:
        raise ValueError(
            f"quantized magnitude {mx:.3g} exceeds the exact-float64 "
            f"bound {limit:.3g} for d={d}: lower `scale` so integer "
            "dot products stay under 2^53"
        )


def _assign_cells(qd: DataFrame, cents: list[list[int]]) -> DataFrame:
    """Nearest-centroid assignment as one Arrow kernel scan: per batch,
    d²(q,c) = |q|² + |c|² − 2·q·c via a float64 matmul over the
    integer-valued vectors — every intermediate is an integer < 2^53,
    so the distances are EXACT and np.argmin (first-minimum) reproduces
    the (dist, lower-cluster-idx) tiebreak of the SQL oracle bit for
    bit. Centroids travel in the task closure (k·d ints — control
    plane); no join, no shuffle. Output adds (_cell, _n2=|q|²)."""
    import numpy as np

    C = np.array(cents, dtype=np.float64)
    cn = (C * C).sum(axis=1)

    def batches(it: "object"):
        import pandas as pd

        for pdf in it:
            if len(pdf) == 0:
                continue
            Q = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf["_q"]]
            )
            _exact_int_matmul_guard(Q, Q.shape[1])
            qn = (Q * Q).sum(axis=1)
            d2 = qn[:, None] + cn[None, :] - 2.0 * (Q @ C.T)
            yield pd.DataFrame(
                {
                    "_id": pdf["_id"],
                    "_q": pdf["_q"],
                    "_cell": np.argmin(d2, axis=1).astype("int32"),
                    "_n2": qn.astype("int64"),
                }
            )

    return qd.mapInPandas(
        batches, schema="_id long, _q array<long>, _cell int, _n2 long"
    )


def _cluster_duplicates(fin: DataFrame, threshold_milli: int) -> DataFrame:
    """Within-cluster near-dup detection as a per-cluster blocked
    matmul (applyInPandas): each vector ships through the cluster
    shuffle ONCE — never per pair (the naive pair self-join at 100×
    embeddings materializes ~20 GB of duplicated vector columns and ran
    for minutes; this kernel is seconds). Row blocks cap the score
    matrix at ~80 MB for any cluster size.

    The threshold test stays EXACTLY the decimal semantics of the SQL
    oracle: dots are integer-valued exact float64 (< 2^53); the
    comparison dot²·10⁶ ≥ τ²·|a|²·|b|² runs in float with a relative
    near-boundary band of 1e-9 (float error is ~1e-15), and every
    banded cell is re-decided in arbitrary-precision Python ints."""
    import numpy as np

    tau2 = threshold_milli * threshold_milli

    def per_cluster(pdf: "object") -> "object":
        import pandas as pd

        pdf = pdf.sort_values("_id")
        ids = pdf["_id"].to_numpy()
        n = len(ids)
        if n < 2:
            return pd.DataFrame({"_dup": np.array([], dtype=np.int64)})
        Q = np.array([np.asarray(v, dtype=np.float64) for v in pdf["_q"]])
        _exact_int_matmul_guard(Q, Q.shape[1])
        n2 = pdf["_n2"].to_numpy().astype(np.float64)  # exact ints
        dup = np.zeros(n, dtype=bool)
        col = np.arange(n)
        blk = max(1, min(2048, 10_000_000 // n))
        for a0 in range(0, n, blk):
            a1 = min(a0 + blk, n)
            S = Q[a0:a1] @ Q.T
            lhs = S * S * 1e6
            rhs = float(tau2) * np.outer(n2[a0:a1], n2)
            mask = (col[None, :] > np.arange(a0, a1)[:, None]) & (S > 0)
            ge = lhs >= rhs
            near = mask & (np.abs(lhs - rhs) <= 1e-9 * np.maximum(lhs, rhs))
            for i_loc, j in np.argwhere(near):
                d = int(S[i_loc, j])
                ge[i_loc, j] = (
                    d * d * 1_000_000
                    >= tau2 * int(n2[a0 + i_loc]) * int(n2[j])
                )
            dup |= (mask & ge).any(axis=0)
        return pd.DataFrame({"_dup": ids[dup].astype(np.int64)})

    return fin.groupBy("_cell").applyInPandas(per_cluster, schema="_dup long")


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int | None = None,
    iters: int = 2,
    threshold_milli: int = 950,
    scale: int = 1_000_000,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster the embedding space with
    k-means, then mark as duplicates vectors whose cosine to a
    SMALLER-id vector in the SAME cluster is ≥ threshold_milli/1000.
    Clustering makes the pairwise check affordable: only within-cluster
    pairs are compared, O(Σ|cluster|²) instead of O(n²).

    Returns (id_col, cluster_id int, kept boolean) — one row per input
    vector; ``kept`` is False for pruned near-duplicates (the smallest
    id of each near-dup group inside a cluster survives).

    Fully deterministic and cross-engine exact, no pinned goldens:
    - vectors quantized to integer micro-units (:func:`_quantize_micro`);
    - seed centroids: the ``n_clusters`` vectors with the smallest
      Knuth-multiplicative hash of id (hash order decorrelates the pick
      from insertion order, and the hash is plain int arithmetic a SQL
      oracle replays exactly);
    - ``iters`` Lloyd rounds: integer squared-L2 argmin (ties → lower
      cluster idx), then integer centroid update floor(sum/count) via
      CAST-to-double division — IEEE-identical in Spark / DuckDB /
      Python; empty clusters keep their previous centroid;
    - duplicate test with no sqrt:
      dot > 0  AND  dot²·10⁶ ≥ threshold_milli²·|a|²·|b|² — decided
      exactly (integer-valued float64 dots under 2^53 plus an
      arbitrary-precision recheck of the near-boundary band, see
      _cluster_duplicates), matching the oracle's HUGEINT arithmetic.

    Scale shape: each Lloyd round is ONE corpus scan — assignment is an
    Arrow matmul kernel with the centroids in the task closure (no
    join, no shuffle; exact integer-valued float64, see _assign_cells),
    and the update aggregate ships k·d (cluster, dim) partial-sum rows,
    collected driver-side as the k·d-value control plane (the same
    per-round truncation as similarity.lloyd_centroids, which this
    mirrors with integer arithmetic). The pairwise stage shuffles every
    vector ONCE to its cluster and runs a blocked per-cluster matmul
    (_cluster_duplicates) — never a pair-expanded join.
    ``n_clusters=None`` applies SemDeDup's own recipe k = isqrt(n)
    (capped at 4096): the within-cluster pair count then grows ~n^1.5
    instead of n²/k_fixed (measured: fixed k=8 at 100× embeddings is a
    156M-pair ~20 GB join that runs for minutes; adaptive k with the
    kernels is seconds). The count() that sizes k is one control-plane
    job."""
    import math

    qd = df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("_id"), _quantize_micro(vec_col, scale).alias("_q")
    )
    if n_clusters is None:
        n_clusters = max(4, min(4096, math.isqrt(qd.count())))
    seed_rows = (
        qd.select(
            "_id",
            "_q",
            (((F.col("_id") % _SEED_HASH_MOD) * _SEED_HASH_MULT)
             % _SEED_HASH_MOD).alias("_h"),
        )
        .orderBy("_h", "_id")
        .limit(n_clusters)
        .collect()
    )
    cents = [list(r["_q"]) for r in seed_rows]
    for _ in range(iters):
        sums = (
            _assign_cells(qd, cents)
            .select("_cell", F.posexplode("_q").alias("_pos", "_val"))
            .groupBy("_cell", "_pos")
            .agg(F.sum("_val").alias("_s"), F.count(F.lit(1)).alias("_n"))
            .collect()
        )
        new = [list(c) for c in cents]  # empty cluster → previous centroid
        for r in sums:
            # floor(CAST(s AS DOUBLE)/n): the one division in the whole
            # pipeline — IEEE-754 correctly-rounded, so identical in
            # Python, Spark, and DuckDB for identical integer inputs
            new[r["_cell"]][r["_pos"]] = math.floor(float(r["_s"]) / float(r["_n"]))
        cents = new

    fin = _assign_cells(qd, cents)
    dups = _cluster_duplicates(fin, threshold_milli)
    return fin.join(dups, fin["_id"] == dups["_dup"], "left").select(
        F.col("_id").alias(id_col),
        F.col("_cell").cast("int").alias("cluster_id"),
        F.col("_dup").isNull().alias("kept"),
    )


def dedup_incremental(
    new_df: DataFrame,
    index_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.3,
    max_df: int | None = None,
) -> DataFrame:
    """Incremental deduplication: annotate a NEW batch of documents
    against an EXISTING corpus index — the shape a daily ingestion
    pipeline actually runs (the batch is checked against the corpus;
    the corpus is never re-paired with itself). Statuses, in precedence
    order:

    - ``exact_dup``: the normalized fingerprint (functions/text.py)
      matches an index document;
    - ``near_dup``: n-gram-shingle Jaccard >= ``threshold`` with some
      index document (ngram_jaccard_pairs semantics, cross-relation);
    - ``fresh``: neither.

    Returns (id_col, status, match_id) — match_id is the SMALLEST
    matching index id (deterministic), NULL for fresh rows.

    Scale shape: the exact stage is one equi join on the fingerprint
    (the index side collapses to one row per distinct fingerprint —
    corpus-bounded but narrow). The near stage is a shingle
    inverted-index join of BATCH postings against INDEX postings: cost
    is batch-postings x per-shingle index fan-out, never corpus x
    corpus; ``max_df`` prunes stop-shingles on BOTH sides before the
    join (the f^2-pair valve, applied as f_batch x f_index here). Pair
    aggregation keys are candidate (batch, index) pairs only.

    Postings are 64-bit GRAM HASHES, not strings (round-7 scale find):
    shingle identity is internal to this operator — only statuses leave
    — and the valve path consumes each side's postings three times
    (df aggregate, pruned sizes, pair join), so string construction ran
    ~3x per side and dominated wall time (41s at a 10x bench scale;
    hashed: the same pipeline on longs). Same collision caveat as
    :func:`gram_hashes_from_tokens` — ~(vocab^2)/2^65, and the
    registered query's oracle derives statuses from string shingles
    independently, so a collision would surface as a driver mismatch."""
    from data_wrangling_spark.functions.text import fingerprint, tokens

    # tokens STAGED as a projected column, not passed as an expression:
    # gram_hashes_from_tokens references its input n+3 times (size + n
    # shifted slices + their length args), so the expression form plants
    # that many copies of the tokenize regex in the plan — runtime
    # subexpression elimination usually dedups them within one
    # ProjectExec, but the staged multi-use alias survives
    # CollapseProject by construction (advisor find, round 7; same
    # defense as quality_features)
    new_base = new_df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("_nid"),
        fingerprint(text_col).alias("_nfp"),
        tokens(text_col).alias("_toks"),
    ).select(
        "_nid", "_nfp",
        gram_hashes_from_tokens(F.col("_toks"), n).alias("_nsh"),
    )
    idx_base = index_df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("_iid"),
        fingerprint(text_col).alias("_ifp"),
        tokens(text_col).alias("_toks"),
    ).select(
        "_iid", "_ifp",
        gram_hashes_from_tokens(F.col("_toks"), n).alias("_ish"),
    )
    # exact: smallest index id per fingerprint, one equi join
    fp_idx = idx_base.groupBy("_ifp").agg(F.min("_iid").alias("_exact_match"))
    exact = new_base.join(
        fp_idx, new_base["_nfp"] == fp_idx["_ifp"], "left"
    ).select("_nid", "_nsh", "_exact_match")

    # near: cross-relation shingle inverted index
    # explode_outer everywhere below, NOT explode: InferFiltersFromGenerate
    # plants a size(grams) > 0 filter under a plain explode, and predicate
    # pushdown substitutes the WHOLE gram-hash chain into that filter —
    # HOF chains sit outside codegen's subexpression elimination, so the
    # grams were computed twice per row (round-8 plan audit). Outer
    # generates infer nothing; the null row an empty array emits is
    # dropped by a cheap isNotNull on the exploded long.
    if max_df is None:
        # sizes ride along in the postings (arrays are distinct, so
        # F.size == posting count) — no extra shuffle
        sh_new = new_base.select(
            "_nid", F.size("_nsh").alias("_na"),
            F.explode_outer("_nsh").alias("_sh"),
        ).filter(F.col("_sh").isNotNull())
        sh_idx = idx_base.select(
            "_iid", F.size("_ish").alias("_nb"),
            F.explode_outer("_ish").alias("_sh"),
        ).filter(F.col("_sh").isNotNull())
        pairs = (
            sh_new.join(sh_idx, "_sh")
            .groupBy("_nid", "_iid", "_na", "_nb")
            .agg(F.count(F.lit(1)).alias("_common"))
        )
    else:
        # with stop-shingle pruning, sizes MUST be recomputed on the
        # pruned postings (ngram_jaccard_pairs semantics: the value is
        # the exact Jaccard of the PRUNED sets) — pre-prune F.size
        # would systematically understate Jaccard and misclassify
        # near-dups as fresh.
        # Cost note (measured at a 10x bench scale): each side's
        # postings feed three consumers (df aggregate, pruned sizes,
        # pair join) and Spark shares no subplan without a materialized
        # exchange, so hash construction runs per consumer — but the
        # gram-hash form is cheap enough (longs, no string allocs)
        # that the candidate-pair aggregate dominates end to end
        # (28s of a 29s query); an explicit repartition-for-reuse
        # staging was measured a wash and removed.
        sh_new = new_base.select(
            "_nid", F.explode_outer("_nsh").alias("_sh")
        ).filter(F.col("_sh").isNotNull())
        sh_idx = idx_base.select(
            "_iid", F.explode_outer("_ish").alias("_sh")
        ).filter(F.col("_sh").isNotNull())
        heavy = (
            sh_new.select("_sh")
            .unionAll(sh_idx.select("_sh"))
            .groupBy("_sh")
            .agg(F.count(F.lit(1)).alias("_f"))
            .filter(F.col("_f") > max_df)
            .select("_sh")
        )
        sh_new = sh_new.join(heavy, "_sh", "left_anti")
        sh_idx = sh_idx.join(heavy, "_sh", "left_anti")
        sz_new = sh_new.groupBy("_nid").agg(F.count(F.lit(1)).alias("_na"))
        sz_idx = sh_idx.groupBy("_iid").agg(F.count(F.lit(1)).alias("_nb"))
        pairs = (
            sh_new.join(sh_idx, "_sh")
            .groupBy("_nid", "_iid")
            .agg(F.count(F.lit(1)).alias("_common"))
            .join(sz_new, "_nid")
            .join(sz_idx, "_iid")
        )
    cand = (
        pairs.filter(
            # same division form as ngram_jaccard_pairs (and its oracle):
            # one IEEE double division of exact integer counts
            F.col("_common").cast("double")
            / (F.col("_na") + F.col("_nb") - F.col("_common"))
            >= F.lit(threshold)
        )
        .groupBy("_nid")
        .agg(F.min("_iid").alias("_near_match"))
    )
    out = exact.join(cand, "_nid", "left").select(
        F.col("_nid").alias(id_col),
        F.when(F.col("_exact_match").isNotNull(), F.lit("exact_dup"))
        .when(F.col("_near_match").isNotNull(), F.lit("near_dup"))
        .otherwise(F.lit("fresh"))
        .alias("status"),
        F.coalesce("_exact_match", "_near_match").alias("match_id"),
    )
    return out
