"""Temporal operators: as-of join and gap-based sessionization.

Extension surface (SURVEY.md §2.7: "Spark provides all join types free;
expose ... as extension operators" — as-of/range joins are the temporal
joins the reference's relational model invites but never needed, and a
training-data pipeline over event logs needs constantly).

Both operators are built on ONE shuffle each (hash partition by the join
key) — the 100 TB-safe shape:

- ``asof_join`` uses the union-marker trick: tag both sides, union, sort
  within each key partition by (time, marker), and carry the most recent
  right-side payload forward with ``last(ignorenulls)`` over a running
  window. Cost: one shuffle of (|L| + |R|) rows on the key — no range
  cross-product, no per-key collect, unlike the naive
  ``L join R on key and r.t <= l.t`` + argmax which explodes to
  |L| × |orders-per-key| intermediate rows.
- ``sessionize`` is lag + conditional cumulative sum over the same
  per-key window — the standard batch form; the streaming twin is
  ``F.session_window`` / ``applyInPandasWithState`` (see
  streaming/events.py).

Skew note: both partition by the entity key; the window is linear in
the key's row count but runs as ONE task per key — the one skew shape
AQE cannot split. ``asof_join_adaptive`` is the scale-safe default:
one cheap hash-bucket counting job detects heavy keys; with none it
returns plain ``asof_join``'s plan, otherwise ONE carry window runs on
(key, time-bucket) for those keys and (key, 0) for the uniform mass,
routed by a literal ``isin`` predicate — no join, no broadcast. Both
skew-safe forms share one builder, ``_bucketed_carry``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _seconds(df: DataFrame, colname: str) -> F.Column:
    """Epoch seconds as double for any time-like column. TIMESTAMP_NTZ /
    DATE have no direct double cast; route through the session-zone
    timestamp (monotone, so ordering/bucketing stays consistent across
    columns converted the same way)."""
    from pyspark.sql.types import DateType, TimestampNTZType, TimestampType

    c = F.col(colname)
    if isinstance(df.schema[colname].dataType, (TimestampType, TimestampNTZType, DateType)):
        c = c.cast("timestamp_ltz")
    return c.cast("double")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    payload: dict[str, str],
    direction: str = "backward",
    right_tiebreak: str | None = None,
) -> DataFrame:
    """For each left row, attach the payload of the most recent right row
    with the same ``on`` key and right_time <= left_time (direction
    'backward'). Left rows with no prior right row keep nulls —
    i.e. LEFT ASOF JOIN semantics (DuckDB: ``ASOF LEFT JOIN``).

    ``payload`` maps right-side column -> output alias. The payload is
    carried as ONE struct through a single ``last(ignorenulls)`` — a
    struct with NULL fields is itself non-NULL, so the carry picks one
    right ROW atomically: a NULL payload field in the winning right row
    stays NULL in the output instead of being silently backfilled from
    an older right row (per-column carries stitch fields from different
    rows — the round-3 advice defect). One window expression also
    evaluates cheaper than N.

    Ties on right_time: either pre-deduplicate the right side, or pass
    ``right_tiebreak`` — a right-side column; among right rows with equal
    (key, time) the GREATEST tiebreak value wins. This folds the
    deduplication into the carry window's existing sort (the winning row
    sorts last, and ``last(ignorenulls)`` naturally carries it), which is
    one whole shuffle + two hash aggregates cheaper than a groupBy
    pre-dedup — the same rows flow through the one hash exchange this
    operator already needs. For smallest-wins semantics, negate into a
    helper column and pass that. Row-atomic carry makes this equivalence
    exact even with NULL payload fields.

    direction 'forward' attaches the EARLIEST right row at-or-after
    left_time instead (DuckDB: ``ASOF LEFT JOIN ... ON l.t <= r.t``) —
    same single-shuffle shape, with the carry window running backward.
    (``right_tiebreak`` still means greatest-wins: the traversal is
    reversed in time only; equal-time right rows keep ascending tiebreak
    order before their left rows.)
    """
    if direction not in ("backward", "forward"):
        raise ValueError("direction must be 'backward' or 'forward'")

    lcols = [c for c in left.columns]
    # right rows sort BEFORE left rows at equal timestamps (marker 0 < 1)
    # so right_time == left_time counts in both directions' "at-or-"
    # semantics. Forward REVERSES the time sort instead of the frame:
    # descending traversal + the same running last(ignorenulls) over
    # [unboundedPreceding, currentRow] carries the smallest rt >= t in
    # O(n) per key — a [currentRow, unboundedFollowing] frame would be
    # the O(n^2) shrinking-frame evaluator at scale.
    tb_type = right.schema[right_tiebreak].dataType if right_tiebreak else None
    # shuffle-width economy: left columns ride as plain nullable columns
    # (they are only read back on left rows, so no atomicity concern —
    # unlike the right payload, which MUST be one struct, see above);
    # the key/time columns are not stored twice when _k/_t can exactly
    # reconstruct them (identical types on both sides — a union type
    # promotion would otherwise change the output schema)
    reconstructable = {
        c
        for c, tagged in ((on, "_k"), (left_time, "_t"))
        if left.schema[c].dataType
        == right.schema[on if tagged == "_k" else right_time].dataType
    }
    carry_cols = [c for c in lcols if c not in reconstructable]
    r_tagged = right.select(
        F.col(on).alias("_k"),
        F.col(right_time).alias("_t"),
        F.lit(0).alias("_m"),
        *[
            F.lit(None).cast(left.schema[c].dataType).alias(f"_lc_{c}")
            for c in carry_cols
        ],
        F.struct(
            *[F.col(src).alias(dst) for src, dst in payload.items()]
        ).alias("_p"),
        *([F.col(right_tiebreak).alias("_tb")] if right_tiebreak else []),
    )
    l_tagged = left.select(
        F.col(on).alias("_k"),
        F.col(left_time).alias("_t"),
        F.lit(1).alias("_m"),
        *[F.col(c).alias(f"_lc_{c}") for c in carry_cols],
        F.lit(None).cast(r_tagged.schema["_p"].dataType).alias("_p"),
        *([F.lit(None).cast(tb_type).alias("_tb")] if right_tiebreak else []),
    )
    t_order = F.col("_t").asc() if direction == "backward" else F.col("_t").desc()
    # _m splits right(0) before left(1) at equal time; _tb orders equal-
    # time right rows ascending so the greatest sorts last and wins the
    # last(ignorenulls) carry (left rows' _tb is NULL — asc-nulls-first
    # keeps them after every right row only via _m, which precedes _tb)
    order_cols = [t_order, F.col("_m")] + (
        [F.col("_tb").asc_nulls_first()] if right_tiebreak else []
    )
    w = (
        Window.partitionBy("_k")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = l_tagged.unionByName(r_tagged).select(
        "_m",
        "_k",
        "_t",
        *[f"_lc_{c}" for c in carry_cols],
        F.last("_p", ignorenulls=True).over(w).alias("_c"),
    )
    return carried.filter(F.col("_m") == 1).select(
        *[
            F.col(
                "_k"
                if c == on and c in reconstructable
                else "_t"
                if c == left_time and c in reconstructable
                else f"_lc_{c}"
            ).alias(c)
            for c in lcols
        ],
        *[F.col(f"_c.{dst}").alias(dst) for dst in payload.values()],
    )


def _bucketed_carry(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    payload: dict[str, str],
    bucket_seconds: int,
    direction: str,
    right_tiebreak: str | None,
    is_heavy: Callable[[Column], Column],
) -> DataFrame:
    """The one (key, time-bucket) carry window behind both skew-safe
    as-of joins; results are EXACTLY plain ``asof_join``'s.

    ``is_heavy`` maps the key column to a boolean Column. Rows of heavy
    keys run the carry per (key, floor(time / bucket_seconds)), each
    bucket seeded by a boundary row holding the latest (direction-wise)
    right payload over all strictly-earlier buckets of the key; all
    other rows run plain ``asof_join``'s whole-key window as bucket 0.
    ``asof_join_bucketed`` passes an always-true predicate, which
    Catalyst folds out of the filter and the ``when``;
    ``asof_join_adaptive`` passes its literal heavy-bucket ``isin``.

    A predicate that hashes the key must see it at ONE type at every
    site: xxhash64 hashes IntegerType and LongType differently (4- vs
    8-byte primitive paths), so hashing each side's native dtype would
    bucket the SAME key value differently across detection, the thin
    pre-pass and the wide routing when the sides' key dtypes differ —
    splitting a key's mass across detection buckets (false negatives)
    and, worse, routing wide rows into bucketed partitions whose
    boundary seeds the pre-pass never built (the round-6 review find).
    The canonical type is the union-promoted key type, the one ``_k``
    carries here.

    ``direction='forward'`` reuses the backward machinery on negated
    time (max -t with -rt <= -lt IS min rt with rt >= lt; the
    greatest-tiebreak rule is direction-invariant).

    Pipeline: ONE thin union of the heavy rows (key, scaled time,
    marker, tiebreak, payload — no left carry columns) feeds the
    per-(key, bucket) summary, whose partial max_by runs ON THE SCAN
    TASKS, so the summary shuffle carries only per-task per-bucket
    partials. Left rows ride the thin union too (outranked by any right
    row), which gives LEFT-ONLY buckets a summary row — and therefore
    boundary coverage — without a separate distinct pass. The boundary
    window over summaries is O(touched buckets), and boundary rows are
    UNIONED into the big exchange as seed rows (marker -1, time -inf,
    sorting first in their partition) — no join back, so the wide data
    flows scan -> one exchange on (key, bucket) -> window -> project,
    plain ``asof_join``'s pipeline on a finer key.

    NULL times of heavy keys get a sentinel bucket at the START of the
    traversal — bucket -2^63 going backward but +2^63-1 going forward,
    because plain asof_join orders by _t asc (nulls FIRST) backward and
    _t desc (nulls LAST) forward: backward, a null-time right row is
    'earliest' and carries into every later row until superseded;
    forward, null-time rows trail the whole traversal and only see each
    other plus the final boundary (SQL's one NULL group would sort first
    both ways, which diverged forward — pinned by the null-time
    equivalence test).

    The bucket index is clamped to +-4e18 before the long cast: ANY
    monotone-in-time bucket assignment is semantically safe (buckets
    only split the carry; merging distant buckets is harmless), and the
    clamp keeps extreme-but-finite numeric times (e.g. raw nanos with
    tiny bucket_seconds) from overflowing the ANSI cast. NaN/+-inf times
    remain a precondition violation: they fail loudly at the cast under
    ANSI (the session default) instead of silently misordering."""
    sign = 1.0 if direction == "backward" else -1.0
    lcols = list(left.columns)
    # the key is not stored twice when _k can exactly reconstruct it
    # (same guard as plain asof_join: a union type promotion would
    # otherwise change the output schema); _s is sign-scaled double, so
    # left_time always rides as a carry column here
    key_reconstructable = left.schema[on].dataType == right.schema[on].dataType
    carry_cols = [c for c in lcols if c != on or not key_reconstructable]
    w_lit = float(bucket_seconds)
    null_bucket = -(2**63) if direction == "backward" else 2**63 - 1
    # greatest/least SKIP NULLs (they would swallow the sentinel), so
    # the NULL branch is an explicit when, not a coalesce
    bucket_of = F.when(
        F.col("_s").isNull(), F.lit(null_bucket).cast("long")
    ).otherwise(
        F.least(
            F.greatest(F.floor(F.col("_s") / w_lit), F.lit(-4e18)), F.lit(4e18)
        ).cast("long")
    )
    tb = ["_tb"] if right_tiebreak else []
    tb_null = (
        [F.lit(None).cast(right.schema[right_tiebreak].dataType).alias("_tb")]
        if right_tiebreak else []
    )
    null_lc = [
        F.lit(None).cast(left.schema[c].dataType).alias(f"_lc_{c}")
        for c in carry_cols
    ]
    r_rows = right.select(
        F.col(on).alias("_k"),
        (_seconds(right, right_time) * sign).alias("_s"),
        F.lit(0).alias("_m"),
        *null_lc,
        F.struct(*[F.col(s).alias(d) for s, d in payload.items()]).alias("_p"),
        *([F.col(right_tiebreak).alias("_tb")] if right_tiebreak else []),
    )
    l_rows = left.select(
        F.col(on).alias("_k"),
        (_seconds(left, left_time) * sign).alias("_s"),
        F.lit(1).alias("_m"),
        *[F.col(c).alias(f"_lc_{c}") for c in carry_cols],
        F.lit(None).cast(r_rows.schema["_p"].dataType).alias("_p"),
        *tb_null,
    )
    wide = l_rows.unionByName(r_rows)

    # THIN pre-pass over heavy rows: per-(key, bucket) winning right
    # payload; among right rows the greatest (time, tiebreak) wins,
    # matching the carry window's (_s asc, _m, _tb asc) + last() order.
    # No repartition here: the partial max_by compacts on the scan
    # tasks, so the shuffle is O(buckets/task).
    ord_fields = [(F.lit(1) - F.col("_m")).alias("r"), F.col("_s").alias("s")]
    if right_tiebreak:
        ord_fields.append(F.col("_tb").alias("t"))
    summary = (
        wide.select("_k", "_s", "_m", "_p", *tb)
        .filter(is_heavy(F.col("_k")))
        .withColumn("_bk", bucket_of)
        .groupBy("_k", "_bk")
        .agg(F.max_by("_p", F.struct(*ord_fields)).alias("_pb"))
    )
    # boundary payload for bucket b = latest summary among buckets
    # strictly before b — O(touched buckets) rows through this window
    carry_w = (
        Window.partitionBy("_k")
        .orderBy("_bk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    b_rows = summary.select(
        "_k",
        F.lit(float("-inf")).alias("_s"),
        "_bk",
        F.lit(-1).alias("_m"),
        *null_lc,
        F.last("_pb", ignorenulls=True).over(carry_w).alias("_p"),
        *tb_null,
    ).filter(F.col("_p").isNotNull())

    # WIDE pass: one union, one exchange; routing is a map-side
    # predicate, no join. Light partitions mix NULL and real times, so
    # the NULL placement must match plain's traversal: first going
    # backward (asc), last going forward (desc on unnegated time);
    # heavy partitions hold no NULL _s except in the sentinel bucket,
    # where rows tie and _m orders boundary < right < left as always.
    flagged = wide.withColumn(
        "_bk",
        F.when(is_heavy(F.col("_k")), bucket_of).otherwise(F.lit(0).cast("long")),
    ).unionByName(b_rows)
    s_order = (
        F.col("_s").asc_nulls_first()
        if direction == "backward"
        else F.col("_s").asc_nulls_last()
    )
    order_cols = [s_order, F.col("_m")] + (
        [F.col("_tb").asc_nulls_first()] if right_tiebreak else []
    )
    w = (
        Window.partitionBy("_k", "_bk")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = flagged.select(
        "_m",
        "_k",
        *[f"_lc_{c}" for c in carry_cols],
        F.last("_p", ignorenulls=True).over(w).alias("_c"),
    )
    return carried.filter(F.col("_m") == 1).select(
        *[
            F.col("_k" if c == on and key_reconstructable else f"_lc_{c}").alias(c)
            for c in lcols
        ],
        *[F.col(f"_c.{dst}").alias(dst) for dst in payload.values()],
    )


def asof_join_bucketed(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    payload: dict[str, str],
    bucket_seconds: int,
    direction: str = "backward",
    right_tiebreak: str | None = None,
) -> DataFrame:
    """``asof_join`` with the per-key window split into fixed-width time
    buckets — the skew-safe form for hot keys.

    The plain operator partitions the carry window by the join key: a
    key holding 1% of a 100 TB event stream puts 1 TB of rows through
    ONE task, and AQE cannot split a window partition the way it splits
    a skewed join partition. Here every key is treated as heavy: the
    shuffle/window key is (key, floor(time / bucket_seconds)), so a hot
    key's rows spread across its time buckets; what crosses bucket
    boundaries is one pre-aggregated payload row per (key, bucket) —
    never the raw data. Results are EXACTLY ``asof_join``'s (pinned by
    equivalence tests); the machinery is ``_bucketed_carry``.

    Cost vs ``asof_join``: one extra NARROW pre-pass, nothing else.
    Two earlier shapes measured 2.3-3.2x the plain form on uniform keys
    and motivated this one:

    - round 5 paid three pre-passes (right summary groupBy, left
      DISTINCT buckets so left-only buckets got boundary coverage, a
      boundary window over their join);
    - the first round-6 attempt shared one explicit repartition between
      the carry window and the summary aggregate and joined boundaries
      back to the window output — but per-branch column pruning makes
      the two exchange subplans non-identical, so ReusedExchange never
      fires and the input was scanned AND shuffled twice, with the
      explicit repartition also defeating the summary's map-side
      partial aggregation (full-width shuffle before the agg).

    Equal (key, time, tiebreak) right rows with different payloads are
    nondeterministic in BOTH operators — make the tiebreak unique.
    Pick ``bucket_seconds`` so a hot key's densest bucket fits a task
    comfortably (e.g. daily buckets for a key doing ~1M rows/day)."""
    if direction not in ("backward", "forward"):
        raise ValueError("direction must be 'backward' or 'forward'")
    if bucket_seconds <= 0:
        raise ValueError("bucket_seconds must be positive")
    return _bucketed_carry(
        left, right, on, left_time, right_time, payload, bucket_seconds,
        direction, right_tiebreak, is_heavy=lambda c: F.lit(True),
    )


def asof_join_adaptive(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    payload: dict[str, str],
    bucket_seconds: int,
    direction: str = "backward",
    right_tiebreak: str | None = None,
    heavy_threshold: int = 1_000_000,
    detection_buckets: int = 1 << 16,
) -> DataFrame:
    """The scale-safe DEFAULT as-of join: ONE carry window whose
    partition key is (key, time-bucket) for detected hot keys and
    (key, 0) for everything else — so the uniform mass runs exactly
    plain ``asof_join``'s one-shuffle pipeline while no key can ever
    put more than ~one bucket of rows through a single window task
    (the one skew shape AQE cannot split).

    API CONTRACT — EAGER, runs a job at CALL time (advisor note,
    round 7): calling this function executes one input-sized detection
    scan + O(buckets) collect BEFORE any action on the returned
    DataFrame, and the upstream plans are recomputed again by the main
    job. Callers that (a) build plans without executing them should use
    plain :func:`asof_join` or :func:`asof_join_bucketed` (both fully
    lazy), and (b) pass EXPENSIVE DERIVED inputs should ``.cache()``
    them first so the detection pass doesn't recompute the upstream
    pipeline (raw table scans — the common case — need no cache: the
    detection pass reads two columns and parquet pruning makes it
    cheap). Details of why eager beats lazy here are at the end of this
    docstring.

    Why not route hot keys through ``asof_join_bucketed`` as a second
    pipeline: measured at 20x bench scale, splitting the inputs via
    semi/anti broadcast joins scanned each table twice and ran two full
    window pipelines — ~2.5x plain even when the bucketed share was
    small. Here the wide data flows ONCE: scan -> route by a LITERAL
    heavy-bucket predicate (a heavy NULL key routes with its partition
    because detection hashes the key) -> one exchange on (key,
    effective-bucket) -> window -> project. The only extra input-sized
    work over plain is the detection pass and the boundary pre-pass,
    and the boundary pre-pass is filtered to HEAVY rows only — the
    regime where a hot key's (key, bucket) summary genuinely compacts
    (a uniform key has ~as many touched buckets as rows, which is why
    bucketing everything is structurally wasteful — measured: 3.1M
    summary rows from 5M inputs at weekly buckets on uniform bench
    data).

    Ordering, boundary seeds and NULL-time sentinel buckets are
    ``_bucketed_carry``'s, shared with ``asof_join_bucketed``.
    Result-identical to plain by construction (pinned by equivalence
    tests, including NULL keys, NULL times, and both directions).

    Detection runs EAGERLY at call time: one O(buckets) aggregate whose
    result — the set of heavy bucket ids, usually empty — is collected
    as control-plane rows (<= ``detection_buckets``, the same O(k)/
    O(strata) pattern as the quantile cut-points and IVF centroids).
    With NO heavy bucket the function returns plain ``asof_join``'s
    PLAN VERBATIM — zero machinery, not even an erased join — and with
    heavy buckets the routing is a literal ``isin`` predicate, so the
    wide pass needs no broadcast join at all. An earlier design kept
    detection lazy (empty-broadcast + AQE empty-relation propagation
    erasing the machinery); measured at 20x bench scale the inert
    machinery still cost ~0.6s on top of the 0.3s detection job — AQE
    stage sequencing and the flag-join residue don't amortize below
    ~100x — while the eager form's uniform overhead is exactly the
    detection job.

    Detection counts HASH BUCKETS of the key, not keys: per-key
    counting over a high-cardinality keyspace defeats map-side partial
    aggregation (the partials emit ~one row per distinct key per task —
    measured ~1s of a 3.1s query at 100x bench scale, sampled or not),
    while counting ``xxhash64(key) % detection_buckets`` caps every
    task's partial output at ``detection_buckets`` rows, so the
    detection shuffle is O(buckets) regardless of data size. A bucket
    whose total mass exceeds ``heavy_threshold`` flags ALL its keys
    heavy. False positives (light keys sharing a flagged bucket, or
    several light keys summing past the threshold) only route extra
    keys through the bucketed-window path — result-identical, marginal
    cost; false negatives are impossible (a heavy key's bucket mass >=
    its own count). NULL keys hash like any value, so no null-safe
    machinery is needed anywhere.

    ``heavy_threshold`` is the max rows a single carry-window task
    should absorb: the 1M default sorts ~tens of MB per task. Size it
    DOWN for wide rows and benchmark rigs (the GB-scale skew section of
    104d720:SCALING.md shrinks it the same way it shrinks the AQE skew
    thresholds). Size ``detection_buckets`` (default 2^16) so expected
    bucket mass total_rows / buckets stays well under heavy_threshold
    (keeps false positives rare) while staying under ~rows-per-task
    (keeps the partial compaction) — at 10^12 rows and the 1M default
    threshold, 2^22 buckets gives ~240k expected mass and a still-tiny
    4M-row detection shuffle."""
    if direction not in ("backward", "forward"):
        raise ValueError("direction must be 'backward' or 'forward'")
    if bucket_seconds <= 0:
        raise ValueError("bucket_seconds must be positive")
    if heavy_threshold <= 0:
        raise ValueError("heavy_threshold must be positive")
    if detection_buckets <= 0:
        raise ValueError("detection_buckets must be positive")

    # ---- detection: heavy hash-buckets, one eager O(buckets) job -------
    # xxhash64(NULL) is the (non-null) seed hash, so NULL keys land in a
    # bucket like any value — no null-safe machinery needed anywhere.
    # Every hash site sees the key at the union-promoted type, the one
    # the wide pass carries (why: ``_bucketed_carry``'s docstring).
    key_type = (
        left.select(F.col(on).alias("_k"))
        .unionByName(right.select(F.col(on).alias("_k")))
        .schema["_k"]
        .dataType
    )
    hb_of = lambda c: F.pmod(  # noqa: E731
        F.xxhash64(c.cast(key_type), F.lit(41)), F.lit(detection_buckets)
    )
    # control-plane collect: <= detection_buckets ids, usually zero (the
    # exact-quantiles / IVF-centroid pattern — never data-sized)
    heavy_ids = [
        r["_hb"]
        for r in (
            left.select(hb_of(F.col(on)).alias("_hb"))
            .unionByName(right.select(hb_of(F.col(on)).alias("_hb")))
            .groupBy("_hb")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > F.lit(heavy_threshold))
            .select("_hb")
            .collect()
        )
    ]
    if not heavy_ids:
        # uniform keyspace: hand back plain asof_join's plan VERBATIM —
        # the one-exchange pipeline with zero routing residue
        return asof_join(
            left, right, on=on, left_time=left_time,
            right_time=right_time, payload=payload, direction=direction,
            right_tiebreak=right_tiebreak,
        )
    # literal predicate (Catalyst converts long isin lists to an O(1)
    # InSet above the conversion threshold); no broadcast join anywhere
    return _bucketed_carry(
        left, right, on, left_time, right_time, payload, bucket_seconds,
        direction, right_tiebreak,
        is_heavy=lambda c: hb_of(c).isin(heavy_ids),
    )


def trailing_window_features(
    df: DataFrame,
    on: str,
    time_col: str,
    window_seconds: int,
    exprs: dict[str, F.Column],
) -> DataFrame:
    """Trailing time-RANGE window features — the feature-engineering
    staple ("events per user in the trailing 7 days", "rolling spend in
    the trailing 30 days") expressed as ONE RangeFrame window, no
    self-join: each ``exprs`` entry (output name -> aggregate Column,
    e.g. ``{"n_7d": F.count(F.lit(1))}``) evaluates over
    [t - window_seconds, t] within the row's ``on`` partition.

    Exactness: ordering is integer epoch MICROseconds (``unix_micros``),
    so the frame bound is exact interval arithmetic — casting the
    timestamp to long (seconds) would truncate sub-second components and
    shift the boundary for rows within the same second; a double cast
    would round microseconds at large epochs. Frame bounds are inclusive
    on both ends, matching SQL ``RANGE BETWEEN INTERVAL .. PRECEDING AND
    CURRENT ROW``; equal-time rows share one frame, so the output is
    deterministic without a tiebreak.

    Scale shape: one shuffle on the key; Spark's RangeFrame evaluator
    slides both bounds monotonically through each sorted partition —
    O(rows) per key, never re-scanning the window per row. Skew caveat
    as for every per-key window (one task per key — see the module
    docstring); for hot-key-safe trailing aggregates over a KNOWN grid,
    pre-bucket to (key, time_bucket) counts first and window the bucket
    summaries (the asof_join_adaptive pattern).

    Rows with NULL time are EXCLUDED (a NULL has no trailing window;
    keeping them would put engine-specific NULL-ordering semantics in
    the frame).

    Numeric time columns are accepted as epoch SECONDS — the same
    contract as the sibling temporal operators' ``_seconds`` — scaled to
    micros with rounding (exact for integer seconds always and for
    fractional values up to ~2^53 us ≈ year 2255).
    """
    if window_seconds <= 0:
        raise ValueError("window_seconds must be positive")
    from pyspark.sql.types import DateType, TimestampNTZType, TimestampType

    t = F.col(time_col)
    if isinstance(
        df.schema[time_col].dataType,
        (TimestampType, TimestampNTZType, DateType),
    ):
        micros = F.unix_micros(t.cast("timestamp_ltz"))
    else:
        micros = F.round(t.cast("double") * 1_000_000, 0).cast("long")
    w = (
        Window.partitionBy(on)
        .orderBy(micros)
        .rangeBetween(-window_seconds * 1_000_000, 0)
    )
    return df.filter(F.col(time_col).isNotNull()).select(
        "*", *[e.over(w).alias(name) for name, e in exprs.items()]
    )


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    point_time: str,
    start: str,
    end: str,
    on: str | None = None,
    bucket_seconds: int | None = None,
) -> DataFrame:
    """Inner join of point rows to every interval row containing them:
    ``start <= point_time < end`` (half-open, the event-time convention),
    optionally also equi on ``on`` (same column name on both sides).
    Output carries all point columns plus all interval columns (minus the
    shared key and internal bucket column); other column names must be
    disjoint.

    Two scale shapes, chosen by the arguments:

    - with ``on``: an equi join on the key with the range predicate as a
      post-join filter — one shuffle on the key; Catalyst extracts the
      equality conjunct as the join key and AQE picks broadcast vs
      sort-merge. Right when per-key interval fan-out is bounded.
    - ``bucket_seconds`` (required when ``on`` is None): both sides are
      mapped to fixed-width time buckets — each interval explodes to the
      ``len/W + 1`` buckets it overlaps (``sequence``), each point to
      exactly one — and the join key becomes (key?, bucket). This turns
      what Spark would otherwise plan as a broadcast-nested-loop range
      join into a plain equi shuffle join whose row blowup is bounded by
      interval_length/W; pick W near the typical interval length. The
      exact range predicate still filters after the bucket match, so
      bucketing only affects cost, never results.

    Without either, the plan would be a cartesian range join — refused.
    """
    if on is None and bucket_seconds is None:
        raise ValueError("interval_join needs an equi key, a bucket width, or both")
    overlap = (set(points.columns) & set(intervals.columns)) - {on}
    if overlap:
        raise ValueError(f"ambiguous columns on both sides: {sorted(overlap)}")
    if bucket_seconds is not None and "_bucket" in set(points.columns) | set(intervals.columns):
        raise ValueError("'_bucket' is reserved by interval_join's bucketed mode")

    p, i = points, intervals
    if bucket_seconds is not None:
        w = float(bucket_seconds)
        p = p.withColumn(
            "_bucket", F.floor(_seconds(p, point_time) / w).cast("long")
        )
        # inclusive bucket range [floor(start/W), floor(end/W)]: the end
        # bucket may be one wider than the half-open interval needs, but
        # the exact predicate below removes those rows
        i = i.withColumn(
            "_bucket",
            F.explode(
                F.sequence(
                    F.floor(_seconds(i, start) / w).cast("long"),
                    F.floor(_seconds(i, end) / w).cast("long"),
                )
            ),
        )
    pa, ia = p.alias("_p"), i.alias("_i")
    cond = (F.col(f"_p.{point_time}") >= F.col(f"_i.{start}")) & (
        F.col(f"_p.{point_time}") < F.col(f"_i.{end}")
    )
    if bucket_seconds is not None:
        cond = (F.col("_p._bucket") == F.col("_i._bucket")) & cond
    if on is not None:
        cond = (F.col(f"_p.{on}") == F.col(f"_i.{on}")) & cond
    out_point = [c for c in points.columns]
    out_interval = [c for c in intervals.columns if c != on]
    return pa.join(ia, cond).select(
        *[F.col(f"_p.{c}").alias(c) for c in out_point],
        *[F.col(f"_i.{c}").alias(c) for c in out_interval],
    )


def sessionize(
    events: DataFrame,
    key: str,
    ts: str,
    gap_minutes: int = 30,
    order_tiebreak: str | None = None,
) -> DataFrame:
    """Gap-based sessionization: a new session starts when the time since
    the key's previous event exceeds ``gap_minutes``. Returns one row per
    session: (key, session_no, n_events, session_start, session_end),
    session_no 1-based per key in time order.

    ``order_tiebreak``: extra column ordering events with equal
    timestamps (required for determinism on real logs).
    """
    order = [ts] + ([order_tiebreak] if order_tiebreak else [])
    w = Window.partitionBy(key).orderBy(*order)
    secs = _seconds(events, ts)
    gap = secs - F.lag(secs).over(w)
    new_session = F.when(
        gap.isNull() | (gap > gap_minutes * 60), F.lit(1)
    ).otherwise(F.lit(0))
    run = (
        Window.partitionBy(key)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_session = events.withColumn("_new", new_session).withColumn(
        "session_no", F.sum("_new").over(run)
    )
    return (
        with_session.groupBy(key, "session_no")
        .agg(
            F.count("*").alias("n_events"),
            F.min(ts).alias("session_start"),
            F.max(ts).alias("session_end"),
        )
    )


def funnel_steps(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered funnel analysis: how many users completed step 1, then
    step 2 strictly AFTER their first step-1 event, then step 3 strictly
    after that, ... — the product-analytics staple. Order matters: a
    purchase BEFORE the user's first click does not count as conversion
    (the distinguishing semantics vs a naive per-type count).

    Returns one row per step: (step_idx, step, n_users, conv_ppm) where
    conv_ppm is the conversion from the PREVIOUS step in integer ppm
    (1e6 for step 1).

    Scale shape: per step, one filtered hash aggregate min(ts) keyed by
    user (map-side partials) joined to the previous stage's survivors —
    the stage relation only SHRINKS down the funnel, and each join is
    user-keyed equi (no window over the whole event stream, no
    event-order sort). The whole funnel is ONE lazy plan (len(steps)
    branches unioned into an O(steps)-row result; the conv_ppm lag
    window runs over those O(steps) rows, not the data)."""
    if not steps:
        raise ValueError("steps must be non-empty")
    stage = (
        events.filter(F.col(type_col) == steps[0])
        .groupBy(user_col)
        .agg(F.min(ts_col).alias("_t"))
    )
    parts = []
    for i, step in enumerate(steps):
        if i:
            stage = (
                events.filter(F.col(type_col) == step)
                .join(stage.withColumnRenamed("_t", "_prev"), user_col)
                .filter(F.col(ts_col) > F.col("_prev"))
                .groupBy(user_col)
                .agg(F.min(ts_col).alias("_t"))
            )
        parts.append(
            stage.agg(F.count(F.lit(1)).alias("n_users")).select(
                F.lit(i + 1).alias("step_idx"),
                F.lit(step).alias("step"),
                F.col("n_users").cast("long").alias("n_users"),
            )
        )
    allc = parts[0]
    for p in parts[1:]:
        allc = allc.unionAll(p)
    w = Window.orderBy("step_idx")
    return allc.select(
        "step_idx",
        "step",
        "n_users",
        F.when(F.lag("n_users").over(w).isNull() | (F.lag("n_users").over(w) == 0),
               F.when(F.col("step_idx") == 1, F.lit(1000000)).otherwise(F.lit(0)))
        .otherwise(
            F.round(
                F.lit(1000000.0) * F.col("n_users") / F.lag("n_users").over(w)
            ).cast("long")
        )
        .cast("long")
        .alias("conv_ppm"),
    ).orderBy("step_idx")


def cohort_retention(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Weekly cohort retention matrix: users cohort by the Monday week
    of their FIRST event; each later week of activity increments that
    cohort's retention cell. The growth-analytics staple beside
    funnel_steps.

    Returns (cohort_week date, week_offset int, n_active, n_cohort,
    retention_ppm) — retention_ppm = round(1e6 · n_active / n_cohort),
    week_offset 0 rows are the cohort sizes themselves (ppm 1e6).

    Scale shape (round-13 rework measured at 377d7ef, at 100x =
    10M events / 150k users, fresh-JVM medians): the previous form ran
    THREE event-scale exchanges (user first-event agg 1.44s, (user,
    week) distinct 2.50s, the re-shuffle feeding the attach join) for
    a 4.39s wall; broadcasting the 150k-row first-event table into the
    attach measured a WASH (4.45s — the q7 lesson again: a hint only
    pays just over the auto threshold). This form shuffles the event
    stream ONCE: the narrow (user, week) projection is repartitioned
    by user, the distinct rides that exchange with no new shuffle
    (hashpartitioning(user) satisfies the (user, week) clustering),
    the distinct output is PERSISTED (users x weeks rows — far below
    event scale; spills cleanly), and the first-event table is derived
    FROM it as min(_week) per user (date_trunc is monotonic, so
    trunc(min ts) == min(trunc ts) == min distinct week —
    value-identical by construction, pinned by the oracle). first,
    the attach join and the matrix aggregate all read the cached
    active set: 2.26s, within ~25% of the 2.50s distinct-alone floor.
    CALLER CONTRACT: like bm25_topk, the persist is not unpersisted
    here; long-lived sessions should clearCache() between calls (the
    bench harness does). No window over the event stream anywhere."""
    active = (
        events.select(
            F.col(user_col),
            F.date_trunc("week", F.col(ts_col)).cast("date").alias("_week"),
        )
        .repartition(user_col)
        .distinct()
        .persist()
    )
    first = active.groupBy(user_col).agg(F.min("_week").alias("_cohort"))
    cohort_sizes = first.groupBy("_cohort").agg(
        F.count(F.lit(1)).alias("n_cohort")
    )
    cells = (
        active.join(first, user_col)
        .select(
            "_cohort",
            (F.datediff("_week", "_cohort") / 7).cast("int").alias("week_offset"),
        )
        .groupBy("_cohort", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
    return (
        cells.join(F.broadcast(cohort_sizes), "_cohort")
        .select(
            F.col("_cohort").alias("cohort_week"),
            F.col("week_offset"),
            F.col("n_active").cast("long").alias("n_active"),
            F.col("n_cohort").cast("long").alias("n_cohort"),
            F.round(
                F.lit(1000000.0) * F.col("n_active") / F.col("n_cohort")
            )
            .cast("long")
            .alias("retention_ppm"),
        )
        .orderBy("cohort_week", "week_offset")
    )


def ohlc_bars(
    events: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    id_col: str = "event_id",
    bucket: str = "hour",
) -> DataFrame:
    """Time-bar downsampling (OHLC candlesticks): per (key, time bucket)
    the opening/highest/lowest/closing value plus volume and turnover —
    the classic time-series resample every metrics/market pipeline runs.

    Exactness discipline: values are integer cents end to end; open and
    close use ``min_by``/``max_by`` ordered by a FIXED-WIDTH
    zero-padded ``(epoch_micros, id)`` string — lexicographic equals
    numeric order, the id breaks same-microsecond ties, so the result
    is deterministic under any partitioning and identical on any
    engine (DuckDB's ``arg_min`` rejects struct order keys, hence the
    string domain).

    Scale shape: ONE hash aggregate with map-side partials — min_by /
    max_by / min / max / count / sum buffers are all constant-size.
    The bucket column composes with write-side partitioning so
    downstream range scans prune to the bars they read.

    The group key is the TRUNCATED TIMESTAMP itself — the label format
    only renders it, so a fine bucket is never collapsed by a coarse
    label (a hardcoded ``HH:00`` pattern once silently merged
    ``minute`` bars back into hours because the formatted string WAS
    the key). Labels drop exactly the fields truncation zeroed."""
    fmts = {
        "minute": "yyyy-MM-dd HH:mm",
        "hour": "yyyy-MM-dd HH:00",
        "day": "yyyy-MM-dd",
        "week": "yyyy-MM-dd",
        "month": "yyyy-MM",
        "quarter": "yyyy-MM",
        "year": "yyyy",
    }
    if bucket not in fmts:
        raise ValueError(
            f"ohlc_bars: unsupported bucket {bucket!r}; one of {sorted(fmts)}"
        )
    cents = F.round(F.col(value_col) * 100, 0).cast("bigint")
    ord_key = F.concat(
        F.lpad(F.unix_micros(F.col(ts_col)).cast("string"), 20, "0"),
        F.lit("-"),
        F.lpad(F.col(id_col).cast("string"), 20, "0"),
    )
    return (
        events.groupBy(
            F.col(key_col).alias("key"),
            F.date_trunc(bucket, F.col(ts_col)).alias("_bar_ts"),
        )
        .agg(
            F.min_by(cents, ord_key).alias("open_cents"),
            F.max(cents).alias("high_cents"),
            F.min(cents).alias("low_cents"),
            F.max_by(cents, ord_key).alias("close_cents"),
            F.count(F.lit(1)).alias("volume"),
            F.sum(cents).cast("bigint").alias("turnover_cents"),
        )
        .select(
            "key",
            F.date_format("_bar_ts", fmts[bucket]).alias("bar"),
            "open_cents",
            "high_cents",
            "low_cents",
            "close_cents",
            "volume",
            "turnover_cents",
        )
        .orderBy("key", "bar")
    )
