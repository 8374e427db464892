"""Exact distributed quantiles without a single-task funnel.

Spark's exact ``percentile`` aggregate is correct but not scale-safe: its
partial buffer holds EVERY input value, so the mandatory final-merge
``Exchange SinglePartition`` ships the whole column through one task
(the round-3 hygiene failure on ``ext_deciles_scalable``).
``approx_percentile`` bounds the buffer but changes the answer, which
breaks a ``quantile_cont`` oracle hash.

``exact_quantiles`` keeps the exact answer AND the scale-safe plan with
the classic iterative histogram-refinement (distributed selection)
algorithm over an integer-valued column:

1. one 1-row min/max/count aggregate (constant-size partials);
2. per level: bucket the active value intervals into <= ``strata``
   fixed-width strata, one distributed ``groupBy(stratum).count()``,
   collect the TINY strata histogram (O(strata) rows, never O(n)) to
   the driver, and narrow each target rank's interval to the stratum
   containing it — the same control-plane boundary collection Spark's
   own RangePartitioner does;
3. stop when every interval has width 1 (the rank's value is known
   exactly); interpolate boundaries with ``quantile_cont`` semantics.

Interval width shrinks by ~``strata`` per level, so a 64-bit value
domain resolves in <= 7 scans; dollar-cent order totals resolve in 2.
Every Spark job in the loop is a partial+final hash aggregate whose
buffers are constant-size — no job ever moves data rows into one
partition.
"""

from __future__ import annotations

import math
from collections import defaultdict
from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _round_half_up(value: float, scale: int) -> float:
    """Round as Spark's ``F.round`` does (BigDecimal.valueOf -> HALF_UP).

    ``BigDecimal.valueOf(double)`` parses ``Double.toString``'s shortest
    representation, which is exactly what ``repr(float)`` produces — so
    this matches Spark (and DuckDB's ``round``) bit-for-bit on the
    boundary values the oracle hash compares.
    """
    q = Decimal(1).scaleb(-scale)
    return float(Decimal(repr(value)).quantize(q, rounding=ROUND_HALF_UP))


def exact_quantiles(
    df: DataFrame,
    col: str | Column,
    probs: list[float],
    *,
    strata: int = 8192,
    max_levels: int | None = None,
) -> list[float]:
    """Exact continuous-interpolated quantiles of an integer column.

    Semantics match SQL ``percentile_cont`` / DuckDB ``quantile_cont`` /
    Spark ``percentile``: for probability p over n non-null values the
    0-based position is ``p * (n - 1)``; the result linearly
    interpolates the two neighbouring order statistics. NULLs ignored.

    Runs eagerly (control-plane): 1 bounds job + one histogram job per
    refinement level. Driver traffic is O(strata) per level.
    Returns one float per prob (empty input -> empty list semantics:
    raises ValueError, matching the aggregate returning NULL being
    unusable as a cut point).
    """
    c = F.col(col) if isinstance(col, str) else col
    probe = df.select(c.alias("_v"))
    lo, hi, n = probe.agg(
        F.min("_v"), F.max("_v"), F.count("_v")
    ).first()
    if n == 0:
        raise ValueError("exact_quantiles: no non-null input values")
    lo, hi, n = int(lo), int(hi), int(n)

    positions, state = _rank_state(lo, hi, n, probs)

    for _ in range(_levels_needed(lo, hi, strata, max_levels)):
        active = _active(state, strata)
        if not active:
            break
        icase: Column | None = None
        scase: Column | None = None
        for i, (l, h, w) in enumerate(active):
            cond = probe["_v"].between(l, h)
            # integer `div`, NOT float division + floor: doubles lose
            # exactness past 2^53 and mis-bucket boundary values while
            # the driver narrows with exact int arithmetic (review find).
            # DECIMAL(38,0), NOT bigint arithmetic: `_v - lo` (and, for
            # strata=2 over the full int64 domain, the width w=2^63
            # itself) exceeds Long.MAX, which under ANSI (Spark 4
            # default) raises ARITHMETIC_OVERFLOW. IntegralDivide on
            # decimals is BigDecimal.divideToIntegralValue — exact.
            stratum = F.expr(
                f"(cast(_v as decimal(38,0)) - {l}) div "
                f"cast({w} as decimal(38,0))"
            )
            icase = F.when(cond, i) if icase is None else icase.when(cond, i)
            scase = (
                F.when(cond, stratum)
                if scase is None
                else scase.when(cond, stratum)
            )
        hist_rows = (
            probe.select(icase.alias("_iv"), scase.alias("_st"))
            .where(F.col("_iv").isNotNull())
            .groupBy("_iv", "_st")
            .count()
            .collect()  # O(strata * len(active)) tiny control-plane rows
        )
        hist: dict[int, dict[int, int]] = defaultdict(dict)
        for r in hist_rows:
            hist[r["_iv"]][r["_st"]] = r["count"]
        _narrow(state, active, hist)
    return _interpolated(state, positions, n)


#: one rank's refinement state: (interval_lo, interval_hi, rows_below)
_RankState = dict[int, tuple[int, int, int]]


def _rank_state(
    lo: int, hi: int, n: int, probs: list[float]
) -> tuple[list[float], _RankState]:
    """The 0-based interpolation position of each prob over n values, and
    the starting state of every order-statistic rank interpolation
    needs: the whole [lo, hi] interval, nothing below it."""
    positions = [p * (n - 1) for p in probs]
    ranks = sorted(
        {math.floor(pos) for pos in positions}
        | {min(math.floor(pos) + 1, n - 1) for pos in positions}
    )
    return positions, {k: (lo, hi, 0) for k in ranks}


def _active(state: _RankState, strata: int) -> list[tuple[int, int, int]]:
    """The distinct unresolved intervals as (lo, hi, stratum width);
    disjoint by construction (each level picks one stratum of a partition
    of the previous level)."""
    return [
        (l, h, max(1, -(-(h - l + 1) // strata)))
        for (l, h) in sorted({(l, h) for (l, h, _) in state.values() if l < h})
    ]


def _narrow(
    state: _RankState,
    active: list[tuple[int, int, int]],
    hist: dict[int, dict[int, int]],
) -> None:
    """Narrow each unresolved rank to the stratum holding it, from the
    level's histogram: ``hist[i][stratum]`` counts the rows of
    ``active[i]`` in that stratum."""
    index = {(l, h): i for i, (l, h, _) in enumerate(active)}
    for k, (l, h, below) in state.items():
        if l >= h:
            continue
        i = index[(l, h)]
        w = active[i][2]
        cum = below
        for s in sorted(hist[i]):
            cnt = hist[i][s]
            if cum + cnt > k:
                state[k] = (l + s * w, min(h, l + (s + 1) * w - 1), cum)
                break
            cum += cnt
        else:  # pragma: no cover - counts always cover the rank
            raise AssertionError("rank outside histogram mass")


def _interpolated(
    state: _RankState, positions: list[float], n: int
) -> list[float]:
    """The value at each position once every rank is resolved to one
    value, interpolated with ``quantile_cont`` semantics."""
    unresolved = [k for k, (l, h, _) in state.items() if l < h]
    if unresolved:  # pragma: no cover - needs >strata^max_levels domain
        raise AssertionError(f"unresolved ranks after refinement: {unresolved}")
    value_at = {k: float(l) for k, (l, _, _) in state.items()}
    out: list[float] = []
    for pos in positions:
        fl = math.floor(pos)
        out.append(
            _interpolate(value_at[fl], value_at[min(fl + 1, n - 1)], pos - fl)
        )
    return out


def _levels_needed(lo: int, hi: int, strata: int, override: int | None) -> int:
    """Refinement levels to shrink [lo, hi] to width 1: interval width
    divides by ~strata per level, so ceil(log_strata(range)) (+2 slack
    for ceil'd widths). A FIXED cap is a bug the property suite caught:
    strata=2 over a 2^63 domain legitimately needs 63 levels."""
    if override is not None:
        return override
    span = max(hi - lo + 1, 1)
    levels = math.ceil(math.log(span) / math.log(max(strata, 2))) + 2
    return max(levels, 4)


def _interpolate(lo: float, hi: float, frac: float) -> float:
    """lo*(1-frac) + hi*frac — bit-identical to DUCKDB's quantile_cont
    interpolation, the driver oracle's binding formula (pinned exactly
    in tests/test_quantiles.py::test_interpolation_is_duckdb_exact).
    Spark's own Percentile aggregates (value -> count) buckets, so when
    the two neighbouring order statistics are THE SAME VALUE it returns
    that value directly with no arithmetic; distinct neighbours go
    through this same product form. The divergence is therefore
    confined to duplicate-value cases — [109,109] at p=0.1 is
    109.00000000000001 here (and in DuckDB) but exactly 109.0 in
    Spark, a <=1 ulp drift of the value — so pytest comparisons against
    Spark percentile allow 2 ulp while the engine-vs-DuckDB value hash
    stays exact. (Review-verified: on distinct extreme values Spark
    matches this form bit-for-bit where lo+(hi-lo)*f would differ by
    far more than an ulp.)"""
    return lo * (1.0 - frac) + hi * frac if frac > 0 else lo


def exact_quantiles_grouped(
    df: DataFrame,
    group_col: str,
    value_col: str,
    probs: list[float],
    *,
    strata: int = 8192,
    max_levels: int | None = None,
) -> dict[object, list[float]]:
    """Per-group exact continuous quantiles — the grouped form of
    :func:`exact_quantiles`, for LOW-cardinality group columns (status
    codes, priorities: driver state is O(groups x strata)).

    Same histogram-refinement algorithm, but ONE distributed job per
    level regardless of group count: each group's active value intervals
    go into a broadcast table, the data joins it on the group key (equi
    join -> BroadcastHashJoin, never a nested loop), and one
    ``groupBy(group, interval, stratum).count()`` covers every group's
    refinement simultaneously. Groups with NULL values-only or no rows
    are omitted from the result (matching aggregate NULL semantics).
    """
    probe = df.select(
        F.col(group_col).alias("_g"), F.col(value_col).alias("_v")
    )
    # NULL group keys are excluded (an equi join cannot route their rows
    # to an interval; callers wanting a NULL bucket should fillna first)
    bounds = (
        probe.where(F.col("_v").isNotNull() & F.col("_g").isNotNull())
        .groupBy("_g")
        .agg(F.min("_v").alias("lo"), F.max("_v").alias("hi"),
             F.count("_v").alias("n"))
        .collect()  # O(groups) control-plane rows
    )
    spark = df.sparkSession
    # per group: (positions, n) and the rank refinement state
    meta: dict[object, tuple[list[float], int]] = {}
    state: dict[object, _RankState] = {}
    for r in bounds:
        g, n = r["_g"], int(r["n"])
        positions, state[g] = _rank_state(int(r["lo"]), int(r["hi"]), n, probs)
        meta[g] = (positions, n)

    worst = max(
        (_levels_needed(int(r["lo"]), int(r["hi"]), strata, max_levels)
         for r in bounds),
        default=0,
    )
    for _ in range(worst):
        # one broadcast interval table covering every group's open work
        active = {g: _active(st, strata) for g, st in state.items()}
        iv_rows = [
            (g, iv_id, l, h, Decimal(w))
            for g, ivs in active.items()
            for iv_id, (l, h, w) in enumerate(ivs)
        ]
        if not iv_rows:
            break
        from pyspark.sql import types as T

        iv_schema = T.StructType(
            [
                T.StructField("_g", probe.schema["_g"].dataType),
                T.StructField("_iv", T.IntegerType()),
                T.StructField("_lo", T.LongType()),
                T.StructField("_hi", T.LongType()),
                # DECIMAL(38,0): width can be 2^63 (full-int64 span,
                # strata=2), one past Long.MAX
                T.StructField("_w", T.DecimalType(38, 0)),
            ]
        )
        ivs = spark.createDataFrame(iv_rows, iv_schema)
        hist_rows = (
            probe.join(F.broadcast(ivs), "_g")
            .where(F.col("_v").between(F.col("_lo"), F.col("_hi")))
            .groupBy(
                "_g",
                "_iv",
                # decimal-safe: see the ungrouped form's bucketing note
                F.expr("(cast(_v as decimal(38,0)) - _lo) div _w").alias(
                    "_st"
                ),
            )
            .count()
            .collect()  # O(groups * strata) tiny control-plane rows
        )
        hist: dict[object, dict[int, dict[int, int]]] = defaultdict(
            lambda: defaultdict(dict)
        )
        for r in hist_rows:
            hist[r["_g"]][r["_iv"]][r["_st"]] = r["count"]
        for g, st in state.items():
            _narrow(st, active[g], hist[g])
    return {g: _interpolated(st, *meta[g]) for g, st in state.items()}
