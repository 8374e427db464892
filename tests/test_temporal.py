"""Edge-case tests for the temporal operators (as-of join, sessionize)
on hand-built frames — equal timestamps, no-prior-match nulls, exact-gap
session boundaries. The sf-scale behavior is pinned by the DuckDB oracle
(ext_asof_latest_order / ext_sessionize_events in test_queries_oracle)."""

from __future__ import annotations

import datetime as dt

from data_wrangling_spark.operators.temporal import asof_join, sessionize


def _ts(minute: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1, 0, 0) + dt.timedelta(minutes=minute)


def test_asof_backward_basic(spark):
    left = spark.createDataFrame(
        [(1, "a", _ts(10)), (2, "a", _ts(30)), (3, "b", _ts(10))],
        "event_id long, k string, t timestamp",
    )
    right = spark.createDataFrame(
        [("a", _ts(5), 100), ("a", _ts(20), 200), ("b", _ts(50), 300)],
        "k string, rt timestamp, payload int",
    )
    out = {
        r.event_id: r.p
        for r in asof_join(left, right, on="k", left_time="t", right_time="rt",
                           payload={"payload": "p"}).collect()
    }
    # event 1: only the t=5 right row precedes t=10
    assert out[1] == 100
    # event 2: most recent of {5, 20} at t=30 → 200
    assert out[2] == 200
    # event 3: b's only right row is at t=50, AFTER the event → null
    assert out[3] is None


def test_asof_equal_timestamp_matches(spark):
    """right_time == left_time counts as 'at or before' (<= semantics)."""
    left = spark.createDataFrame([(1, "a", _ts(10))], "event_id long, k string, t timestamp")
    right = spark.createDataFrame([("a", _ts(10), 7)], "k string, rt timestamp, payload int")
    [row] = asof_join(left, right, on="k", left_time="t", right_time="rt",
                      payload={"payload": "p"}).collect()
    assert row.p == 7


def test_asof_preserves_left_columns_and_count(spark):
    left = spark.createDataFrame(
        [(i, "a", _ts(i)) for i in range(20)], "event_id long, k string, t timestamp"
    )
    right = spark.createDataFrame([("a", _ts(3), 1)], "k string, rt timestamp, payload int")
    out = asof_join(left, right, on="k", left_time="t", right_time="rt",
                    payload={"payload": "p"})
    assert out.count() == 20  # left join: every left row survives exactly once
    assert set(out.columns) == {"event_id", "k", "t", "p"}


def test_sessionize_gap_boundary(spark):
    """A gap of exactly gap_minutes does NOT start a new session; one
    second more does."""
    rows = [
        (1, 10, _ts(0)),
        (2, 10, _ts(30)),              # exactly 30 min after → same session
        (3, 10, _ts(60) + dt.timedelta(seconds=1)),  # 30min 1s after → new
        (4, 20, _ts(0)),               # other user: own session numbering
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    out = sessionize(df, key="user_id", ts="ts", gap_minutes=30,
                     order_tiebreak="event_id").collect()
    by_key = {(r.user_id, r.session_no): r for r in out}
    assert by_key[(10, 1)].n_events == 2
    assert by_key[(10, 1)].session_start == _ts(0)
    assert by_key[(10, 1)].session_end == _ts(30)
    assert by_key[(10, 2)].n_events == 1
    assert by_key[(20, 1)].n_events == 1
    assert len(out) == 3


def test_asof_forward_basic(spark):
    """direction='forward': earliest right row at-or-after left_time."""
    left = spark.createDataFrame(
        [(1, "a", _ts(10)), (2, "a", _ts(30)), (3, "a", _ts(60))],
        "event_id long, k string, t timestamp",
    )
    right = spark.createDataFrame(
        [("a", _ts(10), 100), ("a", _ts(40), 200)],
        "k string, rt timestamp, payload int",
    )
    out = {
        r.event_id: r.p
        for r in asof_join(left, right, on="k", left_time="t", right_time="rt",
                           payload={"payload": "p"}, direction="forward").collect()
    }
    assert out[1] == 100  # equal timestamp counts (at-or-after)
    assert out[2] == 200  # next right row after t=30 is t=40
    assert out[3] is None  # nothing at-or-after t=60


def test_asof_null_payload_field_carried_atomically(spark):
    """A NULL payload field in the winning right row stays NULL — the
    struct carry picks one right ROW, never stitching a field from an
    older right row (the round-3 per-column-carry defect)."""
    left = spark.createDataFrame(
        [(1, "a", _ts(30))], "event_id long, k string, t timestamp"
    )
    right = spark.createDataFrame(
        [("a", _ts(5), 100, "old"), ("a", _ts(20), None, "new")],
        "k string, rt timestamp, v int, tag string",
    )
    row = asof_join(
        left, right, on="k", left_time="t", right_time="rt",
        payload={"v": "v", "tag": "tag"},
    ).collect()[0]
    assert row.tag == "new"
    assert row.v is None  # NOT backfilled to 100 from the t=5 row


def test_asof_tiebreak_atomic_with_null_fields(spark):
    """right_tiebreak keeps row-atomic semantics: the greatest-tiebreak
    row's NULL field wins as NULL even when a tie-losing row has a
    value."""
    left = spark.createDataFrame(
        [(1, "a", _ts(30))], "event_id long, k string, t timestamp"
    )
    right = spark.createDataFrame(
        [("a", _ts(20), 1, 111, "lo"), ("a", _ts(20), 2, None, "hi")],
        "k string, rt timestamp, seq int, v int, tag string",
    )
    row = asof_join(
        left, right, on="k", left_time="t", right_time="rt",
        payload={"v": "v", "tag": "tag"}, right_tiebreak="seq",
    ).collect()[0]
    assert row.tag == "hi"
    assert row.v is None


# ---------------------------------------------------------------- bucketed --

def _random_asof_frames(spark, seed: int, n_left=200, n_right=80, n_keys=5):
    """Deterministic pseudo-random frames with repeated keys, timestamp
    ties (left==right, right==right), and a right tiebreak column."""
    import random

    rng = random.Random(seed)
    left = [
        (i, f"k{rng.randrange(n_keys)}", _ts(rng.randrange(0, 600)))
        for i in range(n_left)
    ]
    right = [
        (f"k{rng.randrange(n_keys)}", _ts(rng.randrange(0, 600)), 1000 + i)
        for i in range(n_right)
    ]
    ldf = spark.createDataFrame(left, "event_id long, k string, t timestamp")
    rdf = spark.createDataFrame(right, "k string, rt timestamp, payload int")
    return ldf, rdf


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_asof_bucketed_equals_plain_backward(spark):
    """asof_join_bucketed must return EXACTLY asof_join's rows across
    bucket widths that force payload carries over empty/boundary
    buckets (1-minute buckets over a 10-hour span) and widths larger
    than the whole span (single bucket == the plain op)."""
    from data_wrangling_spark.operators.temporal import (
        asof_join,
        asof_join_bucketed,
    )

    ldf, rdf = _random_asof_frames(spark, seed=7)
    want = _rows(
        asof_join(ldf, rdf, on="k", left_time="t", right_time="rt",
                  payload={"payload": "p"}, right_tiebreak="payload")
    )
    for width in (60, 3600, 10**9):
        got = _rows(
            asof_join_bucketed(
                ldf, rdf, on="k", left_time="t", right_time="rt",
                payload={"payload": "p"}, bucket_seconds=width,
                right_tiebreak="payload",
            )
        )
        assert got == want, f"bucket_seconds={width}"


def test_asof_bucketed_equals_plain_forward(spark):
    from data_wrangling_spark.operators.temporal import (
        asof_join,
        asof_join_bucketed,
    )

    ldf, rdf = _random_asof_frames(spark, seed=11)
    want = _rows(
        asof_join(ldf, rdf, on="k", left_time="t", right_time="rt",
                  payload={"payload": "p"}, direction="forward",
                  right_tiebreak="payload")
    )
    for width in (60, 7200):
        got = _rows(
            asof_join_bucketed(
                ldf, rdf, on="k", left_time="t", right_time="rt",
                payload={"payload": "p"}, bucket_seconds=width,
                direction="forward", right_tiebreak="payload",
            )
        )
        assert got == want, f"bucket_seconds={width}"


def test_asof_bucketed_hot_key_partitions_by_bucket(spark):
    """The point of the operator: the big window partitions on
    (key, bucket), so one hot key's rows do NOT form one partition.
    Plan must show both columns in the hash partitioning and the
    results must still match the plain op on a 90%-hot-key frame."""
    from data_wrangling_spark.operators.temporal import (
        asof_join,
        asof_join_bucketed,
    )

    hot = [(i, "hot", _ts(i % 500)) for i in range(300)]
    cold = [(1000 + i, f"c{i}", _ts(i)) for i in range(30)]
    ldf = spark.createDataFrame(hot + cold, "event_id long, k string, t timestamp")
    rdf = spark.createDataFrame(
        [("hot", _ts(m), m) for m in range(0, 500, 50)]
        + [(f"c{i}", _ts(0), 900 + i) for i in range(30)],
        "k string, rt timestamp, payload int",
    )
    out = asof_join_bucketed(
        ldf, rdf, on="k", left_time="t", right_time="rt",
        payload={"payload": "p"}, bucket_seconds=600,
        right_tiebreak="payload",
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(_k" in plan and "_bk" in plan.split(
        "hashpartitioning(_k", 1
    )[1][:80], "carry window must partition on (key, bucket)"
    want = _rows(
        asof_join(ldf, rdf, on="k", left_time="t", right_time="rt",
                  payload={"payload": "p"}, right_tiebreak="payload")
    )
    assert _rows(out) == want


def test_asof_bucketed_rejects_bad_args(spark):
    import pytest

    from data_wrangling_spark.operators.temporal import asof_join_bucketed

    ldf, rdf = _random_asof_frames(spark, seed=3, n_left=5, n_right=5)
    with pytest.raises(ValueError, match="direction"):
        asof_join_bucketed(ldf, rdf, on="k", left_time="t", right_time="rt",
                           payload={"payload": "p"}, bucket_seconds=60,
                           direction="sideways")
    with pytest.raises(ValueError, match="bucket_seconds"):
        asof_join_bucketed(ldf, rdf, on="k", left_time="t", right_time="rt",
                           payload={"payload": "p"}, bucket_seconds=0)


def test_asof_bucketed_null_times_match_plain_both_directions(spark):
    """NULL time rows follow plain asof_join's ordering exactly:
    backward (t asc, nulls FIRST) a null-time right row is 'earliest'
    and carries into later rows until superseded; forward (t desc,
    nulls LAST) it trails the traversal and real left rows never see
    it. The bucketed op reproduces both via a direction-dependent
    sentinel bucket (round-5 review find: SQL's single NULL group
    sorts first under both orderings, which silently diverged
    forward)."""
    from data_wrangling_spark.operators.temporal import (
        asof_join,
        asof_join_bucketed,
    )

    left = spark.createDataFrame(
        [(1, "a", _ts(10)), (2, "a", _ts(300)), (3, "a", None),
         (4, "b", _ts(50)), (5, "b", None)],
        "event_id long, k string, t timestamp",
    )
    right = spark.createDataFrame(
        [("a", None, 7), ("a", None, 9), ("a", _ts(200), 100),
         ("b", _ts(40), 55)],
        "k string, rt timestamp, payload int",
    )
    for direction in ("backward", "forward"):
        want = _rows(
            asof_join(left, right, on="k", left_time="t", right_time="rt",
                      payload={"payload": "p"}, direction=direction,
                      right_tiebreak="payload")
        )
        for width in (60, 10**7):
            got = _rows(
                asof_join_bucketed(
                    left, right, on="k", left_time="t", right_time="rt",
                    payload={"payload": "p"}, bucket_seconds=width,
                    direction=direction, right_tiebreak="payload",
                )
            )
            assert got == want, (direction, width, got, want)


# ---------------------------------------------------------------- adaptive --

def test_asof_adaptive_equals_plain_mixed_keys_both_directions(spark):
    """asof_join_adaptive must be row-identical to asof_join when the
    threshold splits the keyspace: heavy keys (above threshold) route
    through the bucketed path, the rest stay plain, and the union is
    exactly the plain result. Also run without ``right_tiebreak`` (the
    boundary pre-pass then orders by time alone), for the adaptive heavy
    path and asof_join_bucketed; the right side is deduplicated per
    (k, rt) by max payload first so the expected rows are deterministic."""
    from pyspark.sql import functions as F

    from data_wrangling_spark.operators.temporal import (
        asof_join,
        asof_join_adaptive,
        asof_join_bucketed,
    )

    ldf, rdf = _random_asof_frames(spark, seed=19, n_left=300, n_keys=4)
    rdf_dedup = rdf.groupBy("k", "rt").agg(F.max("payload").alias("payload"))
    # n_left=300 over 4 keys -> ~75 left rows/key; threshold 60 makes
    # some (not all) keys heavy
    for tiebreak, right in (("payload", rdf), (None, rdf_dedup)):
        for direction in ("backward", "forward"):
            args = dict(on="k", left_time="t", right_time="rt",
                        payload={"payload": "p"}, direction=direction,
                        right_tiebreak=tiebreak)
            want = _rows(asof_join(ldf, right, **args))
            # hour buckets hold several right rows each, so the
            # pre-pass's time order picks the boundary seed
            for width in (60, 3600):
                got = _rows(
                    asof_join_adaptive(ldf, right, bucket_seconds=width,
                                       heavy_threshold=60, **args)
                )
                assert got == want, (tiebreak, direction, width)
                if tiebreak is None:
                    got = _rows(
                        asof_join_bucketed(ldf, right, bucket_seconds=width, **args)
                    )
                    assert got == want, ("bucketed", direction, width)


def test_asof_adaptive_no_heavy_keys_collapses_to_plain_at_build(spark):
    """With every bucket under the threshold the eager O(buckets)
    detection collect comes back empty and asof_join_adaptive returns
    plain asof_join's plan VERBATIM — the optimized plans are string-
    identical, so the uniform-key cost over plain is exactly the
    detection job (the lazy/AQE-erasure design left ~0.6s of inert
    machinery at 20x bench scale; see the operator docstring)."""
    from data_wrangling_spark.operators.temporal import (
        asof_join,
        asof_join_adaptive,
    )

    ldf, rdf = _random_asof_frames(spark, seed=23, n_left=40, n_right=20)
    out = asof_join_adaptive(
        ldf, rdf, on="k", left_time="t", right_time="rt",
        payload={"payload": "p"}, bucket_seconds=3600,
        right_tiebreak="payload", heavy_threshold=1_000_000,
    )
    plain = asof_join(
        ldf, rdf, on="k", left_time="t", right_time="rt",
        payload={"payload": "p"}, right_tiebreak="payload",
    )
    import re

    strip_ids = lambda s: re.sub(r"#\d+", "#", s)  # noqa: E731
    out_plan = strip_ids(out._jdf.queryExecution().optimizedPlan().toString())
    plain_plan = strip_ids(
        plain._jdf.queryExecution().optimizedPlan().toString()
    )
    assert out_plan == plain_plan
    assert "Join" not in out_plan
    assert _rows(out) == _rows(plain)


def test_asof_adaptive_heavy_path_plan_is_join_free(spark):
    """With heavy buckets present the routing is a LITERAL isin
    predicate and the boundary seeds union in — the optimized plan must
    contain no join of any kind (the pre-round-7 form carried a
    broadcast flag join on every wide row)."""
    from data_wrangling_spark.operators.temporal import asof_join_adaptive

    ldf, rdf = _random_asof_frames(spark, seed=23, n_left=120, n_keys=3)
    out = asof_join_adaptive(
        ldf, rdf, on="k", left_time="t", right_time="rt",
        payload={"payload": "p"}, bucket_seconds=60,
        right_tiebreak="payload", heavy_threshold=10,
    )
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan
    assert len(_rows(out)) == 120


def test_asof_adaptive_heavy_null_key_routes_with_its_partition(spark):
    """NULL is a key value to the window partitioning (plain asof
    matches NULL-key left rows to NULL-key right rows), so a heavy NULL
    key must route with its partition — detection hashes the key, and
    xxhash64(NULL) is a real bucket, so no null-safe join machinery is
    involved anywhere."""
    from data_wrangling_spark.operators.temporal import (
        asof_join,
        asof_join_adaptive,
    )

    left = spark.createDataFrame(
        [(i, None, _ts(i)) for i in range(50)]
        + [(100 + i, "cold", _ts(i)) for i in range(5)],
        "event_id long, k string, t timestamp",
    )
    right = spark.createDataFrame(
        [(None, _ts(0), 1), (None, _ts(25), 2), ("cold", _ts(2), 9)],
        "k string, rt timestamp, payload int",
    )
    want = _rows(
        asof_join(left, right, on="k", left_time="t", right_time="rt",
                  payload={"payload": "p"}, right_tiebreak="payload")
    )
    got = _rows(
        asof_join_adaptive(
            left, right, on="k", left_time="t", right_time="rt",
            payload={"payload": "p"}, bucket_seconds=10,
            right_tiebreak="payload", heavy_threshold=20,
        )
    )
    assert got == want
    # sanity: the NULL key really was heavy (above threshold on the left)
    assert sum(1 for r in left.collect() if r.k is None) > 20


def test_asof_adaptive_rejects_bad_threshold(spark):
    import pytest

    from data_wrangling_spark.operators.temporal import asof_join_adaptive

    ldf, rdf = _random_asof_frames(spark, seed=3, n_left=5, n_right=5)
    with pytest.raises(ValueError, match="heavy_threshold"):
        asof_join_adaptive(ldf, rdf, on="k", left_time="t", right_time="rt",
                           payload={"payload": "p"}, bucket_seconds=60,
                           heavy_threshold=0)
    with pytest.raises(ValueError, match="detection_buckets"):
        asof_join_adaptive(ldf, rdf, on="k", left_time="t", right_time="rt",
                           payload={"payload": "p"}, bucket_seconds=60,
                           detection_buckets=0)


def test_asof_adaptive_bucket_false_positives_are_result_identical(spark):
    """detection_buckets=1 forces EVERY key into one detection bucket:
    the combined mass trips the threshold, so every key — heavy or not
    — routes through the bucketed-window path as a false positive. The
    result must still be exactly plain asof_join's (routing is a
    partitioning decision, never a semantics decision)."""
    from data_wrangling_spark.operators.temporal import (
        asof_join,
        asof_join_adaptive,
    )

    ldf, rdf = _random_asof_frames(spark, seed=31, n_left=120, n_keys=5)
    for direction in ("backward", "forward"):
        want = _rows(
            asof_join(ldf, rdf, on="k", left_time="t", right_time="rt",
                      payload={"payload": "p"}, direction=direction,
                      right_tiebreak="payload")
        )
        got = _rows(
            asof_join_adaptive(
                ldf, rdf, on="k", left_time="t", right_time="rt",
                payload={"payload": "p"}, bucket_seconds=60,
                direction=direction, right_tiebreak="payload",
                heavy_threshold=10, detection_buckets=1,
            )
        )
        assert got == want, direction


def test_asof_bucketed_null_key_cross_bucket_carry(spark):
    """Regression: the boundary join used plain (non-null-safe) key
    equality, so a NULL key — one partition to the window, same as
    plain asof_join — lost every cross-bucket payload carry and later
    buckets' left rows got NULL instead of the carried payload."""
    from data_wrangling_spark.operators.temporal import (
        asof_join,
        asof_join_bucketed,
    )

    left = spark.createDataFrame(
        [(i, None, _ts(i)) for i in range(0, 50, 7)],
        "event_id long, k string, t timestamp",
    )
    right = spark.createDataFrame(
        [(None, _ts(0), 1), (None, _ts(25), 2)],
        "k string, rt timestamp, payload int",
    )
    for direction in ("backward", "forward"):
        want = _rows(
            asof_join(left, right, on="k", left_time="t", right_time="rt",
                      payload={"payload": "p"}, direction=direction,
                      right_tiebreak="payload")
        )
        got = _rows(
            asof_join_bucketed(
                left, right, on="k", left_time="t", right_time="rt",
                payload={"payload": "p"}, bucket_seconds=10,
                direction=direction, right_tiebreak="payload",
            )
        )
        assert got == want, direction


# ------------------------------------------------------- trailing window --

def test_trailing_window_features_boundary_and_nulls(spark):
    """RANGE frame bounds are exact micros: a row exactly window_seconds
    earlier is INCLUDED, one microsecond earlier is not; equal-time rows
    share a frame; NULL-time rows are excluded."""
    import datetime as dt

    from pyspark.sql import functions as F

    from data_wrangling_spark.operators.temporal import (
        trailing_window_features,
    )

    base = dt.datetime(2024, 1, 10, 12, 0, 0)
    rows = [
        (1, "u", base - dt.timedelta(seconds=60, microseconds=1), 100),
        (2, "u", base - dt.timedelta(seconds=60), 10),
        (3, "u", base, 1),
        (4, "u", base, 2),          # tie with row 3: same frame
        (5, "u", None, 999),        # excluded
        (6, "v", base, 5),          # other key unaffected
    ]
    df = spark.createDataFrame(
        rows, "event_id long, k string, t timestamp, v long"
    )
    out = {
        r.event_id: (r.n, r.s)
        for r in trailing_window_features(
            df, on="k", time_col="t", window_seconds=60,
            exprs={"n": F.count(F.lit(1)), "s": F.sum("v")},
        ).collect()
    }
    assert 5 not in out                      # NULL time excluded
    assert out[1] == (1, 100)                # own frame only
    assert out[2] == (2, 110)                # row 1 is 1us inside row 2's frame
    # rows 3/4 tie and share one frame: row 2 at exactly -60s is
    # INCLUDED, row 1 at -60s-1us is NOT
    assert out[3] == (3, 13) and out[4] == (3, 13)
    assert out[6] == (1, 5)


def test_trailing_window_features_plan_one_exchange(spark):
    """One hash exchange on the key, a RangeFrame window, no join."""
    from pyspark.sql import functions as F

    from data_wrangling_spark.operators.temporal import (
        trailing_window_features,
    )
    from data_wrangling_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    ev = load_table(spark, SF_DIR, "events").select("event_id", "user_id", "ts")
    out = trailing_window_features(
        ev, on="user_id", time_col="ts", window_seconds=7 * 86400,
        exprs={"n": F.count(F.lit(1))},
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") <= 1
    assert "Join" not in plan
    assert "specifiedwindowframe(RangeFrame" in plan

    with __import__("pytest").raises(ValueError, match="window_seconds"):
        trailing_window_features(ev, on="user_id", time_col="ts",
                                 window_seconds=0, exprs={})


def test_asof_adaptive_mixed_key_dtypes_heavy_key_carries(spark):
    """Left key INT, right key BIGINT (union-promoted to BIGINT): every
    hash site must see the PROMOTED type, or the same key value buckets
    differently across detection / boundary pre-pass / wide routing —
    xxhash64 hashes 4-byte and 8-byte primitives differently — and a
    heavy key's left-only buckets silently lose their boundary carry
    (the round-6 review find). Heavy key, sparse left rows in buckets
    with no right rows: each must still receive the carried payload."""
    import datetime as dt

    from data_wrangling_spark.operators.temporal import (
        asof_join,
        asof_join_adaptive,
    )

    base = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [(i, 7, base + dt.timedelta(hours=6 * i)) for i in range(60)],
        "event_id long, k int, t timestamp",
    )
    right = spark.createDataFrame(
        [(7, base, 1), (7, base + dt.timedelta(days=4), 2)],
        "k long, rt timestamp, payload int",
    )
    want = _rows(
        asof_join(left, right, on="k", left_time="t", right_time="rt",
                  payload={"payload": "p"}, right_tiebreak="payload")
    )
    # every left row after day 0 must carry a payload — the plain result
    # has carries, so a broken boundary path cannot pass by vacuity
    assert sum(1 for r in want if r[-1] is not None) >= 59
    got = _rows(
        asof_join_adaptive(
            left, right, on="k", left_time="t", right_time="rt",
            payload={"payload": "p"}, bucket_seconds=86400,
            right_tiebreak="payload", heavy_threshold=10,
        )
    )
    assert got == want


def test_ohlc_bars_ties_and_partition_invariance(spark):
    """Open/close are ordered by (ts, id): two events at the SAME
    microsecond resolve to the lower event_id for open and the higher
    for close, under any input partitioning."""
    import datetime as dt

    from data_wrangling_spark.operators.temporal import ohlc_bars

    t0 = dt.datetime(2024, 3, 1, 10, 15, 0)
    rows = [
        # same-microsecond tie: ids 2 (7.00) and 1 (3.00) at t0
        (2, t0, "u", "click", 7.00),
        (1, t0, "u", "click", 3.00),
        (3, t0 + dt.timedelta(minutes=5), "u", "click", 5.50),
        # close tie at the last microsecond: ids 4 (1.00) and 5 (9.00)
        (4, t0 + dt.timedelta(minutes=9), "u", "click", 1.00),
        (5, t0 + dt.timedelta(minutes=9), "u", "click", 9.00),
        (6, t0 + dt.timedelta(hours=2), "u", "click", 2.25),
    ]
    schema = "event_id long, ts timestamp, user_id string, event_type string, value double"
    for nparts in (1, 5):
        df = spark.createDataFrame(rows, schema).repartition(nparts)
        got = {
            (r["key"], r["bar"]): r
            for r in ohlc_bars(df).collect()
        }
        bar = got[("click", "2024-03-01 10:00")]
        assert bar["open_cents"] == 300    # id 1 wins the open tie
        assert bar["close_cents"] == 900   # id 5 wins the close tie
        assert bar["high_cents"] == 900
        assert bar["low_cents"] == 100
        assert bar["volume"] == 5
        assert bar["turnover_cents"] == 300 + 700 + 550 + 100 + 900
        assert got[("click", "2024-03-01 12:00")]["open_cents"] == 225


def test_ohlc_bars_minute_bucket_and_labels(spark):
    """The group key is the truncated TIMESTAMP, not the formatted
    label: bucket='minute' must produce per-minute bars (a hardcoded
    HH:00 label pattern once collapsed them back into hours), and
    coarse buckets get labels that match their grain."""
    import datetime as dt

    import pytest

    from data_wrangling_spark.operators.temporal import ohlc_bars

    t0 = dt.datetime(2024, 3, 1, 10, 15, 10)
    rows = [
        (1, t0, "u", "click", 1.00),
        (2, t0 + dt.timedelta(seconds=40), "u", "click", 2.00),
        (3, t0 + dt.timedelta(minutes=2), "u", "click", 3.00),
    ]
    schema = "event_id long, ts timestamp, user_id string, event_type string, value double"
    df = spark.createDataFrame(rows, schema)

    minute = {r["bar"]: r for r in ohlc_bars(df, bucket="minute").collect()}
    assert set(minute) == {"2024-03-01 10:15", "2024-03-01 10:17"}
    assert minute["2024-03-01 10:15"]["volume"] == 2
    assert minute["2024-03-01 10:15"]["open_cents"] == 100
    assert minute["2024-03-01 10:15"]["close_cents"] == 200
    assert minute["2024-03-01 10:17"]["volume"] == 1

    hour = {r["bar"]: r for r in ohlc_bars(df, bucket="hour").collect()}
    assert set(hour) == {"2024-03-01 10:00"}
    assert hour["2024-03-01 10:00"]["volume"] == 3

    day = {r["bar"]: r for r in ohlc_bars(df, bucket="day").collect()}
    assert set(day) == {"2024-03-01"}

    month = {r["bar"]: r for r in ohlc_bars(df, bucket="month").collect()}
    assert set(month) == {"2024-03"}

    with pytest.raises(ValueError, match="unsupported bucket"):
        ohlc_bars(df, bucket="fortnight")
