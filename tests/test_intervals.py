import datetime as dt
import random

import pytest

from vectorsearchutil_spark.operators.intervals import (
    concurrency_by_day,
    sessions_from_events,
)


def _naive_peaks(intervals):
    """Global sweep-line in plain Python: peak open count per day."""
    bounds = [(s, 1) for s, _ in intervals] + [(e, -1) for _, e in intervals]
    # starts before ends at equal ts; peers collapse via groupby
    bounds.sort(key=lambda x: (x[0], -x[1]))
    open_now, peaks, starts = 0, {}, {}
    i = 0
    while i < len(bounds):
        j = i
        while j < len(bounds) and bounds[j][:2] == bounds[i][:2]:
            j += 1
        ts, delta = bounds[i]
        open_now += delta * (j - i)
        day = ts.date()
        peaks[day] = max(peaks.get(day, -(10**9)), open_now)
        if delta == 1:
            starts[day] = starts.get(day, 0) + (j - i)
        i = j
    return {d: (peaks[d], starts.get(d, 0)) for d in peaks}


def test_concurrency_hand_case(spark):
    base = dt.datetime(2024, 3, 1, 12, 0, 0)
    h = dt.timedelta(hours=1)
    iv = [
        (base, base + 2 * h),          # A noon-2pm
        (base + h, base + 3 * h),      # B 1-3pm (overlaps A)
        (base + 2 * h, base + 4 * h),  # C starts as A ends (touching)
        (base + 30 * h, base + 31 * h),  # next-day session
    ]
    df = spark.createDataFrame(iv, ["start_ts", "end_ts"])
    got = {
        r["day"]: (r["peak_concurrency"], r["n_starts"])
        for r in concurrency_by_day(df).collect()
    }
    # touching counts as concurrent: at the 2pm instant C's +1 sorts
    # before A's -1 (delta DESC), so A, B and C are all open -> 3
    assert got[dt.date(2024, 3, 1)] == (3, 3)
    assert got[dt.date(2024, 3, 2)] == (1, 1)


def test_concurrency_matches_naive_sweep_random(spark):
    rng = random.Random(11)
    base = dt.datetime(2024, 5, 1)
    iv = []
    for _ in range(300):
        s = base + dt.timedelta(minutes=rng.randint(0, 7 * 24 * 60))
        e = s + dt.timedelta(minutes=rng.randint(0, 18 * 60))
        iv.append((s, e))
    df = spark.createDataFrame(iv, ["start_ts", "end_ts"])
    got = {
        r["day"]: (r["peak_concurrency"], r["n_starts"])
        for r in concurrency_by_day(df.repartition(16)).collect()
    }
    assert got == _naive_peaks(iv)


def test_concurrency_carry_across_empty_day(spark):
    # a 3-day session spans a day with NO boundaries: that day has no
    # output row (no boundary), but the day after must still carry
    base = dt.datetime(2024, 6, 1, 23, 0)
    iv = [
        (base, base + dt.timedelta(days=2, hours=2)),
        (base + dt.timedelta(days=2, hours=1),
         base + dt.timedelta(days=2, hours=3)),
    ]
    df = spark.createDataFrame(iv, ["start_ts", "end_ts"])
    got = {
        r["day"]: r["peak_concurrency"]
        for r in concurrency_by_day(df).collect()
    }
    # Jun 2/3 have no boundaries (the long session spans them silently)
    assert dt.date(2024, 6, 2) not in got and dt.date(2024, 6, 3) not in got
    assert got[dt.date(2024, 6, 1)] == 1
    assert got[dt.date(2024, 6, 4)] == 2  # carried-in session + new one


def test_sessions_from_events_intervals(spark):
    base = dt.datetime(2024, 1, 1, 10, 0)
    m = dt.timedelta(minutes=1)
    rows = [
        (1, 7, base), (2, 7, base + 10 * m),            # session 1
        (3, 7, base + 50 * m),                          # gap 40min -> s2
        (4, 8, base),                                   # other user
    ]
    df = spark.createDataFrame(rows, ["event_id", "user_id", "ts"])
    got = sorted(
        (r["user_id"], r["session_id"], r["start_ts"], r["end_ts"])
        for r in sessions_from_events(df).collect()
    )
    assert got == [
        (7, 1, base, base + 10 * m),
        (7, 2, base + 50 * m, base + 50 * m),
        (8, 1, base, base),
    ]


def _has_duplicate_output(node) -> bool:
    """True when any node of a JVM logical plan outputs one attribute
    twice."""
    out = node.output()
    ids = [out.apply(i).exprId().id() for i in range(out.size())]
    kids = node.children()
    return len(ids) != len(set(ids)) or any(
        _has_duplicate_output(kids.apply(i)) for i in range(kids.size())
    )


@pytest.mark.parametrize("order_col", ["ts", "user_id"])
def test_sessions_from_events_order_col_may_repeat_a_key(spark, order_col):
    """``order_col`` may name the timestamp or the user column itself:
    the early projection must not carry that column twice through the
    user-key shuffle, and the sessions are unchanged."""
    base = dt.datetime(2024, 1, 1, 10, 0)
    m = dt.timedelta(minutes=1)
    rows = [(7, base), (7, base + 10 * m), (7, base + 50 * m), (8, base)]
    df = spark.createDataFrame(rows, ["user_id", "ts"])
    out = sessions_from_events(df, order_col=order_col)
    assert not _has_duplicate_output(out._jdf.queryExecution().optimizedPlan())
    got = sorted(
        (r["user_id"], r["session_id"], r["start_ts"], r["end_ts"])
        for r in out.collect()
    )
    assert got == [
        (7, 1, base, base + 10 * m),
        (7, 2, base + 50 * m, base + 50 * m),
        (8, 1, base, base),
    ]


# ------------------------------------------- interval overlap join


def _naive_overlap(L, R):
    out = set()
    for lid, ls, le in L:
        for rid, rs, re in R:
            if ls < re and rs < le:
                out.add((lid, rid))
    return out


def test_interval_overlap_join_matches_naive(spark):
    """Bucketed join ≡ naive predicate on adversarial cases:
    boundary-exact ends, spans crossing many buckets, point
    intervals, disjoint pairs."""
    from vectorsearchutil_spark.operators.intervals import (
        interval_overlap_join,
    )

    def ts(s):
        return float(s)

    L = [
        (1, 0.0, 3600.0),          # exactly one bucket
        (2, 3600.0, 7200.0),       # boundary-adjacent to 1 (half-open: no overlap)
        (3, 100.0, 90_000.0),      # crosses 25 buckets
        (4, 5000.0, 5000.0),       # point interval
        (6, 7200.0, 7200.0),       # point interval ON a bucket boundary
        (5, 50_000.0, 50_001.0),
    ]
    R = [
        (10, 1800.0, 5400.0),      # overlaps 1, 2, 3
        (11, 3599.999, 3600.0),    # sliver at the boundary
        (12, 89_999.0, 95_000.0),  # overlaps 3 only
        (13, 200_000.0, 300_000.0),# disjoint
        (14, 4000.0, 6000.0),      # contains the point of 4
        (15, 7000.0, 7300.0),      # contains the boundary point of 6
    ]
    ldf = spark.createDataFrame(
        [(i, s, e) for i, s, e in L], "lid long, start_ts double, end_ts double"
    ).selectExpr("lid", "timestamp_seconds(start_ts) AS start_ts",
                 "timestamp_seconds(end_ts) AS end_ts")
    rdf = spark.createDataFrame(
        [(i, s, e) for i, s, e in R], "rid long, start_ts double, end_ts double"
    ).selectExpr("rid", "timestamp_seconds(start_ts) AS start_ts",
                 "timestamp_seconds(end_ts) AS end_ts")
    for bucket_s in (60, 3600, 100_000):
        got = {
            (r["lid"], r["rid"])
            for r in interval_overlap_join(
                ldf, rdf, bucket_s=bucket_s
            ).collect()
        }
        assert got == _naive_overlap(L, R), bucket_s


def test_interval_overlap_join_no_nested_loop(spark):
    from vectorsearchutil_spark.operators.intervals import (
        interval_overlap_join,
    )
    from vectorsearchutil_spark.plans.explain import formatted_plan

    ldf = spark.range(100).selectExpr(
        "id AS lid",
        "timestamp_seconds(id * 100) AS start_ts",
        "timestamp_seconds(id * 100 + 500) AS end_ts",
    )
    rdf = spark.range(100).selectExpr(
        "id AS rid",
        "timestamp_seconds(id * 150) AS start_ts",
        "timestamp_seconds(id * 150 + 300) AS end_ts",
    )
    plan = formatted_plan(interval_overlap_join(ldf, rdf, bucket_s=600))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
