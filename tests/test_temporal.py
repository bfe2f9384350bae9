"""Temporal operators: distributed as-of join and gap sessionization
(operators/temporal.py). Oracle-grade pinning happens via the driver
contract (`asof_join` / `sessionize` queries vs DuckDB); these tests pin
the edge semantics: inclusive ts equality, deterministic tie-break, rows
with no predecessor, gap boundary inclusivity, and session numbering, and
the hot-key salted twins' output parity with the plain forms."""

from datetime import datetime, timedelta

import pytest
from pyspark.sql import Row

from fsharp_data_validation_spark.operators.temporal import asof_join, sessionize

T0 = datetime(2026, 1, 1, 12, 0, 0)


def ts(sec):
    return T0 + timedelta(seconds=sec)


@pytest.fixture(scope="module")
def events(spark):
    rows = [
        # user 1: clicks at 0, 10, 10 (tie), 30; errors at 5, 10, 20, 40
        Row(event_id=100, user_id=1, event_type="click", ts=ts(0)),
        Row(event_id=101, user_id=1, event_type="click", ts=ts(10)),
        Row(event_id=102, user_id=1, event_type="click", ts=ts(10)),
        Row(event_id=103, user_id=1, event_type="click", ts=ts(30)),
        Row(event_id=200, user_id=1, event_type="error", ts=ts(5)),
        Row(event_id=201, user_id=1, event_type="error", ts=ts(10)),
        Row(event_id=202, user_id=1, event_type="error", ts=ts(20)),
        Row(event_id=203, user_id=1, event_type="error", ts=ts(40)),
        # user 2: an error BEFORE any click -> no match
        Row(event_id=300, user_id=2, event_type="error", ts=ts(1)),
        Row(event_id=301, user_id=2, event_type="click", ts=ts(2)),
        Row(event_id=302, user_id=2, event_type="error", ts=ts(3)),
    ]
    return spark.createDataFrame(rows)


def test_asof_join_semantics(spark, events):
    errors = events.filter("event_type = 'error'").select("event_id", "user_id", "ts")
    clicks = events.filter("event_type = 'click'").select("event_id", "user_id", "ts")
    out = {
        r["event_id"]: r["event_id_asof"]
        for r in asof_join(
            errors, clicks, by=["user_id"], right_cols=["event_id"], tie_col="event_id"
        ).collect()
    }
    assert out[200] == 100  # plain latest-before
    # inclusive equality + deterministic tie-break: ts=10 has clicks 101,102
    assert out[201] == 102
    assert out[202] == 102
    assert out[203] == 103
    assert out[300] is None  # no predecessor -> NULL, row kept
    assert out[302] == 301
    assert len(out) == 6  # every left row survives


def test_sessionize_boundaries(spark):
    rows = [
        # user 7: events at 0s, 1500s (same session @gap 1800), 3301s (new:
        # gap 1801 > 1800), 5101s (same: gap exactly 1800 is NOT a new session)
        Row(event_id=1, user_id=7, ts=ts(0)),
        Row(event_id=2, user_id=7, ts=ts(1500)),
        Row(event_id=3, user_id=7, ts=ts(3301)),
        Row(event_id=4, user_id=7, ts=ts(5101)),
        # user 8: single event -> single session of one
        Row(event_id=5, user_id=8, ts=ts(50)),
    ]
    df = spark.createDataFrame(rows)
    out = {
        (r["user_id"], r["session_no"]): (
            r["n_events"],
            r["session_start"],
            r["session_end"],
            r["duration_us"],
        )
        for r in sessionize(df, "user_id", "ts", "event_id").collect()
    }
    assert out[(7, 1)] == (2, ts(0), ts(1500), 1_500_000_000)
    assert out[(7, 2)] == (2, ts(3301), ts(5101), 1_800_000_000)
    assert out[(8, 1)] == (1, ts(50), ts(50), 0)
    assert len(out) == 3


def test_interval_join_bounds_buckets_and_keys(spark):
    """Pins: inclusive start AND end, intervals spanning multiple buckets,
    points outside every interval dropped, key isolation, duplicate match
    when intervals overlap."""
    from pyspark.sql import Row
    from fsharp_data_validation_spark.operators.temporal import interval_join

    points = spark.createDataFrame(
        [
            Row(pid=1, k="a", ts=ts(0)),      # == start (inclusive)
            Row(pid=2, k="a", ts=ts(7200)),   # == end, 2 buckets later
            Row(pid=3, k="a", ts=ts(7201)),   # 1s past end -> no match
            Row(pid=4, k="b", ts=ts(10)),     # right time, wrong key
            Row(pid=5, k="a", ts=ts(3600)),   # mid-interval, bucket boundary
        ]
    )
    intervals = spark.createDataFrame(
        [
            Row(iid=100, k="a", start_ts=ts(0), end_ts=ts(7200)),
            Row(iid=101, k="a", start_ts=ts(3600), end_ts=ts(3700)),  # overlap
        ]
    )
    out = interval_join(
        points, intervals, by=["k"], point_ts="ts",
        start_col="start_ts", end_col="end_ts",
    )
    got = sorted((r["pid"], r["iid"]) for r in out.collect())
    assert got == [(1, 100), (2, 100), (5, 100), (5, 101)]


def test_sessionize_salted_equals_sessionize(spark):
    """Output parity of the hot-key-safe time-bucket split + boundary merge
    against the plain per-key window, on a corpus engineered to stress the
    merge: sessions spanning many buckets, boundary events exactly at the
    gap threshold, empty buckets inside a session gap, and a hot key."""
    import random
    from datetime import datetime, timedelta

    from fsharp_data_validation_spark.operators.temporal import (
        sessionize,
        sessionize_salted,
    )

    rng = random.Random(42)
    base = datetime(2024, 1, 1)
    rows = []
    eid = 0
    for key, n in (("hot", 400), ("warm", 60), ("single", 1)):
        t = 0
        for _ in range(n):
            # mix of tiny gaps (same session), exactly-threshold gaps (same
            # session: rule is gap > threshold), and session breaks that
            # often skip several whole buckets
            t += rng.choice([1, 5, 1800, 1801, 4000, 90000, 200000])
            rows.append((key, base + timedelta(seconds=t), eid))
            eid += 1
    df = spark.createDataFrame(rows, "user_id string, ts timestamp, event_id long")

    want = sorted(
        tuple(r)
        for r in sessionize(df, "user_id", "ts", "event_id").collect()
    )
    for bucket_seconds in (86400, 3600, 600):  # incl. bucket < gap
        got = sorted(
            tuple(r)
            for r in sessionize_salted(
                df, "user_id", "ts", "event_id", bucket_seconds=bucket_seconds
            ).collect()
        )
        assert got == want, f"bucket_seconds={bucket_seconds}"


def test_asof_join_salted_equals_asof_join(spark):
    """Output parity of the hot-key-safe as-of (time-bucket split + carried
    per-bucket last payload) against the plain union-and-scan window:
    boundary timestamps, buckets with only-left or only-right rows, equal-ts
    ties on both sides, keys missing from one side."""
    import random
    from datetime import datetime, timedelta

    from fsharp_data_validation_spark.operators.temporal import (
        asof_join,
        asof_join_salted,
    )

    rng = random.Random(7)
    base = datetime(2024, 1, 1)
    lrows, rrows = [], []
    for key, nl, nr in (("hot", 250, 120), ("warm", 40, 3), ("leftonly", 10, 0), ("rightonly", 0, 5)):
        for i in range(nl):
            # cluster around bucket boundaries (bucket_seconds=600 below)
            t = rng.choice([rng.randrange(0, 40000), 600 * rng.randrange(0, 60)])
            lrows.append((key, base + timedelta(seconds=t), i))
        for i in range(nr):
            t = rng.choice([rng.randrange(0, 40000), 600 * rng.randrange(0, 60)])
            rrows.append((key, base + timedelta(seconds=t), 100 + i, f"p{key}{i}"))
    # equal-ts tie: two right rows at the same instant (max tie wins)
    rrows.append(("hot", base + timedelta(seconds=1200), 900, "tie_lo"))
    rrows.append(("hot", base + timedelta(seconds=1200), 901, "tie_hi"))
    left = spark.createDataFrame(lrows, "k string, ts timestamp, lid int")
    right = spark.createDataFrame(rrows, "k string, ts timestamp, rid int, val string")

    kw = dict(by=["k"], right_cols=["rid", "val"], tie_col="rid")
    want = sorted(tuple(r) for r in asof_join(left, right, **kw).collect())
    for bucket_seconds in (86400, 600, 37):
        got = sorted(
            tuple(r)
            for r in asof_join_salted(
                left, right, bucket_seconds=bucket_seconds, **kw
            ).collect()
        )
        assert got == want, f"bucket_seconds={bucket_seconds}"
