"""Temporal operators over event streams: distributed as-of join and
gap-based sessionization. No reference counterpart (SURVEY.md §2.8 — the
reference is a single-value validation library); these are the standard
event-table companions of the transcript ts-gap/ordering checks.

Scale design:
- as-of join: the classic distributed shape is NOT a range join (which
  explodes to O(|L| * candidate window) pairs) but a union-and-scan: tag
  both sides, sort each key's rows by (ts, side), and carry the latest
  right-side payload forward with a running ``last(ignorenulls)`` window.
  One shuffle on the join key, one sort, zero row amplification — at
  10^12 rows the sort-merge window is exactly what a timeseries-store
  as-of would do per shard.
- sessionize: lag + running-sum windows over (key, ts) — same single
  shuffle; the session aggregate is a map-side-combinable groupBy. Window
  partitions are bounded by per-key event counts (documented hot-key
  caveat shared with ordering_violations; AQE skew handling applies).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window, WindowSpec, functions as F

SESSION_GAP_S = 1800  # the gap of sessionize and sessionize_salted
_ASOF_TS = "ts"  # the as-of joins' event-time column, on both sides
_ASOF_SUFFIX = "_asof"  # the as-of joins' suffix on the right columns
_INTERVAL_BUCKET_S = 3600  # interval_join's time bucket


def _micros(c: F.Column) -> F.Column:
    """Epoch microseconds for Timestamp/TimestampNTZ (UTC session tz makes
    the NTZ->TZ cast a pure reinterpretation); matches DuckDB
    ``date_diff('microsecond', ...)`` arithmetic."""
    return F.unix_micros(c.cast("timestamp"))


def _asof_union(left, right, by, right_cols, tie_col):
    """The as-of joins' shared prelude, ``(r, u)``: ``r`` is the right side
    as (by..., _ts, _side=0, _tie, _pay) and ``u`` the left rows (_side=1,
    NULL _tie and _pay) unioned with ``r``, whose left-only columns are NULL
    (right rows only carry the payload; the side filter drops them after
    the window)."""
    payload = F.struct(*[F.col(c) for c in right_cols]).alias("_pay")
    r = right.select(
        *by,
        F.col(_ASOF_TS).alias("_ts"),
        F.lit(0).alias("_side"),
        F.col(tie_col).alias("_tie"),
        payload,
    )
    l = left.select(  # noqa: E741
        "*",
        F.col(_ASOF_TS).alias("_ts"),
        F.lit(1).alias("_side"),
        F.lit(None).cast(r.schema["_tie"].dataType).alias("_tie"),
        F.lit(None).cast(r.schema["_pay"].dataType).alias("_pay"),
    )
    r_full = r.select(
        *[c if c in r.columns else F.lit(None).cast(t).alias(c) for c, t in l.dtypes]
    )
    return r, l.unionByName(r_full)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    by: Sequence[str],
    right_cols: Sequence[str],
    tie_col: str,
) -> DataFrame:
    """For every left row, attach the ``right_cols`` of the LATEST right row
    of the same ``by`` key with ``right.ts <= left.ts`` (inclusive; both
    sides' event time is ``ts``). Deterministic tie-break: among right rows
    sharing the maximal timestamp, the one with the greatest ``tie_col``
    wins (required for a portable oracle).

    Implementation: union both sides with a side tag, then one running
    ``last(payload, ignorenulls=True)`` window ordered by
    (ts, side, tie) — right rows sort before left rows at equal ts, so
    equality is inclusive; left rows then read the carried payload.
    Returns the left rows plus ``<right_col>_asof`` columns (NULL when
    no right row precedes).
    """
    by = list(by)
    _, u = _asof_union(left, right, by, right_cols, tie_col)
    w = (
        Window.partitionBy(*by)
        .orderBy(F.col("_ts"), F.col("_side"), F.col("_tie"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = u.withColumn("_last_pay", F.last("_pay", ignorenulls=True).over(w))
    out = carried.filter(F.col("_side") == 1).select(
        *left.columns,
        *[F.col(f"_last_pay.{c}").alias(f"{c}{_ASOF_SUFFIX}") for c in right_cols],
    )
    return out


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    by: Sequence[str],
    point_ts: str = "ts",
    start_col: str = "start_ts",
    end_col: str = "end_ts",
) -> DataFrame:
    """Range join: every (point, interval) pair of the same ``by`` key with
    ``start <= point_ts <= end`` (inclusive both ends). Spark's native plan
    for a range predicate is BroadcastNestedLoopJoin — O(|points| x
    |intervals|) per key, unusable at scale. Instead the classic bucketed
    decomposition: each interval explodes to the fixed-width time buckets
    it covers (``sequence`` over bucket ids — amplification = interval
    length / bucket width, bounded for bounded intervals), each point maps
    to exactly ONE bucket, and the join becomes an equi-join on
    (key…, bucket) + an exact containment filter. One shuffle each side,
    hash join, no row explosion beyond the interval/bucket replication.
    The bucket width ``_INTERVAL_BUCKET_S`` is about the typical interval
    length: shorter buckets amplify intervals, longer buckets fatten
    candidate lists.

    ``points`` and ``intervals`` must not share column names other than
    ``by`` (the containment filter references ``point_ts``/``start_col``/
    ``end_col`` unqualified).
    """
    by = list(by)
    w_us = F.lit(_INTERVAL_BUCKET_S * 1_000_000)
    ib = intervals.withColumn(
        "_b",
        F.explode(
            F.sequence(
                F.floor(_micros(F.col(start_col)) / w_us),
                F.floor(_micros(F.col(end_col)) / w_us),
            )
        ),
    )
    pb = points.withColumn("_b", F.floor(_micros(F.col(point_ts)) / w_us))
    matched = pb.join(ib, by + ["_b"]).filter(
        (_micros(F.col(point_ts)) >= _micros(F.col(start_col)))
        & (_micros(F.col(point_ts)) <= _micros(F.col(end_col)))
    )
    return matched.drop("_b")


def time_rollup(
    df: DataFrame,
    ts_col: str = "ts",
    dim_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Multi-granularity time rollup ("hypertable rollup"): (bucket, dim),
    (bucket) and grand-total aggregates in ONE pass via ``GROUP BY ROLLUP``.
    Returns (day, <dim>, grp_id, n_events, total_value) where ``grp_id`` is
    the standard SQL grouping bitmask (0 = finest grain, 3 = grand total).

    Scale: Catalyst compiles ROLLUP to one Expand (3 output rows per input
    row) feeding a single partial+final hash aggregate — one shuffle for all
    three grains. The Expand 3x map-side amplification collapses immediately
    in the partial aggregate (grouping keys are low-cardinality: days x
    types), so at 10^12 rows the shuffle payload is the rollup grid, not the
    data. If the dim were high-cardinality, the cheaper shape is finest-grain
    groupBy then re-aggregate upward from the (small) grid — same result,
    no Expand.
    """
    day = F.date_trunc("day", F.col(ts_col)).cast("date").alias("day")
    return (
        df.select(day, F.col(dim_col), F.col(value_col))
        .rollup("day", dim_col)
        .agg(
            F.grouping_id().cast("bigint").alias("grp_id"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(value_col), 2).alias("total_value"),
        )
    )


def _session_no(w: WindowSpec, ts_col: str) -> F.Column:
    """Running session number over ``w`` (one key's events ordered by
    (ts, id)): a session starts at the first event and wherever the gap to
    the previous event exceeds ``SESSION_GAP_S``."""
    gap_us = _micros(F.col(ts_col)) - _micros(F.lag(ts_col).over(w))
    is_new = F.when(
        gap_us.isNull() | (gap_us > SESSION_GAP_S * 1_000_000), F.lit(1)
    ).otherwise(F.lit(0))
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return F.sum(is_new).over(run).cast("bigint")


def _per_session(events: DataFrame, key_col: str, ts_col: str) -> DataFrame:
    """One row per (key, session_no) of numbered ``events``."""
    return events.groupBy(key_col, "session_no").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        (_micros(F.max(ts_col)) - _micros(F.min(ts_col))).alias("duration_us"),
    )


def sessionize(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Gap-based sessions: within a key, ordered by (ts, id), a new session
    starts when the gap to the previous event exceeds ``SESSION_GAP_S``.
    Returns one row per session:
    (key, session_no, n_events, session_start, session_end, duration_us)
    with ``session_no`` numbered 1.. per key in time order.
    """
    w = Window.partitionBy(key_col).orderBy(F.col(ts_col), F.col(id_col))
    sessions = df.select(
        F.col(key_col),
        F.col(ts_col),
        _session_no(w, ts_col).alias("session_no"),
    )
    return _per_session(sessions, key_col, ts_col)


def sessionize_salted(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    *,
    bucket_seconds: int,
) -> DataFrame:
    """``sessionize`` for Zipf-hot keys: output-identical,
    but the event window runs over (key, time_bucket) instead of (key), so
    no single task ever sorts a whole hot key's timeline.

    Phase 1 — local sessionize: events are bucketed by
    ``floor(ts / bucket_seconds)`` (a deterministic time salt: unlike a
    hash salt it preserves the within-bucket total order, which gap
    sessionization needs); the lag + running-sum windows number sessions
    1.. within each (key, bucket).

    Phase 2 — boundary merge on AGGREGATES: one row per (key, bucket)
    (n_sessions, first/last event ts) — KB-scale however hot the key —
    is enough to decide whether a bucket's first session continues the
    previous non-empty bucket's last session (boundary gap <= threshold)
    and to convert local session numbers to global ones with a running
    sum of (n_sessions - merged) over buckets. Sessions spanning MANY
    buckets chain correctly: each intermediate bucket contributes one
    merged single-session row. The final per-session aggregate regroups
    partial sessions by the global number.

    Cost vs ``sessionize``: one extra tiny aggregate + broadcast-size
    join; the event-side shuffle count is identical (one). Use when the
    key histogram is skewed (see ``stats.skew_report``); the default
    ``sessionize`` is fine for bounded per-key cardinalities.
    """
    bucket = F.floor(_micros(F.col(ts_col)) / (bucket_seconds * 1_000_000)).cast(
        "bigint"
    )
    ev = df.select(
        F.col(key_col), F.col(ts_col), F.col(id_col), bucket.alias("_bk")
    )
    wb = Window.partitionBy(key_col, "_bk").orderBy(F.col(ts_col), F.col(id_col))
    local = ev.select(
        key_col, ts_col, "_bk", _session_no(wb, ts_col).alias("_lno")
    )

    # per-(key, bucket) summary: tiny regardless of key heat
    summary = local.groupBy(key_col, "_bk").agg(
        F.max("_lno").alias("_n"),
        F.min(ts_col).alias("_first_ts"),
        F.max(ts_col).alias("_last_ts"),
    )
    wk = Window.partitionBy(key_col).orderBy("_bk")
    boundary_gap = _micros(F.col("_first_ts")) - _micros(
        F.lag("_last_ts").over(wk)
    )
    merged = F.when(
        boundary_gap.isNotNull() & (boundary_gap <= SESSION_GAP_S * 1_000_000),
        F.lit(1),
    ).otherwise(F.lit(0))
    with_merge = summary.select(key_col, "_bk", "_n", merged.alias("_merged"))
    offset = (
        F.sum(F.col("_n") - F.col("_merged")).over(
            Window.partitionBy(key_col)
            .orderBy("_bk")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
    )
    numbered = with_merge.select(
        key_col,
        "_bk",
        "_merged",
        F.coalesce(offset, F.lit(0)).cast("bigint").alias("_offset"),
    )

    glob = local.join(numbered, [key_col, "_bk"]).select(
        key_col,
        ts_col,
        (F.col("_offset") + F.col("_lno") - F.col("_merged"))
        .cast("bigint")
        .alias("session_no"),
    )
    return _per_session(glob, key_col, ts_col)


def asof_join_salted(
    left: DataFrame,
    right: DataFrame,
    by: Sequence[str],
    right_cols: Sequence[str],
    tie_col: str,
    *,
    bucket_seconds: int,
) -> DataFrame:
    """``asof_join`` for Zipf-hot keys: output-identical, but the
    union-and-scan window runs over (key, time_bucket) instead of (key) —
    the as-of sibling of ``sessionize_salted``, same reason: a hot key's
    whole timeline must otherwise sort in ONE task.

    Phase 1 — local as-of: both sides bucketed by
    ``floor(ts / bucket_seconds)`` (time salt: preserves within-bucket
    order, unlike a hash salt); the running ``last(payload, ignorenulls)``
    window carries the latest right payload within each (key, bucket).

    Phase 2 — cross-bucket carry on AGGREGATES: one row per (key, bucket)
    (the bucket's LAST right payload, by the same (ts, tie) order) is
    carried forward with a window over buckets — KB-scale per key however
    hot it is. A left row whose bucket has no preceding right row reads the
    carried payload instead (a right row in an earlier bucket always has a
    strictly smaller timestamp, so correctness is positional, not a race).

    Selection rule (crossover measured DIRECTLY in BENCH.md r5, 20M events
    with a 60%-hot key): the plain window is core-count-insensitive
    (15.6 s at local[8] -> 17.9 s at local[32] — one task sorts the hot
    timeline either way) and stays AHEAD of this form at both levels
    (salted ~22 s flat; 0.71x/0.82x) because the per-(key,bucket) payload
    carry is a heavier constant than sessionize's boundary merge. So:
    default ``asof_join`` until ``stats.skew_report`` flags a key whose
    timeline exceeds one task's sort capacity (memory, or multi-minute
    stragglers); past that this form is the only executable plan — a
    10^12-row key cannot single-task sort at any core count.
    """
    by = list(by)
    r, u = _asof_union(left, right, by, right_cols, tie_col)
    bucket = lambda c: F.floor(  # noqa: E731
        _micros(c) / (bucket_seconds * 1_000_000)
    ).cast("bigint")
    u = u.withColumn("_bk", bucket(F.col("_ts")))

    wb = (
        Window.partitionBy(*by, "_bk")
        .orderBy(F.col("_ts"), F.col("_side"), F.col("_tie"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = u.withColumn("_local_pay", F.last("_pay", ignorenulls=True).over(wb))

    # per-(key, bucket) last right payload (same (ts, tie) order), then the
    # forward carry across buckets — both on aggregate-scale tables
    rr = r.withColumn("_bk", bucket(F.col("_ts")))
    wlast = Window.partitionBy(*by, "_bk").orderBy(
        F.desc("_ts"), F.desc("_tie")
    )
    bucket_last = (
        rr.withColumn("_rn", F.row_number().over(wlast))
        .filter(F.col("_rn") == 1)
        .select(*by, "_bk", F.col("_pay").alias("_bucket_pay"))
    )
    all_buckets = u.select(*by, "_bk").distinct()
    summary = all_buckets.join(bucket_last, by + ["_bk"], "left")
    wcarry = (
        Window.partitionBy(*by)
        .orderBy("_bk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carried = summary.select(
        *by,
        "_bk",
        F.last("_bucket_pay", ignorenulls=True).over(wcarry).alias("_prev_pay"),
    )

    final_pay = F.coalesce(F.col("_local_pay"), F.col("_prev_pay"))
    out = (
        local.filter(F.col("_side") == 1)
        .join(carried, by + ["_bk"])
        .select(
            *left.columns,
            *[final_pay.getField(c).alias(f"{c}{_ASOF_SUFFIX}") for c in right_cols],
        )
    )
    return out
