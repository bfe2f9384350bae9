"""Structured Streaming validation: the same compiled suite applied to a
stream — readStream -> ``Suite.run`` -> sinks, with event-time
watermarking for the windowed violation-rate aggregation.

The suite compiles to stateless column expressions, so it attaches to a
streaming DataFrame unchanged (no state store needed for the row checks):
``Suite.run(stream_df, keys).violations`` is the stream's
``(keys..., path, code)`` rows, as in batch. Additions here:
- watermarked per-window violation counts (late data handled by the
  watermark, not dropped silently);
- windowed PSI / W1 / chi2 drift monitors against a static baseline, and
  the stateful control-chart rate anomaly;
- ``foreachBatch`` writer so violations/valid rows can go to any batch sink
  (parquet/Iceberg). ``foreachBatch`` is at-least-once: a micro-batch
  replayed after a failure is written again, so ``run_stream_to_parquet``
  overwrites each micro-batch's own ``batch_id=<id>`` directory and a
  replay replaces its rows instead of duplicating them.

``run_available_now`` drives every "stream equals batch" pin to its batch
answer: each monitor has a driver query sharing its batch twin's oracle
(``stream_suite``, ``stream_psi``, ``stream_w1``, ``stream_chi2``,
``stream_rate_anomaly``), and ``tests/test_streaming.py`` pins each one on
hand-built series.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
import time
from functools import reduce
from itertools import accumulate, count
from operator import add
from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame, functions as F

from ..functions.compiler import Suite
from ..operators.checks import RATE_WINDOW
from ..rounding import half_up, seq_mean_std

# every windowed monitor: daily event-time windows, closed once the
# watermark passes an hour beyond them
_WINDOW = "1 day"
_WATERMARK = "1 hour"
_Z_THRESHOLD = 2.0  # the streaming control chart's anomaly |z|


def windowed_violation_rate(
    stream_df: DataFrame, suite: Suite, ts_col: str = "ts"
) -> DataFrame:
    """Event-time windowed violation metrics with late-data watermarking:
    (window, rows, rows_with_violations, violations), counted from the
    suite's allocation-free flag and count columns (no failure arrays)."""
    return (
        stream_df.withWatermark(ts_col, _WATERMARK)
        .groupBy(F.window(ts_col, _WINDOW).alias("win"))
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(suite.any_failure_column().cast("long")).alias("rows_with_violations"),
            F.sum(suite.failure_count_column()).alias("violations"),
        )
    )


def run_stream_to_parquet(
    stream_df: DataFrame,
    suite: Suite,
    key_cols: Sequence[str],
    out_dir: str,
    checkpoint_dir: str,
):
    """Drive the stream with foreachBatch writing violations to parquet;
    processes the backlog (``availableNow``) and stops. Micro-batch ``id``
    overwrites ``out_dir/batch_id=<id>``: ``foreachBatch`` is
    at-least-once, and a micro-batch replayed after a failure (its offsets
    logged, its commit not) rewrites the same rows in place. Read
    ``out_dir`` as one table; ``batch_id`` is its partition column."""

    def write_batch(batch_df: DataFrame, batch_id: int):
        batch_df.write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")

    return (
        suite.run(stream_df, key_cols)
        .violations.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


_TIMEOUT_S = 600  # how long run_available_now waits for the backlog
_RUNS = count()  # memory sinks accumulate per query name: one name per run


def _write_series(parts: Sequence[DataFrame], src: str) -> None:
    """Write part ``i`` of a series as ONE parquet file ``src/{i:03d}.parquet``
    with strictly increasing mtimes. A file stream source picks up new files
    in modification-time order, and files written within one timestamp tick
    would tie; explicit names and ``os.utime`` make the stream's input order
    the series order."""
    t0 = int(time.time()) - len(parts)
    for i, part in enumerate(parts):
        tmp = f"{src}/_part{i:03d}"
        part.coalesce(1).write.parquet(tmp)
        dst = f"{src}/{i:03d}.parquet"
        os.replace(glob.glob(f"{tmp}/part-*.parquet")[0], dst)
        shutil.rmtree(tmp)
        os.utime(dst, (t0 + i, t0 + i))


def run_available_now(
    parts: Sequence[DataFrame], monitor: Callable[[DataFrame], DataFrame]
) -> DataFrame:
    """Drive ``monitor`` over a REAL file stream and return its output as a
    batch table. Each part is one source file and, at
    ``maxFilesPerTrigger=1``, one micro-batch in series order, so state and
    watermarks carry across genuine batch boundaries. Files and checkpoint
    live in a temp dir removed before returning; the memory sink keeps its
    rows on the driver, so the table outlives it. A query still running
    after ``_TIMEOUT_S`` is stopped and raises ``TimeoutError``."""
    spark = parts[0].sparkSession
    name = f"available_now_{next(_RUNS)}"
    with tempfile.TemporaryDirectory(prefix="available_now_") as work:
        _write_series(parts, f"{work}/src")
        stream = (
            spark.readStream.schema(parts[0].schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{work}/src")
        )
        q = (
            monitor(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", f"{work}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        try:
            if _TIMEOUT_S > 0:  # awaitTermination rejects 0
                q.awaitTermination(_TIMEOUT_S)
            if q.isActive:
                raise TimeoutError(f"{name} did not drain in {_TIMEOUT_S}s")
        finally:
            q.stop()  # no-op once terminated; never outlives its temp dir
    return spark.table(name)


def _window_counts(
    stream_df: DataFrame, value: Column, cells: Sequence[Column], ts_col: str
) -> DataFrame:
    """Shared input of the windowed drift monitors: ONE watermarked window
    aggregation (win, rows, _c0.._c{k-1}) over the non-NULL ``value`` rows,
    ``_c{i}`` counting the rows where ``cells[i]`` holds. Structured
    Streaming forbids chained aggregations, so each statistic is a row-local
    expression over these count columns (append-mode compatible, state
    evicted by the watermark)."""
    return (
        stream_df.filter(value.isNotNull())
        .withWatermark(ts_col, _WATERMARK)
        .groupBy(F.window(ts_col, _WINDOW).alias("win"))
        .agg(
            F.count(F.lit(1)).alias("rows"),
            *(F.sum(c.cast("long")).alias(f"_c{i}") for i, c in enumerate(cells)),
        )
    )


def _binned_window_counts(
    stream_df: DataFrame, baseline_hist: DataFrame, value_col: str, bucket_width: float,
    n_buckets: int, ts_col: str,
):
    """Shared input of the binned numeric monitors (PSI, W1): the window
    counts of ``value_col``'s ``n_buckets`` buckets, plus the baseline
    histogram collected once as plan literals — (agg, per-bucket baseline
    counts, baseline total)."""
    from ..operators.drift import _bucket

    v = F.col(value_col)
    cells = [_bucket(v, bucket_width, n_buckets) == i for i in range(n_buckets)]
    agg = _window_counts(stream_df, v, cells, ts_col)
    base = {r["bucket"]: r["n"] for r in baseline_hist.collect()}
    base_n = [base.get(i, 0) for i in range(n_buckets)]
    return agg, base_n, float(sum(base.values())) or 1.0


def windowed_drift_stream(
    stream_df: DataFrame,
    baseline_hist: DataFrame,
    value_col: str,
    bucket_width: float,
    n_buckets: int,
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming PSI drift monitor against a static baseline: per
    event-time window, emit (win, rows, psi) where ``psi`` compares the
    window's distribution of ``value_col`` to ``baseline_hist`` (a batch
    histogram from ``operators.drift.histogram``, e.g. built over last
    month's validated corpus, with the same ``bucket_width`` and
    ``n_buckets``) — the sum of ``operators.drift.psi_term`` over the
    window counts and baseline literals (``n_buckets`` rows collected once:
    a plan literal, not a data collect)."""
    from ..operators.drift import psi_term

    agg, base_n, tot = _binned_window_counts(
        stream_df, baseline_hist, value_col, bucket_width, n_buckets, ts_col
    )
    terms = [
        psi_term(F.col(f"_c{i}"), F.lit(base_n[i]), F.col("rows"), F.lit(tot))
        for i in range(n_buckets)
    ]
    return agg.select("win", "rows", F.round(reduce(add, terms), 4).alias("psi"))


def windowed_chi2_stream(
    stream_df: DataFrame,
    baseline_counts: DataFrame,
    cat_col: str,
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming CATEGORICAL drift monitor against a static baseline: per
    event-time window, emit (win, rows, chi2, dof) where chi2 is the
    Pearson statistic of the window's category counts vs
    ``baseline_counts`` (a batch (cat, n) aggregate, e.g. last month's
    validated role distribution) — the streaming lift of
    ``operators/drift.py:chi2_joined``, completing the windowed family
    (PSI covers binned numerics; this covers unordered categories).

    Shape (``_window_counts``): one cell per baseline category plus an
    OTHER cell for categories the baseline has never seen (their appearance
    IS drift — they inflate chi2 through a zero-expectation margin cell
    rather than being dropped). The baseline is |categories| rows collected
    once as plan literals, not a data collect. Cells empty in BOTH margins
    contribute 0 and drop out of dof.
    """
    from ..operators.drift import chi2_cell

    # drop a NULL baseline category (the stream side filters NULLs too, and
    # sorted() cannot order None against str)
    base = {
        r["cat"]: float(r["n"])
        for r in baseline_counts.collect()
        if r["cat"] is not None
    }
    cats = sorted(base)

    c = F.col(cat_col)
    # one cell per baseline category, then the OTHER cell: _c{len(cats)}
    in_cat = [c == F.lit(cat) for cat in cats] + [~c.isin(cats)]
    agg = _window_counts(stream_df, c, in_cat, ts_col)
    tg = F.col("rows").cast("double")
    t = F.lit(float(sum(base.values())))
    cells = [(F.col(f"_c{i}"), F.lit(base[cat])) for i, cat in enumerate(cats)]
    cells.append((F.col(f"_c{len(cats)}"), F.lit(0.0)))
    chi2 = reduce(add, [chi2_cell(n, g, tg, t) for n, g in cells])
    dof_cells = reduce(add, [F.when(n + g > 0, 1).otherwise(0) for n, g in cells])
    return agg.select(
        "win",
        "rows",
        F.round(chi2, 4).alias("chi2"),
        (dof_cells - 1).cast("bigint").alias("dof"),
    )


def windowed_w1_stream(
    stream_df: DataFrame,
    baseline_hist: DataFrame,
    value_col: str,
    bucket_width: float,
    n_buckets: int,
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming Wasserstein-1 drift monitor against a static baseline —
    the spread-sensitive numeric member of the windowed family (PSI reacts
    to per-bucket ratio changes, W1 to how far mass MOVED; chi2 covers
    unordered categories). Same shape as ``windowed_drift_stream``; the
    cumulative counts are running sums over the n_buckets count columns,
    unrolled at plan-build time, so no chained aggregation and append mode
    stays legal.

    W1 = Σ_b ``cdf_gap`` · bucket_width over the full 0..n-1 spine — gap
    buckets count, matching ``operators/drift.py:w1_joined``.
    Returns (win, rows, w1)."""
    from ..operators.drift import cdf_gap

    agg, base_n, tot = _binned_window_counts(
        stream_df, baseline_hist, value_col, bucket_width, n_buckets, ts_col
    )
    cum_win = list(accumulate(F.col(f"_c{i}") for i in range(n_buckets)))
    cum_base = list(accumulate(base_n))
    # the last bucket's CDF gap is always 0 (both CDFs reach 1)
    terms = [
        cdf_gap(cum_win[i], F.lit(cum_base[i]), F.col("rows"), F.lit(tot))
        for i in range(n_buckets - 1)
    ]
    return agg.select(
        "win",
        "rows",
        F.round(reduce(add, terms) * F.lit(float(bucket_width)), 4).alias("w1"),
    )


def windowed_rates_to_sink(
    stream_df: DataFrame, suite: Suite, ts_col: str = "ts"
) -> DataFrame:
    """Stage 1 of the streaming control chart: the watermarked windowed
    violation-rate aggregation flattened to the sink schema
    (win_start, n_rows, n_viol, rate) — write this append-mode to a
    parquet/Kafka sink; ``windowed_rate_anomaly_stream`` consumes that sink
    as its input stream (Spark does not allow a stateful operator after a
    streaming aggregation in one query, so the monitoring loop is the
    standard two-query topology). On a batch frame the watermark is a
    no-op, so the same call builds the batch rate series."""
    return windowed_violation_rate(stream_df, suite, ts_col).select(
        F.col("win.start").alias("win_start"),
        F.col("rows").alias("n_rows"),
        F.col("rows_with_violations").alias("n_viol"),
        F.round(F.col("rows_with_violations") / F.col("rows"), 6).alias("rate"),
    )


def windowed_rate_anomaly_stream(rates_stream: DataFrame) -> DataFrame:
    """STREAMING control-chart anomaly detection — the streaming sibling of
    ``operators/checks.rate_anomaly``, closing the Deequ monitoring loop on
    the live path: each CLOSED event-time window's violation rate is scored
    against the trailing ``RATE_WINDOW`` closed windows' mean ± z·stddev
    (``|z| > _Z_THRESHOLD``), the window itself excluded from its own
    baseline, with the same rounded-before-branching float discipline as
    the batch form (a raw
    stddev of ~1e-17 noise over identical rates must not divide a z).

    Input is the CLOSED-WINDOW rates stream — the sink written by
    ``windowed_rates_to_sink`` read back with ``readStream`` (the two-query
    topology; a stateful operator cannot follow a streaming aggregation in
    one query). A single control-plane key carries the trailing rate deque
    across micro-batches via ``applyInPandasWithState`` — state is
    O(RATE_WINDOW) floats and the operator sees one row per closed window, so
    the stateful stage is KB-scale at any stream rate. Windows inside one
    batch are scored in event-time order; watermark semantics make
    cross-batch closes monotone.

    Returns (win_start, n_rows, n_viol, rate, mean_rate, sd_rate, z,
    anomaly) in append mode; pytest pins the concatenated output equal to
    the batch ``rate_anomaly`` closed form over the same windows."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        ArrayType,
        BooleanType,
        DoubleType,
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    rates = rates_stream.withColumn("_k", F.lit(1))

    out_schema = StructType(
        [
            StructField("win_start", TimestampType()),
            StructField("n_rows", LongType()),
            StructField("n_viol", LongType()),
            StructField("rate", DoubleType()),
            StructField("mean_rate", DoubleType()),
            StructField("sd_rate", DoubleType()),
            StructField("z", DoubleType()),
            StructField("anomaly", BooleanType()),
        ]
    )
    # carried baseline: the last RATE_WINDOW closed-window rates, oldest first
    state_schema = StructType([StructField("rates", ArrayType(DoubleType()))])

    def score(key, pdfs, state: GroupState):
        import pandas as pd

        hist = list(state.get[0]) if state.exists else []
        # a micro-batch may arrive as several Arrow chunks in any order:
        # score the key's rows in one event-time order across all of them
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True).sort_values("win_start")
            out = {
                "win_start": [], "n_rows": [], "n_viol": [], "rate": [],
                "mean_rate": [], "sd_rate": [], "z": [], "anomaly": [],
            }
            for _, row in pdf.iterrows():
                rate = float(row["rate"])
                if hist:
                    # the batch form's AVG / STDDEV_POP accumulate in frame
                    # order, and the published 6-decimal round sits on .5
                    # boundaries often enough that the last ulp matters
                    m, sd = (half_up(v, 6) for v in seq_mean_std(hist))
                    z = half_up((rate - m) / sd, 4) if sd > 0 else None
                    anom = len(hist) >= 3 and (
                        abs(z) > _Z_THRESHOLD if sd > 0 else rate != m
                    )
                else:
                    m = sd = z = None
                    anom = False
                out["win_start"].append(row["win_start"])
                out["n_rows"].append(int(row["n_rows"]))
                out["n_viol"].append(int(row["n_viol"]))
                out["rate"].append(rate)
                out["mean_rate"].append(m)
                out["sd_rate"].append(sd)
                out["z"].append(z)
                out["anomaly"].append(bool(anom))
                hist.append(rate)
                if len(hist) > RATE_WINDOW:
                    hist = hist[-RATE_WINDOW:]
            yield pd.DataFrame(out)
        state.update((hist,))

    return rates.groupBy("_k").applyInPandasWithState(
        score,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
