"""Tests for the streaming surface (streaming/validate_stream.py): every
"stream equals batch" pin drives its monitor through ONE harness,
``run_available_now(parts, monitor)`` — one source file and one micro-batch
per part, a memory sink, a temp dir the harness owns — and compares the
returned table with the batch closed form. ``test_streaming_validation``
(the foreachBatch parquet writer) stays in test_plans_and_streaming.py
beside the manifest fixtures it uses."""

import os
import tempfile
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from fsharp_data_validation_spark.operators.transcript_suite import transcript_row_suite
from fsharp_data_validation_spark.streaming import validate_stream as vs
from fsharp_data_validation_spark.streaming.validate_stream import (
    _write_series,
    run_available_now,
)


def w1(hist_a, hist_b, n_buckets, bucket_width):
    """Wasserstein-1 distance between two separate histograms."""
    from fsharp_data_validation_spark.operators.drift import _joined_hist, w1_joined

    return w1_joined(_joined_hist(hist_a, hist_b), n_buckets, bucket_width)


def test_run_available_now_cleans_up(spark, tmp_path, monkeypatch):
    """The harness owns its temp dir: a finished run returns every row and
    leaves nothing behind; a run that outlives the timeout is stopped,
    raises TimeoutError, and also leaves nothing behind."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    parts = [spark.range(0, 3), spark.range(3, 5)]

    out = run_available_now(parts, lambda s: s)
    assert sorted(r["id"] for r in out.collect()) == [0, 1, 2, 3, 4]
    assert os.listdir(tmp_path) == []

    monkeypatch.setattr(vs, "_TIMEOUT_S", 0)
    with pytest.raises(TimeoutError):
        run_available_now(parts, lambda s: s)
    assert spark.streams.active == []
    assert os.listdir(tmp_path) == []


def test_windowed_violation_rate_plan(spark):
    """Streaming windowed agg with watermark builds, is streaming, and
    runs to its declared columns."""
    from fsharp_data_validation_spark.streaming.validate_stream import (
        windowed_violation_rate,
    )

    t0 = datetime(2026, 1, 1, 12, 0, 0)
    turns = spark.createDataFrame(
        [
            (f"c{i % 3}", i, "user", None if i % 5 == 0 else "t", None,
             t0 + timedelta(seconds=i))
            for i in range(10)
        ],
        "conv_id string, turn_idx int, role string, text string, tool string, "
        "ts timestamp",
    )

    def monitor(stream):
        agg = windowed_violation_rate(stream, transcript_row_suite())
        assert agg.isStreaming
        return agg

    agg = run_available_now([turns], monitor)
    assert set(agg.columns) == {"win", "rows", "rows_with_violations", "violations"}


def _drift_rows():
    """(schema, w1, w2, sentinel) of the numeric drift pins: baseline-like
    values cycle over buckets 0..3 at t0, shifted values over 12..19 at
    t0 + 1 day, one daily window each; the sentinel far in the future
    advances the watermark so both real windows FINALIZE in append mode (its
    own window stays open, unemitted)."""
    schema = StructType(
        [StructField("v", DoubleType()), StructField("ts", TimestampType())]
    )
    t0 = datetime(2026, 1, 1, 12, 0, 0)
    w1 = [(float(i % 4) * 25.0 + 1, t0) for i in range(200)]
    w2 = [(float(12 + i % 8) * 25.0 + 1, t0 + timedelta(days=1)) for i in range(200)]
    sentinel = [(1.0, t0 + timedelta(days=30))]
    return schema, w1, w2, sentinel


def test_windowed_drift_stream_matches_batch_psi(spark):
    """Streaming PSI per event-time window: a window drawn from the
    baseline distribution scores ~0; a shifted window scores high; and each
    window's streamed PSI equals the batch psi() over the same slice (the
    conditional-sum histogram is the same closed form)."""
    from fsharp_data_validation_spark.operators.drift import histogram, psi
    from fsharp_data_validation_spark.streaming.validate_stream import (
        windowed_drift_stream,
    )

    schema, w1, w2, sentinel = _drift_rows()
    baseline = histogram(
        spark.createDataFrame(w1, schema), "v", 25.0, 20
    )

    drift = run_available_now(
        [spark.createDataFrame(p, schema) for p in (w1, w2, sentinel)],
        lambda s: windowed_drift_stream(s, baseline, "v", 25.0, 20),
    )
    out = sorted(drift.collect(), key=lambda r: r["win"]["start"])
    assert [r["rows"] for r in out] == [200, 200]
    assert out[0]["psi"] < 0.05          # same distribution as baseline
    assert out[1]["psi"] > 1.0           # fully shifted distribution

    # cross-check each window against the batch closed form
    for rows, got in ((w1, out[0]["psi"]), (w2, out[1]["psi"])):
        want = psi(
            histogram(spark.createDataFrame(rows, schema), "v", 25.0, 20), baseline
        ).collect()[0]["psi"]
        assert abs(got - want) <= 1e-3, (got, want)


def test_windowed_chi2_stream_matches_batch(spark):
    """Streaming categorical chi2 per event-time window: a window with the
    baseline's category mix scores ~0; a skewed window (plus a category
    the baseline never saw) scores high; each window's streamed statistic
    equals the batch chi2_joined over the same cells."""
    from fsharp_data_validation_spark.operators.drift import chi2_joined
    from fsharp_data_validation_spark.streaming.validate_stream import (
        windowed_chi2_stream,
    )

    schema = StructType(
        [StructField("role", StringType()), StructField("ts", TimestampType())]
    )
    t0 = datetime(2026, 1, 1, 12, 0, 0)
    mix = ["user"] * 3 + ["assistant"] * 2 + ["tool"]
    w1 = [(mix[i % 6], t0) for i in range(120)]  # baseline-like
    w2 = [("assistant", t0 + timedelta(days=1)) for _ in range(100)] + [
        ("robot", t0 + timedelta(days=1)) for _ in range(20)  # unseen cat
    ]
    sentinel = [("user", t0 + timedelta(days=30))]

    baseline = (
        spark.createDataFrame(w1, schema)
        .groupBy(F.col("role").alias("cat"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out_stream = run_available_now(
        [spark.createDataFrame(p, schema) for p in (w1, w2, sentinel)],
        lambda s: windowed_chi2_stream(s, baseline, "role"),
    )
    out = sorted(out_stream.collect(), key=lambda r: r["win"]["start"])
    assert [r["rows"] for r in out] == [120, 120]
    assert out[0]["chi2"] == 0.0 and out[0]["dof"] == 2  # identical mix
    assert out[1]["chi2"] > 50 and out[1]["dof"] == 3  # skew + unseen cat

    # cross-check each window against the batch closed form over the same
    # cells (baseline categories + the OTHER cell when present)
    base_n = {r["cat"]: r["n"] for r in baseline.collect()}
    for rows, got in ((w1, out[0]), (w2, out[1])):
        win_n = {}
        for cat, _ in rows:
            key = cat if cat in base_n else "__other__"
            win_n[key] = win_n.get(key, 0) + 1
        cells = [
            (c, win_n.get(c, 0), base_n.get(c, 0))
            for c in sorted(set(base_n) | set(win_n))
        ]
        counts = spark.createDataFrame(cells, "cat string, na long, nb long")
        want = chi2_joined(counts).collect()[0]
        assert abs(got["chi2"] - want["chi2"]) <= 1e-3, (got["chi2"], want["chi2"])
        assert got["dof"] == want["dof"]


def test_windowed_w1_stream_matches_batch(spark):
    """Streaming W1 per event-time window equals the batch w1() closed form
    over the same slice; a baseline-like window scores ~0, a shifted window
    pays the moved-mass distance."""
    from fsharp_data_validation_spark.operators.drift import histogram
    from fsharp_data_validation_spark.streaming.validate_stream import (
        windowed_w1_stream,
    )

    schema, w1rows, w2rows, sentinel = _drift_rows()
    baseline = histogram(spark.createDataFrame(w1rows, schema), "v", 25.0, 20)
    out_stream = run_available_now(
        [spark.createDataFrame(p, schema) for p in (w1rows, w2rows, sentinel)],
        lambda s: windowed_w1_stream(s, baseline, "v", 25.0, 20),
    )
    out = sorted(out_stream.collect(), key=lambda r: r["win"]["start"])
    assert [r["rows"] for r in out] == [200, 200]
    assert out[0]["w1"] == 0.0  # same distribution as baseline
    assert out[1]["w1"] > 100  # mass moved ~12 buckets x 25 width

    for rows, got in ((w1rows, out[0]["w1"]), (w2rows, out[1]["w1"])):
        want = w1(
            histogram(spark.createDataFrame(rows, schema), "v", 25.0, 20),
            baseline,
            n_buckets=20,
            bucket_width=25.0,
        ).collect()[0]["w1"]
        assert abs(got - want) <= 1e-3, (got, want)


def test_windowed_rate_anomaly_stream_matches_batch(spark):
    """Streaming control chart (two-query topology): the stateful stage's
    concatenated append output over genuine multi-batch input equals the
    batch rate_anomaly closed form on the same windows — baseline carry
    across micro-batches, spike flagged with z NULL off a constant
    baseline, self-exclusion intact. Also smoke-runs stage 1
    (windowed_rates_to_sink) end-to-end."""
    _rate_anomaly_stream_matches_batch(spark, max_records=None)


def test_windowed_rate_anomaly_stream_matches_batch_multi_chunk(spark):
    """Same pin with each micro-batch delivered to the stateful kernel as
    several Arrow chunks: the kernel must score the key's rows in one
    event-time order across chunks, not chunk by chunk."""
    _rate_anomaly_stream_matches_batch(spark, max_records=2)


def _rate_anomaly_stream_matches_batch(spark, max_records):
    from fsharp_data_validation_spark.operators.checks import rate_anomaly
    from fsharp_data_validation_spark.streaming.validate_stream import (
        windowed_rate_anomaly_stream,
        windowed_rates_to_sink,
    )

    schema = StructType(
        [
            StructField("conv_id", StringType()),
            StructField("turn_idx", IntegerType()),
            StructField("role", StringType()),
            StructField("text", StringType()),
            StructField("tool", StringType()),
            StructField("ts", TimestampType()),
        ]
    )
    t0 = datetime(2026, 1, 1, 12, 0, 0)
    rows = []
    for w in range(10):  # one daily window each
        k = 8 if w == 8 else 2  # constant 0.2 rate, spike at window 8
        for i in range(10):
            rows.append(
                (
                    "c1",
                    w * 10 + i,
                    "robot" if i < k else "user",
                    "hello",
                    None,
                    t0 + timedelta(days=w, seconds=3 * i),
                )
            )
    sentinel = [("c1", 999, "user", "hello", None, t0 + timedelta(days=60))]

    # stage 1 smoke: turns stream -> closed-window rates
    rates = sorted(
        run_available_now(
            [spark.createDataFrame(rows + sentinel, schema)],
            lambda s: windowed_rates_to_sink(s, transcript_row_suite()),
        ).collect(),
        key=lambda r: r["win_start"],
    )
    assert len(rates) == 10 and all(r["n_rows"] == 10 for r in rates)
    assert rates[8]["rate"] == 0.8 and rates[0]["rate"] == 0.2

    if max_records is None:
        # stage 2 input: five parts of two windows each -> five genuine
        # micro-batches (state must carry across them)
        parts = [rates[i : i + 2] for i in range(0, 10, 2)]
    else:
        # two parts of five windows each, newest first, one per micro-batch:
        # small Arrow chunks then reach the kernel out of event-time order
        parts = [rates[4::-1], rates[:4:-1]]
    rschema = StructType(
        [
            StructField("win_start", TimestampType()),
            StructField("n_rows", LongType()),
            StructField("n_viol", LongType()),
            StructField("rate", DoubleType()),
        ]
    )
    parts = [spark.createDataFrame(part, rschema) for part in parts]

    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf, "10000")
    try:
        if max_records is not None:
            spark.conf.set(conf, str(max_records))
        ra = run_available_now(parts, windowed_rate_anomaly_stream)
    finally:
        spark.conf.set(conf, old)
    got = {r["win_start"]: r for r in ra.collect()}
    assert len(got) == 10

    # batch closed form over the same windows (date_trunc day == the daily
    # event-time windows in the UTC session; sentinel excluded — its window
    # never closed), at the streaming monitor's threshold
    batch_df = spark.createDataFrame(rows, schema)
    anyf = transcript_row_suite().any_failure_column()
    want = {
        r["day"]: r
        for r in rate_anomaly(
            batch_df, F.date_trunc("day", F.col("ts")), anyf, vs._Z_THRESHOLD
        ).collect()
    }
    assert set(got) == set(want)
    for ws, g in got.items():
        w = want[ws]
        for c in ("n_rows", "n_viol", "rate", "mean_rate", "sd_rate", "z", "anomaly"):
            assert g[c] == w[c], (ws, c, g[c], w[c])

    # the spike is flagged exactly as in the batch pin: constant baseline,
    # sd 0, z NULL
    spike = got[sorted(got)[8]]
    assert spike["anomaly"] is True and spike["z"] is None


def test_stream_parts_mtime_order_is_series_order(spark, tmp_path):
    """run_available_now's source files: a file stream orders new files
    by modification time, so the written (mtime, name) order must be the
    series order — one file per part, named 000/001, strictly increasing
    mtimes (files written within one timestamp tick would otherwise tie)."""
    t0 = datetime(2026, 1, 1)
    series = [(t0 + timedelta(days=d), 100 + d, d, d / 100.0) for d in range(7)]
    sch = "win_start timestamp, n_rows bigint, n_viol bigint, rate double"
    src = str(tmp_path / "src")
    os.makedirs(src)
    _write_series(
        [spark.createDataFrame(p, sch) for p in (series[:3], series[3:])], src
    )

    files = sorted(
        (os.stat(os.path.join(src, f)).st_mtime, f) for f in os.listdir(src)
    )
    assert [f for _, f in files] == ["000.parquet", "001.parquet"]
    assert files[0][0] < files[1][0]
    got = [
        tuple(r)
        for _, f in files
        for r in spark.read.schema(sch).parquet(os.path.join(src, f)).collect()
    ]
    assert got == series


def test_stream_suite_equals_batch_row_suite(spark):
    """The streaming stateless-suite path (run_available_now: 4 parts ->
    4 genuine micro-batches -> memory sink) must produce EXACTLY the batch
    row_suite violations — same rows, same camelCase-dotted paths — which
    is why driver query `stream_suite` shares row_suite's DuckDB oracle."""
    import __spark_entry__ as e

    sf = "/root/testdata/sf0.001"
    batch = {tuple(r) for r in e.q_row_suite(spark, sf).collect()}
    streamed = [tuple(r) for r in e.q_stream_suite(spark, sf).collect()]
    assert len(streamed) == len(batch) > 0  # no duplicated micro-batch rows
    assert set(streamed) == batch
