"""Tests for checkpoint-resume (plans.manifest), the spark-submit job
surface, Structured Streaming validation, and multimodal plumbing."""

import json
import os

import pytest
from pyspark.sql import Row, functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from fsharp_data_validation_spark.operators.transcript_suite import transcript_row_suite
from fsharp_data_validation_spark.plans.manifest import ValidationRun

SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("role", StringType()),
        StructField("text", StringType()),
        StructField("tool", StringType()),
        StructField("part", StringType()),
    ]
)


def _df(spark):
    rows = [
        Row(conv_id="c1", turn_idx=0, role="user", text="hi", tool=None, part="a"),
        Row(conv_id="c1", turn_idx=1, role="robot", text="x", tool=None, part="a"),
        Row(conv_id="c2", turn_idx=0, role="user", text=None, tool=None, part="b"),
        Row(conv_id="c3", turn_idx=0, role="user", text="ok", tool=None, part="c"),
    ]
    return spark.createDataFrame(rows, schema=SCHEMA)


def test_manifest_run_and_resume(spark, tmp_path):
    out = str(tmp_path / "out")
    run = ValidationRun(
        transcript_row_suite(), out, ["conv_id", "turn_idx"], "part", "snap-1"
    )
    # first invocation: process only 2 partitions (simulated interruption)
    outcomes = run.run(_df(spark), max_partitions=2)
    assert [o.partition for o in outcomes] == ["a", "b"]
    assert outcomes[0].status == "fail" and outcomes[0].violations == 1
    assert outcomes[1].status == "fail"
    # resume: only the remaining partition is processed
    run2 = ValidationRun(
        transcript_row_suite(), out, ["conv_id", "turn_idx"], "part", "snap-1"
    )
    outcomes2 = run2.run(_df(spark))
    assert [o.partition for o in outcomes2] == ["c"]
    assert outcomes2[0].status == "pass"
    s = run2.summary()
    assert s["partitions"] == 3 and s["fail"] == 2 and s["pass"] == 1
    # manifest entries carry lineage + metrics
    docs = run2.completed_partitions()
    assert docs["a"]["input_snapshot"] == "snap-1"
    assert docs["a"]["rows_scanned"] == 2
    # violations written per partition with rendered paths
    viol = spark.read.parquet(os.path.join(out, "violations", "part=a"))
    r = viol.collect()[0]
    assert (r["path"], r["code"]) == ("role", "role_enum")
    # idempotent: nothing left to do
    assert ValidationRun(
        transcript_row_suite(), out, ["conv_id", "turn_idx"], "part"
    ).run(_df(spark)) == []


def test_manifest_snapshot_drift(spark, tmp_path):
    from fsharp_data_validation_spark.plans.manifest import (
        SnapshotDriftError,
        parquet_snapshot,
    )

    src = str(tmp_path / "drift_src")
    out = str(tmp_path / "drift_out")
    _df(spark).write.mode("overwrite").parquet(src)

    def mk(**kw):
        return ValidationRun(
            transcript_row_suite(),
            out,
            ["conv_id", "turn_idx"],
            "part",
            input_path=src,
            **kw,
        )

    pin1 = parquet_snapshot(src)
    run = mk()
    assert run.input_snapshot == pin1  # automatic pin, not caller-supplied
    run.run(spark.read.parquet(src))
    docs = run.completed_partitions()
    assert all(d["input_snapshot"] == pin1 for d in docs.values())

    # same input -> same pin -> clean no-op resume
    assert mk().run(spark.read.parquet(src)) == []

    # input drifts under the manifest: rewrite with an extra partition
    drifted = _df(spark).union(
        spark.createDataFrame(
            [Row(conv_id="c9", turn_idx=0, role="user", text="new", tool=None, part="d")],
            schema=SCHEMA,
        )
    )
    drifted.write.mode("overwrite").parquet(src)
    pin2 = parquet_snapshot(src)
    assert pin2 != pin1

    with pytest.raises(SnapshotDriftError) as ei:
        mk().run(spark.read.parquet(src))
    assert set(ei.value.drifted) == {"a", "b", "c"}

    # ignore: only genuinely-new partitions run, stale entries kept
    done = mk(on_drift="ignore").run(spark.read.parquet(src))
    assert [o.partition for o in done] == ["d"]

    # revalidate: drifted entries are redone and re-pinned
    redone = mk(on_drift="revalidate").run(spark.read.parquet(src))
    assert [o.partition for o in redone] == ["a", "b", "c"]
    docs = mk().completed_partitions()
    assert all(d["input_snapshot"] == pin2 for d in docs.values())


def test_streaming_validation(spark, tmp_path):
    from fsharp_data_validation_spark.streaming.validate_stream import (
        run_stream_to_parquet,
    )

    src = str(tmp_path / "src")
    _df(spark).drop("part").write.parquet(src)
    stream = spark.readStream.schema(
        StructType([f for f in SCHEMA.fields if f.name != "part"])
    ).parquet(src)
    assert stream.isStreaming
    q = run_stream_to_parquet(
        stream,
        transcript_row_suite(),
        ["conv_id", "turn_idx"],
        str(tmp_path / "viol"),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    got = {
        (r["conv_id"], r["path"], r["code"])
        for r in spark.read.parquet(str(tmp_path / "viol")).collect()
    }
    assert ("c1", "role", "role_enum") in got
    assert ("c2", "text", "text_required") in got


def test_turn_continuity_stateful_stream(spark, tmp_path):
    """applyInPandasWithState keeps per-conversation max turn_idx across
    micro-batches: a replayed turn in a LATER batch is a turn_regression,
    a skipped index is a turn_gap."""
    import datetime as dt

    from pyspark.sql import Row

    from fsharp_data_validation_spark.streaming.validate_stream import (
        turn_continuity_stream,
    )

    schema = StructType(
        [
            StructField("conv_id", StringType()),
            StructField("turn_idx", IntegerType()),
            StructField("ts", TimestampType()),
        ]
    )
    t0 = dt.datetime(2024, 1, 1)

    def rows(batch):
        return spark.createDataFrame(
            [Row(conv_id=c, turn_idx=i, ts=t0 + dt.timedelta(seconds=s))
             for c, i, s in batch],
            schema=schema,
        )

    src = str(tmp_path / "src")
    # batch 1: c1 turns 0,1 ; c2 turns 0,2 (gap within batch)
    rows([("c1", 0, 0), ("c1", 1, 1), ("c2", 0, 0), ("c2", 2, 2)]).coalesce(
        1
    ).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = turn_continuity_stream(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("continuity")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    # batch 2: c1 replays turn 1 (regression vs state), then jumps to 5 (gap)
    rows([("c1", 1, 10), ("c1", 5, 11)]).coalesce(1).write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()

    got = {
        (r["conv_id"], r["turn_idx"], r["code"])
        for r in spark.sql("SELECT * FROM continuity").collect()
    }
    assert ("c2", 2, "turn_gap") in got  # within-batch gap
    assert ("c1", 1, "turn_regression") in got  # cross-batch replay
    assert ("c1", 5, "turn_gap") in got  # cross-batch gap
    assert ("c1", 0, "turn_gap") not in got and ("c1", 1, "turn_gap") not in got


def test_windowed_violation_rate_plan(spark):
    """Streaming windowed agg with watermark builds and is streaming."""
    from fsharp_data_validation_spark.streaming.validate_stream import (
        windowed_violation_rate,
    )

    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", "5").load()
        .select(
            F.concat(F.lit("c"), (F.col("value") % 3).cast("string")).alias("conv_id"),
            F.col("value").cast("int").alias("turn_idx"),
            F.lit("user").alias("role"),
            F.when(F.col("value") % 5 == 0, None).otherwise(F.lit("t")).alias("text"),
            F.lit(None).cast("string").alias("tool"),
            F.col("timestamp").alias("ts"),
        )
    )
    agg = windowed_violation_rate(stream, transcript_row_suite())
    assert agg.isStreaming
    assert set(agg.columns) == {"win", "rows", "rows_with_violations", "violations"}


def test_multimodal_plumbing(spark):
    from fsharp_data_validation_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        byte_histogram_features,
        decode_image_meta,
        frame_sample,
        make_fake_image_payload,
    )

    rows = [
        Row(
            media_id=i,
            kind="image",
            payload=make_fake_image_payload(64 + i, 32, 3, seed=i),
            meta=Row(source="synthetic", n_bytes=0),
        )
        for i in range(5)
    ]
    df = spark.createDataFrame(rows, schema=MEDIA_SCHEMA)
    meta = {r["media_id"]: r for r in decode_image_meta(df).collect()}
    assert meta[0]["width"] == 64 and meta[4]["width"] == 68
    assert meta[0]["height"] == 32 and meta[0]["channels"] == 3
    feats = {r["media_id"]: r["features"] for r in byte_histogram_features(df).collect()}
    assert len(feats[0]) == 16
    assert abs(sum(feats[0]) - 1.0) < 1e-9
    # deterministic across runs
    feats2 = {r["media_id"]: r["features"] for r in byte_histogram_features(df).collect()}
    assert feats == feats2
    # image payloads are not a RAWV video container: the codec stub now
    # raises lazily, per payload, at execution time
    with pytest.raises(Exception, match="RAWV|NotImplementedError"):
        frame_sample(df).collect()


def test_job_entry_main(spark, tmp_path):
    """Drive jobs/validate.py main() — the spark-submit surface."""
    import sys

    sys.path.insert(0, "/root/repo/jobs")
    import validate as job

    rc = job.main(
        [
            "--events-dir",
            "/root/testdata/sf0.001",
            "--output",
            str(tmp_path / "job_out"),
            "--max-partitions",
            "3",
            "--strict",
        ]
    )
    assert rc == 2  # injected violations -> strict mode fails
    manifest = os.listdir(str(tmp_path / "job_out" / "manifest"))
    assert len(manifest) == 3
    doc = json.load(open(str(tmp_path / "job_out" / "manifest" / manifest[0])))
    assert doc["constraints_evaluated"] == 12


def test_manifest_emit_reports(spark, tmp_path):
    """--emit-reports: per-row reference-wire-format JSON documents written
    alongside violations, partition-pruned and resume-consistent."""
    import json as _json

    out = str(tmp_path / "out_reports")
    run = ValidationRun(
        transcript_row_suite(),
        out,
        ["conv_id", "turn_idx"],
        "part",
        emit_reports=True,
    )
    run.run(_df(spark))
    reps = spark.read.parquet(os.path.join(out, "reports")).collect()
    by_key = {(r["conv_id"], r["turn_idx"]): _json.loads(r["report"]) for r in reps}
    # c1/1: role_enum on field role
    assert by_key[("c1", 1)] == {"failures": [], "fields": {"role": ["role_enum"]}}
    # c2/0: text_required on field text
    assert by_key[("c2", 0)]["fields"] == {"text": ["text_required"]}
    # passing rows emit no report
    assert ("c3", 0) not in by_key and ("c1", 0) not in by_key


def test_py_files_packaging(tmp_path):
    """The --py-files artifact must be importable standalone (no repo on
    sys.path) and drive the job end-to-end via spark-submit from a foreign
    cwd — the cluster submission story."""
    import subprocess
    import sys as _sys

    zip_path = str(tmp_path / "pkg.zip")
    subprocess.run(
        [_sys.executable, "/root/repo/tools/package.py", zip_path],
        check=True,
        capture_output=True,
    )
    # import purely from the zip in a clean interpreter
    probe = subprocess.run(
        [
            _sys.executable,
            "-c",
            "import sys; sys.path.insert(0, sys.argv[1]); "
            "import fsharp_data_validation_spark.functions.compiler as c; "
            "print(hasattr(c.Suite, 'nested'))",
            zip_path,
        ],
        capture_output=True,
        text=True,
        cwd=str(tmp_path),
        env={"PATH": os.environ["PATH"]},
    )
    assert probe.returncode == 0 and probe.stdout.strip() == "True", probe.stderr
    # spark-submit with --py-files from a foreign cwd
    out_dir = str(tmp_path / "out")
    run = subprocess.run(
        [
            "spark-submit",
            "--master",
            "local[4]",
            "--py-files",
            zip_path,
            "/root/repo/jobs/validate.py",
            "--events-dir",
            "/root/testdata/sf0.001",
            "--output",
            out_dir,
            "--max-partitions",
            "2",
        ],
        capture_output=True,
        text=True,
        cwd=str(tmp_path),
        timeout=300,
    )
    assert run.returncode == 0, run.stderr[-2000:]
    assert os.path.isdir(os.path.join(out_dir, "manifest"))
    assert len(os.listdir(os.path.join(out_dir, "manifest"))) == 2


def test_manifest_emit_valid(spark, tmp_path):
    """--emit-valid: the pipeline-gate output — only fully clean rows flow
    onward, per-turn text byte-equal to the input."""
    out = str(tmp_path / "out_valid")
    run = ValidationRun(
        transcript_row_suite(), out, ["conv_id", "turn_idx"], "part",
        emit_valid=True,
    )
    run.run(_df(spark))
    valid = spark.read.parquet(os.path.join(out, "valid"))
    keys = {(r["conv_id"], r["turn_idx"]): r["text"] for r in valid.collect()}
    assert keys == {("c1", 0): "hi", ("c3", 0): "ok"}  # failing rows gated


def test_manifest_date_partition_outputs(spark, tmp_path):
    """A date-typed partition column not named ``part``: every output is
    laid out under ``part=<date>``, only the valid rows keep the input's
    partition column as data, and the manifest records the counts."""
    import datetime as dt

    day = F.when(F.col("part") == "a", F.lit(dt.date(2024, 1, 1))).otherwise(
        F.lit(dt.date(2024, 1, 2))
    )
    df = _df(spark).withColumn("day", day).drop("part")
    out = str(tmp_path / "out_dates")
    run = ValidationRun(
        transcript_row_suite(), out, ["conv_id", "turn_idx"], "day",
        emit_valid=True, emit_reports=True,
    )
    run.run(df, batch_size=2)

    def columns(name):
        return spark.read.parquet(os.path.join(out, name)).columns

    assert columns("violations") == ["conv_id", "turn_idx", "path", "code", "part"]
    assert columns("valid") == ["conv_id", "turn_idx", "role", "text", "tool", "day", "part"]
    assert columns("reports") == ["conv_id", "turn_idx", "report", "part"]
    for name in ("violations", "valid", "reports"):
        assert sorted(
            d for d in os.listdir(os.path.join(out, name)) if not d.startswith((".", "_"))
        ) == ["part=2024-01-01", "part=2024-01-02"]
    assert sorted(os.listdir(os.path.join(out, "manifest"))) == [
        "2024-01-01.json",
        "2024-01-02.json",
    ]
    docs = run.completed_partitions()
    for doc in docs.values():
        assert doc.pop("finished_at") >= doc.pop("started_at")
    assert docs == {
        p: {
            "partition": p,
            "status": "fail",
            "rows_scanned": 2,
            "rows_with_violations": 1,
            "violations": 1,
            "constraints_evaluated": 12,
            "input_snapshot": None,
        }
        for p in ("2024-01-01", "2024-01-02")
    }


def test_stream_dedup_drops_watermark_window_duplicates(spark, tmp_path):
    """Streaming content dedup: duplicate digests arriving within the
    watermark horizon are dropped; state is watermark-evicted (plan shows
    the within-watermark dedup operator, not unbounded dropDuplicates)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )
    from fsharp_data_validation_spark.streaming.validate_stream import stream_dedup
    from datetime import datetime

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("ts", TimestampType()),
        ]
    )
    t0 = datetime(2026, 1, 1, 12, 0, 0)
    rows = [
        (1, "alpha", t0),
        (2, "alpha", t0),   # duplicate content, same window -> dropped
        (3, "beta", t0),
        (4, "beta", t0),
        (5, "gamma", t0),
    ]
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, schema).write.parquet(src)

    stream = spark.readStream.schema(schema).parquet(src)
    deduped = stream_dedup(
        stream.withColumn("digest", F.md5("text")), ["digest"], "ts", "10 minutes"
    )
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("select * from dedup_out").collect()
    texts = sorted(r["text"] for r in out)
    assert texts == ["alpha", "beta", "gamma"]  # one survivor per digest


def test_windowed_drift_stream_matches_batch_psi(spark, tmp_path):
    """Streaming PSI per event-time window: a window drawn from the
    baseline distribution scores ~0; a shifted window scores high; and each
    window's streamed PSI equals the batch psi() over the same slice (the
    conditional-sum histogram is the same closed form)."""
    from datetime import datetime, timedelta

    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        DoubleType,
        StructField,
        StructType,
        TimestampType,
    )

    from fsharp_data_validation_spark.operators.drift import histogram, psi
    from fsharp_data_validation_spark.streaming.validate_stream import (
        windowed_drift_stream,
    )

    schema = StructType(
        [StructField("v", DoubleType()), StructField("ts", TimestampType())]
    )
    t0 = datetime(2026, 1, 1, 12, 0, 0)
    # baseline-like values cycle over buckets 0..3; shifted values over 12..19
    w1 = [(float(i % 4) * 25.0 + 1, t0) for i in range(200)]
    w2 = [(float(12 + i % 8) * 25.0 + 1, t0 + timedelta(minutes=5)) for i in range(200)]
    # sentinel far in the future: advances the watermark so both real
    # windows FINALIZE in append mode (its own window stays open, unemitted)
    sentinel = [(1.0, t0 + timedelta(minutes=30))]
    src = str(tmp_path / "src")
    spark.createDataFrame(w1 + w2 + sentinel, schema).write.parquet(src)

    baseline = histogram(
        spark.createDataFrame(w1, schema), "v", 25.0, 20
    )

    stream = spark.readStream.schema(schema).parquet(src)
    drift = windowed_drift_stream(
        stream, baseline, "v", "ts", "1 minute", "2 minutes", 25.0, 20
    )
    q = (
        drift.writeStream.format("memory")
        .queryName("drift_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = sorted(
        spark.sql("select * from drift_out").collect(), key=lambda r: r["win"]["start"]
    )
    assert [r["rows"] for r in out] == [200, 200]
    assert out[0]["psi"] < 0.05          # same distribution as baseline
    assert out[1]["psi"] > 1.0           # fully shifted distribution

    # cross-check each window against the batch closed form
    for rows, got in ((w1, out[0]["psi"]), (w2, out[1]["psi"])):
        want = psi(
            histogram(spark.createDataFrame(rows, schema), "v", 25.0, 20), baseline
        ).collect()[0]["psi"]
        assert abs(got - want) <= 1e-3, (got, want)


def test_job_schema_gate(spark, tmp_path):
    """--schema enforce fails fast (exit 3) on the derived table's real
    drift (nullable conv_id, TIMESTAMP_NTZ ts); the default conform gate
    coerces ts to the contract type and the run proceeds."""
    import sys

    sys.path.insert(0, "/root/repo/jobs")
    import validate as job

    rc = job.main(
        [
            "--events-dir", "/root/testdata/sf0.001",
            "--output", str(tmp_path / "enforce_out"),
            "--schema", "enforce",
        ]
    )
    assert rc == 3
    assert not os.path.exists(str(tmp_path / "enforce_out" / "manifest"))

    rc = job.main(
        [
            "--events-dir", "/root/testdata/sf0.001",
            "--output", str(tmp_path / "conform_out"),
            "--max-partitions", "2",
        ]
    )
    assert rc == 0
    # conformed input: violations parquet ts column carries the contract type
    viol = spark.read.parquet(str(tmp_path / "conform_out" / "violations"))
    assert viol.schema["ts"].dataType.simpleString() == "timestamp"


def test_frame_sample_rawv_extraction(spark):
    """RAWV frame sampling: sampled frames are byte-identical to the source
    slices, cadence is every_n with frame 0 always included, NULL payloads
    yield nothing, and compressed/unknown containers raise (stubbed codec)."""
    from pyspark.sql.types import BinaryType, LongType

    from fsharp_data_validation_spark.operators.multimodal import (
        frame_sample,
        make_fake_video_payload,
    )

    p1 = make_fake_video_payload(7, 8, 6, seed=1)   # 7 frames of 48 bytes
    p2 = make_fake_video_payload(1, 4, 4, seed=2)
    schema = StructType(
        [StructField("media_id", LongType()), StructField("payload", BinaryType())]
    )
    df = spark.createDataFrame([(1, p1), (2, p2), (3, None)], schema)
    out = {(r["media_id"], r["frame_idx"]): r for r in frame_sample(df, 3).collect()}
    assert sorted(out) == [(1, 0), (1, 3), (1, 6), (2, 0)]
    body = p1[8:]
    assert bytes(out[(1, 3)]["frame"]) == body[3 * 48 : 4 * 48]
    assert (out[(1, 0)]["width"], out[(1, 0)]["height"]) == (8, 6)

    bad = spark.createDataFrame([(9, b"\x00\x00\x01\xb3fakempeg????")], schema)
    with pytest.raises(Exception, match="NotImplementedError|RAWV"):
        frame_sample(bad, 3).collect()


def test_partition_pinned_drift_revalidates_exactly(spark, tmp_path):
    """Per-partition input pins (hive layout): rewriting ONE partition
    drifts exactly that partition — revalidate redoes it alone, not the
    whole table (the Iceberg per-partition-manifest analogue)."""
    from fsharp_data_validation_spark.plans.manifest import (
        SnapshotDriftError,
        partition_snapshots,
    )

    src = str(tmp_path / "ppin_src")
    out = str(tmp_path / "ppin_out")
    _df(spark).write.mode("overwrite").partitionBy("part").parquet(src)

    def mk(**kw):
        return ValidationRun(
            transcript_row_suite(),
            out,
            ["conv_id", "turn_idx"],
            "part",
            input_path=src,
            **kw,
        )

    pins1 = partition_snapshots(src, "part")
    assert set(pins1) == {"a", "b", "c"}
    run = mk()
    assert run.partition_snapshots == pins1
    run.run(spark.read.parquet(src))
    docs = run.completed_partitions()
    # each entry pinned to ITS partition's own snapshot
    assert {p: d["input_snapshot"] for p, d in docs.items()} == pins1
    assert mk().run(spark.read.parquet(src)) == []  # clean no-op resume

    # rewrite ONLY partition b (same logical content, new files; materialize
    # first — overwriting a path being lazily read deletes its own input)
    b_path = os.path.join(src, "part=b")
    b_df = spark.read.parquet(b_path)
    b_rows, b_schema = b_df.collect(), b_df.schema
    spark.createDataFrame(b_rows, schema=b_schema).write.mode(
        "overwrite"
    ).parquet(b_path)
    pins2 = partition_snapshots(src, "part")
    assert pins2["b"] != pins1["b"]
    assert pins2["a"] == pins1["a"] and pins2["c"] == pins1["c"]

    # error policy names exactly the drifted partition
    with pytest.raises(SnapshotDriftError) as ei:
        mk().run(spark.read.parquet(src))
    assert ei.value.drifted == ["b"]

    # revalidate redoes EXACTLY the drifted partition and re-pins it
    redone = mk(on_drift="revalidate").run(spark.read.parquet(src))
    assert [o.partition for o in redone] == ["b"]
    docs = mk().completed_partitions()
    assert {p: d["input_snapshot"] for p, d in docs.items()} == pins2
    # untouched partitions kept their original manifest timestamps/pins
    assert docs["a"]["input_snapshot"] == pins1["a"]


def test_write_bucketed_records_snapshot(spark, tmp_path):
    """The write path records the snapshot it produced (_snapshot.json,
    invisible to readers and excluded from the pin); a rewrite changes it,
    closing the produce->pin->drift loop end-to-end."""
    import json as jsonlib

    from fsharp_data_validation_spark.plans.manifest import parquet_snapshot
    from fsharp_data_validation_spark.sources.transcripts import write_bucketed

    loc = str(tmp_path / "bt")
    df = _df(spark).select("conv_id", "turn_idx", "text")
    name, snap = write_bucketed(df, "t_snap", "conv_id", 4, path=loc)
    assert name == "t_snap" and snap == parquet_snapshot(loc)
    doc = jsonlib.load(open(os.path.join(loc, "_snapshot.json")))
    assert doc["snapshot"] == snap and doc["table"] == "t_snap"
    # reading back ignores the sidecar; rewrite produces a NEW snapshot
    assert spark.table("t_snap").count() == df.count()
    spark.sql("DROP TABLE t_snap")
    _, snap2 = write_bucketed(df, "t_snap", "conv_id", 4, path=loc)
    assert snap2 != snap
    spark.sql("DROP TABLE t_snap")


def test_windowed_chi2_stream_matches_batch(spark, tmp_path):
    """Streaming categorical chi2 per event-time window: a window with the
    baseline's category mix scores ~0; a skewed window (plus a category
    the baseline never saw) scores high; each window's streamed statistic
    equals the batch chi2_joined over the same cells."""
    from datetime import datetime, timedelta

    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType, StructField, StructType, TimestampType

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
    w2 = [("assistant", t0 + timedelta(minutes=5)) for _ in range(100)] + [
        ("robot", t0 + timedelta(minutes=5)) for _ in range(20)  # unseen cat
    ]
    sentinel = [("user", t0 + timedelta(minutes=30))]
    src = str(tmp_path / "src")
    spark.createDataFrame(w1 + w2 + sentinel, schema).write.parquet(src)

    baseline = (
        spark.createDataFrame(w1, schema)
        .groupBy(F.col("role").alias("cat"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    stream = spark.readStream.schema(schema).parquet(src)
    out_stream = windowed_chi2_stream(
        stream, baseline, "role", "ts", "1 minute", "2 minutes", round_to=6
    )
    q = (
        out_stream.writeStream.format("memory")
        .queryName("chi2_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = sorted(
        spark.sql("select * from chi2_out").collect(), key=lambda r: r["win"]["start"]
    )
    assert [r["rows"] for r in out] == [120, 120]
    assert out[0]["chi2"] < 1e-6 and out[0]["dof"] == 2  # identical mix
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
        want = chi2_joined(counts, round_to=6).collect()[0]
        assert abs(got["chi2"] - want["chi2"]) <= 1e-3, (got["chi2"], want["chi2"])
        assert got["dof"] == want["dof"]


def test_job_profile_flag(spark, tmp_path):
    """--profile writes profile.json with the check suite, FD profile,
    moments rollup, suggested constraints, and daily violation-rate
    anomalies alongside the validation outputs; report-only (exit 0)."""
    import json as _json
    import sys

    sys.path.insert(0, "/root/repo/jobs")
    import validate as job

    out = str(tmp_path / "run")
    rc = job.main(
        [
            "--events-dir",
            "/root/testdata/sf0.001",
            "--output",
            out,
            "--profile",
        ]
    )
    assert rc == 0
    prof = _json.load(open(out + "/profile.json"))
    names = {c["check_name"]: c["status"] for c in prof["checks"]}
    assert set(names) == {"text_completeness", "role_compliance", "key_uniqueness"}
    # the derived test table has injected duplicate keys -> uniqueness fails
    assert names["key_uniqueness"] == "fail"
    fds = {r["fd"]: r for r in prof["fd_violations"]}
    assert fds["conv_id,turn_idx->role"]["violating_keys"] > 0
    m = prof["text_len_moments"][0]
    assert m["n_values"] > 0 and m["var_pop"] > 0
    # discovery companion: the derived table's role column is low-cardinality
    # (4 valid roles + injected 'robot') -> a domain suggestion must appear,
    # and text has injected NULLs -> completeness (not not_null)
    sugg = {(r["column"], r["kind"]) for r in prof["suggested_constraints"]}
    assert ("role", "domain") in sugg and ("role", "not_null") in sugg
    assert ("text", "completeness") in sugg and ("text", "not_null") not in sugg
    # monitoring companion: only flagged days are written, each a full
    # control-chart row (at sf0.001 the ~35-row days are noisy enough that
    # genuine z-threshold crossings can and do appear — don't pin the count)
    for a in prof["rate_anomalies"]:
        assert a["anomaly"] is True
        assert {"day", "n_rows", "n_viol", "rate", "mean_rate", "sd_rate"} <= set(a)


def test_diff_runs_statuses(spark, tmp_path):
    """Run-over-run regression diff classifies every (path, code) cell:
    new / resolved / increased / decreased / stable."""
    from fsharp_data_validation_spark.plans.manifest import diff_runs

    prev = [("text", "required", 5), ("role", "enum", 3), ("ts", "gap", 2)]
    cur = [("text", "required", 5), ("role", "enum", 7), ("tool", "ref", 4)]

    def write(rows, d):
        recs = [
            ("c%d" % i, i, p, c)
            for p, c, n in rows
            for i in range(n)
        ]
        spark.createDataFrame(
            recs, "conv_id string, turn_idx int, path string, code string"
        ).write.parquet(str(d) + "/violations")

    write(prev, tmp_path / "prev")
    write(cur, tmp_path / "cur")
    got = {
        (r["path"], r["code"]): (r["prev_n"], r["cur_n"], r["delta"], r["status"])
        for r in diff_runs(spark, str(tmp_path / "prev"), str(tmp_path / "cur")).collect()
    }
    assert got[("text", "required")] == (5, 5, 0, "stable")
    assert got[("role", "enum")] == (3, 7, 4, "increased")
    assert got[("ts", "gap")] == (2, 0, -2, "resolved")
    assert got[("tool", "ref")] == (0, 4, 4, "new")


def test_windowed_w1_stream_matches_batch(spark, tmp_path):
    """Streaming W1 per event-time window equals the batch w1() closed form
    over the same slice; a baseline-like window scores ~0, a shifted window
    pays the moved-mass distance."""
    from datetime import datetime, timedelta

    from pyspark.sql.types import (
        DoubleType,
        StructField,
        StructType,
        TimestampType,
    )

    from fsharp_data_validation_spark.operators.drift import histogram, w1
    from fsharp_data_validation_spark.streaming.validate_stream import (
        windowed_w1_stream,
    )

    schema = StructType(
        [StructField("v", DoubleType()), StructField("ts", TimestampType())]
    )
    t0 = datetime(2026, 1, 1, 12, 0, 0)
    w1rows = [(float(i % 4) * 25.0 + 1, t0) for i in range(200)]
    w2rows = [
        (float(12 + i % 8) * 25.0 + 1, t0 + timedelta(minutes=5)) for i in range(200)
    ]
    sentinel = [(1.0, t0 + timedelta(minutes=30))]
    src = str(tmp_path / "src")
    spark.createDataFrame(w1rows + w2rows + sentinel, schema).write.parquet(src)

    baseline = histogram(spark.createDataFrame(w1rows, schema), "v", 25.0, 20)
    stream = spark.readStream.schema(schema).parquet(src)
    out_stream = windowed_w1_stream(
        stream, baseline, "v", "ts", "1 minute", "2 minutes", 25.0, 20, round_to=6
    )
    q = (
        out_stream.writeStream.format("memory")
        .queryName("w1_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = sorted(
        spark.sql("select * from w1_out").collect(), key=lambda r: r["win"]["start"]
    )
    assert [r["rows"] for r in out] == [200, 200]
    assert out[0]["w1"] < 1e-6  # same distribution as baseline
    assert out[1]["w1"] > 100  # mass moved ~12 buckets x 25 width

    for rows, got in ((w1rows, out[0]["w1"]), (w2rows, out[1]["w1"])):
        want = w1(
            histogram(spark.createDataFrame(rows, schema), "v", 25.0, 20),
            baseline,
            n_buckets=20,
            bucket_width=25.0,
            round_to=6,
        ).collect()[0]["w1"]
        assert abs(got - want) <= 1e-3, (got, want)


def test_windowed_rate_anomaly_stream_matches_batch(spark, tmp_path):
    """Streaming control chart (two-query topology): the stateful stage's
    concatenated append output over genuine multi-batch input equals the
    batch rate_anomaly closed form on the same windows — baseline carry
    across micro-batches, spike flagged with z NULL off a constant
    baseline, self-exclusion intact. Also smoke-runs stage 1
    (windowed_rates_to_sink) end-to-end."""
    _rate_anomaly_stream_matches_batch(spark, tmp_path, max_records=None)


def test_windowed_rate_anomaly_stream_matches_batch_multi_chunk(spark, tmp_path):
    """Same pin with each micro-batch delivered to the stateful kernel as
    several Arrow chunks: the kernel must score the key's rows in one
    event-time order across chunks, not chunk by chunk."""
    _rate_anomaly_stream_matches_batch(spark, tmp_path, max_records=2)


def _rate_anomaly_stream_matches_batch(spark, tmp_path, max_records):
    from datetime import datetime, timedelta

    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        DoubleType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from fsharp_data_validation_spark.operators.checks import rate_anomaly
    from fsharp_data_validation_spark.operators.transcript_suite import (
        transcript_row_suite,
    )
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
    for w in range(10):
        k = 8 if w == 8 else 2  # constant 0.2 rate, spike at window 8
        for i in range(10):
            rows.append(
                (
                    "c1",
                    w * 10 + i,
                    "robot" if i < k else "user",
                    "hello",
                    None,
                    t0 + timedelta(minutes=w, seconds=3 * i),
                )
            )
    sentinel = [("c1", 999, "user", "hello", None, t0 + timedelta(minutes=60))]

    # stage 1 smoke: turns stream -> closed-window rates
    src = str(tmp_path / "src")
    spark.createDataFrame(rows + sentinel, schema).write.parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    rates_q = (
        windowed_rates_to_sink(stream, transcript_row_suite())
        .writeStream.format("memory")
        .queryName("rates_out")
        .option("checkpointLocation", str(tmp_path / "ck1"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    rates_q.awaitTermination(120)
    rates = sorted(
        spark.sql("select * from rates_out").collect(), key=lambda r: r["win_start"]
    )
    assert len(rates) == 10 and all(r["n_rows"] == 10 for r in rates)
    assert rates[8]["rate"] == 0.8 and rates[0]["rate"] == 0.2

    if max_records is None:
        # stage 2 input: one parquet file per window so maxFilesPerTrigger=2
        # makes five genuine micro-batches (state must carry across them)
        parts, per_trigger = [[r] for r in rates], 2
    else:
        # two files of five windows each, newest first, one per micro-batch:
        # small Arrow chunks then reach the kernel out of event-time order
        parts, per_trigger = [rates[4::-1], rates[:4:-1]], 1
    rdir = str(tmp_path / "rates")
    rschema = StructType(
        [
            StructField("win_start", TimestampType()),
            StructField("n_rows", LongType()),
            StructField("n_viol", LongType()),
            StructField("rate", DoubleType()),
        ]
    )
    for part in parts:
        spark.createDataFrame(
            [(r["win_start"], r["n_rows"], r["n_viol"], r["rate"]) for r in part],
            rschema,
        ).coalesce(1).write.mode("append").parquet(rdir)

    rstream = (
        spark.readStream.schema(rschema)
        .option("maxFilesPerTrigger", per_trigger)
        .parquet(rdir)
    )
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf, "10000")
    try:
        if max_records is not None:
            spark.conf.set(conf, str(max_records))
        q = (
            windowed_rate_anomaly_stream(rstream, baseline=7, z_threshold=3.0)
            .writeStream.format("memory")
            .queryName("ra_out")
            .option("checkpointLocation", str(tmp_path / "ck2"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    finally:
        spark.conf.set(conf, old)
    got = {
        r["win_start"]: r
        for r in spark.sql("select * from ra_out").collect()
    }
    assert len(got) == 10

    # batch closed form over the same windows (date_trunc minute == the
    # 1-minute event-time windows; sentinel excluded — its window never closed)
    batch_df = spark.createDataFrame(rows, schema)
    anyf = transcript_row_suite().any_failure_column()
    want = {
        r["day"]: r
        for r in rate_anomaly(
            batch_df, F.date_trunc("minute", F.col("ts")), anyf, window=7
        ).collect()
    }
    assert set(got) == set(want)
    for ws, g in got.items():
        w = want[ws]
        for c in ("n_rows", "n_viol", "rate", "mean_rate", "sd_rate", "z", "anomaly"):
            assert g[c] == w[c], (ws, c, g[c], w[c])

    # the spike is flagged exactly as in the batch pin: constant baseline,
    # sd 0, z NULL
    spike = got[t0 + timedelta(minutes=8)]
    assert spike["anomaly"] is True and spike["z"] is None


def test_stream_parts_mtime_order_is_series_order(spark, tmp_path):
    """stream_rate_anomaly's source files: a file stream orders new files
    by modification time, so the written (mtime, name) order must be the
    series order — one file per part, named 000/001, strictly increasing
    mtimes (files written within one timestamp tick would otherwise tie)."""
    from datetime import datetime, timedelta

    import __spark_entry__ as e

    t0 = datetime(2026, 1, 1)
    series = [(t0 + timedelta(days=d), 100 + d, d, d / 100.0) for d in range(7)]
    sch = "win_start timestamp, n_rows bigint, n_viol bigint, rate double"
    src = str(tmp_path / "src")
    os.makedirs(src)
    e._write_stream_parts(spark, [series[:3], series[3:]], sch, src)

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
