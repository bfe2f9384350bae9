"""Tests for checkpoint-resume (plans.manifest, legacy-pin grace
included), the spark-submit job surface, the foreachBatch parquet writer of
the streaming surface (it shares this file's manifest fixtures
``_df``/``SCHEMA``), and multimodal plumbing. The "stream equals batch"
pins live in test_streaming.py."""

import json
import os

import numpy as np
import pytest
from pyspark.sql import Row, functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from fsharp_data_validation_spark.operators.multimodal import RAWV_MAGIC
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


def _revalidate_rewritten(spark, tmp_path, part, row, **kw):
    """Run over ``_df`` laid out by ``part``, rewrite that one partition to
    hold only ``row``, revalidate; returns (out dir, manifest entries)."""
    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    _df(spark).write.partitionBy("part").parquet(src)

    def run(**more):
        ValidationRun(
            transcript_row_suite(), out, ["conv_id", "turn_idx"], "part",
            input_path=src, **kw, **more,
        ).run(spark.read.parquet(src))

    run()
    no_part = StructType([f for f in SCHEMA.fields if f.name != "part"])
    spark.createDataFrame([row], schema=no_part).write.mode("overwrite").parquet(
        os.path.join(src, f"part={part}")
    )
    run(on_drift="revalidate")
    docs = ValidationRun(
        transcript_row_suite(), out, ["conv_id", "turn_idx"], "part"
    ).completed_partitions()
    return out, docs


def test_revalidated_clean_partition_drops_stale_violations(spark, tmp_path):
    """Partition b (a missing text) is rewritten clean: the manifest says
    pass, so violations must hold no row for b any more."""
    out, docs = _revalidate_rewritten(
        spark, tmp_path, "b", Row(conv_id="c2", turn_idx=0, role="user", text="ok", tool=None)
    )
    assert docs["b"]["status"] == "pass"
    viol = spark.read.parquet(os.path.join(out, "violations"))
    assert viol.filter(F.col("part") == "b").count() == 0
    assert viol.filter(F.col("part") == "a").count() == 1  # untouched


def test_revalidated_dirty_partition_drops_stale_valid_rows(spark, tmp_path):
    """Partition c (one clean row) is rewritten dirty: the manifest says
    fail, so the pipeline-gate output must not serve c's old clean row."""
    out, docs = _revalidate_rewritten(
        spark, tmp_path, "c",
        Row(conv_id="c3", turn_idx=0, role="user", text=None, tool=None),
        emit_valid=True,
    )
    assert docs["c"]["status"] == "fail"
    valid = spark.read.parquet(os.path.join(out, "valid"))
    assert valid.filter(F.col("part") == "c").count() == 0
    assert valid.filter(F.col("part") == "a").count() == 1  # untouched


def test_revalidated_dirty_partition_holds_only_new_violations(spark, tmp_path):
    """Partition b (a missing text) is rewritten differently dirty: its
    violations are exactly the new row's, none of the old row's."""
    out, docs = _revalidate_rewritten(
        spark, tmp_path, "b", Row(conv_id="x2", turn_idx=0, role="robot", text="ok", tool=None)
    )
    assert docs["b"]["status"] == "fail" and docs["b"]["violations"] == 2
    viol = spark.read.parquet(os.path.join(out, "violations"))
    got = {tuple(r) for r in viol.filter(F.col("part") == "b")
           .select("conv_id", "turn_idx", "code").collect()}
    assert got == {("x2", 0, "conv_id_format"), ("x2", 0, "role_enum")}
    assert viol.filter(F.col("part") == "a").count() == 1  # untouched


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


def test_null_and_boolean_partitions_are_scanned(spark, tmp_path):
    """Partition values that Python and Spark render differently (NULL,
    booleans) still select their rows: every input row counts in
    ``rows_scanned`` and every violation is written."""
    df = _df(spark).withColumns(
        {
            "part": F.when(F.col("part") != "b", F.col("part")),  # c2 -> NULL
            "flag": F.col("conv_id") == "c1",
        }
    )
    for pcol in ("part", "flag"):
        out = str(tmp_path / pcol)
        run = ValidationRun(transcript_row_suite(), out, ["conv_id", "turn_idx"], pcol)
        run.run(df, batch_size=2)
        assert run.summary()["rows_scanned"] == 4, pcol
        got = {
            (r["conv_id"], r["path"], r["code"])
            for r in spark.read.parquet(os.path.join(out, "violations")).collect()
        }
        assert got == {("c1", "role", "role_enum"), ("c2", "text", "text_required")}


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


def test_streaming_sink_replay_adds_no_rows(spark, tmp_path):
    """A micro-batch replayed after a restart (its offsets logged, its
    commit file gone) rewrites its own ``batch_id=`` directory: the sink
    holds the same rows as before the restart, none twice."""
    from fsharp_data_validation_spark.streaming.validate_stream import (
        run_stream_to_parquet,
    )

    src, viol, ckpt = (str(tmp_path / d) for d in ("src", "viol", "ckpt"))
    for part in "ab":  # one file each
        one = _df(spark).filter(F.col("part") == part).drop("part").coalesce(1)
        one.write.mode("append").parquet(src)
    no_part = StructType([f for f in SCHEMA.fields if f.name != "part"])

    def run():
        stream = (
            spark.readStream.schema(no_part)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = run_stream_to_parquet(
            stream, transcript_row_suite(), ["conv_id", "turn_idx"], viol, ckpt
        )
        q.awaitTermination(120)
        rows = spark.read.parquet(viol).select("conv_id", "turn_idx", "path", "code")
        return sorted(tuple(r) for r in rows.collect())

    first = run()
    assert len(first) == 2
    commits = os.path.join(ckpt, "commits")
    last = max(int(f) for f in os.listdir(commits) if f.isdigit())
    assert last == 1  # two micro-batches: the replay redoes the second only
    for f in (str(last), f".{last}.crc"):
        if os.path.exists(os.path.join(commits, f)):
            os.remove(os.path.join(commits, f))
    assert run() == first


def _fake_image_payload(width: int, height: int, channels: int, seed: int) -> bytes:
    """Deterministic synthetic 'image': 5-byte header + seeded body."""
    header = (
        int(width).to_bytes(2, "big")
        + int(height).to_bytes(2, "big")
        + int(channels).to_bytes(1, "big")
    )
    rng = np.random.default_rng(seed)
    body = rng.integers(0, 256, size=min(width * height, 256), dtype=np.uint8)
    return header + body.tobytes()


def _fake_video_payload(n_frames: int, width: int, height: int, seed: int) -> bytes:
    """Deterministic RAWV container: 8-byte header ('RV' + BE uint16
    n_frames/width/height) + n_frames contiguous w*h grayscale frames."""
    header = (
        RAWV_MAGIC
        + int(n_frames).to_bytes(2, "big")
        + int(width).to_bytes(2, "big")
        + int(height).to_bytes(2, "big")
    )
    rng = np.random.default_rng(seed)
    body = rng.integers(0, 256, size=n_frames * width * height, dtype=np.uint8)
    return header + body.tobytes()


# image/audio/video as an opaque binary payload with typed metadata
MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),  # image | audio | video
        StructField("payload", BinaryType()),
        StructField(
            "meta",
            StructType(
                [
                    StructField("source", StringType()),
                    StructField("n_bytes", LongType()),
                ]
            ),
        ),
    ]
)


def test_multimodal_plumbing(spark):
    from fsharp_data_validation_spark.operators.multimodal import (
        decode_image_meta,
        frame_sample,
    )

    rows = [
        Row(
            media_id=i,
            kind="image",
            payload=_fake_image_payload(64 + i, 32, 3, seed=i),
            meta=Row(source="synthetic", n_bytes=0),
        )
        for i in range(5)
    ]
    df = spark.createDataFrame(rows, schema=MEDIA_SCHEMA)
    meta = {r["media_id"]: r for r in decode_image_meta(df).collect()}
    assert meta[0]["width"] == 64 and meta[4]["width"] == 68
    assert meta[0]["height"] == 32 and meta[0]["channels"] == 3
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


def test_job_pins_events_file(spark, tmp_path):
    """A --events-dir run pins its events.parquet file: rerunning over an
    events file with other bytes raises SnapshotDriftError instead of
    resuming over results of data that no longer exists."""
    import shutil
    import sys

    from fsharp_data_validation_spark.plans.manifest import (
        SnapshotDriftError,
        parquet_snapshot,
    )

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "jobs"))
    import validate as job

    events = tmp_path / "events"
    events.mkdir()
    shutil.copy("/root/testdata/sf0.001/events.parquet", events / "events.parquet")
    out = tmp_path / "out"
    args = ["--events-dir", str(events), "--output", str(out), "--max-partitions", "2"]
    assert job.main(args) == 0
    pin = parquet_snapshot(str(events / "events.parquet"))
    docs = [json.load(open(out / "manifest" / n)) for n in os.listdir(out / "manifest")]
    assert len(docs) == 2 and all(d["input_snapshot"] == pin for d in docs)
    shutil.copy("/root/testdata/sf0.01/events.parquet", events / "events.parquet")
    with pytest.raises(SnapshotDriftError):
        job.main(args)


def test_driver_memory_default_fits_the_machine(monkeypatch):
    """get_spark's default driver heap is half the machine's memory, capped
    at 24g; SPARK_DRIVER_MEMORY overrides it."""
    from fsharp_data_validation_spark.sources import session

    def machine(gib):
        pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": gib * 2**30 // 4096}
        monkeypatch.setattr(session.os, "sysconf", pages.__getitem__)

    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    machine(8)
    assert session._driver_memory() == "4g"
    machine(64)
    assert session._driver_memory() == "24g"
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "1g")
    assert session._driver_memory() == "1g"
    machine(8)
    assert session._driver_memory() == "1g"


def test_default_cores_follow_the_host(monkeypatch):
    """get_spark's core count (default master local[N], shuffle partitions
    under local[*]) is the cores this process may run on; SPARK_GRAFT_CPUS
    overrides it."""
    from fsharp_data_validation_spark.sources import session

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(session.os, "sched_getaffinity", lambda pid: {0, 1, 2})
    assert session._cpus() == 3
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "12")
    assert session._cpus() == 12


# jobs/validate.py (argv[3:]) with ValidationRun._record wrapped: right after
# the 9th record, the first of batch 2 at --batch-size 8 and so after that
# batch's writes, the job process writes its JVM's pid to the file argv[2]
# and SIGKILLs itself.
_KILL_IN_BATCH_2 = """
import os, signal, sys
from pyspark import SparkContext
from fsharp_data_validation_spark.plans.manifest import ValidationRun
sys.path.insert(0, sys.argv[1])
import validate
record, calls = ValidationRun._record, []
def _record(self, outcome, started):
    record(self, outcome, started)
    calls.append(outcome.partition)
    if len(calls) == 9:
        with open(sys.argv[2], "w") as f:
            f.write(str(SparkContext._gateway.proc.pid))
        os.kill(os.getpid(), signal.SIGKILL)
ValidationRun._record = _record
sys.exit(validate.main(sys.argv[3:]))
"""


def _job_outputs(spark, out):
    """Row multisets of violations/, valid/ and reports/ and the manifest
    documents without their timestamps."""
    from collections import Counter

    rows = {
        d: Counter(
            tuple(sorted(r.asDict().items()))
            for r in spark.read.parquet(os.path.join(out, d)).collect()
        )
        for d in ("violations", "valid", "reports")
    }
    mdir = os.path.join(out, "manifest")
    docs = {}
    for name in os.listdir(mdir):
        with open(os.path.join(mdir, name)) as f:
            doc = json.load(f)
        docs[doc.pop("partition")] = {
            k: v for k, v in doc.items() if k not in ("started_at", "finished_at")
        }
    return rows, docs


def _process_gone(pid, timeout_s=60):
    import time

    deadline = time.time() + timeout_s
    while time.time() < deadline:
        try:
            with open(f"/proc/{pid}/stat") as f:
                if f.read().rsplit(")", 1)[1].split()[0] == "Z":
                    return True
        except FileNotFoundError:
            return True
        time.sleep(0.5)
    return False


def test_job_killed_after_batch_writes_resumes_exactly(spark, tmp_path):
    """SIGKILL the job right after the first manifest record of batch 2,
    then resume on the same --output: every output's rows and every
    manifest document equal an uninterrupted run's, and the killed
    process's JVM does not outlive it. A run that recorded partitions
    before writing their rows would resume past rows it never wrote."""
    import signal
    import subprocess
    import sys

    jobs = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "jobs")
    sys.path.insert(0, jobs)
    import validate as job

    args = ["--events-dir", "/root/testdata/sf0.001", "--batch-size", "8",
            "--emit-valid", "--emit-reports", "--output"]
    whole, resumed = str(tmp_path / "whole"), str(tmp_path / "resumed")
    assert job.main(args + [whole]) == 0
    pid_file = str(tmp_path / "jvm.pid")
    killed = subprocess.run(
        [sys.executable, "-c", _KILL_IN_BATCH_2, jobs, pid_file, *args, resumed],
        cwd=os.path.dirname(jobs), capture_output=True, timeout=600,
    )
    assert killed.returncode == -signal.SIGKILL, killed.stderr.decode()[-2000:]
    assert len(os.listdir(os.path.join(resumed, "manifest"))) == 9
    with open(pid_file) as f:
        assert _process_gone(int(f.read()))
    assert job.main(args + [resumed]) == 0
    assert _job_outputs(spark, resumed) == _job_outputs(spark, whole)


def test_job_partitions_by_utc_date_in_any_host_zone(spark, tmp_path):
    """jobs/validate.py run in a process whose host time zone is
    Asia/Tokyo writes the same rows, partitions and manifest documents as
    an in-process run: its session has get_spark's UTC session time zone,
    so the ``to_date(ts)`` partitions do not follow the host's zone."""
    import subprocess
    import sys

    jobs = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "jobs")
    sys.path.insert(0, jobs)
    import validate as job

    args = ["--events-dir", "/root/testdata/sf0.001", "--emit-valid",
            "--emit-reports", "--output"]
    here, tokyo = str(tmp_path / "here"), str(tmp_path / "tokyo")
    assert job.main(args + [here]) == 0
    run = subprocess.run(
        [sys.executable, "-c",
         "import sys; sys.path.insert(0, sys.argv[1]); import validate; "
         "sys.exit(validate.main(sys.argv[2:]))", jobs, *args, tokyo],
        cwd=os.path.dirname(jobs), env={**os.environ, "TZ": "Asia/Tokyo"},
        capture_output=True, timeout=600,
    )
    assert run.returncode == 0, run.stderr.decode()[-2000:]
    assert _job_outputs(spark, tokyo) == _job_outputs(spark, here)


def test_batch_compiles_suite_once(spark, tmp_path, monkeypatch):
    """One ValidationRun batch that writes violations, valid rows and
    reports runs the suite's mask algebra once: the split, the verdict
    counts and the reports read one compile pass. A pass is counted by its
    read of one constraint's check column."""
    from fsharp_data_validation_spark.functions import compiler

    suite = transcript_row_suite()
    probe = suite._constraints[0].ok
    passes = []
    coalesce = compiler.F.coalesce

    def counting(*cols):
        if cols[0] is probe:
            passes.append(1)
        return coalesce(*cols)

    monkeypatch.setattr(compiler.F, "coalesce", counting)
    run = ValidationRun(
        suite, str(tmp_path / "out"), ["conv_id", "turn_idx"], "part",
        emit_valid=True, emit_reports=True,
    )
    assert len(run.run(_df(spark), batch_size=3)) == 3  # parts a, b, c
    assert len(passes) == 1


def test_batch_builds_each_column_once(spark, tmp_path, monkeypatch):
    """A 3-batch run builds the failures arrays (data-facing and report
    forms) and the report column once for the run, not once per batch:
    each build is a burst of py4j calls."""
    from fsharp_data_validation_spark.functions.compiler import Suite

    builds = []
    real_failures, real_report = Suite._failures, Suite._report_json

    def failures(self, for_report):
        builds.append(("failures", for_report))
        return real_failures(self, for_report)

    def report(f):
        builds.append(("report",))
        return real_report(f)

    monkeypatch.setattr(Suite, "_failures", failures)
    monkeypatch.setattr(Suite, "_report_json", staticmethod(report))
    run = ValidationRun(
        transcript_row_suite(), str(tmp_path / "out"), ["conv_id", "turn_idx"], "part",
        emit_valid=True, emit_reports=True,
    )
    assert len(run.run(_df(spark), batch_size=1)) == 3  # parts a, b, c
    assert sorted(builds) == [("failures", False), ("failures", True), ("report",)]


def test_run_frees_only_its_failing_slice(spark, tmp_path, monkeypatch):
    """Each batch persists its failing slice and frees that slice alone
    when the batch ends, also when the batch raises: a caller's tracked
    frame stays cached and the tracked count returns to its value before
    the run."""
    from fsharp_data_validation_spark import cache
    from fsharp_data_validation_spark.plans import manifest

    mine = cache.persist_tracked(_df(spark))
    mine.count()
    before = cache.tracked_count()
    during = []
    write = manifest._write_parts

    def tracking(out, path):
        during.append(cache.tracked_count())
        write(out, path)

    def raising(out, path):
        raise RuntimeError("write failed")

    try:
        monkeypatch.setattr(manifest, "_write_parts", tracking)
        run = ValidationRun(
            transcript_row_suite(), str(tmp_path / "ok"), ["conv_id", "turn_idx"], "part",
            emit_reports=True,
        )
        assert len(run.run(_df(spark), batch_size=2)) == 3
        assert during and all(n == before + 1 for n in during)  # the batch's slice
        assert cache.tracked_count() == before

        monkeypatch.setattr(manifest, "_write_parts", raising)
        run = ValidationRun(
            transcript_row_suite(), str(tmp_path / "raises"), ["conv_id", "turn_idx"], "part",
        )
        with pytest.raises(RuntimeError, match="write failed"):
            run.run(_df(spark), batch_size=2)
        assert cache.tracked_count() == before
        assert run.completed_partitions() == {}
        level = mine.storageLevel
        assert level.useMemory or level.useDisk  # the caller's frame is still cached
    finally:
        cache.unpersist_tracked(mine)


@pytest.mark.parametrize("batch_size", [1, 3])
def test_manifest_stats_equal_all_rows_verdict(spark, tmp_path, batch_size):
    """The manifest's counts (failing-slice counts plus the pending scan's
    row counts) equal the all-rows ``verdict`` per partition: for a string
    partition column with a clean partition, a NULL and a literal
    ``__HIVE_DEFAULT_PARTITION__`` (which render alike and add up), and for
    a boolean one with NULLs."""
    from fsharp_data_validation_spark.plans.manifest import _NULL_PARTITION

    extra = spark.createDataFrame(
        [
            Row(conv_id="x9", turn_idx=0, role="user", text="a", tool=None, part=_NULL_PARTITION),
            Row(conv_id="c4", turn_idx=0, role="user", text="fine", tool=None, part=_NULL_PARTITION),
            Row(conv_id="c5", turn_idx=0, role="tool", text=None, tool="bad", part="c"),
        ],
        schema=SCHEMA,
    )
    df = _df(spark).union(extra).withColumns(
        {
            "part": F.when(F.col("part") != "b", F.col("part")),  # c2 -> NULL
            "flag": F.when(F.col("conv_id") != "c3", F.col("conv_id") == "c1"),
        }
    )
    df = df.union(  # partition d: no failing row
        spark.createDataFrame(
            [Row(conv_id="c6", turn_idx=0, role="user", text="ok", tool=None, part="d")],
            schema=SCHEMA,
        ).withColumn("flag", F.lit(False))
    )
    suite = transcript_row_suite()
    keys = ["conv_id", "turn_idx"]
    for pcol in ("part", "flag"):
        out = str(tmp_path / f"{pcol}{batch_size}")
        run = ValidationRun(suite, out, keys, pcol)
        run.run(df, batch_size=batch_size)
        got = {
            p: (d["rows_scanned"], d["rows_with_violations"], d["violations"], d["status"])
            for p, d in run.completed_partitions().items()
        }
        rendered = F.coalesce(F.col(pcol).cast("string"), F.lit(_NULL_PARTITION))
        pdf = df.withColumn("part", rendered)
        want = {
            r["part"]: (
                r["rows_scanned"],
                r["rows_with_violations"],
                r["violations"],
                "pass" if r["pass"] else "fail",
            )
            for r in suite.run(pdf, keys + ["part"]).verdict(["part"], pdf).collect()
        }
        assert got == want, pcol
        assert "pass" in {v[3] for v in want.values()}, pcol  # a clean partition
    assert set(got) == {"true", "false", _NULL_PARTITION}


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
    slices, cadence is every second frame with frame 0 included, NULL payloads
    yield nothing, and compressed/unknown containers raise (stubbed codec)."""
    from pyspark.sql.types import BinaryType, LongType

    from fsharp_data_validation_spark.operators.multimodal import frame_sample

    p1 = _fake_video_payload(7, 8, 6, seed=1)   # 7 frames of 48 bytes
    p2 = _fake_video_payload(1, 4, 4, seed=2)
    schema = StructType(
        [StructField("media_id", LongType()), StructField("payload", BinaryType())]
    )
    df = spark.createDataFrame([(1, p1), (2, p2), (3, None)], schema)
    out = {(r["media_id"], r["frame_idx"]): r for r in frame_sample(df).collect()}
    assert sorted(out) == [(1, 0), (1, 2), (1, 4), (1, 6), (2, 0)]
    body = p1[8:]
    assert bytes(out[(1, 2)]["frame"]) == body[2 * 48 : 3 * 48]
    assert bytes(out[(1, 6)]["frame"]) == body[6 * 48 : 7 * 48]
    assert (out[(1, 0)]["width"], out[(1, 0)]["height"]) == (8, 6)

    bad = spark.createDataFrame([(9, b"\x00\x00\x01\xb3fakempeg????")], schema)
    with pytest.raises(Exception, match="NotImplementedError|RAWV"):
        frame_sample(bad).collect()


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


def test_manifest_legacy_global_pin_not_drifted(spark, tmp_path):
    """A manifest written before per-partition pins existed recorded the
    table-global pin on every entry. Resuming over an UNCHANGED
    hive-partitioned input must not flag those entries as drifted
    (ADVICE r3: plans/manifest.py drifted_partitions)."""
    import json

    from pyspark.sql import functions as F

    from fsharp_data_validation_spark.operators.transcript_suite import (
        transcript_row_suite,
    )
    from fsharp_data_validation_spark.plans.manifest import (
        ValidationRun,
        parquet_snapshot,
    )
    from fsharp_data_validation_spark.sources.synth import synth_transcripts

    src = str(tmp_path / "legacy_src")
    out = str(tmp_path / "legacy_out")
    df = synth_transcripts(spark, 200, parallelism=2).withColumn(
        "part", (F.crc32(F.col("conv_id")) % 3).cast("string")
    )
    df.write.mode("overwrite").partitionBy("part").parquet(src)

    def mk(**kw):
        return ValidationRun(
            transcript_row_suite(),
            out,
            ["conv_id", "turn_idx"],
            "part",
            input_path=src,
            **kw,
        )

    run = mk()
    assert run.partition_snapshots  # hive layout detected -> per-partition pins
    run.run(spark.read.parquet(src))
    assert mk().drifted_partitions() == []

    # simulate a LEGACY manifest: rewrite every entry's pin to the global pin
    global_pin = parquet_snapshot(src)
    for name in os.listdir(run.manifest_dir):
        p = os.path.join(run.manifest_dir, name)
        with open(p) as f:
            doc = json.load(f)
        doc["input_snapshot"] = global_pin
        with open(p, "w") as f:
            json.dump(doc, f)

    # unchanged input: grace applies, clean no-op resume (no SnapshotDriftError)
    resumed = mk()  # default on_drift='error'
    assert resumed.drifted_partitions() == []
    assert resumed.run(spark.read.parquet(src)) == []

    # a genuine change still drifts legacy entries — ALL of them, since a
    # table-global pin cannot localize the change (conservative fallback)
    one_part = os.path.join(src, "part=0")
    data_files = [
        n for n in os.listdir(one_part) if not n.startswith((".", "_"))
    ]
    os.utime(os.path.join(one_part, data_files[0]))  # mtime bump -> new pin
    assert mk().drifted_partitions() == ["0", "1", "2"]

    # re-pin with per-partition pins (revalidate), then change ONE partition:
    # drift is now exact — only the rewritten partition is flagged
    mk(on_drift="revalidate").run(spark.read.parquet(src))
    assert mk().drifted_partitions() == []
    os.utime(os.path.join(one_part, data_files[0]))
    assert mk().drifted_partitions() == ["0"]
