"""The benchmark's workloads: each generates its seeded inputs, runs one
pass of the engine over them, and checks that pass's output.

A pass is timed by the caller and must leave nothing cached behind; the
check runs after the timer stops. Every check compares an
order-independent digest of the output with the first (warm-up) pass's
digest, and the transcript workloads also compare counts with DuckDB's
answer over the same files (``inputs.suite_oracle``).
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import Observation, functions as F
from pyspark.sql.types import StructType

from fsharp_data_validation_spark.cache import release_caches, tracked_count
from fsharp_data_validation_spark.functions.schema_contract import (
    TRANSCRIPT_CONTRACT,
    conform_schema,
)
from fsharp_data_validation_spark.operators.crossrow import (
    ordering_violations,
    referential_violations,
    uniqueness_violations,
)
from fsharp_data_validation_spark.operators.drift import psi_joined, split_histograms
from fsharp_data_validation_spark.operators.similarity import sampled_centroids, semdedup
from fsharp_data_validation_spark.operators.stats import column_profile
from fsharp_data_validation_spark.operators.transcript_suite import transcript_row_suite
from fsharp_data_validation_spark.plans.manifest import ValidationRun
from fsharp_data_validation_spark.sources.transcripts import load_transcripts, tool_catalog
from fsharp_data_validation_spark.streaming.validate_stream import run_stream_to_parquet

import inputs

KEY = ["conv_id", "turn_idx", "ts"]

# Input sizes. A run must fit JVM start, three setups, five warm-up passes
# and the timed passes into about 60 s, so a pass takes 1.5-4 s on 4 cores
# and is mostly the engine's fixed per-job cost at these sizes.
TRANSCRIPT_ROWS = 100_000
DAYS = 7
BATCH_SIZE = 16  # jobs/validate.py's default: every day in one batch
STREAM_FILES = 8
VECTORS = 40_000
DIM = 64
CELLS = 400  # ~100 vectors per cell, as in the engine's scaling bench
DEDUP_THRESHOLD = 0.9


@dataclass
class PassResult:
    digest: tuple
    problems: list = field(default_factory=list)
    out_bytes: int = 0
    microbatch_s: list = field(default_factory=list)
    facts: dict = field(default_factory=dict)
    cpu_s: float = 0.0  # set by the caller: CPU time of the JVM tree during the pass


class Tracer:
    """Tags every Spark job with the span that caused it
    (``setJobDescription("<layer>:<call>")``) and, when enabled, keeps each
    span's layer, call and wall time in memory."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list = []
        self._stack: list = []

    @contextmanager
    def span(self, layer: str, call: str):
        self._stack.append(f"{layer}:{call}")
        self.sc.setJobDescription(self._stack[-1])
        t0 = time.perf_counter()
        try:
            yield
        finally:
            if self.enabled:
                self.spans.append((layer, call, t0, time.perf_counter()))
            self._stack.pop()
            self.sc.setJobDescription(self._stack[-1] if self._stack else None)

    def wrap(self, obj, method: str, layer: str) -> None:
        """Run ``obj.method`` inside a span (instance attribute; the class
        is untouched)."""
        inner = getattr(obj, method)

        def traced(*a, **kw):
            with self.span(layer, method):
                return inner(*a, **kw)

        setattr(obj, method, traced)


def _force(df, obs_exprs) -> Observation:
    """Run ``df`` to a ``noop`` sink, observing ``obs_exprs`` on the way."""
    obs = Observation()
    df.observe(obs, *obs_exprs).write.format("noop").mode("overwrite").save()
    return obs


def _row_digest(cols) -> list:
    return [
        F.count(F.lit(1)).alias("n"),
        F.sum(F.pmod(F.xxhash64(*cols), F.lit(2_147_483_647))).alias("h"),
    ]


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            if name.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, name))
    return total


def _parquet_digest(con, path: str) -> tuple:
    n, h = con.execute(
        f"SELECT count(*), sum(hash(t) % 1000000007) FROM "
        f"read_parquet('{path}/**/*.parquet', hive_partitioning = true) t"
    ).fetchone()
    return int(n), int(h or 0)


def _duck():
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 4")  # checks run between passes, on idle cores
    return con


def _violation_counts(con, path: str) -> dict:
    rows = con.execute(
        f"SELECT path, code, count(*) FROM "
        f"read_parquet('{path}/**/*.parquet', hive_partitioning = true) GROUP BY 1, 2"
    ).fetchall()
    return {(p, c): n for p, c, n in rows}


def _compare_counts(got: dict, want: dict, what: str) -> list:
    if got == want:
        return []
    keys = sorted(set(got) | set(want))
    diff = [(k, got.get(k, 0), want.get(k, 0)) for k in keys if got.get(k, 0) != want.get(k, 0)]
    return [f"{what}: (path, code) counts differ from DuckDB: {diff[:5]}"]


class Workload:
    name = ""
    layer = ""  # the layer expected to do most of the work
    rows = 0  # input rows one pass validates

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.oracle = None

    def generate(self, spark) -> None:
        raise NotImplementedError

    def prepare(self, spark) -> None:
        """Bind the generated files to ``spark``; runs after every
        (re)start of the session."""

    def run_pass(self, spark, tracer: Tracer, out: str):
        raise NotImplementedError

    def check(self, out: str, handle) -> PassResult:
        raise NotImplementedError

    def static_facts(self, spark) -> dict:
        """Per-layer facts that hold for every pass (plan shapes, input
        shape); gathered once in a traced run."""
        return {}

    def describe(self) -> str:
        raise NotImplementedError


class _TranscriptWorkload(Workload):
    # rows the suite builds failure arrays for: Suite.run only the failing
    # ones, validate_stream every row, the verdict none
    failure_arrays = "none"

    def __init__(self, work: str, seed: int):
        super().__init__(work, seed)
        self.table = os.path.join(work, "transcripts")
        self.rows = TRANSCRIPT_ROWS

    def generate(self, spark) -> None:
        inputs.write_transcripts(spark, self.table, TRANSCRIPT_ROWS, DAYS, self.seed)
        if self.oracle is None:
            self.oracle = inputs.suite_oracle(f"{self.table}/**/*.parquet")

    def static_facts(self, spark) -> dict:
        t0 = time.perf_counter()
        suite = transcript_row_suite()
        suite.any_failure_column()
        suite.failure_count_column()
        suite.failures_column()
        suite.report_json_column()
        build_ms = (time.perf_counter() - t0) * 1e3
        df = load_transcripts(spark, self.table)
        res = suite.run(df, KEY)
        plans = [res.violations, res.valid, suite.with_failures(df)]
        exchanges = sum(
            p._jdf.queryExecution().executedPlan().toString().count("Exchange ") for p in plans
        )
        array_rows = {"failing": self.oracle["failing_rows"], "all": self.rows, "none": 0}
        return {
            "compiler.build_ms": build_ms,
            "compiler.exchanges": exchanges,
            "compiler.failing_row_ratio": array_rows[self.failure_arrays] / self.rows,
        }


class BatchValidate(_TranscriptWorkload):
    name = "batch_validate"
    layer = "manifest + compiler + sink"
    failure_arrays = "failing"

    def run_pass(self, spark, tracer: Tracer, out: str):
        with tracer.span("manifest", "ValidationRun.run"):
            df = load_transcripts(spark, self.table)
            # the partition column is table layout, not drift (as in jobs/validate.py)
            contract = StructType(list(TRANSCRIPT_CONTRACT.fields) + [df.schema["part_date"]])
            run = ValidationRun(
                suite=transcript_row_suite(),
                out_dir=out,
                key_cols=KEY,
                partition_col="part_date",
                input_path=self.table,
                emit_reports=True,
                emit_valid=True,
            )
            if tracer.enabled:
                tracer.wrap(run, "pending_partitions", "manifest")
                tracer.wrap(run, "_record", "manifest")
            run.run(conform_schema(df, contract), batch_size=BATCH_SIZE)
        return run

    def check(self, out: str, run) -> PassResult:
        o = self.oracle
        con = _duck()
        try:
            viol = os.path.join(out, "violations")
            problems = _compare_counts(_violation_counts(con, viol), o["counts"], self.name)
            digest = tuple(
                _parquet_digest(con, os.path.join(out, d)) for d in ("violations", "valid", "reports")
            )
        finally:
            con.close()
        want = {
            "partitions": o["partitions"],
            "pass": o["partitions"] - o["fail_partitions"],
            "fail": o["fail_partitions"],
            "rows_scanned": o["rows"],
            "violations": o["violations"],
        }
        summary = run.summary()
        if summary != want:
            problems.append(f"manifest summary {summary} != DuckDB {want}")
        if digest[1][0] != o["rows"] - o["failing_rows"] or digest[2][0] != o["failing_rows"]:
            problems.append(f"valid/report row counts {digest[1][0]}/{digest[2][0]} disagree with DuckDB")
        facts = {"manifest.batches": -(-o["partitions"] // BATCH_SIZE)}
        return PassResult(digest, problems, out_bytes=_dir_bytes(out), facts=facts)

    def describe(self) -> str:
        return f"{TRANSCRIPT_ROWS} turns over {DAYS} days, batch_size={BATCH_SIZE}"


class TableChecks(_TranscriptWorkload):
    name = "table_checks"
    layer = "exchange"

    def _checks(self, spark, df):
        text_len = df.select(F.length("text").alias("text_len"), "ts")
        return [
            ("uniqueness_violations", lambda: uniqueness_violations(df, ["conv_id", "turn_idx"])),
            (
                "referential_violations",
                lambda: referential_violations(
                    df, "tool", tool_catalog(spark), "tool", ["conv_id", "turn_idx", "tool"]
                ),
            ),
            ("ordering_violations", lambda: ordering_violations(df)),
            (
                "column_profile",
                lambda: column_profile(
                    df, ["conv_id", "turn_idx", "role", "text", "tool"], exact_distinct=False
                ),
            ),
            ("psi_drift", lambda: psi_joined(split_histograms(text_len, "text_len", "ts", 10.0, 20))),
            (
                "verdict",
                lambda: transcript_row_suite().run(df, KEY).verdict(["part_date"], df),
            ),
        ]

    def run_pass(self, spark, tracer: Tracer, out: str):
        df = load_transcripts(spark, self.table)
        observed = {}
        for name, build in self._checks(spark, df):
            with tracer.span("exchange", name):
                res = build()
                extra = (
                    [F.sum("violations").alias("v"), F.sum("rows_scanned").alias("r")]
                    if name == "verdict"
                    else []
                )
                observed[name] = _force(res, _row_digest(res.columns) + extra)
        return observed

    def check(self, out: str, observed) -> PassResult:
        got = {name: obs.get for name, obs in observed.items()}
        o = self.oracle
        problems = []
        want = {
            "uniqueness_violations": o["dup_keys"],
            "referential_violations": o["orphan_tools"],
            "verdict": o["partitions"],
        }
        for name, n in want.items():
            if got[name]["n"] != n:
                problems.append(f"{name}: {got[name]['n']} rows, DuckDB says {n}")
        v = got["verdict"]
        if (v["v"], v["r"]) != (o["violations"], o["rows"]):
            problems.append(f"verdict totals {(v['v'], v['r'])} != DuckDB {(o['violations'], o['rows'])}")
        digest = tuple((name, g["n"], g["h"]) for name, g in got.items())
        return PassResult(digest, problems)

    def describe(self) -> str:
        return f"{TRANSCRIPT_ROWS} turns over {DAYS} days, 6 checks to noop"


class VectorDedup(Workload):
    name = "vector_dedup"
    layer = "kernels"

    def __init__(self, work: str, seed: int):
        super().__init__(work, seed)
        self.path = os.path.join(work, "vectors")
        self.rows = VECTORS
        self.centroids = None

    def generate(self, spark) -> None:
        inputs.write_vectors(spark, self.path, VECTORS, DIM, self.seed)

    def prepare(self, spark) -> None:
        self.vecs = spark.read.parquet(self.path)
        # a fixed quantizer, as in production: sampled in setup, not per pass
        self.centroids = sampled_centroids(self.vecs, "vec_id", "embedding", CELLS)

    def run_pass(self, spark, tracer: Tracer, out: str):
        with tracer.span("kernels", "semdedup"):
            res = semdedup(
                self.vecs, "vec_id", "embedding", threshold=DEDUP_THRESHOLD, centroids=self.centroids
            )
            obs = _force(res, _row_digest(res.columns) + [F.sum((~F.col("keep")).cast("long")).alias("d")])
        return obs

    def check(self, out: str, obs) -> PassResult:
        g = obs.get
        problems = []
        if g["n"] != VECTORS:
            problems.append(f"semdedup returned {g['n']} rows for {VECTORS} vectors")
        if not 0 < g["d"] <= VECTORS // 100:
            problems.append(f"{g['d']} duplicates found; {VECTORS // 100} were planted")
        return PassResult((g["n"], g["h"], g["d"]), problems, facts={"kernels.dups": g["d"]})

    def static_facts(self, spark) -> dict:
        sizes = inputs.cell_sizes(self.path, self.centroids)
        return {
            "kernels.max_cell_rows": int(sizes.max()),
            "kernels.pairs_scored": int((sizes.astype("int64") ** 2).sum() // 2),
        }

    def describe(self) -> str:
        return f"{VECTORS} x {DIM}-d vectors, {CELLS} cells, threshold {DEDUP_THRESHOLD}"


class StreamValidate(_TranscriptWorkload):
    name = "stream_validate"
    layer = "streaming + compiler + sink"
    failure_arrays = "all"

    def __init__(self, work: str, seed: int):
        super().__init__(work, seed)
        self.table = os.path.join(work, "stream_src")  # flat files, not day-partitioned

    def generate(self, spark) -> None:
        inputs.write_stream_source(spark, self.table, TRANSCRIPT_ROWS, DAYS, self.seed, STREAM_FILES)
        if self.oracle is None:
            self.oracle = inputs.suite_oracle(f"{self.table}/*.parquet")

    def prepare(self, spark) -> None:
        self.schema = spark.read.parquet(self.table).schema

    def run_pass(self, spark, tracer: Tracer, out: str):
        stream = (
            spark.readStream.schema(self.schema).option("maxFilesPerTrigger", 1).parquet(self.table)
        )
        with tracer.span("streaming", "run_stream_to_parquet"):
            q = run_stream_to_parquet(
                stream,
                transcript_row_suite(),
                KEY,
                os.path.join(out, "violations"),
                os.path.join(out, "checkpoint"),
            )
            try:
                q.awaitTermination(120)
            finally:
                if q.isActive:
                    q.stop()
        return q.recentProgress

    def check(self, out: str, progress) -> PassResult:
        viol = os.path.join(out, "violations")
        con = _duck()
        try:
            problems = _compare_counts(_violation_counts(con, viol), self.oracle["counts"], self.name)
            digest = _parquet_digest(con, viol)
        finally:
            con.close()
        batches = [p for p in progress if p["numInputRows"] > 0]
        if sum(p["numInputRows"] for p in batches) != self.rows:
            problems.append("micro-batches did not read every input row once")
        return PassResult(
            digest,
            problems,
            out_bytes=_dir_bytes(viol),
            microbatch_s=[p["durationMs"]["triggerExecution"] / 1e3 for p in batches],
            facts={"stream.progress": [dict(p["durationMs"], rows=p["numInputRows"],
                                            rate=p["processedRowsPerSecond"]) for p in batches]},
        )

    def describe(self) -> str:
        return f"{TRANSCRIPT_ROWS} turns in {STREAM_FILES} files, maxFilesPerTrigger=1, availableNow"


WORKLOADS = {w.name: w for w in (BatchValidate, TableChecks, VectorDedup, StreamValidate)}


def release(spark, tracer: Tracer) -> int:
    """Release what a pass persisted; returns the caches still tracked
    afterwards (0 when the pass cleaned up)."""
    with tracer.span("cache", "release_caches"):
        release_caches(spark, sweep_rdds=True)
    return tracked_count()
