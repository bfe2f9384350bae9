"""Benchmark of the validation engine, run from the root of a checkout:

    python3 perfbench/run.py --workload batch_validate --seed 1 --seconds 10 --trace 0

Each run sets up three times (session start, input generation from
``--seed`` under ``.perfbench/`` in the checkout, binding the inputs),
runs five warm-up passes, then runs the workload as a closed loop with one
client for ``--seconds``: the next pass starts when the previous one has
finished and its output has been checked. Passes run on ``local[4]`` with
BLAS pinned to one thread.

Throughput is reported per CPU second of the driver JVM (without its JIT
compiler threads) and its Python workers (``rows_per_cpu_s``), and per
wall second (``rows_per_s``, printed only). On a shared virtual machine
the wall time of a pass tracks the CPU time the hypervisor gives to other
guests (steal in ``/proc/stat``): in one run of 40 batch_validate passes (200k rows) on a
4-vCPU VM, a pass took 3.5 s with no steal and 6.1 s with 3.9 s of steal,
while its CPU time stayed within 3% of the passes around it.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs half the
time untraced and half with Spark's event log on, and prints the per-layer
metrics read from the event log, the executed plans, the streaming
progress and the benchmark's own spans, plus the tracing overhead. The
last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. A fuller record of the
run (every pass, the load average and a CPU probe before and after, all
per-layer facts) goes to ``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# workloads.WORKLOADS' keys; importing it here would import numpy before
# _pin_environment has pinned BLAS
WORKLOAD_NAMES = ("batch_validate", "table_checks", "vector_dedup", "stream_validate")
CORES = 4
SETUP_REPS = 3  # setup_s is the median of these
# A fresh JVM's CPU time per pass falls steeply over its first 4-5 passes
# (JIT, codegen), then by a few percent a pass for tens of passes
WARMUP_PASSES = 5
# A fixed, pre-touched heap: the JVM's resident size then no longer depends
# on when G1 decides to grow the heap (peak RSS varied by up to 30% between
# runs on a shared 4-core VM without it); what varies is native memory and
# the Python workers.
DRIVER_MEMORY = "1g"
PROBE_WORK = 1_000_000  # per-process loop count of bench.cpu_probe


def _declared_metrics() -> tuple:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return tuple({m["name"]: m["unit"] for m in spec[k]} for k in ("end_to_end", "per_layer"))


def _pin_environment(work: str) -> None:
    """Settings that must be in the environment before numpy is imported
    and before the driver JVM (and its Python workers) start."""
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # Python workers import the engine package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work: str):
        from workloads import WORKLOADS

        self.wl = WORKLOADS[workload](work, seed)
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.spark = None
        self.tracer = None
        self.reference = None
        self.attempted = 0
        self.failed = 0
        self.problems: list = []
        self.n_pass = 0

    # -- session ---------------------------------------------------------------
    def start_session(self, event_log: bool) -> None:
        from fsharp_data_validation_spark.sources.session import get_spark
        from workloads import Tracer

        if self.spark is not None:
            self.spark.stop()
        log_dir = os.path.join(self.work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        self.spark = get_spark(
            master=f"local[{CORES}]",
            app=f"perfbench_{self.wl.name}",
            extra={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                # a fixed set of JIT compiler threads, for tree_cpu_s
                "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch "
                f"-XX:-UseDynamicNumberOfCompilerThreads -Djava.io.tmpdir={os.environ['TMPDIR']}",
                "spark.sql.streaming.numRecentProgressUpdates": "1000",
                "spark.eventLog.enabled": "true" if event_log else "false",
                "spark.eventLog.dir": log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer = Tracer(self.spark, event_log)

    # -- passes ----------------------------------------------------------------
    def one_pass(self):
        """Run, time and check one pass; returns (seconds, PassResult,
        perf_counter start, end, epoch-ms start, end) or None when it
        failed."""
        from sparkmetrics import tree_cpu_s
        from workloads import release

        out = os.path.join(self.work, "out", f"p{self.n_pass}")
        self.n_pass += 1
        self.attempted += 1
        me = os.getpid()
        try:
            cpu0 = tree_cpu_s(me)
            wall0, t0 = time.time(), time.perf_counter()
            handle = self.wl.run_pass(self.spark, self.tracer, out)
            leftover = release(self.spark, self.tracer)
            t1, wall1 = time.perf_counter(), time.time()
            cpu_s = tree_cpu_s(me) - cpu0
            res = self.wl.check(out, handle)
            res.cpu_s = cpu_s
        except Exception:  # a failed pass is counted, and the loop goes on
            self.failed += 1
            self.problems.append(traceback.format_exc(limit=3))
            print(self.problems[-1], file=sys.stderr)
            return None
        finally:
            shutil.rmtree(out, ignore_errors=True)
        res.facts["cache.tracked_after_pass"] = leftover
        if self.reference is None:
            self.reference = res.digest
        elif res.digest != self.reference:
            res.problems.append(f"output digest {res.digest} != warm-up digest {self.reference}")
        if leftover:
            res.problems.append(f"{leftover} caches still tracked after release")
        if res.problems:
            self.failed += 1
            self.problems.extend(res.problems)
            print("\n".join(res.problems), file=sys.stderr)
            return None
        return t1 - t0, res, t0, t1, wall0 * 1e3, wall1 * 1e3

    def measure(self, seconds: float) -> list:
        done = []
        t_end = time.perf_counter() + seconds
        while True:
            r = self.one_pass()
            if r is not None:
                done.append(r)
            if time.perf_counter() >= t_end:
                return done

    def setup(self) -> list:
        """Set up ``SETUP_REPS`` times: (re)start the session, generate the
        inputs, bind them. Returns each setup's seconds."""
        times = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            self.start_session(event_log=False)
            self.wl.generate(self.spark)
            self.wl.prepare(self.spark)
            times.append(time.perf_counter() - t0)
        return times

    def warm_up(self) -> list:
        """``WARMUP_PASSES`` untimed passes; the first fixes the reference
        digest."""
        return [r[0] if r else float("nan") for r in (self.one_pass() for _ in range(WARMUP_PASSES))]

    # -- the run ---------------------------------------------------------------
    def run(self) -> dict:
        from sparkmetrics import RssSampler

        setups = self.setup()
        warm = self.warm_up()
        with RssSampler() as rss:
            passes = self.measure(self.seconds / 2 if self.trace else self.seconds)
        record = {
            "setups_s": setups,
            "warmup_pass_s": warm,
            "pass_s": [p[0] for p in passes],
            "pass_cpu_s": [p[1].cpu_s for p in passes],
            "peak_rss_bytes": rss.peak,
            "rss_samples": rss.samples,
        }
        e2e = self.end_to_end(setups, passes, rss.peak)
        record["end_to_end"] = e2e
        if self.trace:
            record.update(self.traced(e2e))
        return record

    def end_to_end(self, setups, passes, peak_rss) -> dict:
        rows = self.wl.rows
        med = statistics.median(p[0] for p in passes) if passes else float("nan")
        cpu = statistics.median(p[1].cpu_s for p in passes) if passes else float("nan")
        out = {
            "setup_s": statistics.median(setups),
            "rows_per_s": rows / med if passes else 0.0,
            "rows_per_cpu_s": rows / cpu if passes else 0.0,
            "median_pass_cpu_s": cpu,
            "peak_rss_mb": peak_rss / 2**20,
            "error_rate": self.failed / self.attempted,
            "timed_passes": len(passes),
            "median_pass_s": med,
        }
        if passes and passes[0][1].out_bytes:  # the noop-sink workloads write nothing
            out["out_bytes_per_row"] = statistics.median(p[1].out_bytes for p in passes) / rows
        mb = [s for p in passes for s in p[1].microbatch_s]
        if len(mb) >= 2:
            p50, p90 = statistics.median(mb), statistics.quantiles(mb, n=10)[-1]
            out.update(
                microbatch_p50_s=p50,
                microbatch_p90_s=p90,
                microbatches=len(mb),
                microbatches_beyond_p90=sum(1 for s in mb if s > p90),
            )
        return out

    def traced(self, untraced: dict) -> dict:
        """Second half of a traced run: restart with the event log on, one
        warm-up pass, timed passes; then read the log."""
        from sparkmetrics import EventLog

        self.start_session(event_log=True)
        self.wl.prepare(self.spark)
        self.one_pass()
        passes = self.measure(self.seconds / 2)
        static = self.wl.static_facts(self.spark)
        spans = list(self.tracer.spans)
        app_id = self.spark.sparkContext.applicationId
        self.spark.stop()
        self.spark = None
        log = EventLog(os.path.join(self.work, "eventlog", app_id))
        per_pass = [self.layer_facts(log, p, spans, static) for p in passes]
        layers = {
            k: statistics.median(d[k] for d in per_pass)
            for k in per_pass[0]
        } if per_pass else {}
        traced_rate = self.wl.rows / statistics.median(p[0] for p in passes) if passes else 0.0
        traced_cpu_rate = self.wl.rows / statistics.median(p[1].cpu_s for p in passes) if passes else 0.0
        return {
            "traced_pass_s": [p[0] for p in passes],
            "traced_pass_cpu_s": [p[1].cpu_s for p in passes],
            "layers": layers,
            "tracing_overhead": {
                "untraced_rows_per_s": untraced["rows_per_s"],
                "traced_rows_per_s": traced_rate,
                "overhead": 1 - traced_rate / untraced["rows_per_s"] if untraced["rows_per_s"] else 0.0,
                "untraced_rows_per_cpu_s": untraced["rows_per_cpu_s"],
                "traced_rows_per_cpu_s": traced_cpu_rate,
                "cpu_overhead": 1 - traced_cpu_rate / untraced["rows_per_cpu_s"]
                if untraced["rows_per_cpu_s"] else 0.0,
            },
        }

    def layer_facts(self, log, p, spans, static) -> dict:
        dt, res, t0, t1, w0, w1 = p
        facts = res.facts
        batches = facts.get("manifest.batches", 0)
        d = log.window(w0, w1, batches)
        mine = [s for s in spans if t0 <= s[2] and s[3] <= t1]

        def span_s(layer, call=None):
            return sum(s[3] - s[2] for s in mine if s[0] == layer and call in (None, s[1]))

        run_s = d["jvm.executor_run_s"] or float("nan")
        d["compiler.eval_share"] = d["compiler.eval_s"] / run_s
        d["kernels.python_share"] = d["kernels.python_stage_s"] / run_s
        d["sink.commit_share"] = d["sink.commit_s"] / run_s
        d.update(static)
        pairs = d.get("kernels.pairs_scored", 0)
        d["kernels.dup_ratio"] = facts.get("kernels.dups", 0) / pairs if pairs else 0.0
        d["manifest.batches"] = batches
        d["manifest.pending_s"] = span_s("manifest", "pending_partitions")
        d["manifest.record_ms"] = span_s("manifest", "_record") * 1e3 / batches if batches else 0.0
        d["manifest.pending_share"] = d["manifest.pending_s"] / dt
        d["manifest.record_share"] = span_s("manifest", "_record") / dt
        progress = facts.get("stream.progress")
        if progress:
            trig = sum(b["triggerExecution"] for b in progress)
            d["stream.batches"] = len(progress)
            d["stream.planning_ms"] = statistics.median(b["queryPlanning"] for b in progress)
            d["stream.addbatch_ms"] = statistics.median(b["addBatch"] for b in progress)
            d["stream.walcommit_ms"] = statistics.median(b["walCommit"] for b in progress)
            d["stream.addbatch_share"] = sum(b["addBatch"] for b in progress) / trig
            d["stream.input_rows_per_s"] = statistics.median(b["rate"] for b in progress)
        d["cache.tracked_after_pass"] = facts["cache.tracked_after_pass"]
        d["cache.release_ms"] = span_s("cache") * 1e3
        for s in mine:
            if s[0] == "exchange":  # one span per table check
                d[f"checks.{s[1]}_s"] = s[3] - s[2]
        d["pass_s"] = dt
        return d


def _stop_jvm() -> None:
    """Shut the driver JVM down and wait for it and its Python workers to
    exit (they otherwise outlive this process for a moment)."""
    from pyspark import SparkContext

    from sparkmetrics import child_pids

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while child_pids().get(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


def _cpu_probe() -> float:
    import bench

    return bench.cpu_probe(CORES, work=PROBE_WORK)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the engine and the row-suite oracle come from the checkout
    engine = [os.path.join(ROOT, "fsharp_data_validation_spark", "__init__.py"),
              os.path.join(ROOT, "__spark_entry__.py"), os.path.join(ROOT, "bench.py"),
              os.path.join(ROOT, "BENCHMARK.json")]
    missing = [p for p in engine if not os.path.isfile(p)]
    if missing:
        print(f"perfbench: not a checkout of the engine, missing {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench", f"work-{args.workload}-{args.seed}-{os.getpid()}")
    _pin_environment(work)
    load_before = os.getloadavg()
    probe_before = _cpu_probe()
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace), work)
    try:
        record = bench.run()
    finally:
        if bench.spark is not None:
            bench.spark.stop()
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    record.update(
        workload=args.workload,
        seed=args.seed,
        seconds=args.seconds,
        trace=args.trace,
        input=bench.wl.describe(),
        layer=bench.wl.layer,
        loop="closed, 1 client",
        nproc=os.cpu_count(),
        loadavg_before=load_before,
        loadavg_after=os.getloadavg(),
        cpu_probe_before_s=probe_before,
        cpu_probe_after_s=_cpu_probe(),
        cpu_probe_work=PROBE_WORK,
        attempted=bench.attempted,
        failed=bench.failed,
        problems=bench.problems[:20],
    )
    results = os.path.join(ROOT, ".perfbench", "results")
    os.makedirs(results, exist_ok=True)
    path = os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)

    e2e = record["end_to_end"]
    print(f"perfbench {args.workload} seed={args.seed}: {bench.wl.describe()}; closed loop, 1 client")
    print(f"  setup_s            {e2e['setup_s']:.3f} s (median of {SETUP_REPS} setups; "
          f"then {len(record['warmup_pass_s'])} warm-up passes)")
    print(f"  rows_per_s         {e2e['rows_per_s']:.1f} rows/s "
          f"({bench.wl.rows} rows / median pass {e2e['median_pass_s']:.3f} s, {e2e['timed_passes']} passes)")
    print(f"  rows_per_cpu_s     {e2e['rows_per_cpu_s']:.1f} rows/cpu-s "
          f"({bench.wl.rows} rows / median pass {e2e['median_pass_cpu_s']:.3f} CPU s of JVM less JIT + workers)")
    print(f"  peak_rss_mb        {e2e['peak_rss_mb']:.1f} MB (driver JVM + Python workers)")
    print(f"  error_rate         {e2e['error_rate']:.4f} ({bench.failed}/{bench.attempted} passes)")
    if "out_bytes_per_row" in e2e:
        print(f"  out_bytes_per_row  {e2e['out_bytes_per_row']:.2f} B/row")
    if "microbatch_p50_s" in e2e:
        print(f"  microbatch_p50_s   {e2e['microbatch_p50_s']:.4f} s")
        print(f"  microbatch_p90_s   {e2e['microbatch_p90_s']:.4f} s "
              f"({e2e['microbatches']} micro-batches, {e2e['microbatches_beyond_p90']} beyond p90)")
    if args.trace:
        ov = record["tracing_overhead"]
        print(f"  tracing overhead   {ov['overhead']:.3f} (traced {ov['traced_rows_per_s']:.1f} "
              f"vs untraced {ov['untraced_rows_per_s']:.1f} rows/s); CPU {ov['cpu_overhead']:.3f} "
              f"(traced {ov['traced_rows_per_cpu_s']:.1f} vs untraced "
              f"{ov['untraced_rows_per_cpu_s']:.1f} rows/cpu-s)")
        for k, v in sorted(record["layers"].items()):
            print(f"  {k:<32} {v:.6g}")
    print(f"  record: {os.path.relpath(path, ROOT)}")

    end_to_end, per_layer = _declared_metrics()
    if args.trace:
        layers = record["layers"]
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in per_layer.items()}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in end_to_end.items()}
    correct = bench.failed == 0 and bench.attempted > 0
    print(json.dumps({"correct": correct, "attempted": bench.attempted, "failed": bench.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
