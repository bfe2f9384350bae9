"""Benchmark harness (driver contract).

Runs every headline query from ``__spark_entry__.queries()`` at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` (default 32) and prints the JSON record:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"row_suite": sec, ...}, "sf": 0.1, ...}

followed by a short headline-only summary line (same metric/value/unit,
no per-query dict) printed LAST so a bounded tail capture always ends
with a complete JSON object.

Each query is forced end-to-end with a ``noop``-format write (full
evaluation, no driver collect, no disk). The flagship throughput number
(validated turns/sec over the full row-constraint suite — the
BASELINE.json metric) is reported under ``turns_per_sec``.

Scaling-efficiency evidence (local[8] vs local[32]) lives in
``tools/bench_scaling.py`` / BENCH.md, not here: the driver calls this
file once per round at a fixed parallelism.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

#: Quiet-box reference for the fixed-work CPU probe below (seconds for
#: $SPARK_GRAFT_CPUS concurrent _burn(30M) processes, min-of-3, measured
#: at cpus=32 on the calmest window observed in the r5 session: 2.62-2.97
#: across 4 runs, best taken — see BENCH.md "Contention probe
#: calibration"). The r4 driver session recorded 8 false >2x regressions
#: that took a judge session to adjudicate as host contention; the record
#: now carries its own calibration: probe > 1.2x this reference =>
#: contended=true, and per-query numbers should be read as upper bounds.
#: Calibrated FOR the driver contract's cpus=32; at lower $SPARK_GRAFT_CPUS
#: the probe finishes faster, so the flag only gets more conservative
#: (under-flags, never false-positives).
PROBE_REF_SEC = 2.6


def _burn(n: int) -> int:
    x = 0
    for i in range(n):
        x += i * i
    return x


def cpu_probe(procs: int, work: int = 30_000_000) -> float:
    """Fixed-work CPU probe: wall seconds for ``procs`` concurrent burn
    processes (the load shape the bench itself creates), min-of-3 after a
    warm pass. tools/bench_scaling.py's cpu_ceiling calls it at N and 4N
    processes for the hardware scaling ceiling."""
    import multiprocessing as mp

    def run() -> float:
        t0 = time.perf_counter()
        with mp.Pool(procs) as p:
            p.map(_burn, [work] * procs)
        return time.perf_counter() - t0

    run()  # warm pool/forks
    return min(run() for _ in range(3))


def force(df) -> None:
    """Fully evaluate a DataFrame on executors (no collect)."""
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from fsharp_data_validation_spark.sources.session import get_spark

    probe_pre = round(cpu_probe(int(cpus)), 3)

    spark = get_spark(master=f"local[{cpus}]", app="bench")
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry

    from fsharp_data_validation_spark.cache import release_caches

    qs = entry.queries()

    # Warm the JVM + parquet footer caches once so per-query numbers
    # measure the plan, not first-touch overhead.
    force(qs["row_suite"](spark, sf_dir))
    release_caches(spark, sweep_rdds=True)

    timings: dict[str, float] = {}
    for name, fn in qs.items():
        # min of 3 passes per query: this shared VM's capacity can move
        # several-fold mid-run (see BENCH.md), and the min is the least-
        # interference estimate of the plan's cost (r4 post-mortem:
        # min-of-2 was too few under contention — 8 false regressions)
        best = None
        try:
            for _ in range(3):
                t0 = time.perf_counter()
                force(fn(spark, sf_dir))
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
            timings[name] = round(best, 4)
        except Exception as ex:  # never lose the whole bench to one query
            timings[name] = round(best, 4) if best is not None else -1.0
            print(f"[bench-error] {name}: {type(ex).__name__}: {ex}", file=sys.stderr)
        finally:
            # release the query's persisted intermediates + checkpoint
            # residue so one query's storage never pressures the next
            release_caches(spark, sweep_rdds=True)

    # Flagship throughput: validated turns/sec through the full row suite.
    from fsharp_data_validation_spark.sources.transcripts import derive_transcripts

    n_turns = derive_transcripts(spark, sf_dir).count()
    suite_sec = timings.get("row_suite") or 1e-9
    turns_per_sec = round(n_turns / suite_sec, 1) if suite_sec > 0 else None

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = sf

    # post-run probe: contention can arrive mid-run, so calibrate on both
    # sides and flag if EITHER side ran >1.2x the quiet-box reference
    probe_post = round(cpu_probe(int(cpus)), 3)
    contended = max(probe_pre, probe_post) > 1.2 * PROBE_REF_SEC
    probe_fields = {
        "probe_sec_pre": probe_pre,
        "probe_sec_post": probe_post,
        "probe_ref_sec": PROBE_REF_SEC,
        "contended": contended,
    }

    total = round(sum(t for t in timings.values() if t > 0), 2)
    metric = "validated turns/sec, full constraint suite (+ headline query wall times)"
    # Line 1: the full per-query record (compact: 2-decimal timings, no
    # whitespace). Line 2 (printed LAST, deliberately short): the headline
    # fields alone, so the driver's ~2KB tail capture always ends with a
    # complete JSON object even if line 1 outgrows the capture window
    # (r3 post-mortem: 98-query line was truncated and BENCH_r03.json
    # recorded parsed: null).
    compact = {k: round(v, 2) for k, v in timings.items()}
    print(
        json.dumps(
            {
                "metric": metric,
                "value": total,
                "unit": "sec",
                "queries": compact,
                "sf": sf_val,
                "turns": n_turns,
                "turns_per_sec": turns_per_sec,
                "cpus": int(cpus),
                **probe_fields,
            },
            separators=(",", ":"),
        )
    )
    print(
        json.dumps(
            {
                "metric": metric,
                "value": total,
                "unit": "sec",
                "sf": sf_val,
                "turns": n_turns,
                "turns_per_sec": turns_per_sec,
                "cpus": int(cpus),
                "n_queries": len(timings),
                **probe_fields,
            },
            separators=(",", ":"),
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
