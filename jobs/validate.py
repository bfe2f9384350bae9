"""spark-submit entry point: validate a transcripts table with the full
constraint suite, checkpoint-resumably, with per-partition lineage.

    spark-submit --master local[32] \
        --py-files fsharp_data_validation_spark.zip \
        jobs/validate.py --input /path/transcripts.parquet \
        --output /tmp/validation_out --partition-col part_date \
        [--events-dir /root/testdata/sf0.01] [--strict] [--max-partitions N]

Exit status: 0 on all-pass; 2 when --strict and any partition failed
(≅ raiseIfInvalid, /root/reference/src/FSharp.Data.Validation/Library.fs:118-121).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession, functions as F

# running straight from the repo (no --py-files): put the repo root on the path
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from fsharp_data_validation_spark.operators.transcript_suite import transcript_row_suite
from fsharp_data_validation_spark.plans.manifest import ValidationRun
from fsharp_data_validation_spark.sources.session import get_spark
from fsharp_data_validation_spark.sources.transcripts import (
    derive_transcripts,
    load_transcripts,
)


def _session() -> SparkSession:
    """The caller's active session when ``main`` runs in-process, used as
    it is. Otherwise ``get_spark``'s session (UTC session time zone, so
    ``to_date(ts)`` partitions do not follow the host's zone; shuffle
    partitions sized to the cores; the ``pyworker`` daemon) on the master
    spark-submit launched this process with: ``builder.master()`` would
    override its ``--master``. Run as a plain script, get_spark's local
    default applies."""
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    master = None
    if "PYSPARK_GATEWAY_PORT" in os.environ:  # launched by spark-submit
        SparkContext._ensure_initialized()  # attach to the launching JVM
        master = SparkConf().get("spark.master", None)
    return get_spark(app="validate_transcripts", master=master)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="transcripts table (parquet path or table name)")
    ap.add_argument(
        "--events-dir",
        help="derive transcripts from <dir>/events.parquet (test harness path)",
    )
    ap.add_argument("--output", required=True)
    ap.add_argument("--partition-col", default="part_date")
    ap.add_argument("--strict", action="store_true")
    ap.add_argument("--max-partitions", type=int, default=None)
    ap.add_argument(
        "--batch-size",
        type=int,
        default=16,
        help="input partitions validated per Spark job (resume granularity)",
    )
    ap.add_argument(
        "--snapshot",
        default=None,
        help="input snapshot pin for lineage (e.g. an Iceberg snapshot id); "
        "defaults to an automatic file-listing pin of --input or of "
        "--events-dir's events.parquet",
    )
    ap.add_argument(
        "--on-drift",
        choices=["error", "revalidate", "ignore"],
        default="error",
        help="what to do when completed manifest entries were validated "
        "against a different input snapshot",
    )
    ap.add_argument(
        "--emit-reports",
        action="store_true",
        help="also write per-row JSON violation reports (reference wire format)",
    )
    ap.add_argument(
        "--emit-valid",
        action="store_true",
        help="also write the validated (clean) rows, partitioned like the input",
    )
    ap.add_argument(
        "--compare-to",
        default=None,
        metavar="PREV_OUTPUT",
        help="previous run's --output dir: print a per-(path, code) "
        "violation diff (new/resolved/increased/decreased/stable) after "
        "this run — CI-for-data regression report; report-only",
    )
    ap.add_argument(
        "--profile",
        action="store_true",
        help="also write <output>/profile.json: Deequ-style check suite, "
        "functional-dependency violation profile, suggested constraints, "
        "daily violation-rate anomalies, and the moments rollup "
        "over text length (all KB-scale aggregates; report-only, does not "
        "affect exit status)",
    )
    ap.add_argument(
        "--schema",
        choices=["conform", "enforce", "off"],
        default="conform",
        help="schema-contract gate before the suite: 'conform' reorders + "
        "applies safe widening casts and fails on real drift; 'enforce' "
        "additionally fails on nullability relaxations and extra columns; "
        "'off' skips the gate",
    )
    args = ap.parse_args(argv)

    spark = _session()
    spark.sparkContext.setLogLevel("WARN")

    if args.events_dir:
        df = derive_transcripts(spark, args.events_dir)
    elif args.input:
        df = load_transcripts(spark, args.input)
    else:
        ap.error("one of --input / --events-dir is required")
    if args.schema != "off":
        from fsharp_data_validation_spark.functions.schema_contract import (
            TRANSCRIPT_CONTRACT,
            conform_schema,
            schema_violations,
        )

        from pyspark.sql.types import StructType

        # a pre-existing partition column is part of the table's layout,
        # not drift — carry it through the conformance projection
        contract = TRANSCRIPT_CONTRACT
        if args.partition_col in df.columns:
            contract = StructType(
                list(TRANSCRIPT_CONTRACT.fields) + [df.schema[args.partition_col]]
            )
        if args.schema == "enforce":
            bad = [
                v
                for v in schema_violations(df.schema, contract)
                if v["status"] != "ok"
            ]
            if bad:
                print(json.dumps({"schema_violations": bad}), file=sys.stderr)
                return 3
        df = conform_schema(df, contract)

    if args.partition_col not in df.columns:
        df = df.withColumn(args.partition_col, F.to_date("ts"))

    # the input the run pins: events.parquet for --events-dir, else --input
    if args.events_dir:
        input_path = os.path.join(args.events_dir, "events.parquet")
    else:
        input_path = args.input if os.path.exists(args.input) else None
    run = ValidationRun(
        suite=transcript_row_suite(),
        out_dir=args.output,
        key_cols=["conv_id", "turn_idx", "ts"],
        partition_col=args.partition_col,
        input_snapshot=args.snapshot,
        input_path=input_path,
        on_drift=args.on_drift,
        emit_reports=args.emit_reports,
        emit_valid=args.emit_valid,
    )
    outcomes = run.run(
        df, max_partitions=args.max_partitions, batch_size=args.batch_size
    )
    if args.profile:
        from fsharp_data_validation_spark.operators.checks import (
            Check,
            completeness,
            compliance,
            dataset_checks,
            fd_violations,
            rate_anomaly,
            suggest_constraints,
            uniqueness,
        )
        from fsharp_data_validation_spark.operators.stats import (
            moments_partition_sketches,
            moments_rollup,
        )
        from fsharp_data_validation_spark.sources.transcripts import ROLES

        checks = dataset_checks(
            df,
            [
                Check("text_completeness", completeness("text"), ">=", 0.95),
                Check(
                    "role_compliance",
                    compliance(F.col("role").isin(list(ROLES))),
                    ">=",
                    0.99,
                ),
                Check("key_uniqueness", uniqueness(["conv_id", "turn_idx"]), ">=", 1.0),
            ],
        )
        fd = fd_violations(
            df,
            [(["conv_id", "turn_idx"], "role"), (["tool"], "role")],
        )
        mom = moments_rollup(
            moments_partition_sketches(
                df.filter(F.col("text").isNotNull()).select(
                    F.col(args.partition_col).alias("part"),
                    F.length("text").alias("text_len"),
                ),
                "part",
                "text_len",
            )
        )
        suggested = suggest_constraints(
            df,
            string_cols=["conv_id", "role", "text", "tool"],
            numeric_cols=["turn_idx"],
        )
        anomalies = rate_anomaly(
            df,
            F.to_date("ts"),
            transcript_row_suite().any_failure_column(),
        )
        profile = {
            "checks": [r.asDict() for r in checks.collect()],
            "fd_violations": [r.asDict() for r in fd.collect()],
            "text_len_moments": [r.asDict() for r in mom.collect()],
            # discovery + monitoring companions of the asserted suite:
            # the constraints the data currently supports, and control-chart
            # z-scores of the daily violation-rate series
            "suggested_constraints": [r.asDict() for r in suggested.collect()],
            "rate_anomalies": [
                r.asDict() for r in anomalies.filter(F.col("anomaly")).collect()
            ],
        }
        os.makedirs(args.output, exist_ok=True)
        with open(os.path.join(args.output, "profile.json"), "w") as f:
            json.dump(profile, f, default=str, indent=1)

    if args.compare_to:
        from fsharp_data_validation_spark.plans.manifest import diff_runs

        diff = [
            r.asDict()
            for r in diff_runs(spark, args.compare_to, args.output).collect()
        ]
        print(json.dumps({"diff_vs_previous": diff}))

    # release any operator-persisted intermediates before summarizing —
    # a resumed/looped driver must not accumulate storage across runs
    from fsharp_data_validation_spark.cache import release_caches

    release_caches(spark)
    summary = run.summary()
    print(json.dumps({"processed": len(outcomes), **summary}))
    if args.strict and summary["fail"] > 0:
        return 2
    return 0


if __name__ == "__main__":
    sys.exit(main())
