"""Checkpoint-resumable validation runs with per-partition lineage + metrics
(the north rule's resumability requirement; SURVEY.md §7 step 7).

Structured Streaming checkpoints don't fit batch-over-table validation, so
resume is app-level: a *manifest* of one JSON document per completed input
partition, written atomically (tmp + rename). A resumed run anti-joins the
manifest — completed partitions are skipped entirely (their input is never
scanned: partition pruning via the partition predicate).

Manifest entry fields:
  partition        partition value, rendered by Spark (``cast(.. as string)``;
                   NULL is ``__HIVE_DEFAULT_PARTITION__``, the directory
                   name Hive layouts give it)
  status           "pass" | "fail"
  rows_scanned     rows validated in the partition
  rows_with_violations / violations
  constraints_evaluated
  input_snapshot   input pin — computed from the input's file listing
                   (``parquet_snapshot``), or caller-supplied (an Iceberg
                   snapshot id when a catalog is attached)
  started_at / finished_at (unix seconds)

Snapshot-drift semantics (the Iceberg-snapshot analogue for the parquet
fallback): every manifest entry records the input pin it validated against.
On resume, entries whose pin differs from the current input are DRIFTED —
their validation result describes data that no longer exists. ``on_drift``
selects the policy: ``"error"`` (default, fail loudly), ``"revalidate"``
(drifted partitions go back in the pending set), ``"ignore"``.

At 10^12-turn scale partitions are Iceberg day/bucket partitions; one
manifest entry per partition keeps the manifest tiny (thousands of entries)
regardless of row count.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass, replace
from typing import Dict, List, Optional, Sequence

from pyspark.sql import DataFrame, Observation, functions as F

from ..cache import persist_tracked, unpersist_tracked
from ..functions.compiler import Suite

# the rendering of a NULL partition value: Hive's directory name for it, so
# ``partition_snapshots`` keys a NULL partition the same way
_NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"


class SnapshotDriftError(RuntimeError):
    """The input changed under completed manifest entries (their pin no
    longer matches the current input snapshot)."""

    def __init__(self, drifted: List[str], current: str):
        super().__init__(
            f"input snapshot drift: {len(drifted)} completed partition(s) were "
            f"validated against a different input (current pin {current[:12]}…); "
            f"partitions: {drifted[:10]}{'…' if len(drifted) > 10 else ''}. "
            "Pass on_drift='revalidate' to redo them or on_drift='ignore' to keep."
        )
        self.drifted = drifted
        self.current = current


def parquet_snapshot(path: str) -> str:
    """Deterministic pin of a parquet directory's current state: sha256 over
    the sorted (relative path, size, mtime_ns) of every data file; a single
    parquet file is pinned by its own (name, size, mtime_ns). This is
    the parquet-fallback analogue of an Iceberg snapshot id — any append,
    rewrite, or delete changes it, while re-reading unchanged data does not.
    Metadata-only (no file bytes read): O(files) stat calls, same cost class
    as Iceberg's manifest-list read, so it stays cheap at thousands of
    files. With a real Iceberg catalog attached, pass the table's
    ``snapshot_id`` as ``input_snapshot`` instead."""
    import hashlib

    entries = []
    if os.path.isfile(path):
        st = os.stat(path)
        entries.append((os.path.basename(path), st.st_size, st.st_mtime_ns))
    for root, _dirs, files in os.walk(path):  # yields nothing for a file
        for name in files:
            if name.startswith((".", "_")) or name.endswith(".crc"):
                continue
            full = os.path.join(root, name)
            st = os.stat(full)
            entries.append(
                (os.path.relpath(full, path), st.st_size, st.st_mtime_ns)
            )
    h = hashlib.sha256()
    for rel, size, mtime in sorted(entries):
        h.update(f"{rel}\x00{size}\x00{mtime}\n".encode())
    return h.hexdigest()


def partition_snapshots(path: str, partition_col: str) -> dict:
    """Per-partition input pins for a hive-partitioned directory layout
    (``<path>/<partition_col>=<value>/...``): value -> pin of that
    partition's own files. This is the Iceberg per-partition-manifest
    analogue — a rewrite of ONE partition drifts only that partition's
    completed entries, so ``on_drift="revalidate"`` redoes exactly the
    rewritten partitions instead of the whole table. Returns {} when the
    input is not laid out by this partition column (the global
    ``parquet_snapshot`` pin then applies to every entry)."""
    out = {}
    prefix = partition_col + "="
    if not os.path.isdir(path):
        return out
    for name in sorted(os.listdir(path)):
        full = os.path.join(path, name)
        if os.path.isdir(full) and name.startswith(prefix):
            out[name[len(prefix):]] = parquet_snapshot(full)
    return out


def _atomic_write(path: str, payload: dict) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(payload, f, sort_keys=True)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def _write_parts(out: DataFrame, path: str) -> None:
    """Append ``out`` under ``path`` partitioned by ``part``. The batch's
    ``part=`` directories were deleted by ``_clear_parts`` first, so the
    append replaces them; a dynamic overwrite would redo that with a staging
    directory and one rename per partition."""
    out.write.mode("append").partitionBy("part").parquet(path)


def _clear_parts(spark, dirs: Sequence[str], parts: Sequence[str]) -> None:
    """Delete ``part=<value>`` under each of ``dirs`` for every value in
    ``parts``, so a redone partition keeps none of its old rows in any
    output, including one where it now has none. The directory name is
    Spark's own partition-path escaping, so the deleted path is the one
    Spark writes."""
    utils = spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    for part in parts:
        name = f"part={utils.escapePathName(part)}"
        for d in dirs:
            shutil.rmtree(os.path.join(d, name), ignore_errors=True)


def _safe_name(value) -> str:
    s = str(value)
    return "".join(c if c.isalnum() or c in "-_.=" else "_" for c in s)


@dataclass
class PartitionOutcome:
    partition: str
    status: str
    rows_scanned: int
    rows_with_violations: int
    violations: int
    constraints_evaluated: int


class ValidationRun:
    """Partition-at-a-time suite execution with manifest-based resume.

    ``run`` validates every partition not yet in the manifest, writes the
    violation rows (parquet, partitioned by the partition value) and one
    manifest entry per partition, and returns the outcomes. Re-invoking
    after an interruption resumes where it stopped.
    """

    def __init__(
        self,
        suite: Suite,
        out_dir: str,
        key_cols: Sequence[str],
        partition_col: str,
        input_snapshot: Optional[str] = None,
        input_path: Optional[str] = None,
        on_drift: str = "error",
        emit_reports: bool = False,
        emit_valid: bool = False,
    ):
        if on_drift not in ("error", "revalidate", "ignore"):
            raise ValueError(f"on_drift must be error|revalidate|ignore, got {on_drift!r}")
        self.suite = suite
        self.out_dir = out_dir
        self.emit_reports = emit_reports
        self.emit_valid = emit_valid
        self.key_cols = list(key_cols)
        self.partition_col = partition_col
        self.partition_snapshots: dict = {}
        if input_path is not None:
            # per-partition pins when the input is laid out by the partition
            # column (exact drift granularity); global pin otherwise
            self.partition_snapshots = partition_snapshots(input_path, partition_col)
            if input_snapshot is None:
                input_snapshot = parquet_snapshot(input_path)
        self.input_snapshot = input_snapshot
        self.on_drift = on_drift
        self.manifest_dir = os.path.join(out_dir, "manifest")
        self.violations_dir = os.path.join(out_dir, "violations")
        self.reports_dir = os.path.join(out_dir, "reports")
        self.valid_dir = os.path.join(out_dir, "valid")
        os.makedirs(self.manifest_dir, exist_ok=True)
        os.makedirs(self.violations_dir, exist_ok=True)

    # -- manifest ------------------------------------------------------------
    def completed_partitions(self) -> dict:
        done = {}
        for name in os.listdir(self.manifest_dir):
            if not name.endswith(".json"):
                continue
            with open(os.path.join(self.manifest_dir, name)) as f:
                doc = json.load(f)
            done[doc["partition"]] = doc
        return done

    def _record(self, outcome: PartitionOutcome, started: float) -> None:
        doc = {
            "partition": outcome.partition,
            "status": outcome.status,
            "rows_scanned": outcome.rows_scanned,
            "rows_with_violations": outcome.rows_with_violations,
            "violations": outcome.violations,
            "constraints_evaluated": outcome.constraints_evaluated,
            "input_snapshot": self._pin_for(outcome.partition),
            "started_at": int(started),
            "finished_at": int(time.time()),
        }
        _atomic_write(
            os.path.join(self.manifest_dir, _safe_name(outcome.partition) + ".json"),
            doc,
        )

    # -- execution -------------------------------------------------------------
    def _pin_for(self, partition: str) -> Optional[str]:
        """The input pin governing one partition: its own directory pin when
        the input is partition-laid-out, else the table-global pin."""
        return self.partition_snapshots.get(partition, self.input_snapshot)

    def drifted_partitions(self) -> List[str]:
        """Completed partitions whose recorded input pin differs from the
        pin governing them in this run (both sides non-null). With
        per-partition pins, a single-partition rewrite drifts exactly that
        partition; with only a global pin, any input change drifts every
        completed entry (the conservative fallback).

        Legacy-pin grace: manifests written before per-partition pins
        existed recorded the table-global pin for every entry, so an entry
        whose recorded pin equals EITHER the governing partition pin OR
        this run's global ``input_snapshot`` is treated as non-drifted —
        otherwise resuming an old manifest over an unchanged
        hive-partitioned input would flag every completed partition."""
        if self.input_snapshot is None and not self.partition_snapshots:
            return []

        def _drifted(p: str, doc: dict) -> bool:
            recorded = doc.get("input_snapshot")
            governing = self._pin_for(p)
            if recorded is None or governing is None:
                return False
            if recorded == governing:
                return False
            return recorded != self.input_snapshot  # legacy global-pin grace

        return sorted(
            p for p, doc in self.completed_partitions().items() if _drifted(p, doc)
        )

    def _part(self):
        """The partition value as a string, rendered by Spark: the pending
        list and the batch filter both use it, so every value a partition
        holds (NULL and booleans included) selects that partition's rows."""
        return F.coalesce(
            F.col(self.partition_col).cast("string"), F.lit(_NULL_PARTITION)
        )

    def pending_partitions(self, df: DataFrame) -> Dict[str, int]:
        """{partition: rows} for every partition still to validate, in
        partition order. One scan counts the rows of every partition; the
        counts are keyed by the rendered value, so values that render alike
        (NULL and a literal ``__HIVE_DEFAULT_PARTITION__``) add up."""
        pcol = self.partition_col
        rows: Dict[str, int] = {}
        counts = df.groupBy(pcol).count().orderBy(pcol).select(self._part(), "count")
        for part, n in counts.collect():
            rows[part] = rows.get(part, 0) + n
        done = self.completed_partitions()
        drifted = set(self.drifted_partitions())
        if drifted:
            if self.on_drift == "error":
                raise SnapshotDriftError(sorted(drifted), self.input_snapshot)
            if self.on_drift == "revalidate":
                return {p: n for p, n in rows.items() if p not in done or p in drifted}
        return {p: n for p, n in rows.items() if p not in done}

    def run(
        self,
        df: DataFrame,
        max_partitions: Optional[int] = None,
        batch_size: int = 1,
    ) -> List[PartitionOutcome]:
        """Validate pending partitions; ``batch_size`` partitions share one
        evaluation and one partitioned write per output,
        so the job count grows with ceil(P/K), not P — at thousands of
        Iceberg day/bucket partitions this is the difference between a
        scheduler stall and a handful of wide jobs. Manifest entries are
        recorded per batch, after its writes; an interrupted run redoes at
        most one batch.

        Each batch is one ``Suite.run`` over the batch input plus a string
        ``part`` column (the partition value). Its failing slice — keys,
        ``part``, failures and (with ``emit_reports``) the report, one row
        per failing row — is evaluated once, persisted, and freed when the
        batch ends, raised or not. The violations write materializes it and
        observes the per-partition ``rows_with_violations``/``violations``
        counts on the way; the reports write reads it again; ``valid`` is
        one filtered scan, and ``rows_scanned`` comes from the pending scan.
        So a batch runs no all-rows stats job. Every output is written
        partitioned by ``part``, after the batch's ``part=`` directories are
        cleared from each."""
        pending = self.pending_partitions(df)
        parts = list(pending)
        if max_partitions is not None:
            parts = parts[:max_partitions]
        pvalue = self._part()
        # "part" carries the partition value; a key of that name is that column
        keys = [k for k in self.key_cols if k != "part"] + ["part"]
        kept = ["failures"] + (["report"] if self.emit_reports else [])
        step = max(batch_size, 1)
        out_dirs = [self.violations_dir]
        out_dirs += [self.valid_dir] if self.emit_valid else []
        out_dirs += [self.reports_dir] if self.emit_reports else []
        outcomes = []
        for i in range(0, len(parts), step):
            batch = parts[i : i + step]
            started = time.time()
            # partition predicates -> partition pruning on a partitioned table
            pdf = df.filter(pvalue.isin(batch)).withColumn("part", pvalue)
            res = self.suite.run(pdf, keys)
            # one cached partition per batch partition: a cached plan runs
            # without adaptive coalescing, so a shuffle above the input (a
            # derived table) would otherwise leave spark.sql.shuffle.partitions
            # partitions, and every write would open a file per part in each
            failing = persist_tracked(
                res.failing.select(*keys, *kept).repartition(len(batch), "part")
            )
            try:
                res = replace(res, failing=failing)
                # the violations write is the slice's first reader: it
                # materializes the cache and counts the batch's failures
                counts = Observation()
                observed = failing.observe(counts, *res.failing_counts("part", batch))
                _clear_parts(df.sparkSession, out_dirs, batch)
                _write_parts(replace(res, failing=observed).violations, self.violations_dir)
                if self.emit_valid:
                    # the pipeline-gate output (Giraffe-shape): only fully clean
                    # rows flow onward, partitioned like the input
                    _write_parts(res.valid, self.valid_dir)
                if self.emit_reports:
                    # reference-wire-format JSON document per failing row
                    _write_parts(res.reports, self.reports_dir)
            finally:
                unpersist_tracked(failing)
            stats = counts.get
            for j, part in enumerate(batch):
                violations = stats[f"violations_{j}"] or 0
                outcome = PartitionOutcome(
                    partition=part,
                    status="fail" if violations else "pass",
                    rows_scanned=pending[part],
                    rows_with_violations=stats[f"rows_with_violations_{j}"],
                    violations=violations,
                    constraints_evaluated=len(self.suite.codes),
                )
                self._record(outcome, started)
                outcomes.append(outcome)
        return outcomes

    def summary(self) -> dict:
        done = self.completed_partitions()
        return {
            "partitions": len(done),
            "pass": sum(1 for d in done.values() if d["status"] == "pass"),
            "fail": sum(1 for d in done.values() if d["status"] == "fail"),
            "rows_scanned": sum(d["rows_scanned"] for d in done.values()),
            "violations": sum(d["violations"] for d in done.values()),
        }


def diff_runs(spark, prev_out_dir: str, cur_out_dir: str):
    """Run-over-run validation regression report — CI for data: compare
    two ``ValidationRun`` outputs per (path, code) and classify each as
    new / resolved / increased / decreased / stable. The operational
    question after every scheduled run is "what changed since yesterday";
    diffing the violation OUTPUTS answers it without re-reading either
    input table.

    Scale: two partial+final aggregates over the violation rows (already a
    small fraction of the input) followed by a full-outer join on the
    |paths|x|codes|-row summaries — KBs at any input size.

    Returns (path, code, prev_n, cur_n, delta, status) ordered by
    |delta| descending."""
    from pyspark.sql import functions as F

    def counts(d, alias):
        return (
            spark.read.parquet(os.path.join(d, "violations"))
            .groupBy("path", "code")
            .agg(F.count(F.lit(1)).alias(alias))
        )

    j = (
        counts(prev_out_dir, "prev_n")
        .join(counts(cur_out_dir, "cur_n"), ["path", "code"], "full_outer")
        .select(
            "path",
            "code",
            F.coalesce("prev_n", F.lit(0)).cast("bigint").alias("prev_n"),
            F.coalesce("cur_n", F.lit(0)).cast("bigint").alias("cur_n"),
        )
    )
    delta = F.col("cur_n") - F.col("prev_n")
    status = (
        F.when(F.col("prev_n") == 0, F.lit("new"))
        .when(F.col("cur_n") == 0, F.lit("resolved"))
        .when(delta > 0, F.lit("increased"))
        .when(delta < 0, F.lit("decreased"))
        .otherwise(F.lit("stable"))
    )
    return j.select(
        "path", "code", "prev_n", "cur_n",
        delta.cast("bigint").alias("delta"),
        status.alias("status"),
    ).orderBy(F.abs(F.col("delta")).desc(), "path", "code")
