"""Spark's built-in instruments, read from outside the engine.

``EventLog`` parses a local, uncompressed Spark event log and sums, over a
time window, the SQL metrics of the executed plans (scan time, rows and
bytes, write commit time and bytes, Python-node traffic) and the task
metrics (run time, GC, shuffle, spill). ``RssSampler`` samples the resident
memory, and ``tree_cpu_s`` reads the CPU time, of this process's child tree
(the driver JVM and its Python workers) from ``/proc``.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
from collections import defaultdict

PYTHON_NODES = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "FlatMapGroupsInPandas",
    "FlatMapGroupsInArrow",
    "FlatMapCoGroupsInPandas",
    "MapInPandas",
    "MapInArrow",
    "AggregateInPandas",
    "WindowInPandas",
)
WRITE_NODE = "Execute InsertIntoHadoopFsRelationCommand"
SCAN_NODE = "Scan parquet"
_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"
_SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
_DRIVER_ACCUM = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"


def _walk(node):
    yield node
    for child in node["children"]:
        yield from _walk(child)


class EventLog:
    """One application's event log, indexed for ``window`` queries."""

    def __init__(self, path: str):
        self.execs: dict = {}  # execution id -> {desc, start, plan}
        self.metric: dict = {}  # accumulator id -> (execution id, node, metric name, type)
        self.total: dict = defaultdict(float)  # accumulator id -> summed updates
        self.tasks: list = []  # one dict per finished task
        self.jobs: list = []  # (submission time, execution id, description)
        with open(path) as f:
            for line in f:
                self._add(json.loads(line))

    def _register(self, eid: int, plan: dict) -> None:
        for node in _walk(plan):
            for m in node["metrics"]:
                self.metric[m["accumulatorId"]] = (eid, node, m["name"], m["metricType"])

    def _add(self, e: dict) -> None:
        kind = e["Event"]
        if kind == _SQL_START:
            eid = e["executionId"]
            self.execs[eid] = {"desc": e["description"], "start": e["time"], "plan": e["sparkPlanInfo"]}
            self._register(eid, e["sparkPlanInfo"])
        elif kind == _SQL_AQE:
            eid = e["executionId"]
            if eid in self.execs:
                self.execs[eid]["plan"] = e["sparkPlanInfo"]
                self._register(eid, e["sparkPlanInfo"])
        elif kind == _SQL_END:
            if e["executionId"] in self.execs:
                self.execs[e["executionId"]]["end"] = e["time"]
        elif kind == _DRIVER_ACCUM:
            for acc_id, value in e["accumUpdates"]:
                self.total[acc_id] += float(value)
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            eid = props.get("spark.sql.execution.id")
            self.jobs.append(
                (e["Submission Time"], int(eid) if eid else None, props.get("spark.job.description"))
            )
        elif kind == "SparkListenerTaskEnd":
            info = e["Task Info"]
            task = {"stage": e["Stage ID"], "launch": info["Launch Time"], "accs": {}}
            named = defaultdict(float)
            for acc in info.get("Accumulables", []):
                upd = acc.get("Update")
                if upd is None:
                    continue
                self.total[acc["ID"]] += float(upd)
                task["accs"][acc["ID"]] = float(upd)
                named[acc.get("Name", "")] += float(upd)
            task["run_ms"] = named["internal.metrics.executorRunTime"]
            task["gc_ms"] = named["internal.metrics.jvmGCTime"]
            task["input_bytes"] = named["internal.metrics.input.bytesRead"]
            task["shuffle_write"] = named["internal.metrics.shuffle.write.bytesWritten"]
            task["shuffle_read"] = (
                named["internal.metrics.shuffle.read.localBytesRead"]
                + named["internal.metrics.shuffle.read.remoteBytesRead"]
            )
            task["spill"] = named["internal.metrics.diskBytesSpilled"]
            self.tasks.append(task)

    # -- queries over a window [t0, t1] of epoch milliseconds ---------------
    def _sql(self, eids, node_pred, name: str) -> float:
        """Sum of one SQL metric over matching nodes, in base units
        (seconds for timings, else the raw count or bytes)."""
        out = 0.0
        for acc_id, (eid, node, mname, mtype) in self.metric.items():
            if eid in eids and mname == name and node_pred(node):
                v = self.total.get(acc_id, 0.0)
                out += v / 1e3 if mtype == "timing" else v / 1e9 if mtype == "nsTiming" else v
        return out

    def window(self, t0: float, t1: float, batches: int = 0) -> dict:
        eids = {i for i, x in self.execs.items() if t0 <= x["start"] <= t1}
        tasks = [t for t in self.tasks if t0 <= t["launch"] <= t1]
        is_scan = lambda n: n["nodeName"].startswith(SCAN_NODE)  # noqa: E731
        is_write = lambda n: n["nodeName"].startswith(WRITE_NODE)  # noqa: E731

        def accs(pred, name=None):
            return {
                a for a, (eid, node, mname, _) in self.metric.items()
                if eid in eids and pred(node) and name in (None, mname)
            }

        py_accs = accs(lambda n: n["nodeName"] in PYTHON_NODES)
        py_stages = {t["stage"] for t in tasks if py_accs & t["accs"].keys()}
        # tasks that evaluate the suite: they update a metric of a node
        # holding its RLIKE format checks; their run time less their scan
        # time is the suite's evaluation (and whatever is fused with it)
        suite_accs = accs(lambda n: "RLIKE" in n["simpleString"])
        scan_time_accs = accs(is_scan, "scan time")
        eval_ms = sum(
            t["run_ms"] - sum(v for a, v in t["accs"].items() if a in scan_time_accs)
            for t in tasks
            if suite_accs & t["accs"].keys()
        )
        scans = sum(is_scan(n) for eid in eids for n in _walk(self.execs[eid]["plan"]))

        # skew: max / median task run time in the widest stage that reads a
        # shuffle (the widest stage when none does)
        by_stage = defaultdict(list)
        for t in tasks:
            by_stage[t["stage"]].append(t)
        shuffled = [s for s, ts in by_stage.items() if any(t["shuffle_read"] for t in ts)]
        widest = max(
            shuffled or list(by_stage),
            key=lambda s: (len(by_stage[s]), sum(t["run_ms"] for t in by_stage[s])),
            default=None,
        )
        skew = 0.0
        if widest is not None:
            runs = [t["run_ms"] for t in by_stage[widest]]
            med = statistics.median(runs)
            skew = max(runs) / med if med else 1.0

        manifest_eids = {i for i in eids if self.execs[i]["desc"] == "manifest:ValidationRun.run"}
        manifest_scans = sum(is_scan(n) for i in manifest_eids for n in _walk(self.execs[i]["plan"]))
        manifest_jobs = sum(
            1 for t, eid, d in self.jobs if t0 <= t <= t1 and d == "manifest:ValidationRun.run"
        )
        run_s = sum(t["run_ms"] for t in tasks) / 1e3
        return {
            "sources.scan_s": self._sql(eids, is_scan, "scan time"),
            "sources.rows_read": self._sql(eids, is_scan, "number of output rows"),
            "sources.bytes_read": sum(t["input_bytes"] for t in tasks),
            "sources.scans": scans,
            "compiler.eval_s": eval_ms / 1e3,
            "exchange.shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks),
            "exchange.shuffle_read_bytes": sum(t["shuffle_read"] for t in tasks),
            "exchange.spill_bytes": sum(t["spill"] for t in tasks),
            "exchange.task_skew": skew,
            "exchange.widest_stage_tasks": len(by_stage[widest]) if widest is not None else 0,
            "kernels.python_stage_s": sum(t["run_ms"] for t in tasks if t["stage"] in py_stages) / 1e3,
            "kernels.arrow_rows": self._sql(
                eids, lambda n: n["nodeName"] == "ArrowEvalPython", "number of output rows"
            ),
            "kernels.arrow_bytes": self._sql(
                eids, lambda n: n["nodeName"] in PYTHON_NODES, "data sent to Python workers"
            ),
            "manifest.scans_per_batch": manifest_scans / batches if batches else 0.0,
            "manifest.jobs_per_batch": manifest_jobs / batches if batches else 0.0,
            "sink.commit_s": self._sql(eids, is_write, "task commit time")
            + self._sql(eids, is_write, "job commit time"),
            "sink.bytes": self._sql(eids, is_write, "written output"),
            "sink.files": self._sql(eids, is_write, "number of written files"),
            "jvm.gc_s": sum(t["gc_ms"] for t in tasks) / 1e3,
            "jvm.executor_run_s": run_s,
            "spark.executions": len(eids),
            "spark.tasks": len(tasks),
        }


def child_pids() -> dict:
    """Parent pid -> list of child pids, from ``/proc``."""
    kids = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while listing
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids[ppid].append(int(name))
    return kids


def _rss_bytes(pid: int, page: int) -> int:
    with open(f"/proc/{pid}/comm") as f:
        comm = f.read().strip()
    # only the JVM and Python processes: a child the JVM spawns to run a
    # command shares the JVM's memory (vfork) and would count it twice
    if comm != "java" and not comm.startswith("python"):
        return 0
    with open(f"/proc/{pid}/statm") as f:
        return int(f.read().split()[1]) * page


def _descendants(root: int):
    """Pids of the processes below ``root`` (not ``root`` itself)."""
    kids = child_pids()
    todo = list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        yield pid


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of the JVM and Python descendants of ``root`` (not
    ``root`` itself)."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in _descendants(root):
        try:
            total += _rss_bytes(pid, page)
        except OSError:  # the process ended while sampling
            continue
    return total


def _stat_ticks(path: str, n: int) -> int:
    """Sum of the first ``n`` of utime, stime, cutime, cstime in a
    ``/proc`` stat file."""
    with open(path) as f:
        return sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[11 : 11 + n])


def _jit_ticks(pid: int) -> int:
    """CPU ticks of a JVM's JIT compiler threads (named ``C1/C2
    CompilerThreadN``; the JVM must not start and stop them on demand, or
    a stopped one's time would jump back into the process total)."""
    ticks = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if "CompilerThre" not in f.read():
                    continue
            ticks += _stat_ticks(f"/proc/{pid}/task/{tid}/stat", 2)
        except OSError:  # the thread ended while sampling
            continue
    return ticks


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, reaped children included) used so far by
    the descendants of ``root`` (not ``root`` itself): the driver JVM, its
    Python daemon and workers, without the JVM's JIT compiler threads.
    Those work off a compile backlog whose size depends on how much CPU
    earlier passes were left, so their share of one pass is the least
    repeatable part of it. Time the hypervisor gave to other guests (steal)
    is in none of it."""
    ticks = 0
    for pid in _descendants(root):
        try:
            ticks += _stat_ticks(f"/proc/{pid}/stat", 4)
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    ticks -= _jit_ticks(pid)
        except OSError:  # the process ended while sampling; its parent has its time
            continue
    return ticks / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Peak resident memory of this process's child tree, sampled every
    ``interval`` seconds on a background thread between start and stop."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while True:
            self.peak = max(self.peak, tree_rss_bytes(me))
            self.samples += 1
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
