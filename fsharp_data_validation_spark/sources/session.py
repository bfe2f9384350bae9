"""SparkSession factory tuned for this engine.

Local-mode defaults follow the public Spark tuning guidance: AQE on (runtime
re-plan + skew handling), shuffle partitions sized to cores (not 200), Arrow
enabled for the few vectorized-UDF kernels, UTC session timezone so timestamp
math matches the DuckDB oracle, a driver heap of at most half the machine.
Python workers run under the engine's own daemon (``pyworker``), which skips
re-reading unchanged zip directories on every task; the package root goes on
the workers' path so the daemon imports from any working directory.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

_PACKAGE_ROOT = str(Path(__file__).resolve().parents[2])


def _driver_memory() -> str:
    """``SPARK_DRIVER_MEMORY``, else half the machine's physical memory
    (whole GiB, at least 1g) capped at 24g: a local-mode driver heap sized
    past the machine gets the JVM killed when memory runs short, not just
    slowed."""
    if "SPARK_DRIVER_MEMORY" in os.environ:
        return os.environ["SPARK_DRIVER_MEMORY"]
    half_gib = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2**31
    return f"{min(max(half_gib, 1), 24)}g"


def _cpus() -> int:
    """``SPARK_GRAFT_CPUS``, else the cores this process may run on: the
    default ``local[N]`` master and the shuffle partitions under
    ``local[*]`` follow the host, not a fixed core count."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def get_spark(
    app: str = "fsharp_data_validation_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra: dict | None = None,
) -> SparkSession:
    cpus = _cpus()
    master = master or f"local[{cpus}]"
    # parse local[N] to size shuffle partitions to parallelism
    if shuffle_partitions is None:
        inner = master.split("[")[-1].rstrip("]")
        shuffle_partitions = cpus if inner == "*" else int(inner) if inner.isdigit() else cpus
    b = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", _driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "fsharp_data_validation_spark.pyworker")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
