"""SparkSession factory tuned for this engine.

Local-mode defaults follow the public Spark tuning guidance: AQE on (runtime
re-plan + skew handling), shuffle partitions sized to cores (not 200), Arrow
enabled for the few vectorized-UDF kernels, UTC session timezone so timestamp
math matches the DuckDB oracle. Python workers run under the engine's own
daemon (``pyworker``), which skips re-reading unchanged zip directories on
every task; the package root goes on the workers' path so the daemon
imports from any working directory.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

_PACKAGE_ROOT = str(Path(__file__).resolve().parents[2])


def get_spark(
    app: str = "fsharp_data_validation_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
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
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "fsharp_data_validation_spark.pyworker")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
