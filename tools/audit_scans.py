"""Multi-branch re-plan audit: count physical parquet-scan nodes in every
driver query's STATIC plan and flag outliers (see BENCH.md "multi-branch
re-plan audit"). Spark does not dedupe common subplans, so a tiny aggregate
consumed by k branches re-plans its whole subtree — including the data scan
— k times unless persisted.

Interpretation notes:
- the `docs` view is a 3-branch UNION ALL over one parquet file, so each
  LOGICAL read of docs contributes 3 scan nodes; `transcripts` contributes 1;
- operators that persist intermediates (contamination, jaccard, drift
  grids) still PRINT the full subtree per branch in the static plan —
  the cache manager substitutes InMemoryRelation at planning time, so high
  static counts there are rendering, not extra I/O;
- dual-input algorithms (stratified/global_shuffle: count pass + data pass)
  have an algorithmic minimum of 2 logical reads.

Usage: python tools/audit_scans.py [sf_dir] [threshold]
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    threshold = int(sys.argv[2]) if len(sys.argv) > 2 else 4

    from fsharp_data_validation_spark.sources.session import get_spark

    spark = get_spark(master="local[8]", app="audit_scans")
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry

    rows = []
    for name, fn in entry.queries().items():
        try:
            df = fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            rows.append((len(re.findall(r"\(\d+\) Scan parquet", plan)), name))
        except Exception as ex:  # keep auditing the rest
            print(f"[error] {name}: {type(ex).__name__}: {ex}", file=sys.stderr)
        spark.catalog.clearCache()

    for n, name in sorted(rows, reverse=True):
        marker = "  <-- inspect" if n >= threshold else ""
        print(f"{n:3d}  {name}{marker}")


if __name__ == "__main__":
    main()
