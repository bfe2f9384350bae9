"""Driver-mimic: run every queries() entry on Spark and its oracle_sql() on
DuckDB over the same sf dir; compare row count, column names, and sorted
value multisets.

Usage: python tools/check_oracle.py [sf_dir] [names... | --skip-quadratic]

``--skip-quadratic`` drops the queries registered with ``quadratic=True``,
whose ORACLES (not operators) are quadratic in DuckDB — all-pairs/
recursive-CTE spec forms that take tens of minutes at sf0.1 (the sf0.01
gate scale runs them fine). Use it for the 10x-scale spot-sweep: every
other oracle must still hash-match."""

from __future__ import annotations

import math
import sys
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 6)
    if isinstance(v, bool):
        return bool(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return tuple(norm(x) for x in v)
    return v


def rows_key(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    normed = (tuple(norm(r[i]) for i in order) for r in rows)
    # null-safe sort: NULLs first within a column, never compared to values
    return sorted(normed, key=lambda t: tuple((v is None, "" if v is None else v) for v in t))


_DUCK2CANON = {
    "TINYINT": "i8", "SMALLINT": "i16", "INTEGER": "i32", "BIGINT": "i64",
    "HUGEINT": "i128", "FLOAT": "f32", "DOUBLE": "f64", "VARCHAR": "str",
    "DATE": "date", "TIMESTAMP": "ts", "BOOLEAN": "bool",
}
_SPARK2CANON = {
    "tinyint": "i8", "smallint": "i16", "int": "i32", "bigint": "i64",
    "float": "f32", "double": "f64", "string": "str",
    "date": "date", "timestamp": "ts", "timestamp_ntz": "ts", "boolean": "bool",
}


def type_mismatches(sdf, rel):
    """The driver's value hash is serialization-type-sensitive (round 1:
    DuckDB HUGEINT vs Spark BIGINT broke psi_by_day/ks_by_day despite equal
    values). Return (hard, soft) mismatch lists: hard = DuckDB HUGEINT (no
    Spark counterpart, always hash-breaking); soft = differing int widths."""
    stypes = {c.lower(): _SPARK2CANON.get(t, t) for c, t in sdf.dtypes}
    hard, soft = [], []
    for c, t in zip(rel.columns, rel.types):
        d = _DUCK2CANON.get(str(t).upper(), str(t).upper())
        s = stypes.get(c.lower())
        if d == "i128":
            hard.append(f"{c}: duck=HUGEINT spark={s} (un-CAST SUM/aggregate?)")
        elif s is not None and d != s and {d, s} <= {"i8", "i16", "i32", "i64"}:
            soft.append(f"{c}: duck={d} spark={s}")
    return hard, soft


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    args = sys.argv[2:]
    skip_quad = "--skip-quadratic" in args
    only = set(a for a in args if not a.startswith("--"))

    from fsharp_data_validation_spark.sources.session import get_spark
    import __spark_entry__ as e

    spark = get_spark(master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    from fsharp_data_validation_spark.cache import release_caches

    failures = ok = skipped = 0
    for name in e.queries():
        fn, oracle, quadratic = e.REGISTRY[name]
        if only and name not in only:
            continue
        if skip_quad and quadratic:
            print(f"[skip-quad ] {name}: oracle quadratic at this scale")
            skipped += 1
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as ex:
            print(f"[FAIL-spark] {name}: {type(ex).__name__}: {str(ex)[:400]}")
            failures += 1
            continue
        finally:
            release_caches(spark, sweep_rdds=True)
        try:
            rel = con.sql(oracle)
            ocols = [c.lower() for c in rel.columns]
            orows = rel.fetchall()
        except Exception as ex:
            print(f"[FAIL-duck ] {name}: {type(ex).__name__}: {str(ex)[:400]}")
            failures += 1
            continue
        scols_l = [c.lower() for c in scols]
        if sorted(scols_l) != sorted(ocols):
            print(f"[FAIL-cols ] {name}: spark={scols_l} duck={ocols}")
            failures += 1
            continue
        hard, soft = type_mismatches(sdf, rel)
        if hard:
            print(f"[FAIL-type ] {name}: {hard}")
            failures += 1
            continue
        for w in soft:
            print(f"[WARN-type ] {name}: {w}")
        if len(srows) != len(orows):
            print(f"[FAIL-count] {name}: spark={len(srows)} duck={len(orows)}")
            failures += 1
            continue
        skey, okey = rows_key(srows, scols_l), rows_key(orows, ocols)
        if skey != okey:
            diffs = [(a, b) for a, b in zip(skey, okey) if a != b][:3]
            print(f"[FAIL-vals ] {name}: first diffs {diffs}")
            failures += 1
            continue
        print(f"[OK        ] {name}: {len(srows)} rows match")
        ok += 1
    print(f"TOTAL: {ok} OK, {skipped} skipped, {failures} failed")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
