"""Schema-contract validation — the "schema" half of the north rule's
"schema + constraint validation engine".

The reference gets schema conformance for free from F#'s type system
(SURVEY.md §2: types-as-schema, invalid states unrepresentable); on Spark
the table's runtime ``StructType`` IS the schema, so conformance is an
explicit metadata check against a declared contract plus an optional
cast-and-reorder coercion:

- ``schema_report``    — per-column conformance verdicts (ok / missing /
  extra / type_mismatch / nullability) as a DataFrame. Pure metadata: no
  data is scanned, so at 10^12 rows this is O(columns), not O(rows).
- ``conform_schema``   — project the input onto the contract (reorder,
  cast, drop-or-error on extras); raises on missing columns or forbidden
  casts so a drifted upstream never silently flows into the suite.
- ``TRANSCRIPT_CONTRACT`` — the BASELINE.json ``input_hint`` table shape.

Data-level null enforcement for contract-non-nullable columns is the row
suite's job (``isRequired`` ≅ reference Library.fs:16-19) — metadata
nullability here only flags that the writer COULD emit NULLs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

#: input_hint: conv_id:string, turn_idx:int32, role:string, text:string,
#: tool:string, ts:timestamp (text/tool genuinely nullable in the wild)
TRANSCRIPT_CONTRACT = StructType(
    [
        StructField("conv_id", StringType(), nullable=False),
        StructField("turn_idx", IntegerType(), nullable=False),
        StructField("role", StringType(), nullable=False),
        StructField("text", StringType(), nullable=True),
        StructField("tool", StringType(), nullable=True),
        StructField("ts", TimestampType(), nullable=False),
    ]
)

REPORT_SCHEMA = StructType(
    [
        StructField("column", StringType(), nullable=False),
        StructField("status", StringType(), nullable=False),
        StructField("expected_type", StringType(), nullable=True),
        StructField("actual_type", StringType(), nullable=True),
    ]
)

# safe widenings the conformer may apply silently; anything else errors
_WIDENINGS = {
    ("int", "bigint"),
    ("int", "double"),
    ("bigint", "double"),
    ("float", "double"),
    ("date", "timestamp"),
    # parquet writers commonly emit TIMESTAMP_NTZ; casting attaches the
    # session timezone — a coercion, so the report still flags it
    ("timestamp_ntz", "timestamp"),
}


def schema_violations(actual: StructType, expected: StructType) -> list[dict]:
    """Pure-Python metadata compare (unit-testable without a session).
    One dict per contracted or extra column:
    status in {ok, missing, extra, type_mismatch, nullability}."""
    actual_by_name = {f.name: f for f in actual.fields}
    out = []
    for f in expected.fields:
        a = actual_by_name.pop(f.name, None)
        if a is None:
            out.append(
                {
                    "column": f.name,
                    "status": "missing",
                    "expected_type": f.dataType.simpleString(),
                    "actual_type": None,
                }
            )
        elif a.dataType != f.dataType:
            out.append(
                {
                    "column": f.name,
                    "status": "type_mismatch",
                    "expected_type": f.dataType.simpleString(),
                    "actual_type": a.dataType.simpleString(),
                }
            )
        elif a.nullable and not f.nullable:
            out.append(
                {
                    "column": f.name,
                    "status": "nullability",
                    "expected_type": f.dataType.simpleString(),
                    "actual_type": a.dataType.simpleString(),
                }
            )
        else:
            out.append(
                {
                    "column": f.name,
                    "status": "ok",
                    "expected_type": f.dataType.simpleString(),
                    "actual_type": a.dataType.simpleString(),
                }
            )
    for name, a in actual_by_name.items():
        out.append(
            {
                "column": name,
                "status": "extra",
                "expected_type": None,
                "actual_type": a.dataType.simpleString(),
            }
        )
    return out


def schema_report(spark: SparkSession, df: DataFrame) -> DataFrame:
    """The metadata compare as a tiny DataFrame (one row per column) so it
    composes with the rest of the reporting surface."""
    rows = [
        (v["column"], v["status"], v["expected_type"], v["actual_type"])
        for v in schema_violations(df.schema, TRANSCRIPT_CONTRACT)
    ]
    return spark.createDataFrame(rows, REPORT_SCHEMA)


def conform_schema(df: DataFrame, expected: StructType = TRANSCRIPT_CONTRACT) -> DataFrame:
    """Project ``df`` onto the contract: contract column order, safe
    widening casts applied, extras dropped (``schema_violations`` reports
    them, and the job's ``--schema enforce`` rejects them there). Raises
    ``ValueError`` on missing columns or non-widening type changes — schema
    drift must fail loudly BEFORE the constraint suite runs."""
    from pyspark.sql import functions as F

    actual = {f.name: f for f in df.schema.fields}
    cols = []
    problems = []
    for f in expected.fields:
        a = actual.get(f.name)
        if a is None:
            problems.append(f"missing column {f.name}")
        elif a.dataType == f.dataType:
            cols.append(F.col(f.name))
        elif (
            a.dataType.simpleString(),
            f.dataType.simpleString(),
        ) in _WIDENINGS:
            cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        else:
            problems.append(
                f"column {f.name}: cannot conform "
                f"{a.dataType.simpleString()} -> {f.dataType.simpleString()}"
            )
    if problems:
        raise ValueError("schema contract violations: " + "; ".join(problems))
    return df.select(*cols)
