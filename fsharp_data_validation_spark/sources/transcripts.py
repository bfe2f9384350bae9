"""The transcripts input table (BASELINE.json ``input_hint``):

    conv_id:string, turn_idx:int, role:string, text:string,
    tool:string, ts:timestamp

Production path: an existing Iceberg/parquet table of multi-turn transcripts
(``load_transcripts``). Test/oracle path: a *deterministic* derivation from
the driver's ``events`` parquet (``TRANSCRIPTS_SQL``) expressed in SQL that
runs identically on Spark and DuckDB — so the DuckDB correctness gate covers
every transcript query. The derivation injects the violation classes the
north rule requires the engine to catch (nulls, bad role-enum values,
duplicate (conv_id, turn_idx), orphan tool references) at fixed, documented
rates keyed off ``event_id`` (deterministic, seed-free).

Reference semantics carried: role-enum membership ≅ hasElem
(/root/reference/src/FSharp.Data.Validation/Library.fs:97), required fields ≅
isRequired (Library.fs:16-19), text-length bounds ≅ minLength/maxLength
(Library.fs:61-65).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

ROLES = ("system", "user", "assistant", "tool")

# Allowed tool catalog: the referential-check dimension (broadcast side).
TOOL_CATALOG_SQL = (
    "SELECT tool FROM (VALUES ('tool_0'),('tool_1'),('tool_2'),('tool_3'),('tool_4')) AS t(tool)"
)

# Deterministic events -> transcripts derivation. Violation injection:
#   event_id % 101 == 0 -> turn_idx forced to 0 (duplicate (conv_id, turn_idx))
#   event_id % 89  == 0 -> role 'robot' (enum violation)
#   event_id % 97  == 0 -> text NULL (required violation)
#   event_id % 103 == 0 -> tool 'tool_unknown' (referential violation)
#   event_type 'error'  -> role 'tool' with tool 'tool_<event_id%5>'
TRANSCRIPTS_SQL = """
SELECT
  'c' || CAST(user_id AS STRING) AS conv_id,
  CAST(CASE WHEN event_id % 101 = 0 THEN 0 ELSE rn END AS INTEGER) AS turn_idx,
  CASE WHEN event_id % 89 = 0 THEN 'robot'
       WHEN event_type = 'signup' THEN 'system'
       WHEN event_type IN ('click','view') THEN 'user'
       WHEN event_type = 'purchase' THEN 'assistant'
       ELSE 'tool' END AS role,
  CASE WHEN event_id % 97 = 0 THEN NULL
       ELSE event_type || ' ' || COALESCE(props, '') END AS text,
  CASE WHEN event_id % 103 = 0 THEN 'tool_unknown'
       WHEN event_type = 'error' THEN 'tool_' || CAST(event_id % 5 AS STRING)
       ELSE NULL END AS tool,
  ts
FROM (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS rn
  FROM events
) numbered
"""


def with_transcripts(sql: str) -> str:
    """Wrap a query in the shared CTEs ``transcripts`` and ``tool_catalog``.

    The same string runs on Spark (events registered as a temp view) and
    DuckDB (events view on the parquet)."""
    return (
        f"WITH transcripts AS ({TRANSCRIPTS_SQL}),\n"
        f"tool_catalog AS ({TOOL_CATALOG_SQL})\n" + sql
    )


def derive_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the transcripts DataFrame from ``{sf_dir}/events.parquet``."""
    spark.read.parquet(f"{sf_dir}/events.parquet").createOrReplaceTempView("events")
    return spark.sql(TRANSCRIPTS_SQL)


def tool_catalog(spark: SparkSession) -> DataFrame:
    return spark.sql(TOOL_CATALOG_SQL)


def load_transcripts(spark: SparkSession, table_or_path: str) -> DataFrame:
    """Production read path — Iceberg table name or parquet path.

    At 10^12-turn scale the table should be partitioned (e.g.
    ``days(ts)`` + ``bucket(N, conv_id)``); reading by name lets Iceberg
    prune partitions from pushed-down predicates.
    """
    if "/" in table_or_path or table_or_path.endswith(".parquet"):
        return spark.read.parquet(table_or_path)
    return spark.table(table_or_path)
