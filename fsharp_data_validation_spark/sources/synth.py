"""Deterministic synthetic transcript generator for benchmarks.

Produces the exact ``input_hint`` shape — (conv_id string, turn_idx int,
role string, text string, tool string, ts timestamp) — at any row count,
as a pure projection over ``spark.range(n)``:

- **no shuffle, no Python, no randomness** — every column is a
  deterministic Spark SQL expression of the row id (xxhash64-keyed), so
  two runs (or two cluster sizes) see byte-identical data and the
  generation itself scales embarrassingly parallel;
- **skewed conv_id**: a deterministic 5% slice of rows is funneled into 4
  "hot" conversations (≈1.25% of the table *each* — the adversarial hot
  keys the north rule's salting/AQE handling is for); the rest form
  uniform conversations of ~TURNS_PER_CONV turns;
- **injected violations** at fixed modular rates (same scheme as
  sources/transcripts.py): NULL text, bad role enum, duplicate
  (conv_id, turn_idx), orphan tool references, ts regressions.

Used by tools/bench_scaling.py to build the 10^7-turn local evidence run
for the N-vs-4N scaling-efficiency requirement.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

TURNS_PER_CONV = 20
HOT_CONVS = 4
BASE_EPOCH = 1_700_000_000  # 2023-11-14T22:13:20Z — fixed, documented


def synth_transcripts(spark: SparkSession, n_turns: int, parallelism: int) -> DataFrame:
    """A deterministic n_turns-row transcripts DataFrame over ``parallelism``
    partitions (see module doc)."""
    df = spark.range(0, n_turns, 1, parallelism)
    h = F.abs(F.xxhash64("id"))

    is_hot = (h % 20) == 0  # 5% of rows -> 4 hot conversations
    cold_conv = F.floor(F.col("id") / TURNS_PER_CONV)
    conv_id = F.when(
        is_hot, F.concat(F.lit("chot"), (h % HOT_CONVS).cast("string"))
    ).otherwise(F.concat(F.lit("c"), cold_conv.cast("string")))

    # Unique-by-construction turn index; violation class: id%101==0 forces 0
    # (duplicate (conv_id, turn_idx) within the conversation).
    base_turn = F.when(is_hot, F.col("id")).otherwise(F.col("id") % TURNS_PER_CONV)
    turn_idx = (
        F.when(F.col("id") % 101 == 0, F.lit(0)).otherwise(base_turn).cast("int")
    )

    role = (
        F.when(F.col("id") % 89 == 0, F.lit("robot"))  # enum violation
        .when(h % 11 == 0, F.lit("tool"))
        .when(h % 3 == 0, F.lit("assistant"))
        .when(h % 7 == 0, F.lit("system"))
        .otherwise(F.lit("user"))
    )

    # text: deterministic filler, length varying 0..~400 chars; NULL at 1/97.
    text = F.when(F.col("id") % 97 == 0, F.lit(None).cast("string")).otherwise(
        F.concat(
            F.lit("turn "),
            F.col("id").cast("string"),
            F.lit(" "),
            F.repeat(F.lit("lorem ipsum dolor sit amet "), (h % 15).cast("int")),
        )
    )

    tool = (
        F.when(F.col("id") % 103 == 0, F.lit("tool_unknown"))  # orphan ref
        .when(role == "tool", F.concat(F.lit("tool_"), (h % 5).cast("string")))
        .otherwise(F.lit(None).cast("string"))
    )

    # ts: monotone within a conversation except a 1/113 regression slice.
    ts = F.timestamp_seconds(
        F.lit(BASE_EPOCH)
        + F.col("id")
        - F.when(F.col("id") % 113 == 0, F.lit(7200)).otherwise(F.lit(0))
    )

    return df.select(
        conv_id.alias("conv_id"),
        turn_idx.alias("turn_idx"),
        role.alias("role"),
        text.alias("text"),
        tool.alias("tool"),
        ts.alias("ts"),
    )
