"""The cross-row operators (``operators/crossrow.py``): conversation-flow
validation, the context-window budget and repeated turns, pinned on
hand-built fixtures; the sf0.01 DuckDB oracles cover the derived-table
scale."""

from pyspark.sql import Row, functions as F


def test_conversation_flow_violations(spark):
    from fsharp_data_validation_spark.operators.crossrow import (
        conversation_flow_violations,
    )

    rows = [
        # c1: clean user/assistant alternation
        Row(conv_id="c1", turn_idx=0, role="user", text="hi", tool=None, ts=0),
        Row(conv_id="c1", turn_idx=1, role="assistant", text="yo", tool=None, ts=1),
        Row(conv_id="c1", turn_idx=2, role="tool", text="r", tool="t1", ts=2),
        # c2: starts with assistant (violation), repeats role (violation)
        Row(conv_id="c2", turn_idx=0, role="assistant", text="a", tool=None, ts=0),
        Row(conv_id="c2", turn_idx=1, role="assistant", text="b", tool=None, ts=1),
        # c3: tool turn after user (orphan), and tool FIRST turn (start + orphan)
        Row(conv_id="c3", turn_idx=0, role="tool", text="x", tool="t1", ts=0),
        Row(conv_id="c3", turn_idx=1, role="user", text="q", tool=None, ts=1),
        Row(conv_id="c3", turn_idx=2, role="tool", text="y", tool="t2", ts=2),
    ]
    df = spark.createDataFrame(rows).withColumn("ts", F.col("ts").cast("timestamp"))
    got = sorted(
        (r["conv_id"], r["turn_idx"], r["code"])
        for r in conversation_flow_violations(df).collect()
    )
    assert got == [
        ("c2", 0, "conversation_start"),
        ("c2", 1, "consecutive_same_role"),
        ("c3", 0, "conversation_start"),
        ("c3", 0, "orphan_tool_turn"),
        ("c3", 2, "orphan_tool_turn"),
    ]


def test_context_budget_violations(spark):
    from fsharp_data_validation_spark.operators.crossrow import (
        context_budget_violations,
    )

    rows = [
        # c1: 3 + 3 + 3 tokens -> cum 3, 6, 9; budget 7 flags only the last
        ("c1", 0, "user", "a b c", None, 0),
        ("c1", 1, "assistant", "d e f", None, 1),
        ("c1", 2, "user", "g h i", None, 2),
        # c2: NULL text counts 0 tokens; never over budget
        ("c2", 0, "user", None, None, 0),
        ("c2", 1, "assistant", "x", None, 1),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, ts long",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got = [
        (r["conv_id"], r["turn_idx"], r["n_tokens"], r["cum_tokens"])
        for r in context_budget_violations(df, budget=7).collect()
    ]
    assert got == [("c1", 2, 3, 9)]


def test_repeated_turns_scoped_to_conversation(spark):
    from fsharp_data_validation_spark.operators.crossrow import repeated_turns

    rows = [
        # c1: "Retry " repeated 3x under normalization (case/whitespace)
        Row(conv_id="c1", turn_idx=0, text="retry"),
        Row(conv_id="c1", turn_idx=1, text="Retry"),
        Row(conv_id="c1", turn_idx=5, text="  retry  "),
        Row(conv_id="c1", turn_idx=2, text="ok"),
        # same text in ANOTHER conversation: not a loop (scoped key)
        Row(conv_id="c2", turn_idx=0, text="retry"),
        # empty/NULL text excluded
        Row(conv_id="c3", turn_idx=0, text="   "),
        Row(conv_id="c3", turn_idx=1, text="   "),
        Row(conv_id="c3", turn_idx=2, text=None),
    ]
    got = repeated_turns(spark.createDataFrame(rows)).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["conv_id"], r["n_repeats"], r["first_turn"], r["last_turn"]) == (
        "c1", 3, 0, 5,
    )
