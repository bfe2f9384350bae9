"""Spark compiler vs pure-Python kernel equivalence: for seeded random rows,
the vectorized suite must produce exactly the (path, code) failures the core
kernel produces for the same values — the central correctness property of
the graft (reference semantics -> columnar masks)."""

import random

import pytest
from pyspark.sql import Row, functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from fsharp_data_validation_spark.core import Validation, library as L
from fsharp_data_validation_spark.functions.compiler import Suite
from fsharp_data_validation_spark.operators.transcript_suite import (
    TEXT_MAX,
    transcript_row_suite,
)
from fsharp_data_validation_spark.sources.transcripts import ROLES

import re


def kernel_failures(row: dict) -> set:
    """The same suite expressed in the pure kernel (per-branch CE chains +
    applicative merge), returning {(path, code)}."""
    conv = (
        Validation.field("conv_id", row["conv_id"])
        .refute_with(L.is_required("conv_id_required"))
        .dispute_with_fact(
            "conv_id_format", lambda v: re.fullmatch("c[0-9]+", v) is not None
        )
        .qed()
    )
    idx = (
        Validation.field("turn_idx", row["turn_idx"])
        .refute_with(L.is_required("turn_idx_required"))
        .dispute_with_fact("turn_idx_negative", L.is_greater_than_or_equal(0))
        .qed()
    )
    role = (
        Validation.field("role", row["role"])
        .refute_with(L.is_required("role_required"))
        .dispute_with_fact("role_enum", lambda v: v in ROLES)
        .qed()
    )
    text = (
        Validation.field("text", row["text"])
        .refute_with(L.is_required("text_required"))
        .dispute_with_fact("text_empty", L.min_length(1))
        .dispute_with_fact("text_too_long", L.max_length(TEXT_MAX))
        .qed()
    )
    tool = (
        Validation.field("tool", row["tool"])
        .optional(
            lambda v: Validation.value(v).dispute_with_fact(
                "tool_format", lambda x: re.fullmatch("tool_[0-9]+", x) is not None
            )
        )
        .qed()
    )
    tool_req = (
        Validation.field("tool", row["tool"])
        .dispute_with(
            L.is_required_when("tool_missing_for_tool_role", row["role"] == "tool")
        )
        .qed()
    )
    glob = (
        Validation.value(row)
        .dispute_with_fact(
            "tool_on_non_tool_role",
            lambda r: (r["role"] == "tool") or (r["tool"] is None)
            if r["role"] is not None or r["tool"] is None
            else True,  # NULL role & present tool: SQL 3VL skips the check
        )
        .qed()
    )
    out = set()
    for branch in (conv, idx, role, text, tool, tool_req, glob):
        p = branch.proof()
        if not p.valid:
            for f in p.failures:
                out.add(("", f))
            for path, fs in p.fields.items():
                for f in fs:
                    out.add((".".join(s[0].lower() + s[1:] for s in path), f))
    return out


def random_row(rng: random.Random) -> dict:
    conv = rng.choice([None, "c12", "x!", "c"])
    idx = rng.choice([None, -3, 0, 5])
    role = rng.choice([None, "user", "tool", "robot"])
    text = rng.choice([None, "", "hello world", "x" * (TEXT_MAX + 1)])
    tool = rng.choice([None, "tool_3", "tool_unknown", ""])
    return {"conv_id": conv, "turn_idx": idx, "role": role, "text": text, "tool": tool}


SCHEMA = StructType(
    [
        StructField("rid", IntegerType()),
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("role", StringType()),
        StructField("text", StringType()),
        StructField("tool", StringType()),
    ]
)


def test_suite_matches_kernel(spark):
    rng = random.Random(42)
    rows = [dict(rid=i, **random_row(rng)) for i in range(300)]
    df = spark.createDataFrame([Row(**r) for r in rows], schema=SCHEMA)
    res = transcript_row_suite().run(df, ["rid"])
    got = {}
    for r in res.violations.collect():
        got.setdefault(r["rid"], set()).add((r["path"], r["code"]))
    valid_ids = {r["rid"] for r in res.valid.select("rid").collect()}
    for row in rows:
        expected = kernel_failures(row)
        actual = got.get(row["rid"], set())
        assert actual == expected, f"row={row} spark={actual} kernel={expected}"
        assert (row["rid"] in valid_ids) == (not expected)


def test_refute_gates_later_checks(spark):
    df = spark.createDataFrame(
        [Row(rid=1, conv_id="c1", turn_idx=0, role="user", text=None, tool=None)],
        schema=SCHEMA,
    )
    res = transcript_row_suite().run(df, ["rid"])
    codes = [r["code"] for r in res.violations.collect()]
    assert codes == ["text_required"]  # text_empty/text_too_long gated


def test_single_select_plan(spark):
    """The whole suite must compile to one projection over the scan: no
    shuffle (Exchange) in the flagged plan."""
    df = spark.createDataFrame(
        [Row(rid=1, conv_id="c1", turn_idx=0, role="user", text="t", tool=None)],
        schema=SCHEMA,
    )
    flagged = transcript_row_suite().with_failures(df)
    plan = flagged._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_element_constraints(spark):
    schema = StructType(
        [
            StructField("rid", IntegerType()),
            StructField("vec", ArrayType(DoubleType())),
        ]
    )
    df = spark.createDataFrame(
        [Row(rid=1, vec=[1.0, -2.0, 3.0]), Row(rid=2, vec=[1.0, 2.0]), Row(rid=3, vec=None)],
        schema=schema,
    )
    suite = (
        Suite()
        .field("vec")
        .each_check("vec_negative", lambda x: x >= 0)
        .done()
    )
    res = suite.run(df, ["rid"])
    v = [(r["rid"], r["path"], r["code"]) for r in res.violations.collect()]
    assert v == [(1, "vec.[1]", "vec_negative")]
    assert sorted(r["rid"] for r in res.valid.collect()) == [2, 3]


def test_each_refute_gates_branch(spark):
    schema = StructType(
        [
            StructField("rid", IntegerType()),
            StructField("vec", ArrayType(DoubleType())),
        ]
    )
    df = spark.createDataFrame(
        [Row(rid=1, vec=[-1.0]), Row(rid=2, vec=[1.0])], schema=schema
    )
    suite = (
        Suite()
        .field("vec")
        .each_refute_check("neg", lambda x: x >= 0)
        .check("sum_small", F.aggregate("vec", F.lit(0.0), lambda a, x: a + x) < 100)
        .done()
    )
    res = suite.run(df, ["rid"])
    rows = [(r["rid"], r["path"], r["code"]) for r in res.violations.collect()]
    # rid=1: element refute fires, sum_small skipped; rid=2 clean
    assert rows == [(1, "vec.[0]", "neg")]


def test_verdict(spark):
    df = spark.createDataFrame(
        [
            Row(rid=1, conv_id="c1", turn_idx=0, role="user", text="a", tool=None),
            Row(rid=2, conv_id=None, turn_idx=0, role="user", text="a", tool=None),
        ],
        schema=SCHEMA,
    )
    suite = transcript_row_suite()
    res = suite.run(df, ["rid"])
    v = res.verdict(["role"], df).collect()[0]
    assert v["rows_scanned"] == 2
    assert v["rows_with_violations"] == 1
    assert v["violations"] == 1
    assert not v["pass"]


def test_per_turn_text_equality_under_stable_ordering(spark):
    """input_hint invariant: validation is pass-through — every valid row's
    text is byte-equal to the input row at the same (conv_id, turn_idx, ts)
    key under stable ordering, and valid/violation keys partition the
    input. (The reference can transform values in qed; the row engine
    never mutates them.)"""
    from fsharp_data_validation_spark.sources.transcripts import derive_transcripts

    key = ["conv_id", "turn_idx", "ts"]
    t = derive_transcripts(spark, "/root/testdata/sf0.001")
    res = transcript_row_suite().run(t, key)

    valid_rows = res.valid.select(*key, "text").collect()
    valid = {tuple(r[k] for k in key): r["text"] for r in valid_rows}
    assert len(valid) == len(valid_rows)  # key is unique over valid rows
    viol_keys = {tuple(r[k] for k in key) for r in res.violations.select(*key).collect()}

    inp = t.orderBy(*key).select(*key, "text").collect()
    assert len(inp) > 0
    for r in inp:
        k = tuple(r[k2] for k2 in key)
        if k in valid:
            assert valid[k] == r["text"], f"text mutated at {k}"
            assert k not in viol_keys  # MergeSources collapse: disjoint
        else:
            assert k in viol_keys, f"row {k} lost by the split"

    # stable ordering is reproducible across independent executions
    seq1 = [r["text"] for r in res.valid.orderBy(*key).select(*key, "text").collect()]
    seq2 = [r["text"] for r in res.valid.orderBy(*key).select(*key, "text").collect()]
    assert seq1 == seq2


def _random_bytes(rng: random.Random, size: int) -> bytes:
    """``size`` bytes of 1-4-byte UTF-8 characters, cut at ``size`` (so the
    tail may be a truncated sequence), with stray invalid bytes mixed in."""
    pieces = ["a", "é", "€", "中", "😀"]
    out = b""
    while len(out) < size:
        if rng.random() < 0.1:
            out += bytes([rng.choice([0x80, 0xBF, 0xC0, 0xF5, 0xFF])])
        else:
            out += rng.choice(pieces).encode()
    return out[:size]


def test_length_checks_match_character_length(spark):
    """The length checks decide on ``octet_length`` where the byte length
    settles the answer and count characters only in between; every result,
    NULL included, equals the plain ``F.length`` predicate. Inputs: 1-4-byte
    characters, invalid UTF-8 cast from binary, NULL, and byte lengths at
    n, 4n and 4n+-1 (and n+-1, 4n-4, 4n-3) for each bound n."""
    from pyspark.sql.types import BinaryType

    rng = random.Random(13)
    bounds = [0, 1, 2, 3, 5, 8]
    sizes = sorted(
        {
            max(s, 0)
            for n in bounds
            for s in (n - 1, n, n + 1, 4 * n - 4, 4 * n - 3, 4 * n - 1, 4 * n, 4 * n + 1)
        }
    )
    # per size: the fewest characters (4-byte ones, the last cut short),
    # the most (ASCII), and random mixes
    values = [None]
    for s in sizes:
        values += [("😀" * s).encode()[:s], b"a" * s]
        values += [_random_bytes(rng, s) for _ in range(12)]
    df = spark.createDataFrame(
        [(bytearray(v) if v is not None else None,) for v in values],
        StructType([StructField("b", BinaryType())]),
    ).select(F.col("b").cast("string").alias("s"))

    suite = Suite()
    branch = suite.field("s")
    want = []
    for n in bounds:
        branch.min_length(f"min{n}", n).max_length(f"max{n}", n).is_length(f"is{n}", n)
        length = F.length("s")
        want += [length >= n, length <= n, length == n]
    branch.not_empty("not_empty").is_empty("is_empty")
    want += [F.length("s") > 0, F.length("s") == 0]
    got = [c.ok for c in suite._constraints]
    assert len(got) == len(want)

    rows = df.select(
        "s",
        *[c.alias(f"got{i}") for i, c in enumerate(got)],
        *[c.alias(f"want{i}") for i, c in enumerate(want)],
    ).collect()
    assert len(rows) == len(values)
    assert any(r["s"] is None for r in rows)
    for r in rows:
        for i in range(len(got)):
            assert r[f"got{i}"] == r[f"want{i}"], (r["s"], suite._constraints[i].code)
