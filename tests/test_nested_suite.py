"""Nested-suite composition (``Suite.nested``) pinned against the pure
kernel's two reference composition shapes:

- ``mode="proof"`` ≅ ``refuteWithProof`` (VCtx.fs:253-269): child field
  failures keep their own (unprefixed) paths, child globals are filed under
  the parent key, ANY child failure refutes the parent branch;
- ``mode="apply"`` ≅ ``applyFailures``/``optional`` composition
  (VCtx.fs:36-47,110-133): child paths are prefixed with the parent name,
  child disputes accumulate while later parent checks continue, child
  refutes refute the parent branch.
"""

import re

import pytest
from pyspark.sql import Row, functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from fsharp_data_validation_spark.core import Validation, library as L
from fsharp_data_validation_spark.core.names import render_path
from fsharp_data_validation_spark.core.vctx import merge_all
from fsharp_data_validation_spark.functions.compiler import Suite

ROLES3 = ["user", "assistant", "tool"]

META = StructType([StructField("role", StringType()), StructField("tool", StringType())])
SCHEMA = StructType(
    [
        StructField("rid", IntegerType()),
        StructField("meta", META),
        StructField("other", IntegerType()),
    ]
)


def _rows_df(spark, rows):
    return spark.createDataFrame(
        [
            Row(
                rid=r["rid"],
                meta=None if r["meta"] is None else Row(**r["meta"]),
                other=r["other"],
            )
            for r in rows
        ],
        schema=SCHEMA,
    )


def _collect_failures(res):
    got = {}
    for r in res.violations.collect():
        got.setdefault(r["rid"], set()).add((r["path"], r["code"]))
    return got


def _kernel_proof_failures(branches) -> set:
    out = set()
    for branch in branches:
        p = branch.proof()
        if not p.valid:
            for f in p.failures:
                out.add(("", f))
            for path, fs in p.fields.items():
                for f in fs:
                    out.add((".".join(s[0].lower() + s[1:] for s in path), f))
    return out


def value_matrix():
    metas = [
        None,
        {"role": None, "tool": None},  # child refute
        {"role": "robot", "tool": None},  # child dispute
        {"role": "robot", "tool": "bad"},  # two child branches fail
        {"role": None, "tool": "tool_1"},  # refuted role, valid tool branch
        {"role": "user", "tool": None},  # clean children -> toolPresent fires
        {"role": "tool", "tool": "tool_9"},  # fully valid
        {"role": "user", "tool": "nope"},  # toolFormat only
    ]
    rows = []
    for m in metas:
        for other in (1, -1):
            rows.append({"rid": len(rows), "meta": m, "other": other})
    return rows


def _multi_branch_child() -> Suite:
    return (
        Suite()
        .field("role", F.col("meta.role"))
        .required("roleRequired")
        .isin("roleEnum", ROLES3)
        .field("tool", F.col("meta.tool"))
        .optional()
        .rlike("toolFormat", "tool_[0-9]+")
        .done()
    )


def _parent_suite(mode: str) -> Suite:
    suite = (
        Suite()
        .field("meta", F.col("meta"))
        .required("metaRequired")
        .done()
        .nested("meta", _multi_branch_child(), guard=F.col("meta").isNotNull(), mode=mode)
    )
    # post-gate parent-branch check: skipped when the gate refuted the branch
    suite.field("meta", F.col("meta")).check(
        "toolPresent", F.col("meta.tool").isNotNull()
    )
    suite.field("other", F.col("other")).check("otherPositive", F.col("other") > 0)
    return suite


# --------------------------------------------------------------------------
# mode="proof"  ≅  refuteWithProof (VCtx.fs:253-269), kernel-pinned
# --------------------------------------------------------------------------


def _kernel_proof_mode(row: dict) -> set:
    def child_proof(m):
        role = (
            Validation.field("role", m["role"])
            .refute_with(L.is_required("roleRequired"))
            .dispute_with_fact("roleEnum", lambda v: v in ROLES3)
            .qed()
        )
        tool = (
            Validation.field("tool", m["tool"])
            .optional(
                lambda v: Validation.value(v).dispute_with_fact(
                    "toolFormat",
                    lambda x: re.fullmatch("tool_[0-9]+", x) is not None,
                )
            )
            .qed()
        )
        return merge_all([role, tool]).proof()

    parent = (
        Validation.field("meta", row["meta"])
        .refute_with(L.is_required("metaRequired"))
        .refute_with_proof(child_proof)
        .dispute_with_fact(
            # after refuteWithProof the carried value is the child proof's
            # value (a branch-value tuple); reach back to the row
            "toolPresent",
            lambda _v: row["meta"]["tool"] is not None,
        )
        .qed()
    )
    other = (
        Validation.field("other", row["other"])
        .dispute_with_fact("otherPositive", lambda v: v > 0)
        .qed()
    )
    return _kernel_proof_failures((parent, other))


def test_proof_mode_matches_kernel(spark):
    rows = value_matrix()
    res = _parent_suite("proof").run(_rows_df(spark, rows), ["rid"])
    got = _collect_failures(res)
    valid_ids = {r["rid"] for r in res.valid.select("rid").collect()}
    for row in rows:
        expected = _kernel_proof_mode(row)
        actual = got.get(row["rid"], set())
        assert actual == expected, f"row={row} spark={actual} kernel={expected}"
        assert (row["rid"] in valid_ids) == (not expected)


# --------------------------------------------------------------------------
# mode="apply"  ≅  optional/applyFailures composition, kernel-pinned for a
# single-branch child (the shape the reference can express directly)
# --------------------------------------------------------------------------


def _single_branch_suite() -> Suite:
    child = (
        Suite()
        .field("role", F.col("meta.role"))
        .required("roleRequired")
        .isin("roleEnum", ROLES3)
        .done()
    )
    return (
        Suite()
        .field("meta", F.col("meta"))
        .required("metaRequired")
        .done()
        .nested("meta", child, guard=F.col("meta").isNotNull(), mode="apply")
    )


def _kernel_apply_mode(row: dict) -> set:
    # NOTE: the kernel chain stops at the composition itself — in the
    # reference, optional() REPLACES the branch scope with the child's
    # (value-transformation chaining), so a later check would file under
    # the child's path. The engine's row model transforms no values and
    # keeps parent scope for post-gate checks; that gating behavior is
    # pinned Spark-side in test_apply_mode_multi_branch_expectations.
    parent = (
        Validation.field("meta", row["meta"])
        .refute_with(L.is_required("metaRequired"))
        .optional(
            lambda m: Validation.field("role", m["role"])
            .refute_with(L.is_required("roleRequired"))
            .dispute_with_fact("roleEnum", lambda v: v in ROLES3)
        )
        .qed()
    )
    return _kernel_proof_failures((parent,))


def test_apply_mode_single_branch_matches_kernel_optional(spark):
    rows = value_matrix()
    res = _single_branch_suite().run(_rows_df(spark, rows), ["rid"])
    got = _collect_failures(res)
    for row in rows:
        expected = _kernel_apply_mode(row)
        actual = got.get(row["rid"], set())
        assert actual == expected, f"row={row} spark={actual} kernel={expected}"


# --------------------------------------------------------------------------
# mode="apply", multi-branch child — the engine's columnar generalization
# (per-branch semantics are the pinned optional laws; branches applicative)
# --------------------------------------------------------------------------


def test_apply_mode_multi_branch_expectations(spark):
    rows = [
        {"rid": 0, "meta": None, "other": 1},
        {"rid": 1, "meta": {"role": None, "tool": None}, "other": 1},
        {"rid": 2, "meta": {"role": "robot", "tool": None}, "other": -1},
        {"rid": 3, "meta": {"role": "user", "tool": "nope"}, "other": 1},
        {"rid": 4, "meta": {"role": "user", "tool": None}, "other": 1},
        {"rid": 5, "meta": {"role": "tool", "tool": "tool_9"}, "other": 1},
    ]
    res = _parent_suite("apply").run(_rows_df(spark, rows), ["rid"])
    got = _collect_failures(res)
    assert got.get(0) == {("meta", "metaRequired")}
    # child REFUTE -> parent refuted -> toolPresent gated
    assert got.get(1) == {("meta.role", "roleRequired")}
    # child DISPUTE -> parent continues -> toolPresent fires; sibling too
    assert got.get(2) == {
        ("meta.role", "roleEnum"),
        ("meta", "toolPresent"),
        ("other", "otherPositive"),
    }
    # dispute in the tool child branch; toolPresent passes (tool not null)
    assert got.get(3) == {("meta.tool", "toolFormat")}
    # clean children -> toolPresent evaluated and fires
    assert got.get(4) == {("meta", "toolPresent")}
    assert 5 not in got


def test_two_level_nesting(spark):
    inner_schema = StructType([StructField("c", StringType())])
    mid_schema = StructType([StructField("b", inner_schema)])
    schema = StructType(
        [StructField("rid", IntegerType()), StructField("a", mid_schema)]
    )
    inner = Suite().field("c", F.col("a.b.c")).required("cRequired").done()
    mid = (
        Suite()
        .field("b", F.col("a.b"))
        .required("bRequired")
        .done()
        .nested("b", inner, guard=F.col("a.b").isNotNull())
    )
    outer = (
        Suite()
        .field("a", F.col("a"))
        .required("aRequired")
        .done()
        .nested("a", mid, guard=F.col("a").isNotNull())
    )
    outer.field("a", F.col("a")).check("aFinal", F.lit(False))

    df = spark.createDataFrame(
        [
            Row(rid=1, a=None),
            Row(rid=2, a=Row(b=None)),
            Row(rid=3, a=Row(b=Row(c=None))),
            Row(rid=4, a=Row(b=Row(c="x"))),
        ],
        schema=schema,
    )
    res = outer.run(df, ["rid"])
    got = _collect_failures(res)
    assert got[1] == {("a", "aRequired")}
    assert got[2] == {("a.b", "bRequired")}  # inner + aFinal both gated
    assert got[3] == {("a.b.c", "cRequired")}  # deep provenance; aFinal gated
    assert got[4] == {("a", "aFinal")}  # clean children reach the final check


def test_nested_suite_single_projection_plan(spark):
    """Nesting must stay a compile-time mask: one projection, no Exchange."""
    df = _rows_df(spark, [{"rid": 1, "meta": {"role": "user", "tool": None}, "other": 1}])
    flagged = _parent_suite("apply").with_failures(df)
    plan = flagged._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


# --------------------------------------------------------------------------
# each_nested  ≅  refuteEachWithProof (VCtx.fs:274-287), kernel-pinned
# --------------------------------------------------------------------------

from pyspark.sql import types as T  # noqa: E402

from fsharp_data_validation_spark.functions.compiler import ElementSuite  # noqa: E402

TURN = StructType([StructField("role", StringType()), StructField("n", IntegerType())])
EACH_SCHEMA = StructType(
    [StructField("rid", IntegerType()), StructField("turns", T.ArrayType(TURN))]
)


def _each_suite() -> Suite:
    child = (
        ElementSuite()
        .field("role")
        .required("roleRequired")
        .isin("roleEnum", ROLES3)
        .field("n")
        .check("nPositive", lambda v: v > 0)
        .done()
    )
    suite = (
        Suite()
        .field("turns")
        .required("turnsRequired")
        .each_nested(child)
        .check("turnsNonEmpty", F.size(F.col("turns")) > 0)
        .done()
    )
    return suite


def _kernel_each(row: dict) -> set:
    def child_proof(elem):
        role = (
            Validation.field("role", elem["role"])
            .refute_with(L.is_required("roleRequired"))
            .dispute_with_fact("roleEnum", lambda v: v in ROLES3)
            .qed()
        )
        n = (
            Validation.field("n", elem["n"])
            .dispute_with_fact("nPositive", lambda v: v > 0)
            .qed()
        )
        return merge_all([role, n]).proof()

    parent = (
        Validation.field("turns", row["turns"])
        .refute_with(L.is_required("turnsRequired"))
        .refute_each_with_proof(child_proof)
        .dispute_with_fact("turnsNonEmpty", lambda _v: len(row["turns"]) > 0)
        .qed()
    )
    return _kernel_proof_failures((parent,))


def test_each_nested_matches_kernel(spark):
    rows = [
        {"rid": 0, "turns": None},
        {"rid": 1, "turns": []},
        {"rid": 2, "turns": [{"role": "user", "n": 1}]},
        {"rid": 3, "turns": [{"role": None, "n": 1}]},
        {"rid": 4, "turns": [{"role": "robot", "n": -1}, {"role": "user", "n": 2}]},
        {"rid": 5, "turns": [{"role": None, "n": -1}]},
        {"rid": 6, "turns": [{"role": "user", "n": 1}, {"role": "tool", "n": 0}]},
    ]
    df = spark.createDataFrame(
        [
            Row(
                rid=r["rid"],
                turns=None
                if r["turns"] is None
                else [Row(**t) for t in r["turns"]],
            )
            for r in rows
        ],
        schema=EACH_SCHEMA,
    )
    res = _each_suite().run(df, ["rid"])
    got = _collect_failures(res)
    valid_ids = {r["rid"] for r in res.valid.select("rid").collect()}
    for row in rows:
        expected = _kernel_each(row)
        actual = got.get(row["rid"], set())
        assert actual == expected, f"row={row} spark={actual} kernel={expected}"
        assert (row["rid"] in valid_ids) == (not expected)


def test_each_nested_plan_no_shuffle(spark):
    df = spark.createDataFrame(
        [Row(rid=1, turns=[Row(role="user", n=1)])], schema=EACH_SCHEMA
    )
    flagged = _each_suite().with_failures(df)
    plan = flagged._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


# --------------------------------------------------------------------------
# disputeAll / validateEach gating / indexed element checks / requiredUnless
# --------------------------------------------------------------------------


def test_each_all_check_matches_kernel(spark):
    """disputeAllWithFact documented semantics: fires (globally, distinct
    code, validation continues) only when EVERY element fails."""
    schema = StructType(
        [StructField("rid", IntegerType()), StructField("xs", T.ArrayType(IntegerType()))]
    )
    rows = [
        {"rid": 0, "xs": [-1, -2]},  # all fail -> global failure
        {"rid": 1, "xs": [-1, 2]},  # one passes -> nothing
        {"rid": 2, "xs": []},  # empty -> nothing
        {"rid": 3, "xs": None},  # NULL -> nothing
        {"rid": 4, "xs": [3, 4]},  # all pass -> nothing
    ]
    df = spark.createDataFrame([Row(**r) for r in rows], schema=schema)
    suite = (
        Suite()
        .field("xs")
        .each_all_check("AllNeg", lambda x: x >= 0)
        .check("xsShort", F.size(F.col("xs")) <= 10)  # continues after fire
        .done()
    )
    got = _collect_failures(suite.run(df, ["rid"]))
    for r in rows:
        if r["xs"] is None:
            expected = set()
        else:
            expected = _kernel_proof_failures(
                (
                    Validation.field("xs", r["xs"]).dispute_all_with_fact(
                        "AllNeg", lambda a: a >= 0
                    ),
                )
            )
        assert got.get(r["rid"], set()) == expected, f"rid={r['rid']}"
    # global filing: empty path string, and later branch check continued
    assert got[0] == {("", "AllNeg")}


def test_each_all_check_many_matches_kernel(spark):
    """disputeAllWithMany multi-failure form, documented semantics: fires
    only when EVERY element fails at least one check; files the distinct
    union of per-element failure codes globally; validation continues.
    Pinned against the kernel's dispute_all_with_many (core/vctx.py)."""
    schema = StructType(
        [StructField("rid", IntegerType()), StructField("xs", T.ArrayType(IntegerType()))]
    )
    rows = [
        {"rid": 0, "xs": [-1, 200]},  # all fail (different codes) -> both codes
        {"rid": 1, "xs": [-1, -2]},  # all fail NegOrZero only -> one code
        {"rid": 2, "xs": [-1, 5]},  # 5 passes both -> nothing
        {"rid": 3, "xs": []},  # empty -> nothing
        {"rid": 4, "xs": None},  # NULL -> nothing (suite NULL-tolerance)
        {"rid": 5, "xs": [200]},  # all fail TooBig -> one code
    ]
    df = spark.createDataFrame([Row(**r) for r in rows], schema=schema)
    checks = [
        ("NegOrZero", lambda x: x > 0),
        ("TooBig", lambda x: x < 100),
    ]
    suite = (
        Suite()
        .field("xs")
        .each_all_check_many(checks)
        .check("xsShort", F.size(F.col("xs")) <= 10)  # continues after fire
        .done()
    )
    got = _collect_failures(suite.run(df, ["rid"]))
    py_checks = [("NegOrZero", lambda x: x > 0), ("TooBig", lambda x: x < 100)]
    for r in rows:
        if r["xs"] is None:
            expected = set()
        else:
            expected = _kernel_proof_failures(
                (
                    Validation.field("xs", r["xs"]).dispute_all_with_many(
                        lambda a: [c for c, p in py_checks if not p(a)]
                    ),
                )
            )
        assert got.get(r["rid"], set()) == expected, f"rid={r['rid']}"
    assert got[0] == {("", "NegOrZero"), ("", "TooBig")}
    assert got[1] == {("", "NegOrZero")}
    assert got[5] == {("", "TooBig")}


def test_each_nested_indexed_matches_kernel(spark):
    """Indexed validators INSIDE an ElementSuite (reference indexed
    overloads VCtx.fs:242-248,331-344 reachable from refuteEachWithProof):
    the per-element child validation sees the element index — e.g. 'first
    turn must be role=system' — and an indexed refute gates that element's
    later checks in the same sub-branch. Kernel-pinned via the indexed
    refute_each_with_proof overload."""
    rows = [
        {"rid": 0, "turns": [{"role": "system", "n": 5}, {"role": "user", "n": 5}]},
        {"rid": 1, "turns": [{"role": "user", "n": 5}]},  # firstMustBeSystem
        {"rid": 2, "turns": [{"role": "system", "n": 5}, {"role": "system", "n": 5}]},
        # n < index refutes the n sub-branch for that element: nPositive
        # must be SKIPPED for element [1] (n=0 < 1 also fails nGeIndex)
        {"rid": 3, "turns": [{"role": "system", "n": 5}, {"role": "user", "n": 0}]},
        {"rid": 4, "turns": [{"role": None, "n": 5}]},  # refute gates indexed check
    ]
    child = (
        ElementSuite()
        .field("role")
        .required("roleRequired")
        .check_indexed("firstMustBeSystem", lambda v, i: (i > 0) | (v == "system"))
        .field("n")
        .refute_check_indexed("nGeIndex", lambda v, i: v >= i)
        .check("nPositive", lambda v: v > 0)
        .done()
    )
    suite = Suite().field("turns").each_nested(child).done()
    df = spark.createDataFrame(
        [
            Row(rid=r["rid"], turns=[Row(**t) for t in r["turns"]])
            for r in rows
        ],
        schema=EACH_SCHEMA,
    )
    got = _collect_failures(suite.run(df, ["rid"]))

    def child_proof(i, elem):
        role = (
            Validation.field("role", elem["role"])
            .refute_with(L.is_required("roleRequired"))
            .dispute_with_fact(
                "firstMustBeSystem", lambda v: i > 0 or v == "system"
            )
            .qed()
        )
        n = (
            Validation.field("n", elem["n"])
            .refute_with(lambda v: (True, v) if v >= i else (False, "nGeIndex"))
            .dispute_with_fact("nPositive", lambda v: v > 0)
            .qed()
        )
        return merge_all([role, n]).proof()

    for row in rows:
        parent = (
            Validation.field("turns", row["turns"])
            .refute_each_with_proof(child_proof)
            .qed()
        )
        expected = _kernel_proof_failures((parent,))
        actual = got.get(row["rid"], set())
        assert actual == expected, f"row={row} spark={actual} kernel={expected}"
    # the headline shapes, spelled out
    assert got[1] == {("turns.[0].role", "firstMustBeSystem")}
    assert got[3] == {("turns.[1].n", "nGeIndex")}  # nPositive gated
    assert got[4] == {("turns.[0].role", "roleRequired")}  # indexed check gated


def test_each_nested_validate_mode_matches_kernel(spark):
    """mode='validate' ≅ validateEach: element disputes leave the branch
    disputed (later checks continue); element refutes refute it."""
    child = (
        ElementSuite()
        .field("role")
        .required("roleRequired")
        .isin("roleEnum", ROLES3)
        .done()
    )
    suite = (
        Suite()
        .field("turns")
        .required("turnsRequired")
        .each_nested(child, mode="validate")
        .check("turnsNonEmpty", F.size(F.col("turns")) > 0)
        .done()
    )
    rows = [
        {"rid": 0, "turns": []},  # dispute turnsNonEmpty only
        {"rid": 1, "turns": [{"role": "robot", "n": 1}]},  # dispute -> continue
        {"rid": 2, "turns": [{"role": None, "n": 1}]},  # refute -> gate
        {"rid": 3, "turns": [{"role": "user", "n": 1}]},  # clean
    ]
    df = spark.createDataFrame(
        [
            Row(rid=r["rid"], turns=[Row(**t) for t in r["turns"]])
            for r in rows
        ],
        schema=EACH_SCHEMA,
    )
    got = _collect_failures(suite.run(df, ["rid"]))

    def kernel(row):
        parent = (
            Validation.field("turns", row["turns"])
            .refute_with(L.is_required("turnsRequired"))
            .validate_each(
                lambda a: Validation.field("role", a["role"])
                .refute_with(L.is_required("roleRequired"))
                .dispute_with_fact("roleEnum", lambda v: v in ROLES3)
            )
            .dispute_with_fact("turnsNonEmpty", lambda _v: len(row["turns"]) > 0)
            .qed()
        )
        return _kernel_proof_failures((parent,))

    for row in rows:
        assert got.get(row["rid"], set()) == kernel(row), f"row={row}"
    # pin the distinguishing case explicitly: dispute did NOT gate
    assert got[1] == {("turns.[0].role", "roleEnum")} | (
        set() if rows[1]["turns"] else set()
    )


def test_indexed_element_checks_and_required_unless(spark):
    schema = StructType(
        [
            StructField("rid", IntegerType()),
            StructField("xs", T.ArrayType(IntegerType())),
            StructField("tool", StringType()),
            StructField("role", StringType()),
        ]
    )
    df = spark.createDataFrame(
        [
            Row(rid=0, xs=[10, 11, 0], tool=None, role="user"),
            Row(rid=1, xs=[5], tool=None, role="admin"),
            Row(rid=2, xs=[0], tool=None, role="user"),
        ],
        schema=schema,
    )
    suite = (
        Suite()
        .field("xs")
        # element must be >= its index * 10 -> fails for [2]=0 (needs 20)
        .each_check_indexed("tooSmallForIndex", lambda x, i: x >= i * 10)
        # element + index must stay below 12 -> fails for [1]=11, and the
        # refute skips the branch's later checks
        .each_refute_check_indexed("tooBigForIndex", lambda x, i: x + i < 12)
        .each_check("zero", lambda x: x != 0)
        .field("tool")
        # required unless role is a known enum member
        .required_unless("toolRequiredForUnknownRole", F.col("role").isin(ROLES3))
        .done()
    )
    got = _collect_failures(suite.run(df, ["rid"]))
    # rid 0's [2]=0 would fail "zero", but its refuted branch skips the check
    assert got[0] == {("xs.[2]", "tooSmallForIndex"), ("xs.[1]", "tooBigForIndex")}
    assert got[1] == {("tool", "toolRequiredForUnknownRole")}
    assert got[2] == {("xs.[0]", "zero")}


# --------------------------------------------------------------------------
# JSON violation report: byte parity with the reference serializer
# --------------------------------------------------------------------------

from fsharp_data_validation_spark.core.serialize import render_failures_json  # noqa: E402


def test_report_json_matches_reference_serializer(spark):
    """Spark-side report_json_column must render byte-identically to the
    kernel serializer (ValidationFailuresConverter.Write, Proof.fs:28-45)
    for the same failures — global list + sorted camelCase-dotted fields."""
    rows = value_matrix()
    suite = _parent_suite("proof")
    # add a global (type-level) rule so the "failures" list is exercised
    suite.global_().check("rowConsistent", F.col("other") != -1)
    res = suite.run(_rows_df(spark, rows), ["rid"])
    got = {r["rid"]: r["report"] for r in res.reports.collect()}

    for row in rows:
        def child_proof(m):
            role = (
                Validation.field("role", m["role"])
                .refute_with(L.is_required("roleRequired"))
                .dispute_with_fact("roleEnum", lambda v: v in ROLES3)
                .qed()
            )
            tool = (
                Validation.field("tool", m["tool"])
                .optional(
                    lambda v: Validation.value(v).dispute_with_fact(
                        "toolFormat",
                        lambda x: re.fullmatch("tool_[0-9]+", x) is not None,
                    )
                )
                .qed()
            )
            return merge_all([role, tool]).proof()

        parent = (
            Validation.field("meta", row["meta"])
            .refute_with(L.is_required("metaRequired"))
            .refute_with_proof(child_proof)
            .dispute_with_fact(
                "toolPresent", lambda _v: row["meta"]["tool"] is not None
            )
            .qed()
        )
        other = (
            Validation.field("other", row["other"])
            .dispute_with_fact("otherPositive", lambda v: v > 0)
            .qed()
        )
        glob = Validation.value(row).dispute_with_fact(
            "rowConsistent", lambda r: r["other"] != -1
        )
        merged = merge_all([parent, other, glob]).proof()
        if merged.valid:
            assert row["rid"] not in got
        else:
            # drop the refuteWithProof empty-entry quirk (Map.add files an
            # empty list under the parent key; no violation rows -> the
            # engine's report omits the key)
            lfs = {k: v for k, v in merged.fields.items() if v}
            expected = render_failures_json(list(merged.failures), lfs)
            assert got[row["rid"]] == expected, f"row={row}"


def test_report_json_escapes_hostile_codes_and_names(spark):
    """Codes / field names containing quotes, backslashes, HTML-sensitive
    chars or non-ASCII must serialize byte-identically to the kernel's
    System.Text.Json-compatible encoder (core/serialize.py _escape) and
    stay parseable JSON. Pins the for_report literal pre-escaping in
    failures_column (ADVICE r01)."""
    import json

    hostile_field = 'Qu"ote\\Fi<eld>'
    hostile_code = "co\"de&é+`'"
    hostile_global = "glo<bal>\\π"

    schema = StructType(
        [StructField("rid", IntegerType()), StructField("s", StringType())]
    )
    df = spark.createDataFrame([Row(rid=1, s="x")], schema=schema)

    suite = Suite()
    suite.field(hostile_field, F.col("s")).check(hostile_code, F.lit(False))
    suite.global_().check(hostile_global, F.lit(False))
    got = {
        r["rid"]: r["report"]
        for r in suite.run(df, ["rid"]).reports.collect()
    }

    expected = render_failures_json(
        [hostile_global], {(hostile_field,): [hostile_code]}
    )
    assert got[1] == expected
    parsed = json.loads(got[1])
    assert parsed["failures"] == [hostile_global]
    camel = hostile_field[0].lower() + hostile_field[1:]
    assert parsed["fields"] == {camel: [hostile_code]}


@pytest.mark.parametrize("name", ["", " ", "\t", " role", "role "])
@pytest.mark.parametrize("build", ["field", "nested", "element_field"])
def test_names_the_reference_cannot_hold_are_rejected(build, name):
    """A name ``mk_name`` (reference ``mkName``, Types.fs:6-13) would trim
    or reject never reaches a path: ``""`` would render like the global
    scope, and the report would file its failures as globals."""
    make = {
        "field": lambda: Suite().field(name, F.col("s")),
        "nested": lambda: Suite().nested(name, Suite()),
        "element_field": lambda: ElementSuite().field(name),
    }[build]
    with pytest.raises(ValueError, match="field name"):
        make()


HOSTILE = 'Ä"q\\<b>é'  # quote, backslash, <>, non-ASCII, upper-case first


def _hostile_case(spark):
    schema = StructType([StructField("rid", IntegerType()), StructField("s", StringType())])
    suite = Suite().field(HOSTILE, F.col("s")).check("hostileCheck", F.lit(False)).done()
    suite.global_().check("glo<bal>", F.lit(False))
    df = spark.createDataFrame([Row(rid=1, s="x")], schema=schema)
    return suite, df, {(1, (HOSTILE,), "hostileCheck"), (1, (), "glo<bal>")}


def _nested_case(mode):
    def case(spark):
        schema = StructType([StructField("rid", IntegerType()), StructField("Meta", META)])
        child = (
            Suite()
            .field("Role", F.col("Meta.role")).isin("roleEnum", ROLES3)
            .global_().check("childGlobal", F.col("Meta.tool").isNotNull())
            .done()
        )
        suite = Suite().nested("Meta", child, guard=F.col("Meta").isNotNull(), mode=mode)
        df = spark.createDataFrame([Row(rid=1, Meta=Row(role="robot", tool=None))], schema)
        role = ("Meta", "Role") if mode == "apply" else ("Role",)
        return suite, df, {(1, role, "roleEnum"), (1, ("Meta",), "childGlobal")}

    return case


def _each_nested_case(spark):
    turn = StructType([StructField("Role", StringType())])
    schema = StructType([StructField("rid", IntegerType()), StructField("Turns", T.ArrayType(turn))])
    child = ElementSuite().field("Role").isin("roleEnum", ROLES3).done()
    suite = Suite().field("Turns").each_nested(child).done()
    df = spark.createDataFrame([Row(rid=1, Turns=[Row(Role="user"), Row(Role="robot")])], schema)
    return suite, df, {(1, ("Turns", "[1]", "Role"), "roleEnum")}


def _each_indexed_case(spark):
    schema = StructType(
        [StructField("rid", IntegerType()), StructField("Xs", T.ArrayType(IntegerType()))]
    )
    suite = (
        Suite()
        .field("Xs")
        .each_check_indexed("atPosition", lambda x, i: x == i)
        .each_all_check("allNegative", lambda x: x >= 0)
        .done()
    )
    df = spark.createDataFrame([Row(rid=1, Xs=[0, -5, -2]), Row(rid=2, Xs=[-1, -2])], schema)
    return suite, df, {
        (1, ("Xs", "[1]"), "atPosition"),
        (1, ("Xs", "[2]"), "atPosition"),
        (2, ("Xs", "[0]"), "atPosition"),
        (2, ("Xs", "[1]"), "atPosition"),
        (2, (), "allNegative"),
    }


@pytest.mark.parametrize(
    "case",
    [_hostile_case, _nested_case("apply"), _nested_case("proof"), _each_nested_case,
     _each_indexed_case],
    ids=["hostile_name", "nested_apply", "nested_proof", "each_nested", "each_indexed"],
)
def test_violation_paths_are_the_kernel_rendering(spark, case):
    """Each ``violations.path`` is ``render_path`` of the kernel's name
    chain, and in the row's report it is a ``fields`` key holding the code,
    or ``""`` for a code in ``failures``: one rendering serves both."""
    import json

    suite, df, expected = case(spark)
    res = suite.run(df, ["rid"])
    got = {(r["rid"], r["path"], r["code"]) for r in res.violations.collect()}
    assert got == {(rid, render_path(p), code) for rid, p, code in expected}
    reports = {r["rid"]: json.loads(r["report"]) for r in res.reports.collect()}
    for rid, path, code in got:
        report = reports[rid]
        assert code in (report["failures"] if path == "" else report["fields"][path])


def test_library_helper_sugar(spark):
    """§2.5 helper parity sugar on _Branch — flipped-comparator convention
    (tests/.../Library.fs:201-248) and emptiness-not-NULL (126-139)."""
    schema = StructType(
        [
            StructField("rid", IntegerType()),
            StructField("s", StringType()),
            StructField("n", IntegerType()),
            StructField("xs", T.ArrayType(StringType())),
        ]
    )
    df = spark.createDataFrame(
        [
            Row(rid=0, s="", n=5, xs=["a", "b"]),
            Row(rid=1, s="x", n=-1, xs=["bad"]),
            Row(rid=2, s=None, n=None, xs=None),  # NULLs skip every check
        ],
        schema=schema,
    )
    suite = (
        Suite()
        .field("s")
        .not_empty("sEmpty")
        .is_not_equal("sReserved", "reserved")
        .field("n")
        .greater_than_or_equal("nNegative", 0)
        .less_than("nTooBig", 100)
        .is_equal("nNotFive", 5)
        # strict and inclusive bounds, both at n = -1
        .greater_than("nNotAboveMinusOne", -1)
        .less_than_or_equal("nAboveMinusOne", -1)
        .field("xs")
        .has_elem("xsMissingA", "a")
        .does_not_have_elem("xsHasBad", "bad")
        .done()
    )
    got = _collect_failures(suite.run(df, ["rid"]))
    assert got.get(0) == {("s", "sEmpty"), ("n", "nAboveMinusOne")}
    assert got.get(1) == {
        ("n", "nNegative"), ("n", "nNotFive"), ("n", "nNotAboveMinusOne"),
        ("xs", "xsMissingA"), ("xs", "xsHasBad"),
    }
    assert 2 not in got  # NULL values skip (optional-style 3VL)


def test_nested_suite_streaming_safe(spark, tmp_path):
    """Nested-suite compilation is pure stateless expressions, so it runs
    unchanged in Structured Streaming (violations with dotted provenance
    from a file stream)."""
    from fsharp_data_validation_spark.streaming.validate_stream import (
        run_stream_to_parquet,
    )

    src = str(tmp_path / "src")
    _rows_df(
        spark,
        [
            {"rid": 1, "meta": {"role": "robot", "tool": None}, "other": 1},
            {"rid": 2, "meta": None, "other": 1},
            {"rid": 3, "meta": {"role": "user", "tool": "tool_1"}, "other": 1},
        ],
    ).write.parquet(src)
    stream = spark.readStream.schema(SCHEMA).parquet(src)
    assert stream.isStreaming
    q = run_stream_to_parquet(
        stream,
        _parent_suite("proof"),
        ["rid"],
        str(tmp_path / "viol"),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    got = {
        (r["rid"], r["path"], r["code"])
        for r in spark.read.parquet(str(tmp_path / "viol")).collect()
    }
    assert (1, "role", "roleEnum") in got  # proof mode: unprefixed child path
    assert (2, "meta", "metaRequired") in got
    assert not any(r for r in got if r[0] == 3)
