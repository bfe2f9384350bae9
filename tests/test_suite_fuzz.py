"""Structural fuzz: random constraint-suite SHAPES (not just random rows)
compiled both to the Spark Suite and to the pure-kernel chains, compared
row-by-row. This stresses mask interactions the hand-written matrices can't
enumerate: refute chains x optional guards x nested proof gates x element
constraints, in random order, over random (incl. NULL-heavy) data.

Conventions mirrored on both sides:
- scalar dispute predicates skip NULL (SQL 3VL <=> kernel lambda None-skip);
- nested children use mode='proof' (refuteWithProof — the kernel-expressible
  multi-branch composition);
- element checks are disputeAnyWithFact over int arrays.
"""

import random

from pyspark.sql import Row, functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from fsharp_data_validation_spark.core import Validation, library as L
from fsharp_data_validation_spark.core.proof import Valid
from fsharp_data_validation_spark.core.vctx import merge_all
from fsharp_data_validation_spark.functions.compiler import Suite

SCALARS = ["a", "b", "c"]

INNER = StructType([StructField("x", IntegerType()), StructField("y", IntegerType())])
SCHEMA = StructType(
    [
        StructField("rid", IntegerType()),
        StructField("a", IntegerType()),
        StructField("b", IntegerType()),
        StructField("c", IntegerType()),
        StructField("s", INNER),
        StructField("xs", ArrayType(IntegerType())),
    ]
)


def gen_spec(rng: random.Random) -> dict:
    """A random suite shape: per-scalar constraint chains, a nested struct
    branch, and an element branch."""

    def chain():
        ops = []
        if rng.random() < 0.4:
            ops.append(("required", None))
        for _ in range(rng.randint(1, 3)):
            kind = rng.choice(["ge", "lt", "refute_ge", "even"])
            k = rng.randint(-3, 3)
            ops.append((kind, k))
        return ops

    return {
        "scalars": {f: chain() for f in SCALARS if rng.random() < 0.8},
        "nested": {
            "required": rng.random() < 0.5,
            "x": chain(),
            "y": chain() if rng.random() < 0.7 else [],
            "post_ge": rng.randint(-3, 3) if rng.random() < 0.7 else None,
        },
        "each_ge": rng.randint(-3, 3) if rng.random() < 0.8 else None,
    }


def gen_row(rng: random.Random, rid: int) -> dict:
    def v():
        return rng.choice([None, -2, -1, 0, 1, 2, 3])

    return {
        "rid": rid,
        "a": v(),
        "b": v(),
        "c": v(),
        "s": None if rng.random() < 0.3 else {"x": v(), "y": v()},
        "xs": None if rng.random() < 0.2 else [v() for _ in range(rng.randint(0, 4))],
    }


# --- Spark side -------------------------------------------------------------


def _apply_chain_spark(branch, ops, prefix: str):
    for i, (kind, k) in enumerate(ops):
        code = f"{prefix}_{i}_{kind}"
        if kind == "required":
            branch = branch.required(code)
        elif kind == "ge":
            branch = branch.check(code, branch.column >= F.lit(k))
        elif kind == "lt":
            branch = branch.check(code, branch.column < F.lit(k))
        elif kind == "refute_ge":
            branch = branch.refute_check(code, branch.column >= F.lit(k))
        elif kind == "even":
            branch = branch.check(code, branch.column % 2 == 0)
    return branch


def spark_suite(spec: dict) -> Suite:
    suite = Suite()
    for f, ops in spec["scalars"].items():
        _apply_chain_spark(suite.field(f), ops, f)
    n = spec["nested"]
    child = Suite()
    _apply_chain_spark(child.field("x", F.col("s.x")), n["x"], "sx")
    if n["y"]:
        _apply_chain_spark(child.field("y", F.col("s.y")), n["y"], "sy")
    pb = suite.field("s")
    if n["required"]:
        pb = pb.required("s_required")
    suite.nested("s", child, guard=F.col("s").isNotNull(), mode="proof")
    if n["post_ge"] is not None:
        suite.field("s").check("s_post", F.col("s.x") >= F.lit(n["post_ge"]))
    if spec["each_ge"] is not None:
        suite.field("xs").each_check("xs_ge", lambda x: x >= F.lit(spec["each_ge"]))
    return suite


# --- kernel side ------------------------------------------------------------


def _apply_chain_kernel(val, ops, prefix: str):
    for i, (kind, k) in enumerate(ops):
        code = f"{prefix}_{i}_{kind}"
        if kind == "required":
            val = val.refute_with(L.is_required(code))
        elif kind == "ge":
            val = val.dispute_with_fact(code, lambda v, k=k: True if v is None else v >= k)
        elif kind == "lt":
            val = val.dispute_with_fact(code, lambda v, k=k: True if v is None else v < k)
        elif kind == "refute_ge":
            val = val.refute_with(
                lambda v, k=k, code=code: (True, v)
                if (v is None or v >= k)
                else (False, code)
            )
        elif kind == "even":
            val = val.dispute_with_fact(
                code, lambda v, k=k: True if v is None else v % 2 == 0
            )
    return val


def kernel_branches(spec: dict, row: dict) -> list:
    branches = []
    for f, ops in spec["scalars"].items():
        branches.append(_apply_chain_kernel(Validation.field(f, row[f]), ops, f).qed())

    n = spec["nested"]

    def child_proof(s):
        if s is None:
            # mirrors the Spark guard (s IS NOT NULL): a NULL struct skips
            # every child check instead of crashing on field access
            return Valid(None)
        cb = [_apply_chain_kernel(Validation.field("x", s["x"]), n["x"], "sx").qed()]
        if n["y"]:
            cb.append(
                _apply_chain_kernel(Validation.field("y", s["y"]), n["y"], "sy").qed()
            )
        return merge_all(cb).proof()

    pv = Validation.field("s", row["s"])
    if n["required"]:
        pv = pv.refute_with(L.is_required("s_required"))
    pv = pv.refute_with_proof(child_proof)
    if n["post_ge"] is not None:
        pv = pv.dispute_with_fact(
            "s_post",
            lambda _v: True
            if row["s"] is None or row["s"]["x"] is None
            else row["s"]["x"] >= n["post_ge"],
        )
    branches.append(pv.qed())

    if spec["each_ge"] is not None and row["xs"] is not None:
        branches.append(
            Validation.field("xs", row["xs"])
            .dispute_any_with_fact(
                "xs_ge",
                lambda v: True if v is None else v >= spec["each_ge"],
            )
            .qed()
        )

    return branches


def kernel_failures(spec: dict, row: dict) -> set:
    out = set()
    for br in kernel_branches(spec, row):
        p = br.proof()
        if not p.valid:
            for f in p.failures:
                out.add(("", f))
            for path, fs in p.fields.items():
                for f in fs:
                    out.add(
                        (".".join(s[0].lower() + s[1:] for s in path), f)
                    )
    return out


def kernel_report(spec: dict, row: dict):
    """Reference-serializer report for the merged branches (None if the
    row is fully valid); drops refuteWithProof's empty-entry quirk, which
    emits no violation rows engine-side."""
    from fsharp_data_validation_spark.core.serialize import render_failures_json

    merged = merge_all(kernel_branches(spec, row)).proof()
    if merged.valid:
        return None
    lfs = {k: v for k, v in merged.fields.items() if v}
    return render_failures_json(list(merged.failures), lfs)


def test_random_suite_shapes_match_kernel(spark):
    rng = random.Random(2026)
    for trial in range(6):
        spec = gen_spec(rng)
        rows = [gen_row(rng, i) for i in range(60)]
        df = spark.createDataFrame(
            [
                Row(
                    rid=r["rid"],
                    a=r["a"],
                    b=r["b"],
                    c=r["c"],
                    s=None if r["s"] is None else Row(**r["s"]),
                    xs=r["xs"],
                )
                for r in rows
            ],
            schema=SCHEMA,
        )
        suite = spark_suite(spec)
        res = suite.run(df, ["rid"])
        got, n_rows = {}, {}
        for r in res.violations.collect():
            got.setdefault(r["rid"], set()).add((r["path"], r["code"]))
            n_rows[r["rid"]] = n_rows.get(r["rid"], 0) + 1
        # the allocation-free columns the verdict and the streaming
        # aggregates count with agree with the violation rows and with the
        # failures array ValidationRun counts, per row
        flags = {
            r["rid"]: (r["n"], r["any"], r["size"])
            for r in df.select(
                "rid",
                suite.failure_count_column().alias("n"),
                suite.any_failure_column().alias("any"),
                F.size(suite.failures_column()).alias("size"),
            ).collect()
        }
        valid_ids = {r["rid"] for r in res.valid.select("rid").collect()}
        got_reports = {
            r["rid"]: r["report"] for r in res.reports.collect()
        }
        for row in rows:
            expected = kernel_failures(spec, row)
            actual = got.get(row["rid"], set())
            assert actual == expected, (
                f"trial={trial} spec={spec} row={row}\n"
                f"spark={sorted(actual)}\nkernel={sorted(expected)}"
            )
            assert (row["rid"] in valid_ids) == (not expected)
            n = n_rows.get(row["rid"], 0)
            assert flags[row["rid"]] == (n, n > 0, n), (trial, row, flags[row["rid"]], n)
            # byte-parity of the JSON report with the reference serializer
            exp_report = kernel_report(spec, row)
            assert got_reports.get(row["rid"]) == exp_report, (
                f"trial={trial} rid={row['rid']}\n"
                f"spark={got_reports.get(row['rid'])}\nkernel={exp_report}"
            )


def test_random_apply_mode_shapes_match_kernel_optional(spark):
    """Apply-mode nesting fuzz (single-branch children — the shape the
    reference's optional() expresses directly): prefixed child paths,
    dispute-continues, refute-gates, across random chains and data."""
    rng = random.Random(777)
    for trial in range(4):
        ops = []
        if rng.random() < 0.5:
            ops.append(("required", None))
        for _ in range(rng.randint(1, 3)):
            ops.append((rng.choice(["ge", "lt", "refute_ge", "even"]), rng.randint(-3, 3)))
        post_ge = rng.randint(-3, 3)
        parent_required = rng.random() < 0.5

        suite = Suite()
        pb = suite.field("s")
        if parent_required:
            pb = pb.required("s_required")
        child = Suite()
        _apply_chain_spark(child.field("x", F.col("s.x")), ops, "sx")
        suite.nested("s", child, guard=F.col("s").isNotNull(), mode="apply")
        suite.field("s").check("s_post", F.col("s.x") >= F.lit(post_ge))

        rows = [gen_row(rng, i) for i in range(50)]
        df = spark.createDataFrame(
            [
                Row(
                    rid=r["rid"], a=r["a"], b=r["b"], c=r["c"],
                    s=None if r["s"] is None else Row(**r["s"]),
                    xs=r["xs"],
                )
                for r in rows
            ],
            schema=SCHEMA,
        )
        res = suite.run(df, ["rid"])
        got = {}
        for r in res.violations.collect():
            got.setdefault(r["rid"], set()).add((r["path"], r["code"]))

        for row in rows:
            pv = Validation.field("s", row["s"])
            if parent_required:
                pv = pv.refute_with(L.is_required("s_required"))
            pv = pv.optional(
                lambda m: _apply_chain_kernel(
                    Validation.field("x", m["x"]), ops, "sx"
                )
            )
            # engine keeps parent scope for the post-gate check (the
            # reference's optional() shifts scope via value chaining; the
            # row model transforms no values) — emulate at parent scope:
            post_fails = (
                row["s"] is not None
                and row["s"]["x"] is not None
                and not (row["s"]["x"] >= post_ge)
            )
            p = pv.qed().proof()
            expected = set()
            if not p.valid:
                for f in p.failures:
                    expected.add(("", f))
                for path, fs in p.fields.items():
                    for f in fs:
                        expected.add(
                            (".".join(s[0].lower() + s[1:] for s in path), f)
                        )
            refuted = pv.ctx.state == "refuted"
            if post_fails and not refuted:
                expected = expected | {("s", "s_post")}
            actual = got.get(row["rid"], set())
            assert actual == expected, (
                f"trial={trial} ops={ops} post_ge={post_ge} "
                f"req={parent_required} row={row}\n"
                f"spark={sorted(actual)}\nkernel={sorted(expected)}"
            )
