"""The dataset-level checks (``operators/checks.py``): profile-driven
constraint suggestion, the control-chart rate anomaly and check-name
validation, the one-pass dataset check suite, the functional-dependency
profile and the Benford check, pinned on hand-built fixtures; the sf0.01
DuckDB oracles cover the derived-table scale."""

import math

import pytest
from pyspark.sql import Row, functions as F


def test_suggest_constraints_kinds_and_guards(spark):
    """Profile-driven suggestion emission guards (operators/checks.py:
    suggest_constraints): not_null vs completeness are exclusive; unique
    requires distinct == non-null == rows; domain only for 0 < distinct <=
    MAX_DOMAIN; an all-NULL column emits NOTHING; the suggested
    completeness threshold is FLOORED at 2 decimals so asserting it on the
    profiled data is guaranteed to pass."""
    from fsharp_data_validation_spark.operators.checks import suggest_constraints

    df = spark.createDataFrame(
        [
            (1, "a", None, 10.0),
            (2, "b", None, 20.0),
            (3, "a", None, 30.0),
            (4, "b", None, None),
            (5, None, None, 50.0),
            (6, None, None, 60.0),
        ],
        "id int, cat string, allnull string, val double",
    )
    out = suggest_constraints(
        df, string_cols=["cat", "allnull"], numeric_cols=["id", "val"]
    )
    rows = {(r["column"], r["kind"]): r for r in out.collect()}

    # id: complete, unique, ranged — and never gets a completeness row
    assert rows[("id", "not_null")]["support"] == 1.0
    assert ("id", "completeness") not in rows
    assert ("id", "unique") in rows
    r = rows[("id", "range")]
    assert (r["lo"], r["hi"]) == (1.0, 6.0)

    # cat: 4/6 non-null -> floored threshold 0.66, rounded support 0.6667
    c = rows[("cat", "completeness")]
    assert c["lo"] == 0.66 and c["support"] == 0.6667
    assert rows[("cat", "domain")]["value_str"] == "a|b"
    assert rows[("cat", "max_length")]["hi"] == 1.0
    assert ("cat", "not_null") not in rows and ("cat", "unique") not in rows

    # all-NULL column: no suggestion of any kind
    assert not any(col == "allnull" for col, _ in rows)

    # val: one NULL -> completeness + range, no unique (d == nn but nn < n)
    assert ("val", "completeness") in rows and ("val", "range") in rows
    assert ("val", "unique") not in rows

    # the floored threshold must HOLD on the profiled data by construction
    for (col, kind), r in rows.items():
        if kind == "completeness":
            assert r["lo"] <= r["support"]

    import pytest as _pytest

    with _pytest.raises(ValueError):
        suggest_constraints(df, string_cols=["cat"], numeric_cols=["cat"])
    with _pytest.raises(ValueError):
        suggest_constraints(df)


def test_suggest_constraints_domain_cardinality_gate(spark):
    """The second (domain-collecting) pass never runs for columns above
    MAX_DOMAIN (10) — a high-cardinality column gets completeness/length rows
    but NO domain row."""
    from fsharp_data_validation_spark.operators.checks import suggest_constraints

    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(20)], "id int, hicard string"
    )
    out = suggest_constraints(df, string_cols=["hicard"])
    kinds = {r["kind"] for r in out.collect()}
    assert "domain" not in kinds
    assert {"not_null", "unique", "max_length"} <= kinds


def test_rate_anomaly_control_chart(spark):
    """Control-chart semantics (operators/checks.py:rate_anomaly): the day
    under test is EXCLUDED from its own trailing baseline (a spike can't
    mask itself); a spike off a CONSTANT baseline (sd == 0) is anomalous
    with z NULL; days with < min_history trailing days are never anomalous;
    a post-spike normal day has a computable z but stays below threshold."""
    import datetime

    import pyspark.sql.functions as F

    from fsharp_data_validation_spark.operators.checks import rate_anomaly

    # days 1-8: 2/10 fail (rate .2); day 9: 8/10 (spike); day 10: 2/10
    rows = []
    for d in range(1, 11):
        k = 8 if d == 9 else 2
        day = datetime.date(2024, 1, d)
        rows += [(day, i < k) for i in range(10)]
    df = spark.createDataFrame(rows, "day date, fail boolean")
    out = {
        r["day"].day: r
        for r in rate_anomaly(
            df, F.col("day"), F.col("fail"), z_threshold=3.0
        ).collect()
    }

    # day 9: baseline = days 2-8, all exactly 0.2 -> sd 0, z NULL, anomaly
    spike = out[9]
    assert spike["mean_rate"] == 0.2 and spike["sd_rate"] == 0.0
    assert spike["z"] is None and spike["anomaly"] is True

    # self-exclusion: had day 9 entered its own baseline, sd > 0 there
    # days 1-3: insufficient history -> never anomalous
    for d in (1, 2, 3):
        assert out[d]["anomaly"] is False
    # steady days 4-8: rate == mean, sd == 0 -> not anomalous
    for d in (4, 5, 6, 7, 8):
        assert out[d]["anomaly"] is False and out[d]["z"] is None

    # day 10: spike is IN the baseline -> sd > 0, z defined, small
    after = out[10]
    assert after["sd_rate"] > 0 and after["z"] is not None
    assert abs(after["z"]) < 3.0 and after["anomaly"] is False


def test_check_name_charset_validated():
    from pyspark.sql import functions as F

    from fsharp_data_validation_spark.operators.checks import Check, completeness

    Check("ok_name-1.x", completeness("text"), ">=", 0.9)  # fine
    for bad in ("bad'name", "", "semi;colon", 'dq"uote', "new\nline"):
        with pytest.raises(ValueError):
            Check(bad, F.count(F.lit(1)), ">=", 0.0)


def test_dataset_checks_one_pass(spark):
    from fsharp_data_validation_spark.operators.checks import (
        Check,
        completeness,
        compliance,
        dataset_checks,
        uniqueness,
    )

    rows = [
        Row(conv_id="c1", turn_idx=0, role="user", text="hi"),
        Row(conv_id="c1", turn_idx=1, role="assistant", text=None),
        Row(conv_id="c1", turn_idx=1, role="weird", text="dup key"),
        Row(conv_id="c2", turn_idx=0, role="user", text="yo"),
    ]
    df = spark.createDataFrame(rows)
    out = dataset_checks(
        df,
        [
            Check("text_comp", completeness("text"), ">=", 0.8),
            Check("role_ok", compliance(F.col("role").isin("user", "assistant")), ">=", 1.0),
            Check("uniq", uniqueness(["conv_id", "turn_idx"]), ">=", 1.0),
            Check("rows", F.count(F.lit(1)), "==", 4.0),
        ],
    )
    got = {r["check_name"]: (r["metric_value"], r["status"]) for r in out.collect()}
    assert got["text_comp"] == (0.75, "fail")
    assert got["role_ok"] == (0.75, "fail")
    assert got["uniq"] == (0.75, "fail")  # 3 distinct keys / 4 rows
    assert got["rows"] == (4.0, "pass")
    # one aggregation pass: a single final physical aggregate, no join
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan


def test_dataset_checks_rejects_bad_specs(spark):
    import pytest as _pytest

    from fsharp_data_validation_spark.operators.checks import Check, dataset_checks

    with _pytest.raises(ValueError):
        Check("x", F.count(F.lit(1)), "!=", 1.0)
    df = spark.range(1)
    with _pytest.raises(ValueError):
        dataset_checks(df, [])
    dup = [
        Check("same", F.count(F.lit(1)), ">=", 0.0),
        Check("same", F.count(F.lit(1)), ">=", 0.0),
    ]
    with _pytest.raises(ValueError):
        dataset_checks(df, dup)


def test_fd_violations_counts(spark):
    from fsharp_data_validation_spark.operators.checks import fd_violations

    rows = [
        # key (1,1) maps to two roles -> violating (3 rows under it)
        (1, 1, "user", "x"),
        (1, 1, "user", "x"),
        (1, 1, "tool", "x"),
        # key (1,2) is clean
        (1, 2, "user", "y"),
        # NULL rhs never counts as a distinct value
        (2, 1, "user", None),
        (2, 1, "user", "z"),
    ]
    df = spark.createDataFrame(rows, "conv int, turn int, role string, text string")
    got = {
        r["fd"]: r
        for r in fd_violations(
            df, [(["conv", "turn"], "role"), (["conv", "turn"], "text")]
        ).collect()
    }
    r = got["conv,turn->role"]
    assert (r["n_keys"], r["violating_keys"], r["violating_rows"]) == (3, 1, 3)
    assert abs(r["violation_rate"] - 1 / 3) < 1e-3
    t = got["conv,turn->text"]
    assert (t["violating_keys"], t["violating_rows"]) == (0, 0)

    import pytest

    with pytest.raises(ValueError):
        fd_violations(df, [])


def test_benford_digits_and_chi2(spark):
    """String-based first digit classifies exact powers of ten correctly;
    chi2 matches the hand-computed statistic."""
    from fsharp_data_validation_spark.operators.checks import benford_check

    vals = [1, 10, 100, 1000, 2, 25, 300, 9, 95, -5, 0]  # <=0 dropped
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    out = benford_check(df, "v")
    assert dict(out.dtypes)["digit"] == "bigint"  # the oracle's BIGINT
    got = {r["digit"]: r for r in out.collect()}
    assert set(got) == set(range(1, 10))  # full spine, zeros included
    assert got[1]["n"] == 4  # 1, 10, 100, 1000 all digit 1
    assert got[3]["n"] == 1 and got[9]["n"] == 2
    assert got[4]["n"] == 0 and got[4]["obs_p"] == 0.0
    n_tot = 9
    chi2 = 0.0
    for d in range(1, 10):
        exp = n_tot * math.log10(1 + 1 / d)
        obs = {1: 4, 2: 2, 3: 1, 9: 2}.get(d, 0)
        # unobserved digits still contribute their expected mass
        chi2 += (obs - exp) ** 2 / exp
    assert abs(got[1]["chi2"] - chi2) < 1e-4
    assert abs(got[1]["obs_p"] - 4 / 9) < 1e-4  # rounded to 4 decimals
