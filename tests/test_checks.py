"""The dataset-level checks (``operators/checks.py``): profile-driven
constraint suggestion, the control-chart rate anomaly and check-name
validation, pinned on hand-built fixtures; the sf0.01 DuckDB oracles cover
the derived-table scale."""

import pytest


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
