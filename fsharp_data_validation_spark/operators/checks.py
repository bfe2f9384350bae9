"""Dataset-level check suite — declarative metric assertions evaluated in
ONE aggregation pass (the Deequ architecture: Schelter et al., "Automating
Large-Scale Data Quality Verification", VLDB 2018 — public work).

This is the dataset-granularity counterpart of the row-level Proof suite
(functions/compiler.py): the reference's ``qed``/``Proof.combine`` semantics
(Proof.fs:102-113, Library.fs:113-115) lifted from "one value passes its
validators" to "one table passes its metric thresholds". Every metric is an
associative aggregate, so Spark computes the whole suite with map-side
partial aggregation + one tiny final reduce — one scan of only the referenced
columns, one row shuffled per partition, any scale. The check table itself is
O(#checks) rows: at 10^12 turns the output is the same ~10 rows.
"""

from __future__ import annotations

import math
import re

from dataclasses import dataclass
from typing import Sequence

from pyspark.sql import Column, DataFrame, functions as F

#: comparison operators a check may assert (kept to a closed set so the
#: status expression stays a plain Column and the DuckDB oracle can mirror it)
_OPS = {">=", "<=", ">", "<", "=="}

MAX_DOMAIN = 10  # suggest_constraints: the largest value domain it collects
RATE_WINDOW = 7  # control-chart baseline days, batch and streaming


@dataclass(frozen=True)
class Check:
    """One metric assertion: ``name`` labels the output row, ``metric`` is an
    AGGREGATE Column (count/avg/sum/min/max/countDistinct compositions),
    ``op`` + ``threshold`` form the pass predicate ``metric op threshold``."""

    name: str
    metric: Column
    op: str
    threshold: float

    def __post_init__(self) -> None:
        if self.op not in _OPS:
            raise ValueError(f"unsupported check op {self.op!r} (allowed: {_OPS})")
        # the name is interpolated into a selectExpr stack() literal — keep
        # it to a safe charset so a quote can't produce invalid/injected SQL
        if not re.fullmatch(r"[A-Za-z0-9_.\- ]+", self.name or ""):
            raise ValueError(
                f"check name {self.name!r} must match [A-Za-z0-9_.- ]+ "
                "(it is embedded in a SQL string literal)"
            )


def completeness(col: str) -> Column:
    """Fraction of rows with a non-null value — Deequ's Completeness."""
    return F.avg(F.col(col).isNotNull().cast("double"))


def compliance(predicate: Column) -> Column:
    """Fraction of rows satisfying ``predicate`` (NULL counts as failing) —
    Deequ's Compliance."""
    return F.avg(F.coalesce(predicate.cast("double"), F.lit(0.0)))


def uniqueness(cols: Sequence[str]) -> Column:
    """distinct(keys) / count(*) — 1.0 iff the key is unique. Exact
    (two-children aggregate, still one pass); swap the countDistinct for
    ``approx_count_distinct`` at 10^12 rows for a sketch-backed ratio."""
    return F.countDistinct(*[F.col(c) for c in cols]) / F.count(F.lit(1))


def dataset_checks(df: DataFrame, checks: Sequence[Check]) -> DataFrame:
    """Evaluate a check suite in one aggregation pass.

    Returns (check_name, metric_value, op, threshold, status) — one row per
    check, ``status`` in {'pass','fail'}. All metrics land in a single
    ``agg`` (so the input is scanned once and only the referenced columns are
    read); the wide one-row result is unpivoted with ``stack`` exactly like
    ``column_profile`` (operators/stats.py:38-62). Metric values are rounded
    BEFORE the threshold comparison so pass/fail is reproducible across
    engines at the published precision.
    """
    if not checks:
        raise ValueError("dataset_checks needs at least one Check")
    names = [c.name for c in checks]
    if len(set(names)) != len(names):
        raise ValueError("check names must be unique")
    aggs = [
        F.round(c.metric.cast("double"), 4).alias(f"_m_{i}")
        for i, c in enumerate(checks)
    ]
    wide = df.agg(*aggs)
    # one stack row per check: (name, value, op, threshold) are literals
    # except the metric — the comparison itself is a plain Column per row
    rows = ", ".join(
        f"'{c.name}', _m_{i}, '{c.op}', CAST({c.threshold!r} AS DOUBLE)"
        for i, c in enumerate(checks)
    )
    unpivoted = wide.selectExpr(
        f"stack({len(checks)}, {rows}) AS (check_name, metric_value, op, threshold)"
    )
    passed = (
        F.when(F.col("op") == ">=", F.col("metric_value") >= F.col("threshold"))
        .when(F.col("op") == "<=", F.col("metric_value") <= F.col("threshold"))
        .when(F.col("op") == ">", F.col("metric_value") > F.col("threshold"))
        .when(F.col("op") == "<", F.col("metric_value") < F.col("threshold"))
        .otherwise(F.col("metric_value") == F.col("threshold"))
    )
    return unpivoted.select(
        "check_name",
        "metric_value",
        "op",
        "threshold",
        F.when(passed, F.lit("pass")).otherwise(F.lit("fail")).alias("status"),
    )


def fd_violations(df: DataFrame, fds: Sequence[tuple[Sequence[str], str]]) -> DataFrame:
    """Functional-dependency violation profile: for each candidate FD
    ``lhs -> rhs``, how many lhs keys map to MORE than one distinct rhs
    value (and how many rows sit under those keys).

    The dataset-level generalization of the reference's per-field
    ``isEqual``/uniqueness gates (Library.fs:87-96): instead of asserting a
    single value, it measures whether a column is FUNCTIONALLY DETERMINED —
    the standard data-profiling primitive for catching fan-out bugs
    (duplicate (conv_id, turn_idx) pairs carrying different payloads).

    One hash aggregate per FD (keyed on its own lhs, so each is an
    independent map-side-combined shuffle) followed by an O(keys)→1-row
    reduce; the unioned output is |fds| rows at any data scale. NULL lhs
    values group as a key and NULL rhs values don't count as a distinct
    value — identical semantics in Spark and ANSI SQL, so the DuckDB oracle
    is a literal UNION ALL of the same grouped subqueries."""
    if not fds:
        raise ValueError("fd_violations needs at least one candidate FD")
    outs = []
    for lhs, rhs in fds:
        label = ",".join(lhs) + "->" + rhs
        keyed = df.groupBy(*[F.col(c) for c in lhs]).agg(
            F.countDistinct(F.col(rhs)).alias("_n_rhs"),
            F.count(F.lit(1)).alias("_n_rows"),
        )
        bad = F.col("_n_rhs") > 1
        outs.append(
            keyed.agg(
                F.lit(label).alias("fd"),
                F.count(F.lit(1)).alias("n_keys"),
                F.sum(bad.cast("long")).alias("violating_keys"),
                F.sum(F.when(bad, F.col("_n_rows")).otherwise(F.lit(0))).alias(
                    "violating_rows"
                ),
                F.round(F.avg(bad.cast("double")), 4).alias("violation_rate"),
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


def suggest_constraints(
    df: DataFrame,
    string_cols: Sequence[str] = (),
    numeric_cols: Sequence[str] = (),
) -> DataFrame:
    """Profile-driven constraint SUGGESTION (the Deequ ConstraintSuggestion
    architecture: Schelter et al., VLDB 2018) — the discovery complement of
    ``dataset_checks``: instead of asserting a hand-written suite, profile
    the table once and emit the suite a maintainer should assert. The
    dataset-granularity analogue of handing the reference's validator
    library (Library.fs:8-121 — isRequired/minLength/hasElem/comparison
    gates) a table and asking WHICH validators currently hold.

    Two passes, both scale-sane:

    1. ONE aggregation over only the referenced columns — per column:
       non-null count, exact distinct count (swap ``F.countDistinct`` for
       ``approx_count_distinct`` at 10^12 rows; exact is kept here so the
       DuckDB oracle replays it bit-for-bit), rounded completeness, the
       2-decimal FLOORED completeness (the suggested threshold — floored so
       the suggested assertion is guaranteed to pass on the profiled data),
       max length (string) / rounded min+max (numeric). Map-side partial
       agg + one-row reduce.
    2. The collected one-row profile (a control-plane O(#columns) scalar
       read, same pattern as the dedup convergence witnesses) decides which
       string columns are low-cardinality (0 < distinct <= ``MAX_DOMAIN``);
       ONE more aggregation collects the sorted pipe-joined value domain for
       just those columns — bounded at ``MAX_DOMAIN`` values per column, so
       the second pass is safe at any scale (it never runs for high-
       cardinality columns).

    All doubles in the output come from engine-side ``F.round``/``F.floor``
    (HALF_UP, matching DuckDB's ROUND) — the Python layer only compares
    exact integers, so no Python-rounding-mode divergence can enter.

    Emitted suggestion kinds (one output row each, per column where the
    guard holds):

    - ``not_null``    — no NULLs observed             (support 1.0)
    - ``completeness``— some NULLs: ``lo`` = floored completeness threshold
    - ``unique``      — distinct == non-null == rows  (support 1.0)
    - ``domain``      — ``value_str`` = sorted ``|``-joined value set
    - ``range``       — ``lo``/``hi`` = observed numeric min/max
    - ``max_length``  — ``hi`` = observed max string length

    Returns (column, kind, value_str, lo, hi, support); O(#columns) rows at
    any data scale."""
    string_cols = list(string_cols)
    numeric_cols = list(numeric_cols)
    cols = string_cols + numeric_cols
    if not cols:
        raise ValueError("suggest_constraints needs at least one column")
    if len(set(cols)) != len(cols):
        raise ValueError("columns must be unique across string/numeric lists")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        notnull = F.col(c).isNotNull()
        aggs += [
            F.count(F.col(c)).alias(f"nn_{c}"),
            F.countDistinct(F.col(c)).alias(f"d_{c}"),
            F.round(F.avg(notnull.cast("double")), 4).alias(f"comp_{c}"),
            (F.floor(F.avg(notnull.cast("double")) * 100) / 100.0).alias(
                f"floor_{c}"
            ),
        ]
    for c in string_cols:
        aggs.append(
            F.max(F.length(F.col(c))).cast("double").alias(f"maxlen_{c}")
        )
    for c in numeric_cols:
        aggs += [
            F.round(F.min(F.col(c)).cast("double"), 4).alias(f"lo_{c}"),
            F.round(F.max(F.col(c)).cast("double"), 4).alias(f"hi_{c}"),
        ]
    prof = df.agg(*aggs).collect()[0].asDict()

    n = prof["n_rows"]
    domain_cols = [
        c for c in string_cols if 0 < prof[f"d_{c}"] <= MAX_DOMAIN
    ]
    domains: dict[str, str] = {}
    if domain_cols:
        drow = df.agg(
            *[
                F.array_join(
                    F.sort_array(F.collect_set(F.col(c))), "|"
                ).alias(c)
                for c in domain_cols
            ]
        ).collect()[0]
        domains = {c: drow[c] for c in domain_cols}

    rows = []
    for c in cols:
        nn, d = prof[f"nn_{c}"], prof[f"d_{c}"]
        comp = prof[f"comp_{c}"]
        if n > 0 and nn == n:
            rows.append((c, "not_null", None, None, None, 1.0))
        elif nn > 0:
            rows.append((c, "completeness", None, prof[f"floor_{c}"], None, comp))
        if n > 0 and d == nn and nn == n:
            rows.append((c, "unique", None, None, None, 1.0))
        if c in domains:
            rows.append((c, "domain", domains[c], None, None, comp))
        if c in numeric_cols and nn > 0:
            rows.append((c, "range", None, prof[f"lo_{c}"], prof[f"hi_{c}"], comp))
        if c in string_cols and nn > 0:
            rows.append((c, "max_length", None, None, prof[f"maxlen_{c}"], comp))
    return df.sparkSession.createDataFrame(
        rows,
        "column string, kind string, value_str string, lo double, hi double, "
        "support double",
    )


def rate_anomaly(
    df: DataFrame,
    day_col: Column,
    fail_col: Column,
    z_threshold: float = 3.0,
) -> DataFrame:
    """Control-chart anomaly detection on the daily violation-rate series —
    the Deequ AnomalyDetection architecture (Schelter et al., VLDB 2018)
    over the monitoring time series ``rolling_rate`` already reports: each
    day's suite violation rate is scored against the trailing ``RATE_WINDOW``
    days' mean ± z·stddev (the current day EXCLUDED from its own baseline,
    so a spike can't mask itself).

    One hash aggregate over the data (map-side combined, one row per day),
    then lag windows over the KB-scale daily table — at 10^12 turns the
    windowed stage still touches ~#days rows. The rate entering the
    mean/stddev baseline is the ROUNDED rate, so both engines aggregate
    bit-identical inputs — and the baseline mean/sd are themselves ROUNDED
    at 6 decimals BEFORE the z/anomaly branch. This is load-bearing twice:
    (a) ``stddev_pop`` over identical rounded rates returns ~1e-17 float
    noise (the mean is inexact), and branching on the RAW sd would divide
    by that noise and flag every steady day; (b) it makes every published
    column recomputable from the report (z = (rate - mean_rate)/sd_rate)
    and the whole row a pure function of 6-decimal doubles, so Spark and
    the DuckDB oracle agree bit-for-bit.

    A day is ``anomaly`` when it has >= 3 trailing days AND
    either |z| > ``z_threshold`` (sd > 0) or the rate moved off a constant
    baseline (sd == 0, where z is undefined and emitted NULL).

    Returns (day, n_rows, n_viol, rate, mean_rate, sd_rate, z, anomaly)."""
    from pyspark.sql import Window

    daily = df.groupBy(day_col.alias("day")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(fail_col.cast("long")).alias("n_viol"),
    )
    rated = daily.withColumn(
        "rate", F.round(F.col("n_viol") / F.col("n_rows"), 6)
    )
    w = Window.orderBy("day").rowsBetween(-RATE_WINDOW, -1)
    mean = F.round(F.avg("rate").over(w), 6)
    sd = F.round(F.stddev_pop("rate").over(w), 6)
    hist = F.count("rate").over(w)
    z = F.when(sd > 0, F.round((F.col("rate") - mean) / sd, 4))
    return rated.select(
        "day",
        "n_rows",
        "n_viol",
        "rate",
        mean.alias("mean_rate"),
        sd.alias("sd_rate"),
        z.alias("z"),
        (
            (hist >= 3)
            & F.coalesce(
                F.when(sd > 0, F.abs(z) > z_threshold).otherwise(
                    F.col("rate") != mean
                ),
                F.lit(False),
            )
        ).alias("anomaly"),
    )


#: Benford expected first-digit probabilities log10(1 + 1/d), d = 1..9.
_BENFORD = [0.0] + [math.log10(1.0 + 1.0 / d) for d in range(1, 10)]


def benford_check(df: DataFrame, value_col: str) -> DataFrame:
    """First-significant-digit distribution of a positive integer column vs
    Benford's law, with the chi-square distance attached.

    Digit extraction is string-based (first character of the integer's
    decimal rendering) rather than ``floor(v/10^floor(log10 v))`` — the
    log form misclassifies exact powers of ten when log10 lands at
    2.9999999999…, and the string form is bit-identical across Spark and
    DuckDB. One hash aggregate over the (at most 9)-row digit space with
    map-side combine, joined to the full 1..9 digit spine (a digit that
    NEVER occurs is the strongest non-conformance signal and must still
    contribute its expected mass N·p_d to chi² — dropping unobserved
    digits would understate the statistic exactly when it matters most),
    then a window over those 9 rows for the total and the shared chi².
    O(1) output at any scale.

    Returns (digit, n, obs_p, exp_p, chi2) — 9 rows always, rounded to 4
    decimals; ``chi2`` = Σ(n_d − N·p_d)²/(N·p_d) over ALL digits, constant
    across rows (0 on empty input)."""
    from pyspark.sql import Window

    v = F.col(value_col).cast("bigint")
    digit = F.substring(v.cast("string"), 1, 1).cast("bigint")
    agg = (
        df.filter(v > 0)
        .groupBy(digit.alias("digit"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    spine = df.sparkSession.range(1, 10).withColumnRenamed("id", "digit")
    full = spine.join(agg, "digit", "left").withColumn(
        "n", F.coalesce("n", F.lit(0))
    )
    exp_p = F.element_at(F.lit(_BENFORD), (F.col("digit") + 1).cast("int"))
    w = Window.partitionBy()
    tot = F.sum("n").over(w)
    expected = tot * exp_p
    nonempty = tot > 0
    return (
        full.select(
            "digit",
            "n",
            F.when(nonempty, F.col("n") / tot).otherwise(F.lit(0.0)).alias("_obs"),
            exp_p.alias("_exp"),
            F.sum(
                F.when(
                    nonempty,
                    (F.col("n") - expected) * (F.col("n") - expected) / expected,
                ).otherwise(F.lit(0.0))
            )
            .over(w)
            .alias("_chi2"),
        )
        .select(
            "digit",
            F.col("n").cast("bigint").alias("n"),
            F.round("_obs", 4).alias("obs_p"),
            F.round("_exp", 4).alias("exp_p"),
            F.round("_chi2", 4).alias("chi2"),
        )
    )
