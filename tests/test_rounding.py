"""Engine-exact rounding (fsharp_data_validation_spark/rounding.py): the
vectorized HALF_UP helper equals the shortest-repr Decimal rule on values
engineered onto .5 boundaries, and the kernels that use it round like the
engines do."""

from decimal import ROUND_HALF_UP, Decimal

import numpy as np

from fsharp_data_validation_spark.rounding import half_up, seq_mean_std


def _decimal_rule(x: float, n: int) -> float:
    q = Decimal(1).scaleb(-n)
    return float(Decimal(repr(float(x))).quantize(q, ROUND_HALF_UP))


def test_half_up_equals_decimal_rule_on_ties():
    k = np.arange(20_000, dtype=np.float64)
    for n in (2, 4, 6):
        ties = (k + 0.5) / 10.0**n
        for v in (ties, -ties, np.nextafter(ties, 0), np.nextafter(ties, 1)):
            want = np.array([_decimal_rule(x, n) for x in v])
            assert np.array_equal(half_up(v, n), want), n
    # banker's rounding and binary scaling both miss exact ties
    assert round(0.03125, 4) == 0.0312 and half_up(0.03125, 4) == 0.0313
    assert isinstance(half_up(0.03125, 4), float)


def test_half_up_edges_and_random():
    rng = np.random.default_rng(7)
    v = np.concatenate([rng.uniform(-2, 2, 5_000), rng.uniform(-1e12, 1e12, 500)])
    want = np.array([_decimal_rule(x, 4) for x in v])
    assert np.array_equal(half_up(v, 4), want)
    m = rng.uniform(-1, 1, (7, 9))
    assert half_up(m, 4).shape == (7, 9)
    odd = half_up(np.array([np.inf, -np.inf, np.nan, 0.0]), 3)
    assert odd[0] == np.inf and odd[1] == -np.inf and np.isnan(odd[2]) and odd[3] == 0
    assert half_up(np.array([]), 4).shape == (0,)


def test_seq_mean_std_matches_sequential_definitions():
    xs = [0.123457, 0.123456, 0.5, 0.25, 0.1]
    mean, sd = seq_mean_std(xs)
    acc = 0.0
    for x in xs:
        acc += x
    assert mean == acc / len(xs)
    assert abs(sd - float(np.std(xs))) < 1e-15
    assert seq_mean_std([0.3, 0.3, 0.3])[1] < 1e-16


def test_tdigest_constant_column_rounds_half_up(spark):
    """A constant column's quantiles are the constant itself; 0.03125 sits
    exactly on a 4-decimal tie. The approximate quantiles (which replaced
    the t-digest) return that column element unrounded, and the exact
    quantiles' Spark ROUND takes it up to 0.0313, as DuckDB's ROUND and
    ``half_up`` do (builtin round() gives 0.0312)."""
    from fsharp_data_validation_spark.operators.stats import (
        approx_quantiles,
        exact_quantiles,
    )

    df = spark.createDataFrame([(0.03125,)] * 50, "v double")
    out = approx_quantiles(df, "v", [0.5, 0.95]).collect()[0]
    assert (out["q50"], out["q95"]) == (0.03125, 0.03125)
    exact = exact_quantiles(df, "v", [0.5, 0.95]).collect()[0]
    assert (exact["q50"], exact["q95"]) == (0.0313, 0.0313)
    assert half_up(out["q50"], 4) == exact["q50"]
