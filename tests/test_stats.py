"""Per-column statistics (operators/stats.py): the MAD outlier profile,
the mergeable per-partition sketches (Misra-Gries heavy hitters, moments,
HLL distinct counts) and their rollups, the key-skew report and the
approximate quantiles. Semantics pinned on hand-built fixtures; the sf0.01
DuckDB oracles cover the derived-table scale."""

import math


def test_mad_outliers_robust_center(spark):
    from fsharp_data_validation_spark.operators.stats import mad_outliers_by_group

    # 9 values near 10 (MAD=1), one extreme value -> exactly one outlier;
    # the extreme value barely moves the median (robustness)
    vals = [9, 9, 10, 10, 10, 11, 11, 12, 8, 1000]
    df = spark.createDataFrame([("g", float(v)) for v in vals], "grp string, x double")
    r = mad_outliers_by_group(df, "grp", "x").collect()[0]
    assert r["med"] == 10.0
    assert r["n_outliers"] == 1 and r["n_rows"] == 10
    # constant group: MAD = 0 -> every off-median row flags (strict >)
    df2 = spark.createDataFrame(
        [("c", 5.0)] * 8 + [("c", 6.0)], "grp string, x double"
    )
    r2 = mad_outliers_by_group(df2, "grp", "x").collect()[0]
    assert r2["mad"] == 0.0 and r2["n_outliers"] == 1


def test_misra_gries_sketch_bounds_and_merge(spark):
    from pyspark.sql import functions as F

    from fsharp_data_validation_spark.operators.stats import (
        _MG_K,
        mg_partition_sketches,
        mg_rollup,
    )

    # two partitions with a known skewed stream; k - 1 filler items at the
    # (k+1)-th count force truncation
    fill = _MG_K - 1
    data = (
        [("p1", "a")] * 10 + [("p1", "b")] * 6 + [("p1", "c")] * 3
        + [("p1", f"f{i:04d}") for i in range(fill)] * 3
        + [("p1", "d")] * 1
        + [("p2", "a")] * 4 + [("p2", "c")] * 5 + [("p2", "e")] * 2
        + [("p2", f"g{i:04d}") for i in range(fill)] * 2
    )
    df = spark.createDataFrame(data, "part string, v string")
    sk = mg_partition_sketches(df, "part", "v").collect()
    by_part = {}
    for r in sk:
        by_part.setdefault(r["part"], {})[r["item"]] = (r["est"], r["err"])
    # p1: counts a=10 b=6, then c and the fillers at 3 -> d(threshold)=3;
    # kept a:7 b:3, err=3 (c and the fillers drop at est 0)
    assert by_part["p1"] == {"a": (7, 3), "b": (3, 3)}
    # p2: counts c=5 a=4, then e and the fillers at 2 -> threshold=2;
    # kept c:3 a:2, err=2
    assert by_part["p2"] == {"c": (3, 2), "a": (2, 2)}

    rolled = {
        r["item"]: (r["est_count"], r["err_bound"])
        for r in mg_rollup(mg_partition_sketches(df, "part", "v"), top=10).collect()
    }
    true = {"a": 14, "b": 6, "c": 8, "d": 1, "e": 2}
    # merge rule: est sums, errs add (3 + 2 = 5); est <= true <= est + err
    assert rolled == {"a": (9, 5), "b": (3, 5), "c": (3, 5)}
    for item, (est, err) in rolled.items():
        assert est <= true[item] <= est + err

    # partition-subset rollup never rescans: restrict the sketch table to p2
    only_p2 = {
        r["item"]: (r["est_count"], r["err_bound"])
        for r in mg_rollup(
            mg_partition_sketches(df, "part", "v").filter(F.col("part") == "p2"),
            top=10,
        ).collect()
    }
    assert only_p2 == {"c": (3, 2), "a": (2, 2)}


def test_misra_gries_exact_when_k_exceeds_vocab(spark):
    from fsharp_data_validation_spark.operators.stats import (
        mg_partition_sketches,
        mg_rollup,
    )

    data = [("p1", "x")] * 3 + [("p1", "y")] * 2 + [("p2", "x")] * 4
    df = spark.createDataFrame(data, "part string, v string")
    rolled = {
        r["item"]: (r["est_count"], r["err_bound"])
        for r in mg_rollup(mg_partition_sketches(df, "part", "v"), top=10).collect()
    }
    assert rolled == {"x": (7, 0), "y": (2, 0)}


def test_moments_rollup_exact_merge(spark):
    """Chan-merged per-partition sketches must equal moments computed on
    the whole data directly — for skewed, multi-partition input including
    a constant partition (NaN-guard path) and a singleton partition."""
    import random

    rng = random.Random(7)
    rows = (
        [("a", rng.expovariate(0.1)) for _ in range(400)]
        + [("b", rng.gauss(50, 5)) for _ in range(300)]
        + [("c", 42.0) for _ in range(50)]  # constant partition: var_pop = 0
        + [("d", 999.0)]  # singleton partition
    )
    df = spark.createDataFrame(rows, "part string, v double")
    from fsharp_data_validation_spark.operators.stats import (
        moments_partition_sketches,
        moments_rollup,
    )

    got = moments_rollup(moments_partition_sketches(df, "part", "v")).collect()[0]

    vals = [v for _, v in rows]
    n = len(vals)
    mu = sum(vals) / n
    m2 = sum((x - mu) ** 2 for x in vals)
    m3 = sum((x - mu) ** 3 for x in vals)
    m4 = sum((x - mu) ** 4 for x in vals)
    assert got["n_parts"] == 4 and got["n_values"] == n
    # the rollup rounds to 4 decimals: each value is within half a unit of
    # the 4th decimal of the direct moments
    half = 5e-5 + 1e-9
    assert math.isclose(got["mean"], mu, rel_tol=0, abs_tol=half)
    assert math.isclose(got["var_pop"], m2 / n, rel_tol=0, abs_tol=half)
    assert math.isclose(got["skew"], math.sqrt(n) * m3 / m2**1.5, rel_tol=0, abs_tol=half)
    assert math.isclose(got["kurt"], n * m4 / (m2 * m2) - 3, rel_tol=0, abs_tol=half)


def test_moments_rollup_subset_and_degenerate(spark):
    """Partition-subset rollup (a filter on the sketch table) answers from
    the sketch table alone; an all-constant subset exercises the M2=0 guard
    (skew/kurt -> 0)."""
    from fsharp_data_validation_spark.operators.stats import (
        moments_partition_sketches,
        moments_rollup,
    )

    rows = [("a", 1.0), ("a", 3.0), ("b", 7.0), ("b", 7.0), ("b", 7.0)]
    sk = moments_partition_sketches(
        spark.createDataFrame(rows, "part string, v double"), "part", "v"
    )
    only_a = moments_rollup(sk.filter("part = 'a'")).collect()[0]
    assert only_a["n_values"] == 2 and only_a["mean"] == 2.0
    assert only_a["var_pop"] == 1.0  # population variance of {1,3}
    only_b = moments_rollup(sk.filter("part = 'b'")).collect()[0]
    assert only_b["var_pop"] == 0.0 and only_b["skew"] == 0.0
    assert only_b["kurt"] == 0.0  # guard, not NaN


def test_skew_report_null_and_shares(spark):
    from fsharp_data_validation_spark.operators.stats import skew_report

    rows = [("hot", "x")] * 6 + [(None, "x")] * 3 + [("a", "y")]
    df = spark.createDataFrame(rows, "k string, other string")
    got = {
        (r["key"], r["rnk"]): (r["value"], r["n"], r["share"], r["n_distinct"])
        for r in skew_report(df, ["k"]).collect()
    }
    assert got[("k", 1)] == ("hot", 6, 0.6, 3)
    assert got[("k", 2)] == ("<NULL>", 3, 0.3, 3)  # NULL keys count
    assert got[("k", 3)] == ("a", 1, 0.1, 3)


def test_skew_report_builds_without_a_job(spark):
    """Building skew_report over the sf0.01 transcripts starts no Spark job
    (the row total is ``sum(n)`` of the per-key aggregate, read in the
    one-row frame the top rows already join), and every share is still
    ``round(n / count(*), 4)``."""
    from pyspark.sql import functions as F

    import __spark_entry__ as e
    from fsharp_data_validation_spark.operators.stats import skew_report

    turns = e._transcripts(spark, "/root/testdata/sf0.01")
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", "skew_report_build")
    try:
        rep = skew_report(turns, ["conv_id", "role"])
        jobs = list(sc.statusTracker().getJobIdsForGroup("skew_report_build"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs == []
    total = float(turns.count())
    count_share = F.round(F.col("n") / F.lit(total), 4)
    assert rep.count() == 10
    assert rep.filter(F.col("share") != count_share).count() == 0


def test_hll_sketch_rollup_merge_property(spark):
    """Per-partition HLL sketches answer subset distinct counts by UNION
    without rescanning: the union estimate over all partitions equals the
    whole-table sketch estimate exactly (same sketch algebra), per-subset
    estimates are within the published HLL error of exact, and sketches
    are small (KBs)."""
    from fsharp_data_validation_spark.operators.stats import (
        hll_partition_sketches,
        hll_rollup,
    )

    df = spark.range(0, 50_000).selectExpr(
        "cast(id % 10 as string) AS day",
        # ~5k distinct values per day, heavy cross-day overlap
        "concat('u', cast(id % 13337 as string)) AS user"
    )
    sk = hll_partition_sketches(df, "day", "user").cache()
    assert sk.count() == 10
    assert max(len(r["sketch"]) for r in sk.collect()) < 20_000  # bytes

    whole = hll_rollup(sk).collect()[0]
    exact_whole = df.selectExpr("count(distinct user) AS d").collect()[0]["d"]
    assert whole["n_parts"] == 10
    assert abs(whole["distinct_estimate"] - exact_whole) / exact_whole < 0.05

    subset = hll_rollup(sk.filter("part in ('0', '1', '2')")).collect()[0]
    exact_subset = (
        df.filter("day in ('0','1','2')")
        .selectExpr("count(distinct user) AS d")
        .collect()[0]["d"]
    )
    assert subset["n_parts"] == 3
    assert abs(subset["distinct_estimate"] - exact_subset) / exact_subset < 0.05

    # merge property: union of all per-part sketches == one whole-table sketch
    from pyspark.sql import functions as F
    one_shot = df.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg(F.col("user"), F.lit(12))).alias("d")
    ).collect()[0]["d"]
    assert whole["distinct_estimate"] == one_shot
    sk.unpersist()
