"""Drift family (operators/drift.py): closed-form pins per statistic, and
the cross-form pin that each per-group statistic equals the joined form
over (that group's histogram, the whole-table histogram) — one term
function per statistic serves every form."""

from pyspark.sql import functions as F


def w1(hist_a, hist_b, n_buckets, bucket_width):
    """Wasserstein-1 distance between two separate histograms."""
    from fsharp_data_validation_spark.operators.drift import _joined_hist, w1_joined

    return w1_joined(_joined_hist(hist_a, hist_b), n_buckets, bucket_width)


def test_chi2_known_contingency(spark):
    """2x2 table with closed-form chi2: cells a=30,b=10 / c=10,d=30 ->
    chi2 = n(ad-bc)^2 / ((a+b)(c+d)(a+c)(b+d)) = 80*(900-100)^2/40^4 = 20."""
    from fsharp_data_validation_spark.operators.drift import chi2_joined

    counts = spark.createDataFrame(
        [("x", 30, 10), ("y", 10, 30)], "cat string, na long, nb long"
    )
    r = chi2_joined(counts).collect()[0]
    assert r["dof"] == 1
    assert abs(r["chi2"] - 20.0) < 1e-9

    # independence -> chi2 = 0
    indep = spark.createDataFrame(
        [("x", 20, 20), ("y", 30, 30)], "cat string, na long, nb long"
    )
    assert chi2_joined(indep).collect()[0]["chi2"] == 0.0


def test_w1_by_group_point_masses(spark):
    """A group identical to the baseline has w1=0; a group concentrated at
    bucket 0 vs a baseline spread to bucket 19 pays the gap distance —
    densified-grid semantics (matching w1_joined's)."""
    from fsharp_data_validation_spark.operators.drift import w1_by_group

    rows = [("same", float(v)) for v in (0, 190)] * 10 + [("far", 0.0)] * 20
    df = spark.createDataFrame(rows, "grp string, x double")
    out = {r["grp"]: r["w1"] for r in w1_by_group(df, "grp", "x", 10.0, 20).collect()}
    # baseline: 40 rows, 30 at bucket 0 and 10 at bucket 19
    # 'same' group: half at 0, half at 19 -> |CDF diff| = .25 over 19 gaps
    assert abs(out["far"] - (1 - 30 / 40) * 19 * 10.0) < 1e-6
    assert abs(out["same"] - abs(0.5 - 30 / 40) * 19 * 10.0) < 1e-6


def test_cvm_closed_forms(spark):
    from fsharp_data_validation_spark.operators.drift import cvm_joined

    # identical histograms -> 0
    same = spark.createDataFrame(
        [(0, 10, 10), (1, 30, 30)], "bucket int, na long, nb long"
    )
    assert cvm_joined(same).collect()[0]["cvm"] == 0.0

    # fully disjoint mass: Fa=[1,1], Fb=[0,1], w=[.5,.5] -> 0.5*1 + 0.5*0
    disjoint = spark.createDataFrame(
        [(0, 10, 0), (1, 0, 10)], "bucket int, na long, nb long"
    )
    assert abs(cvm_joined(disjoint).collect()[0]["cvm"] - 0.5) < 1e-9


def test_chi2_by_group_identical_and_skewed(spark):
    """A group distributed exactly like the baseline scores chi2 = 0
    (its contingency rows are proportional); a skewed group scores > 0,
    and a category the group is MISSING still contributes."""
    from fsharp_data_validation_spark.operators.drift import chi2_by_group

    rows = (
        [("g1", "a")] * 30 + [("g1", "b")] * 10
        + [("g2", "a")] * 30 + [("g2", "b")] * 10  # same 3:1 mix -> chi2 0
    )
    df = spark.createDataFrame(rows, "grp string, cat string")
    got = {r["grp"]: r for r in chi2_by_group(df, "grp", "cat").collect()}
    assert got["g1"]["chi2"] == 0.0 and got["g2"]["chi2"] == 0.0
    assert got["g1"]["dof"] == 1 and got["g1"]["n_rows"] == 40

    rows2 = [("g1", "a")] * 40 + [("g2", "b")] * 40  # disjoint categories
    got2 = {
        r["grp"]: r
        for r in chi2_by_group(
            spark.createDataFrame(rows2, "grp string, cat string"), "grp", "cat"
        ).collect()
    }
    assert got2["g1"]["chi2"] > 0 and got2["g1"]["dof"] == 1


def test_w1_counts_gap_buckets(spark):
    """W1 must integrate |CDF diff| across buckets EMPTY ON BOTH SIDES:
    point masses at buckets 0 and 9 are W1 = 9*width (the naive
    joined-buckets-only sum gives 1*width); identical histograms give 0;
    adjacent buckets give exactly width."""
    from pyspark.sql import Row

    def hist(d):
        return spark.createDataFrame([Row(bucket=b, n=n) for b, n in d.items()])

    val = lambda df: df.collect()[0]["w1"]  # noqa: E731
    assert val(w1(hist({0: 100}), hist({9: 100}), 10, 2.0)) == 18.0
    assert val(w1(hist({0: 50, 9: 50}), hist({0: 50, 9: 50}), 10, 1.0)) == 0.0
    assert val(w1(hist({3: 10}), hist({4: 10}), 10, 5.0)) == 5.0
    # mixed mass: a=uniform(0,1), b=all at 1 -> |cdf diff| = 0.5 at bucket 0
    assert val(w1(hist({0: 5, 1: 5}), hist({1: 10}), 10, 1.0)) == 0.5


def test_by_group_equals_joined_per_group(spark):
    """For one group, every ``*_by_group`` value equals the joined form over
    (the group's histogram, the whole-table histogram), at the shared
    4-decimal rounding. The fixture clamps values below 0 and above the last
    bucket, drops NULL values, gives group 'b' buckets and a category it
    never sees (the grid's missing keys must still count) and leaves buckets
    empty in the whole table (the dense spine must add nothing)."""
    from fsharp_data_validation_spark.operators import drift as D

    rows = [
        ("a", float((i * 37) % 230) - 5.0, "xyz"[i % 3]) for i in range(300)
    ] + [("b", float((i * 11) % 60), "xy"[i % 2]) for i in range(120)] + [
        ("b", None, "y"),
        ("c", 250.0, "z"),
    ]
    df = spark.createDataFrame(rows, "grp string, v double, cat string")
    width, n = 10.0, 30  # buckets 23, 24 and 26..29 are empty everywhere

    def hist(d):
        return D.histogram(d, "v", width, n)

    by = {
        name: {r["grp"]: r[name] for r in fn(df, "grp", "v", width, n).collect()}
        for name, fn in (
            ("psi", D.psi_by_group),
            ("ks", D.ks_by_group),
            ("js", D.js_by_group),
            ("w1", D.w1_by_group),
        )
    }
    chi2 = {r["grp"]: r for r in D.chi2_by_group(df, "grp", "cat").collect()}
    whole = hist(df)
    glob = df.groupBy("cat").agg(F.count(F.lit(1)).alias("nb"))
    for g in ("a", "b", "c"):
        part = df.filter(F.col("grp") == g)
        hg = hist(part)
        joined = {
            "psi": D.psi(hg, whole),
            "ks": D.ks_joined(D._joined_hist(hg, whole)),
            "js": D.js_joined(D._joined_hist(hg, whole)),
            "w1": w1(hg, whole, n, width),
        }
        for name, out in joined.items():
            assert by[name][g] == out.collect()[0][name], (name, g)
        counts = glob.join(
            part.groupBy("cat").agg(F.count(F.lit(1)).alias("na")), "cat", "left"
        ).fillna(0, ["na"])
        want = D.chi2_joined(counts).collect()[0]
        assert (chi2[g]["chi2"], chi2[g]["dof"]) == (want["chi2"], want["dof"]), g


def test_psi_by_day_text_length_buckets_split_the_texts(spark):
    """The text-length drift queries' bucket shape splits the derived texts:
    on sf0.001 some day's length distribution differs from the whole
    table's, so psi_by_day attests arithmetic, not a single-bucket 0.0."""
    import __spark_entry__ as e

    out = e.q_psi_by_day(spark, "/root/testdata/sf0.001").collect()
    assert out and max(r["psi"] for r in out) > 0
