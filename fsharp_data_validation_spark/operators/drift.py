"""Distribution-drift checks (PSI / KS / JS / W1 / CvM / chi2) — north-rule
requirement with no reference counterpart (SURVEY.md §2.8).

All are computed from *histograms* built with pure DataFrame math (one
aggregation pass per segment, mergeable, no per-row Python). Histograms are
a few KB regardless of input scale, so the final arithmetic is negligible —
the cost is one scan + one tiny shuffle per segment, which survives 100x
scale-up.

Each statistic is ONE term function over Columns ``(a, b, ta, tb)`` — the
two sides' counts (cumulative counts, for the CDF gap) and their totals —
and every form calls that same function:
- joined (``*_joined``): a (bucket, na, nb) histogram, whole-relation
  window totals;
- per-group (``*_by_group``): the ``_grid`` columns, group vs whole table;
- streaming (``streaming/validate_stream.py``): window counts vs baseline
  literals.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from ..cache import persist_tracked

EPS = 1e-6


def _bucket(value: Column, width: float, n: int) -> Column:
    """Fixed-width bucket index of ``value``, clamped to [0, n-1]."""
    return F.least(
        F.greatest(F.floor(value / F.lit(width)), F.lit(0)), F.lit(n - 1)
    ).cast("int")


def _proportions(a: Column, b: Column, ta: Column, tb: Column):
    return F.greatest(a / ta, F.lit(EPS)), F.greatest(b / tb, F.lit(EPS))


def psi_term(a: Column, b: Column, ta: Column, tb: Column) -> Column:
    """PSI term (p - q) * ln(p / q) over EPS-clamped proportions
    p = a/ta, q = b/tb. A bucket empty on both sides adds 0."""
    p, q = _proportions(a, b, ta, tb)
    return (p - q) * F.log(p / q)


def js_term(a: Column, b: Column, ta: Column, tb: Column) -> Column:
    """Jensen-Shannon term 0.5*p*ln(p/m) + 0.5*q*ln(q/m), m = (p+q)/2, over
    the same EPS-clamped proportions as ``psi_term``."""
    p, q = _proportions(a, b, ta, tb)
    m = (p + q) / 2
    return 0.5 * p * F.log(p / m) + 0.5 * q * F.log(q / m)


def chi2_cell(a: Column, b: Column, ta: Column, tb: Column) -> Column:
    """Pearson chi-square contribution of one category's two cells,
    (obs - exp)^2 / exp with expectations from the margins. A category
    empty on both sides adds 0."""
    row = a + b
    colsum = ta + tb
    ea = row * ta / colsum
    eb = row * tb / colsum
    return F.when(row > 0, (a - ea) ** 2 / ea + (b - eb) ** 2 / eb).otherwise(
        F.lit(0.0)
    )


def cdf_gap(a: Column, b: Column, ta: Column, tb: Column) -> Column:
    """|F_a - F_b| at a bucket boundary, from cumulative counts a, b."""
    return F.abs(a / ta - b / tb)


def _joined_cols(cumulative: bool = False):
    """Term operands over a joined histogram (bucket, na, nb) or contingency
    table (cat, na, nb): the row's counts, or with ``cumulative`` the
    running counts up to the bucket, and the totals. Totals come from a
    whole-relation window over the small table rather than a separate
    aggregate + cross join — the latter re-plans the table's entire
    subtree, doubling the number of source scans."""
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ta, tb = F.sum("na").over(wall), F.sum("nb").over(wall)
    if not cumulative:
        return F.col("na"), F.col("nb"), ta, tb
    wcum = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return F.sum("na").over(wcum), F.sum("nb").over(wcum), ta, tb


def bucketize(df: DataFrame, value_col: str, bucket_width: float, n_buckets: int) -> DataFrame:
    """Fixed-width bucketing clamped to [0, n_buckets-1]; NULLs dropped."""
    b = _bucket(F.col(value_col), bucket_width, n_buckets)
    return df.filter(F.col(value_col).isNotNull()).select(b.alias("bucket"))


def histogram(df: DataFrame, value_col: str, bucket_width: float, n_buckets: int) -> DataFrame:
    return (
        bucketize(df, value_col, bucket_width, n_buckets)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _joined_hist(hist_a: DataFrame, hist_b: DataFrame) -> DataFrame:
    a = hist_a.select("bucket", F.col("n").alias("na"))
    b = hist_b.select("bucket", F.col("n").alias("nb"))
    return a.join(b, "bucket", "full_outer").select(
        "bucket",
        F.coalesce("na", F.lit(0)).alias("na"),
        F.coalesce("nb", F.lit(0)).alias("nb"),
    )


def psi_joined(j: DataFrame) -> DataFrame:
    """PSI over a joined histogram (bucket, na, nb): the sum of
    ``psi_term``. Returns a single row (psi)."""
    return j.select(psi_term(*_joined_cols()).alias("term")).agg(
        F.round(F.sum("term"), 4).alias("psi")
    )


def ks_joined(j: DataFrame) -> DataFrame:
    """KS over a joined histogram (bucket, na, nb): max |ECDF_a - ECDF_b|
    over bucket boundaries. (Exact for the bucketed distributions; bucket
    width bounds the error vs the continuous statistic.)
    Returns a single row (ks)."""
    return j.select(cdf_gap(*_joined_cols(cumulative=True)).alias("d")).agg(
        F.round(F.max("d"), 4).alias("ks")
    )


def psi(hist_a: DataFrame, hist_b: DataFrame) -> DataFrame:
    """Population Stability Index between two separate histograms."""
    return psi_joined(_joined_hist(hist_a, hist_b))


def split_histograms(
    df: DataFrame,
    value_col: str,
    ts_col: str,
    bucket_width: float,
    n_buckets: int,
) -> DataFrame:
    """First-half/second-half histograms by epoch midpoint in ONE
    conditional aggregate over the data: returns (bucket, na, nb) where
    ``na``/``nb`` count value-buckets with ts before/after the midpoint
    ``round((min_epoch + max_epoch) / 2)``.

    Scale shape: the midpoint is a scalar aggregate subplan cross-joined in
    as a broadcast (no driver round-trip), and the data itself is scanned
    once for the split histogram — vs the naive min/max pass + two filtered
    half scans (three scans). The scalar pass reads only ``ts`` (column
    pruning), so total I/O is ~one scan of (value, ts). Rows with NULL ts
    fall in neither half; rows with NULL value are dropped — identical to
    histogram-after-filter semantics (and to the DuckDB oracle arithmetic)."""
    e = F.unix_seconds(F.col(ts_col).cast("timestamp"))
    mid_df = df.agg(F.round((F.min(e) + F.max(e)) / 2).alias("_mid"))
    b = _bucket(F.col(value_col), bucket_width, n_buckets)
    return (
        df.filter(F.col(value_col).isNotNull())
        .select(b.alias("bucket"), e.alias("_e"))
        .crossJoin(F.broadcast(mid_df))
        .groupBy("bucket")
        .agg(
            F.sum(F.when(F.col("_e") < F.col("_mid"), 1).otherwise(0)).alias("na"),
            F.sum(F.when(F.col("_e") >= F.col("_mid"), 1).otherwise(0)).alias("nb"),
        )
    )


def _grid(
    df: DataFrame,
    group_col: str,
    value_col: str,
    key: Column,
    n_buckets: int | None = None,
) -> DataFrame:
    """The per-group drift grid from ONE scan of ``df``: rows
    (grp, key, n, gn, tg, t) over grp x spine, where ``n`` counts the
    group's rows at ``key``, ``gn`` the whole table's (the baseline is the
    sum of the same aggregate — no second scan), and ``tg``/``t`` are their
    totals. Rows with NULL ``value_col`` are dropped. The spine is the dense
    0..n_buckets-1 bucket range, or without ``n_buckets`` the keys observed
    anywhere in the table — either way keys a group is MISSING still appear
    (n = 0) and contribute to its statistic.

    Scale: the (grp, key) aggregate is partial+final — |groups| x |keys|
    rows (KBs at any input size); everything after is arithmetic on that
    tiny relation, fully distributed, no per-row Python. It is persisted:
    four plan branches (baseline, per-group totals, grand total, grid
    join-back) each re-plan this subtree from the SOURCE, and without the
    persist the fact table is physically scanned once per branch (verified
    in the executed plan). With it, the whole grid is ONE data scan plus
    arithmetic on the cached relation."""
    per = persist_tracked(
        df.filter(F.col(value_col).isNotNull())
        .select(F.col(group_col).alias("grp"), key.alias("key"))
        .groupBy("grp", "key")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    glob = per.groupBy("key").agg(F.sum("n").alias("gn"))
    tg = per.groupBy("grp").agg(F.sum("n").alias("tg"))
    tot = per.agg(F.sum("n").alias("t"))
    if n_buckets is not None:
        spine = per.sparkSession.range(0, n_buckets).select(
            F.col("id").cast("int").alias("key")
        )
        glob = spine.join(F.broadcast(glob), "key", "left")
    return (
        tg.crossJoin(F.broadcast(glob))
        .join(per, ["grp", "key"], "left")
        .fillna(0, ["n", "gn"])
        .crossJoin(F.broadcast(tot))
    )


def _bucket_grid(df, group_col, value_col, bucket_width, n_buckets) -> DataFrame:
    b = _bucket(F.col(value_col), bucket_width, n_buckets)
    return _grid(df, group_col, value_col, b, n_buckets)


def _grid_cols(cumulative: bool = False):
    """Term operands over a ``_grid``: group vs whole-table counts at the
    key, or with ``cumulative`` the running counts up to it (windowed per
    group over the tiny grid, never over the data), and the totals."""
    if not cumulative:
        return F.col("n"), F.col("gn"), F.col("tg"), F.col("t")
    w = Window.partitionBy("grp").orderBy("key").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return F.sum("n").over(w), F.sum("gn").over(w), F.col("tg"), F.col("t")


def _per_group(grid: DataFrame, group_col: str, term: Column, **stats) -> DataFrame:
    """Reduce a grid ``term`` per group: (group, n_rows, *stats), each stat
    an aggregate over the column ``term``."""
    return (
        grid.select("grp", "tg", term.alias("term"))
        .groupBy("grp")
        .agg(F.first("tg").alias("n_rows"), *(c.alias(k) for k, c in stats.items()))
        .select(F.col("grp").alias(group_col), "n_rows", *stats)
    )


def psi_by_group(
    df: DataFrame, group_col: str, value_col: str, bucket_width: float, n_buckets: int
) -> DataFrame:
    """Per-partition drift: PSI of each group's value distribution against
    the whole-table baseline, from ONE scan (see ``_grid``); buckets a group
    is missing still contribute (epsilon-clamped). Returns (group, n_rows,
    psi)."""
    g = _bucket_grid(df, group_col, value_col, bucket_width, n_buckets)
    return _per_group(
        g, group_col, psi_term(*_grid_cols()), psi=F.round(F.sum("term"), 4)
    )


def ks_by_group(
    df: DataFrame, group_col: str, value_col: str, bucket_width: float, n_buckets: int
) -> DataFrame:
    """Per-partition KS: max |group ECDF - global ECDF| over bucket
    boundaries, same one-scan grid as ``psi_by_group`` (the grid is
    bucket-complete per group, so one window per group also accumulates the
    global ECDF). Returns (group, n_rows, ks)."""
    g = _bucket_grid(df, group_col, value_col, bucket_width, n_buckets)
    return _per_group(
        g,
        group_col,
        cdf_gap(*_grid_cols(cumulative=True)),
        ks=F.round(F.max("term"), 4),
    )


def js_joined(j: DataFrame) -> DataFrame:
    """Jensen-Shannon divergence over a joined histogram (bucket, na, nb):
    0.5*KL(p||m) + 0.5*KL(q||m) with m = (p+q)/2, natural log, the same
    epsilon-clamped proportions as ``psi_joined``. Bounded [0, ln 2] and
    symmetric — the drift score to use when PSI's unboundedness on
    vanishing buckets is unwanted. Returns a single row (js)."""
    return j.select(js_term(*_joined_cols()).alias("term")).agg(
        F.round(F.sum("term"), 4).alias("js")
    )


def js_by_group(
    df: DataFrame, group_col: str, value_col: str, bucket_width: float, n_buckets: int
) -> DataFrame:
    """Per-partition Jensen-Shannon divergence of each group's value
    distribution against the whole-table baseline — the same one-scan grid
    as ``psi_by_group``, with the bounded symmetric JS term instead of PSI.
    Returns (group, n_rows, js)."""
    g = _bucket_grid(df, group_col, value_col, bucket_width, n_buckets)
    return _per_group(
        g, group_col, js_term(*_grid_cols()), js=F.round(F.sum("term"), 4)
    )


def w1_joined(j: DataFrame, n_buckets: int, bucket_width: float) -> DataFrame:
    """Wasserstein-1 (earth-mover) distance over a joined histogram
    (bucket, na, nb): for 1-D distributions W1 = integral |CDF_a - CDF_b|,
    which on fixed-width buckets is ``bucket_width * sum over ALL buckets
    of |cum_a/tot_a - cum_b/tot_b|``. The joined histogram omits buckets
    empty on BOTH sides, and unlike KS (a max, constant across such gaps) a
    SUM must count them — e.g. two point masses at buckets 0 and 19 are
    W1 = 19*width, not 1*width — so the 0..n_buckets-1 grid is densified
    first. Exact for the bucketed distributions, no epsilon clamps (W1 is
    finite on disjoint supports). Returns one row (w1)."""
    full = j.sparkSession.range(0, n_buckets).select(
        F.col("id").cast("int").alias("bucket")
    )
    dj = full.join(j, "bucket", "left").fillna(0, ["na", "nb"])
    return dj.select(cdf_gap(*_joined_cols(cumulative=True)).alias("d")).agg(
        F.round(F.sum("d") * F.lit(float(bucket_width)), 4).alias("w1")
    )


def w1_by_group(
    df: DataFrame, group_col: str, value_col: str, bucket_width: float, n_buckets: int
) -> DataFrame:
    """Per-partition Wasserstein-1 distance of each group's value
    distribution against the whole-table baseline — completes the per-group
    drift family (PSI/KS/JS/W1). Same one-scan grid as ``psi_by_group``,
    whose dense 0..n_buckets-1 spine counts both-sides-empty gap buckets
    (W1 is a sum over the integral — see ``w1_joined``).
    Returns (group, n_rows, w1)."""
    g = _bucket_grid(df, group_col, value_col, bucket_width, n_buckets)
    return _per_group(
        g,
        group_col,
        cdf_gap(*_grid_cols(cumulative=True)),
        w1=F.round(F.sum("term") * F.lit(float(bucket_width)), 4),
    )


def split_category_counts(df: DataFrame, cat_col: str, ts_col: str) -> DataFrame:
    """First-half/second-half CATEGORY counts by epoch midpoint in one
    conditional aggregate — the categorical sibling of ``split_histograms``
    (same broadcast-scalar midpoint, same one-scan shape). NULL categories
    are dropped; NULL ts rows fall in neither half. Returns (cat, na, nb)."""
    e = F.unix_seconds(F.col(ts_col).cast("timestamp"))
    mid_df = df.agg(F.round((F.min(e) + F.max(e)) / 2).alias("_mid"))
    return (
        df.filter(F.col(cat_col).isNotNull())
        .select(F.col(cat_col).alias("cat"), e.alias("_e"))
        .crossJoin(F.broadcast(mid_df))
        .groupBy("cat")
        .agg(
            F.sum(F.when(F.col("_e") < F.col("_mid"), 1).otherwise(0)).alias("na"),
            F.sum(F.when(F.col("_e") >= F.col("_mid"), 1).otherwise(0)).alias("nb"),
        )
    )


def chi2_drift(df: DataFrame, cat_col: str, ts_col: str) -> DataFrame:
    """Chi-square drift of ``cat_col`` between the two halves of the
    ``ts_col`` range: ``chi2_joined`` over ``split_category_counts``."""
    return chi2_joined(split_category_counts(df, cat_col, ts_col))


def chi2_joined(counts: DataFrame) -> DataFrame:
    """Pearson chi-square statistic for a (category, na, nb) contingency
    table — the categorical drift test PSI/KS can't express (they need an
    ordered or binned domain): the sum of ``chi2_cell``;
    dof = (n_categories - 1) * (2 - 1). All arithmetic happens on the
    |categories|-row aggregate (window totals, no second data scan).
    Returns one row (chi2, dof)."""
    return counts.select(chi2_cell(*_joined_cols()).alias("term")).agg(
        F.round(F.sum("term"), 4).alias("chi2"),
        (F.count(F.lit(1)) - 1).cast("bigint").alias("dof"),
    )


def cvm_joined(j: DataFrame) -> DataFrame:
    """Two-sample Cramér-von Mises criterion over a joined histogram
    (bucket, na, nb): omega^2 = sum_b w_b * (F_a(b) - F_b(b))^2 with
    w_b = (na_b + nb_b) / (N_a + N_b) — the squared ECDF difference
    integrated against the POOLED empirical distribution (the binned form
    of the classic two-sample CvM integrand; Anderson 1962 is the public
    reference). Where KS reacts to the single worst ECDF gap, CvM
    accumulates drift spread across the whole distribution — the complement
    the drift family was missing.

    Shape: identical to ``ks_joined`` — windows over the <= n_buckets-row
    joined histogram, one tiny final reduce. Returns a single row (cvm),
    rounded to 6 decimals."""
    ca, cb, ta, tb = _joined_cols(cumulative=True)
    w = (F.col("na") + F.col("nb")) / (ta + tb)
    return j.select((w * F.pow(cdf_gap(ca, cb, ta, tb), F.lit(2))).alias("term")).agg(
        F.round(F.sum("term"), 6).alias("cvm")
    )


def chi2_by_group(df: DataFrame, group_col: str, cat_col: str) -> DataFrame:
    """Per-partition CATEGORICAL drift: Pearson chi-square of each group's
    category distribution against the whole-table baseline — completes the
    per-group grid family (PSI/KS/JS/W1 cover binned numeric domains; this
    is the unordered-category member, same one-scan grid keyed by category
    over the observed global categories).

    For each group the 2 x |categories| contingency table is (group counts,
    global counts); chi2 sums ``chi2_cell`` over the full group x
    global-category grid, so categories a group is MISSING still contribute
    (their group-cell expectation is nonzero). dof = categories in the
    baseline − 1. NULL categories are dropped like
    ``split_category_counts``. Returns (group, n_rows, chi2, dof)."""
    g = _grid(df, group_col, cat_col, F.col(cat_col))
    return _per_group(
        g,
        group_col,
        chi2_cell(*_grid_cols()),
        chi2=F.round(F.sum("term"), 4),
        dof=(F.count(F.lit(1)) - 1).cast("bigint"),
    )
