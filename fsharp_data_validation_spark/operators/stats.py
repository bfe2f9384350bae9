"""Per-column statistics — the dataset-profile side of the north rule:
null rate, distinct count (exact + HLL sketch), min/max, quantiles
(exact, and approximate through the built-in ``percentile_approx``).

≅ the reference's ``flattenProofs``/``Proof.combine`` aggregation semantics
(Library.fs:113-115, Proof.fs:102-113): every statistic here is an
associative merge, so Spark's partial (map-side) + final aggregation applies
— one pass, one small shuffle, any scale.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, functions as F

from ..cache import persist_tracked


def column_profile(
    df: DataFrame, cols: Sequence[str], exact_distinct: bool = True
) -> DataFrame:
    """One row per column: (column, n_rows, n_nulls, null_rate, n_distinct).

    Single aggregation pass over the table: all per-column measures are
    computed in one ``agg`` and unpivoted with ``stack`` — the scan is read
    once regardless of column count. ``exact_distinct=False`` switches to
    ``approx_count_distinct`` (HLL++, mergeable sketch) for the 100 TB path.
    """
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in cols:
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"_nulls_{c}"))
        if exact_distinct:
            aggs.append(F.countDistinct(F.col(c)).alias(f"_dist_{c}"))
        else:
            aggs.append(F.approx_count_distinct(F.col(c)).alias(f"_dist_{c}"))
    wide = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', _nulls_{c}, _dist_{c}" for c in cols
    )
    return (
        wide.selectExpr(
            "_n",
            f"stack({len(cols)}, {stack_args}) AS (col_name, n_nulls, n_distinct)",
        )
        .select(
            "col_name",
            F.col("_n").alias("n_rows"),
            "n_nulls",
            F.round(F.col("n_nulls") / F.col("_n"), 4).alias("null_rate"),
            "n_distinct",
        )
    )


def numeric_minmax(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """(column, min_value, max_value) for numeric/orderable columns, one pass."""
    aggs = []
    for c in cols:
        aggs.append(F.min(c).cast("double").alias(f"_min_{c}"))
        aggs.append(F.max(c).cast("double").alias(f"_max_{c}"))
    wide = df.agg(*aggs)
    stack_args = ", ".join(f"'{c}', _min_{c}, _max_{c}" for c in cols)
    return wide.selectExpr(
        f"stack({len(cols)}, {stack_args}) AS (col_name, min_value, max_value)"
    )


def exact_quantiles(df: DataFrame, col: str, qs: Sequence[float]) -> DataFrame:
    """Exact continuous-interpolation percentiles (built-in ``percentile``)
    — the oracle-checkable variant; use ``approx_quantiles`` at scale."""
    exprs = [
        F.round(F.expr(f"percentile({col}, {q})"), 4).alias(f"q{int(q * 100)}")
        for q in qs
    ]
    return df.agg(*exprs)


def approx_quantiles(df: DataFrame, col: str, qs: Sequence[float]) -> DataFrame:
    """Approximate percentiles (built-in ``percentile_approx`` at its default
    accuracy, 10000: the rank of each value is within 1/10000 of its ``q``)
    in the same one-row ``q<NN>`` shape as ``exact_quantiles``. One JVM
    aggregate: a sketch per partition, then a merge. Every value returned
    is an element of ``col``, so nothing is rounded."""
    return df.agg(
        *[F.percentile_approx(col, q).alias(f"q{int(q * 100)}") for q in qs]
    )


def exact_quantiles_by_group(
    df: DataFrame, group_col: str, col: str, qs: Sequence[float]
) -> DataFrame:
    """Per-group exact percentiles — the per-partition profile variant of
    ``exact_quantiles``. One hash aggregation (Spark's ``percentile`` is a
    partial-aggregating ImperativeAggregate, so map-side combine applies);
    at 100 TB swap ``percentile`` for ``percentile_approx``, as
    ``approx_quantiles`` does, with the same shape."""
    exprs = [
        F.round(F.expr(f"percentile({col}, {q})"), 4).alias(f"q{int(q * 100)}")
        for q in qs
    ]
    return df.groupBy(group_col).agg(*exprs)


def hll_partition_sketches(df: DataFrame, part_col: str, value_col: str) -> DataFrame:
    """Materialize a mergeable Apache DataSketches HLL sketch of
    ``value_col``'s distinct values PER PARTITION: (part, sketch, estimate).

    This is the 10^12-row profile architecture: sketch each ingest
    partition ONCE (one pass, map-side combinable, a sketch is ~KBs at any
    cardinality), persist the tiny sketch table alongside the manifest, and
    answer any later distinct-count question — any date range, the whole
    table, month-over-month overlap growth — by UNIONING sketches
    (``hll_rollup``) without ever rescanning the data. lg_k = 12 gives
    ~1.6% relative standard error."""
    return df.groupBy(F.col(part_col).alias("part")).agg(
        F.hll_sketch_agg(F.col(value_col), F.lit(12)).alias("sketch"),
        F.hll_sketch_estimate(
            F.hll_sketch_agg(F.col(value_col), F.lit(12))
        ).alias("estimate"),
    )


def hll_rollup(sketches: DataFrame) -> DataFrame:
    """Distinct-count from the sketch table alone (no data rescan): union
    the per-partition sketches and estimate. A partition subset is a filter
    the caller applies to the sketch table first. One row: (n_parts,
    distinct_estimate)."""
    return sketches.agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.hll_sketch_estimate(F.hll_union_agg(F.col("sketch"))).alias(
            "distinct_estimate"
        ),
    )


def mad_outliers_by_group(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """Robust per-group outlier profile: a row is an outlier when
    ``|x - median_g| > 3 * 1.4826 * MAD_g`` (median absolute deviation,
    scaled to sigma-equivalence for normal data) — the outlier check
    mean/stddev z-scores get wrong under heavy tails, because both the
    center and the spread estimate are themselves robust.

    Shape: three column-pruned scans of (group, value) — group medians
    (one partial-aggregating percentile), deviation medians (join back the
    KB-scale median table, broadcast), and the final flag pass (both tiny
    tables broadcast). The two-level median is inherently two-pass; at
    10^12 rows swap ``percentile`` for ``percentile_approx`` with the
    same shape. MAD = 0 (a majority-constant group) flags every
    off-median row, deterministically on both engines (strict >).
    Returns (group, n_rows, med, mad, n_outliers, outlier_rate)."""
    base = df.select(F.col(group_col).alias("grp"), F.col(value_col).alias("x")).filter(
        F.col("x").isNotNull()
    )
    med = base.groupBy("grp").agg(F.expr("percentile(x, 0.5)").alias("_med"))
    mad = (
        base.join(F.broadcast(med), "grp")
        .select("grp", F.abs(F.col("x") - F.col("_med")).alias("_dev"))
        .groupBy("grp")
        .agg(F.expr("percentile(_dev, 0.5)").alias("_mad"))
    )
    out = F.abs(F.col("x") - F.col("_med")) > F.lit(3.0 * 1.4826) * F.col("_mad")
    return (
        base.join(F.broadcast(med), "grp")
        .join(F.broadcast(mad), "grp")
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.first("_med"), 4).alias("med"),
            F.round(F.first("_mad"), 4).alias("mad"),
            F.sum(out.cast("long")).alias("n_outliers"),
            F.round(F.sum(out.cast("long")) / F.count(F.lit(1)), 4).alias(
                "outlier_rate"
            ),
        )
        .select(
            F.col("grp").alias(group_col),
            "n_rows",
            "med",
            "mad",
            "n_outliers",
            "outlier_rate",
        )
    )


# --- Misra-Gries frequent-items sketches (mergeable, like the HLL rollup) ------
#
# Public basis: Misra & Gries 1982 ("Finding repeated elements") and the
# mergeable-summaries treatment (Agarwal et al., PODS 2012): a size-k summary
# whose per-item estimate undercounts the true frequency by at most d, the
# count subtracted at truncation (d <= n/(k+1)); summaries merge by item-wise
# addition with error bounds adding.
_MG_K = 1024  # summary size: items kept per partition


def mg_partition_sketches(df: DataFrame, part_col: str, value_col: str) -> DataFrame:
    """Materialize a size-<=``_MG_K`` Misra-Gries frequent-items summary of
    ``value_col`` PER PARTITION: (part, item, est, err) where ``est``
    undercounts the partition-true count by at most ``err`` (constant per
    part) and never overcounts.

    Same architecture as ``hll_partition_sketches``: sketch each ingest
    partition once, persist the k-row-per-partition sketch table next to the
    manifest, answer later heavy-hitter questions over any partition subset
    by merging sketches (``mg_rollup``) without rescanning the data.

    Shape: the build is an exact (part, item) hash aggregation — map-side
    combine, one shuffle, per-task state bounded by distinct-per-task — then
    the exact->MG reduction entirely JVM-side: rank items per part (count
    desc, item asc: deterministic), subtract the (k+1)-th count (a per-part
    window beside the rank window) from the kept k and drop non-positives.
    The MATERIALIZED summary is what's bounded (k rows/part at any scale);
    for adversarially unbounded vocab swap the build stage for a streaming
    per-partition MG (applyInPandas) with the same merge contract."""
    from pyspark.sql import Window

    counts = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(F.col(part_col).alias("part"), F.col(value_col).alias("item"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("part").orderBy(F.desc("n"), F.asc("item"))
    ranked = counts.select("part", "item", "n", F.row_number().over(w).alias("rnk"))
    # per-part truncation threshold d = count of the (k+1)-th item (0 if none)
    d = F.max(F.when(F.col("rnk") == _MG_K + 1, F.col("n"))).over(
        Window.partitionBy("part")
    )
    return (
        ranked.select("*", F.coalesce(d, F.lit(0)).alias("err"))
        .filter(F.col("rnk") <= _MG_K)
        .select("part", "item", (F.col("n") - F.col("err")).alias("est"), "err")
        .filter(F.col("est") > 0)
    )


def mg_rollup(sketches: DataFrame, top: int) -> DataFrame:
    """Heavy hitters from the sketch table alone (no data rescan): item-wise
    sum of estimates, error bounds adding across merged sketches (Agarwal et
    al. merge rule), the top-``top`` rows by (est desc, item asc). A
    partition subset is a filter the caller applies to the sketch table
    first. Returns (item, est_count, err_bound): for every true count c,
    est_count <= c <= est_count + err_bound. All KB-scale arithmetic — the
    sketch table is k rows per partition regardless of data size."""
    from pyspark.sql import Window

    err_total = sketches.groupBy("part").agg(F.first("err").alias("e")).agg(
        F.coalesce(F.sum("e"), F.lit(0)).alias("err_bound")
    )
    merged = sketches.groupBy("item").agg(F.sum("est").alias("est_count"))
    w = Window.orderBy(F.desc("est_count"), F.asc("item"))
    ranked = merged.select(
        "item", "est_count", F.row_number().over(w).alias("_rnk")
    ).filter(F.col("_rnk") <= top)
    return ranked.crossJoin(F.broadcast(err_total)).select(
        "item", "est_count", F.col("err_bound").cast("bigint").alias("err_bound")
    )


def moments_partition_sketches(
    df: DataFrame, part_col: str, value_col: str
) -> DataFrame:
    """Mergeable MOMENTS sketch per partition: (part, n, mean, m2, m3, m4)
    with ``mk`` the k-th central SUM Σ(x-μ_part)^k.

    The exact-statistics companion to the HLL (distinct) and Misra-Gries
    (heavy hitters) rollups above: sketch each ingest partition once, keep
    the O(partitions)-row sketch table, and answer mean/variance/skewness/
    kurtosis for ANY partition subset later via ``moments_rollup`` — without
    rescanning the data, and EXACTLY (central-sum merging is lossless,
    unlike HLL/MG). Per-partition sums come from inverting Spark's built-in
    population moments (var_pop, skewness = √n·M3/M2^1.5, kurtosis =
    n·M4/M2²−3 — all one codegen hash aggregate); constant or single-row
    partitions make those built-ins NaN/NULL, which correctly maps to zero
    central sums (nanvl/coalesce guards).

    Reference parity: dataset-granularity profiling in the spirit of
    ``Proof.combine``'s associative evidence merging
    (/root/reference/src/FSharp.Data.Validation/Proof.fs:102-113) — each
    partition contributes an independently-computed summary and the merge
    is exact and order-free."""
    v = F.col(value_col).cast("double")
    n = F.count(v)
    var = F.coalesce(F.nanvl(F.var_pop(v), F.lit(0.0)), F.lit(0.0))
    skew = F.coalesce(F.nanvl(F.skewness(v), F.lit(0.0)), F.lit(0.0))
    kurt = F.coalesce(F.nanvl(F.kurtosis(v), F.lit(0.0)), F.lit(0.0))
    return df.groupBy(F.col(part_col).alias("part")).agg(
        n.alias("n"),
        F.avg(v).alias("mean"),
        (var * n).alias("m2"),
        (skew * F.pow(var, F.lit(1.5)) * n).alias("m3"),
        ((kurt + F.lit(3.0)) * var * var * n).alias("m4"),
    )


def moments_rollup(sketches: DataFrame) -> DataFrame:
    """Exact mean/var/skew/kurtosis from the sketch table alone (no data
    rescan; a partition subset is a filter the caller applies to the sketch
    table first): Chan/Terriberry parallel-merge of central sums around the
    grand mean —

        M2 = Σ M2_i + Σ n_i·d_i²
        M3 = Σ M3_i + 3·Σ d_i·M2_i + Σ n_i·d_i³
        M4 = Σ M4_i + 4·Σ d_i·M3_i + 6·Σ d_i²·M2_i + Σ n_i·d_i⁴

    with d_i = mean_i − grand_mean. The grand totals come from a
    whole-relation window over the KB-scale sketch table, then one
    aggregate takes the delta-corrected sums. Returns one row:
    (n_parts, n_values, mean, var_pop, skew, kurt) — population formulas,
    rounded to 4 decimals so the DuckDB oracle (which recomputes Σ(x-μ)^k
    directly on the raw data) hash-matches."""
    from pyspark.sql import Window

    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    mu = F.sum(F.col("mean") * F.col("n")).over(wall) / F.sum("n").over(wall)
    d = F.col("mean") - F.col("_MU")
    merged = sketches.select(
        "*",
        F.count(F.lit(1)).over(wall).alias("_p"),
        F.sum("n").over(wall).alias("_N"),
        mu.alias("_MU"),
    ).agg(
        F.max("_p").alias("n_parts"),
        F.max("_N").alias("N"),
        F.max("_MU").alias("MU"),
        F.sum(F.col("m2") + F.col("n") * d * d).alias("M2"),
        F.sum(
            F.col("m3") + F.lit(3.0) * d * F.col("m2") + F.col("n") * d * d * d
        ).alias("M3"),
        F.sum(
            F.col("m4")
            + F.lit(4.0) * d * F.col("m3")
            + F.lit(6.0) * d * d * F.col("m2")
            + F.col("n") * d * d * d * d
        ).alias("M4"),
    )
    safe = F.col("M2") > 0
    return merged.select(
        F.col("n_parts").cast("bigint").alias("n_parts"),
        F.col("N").cast("bigint").alias("n_values"),
        F.round("MU", 4).alias("mean"),
        F.round(F.col("M2") / F.col("N"), 4).alias("var_pop"),
        F.round(
            F.when(
                safe,
                F.sqrt(F.col("N")) * F.col("M3") / F.pow(F.col("M2"), F.lit(1.5)),
            ).otherwise(F.lit(0.0)),
            4,
        ).alias("skew"),
        F.round(
            F.when(
                safe,
                F.col("N") * F.col("M4") / (F.col("M2") * F.col("M2")) - F.lit(3.0),
            ).otherwise(F.lit(0.0)),
            4,
        ).alias("kurt"),
    )


def skew_report(df: DataFrame, key_cols: Sequence[str]) -> DataFrame:
    """Join/aggregation-key skew diagnostic — the pre-flight check before
    any key-partitioned operation at scale: for each candidate key column,
    the top-5 heaviest values with their share of all rows, plus the
    key's distinct count. A share over ~1/shuffle-partitions means one
    task owns that value's entire partition — the signal to salt, use AQE
    skew-join, or broadcast the other side.

    One hash aggregate per key column (map-side combined, its own shuffle
    keyed on that column — independent, like ``fd_violations``), then
    top-k via distributed TakeOrdered and the per-column totals (distinct
    count and row total, ``sum(n)``) joined back from the same aggregate:
    building the report runs no job. NULL keys count as a value (they skew
    joins too — NULL-heavy keys are the classic accidental hot spot).

    Returns (key, value, rnk, n, share, n_distinct) — top rows per key."""
    outs = []
    for kc in key_cols:
        counts = persist_tracked(
            df.groupBy(
                F.coalesce(F.col(kc).cast("string"), F.lit("<NULL>")).alias("value")
            ).agg(F.count(F.lit(1)).alias("n"))
        )
        nd = counts.agg(
            F.count(F.lit(1)).alias("_nd"), F.sum("n").cast("double").alias("_total")
        )
        topk = (
            counts.orderBy(F.desc("n"), F.asc("value"))
            .limit(5)
            .crossJoin(F.broadcast(nd))
        )
        from pyspark.sql import Window

        rnk = F.row_number().over(Window.orderBy(F.desc("n"), F.asc("value")))
        outs.append(
            topk.select(
                F.lit(kc).alias("key"),
                "value",
                rnk.cast("int").alias("rnk"),
                F.col("n").cast("bigint").alias("n"),
                F.round(F.col("n") / F.col("_total"), 4).alias("share"),
                F.col("_nd").cast("bigint").alias("n_distinct"),
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res
