"""Deterministic sampling / splitting for training-data pipelines.

Hash-based splits are row-local (zero shuffle), reproducible across runs
and cluster sizes, and portable to the DuckDB oracle (md5-derived bucket,
see ``dedup.md5_int``) — unlike ``DataFrame.randomSplit``, which depends on
partitioning and seed plumbing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .dedup import md5_int
from .text import word_ngrams

#: md5_int(hex_chars=15) is uniform on [0, 16**15).
_MD5_15_MAX = 16 ** 15
_SHUFFLE_BUCKETS = 64  # global_shuffle's hash buckets


def hash_split(df: DataFrame, id_col: str, train_pct: int = 80) -> DataFrame:
    """df + ``split`` column ('train'/'test'): bucket = salted md5 of the
    id mod 100; bucket < train_pct => train. Salting decorrelates the split
    from any other hash use of the id."""
    bucket = md5_int(F.col(id_col).cast("string"), salt="split") % 100
    return df.withColumn(
        "split",
        F.when(bucket < train_pct, F.lit("train")).otherwise(F.lit("test")),
    )


def stratified_sample(
    df: DataFrame, stratum_col: str, id_col: str, k: int
) -> DataFrame:
    """Deterministic exact-k sample per stratum: the k rows with the
    smallest salted md5 hash of the id, ranked (``rnk`` 1..k) within each
    stratum — a distributed, reproducible "reservoir" (equivalent to
    ``ROW_NUMBER() OVER (PARTITION BY stratum ORDER BY h, id) <= k``).

    Scale: a naive per-stratum ROW_NUMBER sorts every row of a 10^12-row
    stratum through one task. Instead: (1) one cheap count aggregate gives
    per-stratum sizes n_s (broadcast back); (2) rows are pre-filtered by a
    hash threshold ~ (3k+20)/n_s * MAX_H, which keeps all k smallest hashes
    except with probability exp(-Θ(k)) (Chernoff on the binomial count
    below the threshold) while discarding ~everything else; (3) the window
    ranks only the ~3k survivors per stratum. Strata with n_s <= 3k+20 skip
    the filter. The slack guard is deterministic for fixed data — the
    DuckDB oracle (plain ROW_NUMBER spec) would flag any loss.
    """
    h = md5_int(F.col(id_col).cast("string"), salt="strat")
    counts = df.groupBy(stratum_col).agg(F.count(F.lit(1)).alias("_n_s"))
    joined = df.join(F.broadcast(counts), stratum_col)
    keep_all = F.col("_n_s") <= (3 * k + 20)
    thresh = (
        (F.lit(float(3 * k + 20)) / F.col("_n_s").cast("double"))
        * F.lit(float(_MD5_15_MAX))
    ).cast("bigint")
    survivors = joined.withColumn("_h", h).filter(keep_all | (F.col("_h") <= thresh))
    w = Window.partitionBy(stratum_col).orderBy(F.col("_h"), F.col(id_col))
    return (
        survivors.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= k)
        .drop("_n_s", "_h")
    )


def quota_sample(df: DataFrame, group_col: str, id_col: str, rates: dict) -> DataFrame:
    """Deterministic per-group rate sampling: keep a row of group g iff its
    salted md5 hash falls below ``round(rate_g, 6) * 16^15``. The rate map
    is a compile-time CASE expression, so the whole operator is ONE
    row-local filter predicate evaluated in the scan stage — zero shuffle,
    reproducible across runs and cluster sizes, and independent of
    partitioning (unlike ``DataFrame.sample``). Expected kept fraction per
    group is exactly the rate (hash is uniform on [0, 16^15))."""
    rate = None
    for g, r in sorted(rates.items()):
        cond = F.col(group_col) == F.lit(g)
        lit = F.lit(float(r))
        rate = F.when(cond, lit) if rate is None else rate.when(cond, lit)
    rate = (
        rate.otherwise(F.lit(1.0))
        if rate is not None
        else F.lit(1.0)
    )
    h = md5_int(F.col(id_col).cast("string"), salt="quota")
    # floor semantics on both engines: Spark's double->bigint cast truncates;
    # the DuckDB oracle must write CAST(FLOOR(rate * 16^15) AS BIGINT)
    thresh = (F.round(rate, 6) * F.lit(float(_MD5_15_MAX))).cast("bigint")
    return df.filter(h < thresh)


def temperature_sample(df: DataFrame, group_col: str, id_col: str) -> DataFrame:
    """Temperature-flattened group rebalancing — the multilingual-corpus
    resampling rule (sample group g proportionally to n_g^tau, tau<1
    up-weights tail groups): with tau = 0.7, w_g = n_g^tau / sum_h n_h^tau
    and target = 0.8 * N,

        rate_g = min(1, target * w_g / n_g)

    then rows are kept by the same deterministic hash threshold as
    ``quota_sample``. Rates are rounded to 6 decimals so the pow() is
    bit-stable across engines (DuckDB oracle parity).

    Scale shape: ONE count aggregate over the group key (map-side combine;
    group domain ~ languages, tiny) whose totals come from a whole-relation
    window over it, a broadcast join of the rate table, and a row-local
    filter — the data itself is never shuffled. Output adds ``keep_rate``."""
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("_n_g"))
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    w_g = F.pow(F.col("_n_g").cast("double"), F.lit(0.7))
    rates = counts.select(
        group_col,
        F.round(
            F.least(
                F.lit(1.0),
                F.lit(0.8)
                * F.sum("_n_g").over(wall)
                * w_g
                / F.sum(w_g).over(wall)
                / F.col("_n_g"),
            ),
            6,
        ).alias("keep_rate"),
    )
    h = md5_int(F.col(id_col).cast("string"), salt="temp")
    thresh = (F.col("keep_rate") * F.lit(float(_MD5_15_MAX))).cast("bigint")
    return df.join(F.broadcast(rates), group_col).filter(h < thresh)


def global_shuffle(df: DataFrame, id_col: str) -> DataFrame:
    """Deterministic global training-order shuffle: assign every row a
    contiguous 1-based ``rank`` in salted-md5-hash order (a reproducible
    pseudorandom permutation, identical across runs and cluster sizes).

    The naive ``ROW_NUMBER() OVER (ORDER BY hash)`` funnels the whole
    corpus through ONE task. Scale-correct shape instead: the hash is
    uniform on [0, 16^15), so fixed-width buckets ``floor(h / (MAX/B))``
    are balanced WITHOUT a sampled range partitioner (whose boundaries are
    nondeterministic); rank = (cumulative count of all lower buckets) +
    (row_number within the bucket). The bucket-offset table is B rows —
    computed with one tiny aggregate + window cumsum and broadcast back, so
    the big table is shuffled exactly once (by bucket) and every window
    sort is 1/B of the corpus. The source is READ twice — a column-pruned
    pass (id only) for the bucket counts and the full pass for the ranked
    output — the classic 2-pass distributed rank; collapsing to one read
    would mean caching the whole corpus, which does not scale. Output:
    df + (rank). Equals the naive form exactly (pinned by the oracle
    query)."""
    h = md5_int(F.col(id_col).cast("string"), salt="shuffle")
    width = _MD5_15_MAX // _SHUFFLE_BUCKETS + 1
    bucketed = df.withColumn("_h", h).withColumn(
        "_bkt", (F.col("_h") / F.lit(width)).cast("int")
    )
    counts = bucketed.groupBy("_bkt").agg(F.count(F.lit(1)).alias("_n"))
    wcum = Window.orderBy("_bkt").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "_bkt", F.coalesce(F.sum("_n").over(wcum), F.lit(0)).alias("_off")
    )
    wrank = Window.partitionBy("_bkt").orderBy("_h", id_col)
    return (
        bucketed.join(F.broadcast(offsets), "_bkt")
        .withColumn("rank", (F.col("_off") + F.row_number().over(wrank)).cast("bigint"))
        .drop("_h", "_bkt", "_off")
    )


def replicate_sample(
    df: DataFrame, group_col: str, id_col: str, factors: dict
) -> DataFrame:
    """Deterministic per-group UP-sampling (the other half of corpus
    rebalancing — ``quota_sample``/``temperature_sample`` only keep rates
    <= 1): replicate each row of group g ``floor(f_g)`` times plus one more
    with probability ``frac(f_g)`` decided by the salted row hash, so the
    expected copy count per row is exactly ``f_g``. Returns the input rows
    with a ``copy_idx`` column (1..k); f_g < 1 behaves like quota sampling
    (rows keep 0 or 1 copies).

    Row-local: the per-row copy count is a CASE expression over the group
    plus one hash compare, fanned out with ``posexplode(sequence(...))`` —
    no shuffle, no skew beyond the factor itself, and reproducible across
    runs and cluster sizes (a seeded ``DataFrame.sample``-then-union is
    neither reproducible under repartitioning nor exact per group)."""
    factor = None
    for g, f in sorted(factors.items()):
        cond = F.col(group_col) == F.lit(g)
        lit = F.lit(float(f))
        factor = F.when(cond, lit) if factor is None else factor.when(cond, lit)
    factor = (
        factor.otherwise(F.lit(1.0))
        if factor is not None
        else F.lit(1.0)
    )
    h = md5_int(F.col(id_col).cast("string"), salt="upsample")
    base = F.floor(factor).cast("bigint")
    frac = factor - F.floor(factor)
    extra = (
        h < (F.round(frac, 6) * F.lit(float(_MD5_15_MAX))).cast("bigint")
    ).cast("bigint")
    k = (base + extra).alias("_k")
    fanned = df.withColumn("_k", k).filter(F.col("_k") > 0)
    return (
        fanned.select(
            "*",
            F.posexplode(
                F.sequence(F.lit(1).cast("bigint"), F.col("_k"))
            ).alias("_i", "copy_idx"),
        )
        .drop("_k", "_i")
    )


def weighted_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement — the
    Efraimidis–Spirakis A-ES scheme (public, IPL 2006): each row gets
    key = u^(1/w) with u a (0,1] uniform derived from the salted md5 of
    its id, and the k largest keys are the sample (inclusion probability
    proportional to weight, exactly as the sequential weighted draw).
    The pipeline use: quality-weighted corpus selection ("sample 1M docs
    proportional to quality score") that is reproducible run-to-run and
    engine-portable, unlike rand()-based sampling.

    Scale shape: the key is one row-local expression; the top-k cut is
    ``ORDER BY key DESC LIMIT k`` — distributed TakeOrdered (per-partition
    top-k, then a k-row merge), never a global sort; the rank window runs
    on the k surviving rows. Rows with non-positive weights are excluded
    (they'd have inclusion probability 0).

    Returns (id, weight, rnk) — k rows, rnk 1..k in draw order."""
    from pyspark.sql import Window

    w = F.col(weight_col).cast("double")
    u = (md5_int(F.col(id_col).cast("string"), salt="ws") + F.lit(1)) / F.lit(
        float(16**15 + 1)
    )
    key = F.pow(u, F.lit(1.0) / w)
    top = (
        df.filter(w > 0)
        .select(
            F.col(id_col).alias("id"),
            w.alias("weight"),
            key.alias("_key"),
        )
        .orderBy(F.desc("_key"), F.asc("id"))
        .limit(k)
    )
    rnk = F.row_number().over(Window.orderBy(F.desc("_key"), F.asc("id")))
    return top.select("id", "weight", rnk.alias("rnk"))


def dsir_weights(
    df: DataFrame, id_col: str, text_col: str, target_col, n_buckets: int = 10000
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling" — the public hashed-n-gram
    formulation): score every document by the log-likelihood ratio of its
    hashed unigram+bigram distribution under a TARGET corpus model (rows
    where ``target_col`` is true — the small high-quality corpus) vs the
    RAW model (the rest). High scores = "looks like the target"; feed the
    exponentiated score into ``weighted_sample`` (A-ES) to realize the
    paper's importance RESAMPLING step deterministically.

    Scale shape — two aggregations over the exploded gram stream, nothing
    quadratic and nothing model-sized beyond ``n_buckets`` rows:

    1. One row-local projection builds unigrams + bigrams (split +
       ``word_ngrams``) and hashes each into one of ``n_buckets``
       buckets with the portable md5 bucket hash (``md5_int % B`` — the
       same gram may collide, which IS the method: hashing is the
       dimensionality bound that lets the model stay KB-scale at any
       corpus size). ``explode_outer`` -> one hash aggregation keyed on
       bucket with conditional target/raw counts (map-side combined;
       output <= B rows). A doc with no grams keeps one row, whose bucket
       is NULL and which the model skips.
    2. Laplace-smoothed per-bucket log-ratios joined back to the gram
       stream as a BROADCAST (B rows), then one hash aggregation per
       (doc, is_target) sums them and counts the non-NULL buckets, so the
       answer needs no join back to a second read of the input. Totals
       come from a whole-relation window over the bucket aggregate.

    Float note: the per-doc score is an unordered double sum; published at
    4 decimals the summation-order difference (~1e-13 at
    realistic gram counts) is invisible, same as the drift family. NULL
    text -> 0 grams, NULL score. Returns (id_col, is_target, n_grams,
    logratio)."""
    lam = 1.0
    b = int(n_buckets)
    words = F.split(F.col(text_col), " ")
    # NULL text has NULL grams: its one explode_outer row has a NULL bucket
    occ = df.select(
        F.col(id_col).alias("_id"),
        target_col.cast("boolean").alias("is_target"),
        F.explode_outer(F.concat(words, word_ngrams(words, 2))).alias("_g"),
    ).select(
        "_id",
        "is_target",
        F.pmod(md5_int(F.col("_g")), F.lit(b)).alias("_b"),
    )
    bc = (
        occ.filter(F.col("_b").isNotNull())
        .groupBy("_b")
        .agg(
            F.sum(F.col("is_target").cast("long")).alias("_ct"),
            F.sum((~F.col("is_target")).cast("long")).alias("_cr"),
        )
    )
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    tt = F.sum("_ct").over(wall).cast("double")
    tr = F.sum("_cr").over(wall).cast("double")
    lw = bc.select(
        "_b",
        (
            F.log((F.col("_ct") + lam) / (tt + lam * b))
            - F.log((F.col("_cr") + lam) / (tr + lam * b))
        ).alias("_lw"),
    )
    return (
        occ.join(F.broadcast(lw), "_b", "left")
        .groupBy("_id", "is_target")
        .agg(
            F.count("_b").alias("n_grams"),
            F.round(F.sum("_lw"), 4).alias("logratio"),
        )
        .withColumnRenamed("_id", id_col)
    )
