"""Cache-lifecycle invariants: every operator that persists intermediates
registers them in fsharp_data_validation_spark.cache, and release_caches
leaves ZERO storage behind — no monotonic executor-storage growth
across a multi-operator session (the 71-query bench; any real pipeline)."""

from pyspark.sql import Row, functions as F

from fsharp_data_validation_spark.cache import release_caches, tracked_count


def _docs(spark, n=40):
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [Row(doc_id=i, text=(base if i % 3 else base + f" v{i}")) for i in range(n)]
    return spark.createDataFrame(rows)


def _storage_entries(spark):
    """(cached plans, persistent RDDs incl. localCheckpoint residue)."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return len(list(jmap.keys()))


def test_persisting_operators_register_and_release(spark):
    from fsharp_data_validation_spark.operators.contamination import (
        cross_contamination_pairs,
    )
    from fsharp_data_validation_spark.operators.dedup import (
        containment_dedup_pairs,
        minhash_lsh_pairs,
        near_dup_components,
        ngram_jaccard_pairs,
        simhash_banded_pairs,
    )

    release_caches(spark, sweep_rdds=True)
    assert tracked_count() == 0

    docs = _docs(spark)
    ngram_jaccard_pairs(docs, "doc_id", "text").collect()
    assert tracked_count() >= 2  # shingle sets + prefix index
    minhash_lsh_pairs(docs, "doc_id", "text").collect()
    simhash_banded_pairs(docs, "doc_id", "text").collect()
    containment_dedup_pairs(docs, "doc_id", "text").collect()
    near_dup_components(docs, "doc_id", "text").collect()
    cross_contamination_pairs(
        docs.filter("doc_id < 20"), docs.filter("doc_id >= 20"), "doc_id", "text"
    ).collect()
    assert _storage_entries(spark) > 0  # caches really were live

    released = release_caches(spark, sweep_rdds=True)
    assert released > 0
    assert tracked_count() == 0
    # THE invariant: nothing persisted survives — neither DataFrame caches
    # nor localCheckpoint residue from the iterative CC rounds
    assert _storage_entries(spark) == 0


def test_drift_and_sampling_grids_release(spark):
    from fsharp_data_validation_spark.operators.drift import psi_by_group
    from fsharp_data_validation_spark.operators.sampling import temperature_sample

    release_caches(spark, sweep_rdds=True)
    df = spark.range(500).select(
        (F.col("id") % 7).cast("string").alias("grp"),
        (F.col("id") % 97).cast("double").alias("x"),
        F.col("id").alias("doc_id"),
    )
    psi_by_group(df, "grp", "x", 10.0, 10).collect()
    n = tracked_count()
    assert n >= 1  # the drift grid
    temperature_sample(df, "grp", "doc_id").collect()
    assert tracked_count() == n  # window totals, nothing persisted
    release_caches(spark, sweep_rdds=True)
    assert _storage_entries(spark) == 0


def test_window_total_operators_persist_nothing(spark):
    """Operators that read the totals of a small aggregate from a window
    over it, whose branches exchange reuse reads once, or whose kernel
    returns every row of its group, leave no tracked cache behind."""
    from fsharp_data_validation_spark.operators.dedup import simhash_banded_pairs
    from fsharp_data_validation_spark.operators.drift import chi2_drift
    from fsharp_data_validation_spark.operators.sampling import (
        dsir_weights,
        temperature_sample,
    )
    from fsharp_data_validation_spark.operators.stats import (
        mad_outliers_by_group,
        mg_partition_sketches,
        moments_partition_sketches,
        moments_rollup,
    )
    from fsharp_data_validation_spark.operators.similarity import semdedup
    from fsharp_data_validation_spark.operators.text import vocab_growth

    release_caches(spark, sweep_rdds=True)
    vecs = spark.createDataFrame(
        [(i, [float(i % 5), 1.0]) for i in range(40)], "vec_id long, embedding array<float>"
    )
    docs = _docs(spark).select(
        "*",
        (F.col("doc_id") % 3).cast("string").alias("grp"),
        (F.col("doc_id") % 7).cast("double").alias("x"),
        F.timestamp_seconds(F.col("doc_id") * 3600).alias("ts"),
    )
    for out in (
        temperature_sample(docs, "grp", "doc_id"),
        dsir_weights(docs, "doc_id", "text", F.col("doc_id") % 2 == 0),
        moments_rollup(moments_partition_sketches(docs, "grp", "x")),
        mg_partition_sketches(docs, "grp", "text"),
        mad_outliers_by_group(docs, "grp", "x"),
        chi2_drift(docs, "grp", "ts"),
        vocab_growth(docs, "ts", "text"),
        simhash_banded_pairs(docs, "doc_id", "text"),
        semdedup(vecs),
    ):
        assert out.collect()
    assert tracked_count() == 0


def test_release_is_safe_before_consumption(spark):
    """Unpersisting tracked plans is never load-bearing: lineage survives,
    a post-release evaluation just recomputes."""
    from fsharp_data_validation_spark.operators.dedup import ngram_jaccard_pairs

    release_caches(spark, sweep_rdds=True)
    docs = _docs(spark)
    plan = ngram_jaccard_pairs(docs, "doc_id", "text")
    release_caches(spark)  # NO sweep: checkpoints may be referenced
    n = plan.count()
    assert n > 0
    release_caches(spark, sweep_rdds=True)
    assert _storage_entries(spark) == 0
