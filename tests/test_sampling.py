"""The sampling family (``operators/sampling.py``): DSIR importance
weights and A-ES weighted sampling pinned on hand-built fixtures."""


def test_dsir_weights_direction_and_counts(spark):
    """DSIR importance scoring (operators/sampling.py:dsir_weights) pins:
    a doc whose hashed-n-gram mass sits in target-corpus buckets scores
    POSITIVE (looks like the target) and a raw-vocabulary doc NEGATIVE;
    n_grams counts unigrams + bigrams; NULL text yields 0 grams and NULL
    score; is_target is echoed."""
    import pyspark.sql.functions as F

    from fsharp_data_validation_spark.operators.sampling import dsir_weights

    t = "alpha beta gamma alpha beta"
    r = "omega psi chi omega psi"
    df = spark.createDataFrame(
        [
            (1, t, True),
            (2, t, True),
            (3, r, False),
            (4, r, False),
            (5, "alpha beta gamma", False),  # raw-side doc with target vocab
            (6, None, False),
        ],
        "doc_id int, text string, is_t boolean",
    )
    out = {
        row["doc_id"]: row
        for row in dsir_weights(
            df, "doc_id", "text", F.col("is_t"), n_buckets=4096
        ).collect()
    }
    # 5 tokens -> 5 unigrams + 4 bigrams
    assert out[1]["n_grams"] == 9
    # 3 tokens -> 3 + 2
    assert out[5]["n_grams"] == 5
    assert out[6]["n_grams"] == 0 and out[6]["logratio"] is None
    assert out[1]["is_target"] is True and out[5]["is_target"] is False

    # direction: target-vocab docs score above raw-vocab docs, and the
    # target-vocab RAW doc still scores positive (content, not label)
    assert out[1]["logratio"] > 0 > out[3]["logratio"]
    assert out[5]["logratio"] > 0
    # identical texts with identical label context score identically
    assert out[1]["logratio"] == out[2]["logratio"]
    assert out[3]["logratio"] == out[4]["logratio"]


def test_weighted_sample_determinism_and_bias(spark):
    """A-ES: deterministic across runs, excludes non-positive weights, and
    heavily-weighted rows are sampled (far) more often — checked by giving
    one row overwhelming weight across many id ranges (each an independent
    hash draw)."""
    from pyspark.sql import functions as F

    from fsharp_data_validation_spark.operators.sampling import weighted_sample

    rows = [(i, 1.0 if i else 10000.0) for i in range(50)] + [(99, 0.0), (98, -1.0)]
    df = spark.createDataFrame(rows, "doc_id long, w double")
    a = [tuple(r) for r in weighted_sample(df, "doc_id", "w", 10).collect()]
    b = [tuple(r) for r in weighted_sample(df, "doc_id", "w", 10).collect()]
    assert a == b and len(a) == 10  # deterministic
    assert all(r[0] not in (98, 99) for r in a)  # non-positive excluded
    assert [r[2] for r in a] == list(range(1, 11))  # rnk 1..k
    # the first doc has 10000x the weight: it must appear whatever the ids
    hits = 0
    for s in range(1, 6):
        shifted = df.withColumn("doc_id", F.col("doc_id") + 1000 * s)
        got = weighted_sample(shifted, "doc_id", "w", 10).collect()
        hits += any(r["id"] == 1000 * s for r in got)
    assert hits == 5
