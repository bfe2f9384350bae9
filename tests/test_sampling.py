"""The sampling family (``operators/sampling.py``): DSIR importance
weights pinned on a hand-built fixture."""


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
