"""Round-5 additions: degenerate-input pins (r4 ADVICE low items); the
trained-quantizer IVF recall gate and SemDeDup are in test_similarity.py.

Reference parity notes: the validation semantics under test are unchanged
(core kernel is the oracle); these tests pin ENGINE-level behavior —
division guards that must agree across Spark and DuckDB.
"""

from __future__ import annotations

import pytest


def test_curate_dedup_pack_keep_earliest_chain(spark):
    """The composed pipeline's near-dup policy is greedy KEEP-EARLIEST:
    drop every doc with a verified near-dup of SMALLER id — including the
    chain case a~b~c (a<b<c, a~b, b~c, a!~c) where b is itself dropped but
    c must still be dropped because b<c. This is deliberately NOT
    transitive-closure clustering (operators/text.py:curate_dedup_pack).
    The premise Jaccards are asserted in-test so the fixture can't drift."""
    from fsharp_data_validation_spark.operators.text import curate_dedup_pack

    base = [f"tok{i}a" for i in range(30)]
    a = " ".join(base)
    b = " ".join(base + ["extraa", "extrab", "extrac", "extrad"])
    c = " ".join(
        base + ["extraa", "extrab", "extrac", "extrad", "extre", "extrf", "extrg", "extrh"]
    )

    def jac(x, y):
        def sh(t):
            w = t.split(" ")
            return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

        sx, sy = sh(x), sh(y)
        return len(sx & sy) / len(sx | sy)

    assert jac(a, b) >= 0.8 and jac(b, c) >= 0.8 and jac(a, c) < 0.8

    # unrelated doc survives; ids far apart so every md5 split/shard differs
    d = " ".join(f"other{i}x" for i in range(25))
    df = spark.createDataFrame(
        [(1, a, "en"), (2, b, "en"), (3, c, "en"), (4, d, "en")],
        "doc_id int, text string, lang string",
    )
    out = curate_dedup_pack(df, "doc_id", "text").collect()
    kept_ids = sorted(r["doc_id"] for r in out)
    assert kept_ids == [1, 4]  # b dropped (a<b), c dropped (b<c) despite b gone
    by_id = {r["doc_id"]: r for r in out}
    # each survivor packs alone here (distinct pack groups / small corpus):
    # rn and chunk_id restart at 1 per group
    for r in by_id.values():
        assert r["rn"] == 1 and r["chunk_id"] == 1 and r["n_bpe"] > 0
        assert r["pack_group"].split("|")[0] in ("train", "test")


def test_token_count_bpe_empty_text_null_ratio(spark):
    """Empty/degenerate text is 0 BPE tokens -> chars_per_token must be NULL
    (not NaN, not a crash) on BOTH engines. Spark side: NULLIF guard in
    operators/text.py; DuckDB side: NULLIF in the token_count_bpe oracle.
    DuckDB's default ieee_floating_point_ops would give NaN for 0/0 — the
    guard pins the engines to agree (ADVICE r4, text.py:130)."""
    import duckdb

    from fsharp_data_validation_spark.operators.text import (
        bpe_oracle_expr,
        token_count_bpe,
    )

    df = spark.createDataFrame(
        [(1, ""), (2, "the cat sat"), (3, None)], "doc_id int, text string"
    )
    rows = {r["doc_id"]: r for r in token_count_bpe(df, "doc_id", "text").collect()}
    assert rows[1]["n_bpe"] == 0
    assert rows[1]["chars_per_token"] is None
    assert rows[2]["n_bpe"] > 0 and rows[2]["chars_per_token"] is not None
    # NULL text: count pinned to 0, ratio NULL
    assert rows[3]["n_bpe"] == 0 and rows[3]["chars_per_token"] is None

    # DuckDB replay of the oracle expression on the same degenerate inputs
    con = duckdb.connect()
    expr = bpe_oracle_expr("text")
    orows = con.sql(
        "SELECT doc_id, "
        f"{expr} AS n_bpe, "
        f"ROUND(length(text) * 1.0 / NULLIF({expr}, 0), 4) AS chars_per_token "
        "FROM (VALUES (1, ''), (2, 'the cat sat'), (3, NULL)) t(doc_id, text)"
    ).fetchall()
    od = {r[0]: r for r in orows}
    assert od[1][1] == 0 and od[1][2] is None
    assert od[2][1] == rows[2]["n_bpe"]
    assert od[3][2] is None


def test_suggest_constraints_kinds_and_guards(spark):
    """Profile-driven suggestion emission guards (operators/checks.py:
    suggest_constraints): not_null vs completeness are exclusive; unique
    requires distinct == non-null == rows; domain only for 0 < distinct <=
    max_domain; an all-NULL column emits NOTHING; the suggested
    completeness threshold is FLOORED at 2 decimals so asserting it on the
    profiled data is guaranteed to pass."""
    from fsharp_data_validation_spark.operators.checks import suggest_constraints

    df = spark.createDataFrame(
        [
            (1, "a", None, 10.0),
            (2, "b", None, 20.0),
            (3, "a", None, 30.0),
            (4, "b", None, None),
            (5, None, None, 50.0),
            (6, None, None, 60.0),
        ],
        "id int, cat string, allnull string, val double",
    )
    out = suggest_constraints(
        df, string_cols=["cat", "allnull"], numeric_cols=["id", "val"]
    )
    rows = {(r["column"], r["kind"]): r for r in out.collect()}

    # id: complete, unique, ranged — and never gets a completeness row
    assert rows[("id", "not_null")]["support"] == 1.0
    assert ("id", "completeness") not in rows
    assert ("id", "unique") in rows
    r = rows[("id", "range")]
    assert (r["lo"], r["hi"]) == (1.0, 6.0)

    # cat: 4/6 non-null -> floored threshold 0.66, rounded support 0.6667
    c = rows[("cat", "completeness")]
    assert c["lo"] == 0.66 and c["support"] == 0.6667
    assert rows[("cat", "domain")]["value_str"] == "a|b"
    assert rows[("cat", "max_length")]["hi"] == 1.0
    assert ("cat", "not_null") not in rows and ("cat", "unique") not in rows

    # all-NULL column: no suggestion of any kind
    assert not any(col == "allnull" for col, _ in rows)

    # val: one NULL -> completeness + range, no unique (d == nn but nn < n)
    assert ("val", "completeness") in rows and ("val", "range") in rows
    assert ("val", "unique") not in rows

    # the floored threshold must HOLD on the profiled data by construction
    for (col, kind), r in rows.items():
        if kind == "completeness":
            assert r["lo"] <= r["support"]

    import pytest as _pytest

    with _pytest.raises(ValueError):
        suggest_constraints(df, string_cols=["cat"], numeric_cols=["cat"])
    with _pytest.raises(ValueError):
        suggest_constraints(df)


def test_suggest_constraints_domain_cardinality_gate(spark):
    """The second (domain-collecting) pass never runs for columns above
    max_domain — a high-cardinality column gets completeness/length rows
    but NO domain row."""
    from fsharp_data_validation_spark.operators.checks import suggest_constraints

    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(20)], "id int, hicard string"
    )
    out = suggest_constraints(df, string_cols=["hicard"], max_domain=10)
    kinds = {r["kind"] for r in out.collect()}
    assert "domain" not in kinds
    assert {"not_null", "unique", "max_length"} <= kinds


def test_rate_anomaly_control_chart(spark):
    """Control-chart semantics (operators/checks.py:rate_anomaly): the day
    under test is EXCLUDED from its own trailing baseline (a spike can't
    mask itself); a spike off a CONSTANT baseline (sd == 0) is anomalous
    with z NULL; days with < min_history trailing days are never anomalous;
    a post-spike normal day has a computable z but stays below threshold."""
    import datetime

    import pyspark.sql.functions as F

    from fsharp_data_validation_spark.operators.checks import rate_anomaly

    # days 1-8: 2/10 fail (rate .2); day 9: 8/10 (spike); day 10: 2/10
    rows = []
    for d in range(1, 11):
        k = 8 if d == 9 else 2
        day = datetime.date(2024, 1, d)
        rows += [(day, i < k) for i in range(10)]
    df = spark.createDataFrame(rows, "day date, fail boolean")
    out = {
        r["day"].day: r
        for r in rate_anomaly(
            df, F.col("day"), F.col("fail"), window=7, z_threshold=3.0
        ).collect()
    }

    # day 9: baseline = days 2-8, all exactly 0.2 -> sd 0, z NULL, anomaly
    spike = out[9]
    assert spike["mean_rate"] == 0.2 and spike["sd_rate"] == 0.0
    assert spike["z"] is None and spike["anomaly"] is True

    # self-exclusion: had day 9 entered its own baseline, sd > 0 there
    # days 1-3: insufficient history -> never anomalous
    for d in (1, 2, 3):
        assert out[d]["anomaly"] is False
    # steady days 4-8: rate == mean, sd == 0 -> not anomalous
    for d in (4, 5, 6, 7, 8):
        assert out[d]["anomaly"] is False and out[d]["z"] is None

    # day 10: spike is IN the baseline -> sd > 0, z defined, small
    after = out[10]
    assert after["sd_rate"] > 0 and after["z"] is not None
    assert abs(after["z"]) < 3.0 and after["anomaly"] is False


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


def test_ngram_perplexity_reference_model(spark):
    """Bigram-LM perplexity (operators/text.py:ngram_perplexity) pins: a
    doc made of reference bigrams scores LOW perplexity; a doc of tokens
    the reference never saw scores the uniform-unseen level (every bigram
    backs off to 1/(V+1)); short docs (<2 tokens) get NULL; n_bigrams =
    tokens - 1; the model trains ONLY on reference rows (the off-reference
    doc's own bigrams must not teach the model)."""
    import math

    import pyspark.sql.functions as F

    from fsharp_data_validation_spark.operators.text import ngram_perplexity

    ref = "a b a b a b a b"
    df = spark.createDataFrame(
        [
            (1, ref, True),
            (2, ref, True),
            (3, "a b a b", False),     # in-distribution, off-reference
            (4, "z q z q z q", False), # fully out-of-vocabulary
            (5, "solo", False),        # < 2 tokens
            (6, None, False),
            (7, "a b a b a b a b", False),  # ref text, non-ref label
        ],
        "doc_id int, text string, is_ref boolean",
    )
    out = {
        r["doc_id"]: r
        for r in ngram_perplexity(
            df, "doc_id", "text", F.col("is_ref"), k=0.1
        ).collect()
    }
    assert out[1]["n_bigrams"] == 7 and out[3]["n_bigrams"] == 3
    assert out[5]["ppl"] is None and out[5]["n_bigrams"] == 0
    assert out[6]["ppl"] is None

    # in-distribution doc is near-certain under the model -> ppl near 1;
    # OOV doc backs off to uniform 1/(V+1) with V=2 -> ppl exactly 3.0
    assert out[3]["ppl"] < 1.5
    assert abs(out[4]["ppl"] - 3.0) < 1e-6
    assert out[3]["ppl"] < out[4]["ppl"]
    # scoring is label-blind: a reference doc and an identical-text
    # non-reference doc score identically (the label only gates training)
    assert out[7]["ppl"] == out[1]["ppl"]

    # analytic check for the OOV level: -mean log2(1/(V+1)) = log2(3)
    assert abs(math.log2(3.0) - math.log2(out[4]["ppl"])) < 1e-9
