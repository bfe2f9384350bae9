"""Round-3 operators: conversation-flow validation, TF-IDF top terms
(the drift members are pinned in test_drift.py, the similarity members in
test_similarity.py, the Gopher/Zipf/PMI/vocab-growth members in
test_text.py, the stats members in test_stats.py, weighted sampling in
test_sampling.py). Semantics pinned on
hand-built fixtures; the sf0.01 DuckDB oracles cover the derived-table
scale."""

import math

from pyspark.sql import Row, functions as F


def test_conversation_flow_violations(spark):
    from fsharp_data_validation_spark.operators.crossrow import (
        conversation_flow_violations,
    )

    rows = [
        # c1: clean user/assistant alternation
        Row(conv_id="c1", turn_idx=0, role="user", text="hi", tool=None, ts=0),
        Row(conv_id="c1", turn_idx=1, role="assistant", text="yo", tool=None, ts=1),
        Row(conv_id="c1", turn_idx=2, role="tool", text="r", tool="t1", ts=2),
        # c2: starts with assistant (violation), repeats role (violation)
        Row(conv_id="c2", turn_idx=0, role="assistant", text="a", tool=None, ts=0),
        Row(conv_id="c2", turn_idx=1, role="assistant", text="b", tool=None, ts=1),
        # c3: tool turn after user (orphan), and tool FIRST turn (start + orphan)
        Row(conv_id="c3", turn_idx=0, role="tool", text="x", tool="t1", ts=0),
        Row(conv_id="c3", turn_idx=1, role="user", text="q", tool=None, ts=1),
        Row(conv_id="c3", turn_idx=2, role="tool", text="y", tool="t2", ts=2),
    ]
    df = spark.createDataFrame(rows).withColumn("ts", F.col("ts").cast("timestamp"))
    got = sorted(
        (r["conv_id"], r["turn_idx"], r["code"])
        for r in conversation_flow_violations(df).collect()
    )
    assert got == [
        ("c2", 0, "conversation_start"),
        ("c2", 1, "consecutive_same_role"),
        ("c3", 0, "conversation_start"),
        ("c3", 0, "orphan_tool_turn"),
        ("c3", 2, "orphan_tool_turn"),
    ]


def test_tfidf_top_terms_scores_and_ties(spark):
    from fsharp_data_validation_spark.operators.text import tfidf_top_terms

    docs = spark.createDataFrame(
        [
            (1, "apple apple banana shared"),
            (2, "banana cherry shared"),
            (3, "cherry cherry cherry shared"),
        ],
        "doc_id long, text string",
    )
    out = {
        (r["doc_id"], r["rnk"]): (r["term"], r["tf"], r["score"])
        for r in tfidf_top_terms(docs, "doc_id", "text", 2).collect()
    }
    # doc 1: apple tf=2 df=1 -> 2*ln(3); banana tf=1 df=2 -> ln(1.5)
    assert out[(1, 1)] == ("apple", 2, round(2 * math.log(3), 4))
    assert out[(1, 2)] == ("banana", 1, round(math.log(1.5), 4))
    # doc 2: banana and cherry tie (tf=1, df=2) -> lexicographic order
    assert out[(2, 1)][0] == "banana" and out[(2, 2)][0] == "cherry"
    # 'shared' in every doc -> idf ln(1)=0, never ranks above positives
    assert all(term != "shared" or rnk > 1 for (_, rnk), (term, _, _) in out.items())


def test_dataset_checks_one_pass(spark):
    from fsharp_data_validation_spark.operators.checks import (
        Check,
        completeness,
        compliance,
        dataset_checks,
        uniqueness,
    )

    rows = [
        Row(conv_id="c1", turn_idx=0, role="user", text="hi"),
        Row(conv_id="c1", turn_idx=1, role="assistant", text=None),
        Row(conv_id="c1", turn_idx=1, role="weird", text="dup key"),
        Row(conv_id="c2", turn_idx=0, role="user", text="yo"),
    ]
    df = spark.createDataFrame(rows)
    out = dataset_checks(
        df,
        [
            Check("text_comp", completeness("text"), ">=", 0.8),
            Check("role_ok", compliance(F.col("role").isin("user", "assistant")), ">=", 1.0),
            Check("uniq", uniqueness(["conv_id", "turn_idx"]), ">=", 1.0),
            Check("rows", F.count(F.lit(1)), "==", 4.0),
        ],
    )
    got = {r["check_name"]: (r["metric_value"], r["status"]) for r in out.collect()}
    assert got["text_comp"] == (0.75, "fail")
    assert got["role_ok"] == (0.75, "fail")
    assert got["uniq"] == (0.75, "fail")  # 3 distinct keys / 4 rows
    assert got["rows"] == (4.0, "pass")
    # one aggregation pass: a single final physical aggregate, no join
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan


def test_dataset_checks_rejects_bad_specs(spark):
    import pytest as _pytest

    from fsharp_data_validation_spark.operators.checks import Check, dataset_checks

    with _pytest.raises(ValueError):
        Check("x", F.count(F.lit(1)), "!=", 1.0)
    df = spark.range(1)
    with _pytest.raises(ValueError):
        dataset_checks(df, [])
    dup = [
        Check("same", F.count(F.lit(1)), ">=", 0.0),
        Check("same", F.count(F.lit(1)), ">=", 0.0),
    ]
    with _pytest.raises(ValueError):
        dataset_checks(df, dup)


def test_context_budget_violations(spark):
    from fsharp_data_validation_spark.operators.crossrow import (
        context_budget_violations,
    )

    rows = [
        # c1: 3 + 3 + 3 tokens -> cum 3, 6, 9; budget 7 flags only the last
        ("c1", 0, "user", "a b c", None, 0),
        ("c1", 1, "assistant", "d e f", None, 1),
        ("c1", 2, "user", "g h i", None, 2),
        # c2: NULL text counts 0 tokens; never over budget
        ("c2", 0, "user", None, None, 0),
        ("c2", 1, "assistant", "x", None, 1),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, ts long",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got = [
        (r["conv_id"], r["turn_idx"], r["n_tokens"], r["cum_tokens"])
        for r in context_budget_violations(df, budget=7).collect()
    ]
    assert got == [("c1", 2, 3, 9)]


def test_repeated_turns_scoped_to_conversation(spark):
    from fsharp_data_validation_spark.operators.crossrow import repeated_turns

    rows = [
        # c1: "Retry " repeated 3x under normalization (case/whitespace)
        Row(conv_id="c1", turn_idx=0, text="retry"),
        Row(conv_id="c1", turn_idx=1, text="Retry"),
        Row(conv_id="c1", turn_idx=5, text="  retry  "),
        Row(conv_id="c1", turn_idx=2, text="ok"),
        # same text in ANOTHER conversation: not a loop (scoped key)
        Row(conv_id="c2", turn_idx=0, text="retry"),
        # empty/NULL text excluded
        Row(conv_id="c3", turn_idx=0, text="   "),
        Row(conv_id="c3", turn_idx=1, text="   "),
        Row(conv_id="c3", turn_idx=2, text=None),
    ]
    got = repeated_turns(spark.createDataFrame(rows)).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["conv_id"], r["n_repeats"], r["first_turn"], r["last_turn"]) == (
        "c1", 3, 0, 5,
    )


def test_fd_violations_counts(spark):
    from fsharp_data_validation_spark.operators.checks import fd_violations

    rows = [
        # key (1,1) maps to two roles -> violating (3 rows under it)
        (1, 1, "user", "x"),
        (1, 1, "user", "x"),
        (1, 1, "tool", "x"),
        # key (1,2) is clean
        (1, 2, "user", "y"),
        # NULL rhs never counts as a distinct value
        (2, 1, "user", None),
        (2, 1, "user", "z"),
    ]
    df = spark.createDataFrame(rows, "conv int, turn int, role string, text string")
    got = {
        r["fd"]: r
        for r in fd_violations(
            df, [(["conv", "turn"], "role"), (["conv", "turn"], "text")]
        ).collect()
    }
    r = got["conv,turn->role"]
    assert (r["n_keys"], r["violating_keys"], r["violating_rows"]) == (3, 1, 3)
    assert abs(r["violation_rate"] - 1 / 3) < 1e-3
    t = got["conv,turn->text"]
    assert (t["violating_keys"], t["violating_rows"]) == (0, 0)

    import pytest

    with pytest.raises(ValueError):
        fd_violations(df, [])


def test_benford_digits_and_chi2(spark):
    """String-based first digit classifies exact powers of ten correctly;
    chi2 matches the hand-computed statistic."""
    from fsharp_data_validation_spark.operators.checks import benford_check

    vals = [1, 10, 100, 1000, 2, 25, 300, 9, 95, -5, 0]  # <=0 dropped
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    out = benford_check(df, "v", round_to=6)
    assert dict(out.dtypes)["digit"] == "bigint"  # the oracle's BIGINT
    got = {r["digit"]: r for r in out.collect()}
    assert set(got) == set(range(1, 10))  # full spine, zeros included
    assert got[1]["n"] == 4  # 1, 10, 100, 1000 all digit 1
    assert got[3]["n"] == 1 and got[9]["n"] == 2
    assert got[4]["n"] == 0 and got[4]["obs_p"] == 0.0
    n_tot = 9
    chi2 = 0.0
    for d in range(1, 10):
        exp = n_tot * math.log10(1 + 1 / d)
        obs = {1: 4, 2: 2, 3: 1, 9: 2}.get(d, 0)
        # unobserved digits still contribute their expected mass
        chi2 += (obs - exp) ** 2 / exp
    assert abs(got[1]["chi2"] - chi2) < 1e-4
    assert abs(got[1]["obs_p"] - 4 / 9) < 1e-5


def test_violation_examples_null_key_hashing(spark):
    """The exemplar-ranking hash must COALESCE each key component: NULL
    conv_id rows (the conv_id-required violation class) still get a
    deterministic, engine-portable order. Pinned against the same formula
    computed with Python hashlib."""
    import hashlib

    from pyspark.sql import Window

    from fsharp_data_validation_spark.operators.dedup import md5_int

    rows = [
        (None, 0, 100),
        (None, 1, 200),
        ("c1", None, 300),
        ("c2", 2, None),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, epoch long")
    key = F.concat_ws(
        "|",
        F.coalesce(F.col("conv_id"), F.lit("")),
        F.coalesce(F.col("turn_idx").cast("string"), F.lit("")),
        F.coalesce(F.col("epoch").cast("string"), F.lit("")),
    )
    h = md5_int(key, salt="ex")
    got = [
        (r["conv_id"], r["turn_idx"], r["epoch"])
        for r in df.withColumn("_h", h).orderBy("_h").collect()
    ]

    def py_h(c, t, e):
        s = "ex|" + "|".join("" if x is None else str(x) for x in (c, t, e))
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    want = sorted(rows, key=lambda r: py_h(*r))
    assert got == [tuple(r) for r in want]


def test_audio_meta_roundtrip_and_hygiene(spark):
    """Real PCM WAV round-trip: build canonical RIFF files, parse them
    back exactly; malformed payloads (truncated, non-RIFF, NULL,
    zero-rate) flag ok=false with NULL fields instead of raising."""
    from fsharp_data_validation_spark.operators.multimodal import (
        decode_audio_meta,
        make_wav_payload,
    )

    good = make_wav_payload(16000, 2, 16, 160, seed=1)
    rows = [
        (1, good),
        (2, make_wav_payload(44100, 1, 8, 441, seed=2)),
        (3, good[:20]),  # truncated
        (4, b"not a wav at all" + bytes(40)),  # wrong magic
        (5, None),  # NULL payload
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r["media_id"]: r for r in decode_audio_meta(df).collect()}
    assert got[1]["ok"] and (
        got[1]["sample_rate"], got[1]["channels"], got[1]["bits"], got[1]["n_samples"]
    ) == (16000, 2, 16, 160)
    assert abs(got[1]["duration_s"] - 0.01) < 1e-9
    assert got[2]["ok"] and got[2]["n_samples"] == 441
    assert abs(got[2]["duration_s"] - 0.01) < 1e-9
    for mid in (3, 4, 5):
        assert got[mid]["ok"] is False and got[mid]["sample_rate"] is None
