"""The text family (``operators/text.py``): the word-n-gram builder
against a pure-Python spec, the Gopher repetition rules against their
explode + hash-aggregate specs, Zipf, PMI, vocabulary growth, the
curate-dedup-pack pipeline, BPE token counts, bigram perplexity and TF-IDF
top terms.
Semantics pinned on hand-built fixtures; the sf0.01 DuckDB oracles cover
the derived-table scale."""

import math

from pyspark.sql import functions as F


def test_word_ngrams_match_python(spark):
    """``word_ngrams`` equals ``[" ".join(w[i:i+n]) ...]`` over the split
    words, fuzzed over NULL, empty text, double spaces, texts shorter than
    n words and unicode words; NULL text has no n-grams."""
    import random

    from fsharp_data_validation_spark.operators.text import word_ngrams

    rng = random.Random(7)
    vocab = ["a", "b", "héllo", "日本", "ß", ""]
    texts = [None, "", " ", "solo", "a  b", "  a b  ", "a b", "日本 ß"]
    texts += [" ".join(rng.choice(vocab) for _ in range(rng.randint(0, 12))) for _ in range(200)]
    df = spark.createDataFrame(list(enumerate(texts)), "i int, t string")
    words = F.split(F.col("t"), " ")
    for n in (1, 2, 3):
        got = dict(df.select("i", word_ngrams(words, n).alias("g")).collect())
        for i, t in enumerate(texts):
            w = [] if t is None else t.split(" ")
            want = [" ".join(w[j : j + n]) for j in range(len(w) - n + 1)]
            assert got[i] == want, (n, t)


def test_ngram_perplexity_splits_text_once(spark):
    """``ngram_perplexity``'s bigram array ``_bg`` mentions ``split(text)``
    once: its lambdas read the words bound outside them, so the text is
    not split again for every bigram."""
    import re

    from fsharp_data_validation_spark.operators.text import ngram_perplexity

    df = spark.createDataFrame([(1, "a b c", True)], "doc_id int, text string, r boolean")
    out = ngram_perplexity(df, "doc_id", "text", F.col("r"))
    plan = out._jdf.queryExecution().analyzed().toString()
    bg = re.search(r" AS is_ref#\d+, (.*?) AS _bg#", plan).group(1)
    assert bg.count("split(") == 1, bg


def test_dedup_lines_splits_text_once(spark):
    """``dedup_lines``' filter lambda reads the lines bound outside it, so
    the text is not split again for every line it keeps or drops."""
    import re

    from fsharp_data_validation_spark.operators.text import dedup_lines

    df = spark.createDataFrame([(1, "a\nb\na")], "doc_id int, text string")
    out = dedup_lines(df, "doc_id", "text")
    plan = out._jdf.queryExecution().analyzed().toString()
    filters = re.findall(r"filter\((.*?) AS ", plan, re.S)
    assert filters and not [f for f in filters if "split(" in f], filters
    assert [tuple(r) for r in out.collect()] == [(1, "a\nb", 3, 1)]


def test_ngram_perplexity_builds_bigrams_once_per_branch(spark):
    """In the optimized plan the interpreted bigram ``transform`` sits in
    one Project per branch: no Filter holds it (Catalyst infers
    ``size(_bg) > 0`` from a plain explode) and no node holds it twice."""
    from fsharp_data_validation_spark.operators.text import ngram_perplexity

    df = spark.createDataFrame([(1, "a b c", True)], "doc_id int, text string, r boolean")
    out = ngram_perplexity(df, "doc_id", "text", F.col("r"))
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    nodes = [ln.lstrip(" :+-|") for ln in plan.splitlines()]
    holders = [n for n in nodes if "struct(w1, " in n]
    assert holders and all(n.count("struct(w1, ") == 1 for n in holders), holders
    assert not [n for n in holders if n.startswith("Filter")], holders


def test_top_ngram_fraction_tiebreak_and_short_docs(spark):
    from fsharp_data_validation_spark.operators.text import top_ngram_fraction

    docs = [
        (1, "a b a b a b"),  # "a b" x3 beats "b a" x2
        (2, "x y"),  # single bigram
        (3, "solo"),  # < n words: no row
        (4, "t t t t"),  # "t t" x3
        (5, None),
    ]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    got = {r["id"]: r for r in top_ngram_fraction(df, "doc_id", "text").collect()}
    assert set(got) == {1, 2, 4}
    assert got[1]["top_ngram"] == "a b" and got[1]["n_occurrences"] == 3
    # 3 occurrences x 3 chars / 11 chars
    assert abs(got[1]["char_frac"] - 9 / 11) < 1e-3
    # overlapping occurrences can cover > chars: fraction is capped at 1
    assert got[4]["n_occurrences"] == 3 and got[4]["char_frac"] == 1.0
    assert got[2]["top_ngram"] == "x y" and got[2]["char_frac"] == 1.0


def test_zipf_fit_exact_power_law(spark):
    """freq = 48/rank is exactly log-log linear: slope -1, r^2 = 1."""
    from fsharp_data_validation_spark.operators.text import zipf_fit

    text = " ".join(["a"] * 48 + ["b"] * 24 + ["c"] * 16 + ["d"] * 12)
    df = spark.createDataFrame([(text,)], "text string")
    got = zipf_fit(df, "text", top_k=10).collect()[0]
    assert got["n_types"] == 4
    assert abs(got["slope"] + 1.0) < 1e-6
    assert abs(got["r_squared"] - 1.0) < 1e-6


def test_dup_ngram_fraction_counts_and_cap(spark):
    from fsharp_data_validation_spark.operators.text import dup_ngram_fraction

    docs = [
        (1, "x y z x y z x y z"),  # all three 3-grams duplicated; cap at 1
        (2, "a b c d e"),  # no duplicated 3-gram: no row
        (3, None),
    ]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    got = {r["id"]: r for r in dup_ngram_fraction(df, "doc_id", "text").collect()}
    assert set(got) == {1}
    assert got[1]["n_dup_ngrams"] == 3
    assert got[1]["dup_char_frac"] == 1.0  # 35 covered chars / 17 -> capped


def test_pmi_bigrams_hand_value(spark):
    """Six 'a b' docs: p(ab)=1, p(a)=p(b)=1/2 -> PMI = ln 4."""
    from fsharp_data_validation_spark.operators.text import pmi_bigrams

    df = spark.createDataFrame([("a b",)] * 6, "text string")
    got = pmi_bigrams(df, "text", min_count=5, top_k=5).collect()
    assert len(got) == 1
    assert got[0]["bigram"] == "a b" and got[0]["n_ab"] == 6
    assert abs(got[0]["pmi"] - math.log(4.0)) < 1e-3


def test_pmi_total_uses_unfiltered_bigrams(spark):
    """min_count prunes which pairs are SCORED, not p(ab)'s denominator."""
    from fsharp_data_validation_spark.operators.text import pmi_bigrams

    # 5x "a b" + 2x "c d": nb must be 7, so pmi(a b) = ln((5/7)/(0.5^2 ... ))
    df = spark.createDataFrame([("a b",)] * 5 + [("c d",)] * 2, "text string")
    got = pmi_bigrams(df, "text", min_count=5, top_k=5).collect()
    assert len(got) == 1 and got[0]["bigram"] == "a b"
    # p(ab) = 5/7 over ALL bigram tokens; p(a) = p(b) = 5/14 unigram tokens
    expect = math.log((5 / 7) / ((5 / 14) * (5 / 14)))
    assert abs(got[0]["pmi"] - expect) < 1e-3


def test_vocab_growth_first_appearance(spark):
    from fsharp_data_validation_spark.operators.text import vocab_growth

    rows = [
        ("2024-01-01 00:00:00", "a b c"),
        ("2024-01-01 05:00:00", "a b"),  # no new tokens
        ("2024-01-02 00:00:00", "a d"),  # d is new
        ("2024-01-03 00:00:00", None),  # ignored
        ("2024-01-04 00:00:00", "e e e"),  # e counted once
    ]
    df = spark.createDataFrame(rows, "ts string, text string").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    got = {str(r["day"]): r for r in vocab_growth(df, "ts", "text").collect()}
    assert got["2024-01-01"]["new_tokens"] == 3
    assert got["2024-01-01"]["tokens"] == 5  # daily volume counts repeats
    assert got["2024-01-02"]["new_tokens"] == 1
    assert "2024-01-03" not in got  # NULL-text-only day: no data
    assert got["2024-01-04"]["new_tokens"] == 1  # e counted once
    assert got["2024-01-04"]["tokens"] == 3
    assert got["2024-01-04"]["vocab_size"] == 5


def _explode_ngrams(df, n):
    """(id, _chars, ngram) per n-gram occurrence of each doc with >= n words
    and non-empty text: the explode side of the Gopher reference specs."""
    from fsharp_data_validation_spark.operators.text import word_ngrams

    words = F.split(F.col("text"), " ")
    return df.filter(
        F.col("text").isNotNull() & (F.length("text") > 0) & (F.size(words) >= n)
    ).select(
        F.col("doc_id").alias("id"),
        F.length("text").alias("_chars"),
        F.explode(word_ngrams(words, n)).alias("ngram"),
    )


def _top_ngram_explode(df, n):
    """Reference spec of ``top_ngram_fraction``: explode + hash aggregate on
    (doc, ngram) + per-doc window ranked (count desc, ngram asc)."""
    from pyspark.sql import Window

    counts = _explode_ngrams(df, n).groupBy("id", "ngram").agg(
        F.count(F.lit(1)).alias("n_occurrences"), F.max("_chars").alias("_chars")
    )
    w = Window.partitionBy("id").orderBy(F.desc("n_occurrences"), F.asc("ngram"))
    return (
        counts.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select(
            "id",
            F.col("ngram").alias("top_ngram"),
            F.col("n_occurrences").cast("bigint").alias("n_occurrences"),
            F.round(
                F.least(
                    F.lit(1.0),
                    F.col("n_occurrences") * F.length("ngram") / F.col("_chars"),
                ),
                4,
            ).alias("char_frac"),
        )
    )


def _dup_ngram_explode(df, n):
    """Reference spec of ``dup_ngram_fraction``: explode + (doc, ngram)
    hash aggregate, then a per-doc sum over the n-grams seen 2+ times."""
    counts = _explode_ngrams(df, n).groupBy("id", "ngram").agg(
        F.count(F.lit(1)).alias("c"), F.max("_chars").alias("_chars")
    )
    return (
        counts.filter(F.col("c") >= 2)
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_dup_ngrams"),
            F.round(
                F.least(
                    F.lit(1.0),
                    F.sum(F.col("c") * F.length("ngram")) / F.max("_chars"),
                ),
                4,
            ).alias("dup_char_frac"),
        )
    )


def test_gopher_kernels_equivalent(spark):
    """The zero-shuffle sorted-runs fold kernels must produce EXACTLY the
    explode + hash-agg specs' output — fuzzed over random short docs plus
    the adversarial edges (empty text, single word, all-same words,
    empty-string words from double spaces)."""
    import random

    from fsharp_data_validation_spark.operators.text import (
        dup_ngram_fraction,
        top_ngram_fraction,
    )

    rng = random.Random(23)
    rows = []
    for i in range(300):
        m = rng.randint(0, 15)
        rows.append((i, " ".join(rng.choice("abcx") for _ in range(m))))
    rows += [
        (900, None),
        (901, ""),
        (902, "solo"),
        (903, "t t t t t t"),
        (904, "a  b  a  b"),  # double spaces -> empty-string words
    ]
    # unicode tokens + longer docs (sort order exercised beyond ASCII)
    uni = ["héllo", "wörld", "日本", "ß", "a"]
    rows += [
        (1100 + i, " ".join(rng.choice(uni) for _ in range(rng.randint(20, 60))))
        for i in range(50)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # the top rule folds word bigrams, the dup rule word 3-grams
    a = sorted(map(tuple, top_ngram_fraction(df, "doc_id", "text").collect()))
    b = sorted(map(tuple, _top_ngram_explode(df, 2).collect()))
    assert a == b, "top_ngram kernels diverge"
    c = sorted(map(tuple, dup_ngram_fraction(df, "doc_id", "text").collect()))
    d = sorted(map(tuple, _dup_ngram_explode(df, 3).collect()))
    assert c == d, "dup_ngram kernels diverge"


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
            df, "doc_id", "text", F.col("is_ref")
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


def test_bpe_token_count_matches_python_spec(spark):
    """The JVM regex alternation must implement greedy longest-match
    exactly: pin against a direct python re.findall of the same pattern
    (leftmost-first semantics are shared by java.util.regex, RE2 and
    python re for an identical pattern string), plus hand-computed cases."""
    import re

    from pyspark.sql import functions as F

    from fsharp_data_validation_spark.operators.text import (
        bpe_pattern,
        bpe_token_count_col,
    )

    pat = re.compile(bpe_pattern())
    texts = [
        "the table scan window value query",
        "a b  c",
        "",
        None,
        "THE TABLE",  # lowercased before matching
        "tablescan queueing",
        "x" * 40,
        "unicode éè 中文 \U0001f600 ok",
        "punct,uation! and-dashes_under",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i int, t string")
    got = {
        r["i"]: r["n"]
        for r in df.select("i", bpe_token_count_col("t").alias("n")).collect()
    }
    for i, t in enumerate(texts):
        want = 0 if t is None else len(pat.findall(t.lower()))
        assert got[i] == want, (t, got[i], want)
    assert got[6] == 40  # no piece matches 'xxxx' -> one token per char


def test_bpe_vocab_rejects_unsafe_pieces(monkeypatch):
    import pytest as _pytest

    from fsharp_data_validation_spark.operators import text

    for vocab in (["ok", "bad|piece"], ["Upper"]):
        monkeypatch.setattr(text, "BPE_VOCAB", frozenset(vocab))
        with _pytest.raises(ValueError):
            text.bpe_pattern()


def test_pack_windows_bpe_parity(spark):
    """pack_context_windows(tokenizer='bpe') must run the identical greedy
    recurrence over subword counts: replay the packing in python from the
    BPE counts and compare chunk assignments exactly."""
    from pyspark.sql import functions as F

    from fsharp_data_validation_spark.operators.text import (
        bpe_token_count_col,
        pack_context_windows,
    )

    rows = []
    texts = [
        "the table scan window",
        "value query batch",
        "a",
        "tablescan queueing overflow beyond the budget for sure honestly",
        "sort merge join",
        "x y z",
    ]
    for c in ("c1", "c2"):
        for i, t in enumerate(texts):
            rows.append((c, i, t))
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")

    budget = 12
    got = {
        (r["conv_id"], r["turn_idx"]): (r["n_tokens"], r["chunk_id"])
        for r in pack_context_windows(df, budget=budget, tokenizer="bpe").collect()
    }
    counts = {
        r["turn_idx"]: r["n"]
        for r in df.filter(F.col("conv_id") == "c1")
        .select("turn_idx", bpe_token_count_col("text").alias("n"))
        .collect()
    }
    # python replay of the greedy recurrence
    for c in ("c1", "c2"):
        chunk, acc = 1, 0
        for i in range(len(texts)):
            n = counts[i]
            if acc > 0 and acc + n > budget:
                chunk, acc = chunk + 1, 0
            acc += n
            assert got[(c, i)] == (n, chunk), (c, i, got[(c, i)], (n, chunk))


def test_bpe_token_count_unicode_fuzz(spark):
    """Seeded random-string fuzz (ASCII + latin-1 + CJK + astral + spaces +
    regex metacharacters in the TEXT) against the python re spec of the
    same pattern — one Spark job for all examples."""
    import random
    import re

    from fsharp_data_validation_spark.operators.text import (
        bpe_pattern,
        bpe_token_count_col,
    )

    rng = random.Random(99)
    alphabet = (
        [chr(c) for c in range(32, 127)]
        + list("éèñüßÆŒ中文日本語한국어")
        + ["\U0001f600", "\U0001f4a9", " ", "\t"]
    )
    texts = [
        "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 120)))
        for _ in range(300)
    ]
    pat = re.compile(bpe_pattern())
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i int, t string"
    )
    got = {
        r["i"]: r["n"]
        for r in df.select("i", bpe_token_count_col("t").alias("n")).collect()
    }
    for i, t in enumerate(texts):
        want = len(pat.findall(t.lower()))
        assert got[i] == want, (repr(t), got[i], want)


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
        for r in tfidf_top_terms(docs, "doc_id", "text").collect()
    }
    # doc 1: apple tf=2 df=1 -> 2*ln(3); banana tf=1 df=2 -> ln(1.5)
    assert out[(1, 1)] == ("apple", 2, round(2 * math.log(3), 4))
    assert out[(1, 2)] == ("banana", 1, round(math.log(1.5), 4))
    # doc 2: banana and cherry tie (tf=1, df=2) -> lexicographic order
    assert out[(2, 1)][0] == "banana" and out[(2, 2)][0] == "cherry"
    # 'shared' in every doc -> idf ln(1)=0, never ranks above positives
    assert all(term != "shared" or rnk > 1 for (_, rnk), (term, _, _) in out.items())
    assert out[(1, 3)] == ("shared", 1, 0.0)  # the top 3 reach the zero score
