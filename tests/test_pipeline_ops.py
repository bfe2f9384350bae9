"""Tests for training-data pipeline operators: blocked-GEMM vs naive
all-pairs cosine, sampling, packing, text cleaning, the schema contract
and the deterministic bench synthesizer (the dedup family is pinned in
test_dedup.py)."""

import pytest
from pyspark.sql import Row, functions as F
from test_dedup import _docs, _pairs

from fsharp_data_validation_spark.operators.similarity import (
    near_dup_pairs,
    near_dup_pairs_blocked,
)


def test_blocked_gemm_equals_naive_pairs(spark):
    import numpy as np

    rng = np.random.default_rng(11)
    base = rng.standard_normal((8, 16))
    vecs = []
    for i in range(40):
        v = base[i % 8] + rng.standard_normal(16) * (0.05 if i % 3 == 0 else 2.0)
        vecs.append(Row(vec_id=i, embedding=[float(x) for x in v]))
    df = spark.createDataFrame(vecs)
    naive = _pairs(near_dup_pairs(df, threshold=0.8))
    blocked = _pairs(near_dup_pairs_blocked(df, threshold=0.8))
    assert naive, "fixture should contain near-dup vector pairs"
    assert naive == blocked


def test_lsh_near_dup_recall(spark):
    """Sign-sketch LSH candidates (scale path) recover a high fraction of
    the exact near-dup pairs, and every reported pair is exact-verified
    (precision 1.0 by construction)."""
    import numpy as np
    from pyspark.sql import Row

    from fsharp_data_validation_spark.operators.similarity import (
        lsh_near_dup_pairs,
        near_dup_pairs,
    )

    rng = np.random.default_rng(5)
    base = rng.standard_normal((10, 64))
    rows = []
    for i in range(120):
        v = base[i % 10] + rng.standard_normal(64) * (0.15 if i % 2 == 0 else 3.0)
        rows.append(Row(vec_id=i, embedding=[float(x) for x in v]))
    df = spark.createDataFrame(rows)
    exact = {(r["id_a"], r["id_b"]) for r in near_dup_pairs(df, threshold=0.8).collect()}
    approx = {
        (r["id_a"], r["id_b"])
        for r in lsh_near_dup_pairs(df, threshold=0.8).collect()
    }
    assert exact, "fixture should contain exact near-dup pairs"
    assert approx <= exact  # verified candidates: no false positives
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.7, recall


def test_ivf_topk_recall(spark):
    """IVF with reduced probing keeps high top-k recall vs brute force; with
    full probing it is exactly brute force (also pinned by the oracle)."""
    import numpy as np
    from pyspark.sql import Row

    from fsharp_data_validation_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
    )

    rng = np.random.default_rng(3)
    base = rng.standard_normal((6, 32)) * 4
    rows = [
        Row(
            vec_id=i,
            embedding=[
                float(x) for x in base[i % 6] + rng.standard_normal(32) * 0.5
            ],
        )
        for i in range(200)
    ]
    df = spark.createDataFrame(rows)
    qs = df.filter(F.col("vec_id") % 40 == 0)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(df, qs, k=5).collect()
    }
    full = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(df, qs, k=5, n_cells=6, n_probe=6).collect()
    }
    assert full == exact  # full probing == brute force
    probed = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(df, qs, k=5, n_cells=6, n_probe=2).collect()
    }
    recall = len(probed & exact) / len(exact)
    assert recall >= 0.8, recall


def test_tdigest_matches_exact_quantiles(spark):
    """The approximate quantiles that replaced the t-digest (the built-in
    ``percentile_approx``, one JVM aggregate) return a one-row DataFrame
    and track the exact interpolated percentiles within 2% on a skewed
    column. Also deterministic across reruns."""
    from fsharp_data_validation_spark.operators.stats import (
        approx_quantiles,
        exact_quantiles,
    )

    df = spark.range(0, 20000, 1, 8).selectExpr("cast(id * id as double) AS v")
    qs = [0.25, 0.5, 0.75, 0.95]
    exact = exact_quantiles(df, "v", qs).collect()[0].asDict()
    out = approx_quantiles(df, "v", qs)
    assert out.columns == [f"q{int(q * 100)}" for q in qs]
    approx = out.collect()[0].asDict()
    for q in qs:
        key = f"q{int(q * 100)}"
        rel = abs(approx[key] - exact[key]) / max(exact[key], 1.0)
        assert rel < 0.02, (key, approx[key], exact[key])
    again = approx_quantiles(df, "v", qs).collect()[0].asDict()
    assert again == approx


def test_synth_transcripts_deterministic(spark):
    from fsharp_data_validation_spark.sources.synth import synth_transcripts

    a = synth_transcripts(spark, 5000, parallelism=4)
    assert a.columns == ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    # deterministic across parallelism levels (the scaling-bench invariant)
    b = synth_transcripts(spark, 5000, parallelism=2)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    # injected violation classes all present
    t = a
    assert t.filter(F.col("text").isNull()).count() > 0
    assert t.filter(F.col("role") == "robot").count() > 0
    assert t.filter(F.col("tool") == "tool_unknown").count() > 0
    dups = (
        t.groupBy("conv_id", "turn_idx").count().filter(F.col("count") > 1).count()
    )
    assert dups > 0
    # hot-key skew: the biggest conversation dwarfs the median
    sizes = t.groupBy("conv_id").count()
    mx = sizes.agg(F.max("count")).first()[0]
    assert mx > 50  # hot conversations concentrate ~1.25% of rows each


def test_hash_split_deterministic(spark):
    from fsharp_data_validation_spark.operators.sampling import hash_split

    docs = _docs(spark)
    s1 = {r["doc_id"]: r["split"] for r in hash_split(docs, "doc_id", 80).collect()}
    s2 = {r["doc_id"]: r["split"] for r in hash_split(docs, "doc_id", 80).collect()}
    assert s1 == s2 and set(s1.values()) <= {"train", "test"}


def test_stratified_sample_exact_k_and_lossless_prefilter(spark):
    """The hash-threshold prefilter must be lossless: output == plain
    per-stratum ROW_NUMBER over the full table. Also pins exact-k and
    the small-stratum keep-all branch."""
    from pyspark.sql import Window
    from fsharp_data_validation_spark.operators.dedup import md5_int
    from fsharp_data_validation_spark.operators.sampling import stratified_sample

    rows = [Row(id=i, s="big") for i in range(500)] + [
        Row(id=1000 + i, s="small") for i in range(3)
    ]
    df = spark.createDataFrame(rows)
    out = stratified_sample(df, "s", "id", k=5)
    got = sorted((r["s"], r["rnk"], r["id"]) for r in out.collect())

    w = Window.partitionBy("s").orderBy(
        md5_int(F.col("id").cast("string"), salt="strat"), F.col("id")
    )
    naive = (
        df.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= 5)
    )
    want = sorted((r["s"], r["rnk"], r["id"]) for r in naive.collect())
    assert got == want
    by_stratum = {}
    for s, _, _ in got:
        by_stratum[s] = by_stratum.get(s, 0) + 1
    assert by_stratum == {"big": 5, "small": 3}  # min(k, n_s) per stratum


def test_time_rollup_grains_consistent(spark):
    """Rollup grains must re-aggregate consistently: day-level totals equal
    the sum of their (day, type) children; grand total equals input size."""
    from fsharp_data_validation_spark.operators.temporal import time_rollup
    from datetime import datetime

    rows = [
        Row(ts=datetime(2026, 1, 1 + d, h), event_type=t, value=float(d * 10 + h))
        for d in range(2)
        for h in (3, 15)
        for t in ("a", "b")
    ]
    df = spark.createDataFrame(rows)
    out = time_rollup(df, "ts", "event_type", "value").collect()
    fine = [r for r in out if r["grp_id"] == 0]
    day = {r["day"]: r for r in out if r["grp_id"] == 1}
    total = [r for r in out if r["grp_id"] == 3]
    assert len(total) == 1 and total[0]["n_events"] == len(rows)
    for d in day:
        kids = [r for r in fine if r["day"] == d]
        assert day[d]["n_events"] == sum(r["n_events"] for r in kids)
        assert abs(day[d]["total_value"] - round(sum(r["total_value"] for r in kids), 2)) < 1e-6


def test_redact_pii_and_repetition_edges(spark):
    """Pins: email + number redaction with counts, NULL text passthrough,
    empty/1-word texts score 0 repetition, fully-repeated text scores
    (n-1)/n duplicated bigrams."""
    from fsharp_data_validation_spark.operators.text import (
        redact_pii,
        repetition_score,
    )

    rows = [
        Row(id=1, text="mail a@b.co and 12345 or 6"),
        Row(id=2, text=None),
        Row(id=3, text=""),
        Row(id=4, text="x x x x x"),      # 4 bigrams, 1 distinct
        Row(id=5, text="one"),
    ]
    df = spark.createDataFrame(rows)
    red = {r["id"]: r for r in redact_pii(df, "id", "text").collect()}
    assert red[1]["clean_text"] == "mail <EMAIL> and <NUM> or <NUM>"
    assert red[1]["n_emails"] == 1 and red[1]["n_nums"] == 2
    assert red[2]["clean_text"] is None and red[2]["n_nums"] == 0

    rep = {r["id"]: r for r in repetition_score(df, "id", "text").collect()}
    assert rep[4]["n_grams"] == 4 and rep[4]["n_distinct"] == 1
    assert rep[4]["rep_ratio"] == 0.75
    assert rep[3]["n_grams"] == 0 and rep[3]["rep_ratio"] == 0.0
    assert rep[5]["n_grams"] == 0
    assert rep[2]["n_grams"] == 0  # NULL text -> empty gram array


def test_pack_context_windows_greedy(spark):
    """Pins the greedy packing recurrence: chunks never exceed the budget
    except a single over-budget turn, which still opens its own chunk;
    NULL text counts 0 tokens, '' counts 1; rn is stable 1-based order."""
    from fsharp_data_validation_spark.operators.text import pack_context_windows

    rows = [
        # c1: 3+3+3 tokens at budget 6 -> chunks [1, 1, 2]
        Row(conv_id="c1", turn_idx=0, text="a b c"),
        Row(conv_id="c1", turn_idx=1, text="d e f"),
        Row(conv_id="c1", turn_idx=2, text="g h i"),
        # c2: over-budget single turn opens chunk 1; next turn opens chunk 2
        Row(conv_id="c2", turn_idx=0, text="t1 t2 t3 t4 t5 t6 t7 t8"),
        Row(conv_id="c2", turn_idx=1, text="x"),
        # c3: NULL is 0 tokens (packs with anything), '' is 1 token
        Row(conv_id="c3", turn_idx=0, text=None),
        Row(conv_id="c3", turn_idx=1, text=""),
        Row(conv_id="c3", turn_idx=2, text="p q r s t u"),
    ]
    df = spark.createDataFrame(rows)
    out = {
        (r["conv_id"], r["rn"]): r
        for r in pack_context_windows(df, "conv_id", "turn_idx", "text", 6).collect()
    }
    assert [out[("c1", i)]["chunk_id"] for i in (1, 2, 3)] == [1, 1, 2]
    assert out[("c2", 1)]["n_tokens"] == 8 and out[("c2", 1)]["chunk_id"] == 1
    assert out[("c2", 2)]["chunk_id"] == 2
    # c3: 0 + 1 = 1 <= 6 so first two pack together; 1 + 6 > 6 -> new chunk
    assert out[("c3", 1)]["n_tokens"] == 0
    assert out[("c3", 2)]["n_tokens"] == 1
    assert [out[("c3", i)]["chunk_id"] for i in (1, 2, 3)] == [1, 1, 2]
    assert all(r["turn_idx"] == r["rn"] - 1 for r in out.values())


def test_chunk_text_sliding_windows(spark):
    """Pins: short doc -> one chunk, overlap by width-stride tokens, tail
    chunk short but present (every token covered), NULL text -> no chunks,
    '' -> one 1-token chunk; plan stays shuffle-free (row-local explode)."""
    from fsharp_data_validation_spark.operators.text import chunk_text

    toks = [f"t{j}" for j in range(1, 37)]
    rows = [
        Row(id=1, text="a b c"),          # 3 toks, w=16 -> 1 chunk
        Row(id=2, text=" ".join(toks)),   # 36 toks, w=16 s=8 -> starts 0,8,16,24
        Row(id=3, text=None),
        Row(id=4, text=""),
    ]
    df = spark.createDataFrame(rows)
    out = chunk_text(df, "id", "text")
    got = {(r["id"], r["chunk_idx"]): r for r in out.collect()}

    assert got[(1, 0)]["chunk_text"] == "a b c" and got[(1, 0)]["n_chunk_tokens"] == 3
    assert sum(1 for k in got if k[0] == 1) == 1
    # doc 2: ceil((36-16)/8)+1 = 4 chunks at starts 0,8,16,24
    starts = [got[(2, i)]["start_tok"] for i in range(4)]
    assert starts == [0, 8, 16, 24]
    assert got[(2, 0)]["chunk_text"] == " ".join(toks[0:16])
    assert got[(2, 1)]["chunk_text"] == " ".join(toks[8:24])   # overlap = 8
    assert got[(2, 3)]["chunk_text"] == " ".join(toks[24:])    # short tail
    assert got[(2, 3)]["n_chunk_tokens"] == 12
    # every token covered
    covered = set()
    for i in range(4):
        covered |= set(got[(2, i)]["chunk_text"].split(" "))
    assert covered == set(toks)
    assert not any(k[0] == 3 for k in got)                  # NULL -> none
    assert got[(4, 0)]["n_chunk_tokens"] == 1               # '' = one empty token
    assert "Exchange" not in out._jdf.queryExecution().executedPlan().toString()


def test_quota_and_temperature_sampling(spark):
    """Pins: rate 0 keeps nothing / 1 keeps everything / fraction ~rate;
    temperature tau<1 up-weights the tail group (its keep_rate hits the
    min(1,.) cap while the head is downsampled); determinism across calls."""
    from fsharp_data_validation_spark.operators.sampling import (
        quota_sample,
        temperature_sample,
    )

    df = spark.range(0, 2000).selectExpr(
        "id", "CASE WHEN id % 100 = 0 THEN 'tail' ELSE 'head' END AS grp"
    )
    kept = quota_sample(df, "grp", "id", {"head": 0.5, "tail": 1.0})
    by = {r["grp"]: r["n"] for r in kept.groupBy("grp").agg(F.count("*").alias("n")).collect()}
    assert by["tail"] == 20                      # rate 1.0 keeps all
    assert 850 <= by["head"] <= 1130             # ~0.5 of 1980
    assert quota_sample(df, "grp", "id", {"head": 0.0, "tail": 0.0}).count() == 0
    assert kept.collect() == quota_sample(
        df, "grp", "id", {"head": 0.5, "tail": 1.0}
    ).collect()                                  # deterministic

    ts = temperature_sample(df, "grp", "id")  # tau 0.7, target 0.8 * N
    rates = {r["grp"]: r["keep_rate"] for r in ts.select("grp", "keep_rate").distinct().collect()}
    # w_tail/n_tail >> w_head/n_head at tau=0.7: tail rate capped at 1
    assert rates["tail"] == 1.0
    assert rates["head"] < 0.8
    n_kept = ts.count()
    assert abs(n_kept - 0.8 * 2000) < 200        # expected ~0.8 * N


def test_encoding_quality_signals(spark):
    """Pins: U+FFFD counted as mojibake, C0 controls counted (tab/newline
    exempt), ASCII ratio, NULL text -> NULL metrics, '' -> ratio NULL."""
    from fsharp_data_validation_spark.operators.text import encoding_quality

    rows = [
        Row(id=1, text="ok plain ascii"),
        Row(id=2, text="bad �� mojibake"),
        Row(id=3, text="ctrl\x01\x02 but tab\t and nl\n fine"),
        Row(id=4, text="café 中文"),   # 3 non-ascii of 7 chars
        Row(id=5, text=None),
        Row(id=6, text=""),
    ]
    out = {r["id"]: r for r in encoding_quality(
        spark.createDataFrame(rows), "id", "text").collect()}
    assert out[1]["n_repl"] == 0 and out[1]["ascii_ratio"] == 1.0
    assert out[2]["n_repl"] == 2
    assert out[3]["n_ctrl"] == 2                    # \t and \n not counted
    assert out[4]["n_chars"] == 7 and out[4]["ascii_ratio"] == 0.5714
    assert out[5]["n_chars"] is None and out[5]["ascii_ratio"] is None
    assert out[6]["n_chars"] == 0 and out[6]["ascii_ratio"] is None


def test_pack_windows_state_carries_across_arrow_batches(spark):
    """A conversation split across Arrow batches must pack identically to
    the single-batch run (mapInPandas carries (conv, chunk, acc, rn) state
    across batch boundaries)."""
    from fsharp_data_validation_spark.operators.text import pack_context_windows

    rows = [Row(conv_id="only", turn_idx=i, text="a b c") for i in range(50)]
    df = spark.createDataFrame(rows).coalesce(1)
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
        got = pack_context_windows(df, "conv_id", "turn_idx", "text", 7).collect()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    want = pack_context_windows(df, "conv_id", "turn_idx", "text", 7).collect()
    key = lambda r: (r["conv_id"], r["rn"])  # noqa: E731
    assert sorted(got, key=key) == sorted(want, key=key)
    # budget 7, 3 tokens/turn -> 2 turns per chunk -> 25 chunks
    assert max(r["chunk_id"] for r in got) == 25


def test_global_shuffle_contiguous_and_plan(spark):
    """Bucketed global rank: ranks are exactly 1..N with no gaps, equal the
    naive single-window form, deterministic across calls, and the plan
    contains no single-partition global Sort (the scale hazard)."""
    from fsharp_data_validation_spark.operators.sampling import global_shuffle

    df = spark.range(0, 3000).withColumnRenamed("id", "doc_id")
    out = global_shuffle(df, "doc_id")
    ranks = [r["rank"] for r in out.select("rank").collect()]
    assert sorted(ranks) == list(range(1, 3001))
    naive = df.selectExpr(
        "doc_id",
        "CAST(ROW_NUMBER() OVER (ORDER BY "
        "CAST(conv(substring(md5(concat('shuffle','|',CAST(doc_id AS STRING))),1,15),16,10) AS BIGINT), "
        "doc_id) AS BIGINT) AS rank",
    )
    lhs = {(r["doc_id"], r["rank"]) for r in out.select("doc_id", "rank").collect()}
    rhs = {(r["doc_id"], r["rank"]) for r in naive.collect()}
    assert lhs == rhs
    # no global single-partition sort: every Sort in the plan is non-global
    plan = out._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "Sort [" in line:
            # Spark prints "Sort [keys], <global>, 0" — require non-global
            assert "], false, 0" in line, line


def test_schema_contract_report_and_conform(spark):
    """Pins the schema-contract component: every violation class is
    detected; conform_schema reorders + widens + drops extras, raises on
    missing columns and non-widening casts, and the conformed frame
    matches the contract exactly."""
    import pytest
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from fsharp_data_validation_spark.functions.schema_contract import (
        conform_schema,
        schema_violations,
    )

    contract = StructType(
        [
            StructField("a", IntegerType(), nullable=False),
            StructField("b", StringType(), nullable=True),
            StructField("c", DoubleType(), nullable=True),
        ]
    )
    actual = StructType(
        [
            StructField("c", IntegerType(), nullable=True),   # widenable
            StructField("a", IntegerType(), nullable=True),   # nullability
            StructField("x", LongType(), nullable=True),      # extra
        ]
    )
    got = {v["column"]: v["status"] for v in schema_violations(actual, contract)}
    assert got == {"a": "nullability", "b": "missing", "c": "type_mismatch", "x": "extra"}

    df = spark.createDataFrame([(1, 2, 3)], "c INT, a INT, x BIGINT")
    with pytest.raises(ValueError, match="missing column b"):
        conform_schema(df, contract)
    df2 = spark.createDataFrame([("s", 1, 2)], "b STRING, a INT, c INT")
    out = conform_schema(df2, contract)
    assert [f.name for f in out.schema.fields] == ["a", "b", "c"]
    assert out.schema["c"].dataType.simpleString() == "double"
    # an extra column drops (schema_violations reports it, above)
    extra = conform_schema(
        spark.createDataFrame([(1, "s", 1.0, 9)], "a INT, b STRING, c DOUBLE, z INT"),
        contract,
    )
    assert extra.columns == ["a", "b", "c"]
    with pytest.raises(ValueError, match="cannot conform"):
        conform_schema(
            spark.createDataFrame([("s", "s", 1.0)], "a STRING, b STRING, c DOUBLE"),
            contract,
        )


def test_dedup_lines_first_occurrence(spark):
    """Line dedup keeps FIRST occurrences in order, counts removals,
    passes unique text through unchanged, and propagates NULL."""
    from fsharp_data_validation_spark.operators.text import dedup_lines

    rows = [
        Row(id=1, text="a\nb\na\nc\nb\na"),
        Row(id=2, text="only\nunique\nlines"),
        Row(id=3, text=None),
        Row(id=4, text=""),
    ]
    out = {r["id"]: r for r in dedup_lines(
        spark.createDataFrame(rows), "id", "text").collect()}
    assert out[1]["clean_text"] == "a\nb\nc"
    assert out[1]["n_lines"] == 6 and out[1]["n_dupe_lines"] == 3
    assert out[2]["clean_text"] == "only\nunique\nlines"
    assert out[2]["n_dupe_lines"] == 0
    assert out[3]["clean_text"] is None and out[3]["n_lines"] is None
    assert out[4]["clean_text"] == "" and out[4]["n_lines"] == 1


def test_pack_windows_fuzz_vs_python_reference(spark):
    """Seeded structural fuzz: random corpora (duplicate turn indexes,
    NULL/empty texts, over-budget turns, many conversations) packed by the
    Spark operator must equal an independent pure-Python implementation of
    the greedy recurrence."""
    import random

    from fsharp_data_validation_spark.operators.text import pack_context_windows

    rng = random.Random(42)
    for trial in range(4):
        budget = rng.choice([1, 5, 16])
        rows = []
        for c in range(rng.randint(1, 8)):
            for t in range(rng.randint(1, 25)):
                r = rng.random()
                if r < 0.1:
                    text = None
                elif r < 0.2:
                    text = ""
                else:
                    text = " ".join("w" for _ in range(rng.randint(1, 24)))
                # ~20% duplicated turn_idx to exercise the (turn_idx, text)
                # tiebreak
                idx = t if rng.random() > 0.2 else max(0, t - 1)
                rows.append((f"c{c}", idx, text))
        df = spark.createDataFrame(rows, "conv_id STRING, turn_idx INT, text STRING")

        want = []
        by_conv = {}
        for conv, idx, text in rows:
            by_conv.setdefault(conv, []).append((idx, text))
        for conv, turns in by_conv.items():
            turns.sort(key=lambda p: (p[0], p[1] if p[1] is not None else ""))
            chunk, acc = 1, 0
            for rn, (idx, text) in enumerate(turns, 1):
                n = 0 if text is None else len(text.split(" "))
                if acc > 0 and acc + n > budget:
                    chunk, acc = chunk + 1, n
                else:
                    acc += n
                want.append((conv, rn, idx, n, chunk))

        got = sorted(
            tuple(r)
            for r in pack_context_windows(df, "conv_id", "turn_idx", "text", budget)
            .collect()
        )
        assert got == sorted(want), f"trial {trial} budget {budget}"


def test_replicate_sample_expected_copies(spark):
    """Upsampling: integer factor replicates exactly; fractional factor
    replicates floor(f) + Bernoulli(frac) with expectation ~f; factor 0
    drops the group; copy_idx enumerates 1..k; deterministic."""
    from fsharp_data_validation_spark.operators.sampling import replicate_sample

    df = spark.range(0, 3000).selectExpr(
        "id", "CASE WHEN id % 3 = 0 THEN 'a' WHEN id % 3 = 1 THEN 'b' ELSE 'c' END AS grp"
    )
    out = replicate_sample(df, "grp", "id", {"a": 3.0, "b": 1.5, "c": 0.0})
    by = {r["grp"]: r["n"] for r in out.groupBy("grp").agg(F.count("*").alias("n")).collect()}
    assert by["a"] == 3000                       # exactly 3x 1000 rows
    assert 1350 <= by["b"] <= 1650               # ~1.5x 1000
    assert "c" not in by
    idxs = sorted(
        r["copy_idx"]
        for r in out.filter("grp = 'a' AND id = 0").collect()
    )
    assert idxs == [1, 2, 3]
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, replicate_sample(df, "grp", "id", {"a": 3.0, "b": 1.5, "c": 0.0}).collect())
    )


def test_mixture_report_shares_sum_to_one(spark):
    """Mixture report: per-group token counts are exact, shares sum to ~1,
    NULL text counts 0 tokens."""
    from fsharp_data_validation_spark.operators.text import mixture_report

    rows = [
        Row(lang="en", src="web", text="a b c"),
        Row(lang="en", src="web", text="d e"),
        Row(lang="fr", src="book", text="x"),
        Row(lang="fr", src="book", text=None),
    ]
    out = {
        (r["lang"], r["src"]): r
        for r in mixture_report(
            spark.createDataFrame(rows), ["lang", "src"]
        ).collect()
    }
    assert out[("en", "web")]["n_tokens"] == 5
    assert out[("fr", "book")]["n_docs"] == 2
    assert out[("fr", "book")]["n_tokens"] == 1
    assert abs(sum(r["token_share"] for r in out.values()) - 1.0) < 1e-6
    assert out[("en", "web")]["token_share"] == round(5 / 6, 6)


def test_schema_violations_fuzz_partition_property():
    """Hypothesis fuzz (pure Python, no Spark): for random actual/expected
    schema pairs, the report covers every expected column exactly once plus
    every extra actual column; an all-ok report implies identical
    name->type mapping with no nullability relaxations."""
    from hypothesis import given, settings
    from hypothesis import strategies as st
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    from fsharp_data_validation_spark.functions.schema_contract import (
        schema_violations,
    )

    types = st.sampled_from([IntegerType(), StringType(), DoubleType()])
    field = st.tuples(st.sampled_from("abcdef"), types, st.booleans())

    def mk(fields):
        seen, out = set(), []
        for name, t, nullable in fields:
            if name not in seen:
                seen.add(name)
                out.append(StructField(name, t, nullable))
        return StructType(out)

    @settings(max_examples=200, deadline=None)
    @given(st.lists(field, max_size=6), st.lists(field, max_size=6))
    def check(actual_fields, expected_fields):
        actual, expected = mk(actual_fields), mk(expected_fields)
        report = schema_violations(actual, expected)
        exp_names = {f.name for f in expected.fields}
        act_names = {f.name for f in actual.fields}
        assert [v["column"] for v in report if v["status"] != "extra"] == [
            f.name for f in expected.fields
        ]
        assert {v["column"] for v in report if v["status"] == "extra"} == (
            act_names - exp_names
        )
        assert {v["column"] for v in report if v["status"] == "missing"} == (
            exp_names - act_names
        )
        if all(v["status"] == "ok" for v in report):
            assert act_names == exp_names
            for f in expected.fields:
                a = actual[f.name]
                assert a.dataType == f.dataType
                assert f.nullable or not a.nullable

    check()
