"""Round-4 operator tests: ADVICE fixes (manifest legacy-pin grace, Check
name validation) and the new round-4 surface (BPE-ish tokenizer kernel);
the similarity pins are in test_similarity.py, the salted sessionize/as-of
join pins in test_temporal.py."""

import os

import pytest


# -- manifest legacy-pin grace ------------------------------------------------


def test_manifest_legacy_global_pin_not_drifted(spark, tmp_path):
    """A manifest written before per-partition pins existed recorded the
    table-global pin on every entry. Resuming over an UNCHANGED
    hive-partitioned input must not flag those entries as drifted
    (ADVICE r3: plans/manifest.py drifted_partitions)."""
    import json

    from pyspark.sql import functions as F

    from fsharp_data_validation_spark.operators.transcript_suite import (
        transcript_row_suite,
    )
    from fsharp_data_validation_spark.plans.manifest import (
        ValidationRun,
        parquet_snapshot,
    )
    from fsharp_data_validation_spark.sources.synth import synth_transcripts

    src = str(tmp_path / "legacy_src")
    out = str(tmp_path / "legacy_out")
    df = synth_transcripts(spark, 200, parallelism=2).withColumn(
        "part", (F.crc32(F.col("conv_id")) % 3).cast("string")
    )
    df.write.mode("overwrite").partitionBy("part").parquet(src)

    def mk(**kw):
        return ValidationRun(
            transcript_row_suite(),
            out,
            ["conv_id", "turn_idx"],
            "part",
            input_path=src,
            **kw,
        )

    run = mk()
    assert run.partition_snapshots  # hive layout detected -> per-partition pins
    run.run(spark.read.parquet(src))
    assert mk().drifted_partitions() == []

    # simulate a LEGACY manifest: rewrite every entry's pin to the global pin
    global_pin = parquet_snapshot(src)
    for name in os.listdir(run.manifest_dir):
        p = os.path.join(run.manifest_dir, name)
        with open(p) as f:
            doc = json.load(f)
        doc["input_snapshot"] = global_pin
        with open(p, "w") as f:
            json.dump(doc, f)

    # unchanged input: grace applies, clean no-op resume (no SnapshotDriftError)
    resumed = mk()  # default on_drift='error'
    assert resumed.drifted_partitions() == []
    assert resumed.run(spark.read.parquet(src)) == []

    # a genuine change still drifts legacy entries — ALL of them, since a
    # table-global pin cannot localize the change (conservative fallback)
    one_part = os.path.join(src, "part=0")
    data_files = [
        n for n in os.listdir(one_part) if not n.startswith((".", "_"))
    ]
    os.utime(os.path.join(one_part, data_files[0]))  # mtime bump -> new pin
    assert mk().drifted_partitions() == ["0", "1", "2"]

    # re-pin with per-partition pins (revalidate), then change ONE partition:
    # drift is now exact — only the rewritten partition is flagged
    mk(on_drift="revalidate").run(spark.read.parquet(src))
    assert mk().drifted_partitions() == []
    os.utime(os.path.join(one_part, data_files[0]))
    assert mk().drifted_partitions() == ["0"]


# -- Check name validation ----------------------------------------------------


def test_check_name_charset_validated():
    from pyspark.sql import functions as F

    from fsharp_data_validation_spark.operators.checks import Check, completeness

    Check("ok_name-1.x", completeness("text"), ">=", 0.9)  # fine
    for bad in ("bad'name", "", "semi;colon", 'dq"uote', "new\nline"):
        with pytest.raises(ValueError):
            Check(bad, F.count(F.lit(1)), ">=", 0.0)


# -- BPE-style subword tokenizer ----------------------------------------------


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


def test_bpe_vocab_rejects_unsafe_pieces():
    import pytest as _pytest

    from fsharp_data_validation_spark.operators.text import bpe_pattern

    with _pytest.raises(ValueError):
        bpe_pattern(["ok", "bad|piece"])
    with _pytest.raises(ValueError):
        bpe_pattern(["Upper"])


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


def test_context_budget_bpe(spark):
    from datetime import datetime

    from fsharp_data_validation_spark.operators.crossrow import (
        context_budget_violations,
    )
    from fsharp_data_validation_spark.operators.text import bpe_token_count_col

    ts = datetime(2024, 1, 1)
    rows = [
        ("c1", 0, "user", "the table scan", None, ts),
        ("c1", 1, "assistant", "tablescan queueing overflow", None, ts),
        ("c1", 2, "user", "x", None, ts),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    ns = [
        r["n"]
        for r in df.orderBy("turn_idx")
        .select(bpe_token_count_col("text").alias("n"))
        .collect()
    ]
    budget = ns[0] + ns[1]  # third turn crosses the line
    out = context_budget_violations(df, budget=budget, tokenizer="bpe").collect()
    assert [(r["turn_idx"], r["cum_tokens"]) for r in out] == [
        (2, ns[0] + ns[1] + ns[2])
    ]


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
