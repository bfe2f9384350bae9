"""The dedup family (``operators/dedup.py``) and decontamination
(``operators/contamination.py``): exact, prefix-filtered Jaccard, MinHash-LSH
and SimHash pair finders against each other and their all-pairs forms,
containment, the star-contraction components and their size histogram,
conversation digests, span removal and the NULL-safe ``md5_int`` key hash.
Semantics pinned on hand-built fixtures; the sf0.01 DuckDB oracles cover
the derived-table scale."""

from pyspark.sql import Row, functions as F

from fsharp_data_validation_spark.operators.dedup import (
    exact_duplicates,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
)


def _docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        Row(doc_id=1, text=base),
        Row(doc_id=2, text=base),  # exact dup of 1
        Row(doc_id=3, text=base + " tail"),  # near dup of 1/2
        Row(doc_id=4, text="completely different words in this sentence here"),
        Row(doc_id=5, text="short text"),  # < 3 words after split? no: 2 words
        Row(doc_id=6, text=base.replace("fox", "cat")),
    ]
    return spark.createDataFrame(rows)


def _pairs(df):
    return sorted((r["id_a"], r["id_b"], r["sim"]) for r in df.collect())


def test_exact_duplicates(spark):
    got = exact_duplicates(_docs(spark), "doc_id", "text").collect()
    assert len(got) == 1
    assert got[0]["n_dups"] == 2 and got[0]["min_id"] == 1


def test_prefix_jaccard_equals_lsh(spark):
    docs = _docs(spark)
    exact = _pairs(ngram_jaccard_pairs(docs, "doc_id", "text", 0.8))
    lsh = _pairs(minhash_lsh_pairs(docs, "doc_id", "text"))
    assert exact, "fixture should contain near-dup pairs"
    assert (1, 2, 1.0) in exact
    assert exact == lsh  # high-recall banding -> identical verified output


def test_prefix_jaccard_keeps_a_pair_at_the_threshold(spark):
    """A pair at exactly J = t survives the AllPairs prefix: 10 and 8
    shingles sharing 8 (J = 0.8). The 10-shingle set's prefix is
    10 - ceil(0.8 * 10) + 1 = 3 shingles; its two unshared shingles are the
    rarest, so a prefix one shingle short (the float form
    ``floor((1 - 0.8) * 10) + 1`` is 2) misses the pair."""
    words = [f"w{i}" for i in range(12)]
    docs = spark.createDataFrame(
        [Row(doc_id=1, text=" ".join(words)), Row(doc_id=2, text=" ".join(words[:10]))]
    )
    want = [(1, 2, 0.8)]
    assert _pairs(minhash_lsh_pairs(docs, "doc_id", "text")) == want
    assert _pairs(ngram_jaccard_pairs(docs, "doc_id", "text", 0.8)) == want


def test_simhash_banded_equals_allpairs(spark):
    """Pigeonhole banding loses nothing: banded candidates + verify produce
    exactly the all-pairs result."""
    from fsharp_data_validation_spark.operators.dedup import (
        simhash_banded_pairs,
        simhash_pairs,
    )

    docs = _docs(spark)
    allp = sorted(map(tuple, simhash_pairs(docs, "doc_id", "text", 3).collect()))
    banded = sorted(map(tuple, simhash_banded_pairs(docs, "doc_id", "text").collect()))
    assert allp and allp == banded


def test_simhash_skew_guard_output_unchanged(spark, monkeypatch):
    """A _BUCKET_CAP small enough to force EVERY bucket through the
    sub-banding fallback must still produce the exact all-pairs result
    (pigeonhole on the complement bits loses nothing), as must one larger
    than any bucket (no fallback), on a corpus with a dominant template
    (boilerplate prefix + small mutations) that drags signatures into
    shared chunk buckets."""
    from pyspark.sql import Row

    from fsharp_data_validation_spark.operators import dedup
    from fsharp_data_validation_spark.operators.dedup import (
        simhash_banded_pairs,
        simhash_pairs,
    )

    template = " ".join(f"boiler{i}" for i in range(40))
    rows = [
        Row(doc_id=i, text=f"{template} tail{i % 7} extra{i % 3} uniq{i // 9}")
        for i in range(120)
    ] + [Row(doc_id=200 + i, text=f"free text body {i} alpha beta") for i in range(20)]
    docs = spark.createDataFrame(rows)
    allp = sorted(map(tuple, simhash_pairs(docs, "doc_id", "text", 3).collect()))
    monkeypatch.setattr(dedup, "_BUCKET_CAP", 5)
    guarded = sorted(map(tuple, simhash_banded_pairs(docs, "doc_id", "text").collect()))
    monkeypatch.setattr(dedup, "_BUCKET_CAP", len(rows) + 1)
    unguarded = sorted(map(tuple, simhash_banded_pairs(docs, "doc_id", "text").collect()))
    assert allp, "fixture should contain near-dup pairs"
    assert guarded == allp == unguarded


def test_minhash_signatures_are_per_seed_min_xxhash64(spark):
    """``minhash_signatures`` gives each doc 32 columns ``mh_i`` =
    min over its shingle set of ``xxhash64(i, shingle)``, and distinct
    seeds give distinct columns (guards the pyspark higher-order-function
    arity trap: a two-arg lambda binds (element, index), so a default-arg
    seed capture silently degrades every column to the same hash)."""
    from fsharp_data_validation_spark.operators.dedup import (
        _shingle_sets,
        minhash_signatures,
    )

    k = 32
    sets_df = _shingle_sets(_docs(spark), "doc_id", "text")
    sigs = minhash_signatures(sets_df)
    assert sigs.columns == ["doc_id"] + [f"mh_{i}" for i in range(k)]
    new = {r["doc_id"]: [r[f"mh_{i}"] for i in range(k)] for r in sigs.collect()}
    ex = sets_df.select("doc_id", F.explode("sh").alias("x"))
    old = {
        r["doc_id"]: [r[f"m{i}"] for i in range(k)]
        for r in ex.groupBy("doc_id")
        .agg(
            *[
                F.min(F.xxhash64(F.lit(i), F.col("x"))).alias(f"m{i}")
                for i in range(k)
            ]
        )
        .collect()
    }
    assert new == old
    for sig in new.values():
        assert len(set(sig)) > 1, "seeds collapsed: every min-hash identical"


def test_near_dup_components_and_keep_first(spark):
    from fsharp_data_validation_spark.operators.dedup import (
        dedup_keep_first,
        near_dup_components,
    )

    docs = _docs(spark)
    comp = {
        r["doc_id"]: r["component"]
        for r in near_dup_components(docs, "doc_id", "text").collect()
    }
    # docs 1,2 are exact dups, 3 a near dup of both (J = 10/11) at the 0.8
    # threshold -> one cluster labeled by the smallest id; 6 shares 7 of 13
    # shingles with them (J = 0.54), so it stays apart
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[4] == 4 and comp[5] == 5 and comp[6] == 6  # singletons label themselves
    assert len(comp) == docs.count()

    kept = sorted(
        r["doc_id"] for r in dedup_keep_first(docs, "doc_id", "text").collect()
    )
    # only the exact-dup pair collapses (1 kept, 2 dropped)
    assert kept == [1, 3, 4, 5, 6]


def test_conversation_digests_dup_and_flow(spark):
    """Two text-identical conversations share text_digest (keeper = min
    conv_id); a template-identical-but-different-text conversation shares
    only flow_digest. Turn order must not matter (digest sorts by turn_idx)."""
    from fsharp_data_validation_spark.operators.dedup import conversation_digests

    def conv(cid, turns, shuffle=False):
        ts = list(turns)
        if shuffle:
            ts = ts[::-1]
        return [
            Row(conv_id=cid, turn_idx=i, role=r, text=t, tool=tool)
            for (i, r, t, tool) in ts
        ]

    base = [(0, "user", "hi", None), (1, "assistant", "hello", None),
            (2, "tool", None, "tool_1")]
    rows = (
        conv("c1", base)
        + conv("c2", base, shuffle=True)          # same text, rows unordered
        + conv("c3", [(0, "user", "yo", None), (1, "assistant", "sup", None),
                      (2, "tool", None, "tool_1")])  # same flow, different text
    )
    out = {r["conv_id"]: r for r in conversation_digests(spark.createDataFrame(rows)).collect()}
    assert out["c1"]["text_digest"] == out["c2"]["text_digest"]
    assert out["c1"]["text_digest"] != out["c3"]["text_digest"]
    assert out["c1"]["flow_digest"] == out["c3"]["flow_digest"]
    assert out["c1"]["n_same_text"] == 2 and out["c3"]["n_same_text"] == 1
    assert out["c1"]["n_same_flow"] == 3
    assert out["c2"]["keep_conv_id"] == "c1"


def test_star_components_equal_propagation_and_handle_chains(spark):
    """large-star/small-star CC must converge on a long chain (diameter
    1000) in logarithmic rounds where plain propagation would need 1000,
    and label each clique by its minimum node."""
    from fsharp_data_validation_spark.operators.dedup import (
        connected_components_star,
    )

    # long chain 0-1-2-...-1000 plus two small cliques
    chain = [(i, i + 1) for i in range(1000)]
    cliques = [(2000, 2001), (2001, 2002), (3000, 3001)]
    edges = spark.createDataFrame(chain + cliques, ["u", "v"])
    got = {
        r["node"]: r["component"]
        for r in connected_components_star(edges).collect()
    }
    assert all(got[i] == 0 for i in range(1001))
    assert got[2000] == got[2001] == got[2002] == 2000
    assert got[3000] == got[3001] == 3000


def test_contamination_cross_corpus_only(spark):
    """Decontamination: cross-corpus near-dups are reported, within-corpus
    dups are NOT; containment is 1.0 for a leaked doc, 0.0 for a fresh one,
    partial for a half-overlapping one."""
    from fsharp_data_validation_spark.operators.contamination import (
        cross_contamination_pairs,
        ngram_containment,
    )

    leaked = "alpha beta gamma delta epsilon zeta eta theta"
    train = spark.createDataFrame(
        [
            Row(doc_id=1, text=leaked),
            Row(doc_id=2, text=leaked),  # within-train dup: must NOT appear
            Row(doc_id=3, text="one two three four five six seven eight"),
        ]
    )
    ev = spark.createDataFrame(
        [
            Row(doc_id=100, text=leaked),                      # exact leak
            Row(doc_id=101, text="totally fresh eval words here now ok"),
            Row(doc_id=102, text="alpha beta gamma delta nine ten"),  # partial
        ]
    )
    pairs = {
        (r["train_id"], r["eval_id"]): r["sim"]
        for r in cross_contamination_pairs(train, ev, "doc_id", "text").collect()
    }
    assert (1, 100) in pairs and pairs[(1, 100)] == 1.0
    assert (2, 100) in pairs
    assert all(t in (1, 2, 3) and e in (100, 101, 102) for t, e in pairs)

    cont = {
        r["eval_id"]: r for r in ngram_containment(train, ev, "doc_id", "text").collect()
    }
    assert cont[100]["containment"] == 1.0
    assert cont[101]["containment"] == 0.0
    # doc 102: 4 trigrams, 2 present in train ("alpha beta gamma",
    # "beta gamma delta")
    assert cont[102]["n_grams"] == 4 and cont[102]["n_hit"] == 2
    assert cont[102]["containment"] == 0.5


def test_containment_catches_snippet_jaccard_misses(spark):
    """A short snippet quoted inside a long doc has containment 1.0 but
    tiny Jaccard: containment_dedup_pairs reports it (oriented small->big),
    ngram_jaccard_pairs at the same threshold does not; unrelated docs are
    absent; exact dups orient by id."""
    from fsharp_data_validation_spark.operators.dedup import (
        containment_dedup_pairs,
        ngram_jaccard_pairs,
    )

    snippet = "alpha beta gamma delta epsilon"
    long_doc = " ".join(f"w{i}" for i in range(60)) + " " + snippet + " " + " ".join(
        f"v{i}" for i in range(60)
    )
    rows = [
        Row(doc_id=1, text=snippet),
        Row(doc_id=2, text=long_doc),
        Row(doc_id=3, text="totally unrelated words here in this doc"),
        Row(doc_id=4, text=snippet),   # exact dup of 1
    ]
    df = spark.createDataFrame(rows)
    cont = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in containment_dedup_pairs(df, "doc_id", "text").collect()
    }
    assert cont[(1, 2)] == 1.0          # snippet contained in long doc
    assert cont[(4, 2)] == 1.0
    assert cont[(1, 4)] == 1.0          # equal sizes -> id order
    assert all(3 not in k for k in cont)
    jac = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(df, "doc_id", "text", 0.8).collect()
    }
    assert (1, 2) not in jac            # Jaccard blind to containment
    assert (1, 4) in jac


def test_cluster_size_histogram(spark):
    from fsharp_data_validation_spark.operators.dedup import cluster_size_histogram

    comp = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 5), (6, 5)],
        "doc_id int, component int",
    )
    got = {r["cluster_size"]: r for r in cluster_size_histogram(comp).collect()}
    assert got[3]["n_clusters"] == 1 and got[3]["n_docs"] == 3
    assert got[2]["n_clusters"] == 1 and got[2]["n_docs"] == 2
    assert got[1]["n_clusters"] == 1 and got[1]["n_docs"] == 1


def test_span_dedup_semantics(spark):
    """ExactSubstr span removal (operators/dedup.py:span_dedup) pins, at
    gram_len=4: cross-doc keep-earliest (the lexicographically-first
    (doc_id, start) occurrence keeps its text), in-doc repeats (second
    occurrence spliced), short docs untouched, a whole-doc exact copy
    reduced to '' (not NULL), NULL text passed through as NULL with zero
    counts, and overlapping dup grams removed as a coverage UNION (not
    double-counted)."""
    from fsharp_data_validation_spark.operators.dedup import span_dedup

    d1 = "a1 a2 a3 a4 a5 a6"
    d2 = "b1 b2 a1 a2 a3 a4 b3"
    d3 = "c1 c2 c3 c4 x c1 c2 c3 c4"
    d4 = "d1 d2 d3"
    df = spark.createDataFrame(
        [(1, d1), (2, d2), (3, d3), (4, d4), (5, d1), (6, None)],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r for r in span_dedup(df, "doc_id", "text", 4).collect()}

    # owner doc keeps its text verbatim
    assert out[1]["text_clean"] == d1 and out[1]["n_removed"] == 0
    assert out[1]["n_dup_grams"] == 0 and out[1]["n_tokens"] == 6

    # cross-doc: doc2's copy of "a1 a2 a3 a4" spliced out
    assert out[2]["text_clean"] == "b1 b2 b3"
    assert out[2]["n_dup_grams"] == 1 and out[2]["n_removed"] == 4

    # in-doc repeat: second "c1 c2 c3 c4" run removed, first kept
    assert out[3]["text_clean"] == "c1 c2 c3 c4 x"
    assert out[3]["n_dup_grams"] == 1 and out[3]["n_removed"] == 4

    # shorter than gram_len: untouched, no grams at all
    assert out[4]["text_clean"] == d4 and out[4]["n_removed"] == 0

    # exact whole-doc copy: every gram duplicated, coverage is the UNION of
    # the 3 overlapping spans = all 6 tokens (not 3*4), clean is '' not NULL
    assert out[5]["n_dup_grams"] == 3 and out[5]["n_removed"] == 6
    assert out[5]["text_clean"] == ""

    # NULL text: passed through, zero counts, NULL clean
    assert out[6]["n_tokens"] == 0 and out[6]["n_removed"] == 0
    assert out[6]["text_clean"] is None


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
