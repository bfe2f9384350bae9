"""Deduplication operators for training-data pipelines: exact (hash-groupBy),
n-gram Jaccard, MinHash+LSH (shingle -> minhash -> band -> bucket-join),
SimHash. All expressed in DataFrame ops with portable md5-derived hashing —
zero Python UDFs, so the hot path stays in whole-stage codegen.

Scale design (the reason these shapes were chosen):
- exact: one hash aggregation on the content digest — map-side combine, one
  shuffle, no skew (digests are uniform).
- ngram-Jaccard: exact pairs via shingle-inverted-index self-join. This is
  the *oracle* path; cost is sum over shingles of c^2 — acceptable only when
  shingle frequencies are bounded. At 100 TB you run MinHash-LSH instead and
  verify candidates exactly (candidates << all pairs).
- MinHash-LSH: per-doc signatures in ONE codegen'd hash aggregation over
  exploded shingles (k min-aggregates; map-side partial agg collapses to
  one signature row per doc before the exchange), band keys -> bucket join
  on (band, key) -> exact verify. Bands/rows set so P[miss] at the target
  similarity is negligible (16 bands x 2 rows: P[catch s=0.9] =
  1-(1-0.81)^16 ≈ 1-1e-12). Row-local higher-order-function variants were
  measured and rejected — HOF lambdas run interpreted, outside codegen
  (see minhash_signatures docstring).
- SimHash: 60-bit signature from word hashes via 60 conditional sums in one
  codegen'd aggregation; pairs by hamming distance, with the banded variant
  giving the exact sub-quadratic candidate step at scale (same bucket-join
  pattern as LSH).

Every bucket join — the Jaccard prefix index, the MinHash bands, the
SimHash signatures and chunks, and ``similarity.lsh_near_dup_pairs`` — is
one ``_bucket_pairs`` self-join, and every shingle-set pair is verified by
one ``_verify_sets``. The shingle size, the MinHash shape, the near-dup
Jaccard and containment thresholds, the SimHash hamming budget and the
component rounds are module constants: each has one value.
"""

from __future__ import annotations

import operator
from decimal import Decimal
from functools import reduce
from typing import Callable, List

from ..cache import persist_tracked
from .text import word_ngrams

from pyspark.sql import DataFrame, Window, functions as F

SIMHASH_BITS = 60  # keep signatures positive in a signed 64-bit integer
_SHINGLE_N = 3  # word 3-gram shingles, as the oracles' ``_SHINGLES_SQL``
_NUM_HASHES, _BANDS = 32, 16  # MinHash: 16 bands x 2 rows
_JACCARD_THRESHOLD = 0.8  # minhash_lsh_pairs and near_dup_components
_CONTAINMENT_THRESHOLD = 0.8
_MAX_HAMMING = 3  # simhash_banded_pairs: 4 chunks of 15 bits
_CC_MAX_ITER = 20  # connected_components_star: star rounds at most
_BUCKET_CAP = 100_000  # SimHash: distinct signatures per (band, key) bucket


def md5_int(col: F.Column, salt: str | None = None) -> F.Column:
    """Portable deterministic hash: first 15 hex chars of md5 as a BIGINT.
    (DuckDB equivalent: ``CAST(('0x' || substr(md5(x), 1, n)) AS BIGINT)``.)"""
    x = F.concat(F.lit(salt), F.lit("|"), col) if salt is not None else col
    return F.conv(F.substring(F.md5(x), 1, 15), 16, 10).cast("bigint")


def shingles(text_col: F.Column) -> F.Column:
    """Distinct word ``_SHINGLE_N``-gram shingles of a text column
    (``word_ngrams``). NULL, empty and short texts yield an empty array."""
    return F.array_distinct(word_ngrams(F.split(text_col, " "), _SHINGLE_N))


def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Content-hash groups with >1 member -> (content_hash, n_dups, min_id)."""
    return (
        df.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min(id_col).alias("min_id"))
        .filter(F.col("n_dups") > 1)
    )


def _shingle_sets(
    df: DataFrame, id_col: str, text_col: str, hash_bits: int = 64
) -> DataFrame:
    """(doc_id, sh) where ``sh`` is the distinct shingle set, each shingle
    xxhash64'd to an integer at creation: ~5x less heap per cached set than
    Java strings (GC pressure / memory bandwidth is what limits dedup
    scaling), and set intersections compare fixed-width ints.

    ``hash_bits=64`` (BIGINT, default — the exact-Jaccard oracle path):
    collision odds ~2^-64 per compared pair, no observable effect.
    ``hash_bits=32`` (INT — the LSH scale path, 31 usable bits so the ANSI
    BIGINT->INT cast can't overflow): halves the cached and shuffled shingle
    bytes again; for a compared pair with a ~100-shingle union,
    P[any in-pair collision] ≈ 100^2/2 / 2^31 ≈ 2.3e-6 — below the LSH band
    construction's own miss probability, so it does not change the
    pipeline's accuracy class. Collisions across *different* pairs are
    harmless (each pair is verified on its own union)."""
    sh = shingles(F.col(text_col))
    sh = F.transform(
        sh,
        lambda s: F.xxhash64(s).bitwiseAND(F.lit(0x7FFFFFFF)).cast("int")
        if hash_bits == 32
        else F.xxhash64(s),
    )
    return df.select(F.col(id_col).alias("doc_id"), sh.alias("sh")).filter(
        F.size("sh") > 0
    )


def _bucket_pairs(rows: DataFrame, id_col: str, keys: List[str]) -> DataFrame:
    """(id_a, id_b) for every pair of ``rows`` equal on all ``keys``, with
    id_a < id_b: the candidate self-join of every bucket join. A pair
    sharing several buckets repeats; callers add their own ``distinct()``."""
    same = [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys]
    cond = reduce(operator.and_, same + [F.col(f"a.{id_col}") < F.col(f"b.{id_col}")])
    return (
        rows.alias("a")
        .join(rows.alias("b"), cond)
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
    )


def _jaccard(inter: F.Column) -> F.Column:
    return inter.cast("double") / (F.size("sh_a") + F.size("sh_b") - inter)


def _containment(inter: F.Column) -> F.Column:
    return inter.cast("double") / F.size("sh_a")


def _verify_sets(
    pairs: DataFrame,
    sets_df: DataFrame,
    ratio: Callable[[F.Column], F.Column],
    name: str,
    threshold: float,
) -> DataFrame:
    """Exact verify of candidate (id_a, id_b) pairs: attach both sides'
    shingle sets ``sh_a``/``sh_b`` from ``sets_df`` and keep (id_a, id_b,
    ``name``) where ``name`` = ``ratio(|A ∩ B|)`` rounded to 6 places is
    >= threshold (``_jaccard`` or ``_containment``)."""
    a = sets_df.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sets_df.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    return (
        pairs.join(a, "id_a").join(b, "id_b")
        .select("id_a", "id_b", F.round(ratio(inter), 6).alias(name))
        .filter(F.col(name) >= threshold)
    )


def _shingle_rows(sets_df: DataFrame) -> DataFrame:
    """(doc_id, n_sh, sh1): one row per shingle of each set in ``sets_df``."""
    return sets_df.select(
        "doc_id", F.size("sh").alias("n_sh"), F.explode("sh").alias("sh1")
    )


def _rarest_prefix(ex: DataFrame, corpus: DataFrame, threshold: float) -> DataFrame:
    """The AllPairs prefix of each doc in ``ex`` (``_shingle_rows``): its
    ``n_sh - ceil(t*n_sh) + 1`` shingles rarest by document frequency over
    ``corpus``'s ``sh1`` rows, ties broken by shingle. Each caller's ratio
    >= t — Jaccard, within a corpus or across two, and containment of A —
    gives |A∩B| >= t*|A|, so A's prefix holds a shared shingle and only
    prefixes enter the candidate join. ``t`` is a decimal: in floating
    point ``(1 - 0.8) * 10`` is 1.9999999999999996, a prefix one short."""
    dfreq = corpus.groupBy("sh1").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "sh1")
    overlap = F.ceil(F.lit(Decimal(repr(threshold))) * F.col("n_sh"))
    return (
        ex.join(dfreq, "sh1")
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= F.col("n_sh") - overlap + 1)
    )


def ngram_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, threshold: float = 0.8
) -> DataFrame:
    """EXACT n-gram Jaccard near-dup pairs with **prefix filtering**
    (AllPairs/PPJoin-style, no recall loss): for J(a,b) >= t, a and b must
    share at least one of each other's ``|s| - ceil(t*|s|) + 1`` globally
    rarest shingles. Only those prefix shingles enter the inverted index,
    so the per-shingle c^2 candidate blowup collapses (hot/common shingles
    never generate candidates); candidates are then verified with the exact
    set intersection. Returns (id_a, id_b, sim) with id_a < id_b.

    Scale notes: the doc-frequency pass and the prefix index are each one
    shuffle; candidate count is near-linear in the number of true near-dup
    pairs, which is what makes exact Jaccard feasible at 100 TB (the
    unfiltered inverted-index join is quadratic per hot shingle).

    The shingle-set table feeds three plan branches (index build, a/b verify
    sides); it is persisted so the tokenize/shingle pass runs once — at real
    scale this is the materialized intermediate of the dedup pipeline stage."""
    sets_df = persist_tracked(_shingle_sets(df, id_col, text_col))
    ex = _shingle_rows(sets_df)
    prefix = persist_tracked(  # both sides of the candidate self-join
        _rarest_prefix(ex, ex, threshold).select("doc_id", "sh1")
    )
    cand = _bucket_pairs(prefix, "doc_id", ["sh1"]).distinct()
    return _verify_sets(cand, sets_df, _jaccard, "sim", threshold)


def minhash_signatures(sets_df: DataFrame) -> DataFrame:
    """(doc_id, mh_0..mh_{k-1}): k = ``_NUM_HASHES`` seeded min-hashes in ONE
    hash aggregation over the exploded shingles. Hashing is native ``xxhash64``
    (JVM, codegen'd); the seed is the per-hash literal. The LSH output is
    oracle-checked against exact Jaccard *pairs*, so the hash family is an
    internal choice.

    Why explode + groupBy and not a row-local ``array_min(transform(...))``:
    both were measured head-to-head (1M docs, local[8]). The hash aggregate
    runs inside whole-stage codegen with map-side partial aggregation —
    each doc's shingles sit in one input row, so the partial agg collapses
    to ONE signature row per doc *before* the exchange (the shuffle carries
    signatures, not shingles). Higher-order-function lambdas, by contrast,
    are evaluated interpreted (no codegen) and allocate an intermediate
    array per hash per row: the row-local form measured 1.2x slower here
    and 2.4x slower for the SimHash analogue."""
    ex = sets_df.select("doc_id", F.explode("sh").alias("sh1"))
    aggs = [
        F.min(F.xxhash64(F.lit(i), F.col("sh1"))).alias(f"mh_{i}")
        for i in range(_NUM_HASHES)
    ]
    return ex.groupBy("doc_id").agg(*aggs)


def minhash_lsh_pairs(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """MinHash + banded LSH candidate generation, exact-Jaccard verify at
    ``_JACCARD_THRESHOLD``. Returns the same schema as ngram_jaccard_pairs —
    at high recall the two agree, which is exactly what the oracle checks."""
    rows = _NUM_HASHES // _BANDS
    # reused by the signature build and both verify sides -> persist.
    # 32-bit shingle hashes: the LSH path's accuracy class already admits
    # ~1e-6 per-pair error (band construction), so the narrower hash is free
    # and halves the dominant cached/shuffled payload (see _shingle_sets).
    sets_df = persist_tracked(_shingle_sets(df, id_col, text_col, hash_bits=32))
    sig = minhash_signatures(sets_df)
    # all band keys in ONE pass over the signatures (explode of an array of
    # structs) — not a 16-way union, which would re-plan the signature
    # aggregation per band and shuffle it `_BANDS` times. Band key is a
    # native xxhash64 BIGINT over the band's signature columns (8 bytes),
    # not an md5 hex string (32 chars + object overhead): the bucket
    # self-join shuffles and caches 4x fewer key bytes, and key equality is
    # a long compare. Cross-band hash collisions are excluded by joining on
    # (band, key); within-band collisions only add candidates, which the
    # exact verify removes (no recall loss).
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(
                *[F.col(f"mh_{b * rows + r}") for r in range(rows)]
            ).alias("bkey"),
        )
        for b in range(_BANDS)
    ]
    buckets = persist_tracked(  # both sides of the bucket self-join share one sig pass
        sig.select("doc_id", F.explode(F.array(*band_structs)).alias("bs"))
        .select(
            "doc_id", F.col("bs.band").alias("band"), F.col("bs.bkey").alias("bkey")
        )
    )
    cand = _bucket_pairs(buckets, "doc_id", ["band", "bkey"]).distinct()
    return _verify_sets(cand, sets_df, _jaccard, "sim", _JACCARD_THRESHOLD)


def simhash_signatures(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """60-bit SimHash over distinct words: bit i of the signature is the
    sign of sum over words of (2*((h(w)>>i)&1) - 1). One codegen'd hash
    aggregation (explode + 60 conditional sums), no UDFs. A row-local
    variant (words hashed into an array once, 60 ``aggregate`` passes)
    was measured 2.4x slower — higher-order-function lambdas run
    interpreted, outside whole-stage codegen, while the explode feeds a
    partial-aggregating codegen'd sum whose shuffle already carries only
    one row per doc. Returns (doc_id, simhash)."""
    words = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(F.split(F.col(text_col), " "))).alias("w"),
    ).filter(F.length("w") > 0)
    h = md5_int(F.col("w"))
    aggs = [
        F.sum(
            F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(SIMHASH_BITS)
    ]
    per_doc = words.groupBy("doc_id").agg(*aggs)
    sig = None
    for i in range(SIMHASH_BITS):
        term = F.when(
            F.col(f"b{i}") > 0, F.shiftleft(F.lit(1).cast("bigint"), i)
        ).otherwise(F.lit(0).cast("bigint"))
        sig = term if sig is None else (sig + term)
    return per_doc.select("doc_id", sig.alias("simhash"))


def simhash_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 8
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance (id_a < id_b, hamming).
    O(n^2) compare here (oracle path); at scale, band the signature into
    (max_hamming+1) chunks and bucket-join — any pair within the distance
    shares at least one exact chunk (pigeonhole)."""
    sig = simhash_signatures(df, id_col, text_col)
    a = sig.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("ha"))
    b = sig.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("hb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_banded_pairs(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """EXACT SimHash near-dup pairs, sub-quadratic: the 60-bit signature is
    split into ``_MAX_HAMMING + 1`` chunks; by pigeonhole, any pair within
    the hamming budget agrees on at least one whole chunk, so candidates
    come from an equi-join on (chunk index, chunk value) instead of the
    all-pairs cross join. Candidates are then verified with the true
    ``bit_count(xor)`` distance — identical output to ``simhash_pairs``
    (recall 1.0 by construction), which is how the oracle checks it.

    Scale: candidate count per bucket is c^2 over docs sharing a 15-bit
    chunk value — uniform-ish for hash-like signatures, and the join
    shuffles O(n * bands) rows instead of materializing n^2/2 pairs.

    Skew design (template-dominated corpora): real near-dup corpora are
    NOT uniform — a dominant boilerplate template drags whole doc families
    toward a handful of signatures, and one hot (band, key) bucket
    re-grows the c^2 blowup the banding was meant to kill. Two structural
    defenses, both recall-preserving:

    1. **Signature dedup first** (always on): banding runs over DISTINCT
       signatures, so k docs sharing one signature contribute ONE bucket
       row instead of k — bucket sizes shrink by the duplication factor,
       which is exactly where template corpora concentrate their mass.
       Docs with identical signatures are emitted directly as hamming-0
       pairs (true output, no candidate join), and verified signature
       pairs expand to doc pairs with output-proportional member joins.
       The hamming verify itself becomes free: both signature values sit
       in the candidate row (no verify joins at all).
    2. **Sub-band fallback**: a distinct-signature bucket measured above
       ``_BUCKET_CAP`` joins on (band, key, sub, subkey) instead — those
       signatures agree on chunk ``band``, so any pair within the budget
       has all <= _MAX_HAMMING differing bits in the 60 - chunk_bits
       complement; splitting the complement into _MAX_HAMMING + 1
       sub-chunks pigeonholes again (one must be clean). Recall stays 1.0
       by construction.

    Measured on the adversarial template corpus (BENCH.md): sub-banding
    alone does NOT help when a family's complement bits are also shared
    (sub-buckets stay hot); signature dedup is what collapses the volume,
    with sub-banding as the residual guard for many-distinct-but-close
    signature distributions.
    """
    bands = _MAX_HAMMING + 1
    chunk_bits = (SIMHASH_BITS + bands - 1) // bands
    mask = (1 << chunk_bits) - 1
    sig = simhash_signatures(df, id_col, text_col)
    # docs sharing a signature are hamming-0 pairs by definition — emit
    # directly; candidate generation then works on DISTINCT signatures
    intra = _bucket_pairs(sig, "doc_id", ["simhash"]).withColumn("hamming", F.lit(0))
    usig = sig.select("simhash").distinct()
    chunk_structs = [
        F.struct(
            F.lit(i).alias("band"),
            F.shiftright(F.col("simhash"), i * chunk_bits)
            .bitwiseAND(F.lit(mask))
            .alias("key"),
        )
        for i in range(bands)
    ]
    buckets = usig.select(
        "simhash", F.explode(F.array(*chunk_structs)).alias("bs")
    ).select("simhash", F.col("bs.band").alias("band"), F.col("bs.key").alias("key"))
    sizes = buckets.groupBy("band", "key").agg(F.count(F.lit(1)).alias("_bsz"))
    tagged = buckets.join(sizes, ["band", "key"])
    cold = tagged.filter(F.col("_bsz") <= _BUCKET_CAP).select("simhash", "band", "key")
    # hot signatures agree on chunk `band`; sub-band the complement
    # bits. complement(band) = signature with chunk `band` spliced out
    # (low bits below the chunk | high bits above it shifted down) —
    # band is a column, shift amounts must be literals, so build a
    # small CASE over the `bands` possible values.
    comp_bits = SIMHASH_BITS - chunk_bits
    sub_bits = (comp_bits + bands - 1) // bands
    sub_mask = (1 << sub_bits) - 1
    s = F.col("simhash")

    def comp_for(b: int) -> F.Column:
        low = s.bitwiseAND(F.lit((1 << (b * chunk_bits)) - 1))
        high = F.shiftright(s, (b + 1) * chunk_bits)
        return low + F.shiftleft(high, b * chunk_bits)

    comp = F.lit(0).cast("bigint")
    for b in range(bands):
        comp = F.when(F.col("band") == b, comp_for(b)).otherwise(comp)
    sub_structs = [
        F.struct(
            F.lit(j).alias("sub"),
            F.shiftright(comp, j * sub_bits).bitwiseAND(F.lit(sub_mask)).alias("subkey"),
        )
        for j in range(bands)
    ]
    hot = (
        tagged.filter(F.col("_bsz") > _BUCKET_CAP)
        .select("simhash", "band", "key", F.explode(F.array(*sub_structs)).alias("ss"))
        .select(
            "simhash",
            "band",
            "key",
            F.col("ss.sub").alias("sub"),
            F.col("ss.subkey").alias("subkey"),
        )
    )
    hot_keys = ["subkey", "sub", "key", "band"]
    cand = (
        _bucket_pairs(cold, "simhash", ["key", "band"]).toDF("ha", "hb")
        .union(_bucket_pairs(hot, "simhash", hot_keys).toDF("ha", "hb"))
        .distinct()
    )
    # verify is join-free: both signatures sit in the candidate row
    verified = cand.select(
        "ha", "hb", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).alias("hamming")
    ).filter(F.col("hamming") <= _MAX_HAMMING)
    # expand verified signature pairs to member doc pairs (output-
    # proportional: one row per true near-dup pair)
    ma = sig.select(F.col("simhash").alias("ha"), F.col("doc_id").alias("_ida"))
    mb = sig.select(F.col("simhash").alias("hb"), F.col("doc_id").alias("_idb"))
    inter = (
        verified.join(ma, "ha")
        .join(mb, "hb")
        .select(
            F.least("_ida", "_idb").alias("id_a"),
            F.greatest("_ida", "_idb").alias("id_b"),
            "hamming",
        )
    )
    return intra.union(inter)


def dedup_keep_first(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Materialized exact dedup: keep the lowest-id doc per content group
    (all non-duplicates pass through). One window over the content digest;
    digests are uniform so partitions are tiny (group size = duplicate
    multiplicity) — no skew at any scale, one shuffle."""
    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(F.col(id_col))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def near_dup_components(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Connected components of the near-dup pair graph — the clustering
    step of corpus dedup (pick one representative per near-dup cluster).
    Pairs come from the exact prefix-filtered Jaccard join at
    ``_JACCARD_THRESHOLD``; components come
    from alternating large-star/small-star contraction
    (``connected_components_star`` — O(log^2 n) rounds on ANY graph shape).
    Returns (id_col, component) for every doc; singletons label themselves:
    the contraction runs ONLY over nodes that appear in some pair (graph
    nodes ≪ corpus), and the corpus's singleton majority is attached once
    at the end with label = self. Star contraction beat O(diameter)-round
    min-label propagation 5.0-5.6 s vs 12.6-25.6 s on the sf0.1 corpus
    (BENCH.md "connected-components algorithm choice")."""
    pairs = ngram_jaccard_pairs(df, id_col, text_col, _JACCARD_THRESHOLD).select(
        "id_a", "id_b"
    )
    comp = connected_components_star(
        pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
    ).withColumnRenamed("node", "_n")
    return (
        df.select(F.col(id_col).alias("_n").cast("long"))
        .distinct()
        .join(comp, "_n", "left")
        .select(
            F.col("_n").alias(id_col),
            F.coalesce(F.col("component"), F.col("_n")).alias("component"),
        )
    )


def conversation_digests(df: DataFrame) -> DataFrame:
    """Conversation-level exact dedup: one row per conversation with
    (a) ``text_digest`` — md5 of the full turn text concatenated in stable
    (turn_idx, text) order, and (b) ``flow_digest`` — md5 of the
    role|tool sequence (finds template-identical conversations whose text
    differs). Plus per-digest group size and the canonical keeper
    (min conv_id sharing the text digest).

    Scale: one shuffle on conv_id to assemble each conversation
    (state bounded by turns-per-conversation; zero exchange on a
    conv_id-bucketed layout);
    the digest windows then run over the one-row-per-conversation table
    (32-byte digests), so the second stage is ~n_convs rows regardless
    of corpus size. Deterministic + portable: md5 over coalesced text,
    ties in turn_idx (injected duplicates) broken by the
    text itself on both engines.
    """
    txt = F.coalesce(F.col("text"), F.lit(""))
    flow = F.concat_ws("|", *[F.coalesce(F.col(c), F.lit("")) for c in ("role", "tool")])

    def ordered_digest(tok: F.Column) -> F.Column:
        item = F.struct(F.col("turn_idx").alias("i"), tok.alias("t"))
        arr = F.array_sort(F.collect_list(item))
        return F.md5(F.array_join(F.transform(arr, lambda s: s["t"]), "\x1f"))

    per_conv = df.groupBy("conv_id").agg(
        ordered_digest(txt).alias("text_digest"),
        ordered_digest(flow).alias("flow_digest"),
    )
    wt = Window.partitionBy("text_digest")
    wf = Window.partitionBy("flow_digest")
    return per_conv.select(
        F.col("conv_id"),
        "text_digest",
        "flow_digest",
        F.count(F.lit(1)).over(wt).cast("bigint").alias("n_same_text"),
        F.count(F.lit(1)).over(wf).cast("bigint").alias("n_same_flow"),
        F.min("conv_id").over(wt).alias("keep_conv_id"),
    )


def _dedup_edges(e: DataFrame) -> DataFrame:
    return e.filter(F.col("u") != F.col("v")).distinct()


def connected_components_star(edges: DataFrame) -> DataFrame:
    """Connected components via alternating large-star / small-star rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond") — the
    adversarial-graph alternative to plain min-label propagation: converges
    in O(log^2 n) rounds on ANY graph shape (a length-L chain takes ~log L
    rounds instead of L), with per-round cost one groupBy-min + one join —
    never a per-node neighbor list (no collect_set, hot nodes stay safe).

    ``edges``: (u, v) pairs, any orientation, self-loops/dups tolerated.
    Returns (node, component) for every node appearing in some edge, where
    component = min node id of the connected component.
    """
    e = _dedup_edges(edges.select(F.col("u").cast("long"), F.col("v").cast("long")))
    e = e.localCheckpoint()
    prev_sig = None
    for _ in range(_CC_MAX_ITER):
        # large-star: connect every strictly-larger neighbor of u to
        # m = min(N(u) ∪ {u})
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        lmins = sym.groupBy("u").agg(F.min("v").alias("mv"))
        lm = F.least(F.col("mv"), F.col("u"))
        e = _dedup_edges(
            sym.join(lmins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), lm.alias("v"))
        )
        # small-star: orient edges toward the greater end; connect every
        # smaller neighbor (and u itself) to the minimum
        oriented = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        smins = oriented.groupBy("u").agg(F.min("v").alias("mv"))
        e = _dedup_edges(
            oriented.join(smins, "u")
            .select(F.col("v").alias("u"), F.col("mv").alias("v"))
            .union(smins.select("u", F.col("mv").alias("v")))
        ).localCheckpoint()
        # convergence witness: (count, xor of edge hashes) — stable set <=>
        # fixpoint (xor is order-independent, never overflows under ANSI,
        # and two DIFFERENT sets of equal count collide only with ~2^-64
        # probability; witness only, never part of the output)
        sig = tuple(
            e.agg(
                F.count(F.lit(1)), F.expr("bit_xor(xxhash64(u, v))")
            ).collect()[0]
        )
        if sig == prev_sig:
            break
        prev_sig = sig
    # converged edge set is a star forest: (node -> root). Roots label
    # themselves.
    nodes = e.select(F.col("u").alias("node"), F.col("v").alias("label")).union(
        e.select(F.col("v").alias("node"), F.col("v").alias("label"))
    )
    return nodes.groupBy("node").agg(F.min("label").alias("component"))


def containment_dedup_pairs(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """EXACT asymmetric containment near-dup pairs:
    C(a ⊆ b) = |A∩B| / |A| >= t (``_CONTAINMENT_THRESHOLD``) with
    |A| <= |B| — the dedup class Jaccard misses entirely (a 10-shingle
    snippet quoted inside a 500-shingle doc has J ≈ 0.02 but containment
    1.0; boilerplate, quotes, chunk-of-larger-doc leaks). Returns (id_a, id_b, containment) with
    id_a the contained (smaller) side; equal sizes orient id_a < id_b.

    Prefix filtering is ASYMMETRIC here (no recall loss): the symmetric
    Jaccard bound indexes only prefixes on both sides, but for containment
    the big side's shared fraction can be arbitrarily small, so B's FULL
    shingle list is indexed and only the QUERY side A is prefix-pruned —
    if none of A's |A| - ceil(t*|A|) + 1 globally-rarest shingles hits B,
    then |A∩B| < t*|A| and the pair cannot qualify. Candidate volume is
    sum over A-prefix occurrences of df(shingle): rarest-first ranking
    keeps df small, hot shingles never enter prefixes. Verify is the exact
    set intersection, same persisted set table as the Jaccard path."""
    sets_df = persist_tracked(_shingle_sets(df, id_col, text_col))
    ex = _shingle_rows(sets_df)
    prefix = _rarest_prefix(ex, ex, _CONTAINMENT_THRESHOLD).select(
        F.col("doc_id").alias("id_a"), F.col("n_sh").alias("n_a"), "sh1"
    )
    full = ex.select(
        F.col("doc_id").alias("id_b"), F.col("n_sh").alias("n_b"), "sh1"
    )
    cand = (
        prefix.join(full, "sh1")
        .filter(
            (F.col("n_a") < F.col("n_b"))
            | ((F.col("n_a") == F.col("n_b")) & (F.col("id_a") < F.col("id_b")))
        )
        .select("id_a", "id_b")
        .distinct()
    )
    return _verify_sets(
        cand, sets_df, _containment, "containment", _CONTAINMENT_THRESHOLD
    )


def cluster_size_histogram(components: DataFrame, comp_col: str = "component") -> DataFrame:
    """Duplicate-cluster size distribution — the report a dedup run ships
    with: per cluster size k, how many clusters and how many documents
    live in them (size 1 = unique docs; the dup rate and the kept/dropped
    doc counts all read off this table). Input is the (doc, component)
    assignment from ``connected_components``.

    Two tiny cascaded aggregates over the assignment relation (component
    sizes, then the size histogram) — KB-scale output at any corpus size;
    skew bounded by the largest dup cluster. Returns
    (cluster_size, n_clusters, n_docs)."""
    sizes = components.groupBy(comp_col).agg(F.count(F.lit(1)).alias("_sz"))
    return (
        sizes.groupBy(F.col("_sz").cast("bigint").alias("cluster_size"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
            F.sum("_sz").cast("bigint").alias("n_docs"),
        )
    )


def span_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    gram_len: int = 20,
) -> DataFrame:
    """ExactSubstr-style duplicated-span REMOVAL (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): instead of
    dropping whole near-duplicate documents, find every token span of
    ``gram_len`` consecutive whitespace tokens that occurs MORE THAN ONCE
    across the corpus (or within one document) and splice the non-canonical
    occurrences out of the text. The canonical (kept) occurrence is the
    lexicographically smallest (doc_id, start) — keep-earliest, matching
    the engine's other dedup policies. Documents shorter than ``gram_len``
    tokens are untouched.

    Scale shape (the suffix-array of the paper doesn't distribute; this
    gram-inverted-index formulation does, and is the standard Spark
    re-expression):

    1. ONE projection builds per-doc gram structs row-locally
       (``word_ngrams``, then an indexed transform to (start, md5 key); the
       md5 gram key is portable to DuckDB). Explode -> (key, doc_id,
       start): one row per token, the same explode factor as the shingle
       inverted index ``ngram_jaccard_pairs`` already carries.
    2. ONE shuffle of the gram table: a row_number window over (key)
       ordered by (doc_id, start) — rank 1 is the canonical occurrence,
       everything else is a duplicated span. This was first built as
       groupBy(key).min(struct) + a join back; MEASURED at 1M docs /
       local[4->16] that shape shuffles the 45M-row gram table TWICE
       (gram keys rarely repeat within a partition, so the agg's map-side
       combine reduces nothing) and scaled at 0.71; the single-window form
       halves the shuffled bytes — 2.1x faster at N, 2.3x at 4N, raw
       efficiency 0.769 = 1.046x that session's fixed-work CPU ceiling
       (BENCH.md, span section). Skew = the most-duplicated gram's
       occurrence count, the same bound the aggregation had. No all-pairs
       step anywhere — a gram occurring c times contributes c rows, not
       c^2.
    3. Collapse spans to a per-doc sorted start list (KB per doc), join
       back to the docs relation (one shuffle), and splice ROW-LOCALLY:
       a 2-arg filter lambda — pyspark binds (element, index) by ARITY —
       drops token i when any span s covers it (exists over the span
       list). Higher-order functions run interpreted, but the work is
       O(tokens x spans-per-doc) with spans-per-doc small; the alternative
       (exploding every span into gram_len removal rows + anti-join)
       costs an extra shuffle on the full token table.

    A doc with NULL text is passed through with NULL text_clean and zero
    counts. Returns (doc_id-aliased id_col, n_tokens, n_dup_grams,
    n_removed, text_clean)."""
    # a 2-arg lambda binds (element, index): the index is the gram's start
    gram_structs = F.transform(
        word_ngrams(F.split(F.col(text_col), " "), gram_len),
        lambda g, i: F.struct(i.alias("start"), F.md5(g).alias("key")),
    )

    occ = (
        df.select(F.col(id_col).alias("_id"), F.explode(gram_structs).alias("g"))
        .select("_id", F.col("g.start").alias("start"), F.col("g.key").alias("key"))
    )
    wk = Window.partitionBy("key").orderBy("_id", "start")
    dup = (
        occ.withColumn("_rn", F.row_number().over(wk))
        .filter(F.col("_rn") > 1)
        .select("_id", "start")
    )
    spans = dup.groupBy("_id").agg(
        F.sort_array(F.collect_list("start")).alias("_dup_starts")
    )

    base = df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_text"))
    joined = base.join(spans, "_id", "left").withColumn(
        "_spans", F.coalesce(F.col("_dup_starts"), F.array().cast("array<int>"))
    )
    # stage tokenization and the interpreted-HOF splice ONCE each: Catalyst
    # does not CSE duplicate non-cheap expression trees across a projection
    # (the token_count_bpe lesson, operators/text.py:117-125), and both
    # n_removed and text_clean consume the kept array
    toked = joined.select(
        "_id", "_spans", F.split(F.col("_text"), " ").alias("_toks")
    )
    spliced = toked.select(
        "_id",
        "_spans",
        "_toks",
        F.filter(
            "_toks",
            lambda t, i: ~F.exists(
                F.col("_spans"), lambda s: (i >= s) & (i < s + gram_len)
            ),
        ).alias("_kept"),
    )
    return spliced.select(
        F.col("_id").alias(id_col),
        F.coalesce(F.size("_toks"), F.lit(0)).cast("bigint").alias("n_tokens"),
        F.size("_spans").cast("bigint").alias("n_dup_grams"),
        F.coalesce(F.size("_toks") - F.size("_kept"), F.lit(0))
        .cast("bigint")
        .alias("n_removed"),
        F.array_join("_kept", " ").alias("text_clean"),
    )
