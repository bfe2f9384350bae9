"""Text-analysis operators for training-data pipelines: token counting,
quality scoring, language-ID heuristic, document fingerprinting, PII
redaction, repetition/encoding hygiene, line dedup, chunking, packing,
and the composed curation pipeline. Everything is built-in column
expressions (JVM-side, whole-stage codegen) except the one genuinely
sequential op — ``pack_context_windows`` (Arrow-batched ``mapInPandas``
with carried per-conversation state) — which is Arrow-vectorized, never
row-at-a-time Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# tiny per-language stopword marker sets for the n-gram/stopword heuristic
LANG_MARKERS = {
    "en": ["the", "and", "of"],
    "es": ["el", "la", "que"],
    "de": ["der", "die", "und"],
    "fr": ["le", "les", "des"],
}


def token_count(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, n_tokens, n_chars): whitespace tokens + a BPE-ish subword
    estimate (ceil(chars/4) is the common public rule of thumb)."""
    return df.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), " ")).alias("n_tokens"),
        F.length(text_col).alias("n_chars"),
        F.ceil(F.length(text_col) / 4).cast("bigint").alias("bpe_est"),
    )


# -- subword (BPE-style) tokenizer kernel -------------------------------------
#
# Real pipelines budget in SUBWORD tokens, not whitespace words. Greedy
# longest-match inference over a fixed merge vocabulary (the decode-time
# side of BPE, Sennrich et al. 2016 / WordPiece MaxMatch, Wu et al. 2016 —
# public work) is exactly expressible as ONE regex alternation sorted
# longest-first: leftmost-first alternation picks the longest piece at
# each position, unmatched single characters fall through to the [^ ]
# tail (one token each), and spaces are skipped (no piece contains one).
# Java regex (Spark, JVM codegen side) and RE2 (DuckDB) share these
# leftmost-first semantics over the IDENTICAL pattern string, so the count
# is engine-portable with ZERO Python in the hot path — the tokenizer is
# `size(regexp_extract_all(...))`, a plain column expression.

#: small public-knowledge English merge vocabulary: high-frequency words,
#: morphemes (prefixes/suffixes), and character bigrams. Lowercase [a-z]
#: only — regex-literal-safe by construction.
BPE_VOCAB = sorted(
    {
        # frequent whole words
        "the", "and", "of", "to", "in", "is", "it", "that", "for", "as",
        "with", "was", "on", "are", "be", "this", "at", "by", "an", "or",
        "from", "they", "we", "you", "he", "she", "not", "have", "has",
        "had", "but", "all", "can", "will", "one", "two", "data",
        # morphemes
        "ing", "ed", "er", "est", "ion", "tion", "ation", "ment", "ness",
        "able", "ible", "ly", "al", "ic", "ous", "ive", "ful", "less",
        "ism", "ist", "ity", "ate", "ize", "en", "un", "re", "pre",
        "post", "pro", "con", "com", "dis", "mis", "over", "under",
        "inter", "sub", "trans",
        # frequent character bigrams
        "th", "he", "nd", "ti", "es", "te", "ar", "st", "nt", "ng", "se",
        "ha", "ou", "io", "le", "ve", "co", "me", "de", "hi", "ri", "ro",
        "ne", "ea", "ra", "ce", "li", "ch", "ll", "ma", "si", "om", "ur",
        "ca", "el", "ta", "la", "ns", "di", "fo", "ho", "pe", "ec", "pr",
        "no", "ct", "us", "ac", "ot", "il", "tr", "nc", "et", "ut", "ss",
        "so", "rs", "lo", "wa", "ge", "ie", "wh", "qu", "ow",
    }
)


def bpe_pattern() -> str:
    """The greedy longest-match alternation for ``BPE_VOCAB``: pieces sorted
    by (length DESC, piece ASC) — identical order on both engines — with a
    single-codepoint non-space fallback."""
    import re as _re

    pieces = sorted(BPE_VOCAB, key=lambda p: (-len(p), p))
    for p in pieces:
        if not _re.fullmatch(r"[a-z0-9]+", p):
            raise ValueError(
                f"vocab piece {p!r} must be [a-z0-9]+ (regex-literal safety)"
            )
    return "(?:" + "|".join(pieces) + "|[^ ])"


def bpe_token_count_col(text_col) -> F.Column:
    """Subword token count as a pure JVM column expression (codegen'd
    regexp_extract_all over the lowercased text; NULL text -> 0)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    n = F.size(F.regexp_extract_all(F.lower(c), F.lit(bpe_pattern()), 0))
    return F.when(c.isNull(), F.lit(0)).otherwise(n).cast("bigint")


def token_count_col(text_col: str, tokenizer: str) -> F.Column:
    """The text family's token count of a text column as a BIGINT, NULL
    text counting 0: single-space words (``"whitespace"``; ``''`` is one
    empty word) or greedy-subword tokens (``"bpe"``,
    ``bpe_token_count_col``). A budget or report that counts tokens calls
    it."""
    if tokenizer == "bpe":
        return bpe_token_count_col(text_col)
    if tokenizer != "whitespace":
        raise ValueError(f"tokenizer must be whitespace|bpe, got {tokenizer!r}")
    c = F.col(text_col)
    return F.when(c.isNull(), F.lit(0)).otherwise(F.size(F.split(c, " "))).cast("bigint")


def _bound(value: F.Column, body) -> F.Column:
    """``body(v)`` with ``value`` evaluated once, as the variable ``v`` of a
    ``transform`` over a one-element array. A higher-order lambda runs
    interpreted and evaluates every outer expression it mentions on each
    call, so a lambda over ``split(text)`` itself splits the text again for
    every word of every n-gram: 11.1 s against 0.93 s for the bigrams of
    100k 35-55-word docs (local[4], BENCH.md "One word-n-gram builder").
    A lambda over split words takes them from here."""
    return F.element_at(F.transform(F.array(value), body), 1)


def word_ngrams(words, n: int) -> F.Column:
    """The positional word n-grams of a split-words array column: element
    ``i`` joins words ``i .. i+n-1`` with single spaces, and the array is
    empty when there are fewer than ``n`` words (NULL words included). The
    text family's one n-gram builder: a new consumer calls it. ``words``
    is evaluated once (``_bound``)."""

    def grams(ws):
        return F.when(
            F.size(ws) >= n,
            F.transform(
                F.sequence(F.lit(0), F.size(ws) - n),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(ws, i + (k + 1)) for k in range(n)]
                ),
            ),
        ).otherwise(F.array())

    return _bound(words, grams)


def bpe_oracle_expr(text_expr: str) -> str:
    """The DuckDB rendering of ``bpe_token_count_col`` (same pattern
    string, RE2 leftmost-first) for oracle SQL construction."""
    pat = bpe_pattern().replace("'", "''")
    return (
        f"CAST(CASE WHEN {text_expr} IS NULL THEN 0 ELSE "
        f"len(regexp_extract_all(lower({text_expr}), '{pat}')) END AS BIGINT)"
    )


def token_count_bpe(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Tokenizer-aware token counting: (id, n_tokens, n_bpe, chars_per_token)
    — whitespace words, greedy-subword tokens over ``BPE_VOCAB``, and the
    realized chars-per-token ratio (the calibration number pipelines use to
    sanity-check a token budget). One projection, zero shuffle."""
    n_ws = F.size(F.split(F.col(text_col), " ")).cast("bigint")
    # evaluate the regex ONCE: the alternation scan is the dominant cost and
    # Catalyst does not CSE duplicate regexp_extract_all trees across a
    # projection (measured 2x on the sf0.1 corpus)
    staged = df.select(
        F.col(id_col),
        n_ws.alias("n_tokens"),
        bpe_token_count_col(text_col).alias("n_bpe"),
        F.length(text_col).alias("_nc"),
    )
    return staged.select(
        id_col,
        "n_tokens",
        "n_bpe",
        # NULLIF guard: empty text is 0/0 — Spark (non-ANSI) gives NULL but
        # DuckDB's default ieee float ops give NaN; NULLIF on BOTH engines
        # (oracle uses NULLIF too) pins the divergence to NULL everywhere
        F.round(F.col("_nc") / F.nullif(F.col("n_bpe"), F.lit(0)), 4).alias(
            "chars_per_token"
        ),
    )


def quality_score(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Length / alpha-ratio / mean-word-length / stopword-ratio quality
    signals, one projection."""
    words = F.split(F.col(text_col), " ")
    n_tokens = F.size(words)
    n_chars = F.length(text_col)
    alpha = F.length(F.regexp_replace(F.col(text_col), "[^a-z]", ""))
    stop = F.size(
        F.filter(words, lambda w: w.isin("the", "a", "and", "of", "to", "in"))
    )
    return df.select(
        F.col(id_col),
        n_tokens.alias("n_tokens"),
        F.round(alpha.cast("double") / n_chars, 4).alias("alpha_ratio"),
        F.round((n_chars - n_tokens + 1).cast("double") / n_tokens, 4).alias(
            "mean_word_len"
        ),
        F.round(stop.cast("double") / n_tokens, 4).alias("stopword_ratio"),
    )


def lang_id(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Marker-word language scoring: count hits per language's marker set,
    predict the argmax (ties broken by language order), 'und' when no hits.
    Heuristic n-gram language-ID re-expressed as pure column math."""
    words = F.split(F.col(text_col), " ")

    def score(markers):
        # single-arg lambda (pyspark treats 2-arg lambdas as (elem, idx))
        return F.size(F.filter(words, lambda w: w.isin(*markers)))

    scores = {lang: score(markers) for lang, markers in LANG_MARKERS.items()}
    best = None
    pred = F.lit("und")
    # evaluate in reverse so earlier languages win ties
    for lang in reversed(list(LANG_MARKERS)):
        s = scores[lang]
        if best is None:
            best = s
            pred = F.when(s > 0, F.lit(lang)).otherwise(F.lit("und"))
        else:
            pred = F.when((s > 0) & (s >= best), F.lit(lang)).otherwise(pred)
            best = F.greatest(s, best)
    return df.select(F.col(id_col), pred.alias("lang_pred"))


def fingerprint(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Order-insensitive document fingerprint: md5 of the sorted distinct
    word set (bag-of-words canonical form; catches shuffled duplicates)."""
    canon = F.array_join(
        F.array_sort(F.array_distinct(F.split(F.lower(F.col(text_col)), " "))), " "
    )
    return df.select(F.col(id_col), F.md5(canon).alias("fp"))


# portable (Java regex + RE2) patterns — keep to the common syntax subset
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
NUM_RE = "[0-9]+"


def redact_pii(
    df: DataFrame, id_cols, text_col: str = "text"
) -> DataFrame:
    """PII-style scrubbing for training corpora: emails -> ``<EMAIL>``,
    digit runs -> ``<NUM>``, with per-row match counts (the audit trail a
    scrub job reports). Pure ``regexp_replace``/``regexp_count`` column
    expressions — JVM regex, whole-stage codegen, zero Python; patterns
    restricted to the Java-regex ∩ RE2 syntax subset so the DuckDB oracle
    runs them verbatim. NULL text stays NULL (counts 0)."""
    ids = [id_cols] if isinstance(id_cols, str) else list(id_cols)
    t = F.col(text_col)
    clean = F.regexp_replace(
        F.regexp_replace(t, EMAIL_RE, "<EMAIL>"), NUM_RE, "<NUM>"
    )
    return df.select(
        *ids,
        clean.alias("clean_text"),
        F.coalesce(F.regexp_count(t, F.lit(EMAIL_RE)), F.lit(0))
        .cast("bigint")
        .alias("n_emails"),
        F.coalesce(F.regexp_count(t, F.lit(NUM_RE)), F.lit(0))
        .cast("bigint")
        .alias("n_nums"),
    )


def repetition_score(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Repeated-bigram ratio — the standard template/boilerplate quality
    signal (1 - distinct bigrams / total bigrams; 0 = no repetition) over
    the non-empty words. Row-local array expressions (split -> filter ->
    ``word_ngrams`` -> distinct): no explode, no shuffle, embarrassingly
    parallel. The n-gram lambda is interpreted (see BENCH.md HOF note) but
    runs once per DOC on a words array, not per token via explode+agg — for
    a per-doc score the row-local form wins because nothing needs
    aggregating."""
    words = F.filter(F.split(F.col(text_col), " "), lambda x: F.length(x) > 0)
    g = F.col("_g")
    return (
        df.select(F.col(id_col), word_ngrams(words, 2).alias("_g"))
        .select(
            F.col(id_col),
            F.size(g).cast("bigint").alias("n_grams"),
            F.size(F.array_distinct(g)).cast("bigint").alias("n_distinct"),
            F.round(
                F.when(F.size(g) == 0, F.lit(0.0)).otherwise(
                    1.0 - F.size(F.array_distinct(g)) / F.size(g)
                ),
                4,
            ).alias("rep_ratio"),
        )
    )


_MIN_TOKENS, _MAX_TOKENS = 10, 500  # a curated doc's token count, inclusive


def curate_corpus(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    min_alpha: float = 0.5,
) -> DataFrame:
    """End-to-end corpus curation — the composed pipeline a training-data
    user actually runs: language filter + token-length bounds
    (``_MIN_TOKENS``..``_MAX_TOKENS``) + alpha-ratio quality gate (all
    row-local predicates in ONE projection, evaluated in the scan stage),
    exact-dedup keep-first (ONE shuffle, on the content digest), then the
    deterministic hash train/test split (row-local).
    Returns (id, split) for surviving docs. Total plan: one scan + one
    shuffle regardless of how many filters compose — the point of
    expressing curation as Column predicates instead of chained
    materialized stages."""
    from .sampling import hash_split

    first = _curate_survivors(df, id_col, text_col, min_alpha)
    return hash_split(first, id_col, 90).select(id_col, "split")


def _curate_survivors(
    df: DataFrame, id_col: str, text_col: str, min_alpha: float
) -> DataFrame:
    """Curation gates + exact-dedup keep-first, returning the surviving
    FULL rows (shared by ``curate_corpus`` and ``curate_dedup_pack``).
    Same plan as before the split: scan-stage filters + one digest
    shuffle."""
    from pyspark.sql import Window

    words = F.split(F.col(text_col), " ")
    n_tokens = F.size(words)
    alpha = F.length(F.regexp_replace(F.col(text_col), "[^a-z]", ""))
    alpha_ratio = alpha.cast("double") / F.length(text_col)
    kept = df.filter(
        (F.col("lang") == "en")
        & n_tokens.between(_MIN_TOKENS, _MAX_TOKENS)
        & (alpha_ratio >= min_alpha)
    )
    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(F.col(id_col))
    return (
        kept.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def curate_dedup_pack(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_alpha: float = 0.5,
    n_shards: int = 8,
) -> DataFrame:
    """The composed END-TO-END training-data pipeline as ONE lineage —
    what a 100 TB user actually runs, and what per-stage benches miss
    (stage-boundary cache pressure, AQE re-planning across the dedup join):

    1. curate: language + token-length + alpha-ratio gates (scan-stage
       predicates) + exact-dedup keep-first (one digest shuffle);
    2. near-dup dedup: MinHash+banded-LSH candidate pairs with exact
       Jaccard verify (``minhash_lsh_pairs``), then the greedy
       keep-earliest policy — DROP every doc with a verified near-dup of
       smaller id (one distinct + one left-anti join; this is the standard
       "remove later duplicates" rule, NOT transitive-closure clustering —
       a chain a~b~c with a<b<c keeps only a);
    3. split + shard: deterministic md5 train/test split and an md5 shard
       (``n_shards`` buckets) so the packing stage has corpus-wide
       parallelism — at 100 TB you raise ``n_shards`` to O(cores), each
       pack group stays independent;
    4. pack: greedy context-window packing of surviving docs into chunks
       of <= 2048 BPE tokens per (split, shard) group ordered by id
       (``pack_context_windows(tokenizer="bpe")`` — token counts JVM-side,
       one carried-state Arrow pass).

    Returns (pack_group, doc_id, rn, n_bpe, chunk_id). The DuckDB oracle
    replays all four stages: curate CTE, all-pairs exact-Jaccard drop set,
    md5 split/shard, recursive-CTE packing recurrence.
    """
    from .dedup import md5_int, minhash_lsh_pairs
    from .sampling import hash_split

    survivors = _curate_survivors(df, id_col, text_col, min_alpha)
    pairs = minhash_lsh_pairs(survivors, id_col, text_col)
    drop = pairs.select(F.col("id_b").alias(id_col)).distinct()
    kept = survivors.join(drop, id_col, "left_anti")
    grouped = hash_split(kept, id_col, 90).withColumn(
        "pack_group",
        F.concat_ws(
            "|",
            F.col("split"),
            (md5_int(F.col(id_col).cast("string"), salt="shard") % n_shards).cast(
                "string"
            ),
        ),
    )
    packed = pack_context_windows(
        grouped, "pack_group", id_col, text_col, 2048, tokenizer="bpe"
    )
    return packed.select(
        "pack_group",
        F.col(id_col),
        "rn",
        F.col("n_tokens").alias("n_bpe"),
        "chunk_id",
    )


def _pack_batch_loop(convs, ns, state, budget):
    """Per-row kernel for one Arrow batch of the greedy packing recurrence.
    ``state = [conv, chunk, acc, rn]`` carries across batches."""
    import numpy as np

    conv, chunk, acc, rn = state
    out_chunk = np.empty(len(ns), dtype=np.int64)
    out_rn = np.empty(len(ns), dtype=np.int64)
    for i in range(len(ns)):
        c, n = convs[i], int(ns[i])
        if c != conv:
            conv, chunk, acc, rn = c, 1, n, 1
        elif acc > 0 and acc + n > budget:
            chunk += 1
            acc = n
            rn += 1
        else:
            acc += n
            rn += 1
        out_chunk[i] = chunk
        out_rn[i] = rn
    state[:] = conv, chunk, acc, rn
    return out_chunk, out_rn


def pack_context_windows(
    df: DataFrame,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    text_col: str = "text",
    budget: int = 64,
    tokenizer: str = "whitespace",
) -> DataFrame:
    """Greedy context-window packing — assign each conversation turn to a
    training chunk so chunks never exceed ``budget`` whitespace tokens
    (an over-budget single turn still gets its own chunk). Returns
    (conv, rn, turn_idx, n_tokens, chunk_id) with ``rn`` the stable 1-based
    position (ordered by (turn_idx, text) — deterministic under injected
    duplicate turn indexes) and ``chunk_id`` numbered 1.. per conversation.

    Greedy packing is inherently sequential per conversation (each boundary
    depends on the previous one), so this is a custom stateful operator.
    Shape: token counts are computed JVM-side (codegen'd ``size(split())``
    — Python never sees the text), rows are hash-repartitioned by
    conversation and sorted within partitions (ONE shuffle; zero on a
    conv_id-bucketed layout), then ``mapInPandas`` streams whole Arrow
    batches through a single carried-state loop — one Python call per
    ~10k-row batch instead of one ``applyInPandas`` call per conversation,
    measured 4.6x faster at sf0.1 (3.58s -> 0.79s, local[32], min-of-3,
    output byte-identical). State carries across batch boundaries, so a
    conversation split across batches packs correctly; per-row state is
    O(1), never corpus-scale. The DuckDB oracle is an independent
    recursive-CTE spec of the same recurrence.

    ``tokenizer`` selects the budget unit of ``token_count_col``:
    ``"whitespace"`` (default) or ``"bpe"`` (greedy-subword counts — still a
    JVM column expression, so the packing recurrence is unchanged and
    Python still never sees the text). NULL text counts 0 tokens, as in the
    oracle, and ``''`` one (one empty token) on both engines.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
    )

    proj = (
        df.select(
            F.col(conv_col),
            F.col(order_col),
            token_count_col(text_col, tokenizer).alias("n_tokens"),
            F.coalesce(F.col(text_col), F.lit("")).alias("_t"),
        )
        .repartition(F.col(conv_col))
        .sortWithinPartitions(conv_col, order_col, "_t")
        .drop("_t")
    )
    out_schema = StructType(
        [
            df.schema[conv_col],
            StructField("rn", LongType()),
            df.schema[order_col],
            StructField("n_tokens", LongType()),
            StructField("chunk_id", LongType()),
        ]
    )

    def pack_iter(batches):
        state = [None, 1, 0, 0]  # conv, chunk, acc, rn — carried across batches
        for pdf in batches:
            convs = pdf[conv_col].to_numpy()
            ns = pdf["n_tokens"].to_numpy()
            out_chunk, out_rn = _pack_batch_loop(convs, ns, state, budget)
            yield pd.DataFrame(
                {
                    conv_col: pdf[conv_col],
                    "rn": out_rn,
                    order_col: pdf[order_col],
                    "n_tokens": pdf["n_tokens"],
                    "chunk_id": out_chunk,
                }
            )

    return proj.mapInPandas(pack_iter, out_schema)


def chunk_text(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Sliding-window document chunking — split each document's whitespace
    tokens into overlapping windows of ``width`` = 16 tokens advancing by
    ``stride`` = 8 (the standard context-window chunking step of a training
    pipeline). Returns (id, chunk_idx, start_tok, n_chunk_tokens,
    chunk_text); a doc with <= ``width`` tokens yields exactly one chunk,
    NULL text yields none, and the last window is the (possibly short)
    tail so every token appears in >=1 chunk.

    Row-local and JVM-side end to end: ``sequence`` builds the start
    offsets, ``posexplode`` fans them out (no shuffle — chunking is
    embarrassingly parallel and stays inside whole-stage codegen), and
    ``slice``/``array_join`` materialize each window. Output multiplicity
    is ~n_tokens/stride per doc — bounded, no skew beyond doc length.
    """
    width, stride = 16, 8
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    n_chunks = (
        F.when(n <= width, F.lit(1).cast("long"))
        .otherwise(F.ceil((n - F.lit(width)) / F.lit(stride)) + F.lit(1))
    )
    starts = F.sequence(
        F.lit(0).cast("long"),
        ((n_chunks - 1) * stride).cast("long"),
        F.lit(stride).cast("long"),
    )
    exploded = df.select(
        F.col(id_col),
        toks.alias("_toks"),
        F.posexplode(starts).alias("_i", "start_tok"),
    )
    chunk = F.slice(F.col("_toks"), F.col("start_tok") + 1, F.lit(width))
    return exploded.select(
        F.col(id_col),
        F.col("_i").cast("long").alias("chunk_idx"),
        F.col("start_tok"),
        F.size(chunk).cast("long").alias("n_chunk_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


def encoding_quality(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Encoding-hygiene signals for corpus filtering: U+FFFD replacement
    characters (mojibake markers), C0 control characters (excluding
    tab/newline/CR), and the ASCII ratio. Counting is done as
    length-minus-stripped-length so the whole operator is pure column
    regexes (JVM regexp_replace, whole-stage codegen, zero shuffle) and
    runs verbatim on the DuckDB oracle. NULL text propagates NULLs; the
    ratio is NULL for empty text.
    """
    n_chars = F.length(text_col)
    repl = n_chars - F.length(F.regexp_replace(F.col(text_col), "�", ""))
    ctrl = n_chars - F.length(
        F.regexp_replace(F.col(text_col), "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]", "")
    )
    n_ascii = F.length(F.regexp_replace(F.col(text_col), "[^\\x00-\\x7f]", ""))
    return df.select(
        F.col(id_col),
        n_chars.cast("bigint").alias("n_chars"),
        repl.cast("bigint").alias("n_repl"),
        ctrl.cast("bigint").alias("n_ctrl"),
        F.when(n_chars > 0, F.round(n_ascii.cast("double") / n_chars, 4)).alias(
            "ascii_ratio"
        ),
    )


def dedup_lines(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Within-document repeated-line removal (CCNet-style preprocessing):
    keep the FIRST occurrence of each line, preserving order. Returns
    (id, clean_text, n_lines, n_dupe_lines); NULL text propagates NULLs.

    Row-local array expressions — a 2-arg ``filter`` lambda receives
    (element, index) and keeps a line iff ``array_position`` (first
    occurrence, 1-based) equals its own position. HOF lambdas run
    interpreted (see BENCH.md), but this is one pass over a doc's line
    array with no aggregation — the row-local form is the right shape
    (zero shuffle, embarrassingly parallel)."""
    lines = F.split(F.col(text_col), "\n")
    # the lambda reads the lines bound once, never re-splitting per line
    kept = _bound(
        lines, lambda ls: F.filter(ls, lambda x, i: F.array_position(ls, x) == i + 1)
    )
    return df.select(
        F.col(id_col),
        F.array_join(kept, "\n").alias("clean_text"),
        F.size(lines).cast("bigint").alias("n_lines"),
        (F.size(lines) - F.size(kept)).cast("bigint").alias("n_dupe_lines"),
    )


def mixture_report(df: DataFrame, group_cols) -> DataFrame:
    """Data-mixture report — the per-source/language accounting every
    training run publishes: docs, whitespace tokens, and each group's share
    of corpus tokens. ONE partial+final hash aggregate over the corpus
    (token counting is a row-local expression inside it); the share comes
    from a whole-relation window over the tiny aggregate output (|groups|
    rows), not a second scan."""
    from pyspark.sql import Window

    gs = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    agg = df.groupBy(*gs).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count_col("text", "whitespace")).alias("n_tokens"),
    )
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return agg.select(
        *gs,
        "n_docs",
        "n_tokens",
        F.round(
            F.col("n_tokens").cast("double") / F.sum("n_tokens").over(wall), 6
        ).alias("token_share"),
    )


def tfidf_top_terms(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms (whitespace tokens, raw tf,
    idf = ln(N / df)) — the keyword-extraction profile of a curation
    pipeline. Returns (id, term, tf, score, rnk) with deterministic
    ranking: (rounded score DESC, term ASC) — ranking on the ROUNDED score
    keeps the window order identical across engines (ln() can differ in
    the last ulp between libm implementations; two true scores within
    1e-4 tie and fall to the lexicographic break).

    Shape: explode -> (doc, term) hash agg (one shuffle, map-side combine);
    document frequency is a COUNT WINDOW over that same tf relation
    partitioned by term — NOT a second aggregate + join, which would
    re-plan (and re-execute) the whole explode+agg subtree (Spark does not
    dedupe common subplans; caught by tools/audit_scans.py) -> per-doc
    ranking window bounded by doc vocabulary. The 1-row N aggregate is a
    broadcast scalar, never a driver collect."""
    from pyspark.sql import Window

    toks = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("doc"),
        F.explode(F.split(F.col(text_col), " ")).alias("term"),
    )
    tf = toks.groupBy("doc", "term").agg(F.count(F.lit(1)).alias("tf"))
    # tf has one row per (doc, term), so rows-per-term == document frequency
    df_t = F.count(F.lit(1)).over(Window.partitionBy("term"))
    n_docs = df.filter(F.col(text_col).isNotNull()).agg(
        F.countDistinct(id_col).alias("n_docs")
    )
    score = F.round(F.col("tf") * F.log(F.col("n_docs") / df_t), 4)
    w = Window.partitionBy("doc").orderBy(F.col("score").desc(), F.col("term").asc())
    return (
        tf.crossJoin(F.broadcast(n_docs))
        .select("doc", "term", "tf", score.alias("score"))
        .withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= 3)
        .select(F.col("doc").alias(id_col), "term", "tf", "score", "rnk")
    )


def _gopher_grams(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """The two Gopher rules' shared prelude: (id, _chars, _g) for each
    document with non-NULL, non-empty text and at least ``n`` words, where
    ``_g`` is its sorted word n-grams, so each distinct n-gram's
    occurrences form one run for the rule's fold."""
    words = F.split(F.col(text_col), " ")
    # length > 0: an empty doc has no characters — the fraction is
    # undefined (and ANSI mode would reject the 0 divisor)
    return df.filter(
        F.col(text_col).isNotNull()
        & (F.length(F.col(text_col)) > 0)
        & (F.size(words) >= n)
    ).select(
        F.col(id_col).alias("id"),
        F.length(F.col(text_col)).alias("_chars"),
        F.array_sort(word_ngrams(words, n)).alias("_g"),
    )


def top_ngram_fraction(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document top word-bigram character fraction — the Gopher
    repetition-quality rule (Rae et al. 2021, public): the share of a
    document's characters covered by occurrences of its single most
    frequent word bigram. Template/boilerplate-heavy documents score high.

    The per-doc mode needs NO cross-row aggregation, so it is computed
    row-locally — ``array_sort`` the n-gram array, then one fold
    (``F.aggregate``) finds the longest run (= most frequent n-gram; strict
    ``>`` keeps the lexicographically first on ties since the array is
    sorted). ZERO shuffles, perfectly parallel. Measured on the 1M-doc bench
    corpus against explode + hash aggregate on (doc, ngram) + a per-doc
    window (one session, min-of-3, BENCH.md): 29.7s vs 52.4s at local[16]
    (1.76x) and 89.6s vs 141.9s at local[4] (1.58x), N→4N scaling 0.75 vs
    0.68 — the explode form's two corpus-scale shuffles of near-unique (id,
    ngram) string keys are memory-bandwidth-bound. That explode form is the
    independent spec this kernel is fuzz-pinned against
    (``tests/test_text.py``).

    char_frac = occurrences · length(ngram) / length(text), LEAST-capped at
    1 (overlapping occurrences are counted per occurrence, the standard
    approximation — same convention as ``dup_ngram_fraction``); documents
    with fewer than 2 words emit no row (no bigram exists).

    Returns (id, top_ngram, n_occurrences, char_frac)."""
    best = F.aggregate(
        F.col("_g"),
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).alias("run"),
            F.lit("").alias("best"),
            F.lit(0).alias("best_run"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1)
            .otherwise(F.lit(1))
            .alias("run"),
            F.when(
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
                > acc["best_run"],
                x,
            )
            .otherwise(acc["best"])
            .alias("best"),
            F.greatest(
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
                acc["best_run"],
            ).alias("best_run"),
        ),
    )
    return _gopher_grams(df, id_col, text_col, 2).select(
        "id", "_chars", best.alias("_b")
    ).select(
        "id",
        F.col("_b.best").alias("top_ngram"),
        F.col("_b.best_run").cast("bigint").alias("n_occurrences"),
        F.round(
            F.least(
                F.lit(1.0),
                F.col("_b.best_run") * F.length("_b.best") / F.col("_chars"),
            ),
            4,
        ).alias("char_frac"),
    )


def dup_ngram_fraction(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document DUPLICATED word-3-gram character fraction — the second
    Gopher repetition rule (Rae et al. 2021): the share of a document's
    characters covered by 3-grams that occur 2+ times within it (the top-1
    rule above catches one dominant template; this catches diffuse
    repetition). Overlapping occurrences are counted per occurrence (the
    standard approximation), so the ratio is LEAST-capped at 1. Only
    documents with at least one duplicated n-gram emit a row.

    Row-local like ``top_ngram_fraction``: sort the per-doc n-gram array
    and fold over runs — a run of length c >= 2 closing contributes (1 dup
    n-gram, c·len chars), with the final run flushed in the aggregate's
    finish lambda; zero shuffles. Fuzz-pinned against the explode +
    (doc, ngram) hash-agg spec, whose corpus-scale shuffles are the same
    memory-bandwidth-bound story as top_ngram_fraction's (BENCH.md).

    Returns (id, n_dup_ngrams, dup_char_frac)."""
    # close_run: the (dup count, dup chars) contribution of the run
    # that just ended — 0 unless it reached length 2
    def step(acc, x):
        closing = (x != acc["prev"]) & (acc["run"] >= 2)
        return F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1)
            .otherwise(F.lit(1))
            .alias("run"),
            (acc["dup_n"] + F.when(closing, 1).otherwise(0)).alias("dup_n"),
            (
                acc["dup_chars"]
                + F.when(
                    closing, acc["run"].cast("long") * F.length(acc["prev"])
                ).otherwise(F.lit(0))
            ).alias("dup_chars"),
        )

    def finish(acc):
        last_dup = acc["run"] >= 2
        return F.struct(
            (acc["dup_n"] + F.when(last_dup, 1).otherwise(0)).alias("dup_n"),
            (
                acc["dup_chars"]
                + F.when(
                    last_dup, acc["run"].cast("long") * F.length(acc["prev"])
                ).otherwise(F.lit(0))
            ).alias("dup_chars"),
        )

    folded = F.aggregate(
        F.col("_g"),
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("dup_n"),
            F.lit(0).cast("long").alias("dup_chars"),
        ),
        step,
        finish,
    )
    return (
        _gopher_grams(df, id_col, text_col, 3)
        .select("id", "_chars", folded.alias("_f"))
        .filter(F.col("_f.dup_n") > 0)
        .select(
            "id",
            F.col("_f.dup_n").cast("bigint").alias("n_dup_ngrams"),
            F.round(
                F.least(
                    F.lit(1.0), F.col("_f.dup_chars") / F.col("_chars")
                ),
                4,
            ).alias("dup_char_frac"),
        )
    )


_ZIPF_MIN_COUNT = 2


def zipf_fit(df: DataFrame, text_col: str, top_k: int = 1000) -> DataFrame:
    """Zipf rank-frequency fit over the corpus vocabulary: least-squares
    slope of ln(freq) on ln(rank) for the top-``top_k`` tokens seen at
    least ``_ZIPF_MIN_COUNT`` times — the classic corpus-health diagnostic
    (natural text ≈ −1; synthetic or template-heavy corpora deviate; Zipf
    1949 / Piantadosi 2014, public).

    Scale shape: explode + one map-side-combined hash aggregate for token
    counts; the top-k cut is ``ORDER BY ... LIMIT k`` — Spark executes it
    as distributed TakeOrdered (per-partition top-k then a k-row merge),
    NEVER a single-task global sort; ranking and the regression aggregates
    (covar_pop / var_pop / corr — identical names in DuckDB) then run on
    the k-row relation. Ties order (freq desc, token asc) on both engines.

    Returns one row (n_types, slope, r_squared)."""
    from pyspark.sql import Window

    counts = (
        df.filter(F.col(text_col).isNotNull())
        .select(F.explode(F.split(F.col(text_col), " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.col("freq") >= _ZIPF_MIN_COUNT)
        .orderBy(F.desc("freq"), F.asc("token"))
        .limit(top_k)
    )
    w = Window.orderBy(F.desc("freq"), F.asc("token"))
    xy = counts.select(
        F.log(F.row_number().over(w).cast("double")).alias("x"),
        F.log(F.col("freq").cast("double")).alias("y"),
    )
    return xy.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.round(F.covar_pop("x", "y") / F.var_pop("x"), 4).alias("slope"),
        F.round(F.pow(F.corr("x", "y"), F.lit(2)), 4).alias("r_squared"),
    )


def pmi_bigrams(
    df: DataFrame, text_col: str, min_count: int = 5, top_k: int = 20
) -> DataFrame:
    """Top corpus collocations by pointwise mutual information:
    PMI(a,b) = ln( p(ab) / (p(a)·p(b)) ) with p(ab) over bigram tokens and
    p(a) over unigram tokens (Church & Hanks 1990, public). ``min_count``
    drops the low-frequency noise PMI is notorious for.

    Scale shape: ONE corpus scan — unigrams and bigrams are built in the
    same row-local HOF projection, tagged, and exploded together, so a
    single map-side-combined hash aggregate produces the (kind, token)
    count table; that vocab-scale relation is persisted (tracked) and
    every downstream branch (unigram side, bigram side, both totals) reads
    the cache. Scoring joins are keyed on the word at vocab scale — never
    a broadcast of the full vocabulary. Ranking uses the ROUNDED pmi (then
    bigram asc) so Spark and DuckDB order identically; the top-k cut is
    distributed TakeOrdered.

    100 TB note: the bigram count is the one inherently corpus-scale
    shuffle (bigram keys are near-unique, so map-side combine can't shrink
    it — measured memory-bandwidth-bound, BENCH.md).

    Returns (bigram, n_ab, pmi) — top_k rows."""
    from ..cache import persist_tracked

    words = F.split(F.col(text_col), " ")
    tagged = F.concat(
        F.transform(words, lambda w: F.struct(F.lit("w").alias("kind"), w.alias("tok"))),
        F.transform(
            word_ngrams(words, 2),
            lambda g: F.struct(F.lit("b").alias("kind"), g.alias("tok")),
        ),
    )
    counts = persist_tracked(
        df.filter(F.col(text_col).isNotNull())
        .select(F.explode(tagged).alias("t"))
        .groupBy(F.col("t.kind").alias("kind"), F.col("t.tok").alias("tok"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    uni = counts.filter(F.col("kind") == "w").select(
        F.col("tok").alias("w"), F.col("c").alias("cw")
    )
    bi_all = counts.filter(F.col("kind") == "b").select(
        F.col("tok").alias("bigram"), F.col("c").alias("n_ab")
    )
    nw = uni.agg(F.sum("cw").alias("_nw"))
    # p(ab)'s denominator is the total over ALL bigram tokens — computed
    # BEFORE the min_count cut (the cut only prunes which pairs are scored)
    nb = bi_all.agg(F.sum("n_ab").alias("_nb"))
    bi = bi_all.filter(F.col("n_ab") >= min_count)
    a = F.split(F.col("bigram"), " ")
    scored = (
        bi.select("bigram", "n_ab", a.getItem(0).alias("_a"), a.getItem(1).alias("_b"))
        .join(uni.select(F.col("w").alias("_a"), F.col("cw").alias("ca")), "_a")
        .join(uni.select(F.col("w").alias("_b"), F.col("cw").alias("cb")), "_b")
        .crossJoin(F.broadcast(nw))
        .crossJoin(F.broadcast(nb))
        .select(
            "bigram",
            F.col("n_ab").cast("bigint").alias("n_ab"),
            F.round(
                F.log(
                    (F.col("n_ab") / F.col("_nb"))
                    / ((F.col("ca") / F.col("_nw")) * (F.col("cb") / F.col("_nw")))
                ),
                4,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.desc("pmi"), F.asc("bigram")).limit(top_k)


def vocab_growth(
    df: DataFrame,
    ts_col: str,
    text_col: str,
) -> DataFrame:
    """Per-day vocabulary growth: daily token volume, how many tokens
    appear for the FIRST time that day, and the running vocabulary size —
    the vocab-drift monitor (a stagnating corpus flattens; a domain shift
    spikes; tokens-vs-vocab is Heaps' law, public reference Heaps 1978).
    One row per day WITH data, including days contributing zero new tokens
    (a zero new-token rate is itself the signal).

    Scale shape: one explode feeding one (day, token) hash aggregate
    (map-side combinable — the only corpus-scale shuffle); each token's
    first day is a window partitioned by token over that aggregate, so
    daily totals and first-appearance counts are ONE aggregate by day; the
    running-sum window runs on the |days|-row relation.
    Returns (day, tokens, new_tokens, vocab_size) ordered by day."""
    from pyspark.sql import Window

    day_tok = (
        df.filter(F.col(text_col).isNotNull())
        .select(
            F.to_date(F.col(ts_col)).alias("day"),
            F.explode(F.split(F.col(text_col), " ")).alias("token"),
        )
        .groupBy("day", "token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    first = F.col("day") == F.min("day").over(Window.partitionBy("token"))
    daily = day_tok.select("day", "n", first.alias("_first")).groupBy("day").agg(
        F.sum("n").alias("tokens"),
        F.count(F.when(F.col("_first"), F.lit(1))).alias("new_tokens"),
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        "day",
        F.col("tokens").cast("bigint").alias("tokens"),
        F.col("new_tokens").cast("bigint").alias("new_tokens"),
        F.sum("new_tokens").over(w).cast("bigint").alias("vocab_size"),
    )


_ADD_K = 0.1


def ngram_perplexity(df: DataFrame, id_col: str, text_col: str, ref_col) -> DataFrame:
    """Bigram-LM perplexity quality filter (the CCNet / RefinedWeb
    architecture: Wenzek et al. 2020 score documents against a reference-
    domain LM and drop the high-perplexity tail). The model is a bigram
    add-k (k = ``_ADD_K``) language model trained on the REFERENCE
    sub-corpus (rows where ``ref_col`` is true); every document — reference
    or not — is scored with its perplexity under that model:

        P(w2 | w1) = (c(w1 w2) + k) / (c(w1 .) + k * (V + 1))
        ppl(doc)   = 2 ^ ( -mean_i log2 P(w_i | w_{i-1}) )

    where c(.) are reference bigram/context counts and V is the reference
    unigram vocabulary (the +1 is the unseen/UNK slot, so an unseen
    context scores k/(k*(V+1)) = 1/(V+1) — deterministic, no special
    cases). Documents with fewer than 2 tokens get NULL perplexity.

    Scale shape: the model is TWO vocabulary-scale aggregations over the
    exploded reference bigram stream (map-side combined; the context table
    derives from the persisted bigram table, not a rescan); V enters as a
    broadcast 1-row crossJoin. Scoring is one keyed join of the corpus
    bigram stream against the model (vocab-scale build side — Spark
    picks broadcast vs shuffle by stats) plus one aggregation per
    (doc, is_ref). The stream is an ``explode_outer``, so a doc with no
    bigrams keeps one row with a NULL log-probability, which
    ``n_bigrams`` does not count: the answer needs no join back to a
    second read of the input. The model and the scoring share that one
    stream. Nothing is driver-side; nothing is quadratic.

    Float note: the per-doc mean of log2 terms is an unordered double sum,
    published at 4 decimals — same tolerance class as the drift
    family. Returns (id_col, is_ref, n_bigrams, ppl)."""
    from ..cache import persist_tracked

    words = F.split(F.col(text_col), " ")
    # (w1, w2) structs, the model's join key; NULL text has none
    bigrams = _bound(
        words,
        lambda ws: F.when(
            F.size(ws) >= 2,
            F.transform(
                F.sequence(F.lit(0), F.size(ws) - 2),
                lambda i: F.struct(
                    F.element_at(ws, i + 1).alias("w1"),
                    F.element_at(ws, i + 2).alias("w2"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>")),
    )

    base = df.select(
        F.col(id_col).alias("_id"),
        ref_col.cast("boolean").alias("is_ref"),
        bigrams.alias("_bg"),
        words.alias("_w"),
    )

    # not explode: Catalyst infers `size(_bg) > 0` from it, a filter that
    # evaluates the interpreted bigram lambda again. A doc with no bigrams
    # keeps one row, whose w1 is NULL (split words never are)
    occ = base.select("_id", "is_ref", F.explode_outer("_bg").alias("g")).select(
        "_id", "is_ref", "g.w1", "g.w2"
    )
    bg = persist_tracked(
        occ.filter(F.col("is_ref") & F.col("w1").isNotNull())
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("_c12"))
    )
    ctx = bg.groupBy("w1").agg(F.sum("_c12").alias("_c1"))
    vocab = (
        base.filter("is_ref")
        .select(F.explode("_w").alias("w"))
        .agg(F.countDistinct("w").cast("double").alias("_v"))
    )

    lp = F.log2(
        (F.coalesce(F.col("_c12"), F.lit(0)) + F.lit(_ADD_K))
        / (
            F.coalesce(F.col("_c1"), F.lit(0))
            + F.lit(_ADD_K) * (F.col("_v") + F.lit(1.0))
        )
    )
    return (
        occ.join(bg, ["w1", "w2"], "left")
        .join(ctx, ["w1"], "left")
        .crossJoin(F.broadcast(vocab))
        .select("_id", "is_ref", F.when(F.col("w1").isNotNull(), lp).alias("_lp"))
        .groupBy("_id", "is_ref")
        .agg(
            F.count("_lp").alias("n_bigrams"),
            F.round(F.pow(F.lit(2.0), -F.avg("_lp")), 4).alias("ppl"),
        )
        .withColumnRenamed("_id", id_col)
    )
