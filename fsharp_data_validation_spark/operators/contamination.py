"""Benchmark-decontamination operators: find evaluation documents that leak
into a training corpus. The two standard checks a large-scale training
pipeline runs before training:

- ``cross_contamination_pairs`` — eval docs that are NEAR-DUPLICATES of a
  training doc (n-gram Jaccard >= t), via the same prefix-filtered
  inverted-index join as in-corpus dedup (operators/dedup.py) restricted to
  cross-corpus candidates. Sub-quadratic: hot shingles never generate
  candidates, and the candidate join only pairs train-side with eval-side
  prefixes.
- ``ngram_containment`` — per eval doc, the fraction of its distinct word
  n-grams that appear ANYWHERE in the training corpus (the classic
  "n-gram overlap" contamination metric). One distinct-aggregate over the
  training corpus + one broadcast-or-shuffle hash join; at 10^12-token
  scale the train n-gram set is the big side, so the join shuffles on the
  n-gram (eval side is tiny — typical benchmarks are <10^6 grams, which a
  bloom filter or broadcast would prune before the shuffle; Spark's AQE
  picks the broadcast automatically when the eval side fits).

No reference counterpart (SURVEY.md §2.8): the reference is a single-value
validation library.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..cache import persist_tracked
from .dedup import (
    _jaccard,
    _rarest_prefix,
    _shingle_rows,
    _shingle_sets,
    _verify_sets,
    shingles,
)

_THRESHOLD = 0.8  # cross-corpus Jaccard of a contaminated pair


def cross_contamination_pairs(
    train: DataFrame, eval_df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """(train_id, eval_id, sim) for every cross-corpus pair with exact
    shingle Jaccard >= ``_THRESHOLD``. Prefix filter (AllPairs/PPJoin, no recall
    loss): document frequencies are computed over BOTH corpora so the
    rarest-first shingle ranking is one global order; a true pair's
    prefixes must intersect, and only prefix shingles enter the candidate
    join — restricted to (train x eval), never within a side."""
    sets_t = persist_tracked(_shingle_sets(train, id_col, text_col))
    sets_e = persist_tracked(_shingle_sets(eval_df, id_col, text_col))

    ex_t, ex_e = _shingle_rows(sets_t), _shingle_rows(sets_e)
    corpus = ex_t.select("sh1").union(ex_e.select("sh1"))

    def prefix(ex):
        return _rarest_prefix(ex, corpus, _THRESHOLD).select("doc_id", "sh1")

    cand = (
        prefix(ex_t)
        .withColumnRenamed("doc_id", "id_a")
        .join(prefix(ex_e).withColumnRenamed("doc_id", "id_b"), "sh1")
        .select("id_a", "id_b")
        .distinct()
    )
    # verify against the union of both set tables (ids are disjoint roles:
    # id_a always train-side, id_b always eval-side)
    sets_all = sets_t.union(sets_e)
    # NOTE: the set tables stay persisted for the lifetime of the returned
    # plan (same policy as the dedup ops) — an eager unpersist() here would
    # drop the cache BEFORE the caller ever evaluates the DataFrame, making
    # every downstream branch (dfreq, both prefixes, verify) re-shingle
    # from scratch.
    return _verify_sets(cand, sets_all, _jaccard, "sim", _THRESHOLD).select(
        F.col("id_a").alias("train_id"), F.col("id_b").alias("eval_id"), "sim"
    )


def ngram_containment(
    train: DataFrame, eval_df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Per eval doc: (eval_id, n_grams, n_hit, containment) where
    ``containment`` = |distinct shingles of the doc ∩ train shingle set| /
    |distinct shingles of the doc| (``dedup.shingles``). Raw STRING
    shingles (not hashed) so the metric is exact and the DuckDB oracle runs
    the identical construction. Eval docs too short for one shingle are
    absent from the output (consistent on both engines)."""
    tg = (
        train.select(F.explode(shingles(F.col(text_col))).alias("g"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    eg = eval_df.select(
        F.col(id_col).alias("eval_id"),
        F.explode(shingles(F.col(text_col))).alias("g"),
    )
    joined = eg.join(tg, "g", "left")
    return joined.groupBy("eval_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.coalesce(F.sum("_hit"), F.lit(0)).cast("bigint").alias("n_hit"),
        F.round(
            F.coalesce(F.sum("_hit"), F.lit(0)).cast("double") / F.count(F.lit(1)),
            4,
        ).alias("containment"),
    )
