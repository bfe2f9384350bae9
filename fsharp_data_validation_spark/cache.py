"""Cache-lifecycle registry for persisting operators.

An operator persists an intermediate only for data that several actions
read (``ValidationRun``'s per-batch failing slice) or for plan branches that
neither exchange reuse nor a window can merge into one read (both sides of
a corpus-scale self-join; an aggregate whose branches each re-plan a scan);
totals over a small aggregate come from a whole-relation window over it.
The persisting operators: ``ValidationRun.run``, the shingle-set and bucket
tables of ``ngram_jaccard_pairs``, ``minhash_lsh_pairs``,
``containment_dedup_pairs`` and ``cross_contamination_pairs``, the drift
``_grid``, ``skew_report``, ``pmi_bigrams`` and ``ngram_perplexity``.  A
per-row operator whose grouped kernel holds every row of its group
(``semdedup``) returns those rows and persists nothing.
``DataFrame.persist`` has no scope: the storage
lives until someone unpersists it, so a long session running many
operators (the 71-query bench; any real multi-stage curation pipeline)
accumulates executor storage monotonically — at 10^12-row scale that is an
executor-memory leak across operator invocations.

Every ``persist()`` in this package goes through :func:`persist_tracked`,
which registers the DataFrame in a process-wide registry.  Callers release
with :func:`release_caches`, which unpersists everything tracked (and
optionally sweeps localCheckpoint residue), or free one DataFrame they
persisted themselves with :func:`unpersist_tracked`.  ``bench.py`` and
``tools/check_oracle.py`` call ``release_caches`` between queries;
``jobs/validate.py`` calls it per stage, and ``ValidationRun`` frees its
per-batch failing slice with ``unpersist_tracked``.

Unpersisting a tracked DataFrame is always SAFE, never load-bearing: these
are ``persist()`` plans with full lineage, so a later re-evaluation simply
recomputes.  ``localCheckpoint`` RDDs (lineage truncated — CANNOT recompute)
are deliberately NOT tracked; they are freed by the JVM ContextCleaner once
unreferenced, or eagerly by ``release_caches(spark, sweep_rdds=True)`` AFTER
the consuming action has run.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession

_LIVE: list[DataFrame] = []
_LOCK = threading.Lock()


def persist_tracked(df: DataFrame) -> DataFrame:
    """``df.persist()`` + register in the release registry."""
    out = df.persist()
    with _LOCK:
        _LIVE.append(out)
    return out


def unpersist_tracked(df: DataFrame) -> None:
    """Unpersist one tracked DataFrame and drop it from the registry; every
    other tracked DataFrame stays cached (a scoped release, unlike
    :func:`release_caches`)."""
    with _LOCK:
        _LIVE[:] = [d for d in _LIVE if d is not df]
    df.unpersist()


def tracked_count() -> int:
    with _LOCK:
        return len(_LIVE)


def release_caches(spark: SparkSession | None = None, sweep_rdds: bool = False) -> int:
    """Unpersist every tracked DataFrame; returns how many were released.

    ``sweep_rdds=True`` (requires ``spark``) additionally unpersists ALL
    remaining entries of ``sc.getPersistentRDDs()`` — the localCheckpoint
    residue of iterative operators (connected components), whose lineage is
    truncated.  Only sweep at a point where no live plan still references a
    checkpoint (bench/test teardown after the action has run): a swept
    checkpoint cannot be recomputed.
    """
    with _LOCK:
        live, _LIVE[:] = list(_LIVE), []
    n = 0
    for df in reversed(live):
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass
    if sweep_rdds and spark is not None:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        for jrdd in list(jmap.values()):
            try:
                jrdd.unpersist(False)
                n += 1
            except Exception:
                pass
    return n
