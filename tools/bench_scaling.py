"""Scaling-efficiency evidence for the north rule (>=0.8 from N to 4N).

No real cluster exists in this sandbox, so per the task directive the same
job runs at two parallelism levels — default ``local[4]`` (N) and
``local[16]`` (4N) — on the SAME pre-generated input, and we report
throughput at both plus efficiency = (throughput@4N / throughput@N) / 4.

Noise handling (this sandbox is a shared VM with visibly varying per-core
capacity run-to-run):
- each level runs in its OWN subprocess (fresh JVM — no shared executor
  threads, code caches, or shuffle state);
- one warmup pass (codegen + JIT) then ``--iters`` timed passes, min taken
  (the least-interference estimate);
- a pure-CPU calibration probe (fixed work per process at N and 4N
  processes) runs alongside and is reported: it measures the HARDWARE
  scaling ceiling of the box — per-core throughput drops when more cores
  are busy — which bounds any job's achievable efficiency.

Usage:
    python tools/bench_scaling.py                   # gen + N + 4N + BENCH.md
    python tools/bench_scaling.py --turns 20000000 --base 4 --iters 3
    python tools/bench_scaling.py --run 4           # (internal) one level
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from fsharp_data_validation_spark.cache import release_caches  # noqa: E402

DATA_DIR = "/tmp/bench_transcripts"
DOCS_DIR = "/tmp/bench_documents"
VECS_DIR = "/tmp/bench_vectors"


def gen(n_turns: int) -> None:
    from fsharp_data_validation_spark.sources.session import get_spark
    from fsharp_data_validation_spark.sources.synth import synth_transcripts

    spark = get_spark(master="local[32]", app="bench_gen")
    spark.sparkContext.setLogLevel("ERROR")
    # 128 files -> scan stages get 4+ task waves at every parallelism level
    # (single-wave stages are straggler-bound and scale poorly)
    synth_transcripts(spark, n_turns, parallelism=128).write.mode(
        "overwrite"
    ).parquet(DATA_DIR)
    spark.stop()


def gen_docs(n_docs: int) -> None:
    """Deterministic synthetic corpus: ~35-55 words per doc from a shared
    50k vocabulary keyed off xxhash64(id); every id%10==1 doc is a planted
    near-duplicate of id-1 (same base text, mutated tail). Pure column
    expressions over spark.range — no Python, no randomness."""
    from pyspark.sql import functions as F

    from fsharp_data_validation_spark.sources.session import get_spark

    spark = get_spark(master="local[32]", app="bench_gen_docs")
    spark.sparkContext.setLogLevel("ERROR")
    df = spark.range(0, n_docs, 1, 128)
    base = F.when(F.col("id") % 10 == 1, F.col("id") - 1).otherwise(F.col("id"))
    nwords = (F.abs(F.xxhash64(base)) % 20 + 35).cast("int")
    words = F.transform(
        F.sequence(F.lit(0), nwords),
        lambda i: F.concat(
            F.lit("w"),
            F.pmod(F.xxhash64(base * F.lit(100001) + i), F.lit(50000)).cast("string"),
        ),
    )
    text = F.concat(
        F.array_join(words, " "),
        F.when(F.col("id") % 10 == 1, F.lit(" tail mutated here")).otherwise(
            F.lit("")
        ),
    )
    df.select(F.col("id").alias("doc_id"), text.alias("text")).write.mode(
        "overwrite"
    ).parquet(DOCS_DIR)
    spark.stop()


def gen_vecs(n_vecs: int, dim: int = 64) -> None:
    """Deterministic synthetic embedding corpus: v[j] derived from
    xxhash64(id, j) mapped to [-1, 1]; every id%100==1 vector is a planted
    near-duplicate of id-1 (same base coordinates, +0.02 on coordinate 0 —
    cosine ~0.999). Pure column expressions over spark.range, float32 on
    disk (the operators cast to double)."""
    from pyspark.sql import functions as F

    from fsharp_data_validation_spark.sources.session import get_spark

    spark = get_spark(master="local[32]", app="bench_gen_vecs")
    spark.sparkContext.setLogLevel("ERROR")
    df = spark.range(0, n_vecs, 1, 128)
    base = F.when(F.col("id") % 100 == 1, F.col("id") - 1).otherwise(F.col("id"))

    def coord(j):
        h = F.xxhash64(base * F.lit(1_000_003) + F.lit(j))
        x = (F.pmod(h, F.lit(2_000_001)) - F.lit(1_000_000)) / F.lit(1_000_000.0)
        if j == 0:
            x = x + F.when(F.col("id") % 100 == 1, F.lit(0.02)).otherwise(F.lit(0.0))
        return x.cast("float")

    emb = F.array(*[coord(j) for j in range(dim)])
    df.select(F.col("id").alias("vec_id"), emb.alias("embedding")).write.mode(
        "overwrite"
    ).parquet(VECS_DIR)
    spark.stop()


def run_ann(cores: int, iters: int = 3) -> dict:
    """Similarity/ANN family at local[cores] on the synthetic vectors,
    forced concurrently (r3 verdict task #4):

    - cross-corpus blocked GEMM (`cross_corpus_cosine_pairs`): the linear
      contamination shape — train hashed into blocks, small eval side
      replicated per block, one BLAS tile per group;
    - sign-LSH near-dup pairs (`lsh_near_dup_pairs`, 28 planes x 4 tables):
      Arrow-matmul sketch -> (table, bucket) self-join -> exact verify of
      candidates only (planted near-dups at cosine ~0.999 miss a 28-bit
      table with ~33%, all four with ~1.2%)."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import functions as F

    from fsharp_data_validation_spark.operators.similarity import (
        cross_corpus_cosine_pairs,
        lsh_near_dup_pairs,
    )
    from fsharp_data_validation_spark.sources.session import get_spark

    # pin BLAS to one thread per task: otherwise each numpy matmul grabs
    # every core on the box, so the N-level run secretly uses 4N cores and
    # the measured scaling collapses (clusters set OMP_NUM_THREADS=1 per
    # executor core for the same reason)
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"

    spark = get_spark(
        master=f"local[{cores}]",
        app=f"bench_ann_{cores}",
        # shuffle partitions ~8x task slots: the GEMM groups hash into
        # reduce partitions, and at partitions == cores the group-count
        # imbalance makes stragglers (measured: 64 blocks into 4/16
        # partitions scored 0.55; 256 blocks into 8x partitions lets AQE
        # size-balance and was ~2x faster at N)
        shuffle_partitions=cores * 8,
        extra={
            "spark.sql.files.maxPartitionBytes": "4m",
            "spark.sql.files.openCostInBytes": "0",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8m",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    vecs = spark.read.parquet(VECS_DIR)
    n = vecs.count()
    eval_side = vecs.filter(F.col("vec_id") % 200 == 0)

    def force(df):
        df.write.format("noop").mode("overwrite").save()

    def once() -> float:
        t0 = time.perf_counter()
        outs = [
            # blocks bound applyInPandas task parallelism: 8 blocks capped
            # the first run of this bench at 8 concurrent tiles and scored
            # 0.36 N->4N (postmortem in BENCH.md). Size blocks >= 4x the
            # largest parallelism level measured, as a cluster would.
            cross_corpus_cosine_pairs(
                vecs, eval_side, threshold=0.9, blocks=256
            ),
            # 28 planes: buckets stay sparse at n=1M (20 planes measured
            # 6.0M candidate pairs for ~10k true dups — the verify join was
            # pure bandwidth; 28 planes keeps recall ~99% at cos 0.999 and
            # collapses the candidate set)
            lsh_near_dup_pairs(
                vecs, threshold=0.9, dim=64, n_planes=28, n_tables=4
            ),
        ]
        with ThreadPoolExecutor(max_workers=2) as pool:
            list(pool.map(force, outs))
        dt = time.perf_counter() - t0
        release_caches(spark, sweep_rdds=True)
        return dt

    once()
    sec = min(once() for _ in range(iters))
    spark.stop()
    return {"cores": cores, "sec": round(sec, 2), "turns": n,
            "turns_per_sec": round(n / sec, 1)}


def run_dedup(cores: int, iters: int = 3) -> dict:
    """MinHash-LSH near-dup pipeline at local[cores] on the synthetic corpus."""
    from fsharp_data_validation_spark.operators.dedup import minhash_lsh_pairs
    from fsharp_data_validation_spark.sources.session import get_spark

    spark = get_spark(
        master=f"local[{cores}]",
        app=f"bench_dedup_{cores}",
        extra={
            "spark.sql.files.maxPartitionBytes": "4m",
            "spark.sql.files.openCostInBytes": "0",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8m",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(DOCS_DIR)
    n = docs.count()

    def once() -> float:
        t0 = time.perf_counter()
        pairs = minhash_lsh_pairs(docs, "doc_id", "text", 3, 32, 16, 0.8)
        pairs.write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        release_caches(spark, sweep_rdds=True)  # tracked-registry release (matches bench.py lifecycle)
        return dt

    once()
    sec = min(once() for _ in range(iters))
    spark.stop()
    return {"cores": cores, "sec": round(sec, 2), "turns": n,
            "turns_per_sec": round(n / sec, 1)}


def run_span(cores: int, iters: int = 3) -> dict:
    """ExactSubstr span_dedup at local[cores] on the synthetic corpus (the
    planted near-dups share a 35-55-word base text, so real duplicated
    20-gram spans exist and the splice path genuinely runs)."""
    from fsharp_data_validation_spark.operators.dedup import span_dedup
    from fsharp_data_validation_spark.sources.session import get_spark

    spark = get_spark(
        master=f"local[{cores}]",
        app=f"bench_span_{cores}",
        extra={
            "spark.sql.files.maxPartitionBytes": "4m",
            "spark.sql.files.openCostInBytes": "0",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8m",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(DOCS_DIR)
    n = docs.count()

    def once() -> float:
        t0 = time.perf_counter()
        out = span_dedup(docs, "doc_id", "text", gram_len=20)
        out.write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        release_caches(spark, sweep_rdds=True)
        return dt

    once()
    sec = min(once() for _ in range(iters))
    spark.stop()
    return {"cores": cores, "sec": round(sec, 2), "turns": n,
            "turns_per_sec": round(n / sec, 1)}


def run_dsir(cores: int, iters: int = 3) -> dict:
    """DSIR importance weighting at local[cores] on the synthetic corpus
    (pseudo-target = doc_id % 10 < 2, ~20% of docs — the label only gates
    the conditional counts, so any split exercises the full plan)."""
    from pyspark.sql import functions as F

    from fsharp_data_validation_spark.operators.sampling import dsir_weights
    from fsharp_data_validation_spark.sources.session import get_spark

    spark = get_spark(
        master=f"local[{cores}]",
        app=f"bench_dsir_{cores}",
        extra={
            "spark.sql.files.maxPartitionBytes": "4m",
            "spark.sql.files.openCostInBytes": "0",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8m",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(DOCS_DIR)
    n = docs.count()

    def once() -> float:
        t0 = time.perf_counter()
        out = dsir_weights(
            docs, "doc_id", "text", F.col("doc_id") % 10 < 2, n_buckets=10000
        )
        out.write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        release_caches(spark, sweep_rdds=True)
        return dt

    once()
    sec = min(once() for _ in range(iters))
    spark.stop()
    return {"cores": cores, "sec": round(sec, 2), "turns": n,
            "turns_per_sec": round(n / sec, 1)}


def run_sem(cores: int, iters: int = 3) -> dict:
    """SemDeDup at local[cores]: 500k vectors of the synthetic embedding
    corpus, 5,120 sampled-centroid cells (~100 vectors/cell) — the realistic cells-per-corpus
    ratio (~100 vectors/cell) that the chunked-GEMM assignment kernel
    exists for (the 3-D broadcast form would allocate batch x 1024 x 64
    doubles per Arrow batch). Centroids are sampled once OUTSIDE the timed
    region (a fixed quantizer is the production posture; sampling is a
    TakeOrdered + O(cells) collect)."""
    from fsharp_data_validation_spark.operators.similarity import (
        sampled_centroids,
        semdedup,
    )
    from fsharp_data_validation_spark.sources.session import get_spark
    from pyspark.sql import functions as F

    # pin BLAS: the assignment and cell kernels are numpy GEMMs now, and an
    # un-pinned OpenBLAS spawns cpu_count threads that thrash the taskset'd
    # core set (the r4 ann postmortem failure mode)
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"

    spark = get_spark(
        master=f"local[{cores}]",
        app=f"bench_sem_{cores}",
        extra={
            "spark.sql.files.maxPartitionBytes": "4m",
            "spark.sql.files.openCostInBytes": "0",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8m",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    # repartition: the filtered slice reads as a handful of parquet splits,
    # which caps task parallelism at every level and voids the comparison
    # (first run: 7-ish input tasks -> 0.445 "efficiency", i.e. local[16]
    # never filled)
    vecs = (
        spark.read.parquet(VECS_DIR)
        .filter(F.col("vec_id") < 500_000)
        .repartition(128)
    )
    n = vecs.count()
    cents = sampled_centroids(vecs, "vec_id", "embedding", 5120)

    def once() -> float:
        t0 = time.perf_counter()
        out = semdedup(
            vecs, "vec_id", "embedding", threshold=0.9, centroids=cents
        )
        out.write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        release_caches(spark, sweep_rdds=True)
        return dt

    once()
    sec = min(once() for _ in range(iters))
    spark.stop()
    return {"cores": cores, "sec": round(sec, 2), "turns": n,
            "turns_per_sec": round(n / sec, 1)}


def run_textstats(cores: int, iters: int = 3) -> dict:
    """Explode-heavy text-analytics family at local[cores] on the synthetic
    corpus: Gopher top-bigram repetition (per-doc window), Zipf fit
    (TakeOrdered top-k + regression aggregates) and PMI collocations
    (one tagged scan -> persisted (kind, token) counts -> vocab-keyed
    joins), forced concurrently like a multi-tenant analytics batch."""
    from concurrent.futures import ThreadPoolExecutor

    from fsharp_data_validation_spark.operators.text import (
        pmi_bigrams,
        top_ngram_fraction,
        zipf_fit,
    )
    from fsharp_data_validation_spark.sources.session import get_spark

    spark = get_spark(
        master=f"local[{cores}]",
        app=f"bench_textstats_{cores}",
        extra={
            "spark.sql.files.maxPartitionBytes": "4m",
            "spark.sql.files.openCostInBytes": "0",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8m",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(DOCS_DIR)
    n = docs.count()

    def force(df):
        df.write.format("noop").mode("overwrite").save()

    def once() -> float:
        t0 = time.perf_counter()
        outs = [
            top_ngram_fraction(docs, "doc_id", "text", 2),
            zipf_fit(docs, "text", top_k=1000, min_count=2),
            pmi_bigrams(docs, "text", min_count=25, top_k=50),
        ]
        with ThreadPoolExecutor(max_workers=3) as pool:
            list(pool.map(force, outs))
        dt = time.perf_counter() - t0
        release_caches(spark, sweep_rdds=True)  # tracked-registry release (matches bench.py lifecycle)
        return dt

    once()
    sec = min(once() for _ in range(iters))
    spark.stop()
    return {"cores": cores, "sec": round(sec, 2), "turns": n,
            "turns_per_sec": round(n / sec, 1)}


def run_curate(cores: int, iters: int = 3) -> dict:
    """Composed curation pipeline (lang + length gates -> exact-dedup
    keep-first -> hash split) at local[cores] on the synthetic corpus.
    The synthetic vocabulary is digit-heavy ('w12345') so the alpha-ratio
    gate is relaxed to 0; a deterministic lang column (5% 'es') exercises
    the language filter."""
    from pyspark.sql import functions as F

    from fsharp_data_validation_spark.operators.text import curate_corpus
    from fsharp_data_validation_spark.sources.session import get_spark

    spark = get_spark(
        master=f"local[{cores}]",
        app=f"bench_curate_{cores}",
        extra={
            "spark.sql.files.maxPartitionBytes": "4m",
            "spark.sql.files.openCostInBytes": "0",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8m",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(DOCS_DIR).withColumn(
        "lang",
        F.when(F.col("doc_id") % 20 == 0, F.lit("es")).otherwise(F.lit("en")),
    )
    n = docs.count()

    def once() -> float:
        t0 = time.perf_counter()
        out = curate_corpus(
            docs, "doc_id", "text", min_tokens=10, max_tokens=500, min_alpha=0.0
        )
        out.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    once()
    sec = min(once() for _ in range(iters))
    spark.stop()
    return {"cores": cores, "sec": round(sec, 2), "turns": n,
            "turns_per_sec": round(n / sec, 1)}


def run_pipeline(cores: int, iters: int = 3) -> dict:
    """END-TO-END composed pipeline (curate gates -> exact keep-first ->
    MinHash-LSH keep-earliest drop -> md5 split/shard -> BPE-budget
    packing) at local[cores] on the synthetic corpus — ONE lineage, the
    composition a 100 TB user actually submits (`pipeline_e2e`'s operator).
    ``n_shards=64`` so the stateful packing stage's pack-group count never
    bounds parallelism at either level (the documented scale knob);
    ``min_alpha=0`` because the synthetic vocabulary is digit-heavy."""
    from pyspark.sql import functions as F

    from fsharp_data_validation_spark.operators.text import curate_dedup_pack
    from fsharp_data_validation_spark.sources.session import get_spark

    spark = get_spark(
        master=f"local[{cores}]",
        app=f"bench_pipeline_{cores}",
        extra={
            "spark.sql.files.maxPartitionBytes": "4m",
            "spark.sql.files.openCostInBytes": "0",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8m",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(DOCS_DIR).withColumn(
        "lang",
        F.when(F.col("doc_id") % 20 == 0, F.lit("es")).otherwise(F.lit("en")),
    )
    n = docs.count()

    def once() -> float:
        t0 = time.perf_counter()
        out = curate_dedup_pack(
            docs, "doc_id", "text", min_alpha=0.0, n_shards=64
        )
        out.write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        release_caches(spark, sweep_rdds=True)  # LSH stage persists sets/buckets
        return dt

    once()
    sec = min(once() for _ in range(iters))
    spark.stop()
    return {"cores": cores, "sec": round(sec, 2), "turns": n,
            "turns_per_sec": round(n / sec, 1)}


def run_pack(cores: int, iters: int = 3) -> dict:
    """Greedy context-window packing (the custom stateful Arrow op) at
    local[cores] on the synthetic transcript table — evidences that the
    mapInPandas + carried-state shape scales, not just pure-JVM plans."""
    from fsharp_data_validation_spark.operators.text import pack_context_windows
    from fsharp_data_validation_spark.sources.session import get_spark

    spark = get_spark(
        master=f"local[{cores}]",
        app=f"bench_pack_{cores}",
        extra={
            "spark.sql.files.maxPartitionBytes": "4m",
            "spark.sql.files.openCostInBytes": "0",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8m",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    t = spark.read.parquet(DATA_DIR)
    n = t.count()

    def once() -> float:
        t0 = time.perf_counter()
        pack_context_windows(t, "conv_id", "turn_idx", "text", 64).write.format(
            "noop"
        ).mode("overwrite").save()
        return time.perf_counter() - t0

    once()
    sec = min(once() for _ in range(iters))
    spark.stop()
    return {"cores": cores, "sec": round(sec, 2), "turns": n,
            "turns_per_sec": round(n / sec, 1)}


def run_suite(cores: int, iters: int = 3) -> dict:
    """One full-constraint-suite pass at local[cores]; prints JSON."""
    from pyspark.sql import functions as F

    from fsharp_data_validation_spark.operators.crossrow import (
        ordering_violations,
        referential_violations,
        uniqueness_violations,
    )
    from fsharp_data_validation_spark.operators.drift import histogram, psi
    from fsharp_data_validation_spark.operators.stats import approx_quantiles, column_profile
    from fsharp_data_validation_spark.operators.transcript_suite import transcript_row_suite
    from fsharp_data_validation_spark.sources.session import get_spark
    from fsharp_data_validation_spark.sources.transcripts import tool_catalog

    # Size scan splits to the data, not the 128 MB default: the synthetic
    # table is ~0.5 GB in 128 small files, which the file source would pack
    # into ~8 splits — an 8-task scan stage cannot use 16+ cores, and at
    # petabyte scale you'd have thousands of splits per stage. 4 MB splits +
    # zero open-cost reproduce the many-splits regime locally.
    spark = get_spark(
        master=f"local[{cores}]",
        app=f"bench_scaling_{cores}",
        extra={
            "spark.sql.files.maxPartitionBytes": "4m",
            "spark.sql.files.openCostInBytes": "0",
            # keep AQE-coalesced reduce stages wider than the core count at
            # this (small) local scale; at real scale partitions are fat and
            # coalescing never drops below cluster parallelism
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8m",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    def force(df):
        df.write.format("noop").mode("overwrite").save()

    t = spark.read.parquet(DATA_DIR)
    n = t.count()  # warms scan/footers; not timed

    def suite() -> float:
        from concurrent.futures import ThreadPoolExecutor

        lens = t.select(F.length("text").alias("text_len"), "ts")
        mid = F.lit(1_700_000_000 + n // 2)
        res = transcript_row_suite().run(t, ["conv_id", "turn_idx", "ts"])
        outputs = [
            res.violations,
            res.valid,
            uniqueness_violations(t, ["conv_id", "turn_idx"]),
            referential_violations(
                t, "tool", tool_catalog(spark), "tool", ["conv_id", "turn_idx", "tool"]
            ),
            ordering_violations(t),
            column_profile(
                t, ["conv_id", "turn_idx", "role", "text", "tool"], exact_distinct=False
            ),
            psi(
                histogram(lens.filter(F.unix_seconds("ts") < mid), "text_len", 25.0, 20),
                histogram(lens.filter(F.unix_seconds("ts") >= mid), "text_len", 25.0, 20),
            ),
        ]
        # independent checks submitted concurrently — the scheduler keeps
        # every core busy across job boundaries (as a multi-tenant cluster
        # would); per-job planning gaps overlap instead of serializing
        names = [
            "violations", "valid", "uniqueness", "referential",
            "ordering", "profile", "psi",
        ]

        def timed_force(pair):
            name, df = pair
            s0 = time.perf_counter()
            force(df)
            print(
                f"  [{cores}] {name}: {time.perf_counter() - s0:.2f}s",
                file=sys.stderr,
            )

        t0 = time.perf_counter()
        with ThreadPoolExecutor(max_workers=4) as pool:
            list(pool.map(timed_force, zip(names, outputs)))
        return time.perf_counter() - t0

    suite()  # warmup pass: whole-stage-codegen compile, JIT, broadcast init
    sec = min(suite() for _ in range(iters))  # min = least host interference
    spark.stop()
    return {"cores": cores, "sec": round(sec, 2), "turns": n,
            "turns_per_sec": round(n / sec, 1)}


def _burn(n: int) -> int:
    x = 0
    for i in range(n):
        x += i * i
    return x


def _stream(_: int) -> float:
    """Fixed-size memory-streaming work unit (2 GB moved per call)."""
    import numpy as np

    a = np.ones(32_000_000)
    b = np.empty_like(a)
    t0 = time.perf_counter()
    for _ in range(4):
        b[:] = a
        a[:] = b
    return time.perf_counter() - t0


def mem_bandwidth_ceiling(base: int) -> dict:
    """Memory-bandwidth calibration: fixed streaming work per process at N
    vs 4N busy processes. This box's memory bus saturates (~23 GB/s
    aggregate measured), so per-core bandwidth collapses as cores go busy —
    a FULLY bandwidth-bound job cannot scale here no matter the plan. The
    ratio bounds achievable N->4N efficiency for the bandwidth-bound
    fraction of any job; a real N->4N EXECUTOR scale-out multiplies memory
    buses and does not have this confound. (The CPU probe `cpu_ceiling`
    is cache-resident and blind to it.)"""
    import multiprocessing as mp

    def run(procs: int) -> float:
        with mp.Pool(procs) as p:
            p.map(_stream, range(procs))  # warm
            best = None
            for _ in range(3):
                m = max(p.map(_stream, range(procs)))
                best = m if best is None else min(best, m)
        return best

    t_n = run(base)
    t_4n = run(base * 4)
    slowdown = t_4n / t_n
    return {
        "percore_bandwidth_slowdown_at_4n": round(slowdown, 3),
        "bandwidth_max_efficiency": round(1.0 / slowdown, 3),
    }


def cpu_ceiling(base: int, work: int = 30_000_000) -> dict:
    """Hardware calibration: fixed work per process at N vs 4N busy cores.
    Per-core throughput drop when 4N cores are busy bounds ANY job's
    achievable N->4N efficiency on this box."""
    import multiprocessing as mp

    def run(procs: int) -> float:
        t0 = time.perf_counter()
        with mp.Pool(procs) as p:
            p.map(_burn, [work] * procs)
        return time.perf_counter() - t0

    run(base)  # warm pool/forks
    t_n = min(run(base) for _ in range(3))
    t_4n = min(run(base * 4) for _ in range(3))
    slowdown = t_4n / t_n
    return {
        "percore_slowdown_at_4n": round(slowdown, 3),
        "hardware_max_efficiency": round(1.0 / slowdown, 3),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--turns", type=int, default=40_000_000)
    ap.add_argument("--docs", type=int, default=2_000_000)
    ap.add_argument("--base", type=int, default=4, help="N (4N is derived)")
    ap.add_argument("--iters", type=int, default=3)
    ap.add_argument("--vecs", type=int, default=1_000_000)
    ap.add_argument("--mode", choices=["suite", "dedup", "curate", "pack", "textstats", "ann", "pipeline", "span", "dsir", "sem"], default="suite")
    ap.add_argument("--run", type=int, default=None)
    ap.add_argument(
        "--taskset",
        action="store_true",
        help="pin each level's whole process tree (JVM + python workers) to "
        "that many physical cores via taskset. Task slots alone do NOT bound "
        "CPU for pandas-UDF ops: python workers run beside the JVM task "
        "threads, so un-pinned local[N] burns ~2N cores on python-heavy "
        "families and the measured N->4N ratio collapses (ann postmortems in "
        "BENCH.md). OS pinning is the faithful two-cluster-sizes emulation.",
    )
    args = ap.parse_args()

    if args.run:
        fn = {"dedup": run_dedup, "curate": run_curate, "pack": run_pack,
              "suite": run_suite, "textstats": run_textstats, "ann": run_ann,
              "pipeline": run_pipeline, "span": run_span, "dsir": run_dsir, "sem": run_sem}[args.mode]
        print(json.dumps(fn(args.run, args.iters)))
        return

    if args.mode in ("dedup", "curate", "textstats", "pipeline", "span", "dsir"):
        if not os.path.exists(DOCS_DIR + "/_SUCCESS"):
            print(f"generating {args.docs:,} docs -> {DOCS_DIR}", file=sys.stderr)
            gen_docs(args.docs)
    elif args.mode in ("ann", "sem"):
        if not os.path.exists(VECS_DIR + "/_SUCCESS"):
            print(f"generating {args.vecs:,} vectors -> {VECS_DIR}", file=sys.stderr)
            gen_vecs(args.vecs)
    elif not os.path.exists(DATA_DIR + "/_SUCCESS"):
        print(f"generating {args.turns:,} turns -> {DATA_DIR}", file=sys.stderr)
        gen(args.turns)

    ceiling = cpu_ceiling(args.base)
    ceiling.update(mem_bandwidth_ceiling(args.base))
    print(json.dumps(ceiling), file=sys.stderr)

    lo, hi = args.base, args.base * 4
    results = {}
    for cores in (lo, hi):
        cmd = [sys.executable, os.path.abspath(__file__), "--run", str(cores),
               "--iters", str(args.iters), "--mode", args.mode]
        if args.taskset:
            cmd = ["taskset", "-c", f"0-{cores - 1}"] + cmd
        out = subprocess.run(
            cmd,
            capture_output=True, text=True, check=True, cwd=ROOT,
        )
        results[cores] = json.loads(out.stdout.strip().splitlines()[-1])
        for line in out.stderr.splitlines():
            if line.startswith("  ["):
                print(line, file=sys.stderr)
        print(json.dumps(results[cores]), file=sys.stderr)

    eff = (results[hi]["turns_per_sec"] / results[lo]["turns_per_sec"]) / 4
    hw_adj = round(eff / ceiling["hardware_max_efficiency"], 3)
    metric = {
        "dedup": "near-dup docs/sec, MinHash(32)+16x2-band LSH + exact verify",
        "curate": "curated docs/sec, composed curation pipeline",
        "pack": "packed turns/sec, stateful context-window packing (mapInPandas)",
        "suite": "validated turns/sec, full constraint suite",
        "pipeline": "packed docs/sec, END-TO-END composed pipeline (curate -> LSH dedup -> split/shard -> BPE pack)",
        "textstats": "analyzed docs/sec, text-analytics family (top-ngram + Zipf + PMI)",
        "span": "span-deduped docs/sec, ExactSubstr duplicated-span removal (gram_len=20)",
        "dsir": "scored docs/sec, DSIR hashed-n-gram importance weighting (10k buckets)",
        "sem": "semantically-deduped vectors/sec, SemDeDup (5,120 cells, GEMM kernels)",
        "ann": "searched vectors/sec, similarity family (blocked-GEMM cross-corpus + sign-LSH near-dup)",
    }[args.mode]
    summary = {
        "metric": metric,
        "mode": args.mode,
        "turns": results[hi]["turns"],
        "n_cores": lo,
        "4n_cores": hi,
        "throughput_n": results[lo]["turns_per_sec"],
        "throughput_4n": results[hi]["turns_per_sec"],
        "sec_n": results[lo]["sec"],
        "sec_4n": results[hi]["sec"],
        "scaling_efficiency": round(eff, 3),
        "hardware_max_efficiency": ceiling["hardware_max_efficiency"],
        "efficiency_vs_hardware_ceiling": hw_adj,
        "bandwidth_max_efficiency": ceiling["bandwidth_max_efficiency"],
        "pass": eff >= 0.8,
    }
    print(json.dumps(summary))
    job_desc = {
        "dedup": "MinHash(32-hash)+16x2-band LSH near-dup pipeline (shingle -> "
        "signature agg -> band explode -> bucket self-join -> exact-Jaccard verify) "
        f"on a deterministic synthetic corpus ({summary['turns']:,} docs with "
        "planted near-dups, `tools/bench_scaling.py gen_docs`)",
        "curate": "composed corpus-curation pipeline (lang + token-length gates in "
        "the scan stage -> exact-dedup keep-first window on md5(text), ONE shuffle "
        f"-> deterministic hash train/test split) on the same synthetic corpus "
        f"({summary['turns']:,} docs, `tools/bench_scaling.py gen_docs`)",
        "pack": "greedy context-window packing (JVM-side token counts -> hash "
        "repartition by conv_id -> sorted mapInPandas with cross-batch carried "
        f"state) on the synthetic transcript table ({summary['turns']:,} turns)",
        "pipeline": "END-TO-END composed training-data pipeline as ONE lineage "
        "(lang+length gates in the scan stage -> exact-dedup keep-first window -> "
        "MinHash(32)+16x2-band LSH with exact-Jaccard verify -> keep-earliest "
        "left-anti drop -> md5 split + 64-way md5 shard -> greedy BPE-budget "
        f"packing via carried-state mapInPandas) on the same synthetic corpus "
        f"({summary['turns']:,} docs with planted near-dups, "
        "`tools/bench_scaling.py gen_docs`)",
        "suite": "full constraint suite (row refute/dispute suite -> violations+valid, "
        "uniqueness, referential broadcast anti-join, ordering window, column profile "
        f"with HLL distincts, PSI drift) on a deterministic synthetic transcript table "
        f"({summary['turns']:,} turns, `sources/synth.py`, skewed conv_id + injected "
        "violations, 128 files)",
        "sem": "SemDeDup semantic dedup (chunked-GEMM argmin assignment of every "
        "vector to 5,120 sampled-centroid cells via an Arrow pandas UDF -> "
        "one applyInPandas GEMM per cell reducing the cosine matrix to "
        "earlier-neighbor counts in-kernel (quadratic work in the largest cell "
        "only, ~100 vectors/cell; O(n) shuffle bytes) -> keep-earliest flag per "
        f"vector) on {summary['turns']:,} x 64-dim synthetic vectors with planted "
        "near-dups (`tools/bench_scaling.py gen_vecs`)",
        "dsir": "DSIR importance weighting (row-local unigram+bigram projection "
        "-> explode -> map-side-combined conditional bucket counts (<=10k rows "
        "shuffled) -> persisted KB bucket model broadcast back into a second gram "
        "explode -> per-doc log-ratio hash aggregation) on the same synthetic "
        f"corpus ({summary['turns']:,} docs, ~20% pseudo-target split, "
        "`tools/bench_scaling.py gen_docs`)",
        "span": "ExactSubstr-style duplicated-span removal (row-local 20-gram "
        "struct projection -> explode -> ONE shuffle: row_number window over gram "
        "key picks the keep-earliest owner, rank>1 rows are the duplicated spans "
        "-> per-doc span lists -> row-local HOF splice) on the same synthetic "
        f"corpus ({summary['turns']:,} docs with planted near-dups sharing "
        "35-55-word bases, `tools/bench_scaling.py gen_docs`)",
        "textstats": "text-analytics family forced concurrently (Gopher top-bigram "
        "repetition: HOF n-gram build -> explode -> hash agg -> per-doc window; Zipf "
        "fit: token counts -> distributed TakeOrdered top-1000 -> regression "
        "aggregates; PMI collocations: ONE tagged scan -> persisted (kind, token) "
        f"counts -> vocab-keyed scoring joins) on the same synthetic corpus "
        f"({summary['turns']:,} docs, `tools/bench_scaling.py gen_docs`)",
        "ann": "similarity/ANN family forced concurrently (cross-corpus blocked "
        "GEMM: train hashed into 256 blocks, eval side replicated per block, one "
        "float64 BLAS tile per group, threshold filter in the kernel; sign-LSH "
        "near-dup: Arrow-matmul 28-plane x 4-table sketch -> (table, bucket) "
        "self-join -> exact cosine verify of candidates only) on a deterministic "
        f"synthetic embedding corpus ({summary['turns']:,} x 64-dim vectors with "
        "planted near-dups at cosine ~0.999, `tools/bench_scaling.py gen_vecs`)",
    }[args.mode]
    unit = ("validated turns/sec" if args.mode == "suite"
            else "packed docs/sec" if args.mode == "pipeline"
            else "turns/sec" if args.mode == "pack"
            else "vectors/sec" if args.mode in ("ann", "sem") else "docs/sec")
    pin_note = (
        " Each level's whole process tree (JVM + pandas-UDF python workers) is "
        "OS-pinned to exactly that many physical cores (`taskset`), the faithful "
        "cluster-size emulation for python-heavy stages."
        if args.taskset
        else ""
    )
    section = (
        f"\n## {summary['metric']}\n\n"
        f"Same job — {job_desc} — at two parallelism levels, one fresh JVM per level; "
        f"warmup pass then min of {args.iters} timed passes (shared-VM noise "
        f"suppression).{pin_note}\n\n"
        f"| parallelism | wall sec | {unit} |\n|---|---|---|\n"
        f"| local[{lo}] (N) | {summary['sec_n']} | {summary['throughput_n']:,} |\n"
        f"| local[{hi}] (4N) | {summary['sec_4n']} | {summary['throughput_4n']:,} |\n\n"
        f"**Scaling efficiency (N -> 4N) = (tp_4N/tp_N)/4 = "
        f"{summary['scaling_efficiency']}** "
        f"({'PASS' if summary['pass'] else 'FAIL'} vs the >=0.8 requirement). "
        f"Same-session hardware calibration: cache-resident CPU per-core "
        f"throughput drops {ceiling['percore_slowdown_at_4n']}x with 4N cores "
        f"busy (CPU ceiling {ceiling['hardware_max_efficiency']}); per-core "
        f"MEMORY BANDWIDTH drops "
        f"{ceiling['percore_bandwidth_slowdown_at_4n']}x (bandwidth ceiling "
        f"{ceiling['bandwidth_max_efficiency']} — this box's single memory bus "
        f"saturates, a confound a real N->4N executor scale-out does not have; "
        f"probes are noisy on this shared VM, hence min-of-N passes).\n"
    )
    with open(os.path.join(ROOT, "BENCH.md"), "a") as f:
        f.write(section)


if __name__ == "__main__":
    main()
