"""Scaling-efficiency evidence for the north rule (>=0.8 from N to 4N).

No real cluster exists in this sandbox, so per the task directive the same
job runs at two parallelism levels — default ``local[4]`` (N) and
``local[16]`` (4N) — on the SAME pre-generated input, and we report
throughput at both plus efficiency = (throughput@4N / throughput@N) / 4.

Each mode is one ``Mode`` record in ``MODES`` (its input, BENCH.md text,
load step and outputs); ``run`` is the one timing loop every mode shares.

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
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from typing import Callable

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import DataFrame, SparkSession, functions as F  # noqa: E402

from fsharp_data_validation_spark.cache import release_caches  # noqa: E402
from fsharp_data_validation_spark.operators import (  # noqa: E402
    crossrow, dedup, drift, sampling, similarity, stats, text, transcript_suite,
)
from fsharp_data_validation_spark.sources.session import get_spark  # noqa: E402
from fsharp_data_validation_spark.sources import synth, transcripts  # noqa: E402

# Size scan splits to the data, not the 128 MB default: the synthetic
# table is ~0.5 GB in 128 small files, which the file source would pack
# into ~8 splits — an 8-task scan stage cannot use 16+ cores, and at
# petabyte scale you'd have thousands of splits per stage. 4 MB splits +
# zero open-cost reproduce the many-splits regime locally.
SPLITS = {
    "spark.sql.files.maxPartitionBytes": "4m",
    "spark.sql.files.openCostInBytes": "0",
    # keep AQE-coalesced reduce stages wider than the core count at
    # this (small) local scale; at real scale partitions are fat and
    # coalescing never drops below cluster parallelism
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8m",
}


def gen(spark: SparkSession, n_turns: int) -> DataFrame:
    """The synthetic transcript table (``sources/synth.py``)."""
    # 128 files -> scan stages get 4+ task waves at every parallelism level
    # (single-wave stages are straggler-bound and scale poorly)
    return synth.synth_transcripts(spark, n_turns, parallelism=128)


def gen_docs(spark: SparkSession, n_docs: int) -> DataFrame:
    """Deterministic synthetic corpus: ~35-55 words per doc from a shared
    50k vocabulary keyed off xxhash64(id); every id%10==1 doc is a planted
    near-duplicate of id-1 (same base text, mutated tail). Pure column
    expressions over spark.range — no Python, no randomness."""
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
    body = F.concat(
        F.array_join(words, " "),
        F.when(F.col("id") % 10 == 1, F.lit(" tail mutated here")).otherwise(F.lit("")),
    )
    return df.select(F.col("id").alias("doc_id"), body.alias("text"))


def gen_vecs(spark: SparkSession, n_vecs: int) -> DataFrame:
    """Deterministic synthetic 64-dim embedding corpus: v[j] derived from
    xxhash64(id, j) mapped to [-1, 1]; every id%100==1 vector is a planted
    near-duplicate of id-1 (same base coordinates, +0.02 on coordinate 0 —
    cosine ~0.999). Pure column expressions over spark.range, float32 on
    disk; the operators carry it at that width and widen it to float64
    (exactly) in numpy."""
    df = spark.range(0, n_vecs, 1, 128)
    base = F.when(F.col("id") % 100 == 1, F.col("id") - 1).otherwise(F.col("id"))

    def coord(j):
        h = F.xxhash64(base * F.lit(1_000_003) + F.lit(j))
        x = (F.pmod(h, F.lit(2_000_001)) - F.lit(1_000_000)) / F.lit(1_000_000.0)
        if j == 0:
            x = x + F.when(F.col("id") % 100 == 1, F.lit(0.02)).otherwise(F.lit(0.0))
        return x.cast("float")

    emb = F.array(*[coord(j) for j in range(64)])
    return df.select(F.col("id").alias("vec_id"), emb.alias("embedding"))


@dataclass(frozen=True)
class Input:
    """A generated input table: size flag (--turns/--docs/--vecs), dir, generator."""

    flag: str
    dir: str
    gen: Callable[[SparkSession, int], DataFrame]


TURNS = Input("turns", "/tmp/bench_transcripts", gen)
DOCS = Input("docs", "/tmp/bench_documents", gen_docs)
VECS = Input("vecs", "/tmp/bench_vectors", gen_vecs)


def write_input(inp: Input, n: int) -> None:
    """Generate ``n`` rows of ``inp`` into its directory, in its own session."""
    spark = get_spark(master="local[32]", app=f"bench_gen_{inp.flag}")
    spark.sparkContext.setLogLevel("ERROR")
    inp.gen(spark, n).write.mode("overwrite").parquet(inp.dir)
    spark.stop()


@dataclass(frozen=True)
class Mode:
    """One scaling mode. ``load`` turns the input table into the counted
    frame plus keyword extras for ``outputs``, outside the timed region;
    ``outputs(spark, df, **extras)`` builds the named frames one timed pass
    forces. ``desc`` is the BENCH.md job description (``{n:,}`` = the
    counted rows) and ``unit`` its throughput column."""

    input: Input
    metric: str
    desc: str
    unit: str
    outputs: Callable[..., list]
    load: Callable[[DataFrame], tuple] = lambda df: (df, {})
    # pin BLAS to one thread per task: otherwise each numpy matmul grabs
    # every core on the box, so the N-level run secretly uses 4N cores and
    # the measured scaling collapses (clusters set OMP_NUM_THREADS=1 per
    # executor core for the same reason; the r4 ann postmortem)
    pin_blas: bool = False
    # shuffle partitions = cores x this (None: get_spark's cores)
    shuffle_per_core: int | None = None


def _suite(spark, t, mid):
    lens = t.select(F.length("text").alias("text_len"), "ts")
    res = transcript_suite.transcript_row_suite().run(t, ["conv_id", "turn_idx", "ts"])
    return [
        ("violations", res.violations),
        ("valid", res.valid),
        ("uniqueness", crossrow.uniqueness_violations(t, ["conv_id", "turn_idx"])),
        ("referential", crossrow.referential_violations(
            t, "tool", transcripts.tool_catalog(spark), "tool", ["conv_id", "turn_idx", "tool"])),
        ("ordering", crossrow.ordering_violations(t)),
        ("profile", stats.column_profile(
            t, ["conv_id", "turn_idx", "role", "text", "tool"], exact_distinct=False)),
        ("psi", drift.psi(
            drift.histogram(lens.filter(F.unix_seconds("ts") < mid), "text_len", 25.0, 20),
            drift.histogram(lens.filter(F.unix_seconds("ts") >= mid), "text_len", 25.0, 20))),
    ]


def _with_lang(docs):
    """A deterministic lang column (5% 'es') exercises the language filter."""
    lang = F.when(F.col("doc_id") % 20 == 0, F.lit("es")).otherwise(F.lit("en"))
    return docs.withColumn("lang", lang), {}


def _sem_load(vecs):
    """The first 500k vectors and 5,120 sampled-centroid cells (~100
    vectors/cell) — the realistic cells-per-corpus ratio that the
    chunked-GEMM assignment kernel exists for (the 3-D broadcast form would
    allocate batch x 1024 x 64 doubles per Arrow batch). Centroids are
    sampled once OUTSIDE the timed region (a fixed quantizer is the
    production posture; sampling is a TakeOrdered + O(cells) collect)."""
    # repartition: the filtered slice reads as a handful of parquet splits,
    # which caps task parallelism at every level and voids the comparison
    # (first run: 7-ish input tasks -> 0.445 "efficiency", i.e. local[16]
    # never filled)
    vecs = vecs.filter(F.col("vec_id") < 500_000).repartition(128)
    return vecs, {"centroids": similarity.sampled_centroids(vecs, "vec_id", "embedding", 5120)}


MODES = {
    "suite": Mode(
        TURNS,
        "validated turns/sec, full constraint suite",
        "full constraint suite (row refute/dispute suite -> violations+valid, "
        "uniqueness, referential broadcast anti-join, ordering window, column profile "
        "with HLL distincts, PSI drift) on a deterministic synthetic transcript table "
        "({n:,} turns, `sources/synth.py`, skewed conv_id + injected violations, 128 "
        "files)",
        "validated turns/sec",
        _suite,
        load=lambda t: (t, {"mid": F.lit(1_700_000_000 + t.count() // 2)}),
    ),
    "dedup": Mode(
        DOCS,
        "near-dup docs/sec, MinHash(32)+16x2-band LSH + exact verify",
        "MinHash(32-hash)+16x2-band LSH near-dup pipeline (shingle -> signature agg -> "
        "band explode -> bucket self-join -> exact-Jaccard verify) on a deterministic "
        "synthetic corpus ({n:,} docs with planted near-dups, `tools/bench_scaling.py "
        "gen_docs`)",
        "docs/sec",
        lambda spark, docs: [
            ("minhash_lsh_pairs", dedup.minhash_lsh_pairs(docs, "doc_id", "text"))
        ],
    ),
    "curate": Mode(
        DOCS,
        "curated docs/sec, composed curation pipeline",
        "composed corpus-curation pipeline (lang + token-length gates in the scan "
        "stage -> exact-dedup keep-first window on md5(text), ONE shuffle -> "
        "deterministic hash train/test split) on the same synthetic corpus ({n:,} "
        "docs, `tools/bench_scaling.py gen_docs`)",
        "docs/sec",
        # min_alpha=0: the synthetic vocabulary is digit-heavy ('w12345')
        lambda spark, docs: [("curate_corpus", text.curate_corpus(
            docs, "doc_id", "text", min_alpha=0.0))],
        load=_with_lang,
    ),
    # the custom stateful Arrow op: evidences that the mapInPandas +
    # carried-state shape scales, not just pure-JVM plans
    "pack": Mode(
        TURNS,
        "packed turns/sec, stateful context-window packing (mapInPandas)",
        "greedy context-window packing (JVM-side token counts -> hash repartition by "
        "conv_id -> sorted mapInPandas with cross-batch carried state) on the "
        "synthetic transcript table ({n:,} turns)",
        "turns/sec",
        lambda spark, t: [("pack_context_windows", text.pack_context_windows(
            t, "conv_id", "turn_idx", "text", 64))],
    ),
    "textstats": Mode(
        DOCS,
        "analyzed docs/sec, text-analytics family (top-ngram + Zipf + PMI)",
        "text-analytics family forced concurrently (Gopher top-bigram repetition: "
        "row-local sorted n-gram array -> one fold for the longest run, zero shuffles; "
        "Zipf fit: token counts -> distributed TakeOrdered top-1000 -> regression "
        "aggregates; PMI collocations: ONE tagged scan -> persisted (kind, token) "
        "counts -> vocab-keyed scoring joins) on the same synthetic corpus ({n:,} "
        "docs, `tools/bench_scaling.py gen_docs`)",
        "docs/sec",
        lambda spark, docs: [
            ("top_ngram_fraction", text.top_ngram_fraction(docs, "doc_id", "text")),
            ("zipf_fit", text.zipf_fit(docs, "text", top_k=1000)),
            ("pmi_bigrams", text.pmi_bigrams(docs, "text", min_count=25, top_k=50)),
        ],
    ),
    "ann": Mode(
        VECS,
        "searched vectors/sec, similarity family (blocked-GEMM cross-corpus + sign-LSH near-dup)",
        "similarity/ANN family forced concurrently (cross-corpus blocked GEMM: train "
        "hashed into 256 blocks, eval side replicated per block, one float64 BLAS tile "
        "per group, threshold filter in the kernel; sign-LSH near-dup: Arrow-matmul "
        "28-plane x 4-table sketch -> (table, bucket) self-join -> exact cosine verify "
        "of candidates only) on a deterministic synthetic embedding corpus ({n:,} x "
        "64-dim vectors with planted near-dups at cosine ~0.999, "
        "`tools/bench_scaling.py gen_vecs`)",
        "vectors/sec",
        lambda spark, vecs, eval_side: [
            # blocks bound applyInArrow task parallelism: 8 blocks capped
            # the first run of this bench at 8 concurrent tiles and scored
            # 0.36 N->4N (postmortem in BENCH.md). Size blocks >= 4x the
            # largest parallelism level measured, as a cluster would.
            ("cross_corpus_cosine_pairs", similarity.cross_corpus_cosine_pairs(
                vecs, eval_side, threshold=0.9, blocks=256
            )),
            # 28 planes: buckets stay sparse at n=1M (20 planes measured
            # 6.0M candidate pairs for ~10k true dups — the verify join was
            # pure bandwidth; 28 planes keeps recall ~99% at cos 0.999 and
            # collapses the candidate set: planted near-dups miss a 28-bit
            # table with ~33%, all four with ~1.2%)
            ("lsh_near_dup_pairs", similarity.lsh_near_dup_pairs(
                vecs, threshold=0.9, n_planes=28, n_tables=4
            )),
        ],
        load=lambda vecs: (vecs, {"eval_side": vecs.filter(F.col("vec_id") % 200 == 0)}),
        pin_blas=True,
        # shuffle partitions ~8x task slots: the GEMM groups hash into
        # reduce partitions, and at partitions == cores the group-count
        # imbalance makes stragglers (measured: 64 blocks into 4/16
        # partitions scored 0.55; 256 blocks into 8x partitions lets AQE
        # size-balance and was ~2x faster at N)
        shuffle_per_core=8,
    ),
    "pipeline": Mode(
        DOCS,
        "packed docs/sec, END-TO-END composed pipeline (curate -> LSH dedup -> split/shard -> BPE pack)",
        "END-TO-END composed training-data pipeline as ONE lineage (lang+length gates "
        "in the scan stage -> exact-dedup keep-first window -> MinHash(32)+16x2-band "
        "LSH with exact-Jaccard verify -> keep-earliest left-anti drop -> md5 split + "
        "64-way md5 shard -> greedy BPE-budget packing via carried-state mapInPandas) "
        "on the same synthetic corpus ({n:,} docs with planted near-dups, "
        "`tools/bench_scaling.py gen_docs`)",
        "packed docs/sec",
        # n_shards=64 so the stateful packing stage's pack-group count never
        # bounds parallelism at either level (the documented scale knob);
        # min_alpha=0 because the synthetic vocabulary is digit-heavy
        lambda spark, docs: [("curate_dedup_pack", text.curate_dedup_pack(
            docs, "doc_id", "text", min_alpha=0.0, n_shards=64))],
        load=_with_lang,
    ),
    "span": Mode(
        DOCS,
        "span-deduped docs/sec, ExactSubstr duplicated-span removal (gram_len=20)",
        "ExactSubstr-style duplicated-span removal (row-local 20-gram struct "
        "projection -> explode -> ONE shuffle: row_number window over gram key picks "
        "the keep-earliest owner, rank>1 rows are the duplicated spans -> per-doc span "
        "lists -> row-local HOF splice) on the same synthetic corpus ({n:,} docs with "
        "planted near-dups sharing 35-55-word bases, `tools/bench_scaling.py gen_docs`)",
        "docs/sec",
        lambda spark, docs: [("span_dedup", dedup.span_dedup(docs, "doc_id", "text", gram_len=20))],
    ),
    "dsir": Mode(
        DOCS,
        "scored docs/sec, DSIR hashed-n-gram importance weighting (10k buckets)",
        "DSIR importance weighting (row-local unigram+bigram projection -> explode_outer "
        "-> map-side-combined conditional bucket counts (<=10k rows shuffled) -> "
        "window-totalled KB bucket model broadcast back into a second read of the gram "
        "stream -> per-(doc, is_target) log-ratio hash aggregation, no join back to the "
        "input) on the same synthetic corpus ({n:,} docs, "
        "~20% pseudo-target split, `tools/bench_scaling.py gen_docs`)",
        "docs/sec",
        # the pseudo-target label only gates the conditional counts, so any
        # split exercises the full plan
        lambda spark, docs: [("dsir_weights", sampling.dsir_weights(
            docs, "doc_id", "text", F.col("doc_id") % 10 < 2, n_buckets=10000))],
    ),
    "sem": Mode(
        VECS,
        "semantically-deduped vectors/sec, SemDeDup (5,120 cells, GEMM kernels)",
        "SemDeDup semantic dedup (chunked-GEMM argmin assignment of every vector to "
        "5,120 sampled-centroid cells via an Arrow UDF -> one applyInArrow GEMM per "
        "cell reducing the cosine matrix to earlier-neighbor counts in-kernel and "
        "returning every vector of its cell with its keep-earliest flag (quadratic "
        "work in the largest cell only, ~100 vectors/cell; O(n) shuffle bytes; "
        "nothing persisted, no join back) on {n:,} x 64-dim synthetic vectors "
        "with planted near-dups (`tools/bench_scaling.py gen_vecs`)",
        "vectors/sec",
        lambda spark, vecs, centroids: [("semdedup", similarity.semdedup(
            vecs, "vec_id", "embedding", threshold=0.9, centroids=centroids))],
        load=_sem_load,
        pin_blas=True,
    ),
}


def run(mode: str, cores: int, iters: int) -> dict:
    """One level: ``mode`` at local[cores], a warmup pass then the min of
    ``iters`` timed passes; each pass forces the mode's outputs with a
    ``noop`` write, up to four at a time, and then releases the caches."""
    m = MODES[mode]
    if m.pin_blas:
        for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
            os.environ[var] = "1"
    spark = get_spark(
        master=f"local[{cores}]",
        app=f"bench_{mode}_{cores}",
        shuffle_partitions=cores * m.shuffle_per_core if m.shuffle_per_core else None,
        extra=SPLITS,
    )
    spark.sparkContext.setLogLevel("ERROR")
    df, extras = m.load(spark.read.parquet(m.input.dir))
    n = df.count()  # warms scan/footers; not timed

    def force(named):
        name, out = named
        s0 = time.perf_counter()
        out.write.format("noop").mode("overwrite").save()
        print(f"  [{cores}] {name}: {time.perf_counter() - s0:.2f}s", file=sys.stderr)

    def once() -> float:
        t0 = time.perf_counter()
        outs = m.outputs(spark, df, **extras)
        # independent outputs are submitted concurrently — the scheduler
        # keeps every core busy across job boundaries (as a multi-tenant
        # cluster would); per-job planning gaps overlap instead of serializing
        with ThreadPoolExecutor(max_workers=min(4, len(outs))) as pool:
            list(pool.map(force, outs))
        dt = time.perf_counter() - t0
        release_caches(spark, sweep_rdds=True)  # tracked-registry release (matches bench.py lifecycle)
        return dt

    once()  # warmup pass: whole-stage-codegen compile, JIT, broadcast init
    sec = min(once() for _ in range(iters))  # min = least host interference
    spark.stop()
    return {"cores": cores, "sec": round(sec, 2), "turns": n,
            "turns_per_sec": round(n / sec, 1)}


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
            return min(max(p.map(_stream, range(procs))) for _ in range(3))

    t_n = run(base)
    t_4n = run(base * 4)
    slowdown = t_4n / t_n
    return {
        "percore_bandwidth_slowdown_at_4n": round(slowdown, 3),
        "bandwidth_max_efficiency": round(1.0 / slowdown, 3),
    }


def cpu_ceiling(base: int) -> dict:
    """Hardware calibration: ``bench.cpu_probe`` (fixed work per process,
    warm pass + min-of-3) at N vs 4N busy cores. Per-core throughput drop
    when 4N cores are busy bounds ANY job's achievable N->4N efficiency on
    this box."""
    from bench import cpu_probe

    t_n = cpu_probe(base)
    slowdown = cpu_probe(base * 4) / t_n
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
    ap.add_argument("--mode", choices=list(MODES), default="suite")
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
        print(json.dumps(run(args.mode, args.run, args.iters)))
        return

    m = MODES[args.mode]
    if not os.path.exists(m.input.dir + "/_SUCCESS"):
        n_in = getattr(args, m.input.flag)
        print(f"generating {n_in:,} {m.input.flag} -> {m.input.dir}", file=sys.stderr)
        write_input(m.input, n_in)

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
        out = subprocess.run(cmd, capture_output=True, text=True, check=True, cwd=ROOT)
        results[cores] = json.loads(out.stdout.strip().splitlines()[-1])
        for line in out.stderr.splitlines():
            if line.startswith("  ["):
                print(line, file=sys.stderr)
        print(json.dumps(results[cores]), file=sys.stderr)

    eff = (results[hi]["turns_per_sec"] / results[lo]["turns_per_sec"]) / 4
    hw_adj = round(eff / ceiling["hardware_max_efficiency"], 3)
    summary = {
        "metric": m.metric,
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
    pin_note = (
        " Each level's whole process tree (JVM + pandas-UDF python workers) is "
        "OS-pinned to exactly that many physical cores (`taskset`), the faithful "
        "cluster-size emulation for python-heavy stages."
        if args.taskset
        else ""
    )
    section = (
        f"\n## {summary['metric']}\n\n"
        f"Same job — {m.desc.format(n=summary['turns'])} — at two parallelism "
        f"levels, one fresh JVM per level; "
        f"warmup pass then min of {args.iters} timed passes (shared-VM noise "
        f"suppression).{pin_note}\n\n"
        f"| parallelism | wall sec | {m.unit} |\n|---|---|---|\n"
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
