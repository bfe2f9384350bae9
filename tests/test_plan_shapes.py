"""Physical-plan shape assertions — the scale-design invariants SURVEY.md §4
claims, checked against ``explain`` output so regressions that silently
de-optimize the plan (lost broadcast, lost pruning, lost pushdown, extra
shuffles) fail loudly."""

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _final_scans(df) -> int:
    """File scans (``FileSourceScanExec``) in the final plan of a collected
    ``df``: a walk of ``executedPlan`` into each adaptive plan's
    ``executedPlan``, each query stage's ``plan`` and, once per cached
    relation, each in-memory scan's ``relation.cachedPlan``. A reused
    exchange adds nothing: its stage is counted where it runs. (The plan
    text cannot be cut at ``== Initial Plan ==``: a cached AQE plan prints
    that marker inside the tree.)"""
    identity = df._sc._jvm.java.lang.System.identityHashCode
    cached = set()

    def walk(p) -> int:
        name = p.getClass().getSimpleName()
        if name == "ReusedExchangeExec":
            return 0
        if name == "AdaptiveSparkPlanExec":
            kids = [p.executedPlan()]
        elif name.endswith("QueryStageExec"):
            kids = [p.plan()]
        elif name == "InMemoryTableScanExec":
            rel = p.relation()
            key = identity(rel.cacheBuilder())
            kids = [] if key in cached else [rel.cachedPlan()]
            cached.add(key)
        else:
            ch = p.children()
            kids = [ch.apply(i) for i in range(ch.size())]
        return (name == "FileSourceScanExec") + sum(map(walk, kids))

    return walk(df._jdf.queryExecution().executedPlan())


@pytest.fixture(scope="module")
def sf(spark):
    return "/root/testdata/sf0.01"


def test_referential_is_broadcast_anti_join(spark, sf):
    """Catalog side must broadcast — no shuffle of the fact table."""
    from fsharp_data_validation_spark.operators.crossrow import referential_violations
    from fsharp_data_validation_spark.sources.transcripts import (
        derive_transcripts,
        tool_catalog,
    )

    t = derive_transcripts(spark, sf)
    plan = _plan(
        referential_violations(
            t, "tool", tool_catalog(spark), "tool", ["conv_id", "turn_idx", "tool"]
        )
    )
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


def test_column_profile_prunes_scan(spark, sf):
    """Profiling 2 columns must not read the rest of the table."""
    from fsharp_data_validation_spark.operators.stats import column_profile

    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    plan = _plan(column_profile(li, ["l_quantity", "l_discount"]))
    assert "ReadSchema" in plan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_quantity" in read_schema and "l_discount" in read_schema
    assert "l_extendedprice" not in read_schema and "l_shipdate" not in read_schema


def test_q1_filter_pushdown(spark, sf):
    """The shipdate predicate must reach the parquet scan."""
    import __spark_entry__ as e

    plan = _plan(e.q_q1_pricing(spark, sf))
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed and "l_shipdate" in pushed[0]


def test_row_suite_is_single_stage_no_shuffle(spark, sf):
    """Row validation is embarrassingly parallel: scan -> filter -> project,
    zero Exchange operators, whole-stage codegen."""
    from fsharp_data_validation_spark.operators.transcript_suite import (
        transcript_row_suite,
    )

    t = spark.read.parquet(f"{sf}/events.parquet").selectExpr(
        "cast(event_id as string) conv_id",
        "cast(event_id % 50 as int) turn_idx",
        "event_type role",
        "props text",
        "cast(null as string) tool",
        "ts",
    )
    res = transcript_row_suite().run(t, ["conv_id", "turn_idx", "ts"])
    for df in (res.valid, res.violations):
        assert "Exchange" not in _plan(df)
    # valid path: scan -> codegen'd boolean filter -> project, nothing else
    # ('*' marks whole-stage-codegen nodes in formatted explain output);
    # no failure-struct construction on this path (allocation-free split)
    vplan = _plan(res.valid)
    assert "* Filter" in vplan and "* Project" in vplan
    assert "named_struct" not in vplan


def test_uniqueness_partial_aggregation(spark, sf):
    """Hash agg with map-side combine: partial then final around ONE
    exchange."""
    from fsharp_data_validation_spark.operators.crossrow import uniqueness_violations

    # plain table (not the derived-transcripts view, whose row_number window
    # adds its own exchange) so the plan shows the operator's cost alone
    t = spark.read.parquet(f"{sf}/events.parquet").selectExpr(
        "cast(user_id as string) conv_id", "cast(event_id % 50 as int) turn_idx"
    )
    plan = _plan(uniqueness_violations(t, ["conv_id", "turn_idx"]))
    # exactly ONE shuffle (the key exchange); node ids appear as "(n) Name"
    assert plan.count(") Exchange") == 1
    assert plan.count(") HashAggregate") == 2  # partial + final


def test_ann_topk_broadcasts_queries(spark, sf):
    """Query set broadcasts; the big vector side is scanned once without
    shuffle."""
    import __spark_entry__ as e

    plan = _plan(e.q_ann_topk(spark, sf))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_drift_split_scans_data_once_plus_scalar_mid(spark, sf):
    """The half-split drift queries must build BOTH half-histograms in one
    conditional aggregate: exactly TWO scans of the events source in the
    plan — the data scan and the scalar midpoint aggregate (which reads
    only ts) — instead of the old min/max + two filtered half scans
    (three). The midpoint must enter via broadcast, not a driver collect
    (no collect() happens at plan-build time by construction)."""
    import __spark_entry__ as e

    import re

    for q in (e.q_psi_drift, e.q_ks_drift):
        plan = _plan(q(spark, sf))
        # one "(N) Scan parquet" detail entry per physical scan node
        n_scans = len(re.findall(r"\(\d+\) Scan parquet", plan))
        assert n_scans == 2, f"expected 2 scans (data + scalar mid), got {n_scans}"
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_stratified_sample_broadcasts_counts(spark, sf):
    """The per-stratum count table must broadcast back (no shuffle of the
    corpus for the join), and the rank window must run on the prefiltered
    survivors, not the raw scan."""
    from fsharp_data_validation_spark.operators.sampling import stratified_sample
    from fsharp_data_validation_spark.sources.documents import load_docs

    plan = _plan(stratified_sample(load_docs(spark, sf), "lang", "doc_id", 20))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # the survivor filter must sit below the window sort
    assert "Window" in plan and "Filter" in plan


def test_time_rollup_single_shuffle(spark, sf):
    """ROLLUP = one Expand feeding ONE partial+final hash aggregate: exactly
    one Exchange in the plan (plus the scan), never one shuffle per grain."""
    from fsharp_data_validation_spark.operators.temporal import time_rollup

    ev = spark.read.parquet(f"{sf}/events.parquet")
    plan = _plan(time_rollup(ev, "ts", "event_type", "value"))
    assert "Expand" in plan
    # formatted explain prints each node twice (tree + details); count the
    # tree entries only
    assert plan.count("Exchange (") == 1
    assert "HashAggregate" in plan


def test_conv_dedup_single_corpus_shuffle(spark, sf):
    """Conversation digests: the corpus is shuffled once (on conv_id for
    assembly); the digest windows run over the one-row-per-conversation
    table, so every later Exchange moves only per-conv digests."""
    import __spark_entry__ as e

    plan = _plan(e.q_conv_dedup(spark, sf))
    # assembly agg + two digest windows: bounded number of exchanges, and
    # the plan must not re-scan or re-shuffle the turn-level table again
    n_scans = len(
        [
            l
            for l in plan.splitlines()
            if l.strip().startswith("(") and "Scan parquet" in l
        ]
    )
    assert n_scans == 1
    assert plan.count("Exchange (") <= 4


def test_interval_join_is_hash_join_not_nested_loop(spark, sf):
    """The bucketed range join must compile to a hash equi-join on
    (key, bucket) — never BroadcastNestedLoopJoin (Spark's native plan
    for a bare range predicate)."""
    import __spark_entry__ as e

    plan = _plan(e.q_interval_join(spark, sf))
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("SortMergeJoin" in plan) or ("BroadcastHashJoin" in plan) or (
        "ShuffledHashJoin" in plan
    )


def test_corpus_curate_one_scan_one_shuffle(spark, sf):
    """The composed curation pipeline (lang + length + quality filters,
    dedup keep-first, hash split) must stay ONE scan + ONE Exchange — the
    filters fuse into the scan stage, the digest window is the only
    shuffle, the split is row-local. (Run on the raw parquet: the driver
    query's `docs` CTE adds a 3-way union of injected duplicates, which
    triples scans for test-data reasons, not operator reasons.)"""
    from fsharp_data_validation_spark.operators.text import curate_corpus

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    plan = _plan(curate_corpus(docs, "doc_id", "text"))
    n_scans = len(
        [
            l
            for l in plan.splitlines()
            if l.strip().startswith("(") and "Scan parquet" in l
        ]
    )
    assert n_scans == 1
    assert plan.count("Exchange (") == 1


def test_quota_and_chunking_stay_in_scan_stage(spark, sf):
    """quota_sample is ONE row-local filter predicate (no Exchange anywhere);
    chunk_text and encoding_quality are pure projections over the scan —
    the curation scalars never shuffle the corpus."""
    from fsharp_data_validation_spark.operators.sampling import quota_sample
    from fsharp_data_validation_spark.operators.text import chunk_text, encoding_quality
    from fsharp_data_validation_spark.sources.documents import load_docs

    docs = load_docs(spark, sf)
    for df in (
        quota_sample(docs, "lang", "doc_id", {"en": 0.5}),
        chunk_text(docs, "doc_id", "text"),
        encoding_quality(docs, "doc_id", "text"),
    ):
        assert "Exchange" not in _plan(df)


def test_temperature_sample_broadcasts_rates(spark, sf):
    """The data side is never shuffled: the only exchanges belong to the
    tiny per-group count aggregate (group domain ~ languages); the rate
    table joins back as a broadcast."""
    from fsharp_data_validation_spark.operators.sampling import temperature_sample
    from fsharp_data_validation_spark.sources.documents import load_docs

    plan = _plan(temperature_sample(load_docs(spark, sf), "lang", "doc_id"))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pack_windows_single_shuffle(spark):
    """Greedy packing adds exactly ONE Exchange (hash by conversation)
    feeding the sorted mapInPandas — token counts are computed JVM-side
    below it (a clean input, so every exchange in the plan is packing's)."""
    import re

    from fsharp_data_validation_spark.operators.text import pack_context_windows

    t = spark.range(0, 1000).selectExpr(
        "concat('c', cast(id % 37 as string)) AS conv_id",
        "cast(id as int) AS turn_idx",
        "repeat('w ', cast(id % 9 as int)) AS text",
    )
    plan = _plan(pack_context_windows(t))
    n_exchanges = len(set(re.findall(r"\((\d+)\) Exchange", plan)))
    assert n_exchanges == 1, plan
    assert "MapInPandas" in plan
    assert "hashpartitioning(conv_id" in plan


def test_by_group_drift_grids_scan_once(spark, sf):
    """The per-day drift grids (PSI/KS/JS vs the global baseline) must read
    the data source once: the (group, bucket) aggregate is persisted, so
    the four consuming branches (baseline, per-group totals, grand total,
    grid join-back) are InMemoryTableScans over the KB-scale cache — the
    parquet scan executes only inside the single cache materialization.
    (Without the persist each branch re-planned the subtree from the
    source: 4+ physical scans, verified before the fix.)"""
    import __spark_entry__ as e

    for q in (e.q_psi_by_day, e.q_ks_by_day, e.q_js_by_day):
        df = q(spark, sf)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in plan, q.__name__
        spark.catalog.clearCache()


def test_report_path_evaluates_only_on_failing_slice(spark, sf):
    """The wire-format report column is built from interpreted HOF
    expressions (no codegen) by design — acceptable ONLY because it is
    evaluated strictly on the failing slice. Pin that shape: the failure
    filter sits BELOW the report projection in the physical tree (filter
    first, HOF projection on survivors), the HOFs never appear in the
    filter itself, and the input is scanned once."""
    from fsharp_data_validation_spark.operators.transcript_suite import (
        transcript_row_suite,
    )
    from fsharp_data_validation_spark.sources.transcripts import derive_transcripts

    t = derive_transcripts(spark, sf)
    s = transcript_row_suite()
    reps = t.filter(s.any_failure_column()).select(
        "conv_id", "turn_idx", s.report_json_column().alias("report")
    )
    plan = _plan(reps)
    header = plan.split("\n\n")[0]
    tree = [ln for ln in header.splitlines() if "(" in ln]
    filt = [i for i, ln in enumerate(tree) if "Filter" in ln]
    projs = [i for i, ln in enumerate(tree) if "Project" in ln]
    scans = [i for i, ln in enumerate(tree) if "Scan parquet" in ln]
    assert len(scans) == 1, header  # one data scan
    assert len(filt) == 1, header  # the failure filter, nothing re-filtered
    # top-down tree: Project(s) ... Filter ... Scan — so at execution time
    # the filter runs BEFORE the report projection
    assert min(projs) < filt[0] < scans[0], header
    # the interpreted HOF report machinery lives in a Project, not in the
    # filter condition (transform/aggregate = lambda HOFs)
    details = plan.split("\n\n")[1:]
    filter_detail = next(
        d for d in details if d.split("\n")[0].rstrip().endswith("Filter")
    )
    assert "transform(" not in filter_detail
    assert "transform(" in plan  # ...but the report projection does use HOFs


def test_round3_stat_tables_cached_and_tfidf_single_agg(spark, sf):
    """Round-3 shapes: (a) mad_outliers / chi2_drift persist nothing and
    scan the data no more than their passes need — mad's three (group
    medians, deviation medians, flag pass), chi2's two (the scalar midpoint
    and the split counts, whose margins are a window over the count table);
    (b) tfidf_top_terms computes document frequency as a window over the
    SAME (doc, term) aggregate — exactly one explode, one hash aggregate,
    no tf-vs-df self-join."""
    import __spark_entry__ as e
    from fsharp_data_validation_spark.cache import release_caches, tracked_count

    for q, scans in ((e.q_mad_outliers, 3), (e.q_chi2_drift, 2)):
        release_caches(spark, sweep_rdds=True)
        df = q(spark, sf)
        df.collect()
        assert tracked_count() == 0, q.__name__
        assert _final_scans(df) == scans, q.__name__

    import re

    plan = _plan(e.q_tfidf_top_terms(spark, sf))
    assert len(re.findall(r"\(\d+\) Generate", plan)) == 1  # ONE explode
    header = plan.split("\n\n")[0]
    assert "SortMergeJoin" not in header and "ShuffledHashJoin" not in header
    # the only join is the broadcast of the 1-row n_docs scalar
    assert header.count("Join") == header.count("BroadcastNestedLoopJoin") == 1


def test_moments_rollup_scans_once(spark, sf):
    """The moments rollup reads its grand totals from a window over the
    O(partitions)-row sketch table, so the sketch table has one consumer:
    the data parquet is scanned once and nothing is persisted."""
    import re

    import __spark_entry__ as e
    from fsharp_data_validation_spark.cache import release_caches, tracked_count

    release_caches(spark, sweep_rdds=True)
    df = e.q_moments(spark, sf)
    df.collect()
    assert tracked_count() == 0
    assert _final_scans(df) == 1
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert len(re.findall(r"Relation.*parquet", optimized)) <= 1


def test_gopher_local_kernels_no_exchange(spark, sf):
    """The default sorted-runs kernels for top_ngram_fraction and
    dup_ngram_fraction are row-local: their physical plans must contain NO
    shuffle Exchange at all (the whole point of the kernel — the explode
    spec's two corpus-scale shuffles were measured bandwidth-bound,
    BENCH.md)."""
    from fsharp_data_validation_spark.operators.text import (
        dup_ngram_fraction,
        top_ngram_fraction,
    )
    from fsharp_data_validation_spark.sources.documents import load_docs

    docs = load_docs(spark, sf)
    for op in (
        top_ngram_fraction(docs, "doc_id", "text"),
        dup_ngram_fraction(docs, "doc_id", "text"),
    ):
        plan = op._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan


def test_vocab_growth_scans_once(spark, sf):
    """vocab_growth's (day, token) aggregate has one consumer: each token's
    first day is a window partitioned by token over it, so daily volume and
    first-appearance counts are one aggregate by day, the events parquet is
    read once and nothing is persisted."""
    import re

    import __spark_entry__ as e
    from fsharp_data_validation_spark.cache import release_caches, tracked_count

    release_caches(spark, sweep_rdds=True)
    df = e.q_vocab_growth(spark, sf)
    df.collect()
    assert tracked_count() == 0
    assert _final_scans(df) == 1
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert len(re.findall(r"Relation.*parquet", optimized)) <= 1


def test_per_row_operators_answer_from_their_aggregate(spark, sf):
    """dsir_weights, ngram_perplexity and semdedup build each row's answer
    in the pass that reads their input, with no join back to a second read
    of it for the id column or the rows that have no grams. The docs
    source is a 3-branch union: dsir's bucket model and its score read it
    once each; perplexity's scoring stream, its persisted bigram model and
    the model's vocabulary read it once each. semdedup's one grouped pass
    reads the 2-branch vectors source once."""
    import __spark_entry__ as e
    from fsharp_data_validation_spark.cache import release_caches

    for q, scans in ((e.q_dsir_weights, 6), (e.q_ngram_perplexity, 9), (e.q_semdedup, 2)):
        release_caches(spark, sweep_rdds=True)
        df = q(spark, sf)
        df.collect()
        assert _final_scans(df) == scans, q.__name__
    release_caches(spark, sweep_rdds=True)


def test_token_count_bpe_single_regex_no_exchange(spark, sf):
    """token_count_bpe must evaluate the (expensive) alternation regex ONCE
    per row and stay row-local: exactly one regexp_extract_all in the
    physical plan (Catalyst does not CSE duplicate trees — the ratio column
    must reuse the staged count, measured 2x at sf0.1) and no Exchange."""
    import re

    import __spark_entry__ as e

    df = e.queries()["token_count_bpe"](spark, sf)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    # one regex per union branch of the docs source (row-local), and the
    # chars_per_token projection must reuse the staged n_bpe attribute —
    # never a second regexp_extract_all in the same projection
    branches = len(re.findall(r"FileScan", plan))
    assert len(re.findall(r"regexp_extract_all", plan)) == branches
    for line in plan.splitlines():
        if "chars_per_token" in line:
            assert "regexp_extract_all" not in line


def test_semdedup_carries_float_vectors_uncast(spark):
    """semdedup over ``array<float>`` vectors moves them through the Arrow
    boundary and the shuffle at their stored width: its executed plan casts
    nothing to ``array<double>`` (``_matrix`` widens them in numpy)."""
    import numpy as np

    from fsharp_data_validation_spark.operators.similarity import semdedup

    rows = [(i, [float(i % 7), 1.0, float(i % 3)]) for i in range(64)]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    df = semdedup(vecs, threshold=0.99, centroids=np.eye(3))
    assert len(df.collect()) == 64
    plan = _plan(df)
    assert "ArrowEvalPython" in plan and "array<double>" not in plan
