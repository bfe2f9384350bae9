"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: full transcript row-constraint suite on
sf0.001, returning the violation rows with name-path provenance.

``queries()`` — one entry per implemented operator (SURVEY.md §2 + the
north-rule table-level checks). Each callable: (spark, sf_dir) -> DataFrame.

``oracle_sql()`` — DuckDB-dialect equivalents over the same parquet views.

Each query is declared once: ``@query(oracle)`` on its ``q_<name>``
function registers both maps' entry ``<name>``; ``attestation_order`` sets
the order of both. The ``transcripts`` input (BASELINE.json input_hint) is derived
*deterministically* from the driver's ``events`` table by a SQL snippet that
runs identically on Spark and DuckDB (fsharp_data_validation_spark.sources.
transcripts), so every transcript query is oracle-checked end-to-end.
"""

from __future__ import annotations

import json
from collections.abc import Callable
from pathlib import Path
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession, functions as F

from fsharp_data_validation_spark.operators.checks import MAX_DOMAIN, RATE_WINDOW
from fsharp_data_validation_spark.operators.crossrow import (
    ordering_violations,
    referential_violations,
    uniqueness_violations,
)
from fsharp_data_validation_spark.operators.drift import (
    histogram,
    js_by_group,
    js_joined,
    ks_by_group,
    ks_joined,
    psi_by_group,
    psi_joined,
    split_histograms,
    w1_by_group,
)
from fsharp_data_validation_spark.operators.stats import column_profile, exact_quantiles
from fsharp_data_validation_spark.operators.temporal import SESSION_GAP_S
from fsharp_data_validation_spark.operators.text import bpe_oracle_expr
from fsharp_data_validation_spark.operators.transcript_suite import transcript_row_suite
from fsharp_data_validation_spark.sources.documents import (
    COSINE_SQL as _COSINE_SQL,
    DOCS_SQL as _DOCS_SQL,
    ann_recall_oracle_sql as _ann_recall_oracle,
    load_docs,
    load_vecs,
    lsh_construction_oracle_sql as _lsh_oracle,
    with_docs,
    with_vecs,
)
from fsharp_data_validation_spark.sources.transcripts import (
    ROLES,
    TRANSCRIPTS_SQL,
    derive_transcripts,
    tool_catalog,
    with_transcripts,
)
from fsharp_data_validation_spark.streaming.validate_stream import (
    run_available_now,
    windowed_chi2_stream,
    windowed_drift_stream,
    windowed_rate_anomaly_stream,
    windowed_rates_to_sink,
    windowed_w1_stream,
)

KEY = ["conv_id", "turn_idx", "ts"]


def _transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return derive_transcripts(spark, sf_dir)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_row_suite(spark, "/root/testdata/sf0.001")


# --------------------------------------------------------------------------
# query registry
# --------------------------------------------------------------------------


class Query(NamedTuple):
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str  # DuckDB-dialect SQL over the same parquet views
    quadratic: bool  # all-pairs / recursive-CTE oracle: tens of minutes at sf0.1


#: every query in declaration order, filled by @query
REGISTRY: dict[str, Query] = {}


def query(oracle: str, quadratic: bool = False):
    """Register ``q_<name>`` as query ``<name>`` with its DuckDB oracle."""

    def register(fn):
        REGISTRY[fn.__name__.removeprefix("q_")] = Query(fn, oracle, quadratic)
        return fn

    return register


_MATCH_FIELDS = ("rows_match", "schema_match", "hash_match")


def attestation_order(names, directory: Path = Path(__file__).parent) -> list[str]:
    """``names`` least-recently attested first, by the round of each name's
    last full match (rows, schema and hash, no error) in
    ``CORRECTNESS_r<N>.json``; never attested counts as round 0 and ties
    keep the given order. A correctness sweep that checks only the head of
    ``queries()`` thus reaches the stalest queries first."""
    last = dict.fromkeys(names, 0)
    for path in directory.glob("CORRECTNESS_r*.json"):
        rnd = int(path.stem.removeprefix("CORRECTNESS_r"))
        for name, rec in json.loads(path.read_text()).items():
            matched = all(rec.get(k) is True for k in _MATCH_FIELDS)
            if name in last and matched and rec.get("err") is None:
                last[name] = max(last[name], rnd)
    return sorted(last, key=last.__getitem__)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {n: REGISTRY[n].fn for n in attestation_order(REGISTRY)}


def oracle_sql() -> dict[str, str]:
    return {n: REGISTRY[n].oracle for n in attestation_order(REGISTRY)}


# --------------------------------------------------------------------------
# queries
# --------------------------------------------------------------------------


_ROLES_SQL = ",".join(f"'{r}'" for r in ROLES)

# per-constraint failure conditions with refute masks made explicit;
# mirrors transcript_row_suite() constraint-for-constraint
_FAIL_CONDS = [
    ("conv_id", "conv_id_required", "conv_id IS NULL"),
    (
        "conv_id",
        "conv_id_format",
        "conv_id IS NOT NULL AND NOT regexp_matches(conv_id, '^c[0-9]+$')",
    ),
    ("turn_idx", "turn_idx_required", "turn_idx IS NULL"),
    ("turn_idx", "turn_idx_negative", "turn_idx IS NOT NULL AND turn_idx < 0"),
    ("role", "role_required", "role IS NULL"),
    ("role", "role_enum", f"role IS NOT NULL AND role NOT IN ({_ROLES_SQL})"),
    ("text", "text_required", "text IS NULL"),
    ("text", "text_empty", "text IS NOT NULL AND length(text) < 1"),
    ("text", "text_too_long", "text IS NOT NULL AND length(text) > 10000"),
    (
        "tool",
        "tool_format",
        "tool IS NOT NULL AND NOT regexp_matches(tool, '^tool_[0-9]+$')",
    ),
    ("tool", "tool_missing_for_tool_role", "role = 'tool' AND tool IS NULL"),
    ("", "tool_on_non_tool_role", "COALESCE(role = 'tool' OR tool IS NULL, TRUE) = FALSE"),
]

_ROW_SUITE_ORACLE = with_transcripts(
    "SELECT conv_id, turn_idx, ts, path, code FROM (\n"
    + "\nUNION ALL\n".join(
        f"SELECT conv_id, turn_idx, ts, '{p}' AS path, '{c}' AS code FROM transcripts WHERE {w}"
        for p, c, w in _FAIL_CONDS
    )
    + "\n) v"
)


@query(_ROW_SUITE_ORACLE)
def q_row_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized refute/dispute suite -> violation rows (SURVEY.md §2.3-2.5)."""
    t = _transcripts(spark, sf_dir)
    return transcript_row_suite().run(t, KEY).violations


@query(with_transcripts(
    "SELECT CAST(ts AS DATE) AS day, path, code, CAST(COUNT(*) AS BIGINT) AS n "
    "FROM (\n"
    + "\nUNION ALL\n".join(
        f"SELECT ts, '{p}' AS path, '{c}' AS code FROM transcripts WHERE {w}"
        for p, c, w in _FAIL_CONDS
    )
    + "\n) v GROUP BY 1, 2, 3"
))
def q_violation_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monitoring view of the suite: per-(day, path, code) violation counts
    — the dashboard aggregation over the same single-projection suite run
    (suite masks + one partial+final hash agg; no extra scan)."""
    t = _transcripts(spark, sf_dir)
    res = transcript_row_suite().run(t, KEY)
    return (
        res.violations.groupBy(F.to_date("ts").alias("day"), "path", "code")
        .agg(F.count(F.lit(1)).alias("n"))
    )


_NF_EXPR = " + ".join(f"(CASE WHEN {w} THEN 1 ELSE 0 END)" for _, _, w in _FAIL_CONDS)


@query(with_transcripts(
    f"SELECT role, COUNT(*) AS n_valid FROM transcripts WHERE ({_NF_EXPR}) = 0 GROUP BY role"
))
def q_valid_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MergeSources collapse: rows with ANY failure emit no valid row."""
    t = _transcripts(spark, sf_dir)
    res = transcript_row_suite().run(t, KEY)
    return res.valid.groupBy("role").agg(F.count(F.lit(1)).alias("n_valid"))


@query(with_transcripts(
    f"""
            SELECT CAST(ts AS DATE) AS part_date,
                   COUNT(*) AS rows_scanned,
                   CAST(SUM(CASE WHEN nf > 0 THEN 1 ELSE 0 END) AS BIGINT) AS rows_with_violations,
                   CAST(SUM(nf) AS BIGINT) AS violations,
                   {len(_FAIL_CONDS)} AS constraints_evaluated,
                   (SUM(nf) = 0) AS is_pass
            FROM (SELECT ts, ({_NF_EXPR}) AS nf FROM transcripts) f
            GROUP BY 1
            """
))
def q_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition pass/fail verdict + metrics (north rule)."""
    t = _transcripts(spark, sf_dir).withColumn("part_date", F.to_date("ts"))
    res = transcript_row_suite().run(t, KEY)
    return res.verdict(["part_date"], t).select(
        "part_date",
        "rows_scanned",
        "rows_with_violations",
        "violations",
        "constraints_evaluated",
        F.col("pass").alias("is_pass"),
    )


@query(with_transcripts(
    "SELECT conv_id, turn_idx, COUNT(*) AS n_dups FROM transcripts "
    "GROUP BY conv_id, turn_idx HAVING COUNT(*) > 1"
))
def q_uniqueness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniqueness on (conv_id, turn_idx) — hash agg w/ map-side combine."""
    return uniqueness_violations(_transcripts(spark, sf_dir), ["conv_id", "turn_idx"])


@query(with_transcripts(
    "SELECT conv_id, turn_idx, tool FROM transcripts "
    "WHERE tool IS NOT NULL AND tool NOT IN (SELECT tool FROM tool_catalog)"
))
def q_referential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tool -> allowed-tool-catalog via broadcast LEFT ANTI join."""
    t = _transcripts(spark, sf_dir)
    return referential_violations(
        t, "tool", tool_catalog(spark), "tool", ["conv_id", "turn_idx", "tool"]
    )


@query(with_transcripts(
    """
            SELECT conv_id, turn_idx, ts, prev_ts FROM (
              SELECT conv_id, turn_idx, ts,
                     LAG(turn_idx) OVER w AS prev_idx,
                     LAG(ts) OVER w AS prev_ts
              FROM transcripts
              WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx, ts)
            ) x
            WHERE prev_idx IS NOT NULL AND turn_idx > prev_idx AND ts < prev_ts
            """
))
def q_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ts regressions against turn order (lag window per conversation)."""
    return ordering_violations(_transcripts(spark, sf_dir))


@query(with_transcripts(
    "\nUNION ALL\n".join(
        f"SELECT '{c}' AS col_name, COUNT(*) AS n_rows, "
        f"CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls, "
        f"ROUND(CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 4) AS null_rate, "
        f"COUNT(DISTINCT {c}) AS n_distinct FROM transcripts"
        for c in ["conv_id", "turn_idx", "role", "text", "tool"]
    )
))
def q_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column null rate + exact distinct count, single agg pass."""
    t = _transcripts(spark, sf_dir)
    return column_profile(t, ["conv_id", "turn_idx", "role", "text", "tool"])


@query(with_transcripts(
    "SELECT "
    + ", ".join(
        f"ROUND(quantile_cont(length(text), {q}), 4) AS q{int(q * 100)}"
        for q in [0.25, 0.5, 0.75, 0.95]
    )
    + " FROM transcripts WHERE text IS NOT NULL"
))
def q_text_len_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles of turn length (oracle-checkable
    variant of ``approx_quantiles``)."""
    t = _transcripts(spark, sf_dir).select(F.length("text").alias("text_len"))
    return exact_quantiles(t, "text_len", [0.25, 0.5, 0.75, 0.95])


# the estimate is approximate by construction, so the oracle pins the
# PUBLISHED ACCURACY BOUND rather than value equality: n_vals must
# equal the table's exact non-null count and every rank-error
# boolean (computed distributed on the Spark side) must be TRUE.
@query(with_transcripts(
    "SELECT CAST(COUNT(*) AS BIGINT) AS n_vals,"
    " TRUE AS q25_ok, TRUE AS q50_ok, TRUE AS q75_ok, TRUE AS q95_ok"
    " FROM transcripts WHERE text IS NOT NULL"
))
def q_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate quantiles of turn length (stats.approx_quantiles: the
    built-in ``percentile_approx``, one JVM aggregate), then a distributed
    rank-error verification: for each estimated quantile value v_q the
    true-rank interval [count(<v_q)/n, count(<=v_q)/n] must intersect
    [q - eps, q + eps] (eps=1e-4, the built-in's documented 1/accuracy
    bound at its default accuracy 10000). Output: n_vals (exact non-null
    count, ties the result to the table) + one bound-holds boolean per
    quantile. The oracle pins n_vals from the same table and the booleans
    to TRUE — i.e. the oracle checks the published accuracy bound, not
    value equality (the estimate is approximate by construction)."""
    from fsharp_data_validation_spark.operators.stats import approx_quantiles

    qs = [0.25, 0.5, 0.75, 0.95]
    eps = 1e-4
    t = (
        _transcripts(spark, sf_dir)
        .where(F.col("text").isNotNull())
        .select(F.length("text").cast("double").alias("text_len"))
    )
    td = approx_quantiles(t, "text_len", qs)
    aggs = [F.count(F.lit(1)).alias("n_vals")]
    for q in qs:
        k = f"q{int(q * 100)}"
        aggs.append(
            F.sum((F.col("text_len") < F.col(k)).cast("long")).alias(f"_lt_{k}")
        )
        aggs.append(
            F.sum((F.col("text_len") <= F.col(k)).cast("long")).alias(f"_le_{k}")
        )
    wide = t.crossJoin(F.broadcast(td)).agg(*aggs)
    sel = [F.col("n_vals")]
    for q in qs:
        k = f"q{int(q * 100)}"
        lo = F.col(f"_lt_{k}") / F.col("n_vals")
        hi = F.col(f"_le_{k}") / F.col("n_vals")
        sel.append(((lo <= F.lit(q + eps)) & (hi >= F.lit(q - eps))).alias(f"{k}_ok"))
    return wide.select(*sel)


def _epoch_s(c) -> "F.Column":
    """Whole-second epoch for Timestamp/TimestampNTZ (UTC session tz);
    matches DuckDB ``CAST(FLOOR(epoch(ts)) AS BIGINT)``."""
    return F.unix_seconds(F.col(c).cast("timestamp"))


_MID_SQL = (
    "SELECT ROUND((MIN(CAST(FLOOR(epoch(ts)) AS BIGINT))"
    " + MAX(CAST(FLOOR(epoch(ts)) AS BIGINT))) / 2) AS mid FROM transcripts"
)

#: the bucket shape (width in characters, count; the last bucket takes the
#: rest) of every text-length drift histogram, split-half and per-day. The
#: derived texts are 13-18 characters long, so 1-character buckets split them
_LEN_WIDTH, _LEN_BUCKETS = 1.0, 20

_HIST_SQL = f"""
SELECT LEAST(GREATEST(CAST(FLOOR(length(text) / {_LEN_WIDTH}) AS INT), 0), {_LEN_BUCKETS - 1}) AS bucket,
       COUNT(*) AS n
FROM transcripts
WHERE text IS NOT NULL AND CAST(FLOOR(epoch(ts)) AS BIGINT) {{op}} (SELECT mid FROM m)
GROUP BY 1
"""

#: (head, histogram, separator) of a first-half/second-half split: the
#: head defines the epoch midpoint ``m``, the histogram template the
#: ``{op}`` side of it; the separator between ``ha`` and ``hb`` is
#: whitespace only, so each oracle keeps its attested text
_LEN_SPLIT = (f"\n, m AS ({_MID_SQL})\n", _HIST_SQL, " ")

#: ``ha`` and ``hb`` outer-joined over the buckets either half has
_J_SQL = """
, j AS (
  SELECT COALESCE(ha.bucket, hb.bucket) AS bucket,
         COALESCE(ha.n, 0) AS na, COALESCE(hb.n, 0) AS nb
  FROM ha FULL OUTER JOIN hb ON ha.bucket = hb.bucket
)
"""


def _split_drift_oracle(
    split: tuple[str, str, str], stat_sql: str, j_sql: str = _J_SQL
) -> str:
    """Drift between the halves of ``split``: the ``j`` of bucket counts
    ``na``/``nb`` that ``stat_sql`` reads."""
    head, hist, sep = split
    return with_transcripts(
        head
        + f", ha AS ({hist.format(op='<')}){sep}, hb AS ({hist.format(op='>=')})"
        + j_sql
        + stat_sql
    )


def _len_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turn-length histograms (``_LEN_WIDTH``, ``_LEN_BUCKETS``) of the first
    and second half by event time, from ONE conditional aggregate
    (split_histograms); the epoch midpoint is a broadcast scalar subplan,
    not a driver collect."""
    t = _transcripts(spark, sf_dir).select(F.length("text").alias("text_len"), "ts")
    return split_histograms(t, "text_len", "ts", _LEN_WIDTH, _LEN_BUCKETS)


_PSI_FROM_J = """
SELECT ROUND(SUM((p - q) * LN(p / q)), 4) AS psi FROM (
  SELECT GREATEST(na * 1.0 / (SELECT SUM(na) FROM j), 1e-6) AS p,
         GREATEST(nb * 1.0 / (SELECT SUM(nb) FROM j), 1e-6) AS q
  FROM j
) t
"""


@query(_split_drift_oracle(_LEN_SPLIT, _PSI_FROM_J))
def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI on turn-length histograms, first half vs second half by event
    time (epsilon-clamped closed form over bucketed proportions)."""
    return psi_joined(_len_halves(spark, sf_dir))


_KS_FROM_J = """
SELECT ROUND(MAX(ABS(ca * 1.0 / (SELECT SUM(na) FROM j)
                   - cb * 1.0 / (SELECT SUM(nb) FROM j))), 4) AS ks
FROM (
  SELECT SUM(na) OVER (ORDER BY bucket) AS ca,
         SUM(nb) OVER (ORDER BY bucket) AS cb
  FROM j
) t
"""


@query(_split_drift_oracle(_LEN_SPLIT, _KS_FROM_J))
def q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KS statistic on the same split (max |ECDF diff| over buckets)."""
    return ks_joined(_len_halves(spark, sf_dir))


_JS_FROM_J = """
SELECT ROUND(SUM(0.5 * p * LN(p / ((p + q) / 2))
               + 0.5 * q * LN(q / ((p + q) / 2))), 4) AS js FROM (
  SELECT GREATEST(na * 1.0 / (SELECT SUM(na) FROM j), 1e-6) AS p,
         GREATEST(nb * 1.0 / (SELECT SUM(nb) FROM j), 1e-6) AS q
  FROM j
) t
"""


@query(_split_drift_oracle(_LEN_SPLIT, _JS_FROM_J))
def q_js_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence on the same split (bounded, symmetric —
    operators/drift.py:js_joined)."""
    return js_joined(_len_halves(spark, sf_dir))


_W1_FROM_J = f"""
SELECT ROUND(SUM(ABS(ca * 1.0 / (SELECT SUM(na) FROM j)
                   - cb * 1.0 / (SELECT SUM(nb) FROM j))) * {_LEN_WIDTH}, 4) AS w1
FROM (
  SELECT SUM(na) OVER (ORDER BY bucket) AS ca,
         SUM(nb) OVER (ORDER BY bucket) AS cb
  FROM j
) t
"""


# W1 is a sum over the bucket grid, so j is the densified bucket spine
@query(_split_drift_oracle(_LEN_SPLIT, _W1_FROM_J, f"""
, grid AS (SELECT unnest(range(0, {_LEN_BUCKETS})) AS bucket)
, j AS (
  SELECT grid.bucket,
         COALESCE(ha.n, 0) AS na, COALESCE(hb.n, 0) AS nb
  FROM grid LEFT JOIN ha ON ha.bucket = grid.bucket
            LEFT JOIN hb ON hb.bucket = grid.bucket
)
"""))
def q_w1_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wasserstein-1 (earth-mover) distance on the same split — integral of
    |CDF difference| over the DENSIFIED bucket grid
    (operators/drift.py:w1_joined)."""
    from fsharp_data_validation_spark.operators.drift import w1_joined

    return w1_joined(_len_halves(spark, sf_dir), _LEN_BUCKETS, _LEN_WIDTH)


def _ts_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation inter-turn gap in whole seconds (lag window over
    (turn_idx, ts) — the ts-gap profile the north rule's drift check runs
    on). Keeps the current row's ts for the half-split."""
    from pyspark.sql import Window

    t = _transcripts(spark, sf_dir)
    w = Window.partitionBy("conv_id").orderBy("turn_idx", "ts")
    g = t.select(
        "conv_id",
        "ts",
        (_epoch_s("ts") - F.lag(_epoch_s("ts")).over(w)).alias("gap_s"),
    )
    return g.filter(F.col("gap_s").isNotNull())


# ts-gap drift: per-conversation inter-turn gap (whole seconds), 1h buckets
_GAPS_SQL = """
, g0 AS (
  SELECT conv_id, ts,
         CAST(FLOOR(epoch(ts)) AS BIGINT)
           - LAG(CAST(FLOOR(epoch(ts)) AS BIGINT))
             OVER (PARTITION BY conv_id ORDER BY turn_idx, ts) AS gap_s
  FROM transcripts
), gaps AS (SELECT * FROM g0 WHERE gap_s IS NOT NULL)
, m AS (
  SELECT ROUND((MIN(CAST(FLOOR(epoch(ts)) AS BIGINT))
         + MAX(CAST(FLOOR(epoch(ts)) AS BIGINT))) / 2) AS mid FROM gaps
)
"""

_GAP_HIST_SQL = """
SELECT LEAST(GREATEST(CAST(FLOOR(gap_s / 3600.0) AS INT), 0), 23) AS bucket,
       COUNT(*) AS n
FROM gaps
WHERE CAST(FLOOR(epoch(ts)) AS BIGINT) {op} (SELECT mid FROM m)
GROUP BY 1
"""

_GAP_SPLIT = (_GAPS_SQL, _GAP_HIST_SQL, "")


@query(_split_drift_oracle(_GAP_SPLIT, _PSI_FROM_J))
def q_ts_gap_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI drift on ts-gap histograms (1h buckets), first vs second half —
    same one-aggregate split shape as q_psi_drift."""
    g = _ts_gaps(spark, sf_dir)
    return psi_joined(split_histograms(g, "gap_s", "ts", 3600.0, 24))


@query(_split_drift_oracle(_GAP_SPLIT, _KS_FROM_J))
def q_ts_gap_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KS drift on the same ts-gap split."""
    g = _ts_gaps(spark, sf_dir)
    return ks_joined(split_histograms(g, "gap_s", "ts", 3600.0, 24))


def _day_text_len(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-null turns as (part_date, text_len): the input of every per-day
    turn-length profile and drift query."""
    return (
        _transcripts(spark, sf_dir)
        .filter(F.col("text").isNotNull())
        .select(F.to_date("ts").alias("part_date"), F.length("text").alias("text_len"))
    )


def _len_by_day(spark: SparkSession, sf_dir: str, by_group) -> DataFrame:
    """``by_group`` (an ``operators.drift`` per-group statistic) of each
    day's turn lengths against the whole table's."""
    t = _day_text_len(spark, sf_dir)
    return by_group(t, "part_date", "text_len", _LEN_WIDTH, _LEN_BUCKETS)


@query(with_transcripts(
    """
            SELECT CAST(ts AS DATE) AS part_date,
                   ROUND(quantile_cont(length(text), 0.5), 4) AS q50,
                   ROUND(quantile_cont(length(text), 0.95), 4) AS q95
            FROM transcripts WHERE text IS NOT NULL GROUP BY 1
            """
))
def q_quantiles_by_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition profile: exact text-length percentiles per day (the
    grouped variant of the quantile stats; percentile is a partial
    aggregate, so this is one shuffle at any scale)."""
    from fsharp_data_validation_spark.operators.stats import exact_quantiles_by_group

    return exact_quantiles_by_group(
        _day_text_len(spark, sf_dir), "part_date", "text_len", [0.5, 0.95]
    )


#: per-day turn-length counts ``per`` (``_LEN_WIDTH``, ``_LEN_BUCKETS``),
#: the whole-table baseline ``gbase``, per-day totals ``tg`` and the grand
#: total ``tot``: what every per-day drift oracle compares
_PER_DAY_SQL = f"""
, per AS (
  SELECT CAST(ts AS DATE) AS grp,
         LEAST(GREATEST(CAST(FLOOR(length(text) / {_LEN_WIDTH}) AS INT), 0), {_LEN_BUCKETS - 1}) AS bucket,
         COUNT(*) AS n
  FROM transcripts WHERE text IS NOT NULL GROUP BY 1, 2
), gbase AS (SELECT bucket, SUM(n) AS gn FROM per GROUP BY 1),
tg AS (SELECT grp, SUM(n) AS tg FROM per GROUP BY 1),
tot AS (SELECT SUM(n) AS t FROM per),
"""


def _by_day_oracle(stat_sql: str) -> str:
    """Per-day drift of turn length vs the whole-table baseline: ``stat_sql``
    continues the CTE list after ``_PER_DAY_SQL``."""
    return with_transcripts(_PER_DAY_SQL + stat_sql)


#: each day's bucket count ``n`` beside the baseline's ``gn``, over the
#: buckets the baseline has (psi and js)
_DAY_J_SQL = """
grid AS (SELECT tg.grp, tg.tg, gbase.bucket, gbase.gn FROM tg CROSS JOIN gbase),
j AS (
  SELECT g.grp, g.tg, g.gn, COALESCE(per.n, 0) AS n
  FROM grid g LEFT JOIN per ON per.grp = g.grp AND per.bucket = g.bucket
)"""

#: shared by psi_by_day (batch) and stream_psi (streaming)
_PSI_BY_DAY_ORACLE = _by_day_oracle(
    _DAY_J_SQL + """
SELECT grp AS part_date, CAST(MIN(tg) AS BIGINT) AS n_rows,
       ROUND(SUM((GREATEST(n * 1.0 / tg, 0.000001) - GREATEST(gn * 1.0 / t, 0.000001))
                 * LN(GREATEST(n * 1.0 / tg, 0.000001)
                      / GREATEST(gn * 1.0 / t, 0.000001))), 4) AS psi
FROM j CROSS JOIN tot GROUP BY grp
"""
)


@query(_PSI_BY_DAY_ORACLE)
def q_psi_by_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition drift: PSI of each day's turn-length distribution vs
    the whole-table baseline — the production shape of the north rule's
    drift check (one scan, grid-complete closed form)."""
    return _len_by_day(spark, sf_dir, psi_by_group)


@query(_by_day_oracle(
    _DAY_J_SQL + """, pq AS (
  SELECT grp, tg,
         GREATEST(n * 1.0 / tg, 0.000001) AS p,
         GREATEST(gn * 1.0 / t, 0.000001) AS q
  FROM j CROSS JOIN tot
)
SELECT grp AS part_date, CAST(MIN(tg) AS BIGINT) AS n_rows,
       ROUND(SUM(0.5 * p * LN(p / ((p + q) / 2))
               + 0.5 * q * LN(q / ((p + q) / 2))), 4) AS js
FROM pq GROUP BY grp
"""
))
def q_js_by_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day Jensen-Shannon divergence vs the whole-table baseline
    (one-scan grid shape, operators/drift.py:js_by_group)."""
    return _len_by_day(spark, sf_dir, js_by_group)


@query(_by_day_oracle(
    """
grid AS (SELECT tg.grp, tg.tg, gbase.bucket, gbase.gn FROM tg CROSS JOIN gbase),
j AS (
  SELECT g.grp, g.tg, g.bucket, g.gn, COALESCE(per.n, 0) AS n
  FROM grid g LEFT JOIN per ON per.grp = g.grp AND per.bucket = g.bucket
), c AS (
  SELECT grp, tg,
         SUM(n) OVER (PARTITION BY grp ORDER BY bucket
                      ROWS UNBOUNDED PRECEDING) AS cn,
         SUM(gn) OVER (PARTITION BY grp ORDER BY bucket
                       ROWS UNBOUNDED PRECEDING) AS cgn
  FROM j
)
SELECT grp AS part_date, CAST(MIN(tg) AS BIGINT) AS n_rows,
       ROUND(MAX(ABS(cn * 1.0 / tg - cgn * 1.0 / (SELECT t FROM tot))), 4) AS ks
FROM c GROUP BY grp
"""
))
def q_ks_by_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition KS: each day's turn-length ECDF vs the whole-table
    baseline (same one-scan grid shape as psi_by_day)."""
    return _len_by_day(spark, sf_dir, ks_by_group)


@query(with_transcripts(
    """
            SELECT conv_id, turn_idx, ts,
                   'words.[' || CAST(i - 1 AS VARCHAR) || ']' AS path,
                   'word_too_long' AS code
            FROM (
              SELECT conv_id, turn_idx, ts, w,
                     unnest(range(1, len(w) + 1)) AS i
              FROM (
                SELECT conv_id, turn_idx, ts, string_split(text, ' ') AS w
                FROM transcripts WHERE text IS NOT NULL
              ) b
            ) x
            WHERE length(w[i]) > 6
            """
))
def q_element_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Element constraints over an array column with per-index provenance
    (disputeAnyWithFact, VCtx.fs:416-429): split text into words and flag
    words longer than 6 chars; violation paths are ``words.[i]`` exactly as
    the reference serializer renders element segments."""
    from fsharp_data_validation_spark.functions.compiler import Suite

    t = _transcripts(spark, sf_dir).filter(F.col("text").isNotNull())
    suite = (
        Suite()
        .field("words", F.split(F.col("text"), " "))
        .each_check("word_too_long", lambda x: F.length(x) <= 6)
        .done()
    )
    return suite.run(t, KEY).violations


@query(with_transcripts(
    f"""
            SELECT conv_id, turn_idx, ts, path, code FROM (
              SELECT conv_id, turn_idx, ts, 'meta' AS path,
                     'metaRequired' AS code
              FROM transcripts WHERE role IS NULL AND tool IS NULL
              UNION ALL
              SELECT conv_id, turn_idx, ts, 'meta.role', 'roleRequired'
              FROM transcripts
              WHERE NOT (role IS NULL AND tool IS NULL) AND role IS NULL
              UNION ALL
              SELECT conv_id, turn_idx, ts, 'meta.role', 'roleEnum'
              FROM transcripts
              WHERE role IS NOT NULL AND role NOT IN ({_ROLES_SQL})
              UNION ALL
              SELECT conv_id, turn_idx, ts, 'meta.tool', 'toolFormat'
              FROM transcripts
              WHERE tool IS NOT NULL
                AND NOT regexp_matches(tool, '^tool_[0-9]+$')
              UNION ALL
              -- post-gate parent check: reached only when no child branch
              -- refuted (roleRequired needs role IS NULL, impossible here)
              SELECT conv_id, turn_idx, ts, 'meta', 'toolOnToolRole'
              FROM transcripts WHERE role = 'tool' AND tool IS NULL
            ) v
            """
))
def q_nested_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested child-suite composition (refuteWithProof VCtx.fs:253-269 /
    applyFailures VCtx.fs:36-47): a derived ``meta`` struct is validated by
    a child suite — violations carry dotted nested provenance
    (``meta.role``, ``meta.tool``), a child refute gates the post-nesting
    parent check, and the whole thing stays one shuffle-free projection."""
    from fsharp_data_validation_spark.functions.compiler import Suite

    t = _transcripts(spark, sf_dir).withColumn(
        "meta",
        F.when(
            F.col("role").isNotNull() | F.col("tool").isNotNull(),
            F.struct("role", "tool"),
        ),
    )
    child = (
        Suite()
        .field("role", F.col("meta.role"))
        .required("roleRequired")
        .isin("roleEnum", ROLES)
        .field("tool", F.col("meta.tool"))
        .optional()
        .rlike("toolFormat", "^tool_[0-9]+$")
        .done()
    )
    suite = (
        Suite()
        .field("meta", F.col("meta"))
        .required("metaRequired")
        .done()
        .nested("meta", child, guard=F.col("meta").isNotNull())
    )
    suite.field("meta", F.col("meta")).check(
        "toolOnToolRole",
        ~((F.col("meta.role") == "tool") & F.col("meta.tool").isNull()),
    )
    return suite.run(t, KEY).violations


@query(with_transcripts(
    f"""
            , ranked AS (
              SELECT conv_id, role, turn_idx,
                     ROW_NUMBER() OVER (
                       PARTITION BY conv_id
                       ORDER BY turn_idx ASC NULLS FIRST, role ASC NULLS FIRST
                     ) AS rn
              FROM transcripts
            )
            SELECT conv_id, path, code FROM (
              SELECT conv_id,
                     'turns.[' || CAST(rn - 1 AS VARCHAR) || '].role' AS path,
                     'roleRequired' AS code
              FROM ranked WHERE role IS NULL
              UNION ALL
              SELECT conv_id,
                     'turns.[' || CAST(rn - 1 AS VARCHAR) || '].role',
                     'roleEnum'
              FROM ranked
              WHERE role IS NOT NULL AND role NOT IN ({_ROLES_SQL})
              UNION ALL
              SELECT conv_id,
                     'turns.[' || CAST(rn - 1 AS VARCHAR) || '].turn_idx',
                     'turnIdxNonNegative'
              FROM ranked WHERE turn_idx IS NOT NULL AND turn_idx < 0
            ) v
            """
))
def q_each_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-element nested validation (refuteEachWithProof, VCtx.fs:274-287):
    turns are collected per conversation into an ordered array of structs
    and each element is validated by a child suite — violations carry
    ``turns.[i].role``-style element provenance. Scale note: the groupBy
    shuffles one row per (conv, turn) once; the per-element suite itself is
    higher-order functions in one projection over the grouped rows."""
    from fsharp_data_validation_spark.functions.compiler import ElementSuite, Suite

    t = _transcripts(spark, sf_dir)
    conv = t.groupBy("conv_id").agg(
        F.array_sort(F.collect_list(F.struct("turn_idx", "role"))).alias("turns")
    )
    child = (
        ElementSuite()
        .field("role")
        .required("roleRequired")
        .isin("roleEnum", ROLES)
        .field("turn_idx")
        .check("turnIdxNonNegative", lambda v: v >= 0)
        .done()
    )
    suite = Suite().field("turns").each_nested(child).done()
    return suite.run(conv, ["conv_id"]).violations


@query(with_transcripts(
    """
            , ranked AS (
              SELECT conv_id, role, turn_idx,
                     ROW_NUMBER() OVER (
                       PARTITION BY conv_id
                       ORDER BY turn_idx ASC NULLS FIRST, role ASC NULLS FIRST
                     ) AS rn
              FROM transcripts
            )
            SELECT conv_id, path, code FROM (
              SELECT conv_id, 'turns.[0].role' AS path,
                     'firstMustBeSystem' AS code
              FROM ranked
              WHERE rn = 1 AND role IS NOT NULL AND role <> 'system'
              UNION ALL
              SELECT conv_id,
                     'turns.[' || CAST(rn - 1 AS VARCHAR) || '].turn_idx',
                     'turnIdxMatchesPosition'
              FROM ranked WHERE turn_idx IS NOT NULL AND turn_idx < rn - 1
            ) v
            """
))
def q_each_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-element nested validation where the child validators see the
    ELEMENT INDEX (reference indexed overloads VCtx.fs:242-248,331-344 via
    refuteEachWithProof): 'the first turn must be role=system' and
    'turn_idx must be >= its position in the conversation' — positional
    rules inexpressible without the index. Same one-shuffle collect +
    single-projection higher-order-function shape as each_nested."""
    from fsharp_data_validation_spark.functions.compiler import ElementSuite, Suite

    t = _transcripts(spark, sf_dir)
    conv = t.groupBy("conv_id").agg(
        F.array_sort(F.collect_list(F.struct("turn_idx", "role"))).alias("turns")
    )
    child = (
        ElementSuite()
        .field("role")
        .check_indexed("firstMustBeSystem", lambda v, i: (i > 0) | (v == "system"))
        .field("turn_idx")
        .refute_check_indexed("turnIdxMatchesPosition", lambda v, i: v >= i)
        .done()
    )
    suite = Suite().field("turns").each_nested(child).done()
    return suite.run(conv, ["conv_id"]).violations


# --- training-data pipeline: dedup / text / similarity ----------------------


@query(with_docs(
    "SELECT content_hash, n_dups, min_id FROM ("
    "  SELECT md5(text) AS content_hash, COUNT(*) AS n_dups,"
    "         MIN(doc_id) AS min_id FROM docs GROUP BY 1"
    ") g WHERE n_dups > 1"
))
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: content-hash groupBy (map-side combine, one shuffle)."""
    from fsharp_data_validation_spark.operators.dedup import exact_duplicates

    return exact_duplicates(load_docs(spark, sf_dir), "doc_id", "text")


# bigram add-k LM trained on the en reference sub-corpus; CASTs keep
# the smoothed ratios in DOUBLE (decimal literals would otherwise
# promote the division to DECIMAL)
@query(with_docs(
    """
            , base AS (
              SELECT doc_id, text, (lang = 'en') AS is_ref,
                     string_split(text, ' ') AS w
              FROM docs
            ),
            refbg AS (
              SELECT w[i + 1] AS w1, w[i + 2] AS w2
              FROM (
                SELECT w, unnest(range(0, len(w) - 1)) AS i
                FROM base WHERE is_ref AND text IS NOT NULL AND len(w) >= 2
              ) s
            ),
            bg AS (SELECT w1, w2, COUNT(*) AS c12 FROM refbg GROUP BY 1, 2),
            ctx AS (SELECT w1, SUM(c12) AS c1 FROM bg GROUP BY 1),
            voc AS (
              SELECT CAST(COUNT(DISTINCT tok) AS DOUBLE) AS v
              FROM (SELECT unnest(w) AS tok FROM base
                    WHERE is_ref AND text IS NOT NULL) t
            ),
            docbg AS (
              SELECT doc_id, w[i + 1] AS w1, w[i + 2] AS w2
              FROM (
                SELECT doc_id, w, unnest(range(0, len(w) - 1)) AS i
                FROM base WHERE text IS NOT NULL AND len(w) >= 2
              ) s
            ),
            sc AS (
              SELECT d.doc_id,
                     LOG2(
                       (CAST(COALESCE(bg.c12, 0) AS DOUBLE) + 0.1)
                       / (CAST(COALESCE(ctx.c1, 0) AS DOUBLE)
                          + 0.1 * (voc.v + 1.0))
                     ) AS lp
              FROM docbg d
              LEFT JOIN bg ON bg.w1 = d.w1 AND bg.w2 = d.w2
              LEFT JOIN ctx ON ctx.w1 = d.w1
              CROSS JOIN voc
            ),
            per AS (
              SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                     ROUND(POW(2.0, -AVG(lp)), 4) AS ppl
              FROM sc GROUP BY 1
            )
            SELECT b.doc_id, b.is_ref,
                   COALESCE(p.n_bigrams, 0) AS n_bigrams, p.ppl
            FROM base b LEFT JOIN per p USING (doc_id)
            """
))
def q_ngram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM perplexity quality filter (operators/text.py:
    ngram_perplexity): every doc scored under an add-k bigram model trained
    on the English reference sub-corpus — the CCNet/RefinedWeb
    perplexity-filtering architecture; off-reference (non-en) docs surface
    with higher perplexity."""
    from fsharp_data_validation_spark.operators.text import ngram_perplexity

    return ngram_perplexity(load_docs(spark, sf_dir), "doc_id", "text", F.col("lang") == "en")


# keep-earliest = ROW_NUMBER over (doc_id, start); splice = token
# anti-join against the span coverage set; all-removed docs must
# yield '' (COALESCE), NULL-text docs NULL — matching the Spark
# array_join/filter semantics exactly
@query(with_docs(
    """
            , t AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM docs),
            g AS (
              SELECT doc_id, unnest(range(0, len(w) - 8 + 1)) AS s, w
              FROM t WHERE text IS NOT NULL AND len(w) >= 8
            ),
            k AS (
              SELECT doc_id, s,
                     md5(array_to_string(w[s + 1:s + 8], ' ')) AS key
              FROM g
            ),
            r AS (
              SELECT doc_id, s,
                     ROW_NUMBER() OVER (PARTITION BY key ORDER BY doc_id, s) AS rn
              FROM k
            ),
            dup AS (SELECT doc_id, s FROM r WHERE rn > 1),
            tok AS (
              SELECT doc_id, unnest(range(0, len(w))) AS i, w
              FROM t WHERE text IS NOT NULL
            ),
            cov AS (
              SELECT DISTINCT tok.doc_id, tok.i
              FROM tok JOIN dup d
                ON d.doc_id = tok.doc_id AND tok.i >= d.s AND tok.i < d.s + 8
            ),
            per AS (
              SELECT tok.doc_id,
                     CAST(COUNT(*) AS BIGINT) AS ntok,
                     CAST(COUNT(*) FILTER (WHERE cov.i IS NOT NULL) AS BIGINT) AS nrem,
                     COALESCE(
                       string_agg(tok.w[tok.i + 1], ' ' ORDER BY tok.i)
                         FILTER (WHERE cov.i IS NULL),
                       '') AS clean
              FROM tok LEFT JOIN cov
                ON cov.doc_id = tok.doc_id AND cov.i = tok.i
              GROUP BY 1
            ),
            ds AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS ng FROM dup GROUP BY 1)
            SELECT t.doc_id,
                   COALESCE(p.ntok, 0) AS n_tokens,
                   COALESCE(ds.ng, 0) AS n_dup_grams,
                   COALESCE(p.nrem, 0) AS n_removed,
                   CASE WHEN t.text IS NULL THEN NULL ELSE p.clean END AS text_clean
            FROM t LEFT JOIN per p USING (doc_id) LEFT JOIN ds USING (doc_id)
            """
))
def q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style duplicated-span removal (operators/dedup.py:
    span_dedup): every 8-token span occurring more than once corpus-wide is
    spliced out of all but its lexicographically-first (doc_id, start)
    occurrence — the span-granularity complement of the doc-level dedup
    family (Lee et al. 2022). gram_len=8 at the oracle scale so the
    injected near-dup/exact-copy docs genuinely exercise the splice."""
    from fsharp_data_validation_spark.operators.dedup import span_dedup

    return span_dedup(load_docs(spark, sf_dir), "doc_id", "text", gram_len=8)


# hashed unigram+bigram Laplace-smoothed log-likelihood ratio;
# CASTs keep every ratio in DOUBLE (DuckDB decimal literals would
# otherwise promote the division to DECIMAL)
@query(with_docs(
    """
            , base AS (
              SELECT doc_id, text, (lang = 'en') AS is_target,
                     string_split(text, ' ') AS w
              FROM docs
            ),
            uni AS (
              SELECT doc_id, is_target, unnest(w) AS g
              FROM base WHERE text IS NOT NULL
            ),
            bi AS (
              SELECT doc_id, is_target, array_to_string(w[i + 1:i + 2], ' ') AS g
              FROM (
                SELECT doc_id, is_target, w,
                       unnest(range(0, len(w) - 1)) AS i
                FROM base WHERE text IS NOT NULL AND len(w) >= 2
              ) s
            ),
            occ AS (
              SELECT doc_id, is_target,
                     CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) % 4096 AS b
              FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi) u
            ),
            bc AS (
              SELECT b,
                     COUNT(*) FILTER (WHERE is_target) AS ct,
                     COUNT(*) FILTER (WHERE NOT is_target) AS cr
              FROM occ GROUP BY 1
            ),
            tot AS (
              SELECT CAST(SUM(ct) AS DOUBLE) AS tt,
                     CAST(SUM(cr) AS DOUBLE) AS tr
              FROM bc
            ),
            lw AS (
              SELECT b,
                     LN((CAST(ct AS DOUBLE) + 1.0) / (tt + 1.0 * 4096))
                     - LN((CAST(cr AS DOUBLE) + 1.0) / (tr + 1.0 * 4096)) AS lwt
              FROM bc CROSS JOIN tot
            ),
            per AS (
              SELECT occ.doc_id,
                     CAST(COUNT(*) AS BIGINT) AS n_grams,
                     ROUND(SUM(lw.lwt), 4) AS logratio
              FROM occ JOIN lw ON lw.b = occ.b
              GROUP BY 1
            )
            SELECT d.doc_id, d.is_target,
                   COALESCE(p.n_grams, 0) AS n_grams,
                   p.logratio
            FROM base d LEFT JOIN per p USING (doc_id)
            """
))
def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights (operators/sampling.py:dsir_weights):
    per-doc log-likelihood ratio of the hashed unigram+bigram distribution
    under the English-target model vs the rest of the corpus — the
    published data-selection scoring step; exp(score) feeds the A-ES
    weighted sampler for the resampling half."""
    from fsharp_data_validation_spark.operators.sampling import dsir_weights

    return dsir_weights(
        load_docs(spark, sf_dir),
        "doc_id",
        "text",
        F.col("lang") == "en",
        n_buckets=4096,
    )


#: the 3-word shingles of the word list ``w``, and their distinct set
_SHINGLE_LIST_SQL = "[w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)]"
_SHINGLES_SQL = f"list_distinct({_SHINGLE_LIST_SQL})"

#: shingle set ``sh`` of every doc with at least 3 words
_DOC_SHINGLES_SQL = f"""
, d AS (
  SELECT doc_id, {_SHINGLES_SQL} AS sh
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM docs)
  WHERE len(w) >= 3
)"""

#: exact Jaccard similarity of the shingle sets of ``a`` and ``b``
_JACCARD_SQL = (
    "len(list_intersect(a.sh, b.sh)) * 1.0 / "
    "(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))"
)

#: doc pairs of Jaccard similarity >= 0.8, ``id_a < id_b``
_PAIRS_SQL = f"""
FROM (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, ROUND({_JACCARD_SQL}, 6) AS sim
  FROM d a JOIN d b ON a.doc_id < b.doc_id
) p WHERE sim >= 0.8
"""

# shingle sets + exact-Jaccard pairs in DuckDB (oracle for both the exact
# inverted-index query AND the LSH+verify query — high-recall banding means
# they agree)
_JACCARD_ORACLE = _DOC_SHINGLES_SQL + "\nSELECT id_a, id_b, sim" + _PAIRS_SQL


@query(with_docs(_JACCARD_ORACLE), quadratic=True)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs via shingle inverted index."""
    from fsharp_data_validation_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(load_docs(spark, sf_dir), "doc_id", "text", 0.8)


@query(with_docs(
    """
            SELECT doc_id FROM (
              SELECT doc_id,
                     ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
              FROM docs
            ) k WHERE rn = 1
            """
))
def q_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized exact dedup (keep lowest-id per content group)."""
    from fsharp_data_validation_spark.operators.dedup import dedup_keep_first

    return dedup_keep_first(load_docs(spark, sf_dir), "doc_id", "text").select("doc_id")


# Connected components of the exact near-dup graph: DuckDB recursive CTE
# transitive closure over the symmetric pair edges, min reachable id per
# node. (WITH RECURSIVE must head the CTE list, so this oracle inlines the
# docs CTE instead of using with_docs().)
_COMPONENTS_ORACLE = (
    "WITH RECURSIVE docs AS (" + _DOCS_SQL + ")"
    + _DOC_SHINGLES_SQL
    + ", pairs AS (\nSELECT id_a, id_b"
    + _PAIRS_SQL
    + """), sym AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pairs
), reach(src, dst) AS (
  SELECT doc_id, doc_id FROM docs
  UNION
  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src
)
SELECT src AS doc_id, MIN(dst) AS component FROM reach GROUP BY src
"""
)


@query(_COMPONENTS_ORACLE, quadratic=True)
def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: connected components of the exact-Jaccard pair
    graph via large-star/small-star contraction (checked against a DuckDB
    recursive-CTE transitive closure)."""
    from fsharp_data_validation_spark.operators.dedup import near_dup_components

    return near_dup_components(load_docs(spark, sf_dir), "doc_id", "text")


# independent spec of RAWV frame sampling: each sampled frame is
# the i*12+1..i*12+12 substring of the dot-padded ASCII body
@query(with_docs(
    ", v AS ("
    "  SELECT doc_id AS media_id, CAST(doc_id % 5 + 2 AS INT) AS n, "
    "    rpad(regexp_replace(coalesce(text, ''), '[^ -~]', '', 'g'), "
    "         CAST((doc_id % 5 + 2) * 12 AS INT), '.') AS body "
    "  FROM docs"
    "), s AS ("
    "  SELECT media_id, n, body, unnest(range(0, n, 2)) AS i FROM v"
    ") "
    "SELECT media_id, CAST(i AS INT) AS frame_idx, "
    "  CAST(4 AS INT) AS width, CAST(3 AS INT) AS height, "
    "  substr(body, CAST(i * 12 + 1 AS INT), 12) AS frame_text FROM s"
))
def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling end-to-end on the RAWV raw-frame container:
    payloads synthesized in Spark SQL (header + ASCII body so the oracle
    can rebuild each frame as a substring), every-2nd-frame extraction via
    Arrow mapInPandas numpy slicing (operators/multimodal.py:frame_sample);
    frames decoded back to text for engine-portable comparison."""
    from fsharp_data_validation_spark.operators.multimodal import frame_sample

    d = load_docs(spark, sf_dir)
    n = (F.col("doc_id") % 5 + 2).cast("int")
    # F.rpad takes only a literal length, so the per-doc pad length goes
    # through expr(); '[^ -~]' strips non-ASCII so char offsets == byte
    # offsets on both engines
    body = F.expr(
        "rpad(regexp_replace(coalesce(text, ''), '[^ -~]', ''), "
        "cast((doc_id % 5 + 2) * 12 as int), '.')"
    )
    payload = F.concat(
        F.unhex(F.lit("5256")),                      # 'RV'
        F.unhex(F.lpad(F.hex(n), 4, "0")),           # n_frames BE uint16
        F.unhex(F.lit("0004")),                      # width 4
        F.unhex(F.lit("0003")),                      # height 3
        F.encode(body, "UTF-8"),
    )
    media = d.select(F.col("doc_id").alias("media_id"), payload.alias("payload"))
    frames = frame_sample(media)
    return frames.select(
        "media_id",
        "frame_idx",
        "width",
        "height",
        F.decode(F.col("frame"), "UTF-8").alias("frame_text"),
    )


# HLL sketch binaries aren't DuckDB-reproducible; the oracle pins the
# exactly-reproducible companions (partition count, exact distinct)
# and the PUBLISHED ACCURACY BOUND as a Spark-side boolean (estimate
# within 5% ≈ 3σ of lg_k=12's 1.6% RSE) that must read TRUE.
@query(with_transcripts(
    "SELECT CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_parts,"
    " CAST(COUNT(DISTINCT conv_id) AS BIGINT) AS exact_distinct,"
    " TRUE AS within_err FROM transcripts"
))
def q_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable per-day HLL sketches of distinct conv_ids, answered by
    sketch UNION without rescanning (operators/stats.py:
    hll_partition_sketches/hll_rollup). The raw DataSketches binary isn't
    DuckDB-reproducible, so the attestable form pairs the sketch-union
    estimate with the exact distinct count (oracle-scale rescan, query-only)
    and asserts the estimate lands within 3 sigma of lg_k=12's ~1.6% RSE —
    DuckDB reproduces n_parts/exact_distinct exactly and pins within_err
    TRUE. The exact union-merge property stays pinned by
    tests/test_pipeline_ops.py::test_hll_sketch_rollup_merge_property."""
    from fsharp_data_validation_spark.operators.stats import (
        hll_partition_sketches,
        hll_rollup,
    )

    t = _transcripts(spark, sf_dir).withColumn("day", F.to_date("ts"))
    rollup = hll_rollup(hll_partition_sketches(t, "day", "conv_id"))
    exact = t.agg(F.countDistinct("conv_id").alias("exact_distinct"))
    return rollup.crossJoin(exact).select(
        "n_parts",
        "exact_distinct",
        (
            F.abs(F.col("distinct_estimate") - F.col("exact_distinct"))
            <= 0.05 * F.col("exact_distinct")
        ).alias("within_err"),
    )


# total order for conversation-flow lag windows — must match
# conversation_flow_violations' window spec exactly (ts alone can tie under
# injected duplicate turn indexes)
_FLOW_W = (
    "PARTITION BY conv_id ORDER BY turn_idx, ts, role, "
    "COALESCE(text, ''), COALESCE(tool, '')"
)


@query(with_transcripts(
    f"""
            , w AS (
              SELECT conv_id, turn_idx, role,
                     LAG(role) OVER ({_FLOW_W}) AS prev_role,
                     ROW_NUMBER() OVER ({_FLOW_W}) AS rn
              FROM transcripts
            )
            SELECT conv_id, turn_idx, role, code FROM (
              SELECT conv_id, turn_idx, role, 'conversation_start' AS code
              FROM w WHERE rn = 1 AND role NOT IN ('system', 'user')
              UNION ALL
              SELECT conv_id, turn_idx, role, 'consecutive_same_role'
              FROM w WHERE prev_role IS NOT NULL AND role = prev_role
              UNION ALL
              SELECT conv_id, turn_idx, role, 'orphan_tool_turn'
              FROM w WHERE role = 'tool'
                    AND (prev_role IS NULL OR prev_role <> 'assistant')
            ) v
            """
))
def q_conv_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structural conversation-flow validation — cross-row sequencing rules
    (start-role, turn-taking, orphan tool turns) over one window pass
    (operators/crossrow.py:conversation_flow_violations); the sequence-level
    extension of the reference's role-enum membership (Library.fs:97)."""
    from fsharp_data_validation_spark.operators.crossrow import (
        conversation_flow_violations,
    )

    return conversation_flow_violations(_transcripts(spark, sf_dir))


@query(with_transcripts(
    f"""
            , m AS ({_MID_SQL})
            , c AS (
              SELECT role AS cat,
                     SUM(CASE WHEN CAST(FLOOR(epoch(ts)) AS BIGINT) < (SELECT mid FROM m)
                              THEN 1 ELSE 0 END) AS na,
                     SUM(CASE WHEN CAST(FLOOR(epoch(ts)) AS BIGINT) >= (SELECT mid FROM m)
                              THEN 1 ELSE 0 END) AS nb
              FROM transcripts WHERE role IS NOT NULL GROUP BY 1
            ), tot AS (SELECT SUM(na) AS ta, SUM(nb) AS tb, SUM(na) + SUM(nb) AS t FROM c)
            SELECT ROUND(SUM(
                     POWER(na - (na + nb) * ta * 1.0 / t, 2) / ((na + nb) * ta * 1.0 / t)
                   + POWER(nb - (na + nb) * tb * 1.0 / t, 2) / ((na + nb) * tb * 1.0 / t)
                   ), 4) AS chi2,
                   CAST(COUNT(*) - 1 AS BIGINT) AS dof
            FROM c CROSS JOIN tot
            """
))
def q_chi2_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square role-distribution drift, first half vs second
    half by event time — the categorical drift test PSI/KS can't express
    (no ordered domain). One conditional aggregate over the data
    (operators/drift.py:split_category_counts/chi2_joined)."""
    from fsharp_data_validation_spark.operators.drift import chi2_drift

    return chi2_drift(_transcripts(spark, sf_dir), "role", "ts")


#: shared by w1_by_day (batch) and stream_w1 (streaming)
_W1_BY_DAY_ORACLE = _by_day_oracle(
    f"""
spine AS (SELECT unnest(range(0, {_LEN_BUCKETS})) AS bucket),
grid AS (SELECT tg.grp, tg.tg, s.bucket FROM tg CROSS JOIN spine s),
j AS (
  SELECT g.grp, g.tg, g.bucket,
         COALESCE(gb.gn, 0) AS gn, COALESCE(per.n, 0) AS n
  FROM grid g LEFT JOIN gbase gb ON gb.bucket = g.bucket
              LEFT JOIN per ON per.grp = g.grp AND per.bucket = g.bucket
),
c AS (
  SELECT grp, tg,
         SUM(n) OVER (PARTITION BY grp ORDER BY bucket) AS cn,
         SUM(gn) OVER (PARTITION BY grp ORDER BY bucket) AS cg
  FROM j
)
SELECT grp AS part_date, CAST(MIN(tg) AS BIGINT) AS n_rows,
       ROUND(SUM(ABS(cn * 1.0 / tg - cg * 1.0 / (SELECT t FROM tot))) * {_LEN_WIDTH}, 4) AS w1
FROM c GROUP BY grp
"""
)


@query(_W1_BY_DAY_ORACLE)
def q_w1_by_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day Wasserstein-1 drift of turn length vs the whole-table
    baseline — completes the per-group drift family (PSI/KS/JS/W1); grid
    densified to the full bucket spine because W1 is a sum, not a max
    (operators/drift.py:w1_by_group)."""
    return _len_by_day(spark, sf_dir, w1_by_group)


@query(with_transcripts(
    f"""
            SELECT day, n_rows, n_viol,
                   ROUND(n_viol * 1.0 / n_rows, 6) AS rate,
                   ROUND(SUM(n_viol) OVER w * 1.0 / SUM(n_rows) OVER w, 6) AS rolling_rate
            FROM (
              SELECT CAST(ts AS DATE) AS day,
                     CAST(COUNT(*) AS BIGINT) AS n_rows,
                     CAST(SUM(CASE WHEN ({_NF_EXPR}) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_viol
              FROM transcripts GROUP BY 1
            ) d
            WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
            """
))
def q_rolling_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day suite violation rate + 7-day rolling rate — the monitoring
    time series over the single-projection suite run. Rolling sums run on
    the tiny per-day aggregate (exact integer sums, one division — no
    float-accumulation order sensitivity), never on the data; the
    unpartitioned window is over ~#days rows, not rows of data."""
    from pyspark.sql import Window

    t = _transcripts(spark, sf_dir)
    anyf = transcript_row_suite().any_failure_column()
    daily = t.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(anyf.cast("long")).alias("n_viol"),
    )
    w = Window.orderBy("day").rowsBetween(-6, 0)
    return daily.select(
        "day",
        "n_rows",
        "n_viol",
        F.round(F.col("n_viol") / F.col("n_rows"), 6).alias("rate"),
        F.round(F.sum("n_viol").over(w) / F.sum("n_rows").over(w), 6).alias(
            "rolling_rate"
        ),
    )


@query(with_transcripts(
    f"""
            , base AS (
              SELECT CAST(ts AS DATE) AS grp, length(text) AS x
              FROM transcripts WHERE text IS NOT NULL
            ),
            med AS (SELECT grp, quantile_cont(x, 0.5) AS m FROM base GROUP BY 1),
            mad AS (
              SELECT b.grp, quantile_cont(ABS(b.x - m.m), 0.5) AS d
              FROM base b JOIN med m ON b.grp = m.grp GROUP BY b.grp
            )
            SELECT b.grp AS part_date,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   ROUND(MIN(m.m), 4) AS med,
                   ROUND(MIN(d.d), 4) AS mad,
                   CAST(SUM(CASE WHEN ABS(b.x - m.m) > {3 * 1.4826!r} * d.d
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
                   ROUND(SUM(CASE WHEN ABS(b.x - m.m) > {3 * 1.4826!r} * d.d
                             THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 4) AS outlier_rate
            FROM base b JOIN med m ON b.grp = m.grp JOIN mad d ON b.grp = d.grp
            GROUP BY 1
            """
))
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-day outlier profile on turn length: median + MAD flags
    (operators/stats.py:mad_outliers_by_group) — the heavy-tail-safe
    variant of z-score outlier checks."""
    from fsharp_data_validation_spark.operators.stats import mad_outliers_by_group

    return mad_outliers_by_group(_day_text_len(spark, sf_dir), "part_date", "text_len")


@query(with_docs(
    """
            , toks AS (
              SELECT doc_id AS doc, unnest(string_split(text, ' ')) AS term
              FROM docs WHERE text IS NOT NULL
            ),
            tf AS (SELECT doc, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
            dfq AS (SELECT term, COUNT(*) AS df_t FROM tf GROUP BY 1),
            nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM docs WHERE text IS NOT NULL)
            SELECT doc AS doc_id, term, CAST(tf AS BIGINT) AS tf, score,
                   CAST(rnk AS BIGINT) AS rnk
            FROM (
              SELECT tf.doc, tf.term, tf.tf,
                     ROUND(tf.tf * LN(nd.n_docs * 1.0 / dfq.df_t), 4) AS score,
                     ROW_NUMBER() OVER (
                       PARTITION BY tf.doc
                       ORDER BY ROUND(tf.tf * LN(nd.n_docs * 1.0 / dfq.df_t), 4) DESC,
                                tf.term ASC
                     ) AS rnk
              FROM tf JOIN dfq USING (term) CROSS JOIN nd
            ) r WHERE rnk <= 3
            """
))
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms (operators/text.py:tfidf_top_terms);
    ranking on the rounded score + lexicographic tiebreak so the window
    order is engine-portable."""
    from fsharp_data_validation_spark.operators.text import tfidf_top_terms

    return tfidf_top_terms(load_docs(spark, sf_dir), "doc_id", "text")


@query(with_vecs(
    f"""
            , tagged AS (
              SELECT vec_id, e,
                     CASE WHEN CAST(('0x' || substr(md5('split' || '|' || CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 80
                          THEN 0 ELSE 1 END AS side
              FROM vecs
            )
            SELECT id_a, id_b, sim FROM (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                     ROUND({_COSINE_SQL.format(a='a.e', b='b.e')}, 6) AS sim
              FROM tagged a JOIN tagged b ON a.side = 0 AND b.side = 1
            ) p WHERE sim >= 0.8
            """
), quadratic=True)
def q_embedding_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space benchmark decontamination: exact train x eval cosine
    pairs via the blocked GEMM with the eval side replicated per block
    (operators/similarity.py:cross_corpus_cosine_pairs); split is the
    portable md5 hash rule shared with sample_split."""
    from fsharp_data_validation_spark.operators.sampling import hash_split
    from fsharp_data_validation_spark.operators.similarity import (
        cross_corpus_cosine_pairs,
    )

    v = hash_split(load_vecs(spark, sf_dir), "vec_id", 80)
    return cross_corpus_cosine_pairs(
        v.filter(F.col("split") == "train").drop("split"),
        v.filter(F.col("split") == "test").drop("split"),
        threshold=0.8,
    )


@query(with_transcripts(
    """
            , agg AS (
              SELECT
                ROUND(AVG(CASE WHEN text IS NOT NULL THEN 1.0 ELSE 0.0 END), 4) AS m_text_comp,
                ROUND(AVG(CASE WHEN tool IS NOT NULL THEN 1.0 ELSE 0.0 END), 4) AS m_tool_comp,
                ROUND(
                  COUNT(DISTINCT CASE WHEN conv_id IS NOT NULL AND turn_idx IS NOT NULL
                                      THEN conv_id || '|' || CAST(turn_idx AS VARCHAR) END)
                  * 1.0 / COUNT(*), 4) AS m_uniq,
                ROUND(AVG(CASE WHEN role IN ('system','user','assistant','tool')
                               THEN 1.0 ELSE 0.0 END), 4) AS m_role,
                ROUND(CAST(MAX(length(text)) AS DOUBLE), 4) AS m_maxlen,
                ROUND(CAST(COUNT(*) AS DOUBLE), 4) AS m_rows
              FROM transcripts
            ),
            stacked AS (
              SELECT 'text_completeness' AS check_name, m_text_comp AS metric_value,
                     '>=' AS op, 0.99 AS threshold FROM agg
              UNION ALL SELECT 'tool_completeness', m_tool_comp, '>=', 0.5 FROM agg
              UNION ALL SELECT 'key_uniqueness', m_uniq, '>=', 1.0 FROM agg
              UNION ALL SELECT 'role_compliance', m_role, '>=', 0.98 FROM agg
              UNION ALL SELECT 'max_text_len', m_maxlen, '<=', 20000.0 FROM agg
              UNION ALL SELECT 'row_count', m_rows, '>=', 100.0 FROM agg
            )
            SELECT check_name, metric_value, op, CAST(threshold AS DOUBLE) AS threshold,
                   CASE WHEN (op = '>=' AND metric_value >= threshold)
                          OR (op = '<=' AND metric_value <= threshold)
                        THEN 'pass' ELSE 'fail' END AS status
            FROM stacked
            """
))
def q_dataset_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style dataset-level check suite in ONE aggregation pass
    (operators/checks.py:dataset_checks): completeness, key-uniqueness
    ratio, role compliance, size and bound metrics, each thresholded into a
    pass/fail row — the table-granularity lift of the reference's
    ``qed``/``Proof.combine`` (Proof.fs:102-113)."""
    from fsharp_data_validation_spark.operators.checks import (
        Check,
        completeness,
        compliance,
        dataset_checks,
        uniqueness,
    )

    t = _transcripts(spark, sf_dir)
    checks = [
        Check("text_completeness", completeness("text"), ">=", 0.99),
        Check("tool_completeness", completeness("tool"), ">=", 0.5),
        Check("key_uniqueness", uniqueness(["conv_id", "turn_idx"]), ">=", 1.0),
        Check("role_compliance", compliance(F.col("role").isin(list(ROLES))), ">=", 0.98),
        Check("max_text_len", F.max(F.length("text")), "<=", 20000.0),
        Check("row_count", F.count(F.lit(1)), ">=", 100.0),
    ]
    return dataset_checks(t, checks)


def _suggest_oracle(string_cols: list[str], numeric_cols: list[str]) -> str:
    """Spec form of operators/checks.py:suggest_constraints over the
    transcripts table: ONE profile aggregate + a sorted-domain aggregate,
    then one UNION ALL arm per (column, suggestion-kind) with the same
    emission guards the operator applies (the oracle computes every string
    column's domain unconditionally — spec-form latitude — but only emits
    it under the same ``0 < distinct <= MAX_DOMAIN`` guard)."""
    cols = string_cols + numeric_cols
    prof = ["CAST(COUNT(*) AS BIGINT) AS n"]
    for c in cols:
        prof += [
            f"COUNT({c}) AS nn_{c}",
            f"COUNT(DISTINCT {c}) AS d_{c}",
            f"ROUND(AVG(CASE WHEN {c} IS NOT NULL THEN 1.0 ELSE 0.0 END), 4) AS comp_{c}",
            f"FLOOR(AVG(CASE WHEN {c} IS NOT NULL THEN 1.0 ELSE 0.0 END) * 100) / 100.0 AS floor_{c}",
        ]
    for c in string_cols:
        prof.append(f"CAST(MAX(length({c})) AS DOUBLE) AS maxlen_{c}")
    for c in numeric_cols:
        prof.append(f"ROUND(CAST(MIN({c}) AS DOUBLE), 4) AS lo_{c}")
        prof.append(f"ROUND(CAST(MAX({c}) AS DOUBLE), 4) AS hi_{c}")
    dom = [
        f"string_agg(DISTINCT {c}, '|' ORDER BY {c}) AS dom_{c}"
        for c in string_cols
    ]
    nul_s, nul_d = "CAST(NULL AS VARCHAR)", "CAST(NULL AS DOUBLE)"
    arms = []
    for c in cols:
        arms.append(
            f"SELECT '{c}' AS \"column\", 'not_null' AS kind, {nul_s} AS value_str, "
            f"{nul_d} AS lo, {nul_d} AS hi, CAST(1.0 AS DOUBLE) AS support "
            f"FROM prof WHERE n > 0 AND nn_{c} = n"
        )
        arms.append(
            f"SELECT '{c}', 'completeness', {nul_s}, CAST(floor_{c} AS DOUBLE), "
            f"{nul_d}, CAST(comp_{c} AS DOUBLE) "
            f"FROM prof WHERE NOT (n > 0 AND nn_{c} = n) AND nn_{c} > 0"
        )
        arms.append(
            f"SELECT '{c}', 'unique', {nul_s}, {nul_d}, {nul_d}, CAST(1.0 AS DOUBLE) "
            f"FROM prof WHERE n > 0 AND d_{c} = nn_{c} AND nn_{c} = n"
        )
    for c in string_cols:
        arms.append(
            f"SELECT '{c}', 'domain', (SELECT dom_{c} FROM dom), {nul_d}, {nul_d}, "
            f"CAST(comp_{c} AS DOUBLE) FROM prof WHERE d_{c} > 0 AND d_{c} <= {MAX_DOMAIN}"
        )
    for c in numeric_cols:
        arms.append(
            f"SELECT '{c}', 'range', {nul_s}, CAST(lo_{c} AS DOUBLE), "
            f"CAST(hi_{c} AS DOUBLE), CAST(comp_{c} AS DOUBLE) "
            f"FROM prof WHERE nn_{c} > 0"
        )
    for c in string_cols:
        arms.append(
            f"SELECT '{c}', 'max_length', {nul_s}, {nul_d}, CAST(maxlen_{c} AS DOUBLE), "
            f"CAST(comp_{c} AS DOUBLE) FROM prof WHERE nn_{c} > 0"
        )
    return with_transcripts(
        ", prof AS (SELECT " + ", ".join(prof) + " FROM transcripts),\n"
        "dom AS (SELECT " + ", ".join(dom) + " FROM transcripts)\n"
        + "\nUNION ALL\n".join(arms)
    )


@query(_suggest_oracle(["conv_id", "role", "text", "tool"], ["turn_idx"]))
def q_suggest_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style constraint SUGGESTION (operators/checks.py:
    suggest_constraints): profile the transcripts table in one aggregation
    pass and emit the check suite a maintainer should assert — the
    discovery inverse of ``dataset_checks``, and the dataset-granularity
    analogue of asking which of the reference's validators
    (Library.fs:8-121) currently hold on the data."""
    from fsharp_data_validation_spark.operators.checks import suggest_constraints

    return suggest_constraints(
        _transcripts(spark, sf_dir),
        string_cols=["conv_id", "role", "text", "tool"],
        numeric_cols=["turn_idx"],
    )


#: shared by rate_anomaly (batch) and stream_rate_anomaly (streaming —
#: pytest pins the concatenated micro-batch output equal to the batch form)
_RATE_ANOMALY_ORACLE = with_transcripts(
f"""
            , d AS (
              SELECT CAST(ts AS DATE) AS day,
                     CAST(COUNT(*) AS BIGINT) AS n_rows,
                     CAST(SUM(CASE WHEN ({_NF_EXPR}) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_viol
              FROM transcripts GROUP BY 1
            ),
            r AS (
              SELECT day, n_rows, n_viol,
                     CAST(ROUND(n_viol * 1.0 / n_rows, 6) AS DOUBLE) AS rate
              FROM d
            ),
            wnd AS (
              SELECT day, n_rows, n_viol, rate,
                     ROUND(AVG(rate) OVER w, 6) AS m,
                     ROUND(STDDEV_POP(rate) OVER w, 6) AS s,
                     COUNT(rate) OVER w AS hist
              FROM r
              WINDOW w AS (ORDER BY day ROWS BETWEEN {RATE_WINDOW} PRECEDING AND 1 PRECEDING)
            )
            SELECT day, n_rows, n_viol, rate,
                   m AS mean_rate,
                   s AS sd_rate,
                   ROUND(CASE WHEN s > 0 THEN (rate - m) / s END, 4) AS z,
                   (hist >= 3 AND COALESCE(
                      CASE WHEN s > 0 THEN ABS(ROUND((rate - m) / s, 4)) > 2.0
                           ELSE rate <> m END, FALSE)) AS anomaly
            FROM wnd
            """
        )


@query(_RATE_ANOMALY_ORACLE)
def q_rate_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Control-chart anomaly detection on the daily suite-violation-rate
    series (operators/checks.py:rate_anomaly): each day scored against the
    trailing ``RATE_WINDOW`` days' mean ± z·stddev with the day excluded
    from its own baseline — the Deequ AnomalyDetection lift of
    ``rolling_rate``'s monitoring series."""
    from fsharp_data_validation_spark.operators.checks import rate_anomaly

    t = _transcripts(spark, sf_dir)
    anyf = transcript_row_suite().any_failure_column()
    return rate_anomaly(t, F.to_date("ts"), anyf, z_threshold=2.0)


@query(with_transcripts(
    """
            , tok AS (
              SELECT conv_id, turn_idx, role, ts,
                     COALESCE(text, '') AS t0, COALESCE(tool, '') AS o0,
                     CASE WHEN text IS NULL THEN 0
                          ELSE length(string_split(text, ' ')) END AS n_tokens
              FROM transcripts
            )
            SELECT conv_id, turn_idx, role,
                   CAST(n_tokens AS BIGINT) AS n_tokens,
                   CAST(cum_tokens AS BIGINT) AS cum_tokens
            FROM (
              SELECT conv_id, turn_idx, role, n_tokens,
                     SUM(n_tokens) OVER (
                       PARTITION BY conv_id
                       ORDER BY turn_idx, ts, role, t0, o0
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) AS cum_tokens
              FROM tok
            ) x WHERE cum_tokens > 128
            """
))
def q_context_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window budget validation: turns whose running conversation
    token total exceeds the budget (operators/crossrow.py:
    context_budget_violations) — the cross-row form of maxLength
    (Library.fs:80). One window pass, one shuffle on conv_id."""
    from fsharp_data_validation_spark.operators.crossrow import (
        context_budget_violations,
    )

    return context_budget_violations(_transcripts(spark, sf_dir), budget=128)


@query(with_transcripts(
    """
            SELECT conv_id,
                   md5(lower(trim(text))) AS text_digest,
                   CAST(COUNT(*) AS BIGINT) AS n_repeats,
                   MIN(turn_idx) AS first_turn,
                   MAX(turn_idx) AS last_turn
            FROM transcripts
            WHERE text IS NOT NULL AND trim(text) <> ''
            GROUP BY 1, 2
            HAVING COUNT(*) >= 2
            """
))
def q_turn_loops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-conversation repeated-turn (agent-loop) detection
    (operators/crossrow.py:repeated_turns): same normalized text appearing
    2+ times within one conversation; group key is (conv, content) so
    corpus-common phrases are not flagged."""
    from fsharp_data_validation_spark.operators.crossrow import repeated_turns

    return repeated_turns(_transcripts(spark, sf_dir))


_CVM_FROM_J = """
SELECT ROUND(SUM(w * (fa - fb) * (fa - fb)), 6) AS cvm FROM (
  SELECT (na + nb) * 1.0
           / ((SELECT SUM(na) FROM j) + (SELECT SUM(nb) FROM j)) AS w,
         SUM(na) OVER (ORDER BY bucket) * 1.0
           / (SELECT SUM(na) FROM j) AS fa,
         SUM(nb) OVER (ORDER BY bucket) * 1.0
           / (SELECT SUM(nb) FROM j) AS fb
  FROM j
) t
"""


@query(_split_drift_oracle(_LEN_SPLIT, _CVM_FROM_J))
def q_cvm_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér-von Mises drift on the standard first/second-half split
    (operators/drift.py:cvm_joined) — integrates squared ECDF differences
    against the pooled distribution, catching spread-out drift KS's single
    max misses. Same one-scan conditional split as psi/ks/js/w1."""
    from fsharp_data_validation_spark.operators.drift import cvm_joined

    return cvm_joined(_len_halves(spark, sf_dir))


@query(with_transcripts(
    """
            , toks AS (
              SELECT unnest(string_split(text, ' ')) AS item
              FROM transcripts WHERE text IS NOT NULL
            )
            SELECT item, CAST(COUNT(*) AS BIGINT) AS est_count,
                   CAST(0 AS BIGINT) AS err_bound
            FROM toks GROUP BY 1
            ORDER BY est_count DESC, item ASC LIMIT 10
            """
))
def q_freq_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable Misra-Gries heavy-hitter rollup: per-day frequent-token
    sketches merged to global top-10 without rescanning the data
    (operators/stats.py:mg_partition_sketches/mg_rollup) — the frequent-items
    companion to the HLL distinct-count rollup. k=1024 exceeds this corpus's
    vocabulary, so the summary is exact here (err_bound = 0) and the DuckDB
    oracle pins the rollup against exact counts; the n/(k+1) undercount
    bound for k < vocab is pinned by tests/test_stats.py."""
    from fsharp_data_validation_spark.operators.stats import (
        mg_partition_sketches,
        mg_rollup,
    )

    t = (
        _transcripts(spark, sf_dir)
        .filter(F.col("text").isNotNull())
        .select(
            F.to_date("ts").alias("day"),
            F.explode(F.split(F.col("text"), " ")).alias("token"),
        )
    )
    return mg_rollup(mg_partition_sketches(t, "day", "token"), top=10)


# moments: recompute Σ(x-μ)^k DIRECTLY on the raw rows — the
# independent spec the Chan-merged per-day sketches must equal
@query(with_transcripts(
    """
            , vals AS (
              SELECT CAST(length(text) AS DOUBLE) AS v, CAST(ts AS DATE) AS day
              FROM transcripts WHERE text IS NOT NULL
            )
            , s AS (
              SELECT COUNT(*) AS n, AVG(v) AS mu, COUNT(DISTINCT day) AS p
              FROM vals
            )
            , c AS (
              SELECT SUM(POW(v - mu, 2)) AS m2,
                     SUM(POW(v - mu, 3)) AS m3,
                     SUM(POW(v - mu, 4)) AS m4
              FROM vals, s
            )
            SELECT CAST(s.p AS BIGINT) AS n_parts,
                   CAST(s.n AS BIGINT) AS n_values,
                   ROUND(s.mu, 4) AS mean,
                   ROUND(c.m2 / s.n, 4) AS var_pop,
                   ROUND(CASE WHEN c.m2 > 0
                              THEN SQRT(s.n) * c.m3 / POW(c.m2, 1.5)
                              ELSE 0 END, 4) AS skew,
                   ROUND(CASE WHEN c.m2 > 0
                              THEN s.n * c.m4 / (c.m2 * c.m2) - 3
                              ELSE 0 END, 4) AS kurt
            FROM s, c
            """
))
def q_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable moments-sketch rollup: per-day (n, mean, M2, M3, M4)
    central-sum sketches over text length, Chan-merged to exact global
    mean/var/skew/kurtosis WITHOUT rescanning the data
    (operators/stats.py:moments_partition_sketches/moments_rollup) — the
    exact-statistics companion to the HLL and Misra-Gries rollups. Unlike
    those, the merge is lossless, so the DuckDB oracle (direct Σ(x-μ)^k on
    the raw rows) pins the rollup EXACTLY, not within sketch error."""
    from fsharp_data_validation_spark.operators.stats import (
        moments_partition_sketches,
        moments_rollup,
    )

    t = (
        _transcripts(spark, sf_dir)
        .filter(F.col("text").isNotNull())
        .select(F.to_date("ts").alias("day"), F.length("text").alias("text_len"))
    )
    return moments_rollup(moments_partition_sketches(t, "day", "text_len"))


@query(with_transcripts(
    """
            , k1 AS (
              SELECT conv_id, turn_idx, COUNT(DISTINCT role) AS n_rhs,
                     COUNT(*) AS n_rows
              FROM transcripts GROUP BY 1, 2
            )
            , k2 AS (
              SELECT conv_id, turn_idx, COUNT(DISTINCT text) AS n_rhs,
                     COUNT(*) AS n_rows
              FROM transcripts GROUP BY 1, 2
            )
            , k3 AS (
              SELECT tool, COUNT(DISTINCT role) AS n_rhs, COUNT(*) AS n_rows
              FROM transcripts GROUP BY 1
            )
            SELECT 'conv_id,turn_idx->role' AS fd,
                   CAST(COUNT(*) AS BIGINT) AS n_keys,
                   CAST(SUM(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT)
                     AS violating_keys,
                   CAST(SUM(CASE WHEN n_rhs > 1 THEN n_rows ELSE 0 END) AS BIGINT)
                     AS violating_rows,
                   ROUND(AVG(CASE WHEN n_rhs > 1 THEN 1.0 ELSE 0.0 END), 4)
                     AS violation_rate
            FROM k1
            UNION ALL
            SELECT 'conv_id,turn_idx->text',
                   CAST(COUNT(*) AS BIGINT),
                   CAST(SUM(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT),
                   CAST(SUM(CASE WHEN n_rhs > 1 THEN n_rows ELSE 0 END) AS BIGINT),
                   ROUND(AVG(CASE WHEN n_rhs > 1 THEN 1.0 ELSE 0.0 END), 4)
            FROM k2
            UNION ALL
            SELECT 'tool->role',
                   CAST(COUNT(*) AS BIGINT),
                   CAST(SUM(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT),
                   CAST(SUM(CASE WHEN n_rhs > 1 THEN n_rows ELSE 0 END) AS BIGINT),
                   ROUND(AVG(CASE WHEN n_rhs > 1 THEN 1.0 ELSE 0.0 END), 4)
            FROM k3
            """
))
def q_fd_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency violation profile (operators/checks.py:
    fd_violations): is (conv_id, turn_idx) a key for role/text, and does a
    tool name determine its role? The injected duplicate-(conv_id,turn_idx)
    rows (transcripts.py derivation, event_id % 101) guarantee true
    positives. One independent map-side-combined aggregate per FD; |fds|
    output rows at any scale."""
    from fsharp_data_validation_spark.operators.checks import fd_violations

    return fd_violations(
        _transcripts(spark, sf_dir),
        [
            (["conv_id", "turn_idx"], "role"),
            (["conv_id", "turn_idx"], "text"),
            (["tool"], "role"),
        ],
    )


@query(with_docs(
    """
            , pos AS (
              SELECT CAST(n_chars AS BIGINT) AS v FROM docs WHERE n_chars > 0
            )
            , a AS (
              SELECT CAST(substr(CAST(v AS VARCHAR), 1, 1) AS INT) AS digit,
                     COUNT(*) AS n
              FROM pos GROUP BY 1
            )
            , spine AS (SELECT UNNEST(range(1, 10)) AS digit)
            , fa AS (
              SELECT spine.digit, COALESCE(a.n, 0) AS n
              FROM spine LEFT JOIN a ON a.digit = spine.digit
            )
            , t AS (SELECT CAST(SUM(n) AS DOUBLE) AS tot FROM fa)
            , e AS (
              SELECT digit, n, n / tot AS obs_p,
                     LOG10(1 + 1.0 / digit) AS exp_p, tot
              FROM fa, t
            )
            SELECT digit, CAST(n AS BIGINT) AS n,
                   ROUND(obs_p, 4) AS obs_p,
                   ROUND(exp_p, 4) AS exp_p,
                   ROUND((SELECT SUM(POW(n2.n - n2.tot * n2.exp_p, 2)
                                     / (n2.tot * n2.exp_p)) FROM e n2), 4) AS chi2
            FROM e
            """
))
def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-digit Benford conformance of document lengths
    (operators/checks.py:benford_check): ≤9-row digit histogram with the
    shared chi² distance — string-based digit extraction so Spark and
    DuckDB agree bit-for-bit (log10-based extraction misclassifies exact
    powers of ten)."""
    from fsharp_data_validation_spark.operators.checks import benford_check

    return benford_check(load_docs(spark, sf_dir), "n_chars")


@query(with_docs(
    """
            , g AS (
              SELECT doc_id AS id, length(text) AS chars,
                     unnest([w[i] || ' ' || w[i + 1]
                             for i in range(1, len(w))]) AS ngram
              FROM (SELECT doc_id, text, string_split(text, ' ') AS w FROM docs)
              WHERE text IS NOT NULL AND len(w) >= 2
            )
            , c AS (
              SELECT id, ngram, COUNT(*) AS n_occurrences, MAX(chars) AS chars
              FROM g GROUP BY 1, 2
            )
            SELECT id, ngram AS top_ngram,
                   CAST(n_occurrences AS BIGINT) AS n_occurrences,
                   ROUND(LEAST(1.0, n_occurrences * length(ngram) * 1.0 / chars), 4)
                     AS char_frac
            FROM (
              SELECT *, ROW_NUMBER() OVER (
                PARTITION BY id ORDER BY n_occurrences DESC, ngram ASC) AS rk
              FROM c
            ) x WHERE rk = 1
            """
))
def q_top_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition rule: per-document top word-bigram character
    fraction (operators/text.py:top_ngram_fraction): row-local array_sort +
    run-length fold, ZERO shuffles (plan pinned Exchange-free; fuzz-pinned
    identical to the explode + hash-agg spec in the tests). Ties break
    lexicographically on both engines."""
    from fsharp_data_validation_spark.operators.text import top_ngram_fraction

    return top_ngram_fraction(load_docs(spark, sf_dir), "doc_id", "text")


#: shared by chi2_by_day (batch) and stream_chi2 (streaming)
_CHI2_BY_DAY_ORACLE = with_transcripts(
    """
            , per AS (
              SELECT CAST(ts AS DATE) AS day, role AS cat, COUNT(*) AS n
              FROM transcripts WHERE role IS NOT NULL GROUP BY 1, 2
            )
            , gl AS (SELECT cat, SUM(n) AS gn FROM per GROUP BY 1)
            , tg AS (SELECT day, SUM(n) AS tgn FROM per GROUP BY 1)
            , tot AS (
              SELECT CAST(SUM(n) AS DOUBLE) AS t, COUNT(DISTINCT cat) AS k
              FROM per
            )
            , grid AS (
              SELECT tg.day, CAST(tg.tgn AS DOUBLE) AS tgn, gl.cat,
                     CAST(gl.gn AS DOUBLE) AS gn
              FROM tg CROSS JOIN gl
            )
            , j AS (
              SELECT g.day, g.tgn, g.gn,
                     CAST(COALESCE(per.n, 0) AS DOUBLE) AS n, tot.t, tot.k
              FROM grid g
              LEFT JOIN per ON per.day = g.day AND per.cat = g.cat
              CROSS JOIN tot
            )
            SELECT day, CAST(tgn AS BIGINT) AS n_rows,
                   ROUND(SUM(
                     POW(n - (n + gn) * tgn / (tgn + t), 2)
                       / ((n + gn) * tgn / (tgn + t))
                     + POW(gn - (n + gn) * t / (tgn + t), 2)
                       / ((n + gn) * t / (tgn + t))
                   ), 4) AS chi2,
                   CAST(MAX(k) - 1 AS BIGINT) AS dof
            FROM j GROUP BY day, tgn
            """
)


@query(_CHI2_BY_DAY_ORACLE)
def q_chi2_by_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day CATEGORICAL drift: chi-square of each day's role
    distribution against the whole-table baseline
    (operators/drift.py:chi2_by_group) — the unordered-category member of
    the per-group grid family (psi/ks/js/w1_by_day cover binned numerics).
    One scan; all arithmetic on the persisted (day, role) aggregate."""
    from fsharp_data_validation_spark.operators.drift import chi2_by_group

    t = _transcripts(spark, sf_dir).select(
        F.to_date("ts").alias("day"), "role"
    )
    return chi2_by_group(t, "day", "role")


@query(with_docs(
    """
            , counts AS (
              SELECT token, COUNT(*) AS freq FROM (
                SELECT unnest(string_split(text, ' ')) AS token
                FROM docs WHERE text IS NOT NULL
              ) GROUP BY 1 HAVING COUNT(*) >= 2
              ORDER BY freq DESC, token ASC LIMIT 500
            )
            , xy AS (
              SELECT LN(CAST(ROW_NUMBER() OVER (
                       ORDER BY freq DESC, token ASC) AS DOUBLE)) AS x,
                     LN(CAST(freq AS DOUBLE)) AS y
              FROM counts
            )
            SELECT CAST(COUNT(*) AS BIGINT) AS n_types,
                   ROUND(COVAR_POP(x, y) / VAR_POP(x), 4) AS slope,
                   ROUND(POW(CORR(x, y), 2), 4) AS r_squared
            FROM xy
            """
))
def q_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency fit over the document vocabulary
    (operators/text.py:zipf_fit): ln(freq)-on-ln(rank) least squares for
    the top-500 tokens — corpus-health diagnostic; the top-k cut is
    distributed TakeOrdered, never a single-task global sort."""
    from fsharp_data_validation_spark.operators.text import zipf_fit

    return zipf_fit(load_docs(spark, sf_dir), "text", top_k=500)


@query(with_docs(
    """
            , g AS (
              SELECT doc_id AS id, length(text) AS chars,
                     unnest([w[i] || ' ' || w[i + 1] || ' ' || w[i + 2]
                             for i in range(1, len(w) - 1)]) AS ngram
              FROM (SELECT doc_id, text, string_split(text, ' ') AS w FROM docs)
              WHERE text IS NOT NULL AND len(w) >= 3
            )
            , c AS (
              SELECT id, ngram, COUNT(*) AS c, MAX(chars) AS chars
              FROM g GROUP BY 1, 2
            )
            SELECT id, CAST(COUNT(*) AS BIGINT) AS n_dup_ngrams,
                   ROUND(LEAST(1.0, SUM(c * length(ngram)) * 1.0 / MAX(chars)), 4)
                     AS dup_char_frac
            FROM c WHERE c >= 2 GROUP BY id
            """
))
def q_dup_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher duplicate-n-gram rule: per-document fraction of characters
    covered by word-3-grams occurring 2+ times within the document
    (operators/text.py:dup_ngram_fraction) — catches diffuse repetition
    the top-1-n-gram rule misses."""
    from fsharp_data_validation_spark.operators.text import dup_ngram_fraction

    return dup_ngram_fraction(load_docs(spark, sf_dir), "doc_id", "text")


@query(with_docs(
    """
            , uni AS (
              SELECT w, COUNT(*) AS cw FROM (
                SELECT unnest(string_split(text, ' ')) AS w
                FROM docs WHERE text IS NOT NULL
              ) GROUP BY 1
            )
            , bi_all AS (
              SELECT bigram, COUNT(*) AS n_ab FROM (
                SELECT unnest([w[i] || ' ' || w[i + 1]
                               for i in range(1, len(w))]) AS bigram
                FROM (SELECT string_split(text, ' ') AS w
                      FROM docs WHERE text IS NOT NULL)
                WHERE len(w) >= 2
              ) GROUP BY 1
            )
            , nw AS (SELECT CAST(SUM(cw) AS DOUBLE) AS nw FROM uni)
            , nb AS (SELECT CAST(SUM(n_ab) AS DOUBLE) AS nb FROM bi_all)
            , scored AS (
              SELECT b.bigram, b.n_ab,
                     LN((b.n_ab / nb.nb)
                        / ((ua.cw / nw.nw) * (ub.cw / nw.nw))) AS pmi_raw
              FROM bi_all b
              JOIN uni ua ON ua.w = string_split(b.bigram, ' ')[1]
              JOIN uni ub ON ub.w = string_split(b.bigram, ' ')[2]
              CROSS JOIN nw CROSS JOIN nb
              WHERE b.n_ab >= 5
            )
            SELECT bigram, CAST(n_ab AS BIGINT) AS n_ab,
                   ROUND(pmi_raw, 4) AS pmi
            FROM scored ORDER BY pmi DESC, bigram ASC LIMIT 20
            """
))
def q_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 corpus collocations by pointwise mutual information
    (operators/text.py:pmi_bigrams): bigram/unigram hash aggregates,
    word-keyed shuffle joins, ranking on the ROUNDED score for
    cross-engine determinism."""
    from fsharp_data_validation_spark.operators.text import pmi_bigrams

    return pmi_bigrams(load_docs(spark, sf_dir), "text", min_count=5, top_k=20)


@query(with_transcripts(
    """
            , toks AS (
              SELECT CAST(ts AS DATE) AS day,
                     unnest(string_split(text, ' ')) AS token
              FROM transcripts WHERE text IS NOT NULL
            )
            , daily AS (SELECT day, COUNT(*) AS tokens FROM toks GROUP BY 1)
            , fst AS (SELECT token, MIN(day) AS day FROM toks GROUP BY 1)
            , nw AS (SELECT day, COUNT(*) AS new_tokens FROM fst GROUP BY 1)
            SELECT d.day, CAST(d.tokens AS BIGINT) AS tokens,
                   CAST(COALESCE(nw.new_tokens, 0) AS BIGINT) AS new_tokens,
                   CAST(SUM(COALESCE(nw.new_tokens, 0)) OVER (
                     ORDER BY d.day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS vocab_size
            FROM daily d LEFT JOIN nw ON nw.day = d.day
            """
))
def q_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day first-appearance vocabulary growth + running vocab size
    (operators/text.py:vocab_growth) — the vocab-drift monitor; one
    token-keyed aggregate is the only corpus-scale shuffle, then windows
    over the |days|-row relation."""
    from fsharp_data_validation_spark.operators.text import vocab_growth

    return vocab_growth(_transcripts(spark, sf_dir), "ts", "text")


@query(with_docs(
    """
            , keyed AS (
              SELECT doc_id AS id, CAST(n_chars AS DOUBLE) AS weight,
                     POW(
                       (CAST(('0x' || substr(md5('ws' || '|' ||
                          CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) + 1)
                         / 1152921504606846977.0,
                       1.0 / CAST(n_chars AS DOUBLE)
                     ) AS key
              FROM docs WHERE n_chars > 0
            )
            SELECT id, weight,
                   CAST(ROW_NUMBER() OVER (ORDER BY key DESC, id ASC) AS INT)
                     AS rnk
            FROM keyed ORDER BY key DESC, id ASC LIMIT 100
            """
))
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (operators/sampling.py:weighted_sample — Efraimidis-Spirakis A-ES over
    a salted-md5 uniform): 100 docs drawn proportional to n_chars,
    reproducible and engine-portable; top-k via distributed TakeOrdered."""
    from fsharp_data_validation_spark.operators.sampling import weighted_sample

    return weighted_sample(load_docs(spark, sf_dir), "doc_id", "n_chars", 100)


@query("""
            WITH h AS (
              SELECT embedding AS v,
                     CASE WHEN embedding IS NULL THEN 1 ELSE 0 END AS _null,
                     CASE WHEN embedding IS NOT NULL AND len(embedding) <> 64
                          THEN 1 ELSE 0 END AS _wd,
                     CASE WHEN embedding IS NOT NULL AND len(list_filter(
                            embedding, x -> isnan(CAST(x AS DOUBLE)))) > 0
                          THEN 1 ELSE 0 END AS _nan,
                     CASE WHEN embedding IS NOT NULL AND len(list_filter(
                            embedding, x -> x IS NULL)) > 0
                          THEN 1 ELSE 0 END AS _nc,
                     SQRT(list_sum(list_transform(embedding,
                            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS _n
              FROM embeddings
            ),
            f AS (
              SELECT _null, _wd, _nan, _nc,
                     CASE WHEN _null = 0 AND _wd = 0 AND _nan = 0 AND _nc = 0
                          AND _n = 0 THEN 1 ELSE 0 END AS _zero,
                     CASE WHEN _null = 0 AND _wd = 0 AND _nan = 0 AND _nc = 0
                          AND _n > 0 THEN _n END AS _norm
              FROM h
            )
            SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs,
                   CAST(SUM(_null) AS BIGINT) AS n_null,
                   CAST(SUM(_wd) AS BIGINT) AS n_wrong_dim,
                   CAST(SUM(_nan) AS BIGINT) AS n_nan,
                   CAST(SUM(_nc) AS BIGINT) AS n_null_comp,
                   CAST(SUM(_zero) AS BIGINT) AS n_zero,
                   ROUND(AVG(_norm), 4) AS mean_norm,
                   ROUND(MIN(_norm), 4) AS min_norm,
                   ROUND(MAX(_norm), 4) AS max_norm
            FROM f
            """)
def q_embedding_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-table hygiene gate (operators/similarity.py:
    embedding_health): NULL / wrong-dim / NaN / zero vectors + the L2-norm
    profile, one aggregate; the fold-ordered norm is bit-identical across
    engines before the rounded means."""
    from fsharp_data_validation_spark.operators.similarity import embedding_health
    from fsharp_data_validation_spark.sources.documents import load_embeddings

    return embedding_health(load_embeddings(spark, sf_dir), "embedding", 64)


# per-(path, code) exemplar pick: salted-md5 rank of the row key (matches
# q_violation_examples' md5_int(key, salt="ex") exactly)
_EXAMPLES_ORACLE = with_transcripts(
    "SELECT path, code, CAST(rn AS INT) AS rnk, conv_id, turn_idx FROM (\n"
    "  SELECT *, ROW_NUMBER() OVER (PARTITION BY path, code ORDER BY\n"
    "    CAST(('0x' || substr(md5('ex' || '|' || COALESCE(conv_id, '') || '|'\n"
    "      || COALESCE(CAST(turn_idx AS VARCHAR), '') || '|'\n"
    "      || COALESCE(CAST(CAST(FLOOR(epoch(ts)) AS BIGINT) AS VARCHAR), '')),\n"
    "      1, 15)) AS BIGINT) ASC) AS rn\n"
    "  FROM (\n"
    + "\nUNION ALL\n".join(
        f"SELECT conv_id, turn_idx, ts, '{p}' AS path, '{c}' AS code FROM transcripts WHERE {w}"
        for p, c, w in _FAIL_CONDS
    )
    + "\n  ) v\n"
    ") r WHERE rn <= 3"
)


@query(_EXAMPLES_ORACLE)
def q_violation_examples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic exemplars per violation code — the triage view ("show
    me 3 concrete rows for each failure"): the suite's violations ranked
    within (path, code) by a salted md5 of the row key, keep rank <= 3.
    Reproducible run-to-run and engine-portable (same md5-derived order in
    the DuckDB oracle). One window shuffle keyed on (path, code); at
    10^12-violation scale add the Chernoff hash-threshold prefilter
    (operators/sampling.py:stratified_sample's shape) so the window only
    sees a few hundred candidate rows per code."""
    from pyspark.sql import Window

    from fsharp_data_validation_spark.operators.dedup import md5_int

    t = _transcripts(spark, sf_dir)
    res = transcript_row_suite().run(t, KEY)
    # COALESCE each component explicitly: concat_ws would silently SKIP a
    # NULL (collapsing 'a||b' and 'a|b'), and DuckDB's || NULL-propagates —
    # the codes that capture NULL keys (conv_id_required etc.) need both
    # engines hashing the identical string
    key = F.concat_ws(
        "|",
        F.coalesce(F.col("conv_id"), F.lit("")),
        F.coalesce(F.col("turn_idx").cast("string"), F.lit("")),
        F.coalesce(
            F.unix_seconds(F.col("ts").cast("timestamp")).cast("string"), F.lit("")
        ),
    )
    h = md5_int(key, salt="ex")
    w = Window.partitionBy("path", "code").orderBy(h.asc())
    return (
        res.violations.withColumn("_rnk", F.row_number().over(w))
        .filter(F.col("_rnk") <= 3)
        .select(
            "path",
            "code",
            F.col("_rnk").cast("int").alias("rnk"),
            "conv_id",
            "turn_idx",
        )
    )


@query(with_transcripts(
    """
            , tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS t FROM transcripts)
            , c1 AS (
              SELECT COALESCE(CAST(conv_id AS VARCHAR), '<NULL>') AS value,
                     COUNT(*) AS n
              FROM transcripts GROUP BY 1
            )
            , c2 AS (
              SELECT COALESCE(CAST(role AS VARCHAR), '<NULL>') AS value,
                     COUNT(*) AS n
              FROM transcripts GROUP BY 1
            )
            , k1 AS (
              SELECT 'conv_id' AS key, value,
                     CAST(ROW_NUMBER() OVER (ORDER BY n DESC, value ASC) AS INT)
                       AS rnk,
                     CAST(n AS BIGINT) AS n,
                     ROUND(n / tot.t, 4) AS share,
                     (SELECT CAST(COUNT(*) AS BIGINT) FROM c1) AS n_distinct
              FROM c1, tot ORDER BY n DESC, value ASC LIMIT 5
            )
            , k2 AS (
              SELECT 'role' AS key, value,
                     CAST(ROW_NUMBER() OVER (ORDER BY n DESC, value ASC) AS INT)
                       AS rnk,
                     CAST(n AS BIGINT) AS n,
                     ROUND(n / tot.t, 4) AS share,
                     (SELECT CAST(COUNT(*) AS BIGINT) FROM c2) AS n_distinct
              FROM c2, tot ORDER BY n DESC, value ASC LIMIT 5
            )
            SELECT * FROM k1 UNION ALL SELECT * FROM k2
            """
))
def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic (operators/stats.py:skew_report): top-5
    heaviest values + share + distinct count for conv_id and role — the
    pre-flight check before key-partitioned work; NULL keys count (they
    are the classic accidental hot spot)."""
    from fsharp_data_validation_spark.operators.stats import skew_report

    return skew_report(_transcripts(spark, sf_dir), ["conv_id", "role"])


# closed form of the per-doc WAV parameters q_audio_meta built the
# payloads from; doc_id % 10 == 3 payloads are truncated -> ok=false
@query(with_docs(
    """
            SELECT doc_id AS media_id,
                   CASE WHEN doc_id % 10 = 3 THEN NULL
                        WHEN doc_id % 3 = 0 THEN 8000
                        WHEN doc_id % 3 = 1 THEN 16000
                        ELSE 44100 END AS sample_rate,
                   CASE WHEN doc_id % 10 = 3 THEN NULL
                        ELSE CAST(doc_id % 2 + 1 AS INT) END AS channels,
                   CASE WHEN doc_id % 10 = 3 THEN NULL ELSE 16 END AS bits,
                   CASE WHEN doc_id % 10 = 3 THEN NULL
                        ELSE CAST(doc_id % 50 + 10 AS BIGINT) END AS n_samples,
                   CASE WHEN doc_id % 10 = 3 THEN NULL
                        ELSE ROUND((doc_id % 50 + 10) * 1.0 /
                          (CASE WHEN doc_id % 3 = 0 THEN 8000
                                WHEN doc_id % 3 = 1 THEN 16000
                                ELSE 44100 END), 6) END AS duration_s,
                   doc_id % 10 <> 3 AS ok
            FROM docs
            """
))
def q_audio_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio plumbing end-to-end: build REAL canonical PCM WAV files
    (RIFF headers via make_wav_payload) with per-doc parameters, then
    parse them back with the Arrow-batched RIFF parser
    (operators/multimodal.py:decode_audio_meta — genuine WAV parsing, no
    codec needed for PCM; malformed payloads flag ok=false instead of
    killing the job). Oracle = the closed form the payloads were built
    from. Every tenth payload is corrupted (truncated) to exercise the
    hygiene path."""
    import pandas as pd

    from fsharp_data_validation_spark.operators.multimodal import (
        decode_audio_meta,
        make_wav_payload,
    )

    rates = [8000, 16000, 44100]

    def synth(batches):
        for pdf in batches:
            ids, payloads = [], []
            for did in pdf["doc_id"]:
                did = int(did)
                wav = make_wav_payload(
                    rates[did % 3], did % 2 + 1, 16, did % 50 + 10, did
                )
                ids.append(did)
                payloads.append(wav[:20] if did % 10 == 3 else wav)
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    media = (
        load_docs(spark, sf_dir)
        .select("doc_id")
        .mapInPandas(synth, schema="media_id long, payload binary")
    )
    out = decode_audio_meta(media)
    return out.select(
        "media_id", "sample_rate", "channels", "bits", "n_samples",
        F.round("duration_s", 6).alias("duration_s"), "ok",
    )


@query(
    f"WITH comp AS ({_COMPONENTS_ORACLE})\n"
    """
            SELECT CAST(sz AS BIGINT) AS cluster_size,
                   CAST(COUNT(*) AS BIGINT) AS n_clusters,
                   CAST(SUM(sz) AS BIGINT) AS n_docs
            FROM (SELECT component, COUNT(*) AS sz FROM comp GROUP BY 1) c
            GROUP BY 1
            """,
    quadratic=True,
)
def q_dup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size distribution over the near-dup connected
    components (operators/dedup.py:cluster_size_histogram) — the report a
    dedup run ships with: per cluster size, cluster and document counts
    (size 1 = unique docs; dup rate reads off the table). Two tiny
    cascaded aggregates over the (doc, component) assignment."""
    from fsharp_data_validation_spark.operators.dedup import (
        cluster_size_histogram,
        near_dup_components,
    )

    comp = near_dup_components(load_docs(spark, sf_dir), "doc_id", "text")
    return cluster_size_histogram(comp, "component")


# independent spec: naive all-pairs containment (the obviously-
# correct O(n^2) form the asymmetric prefix-filtered join must
# equal); id_a is the contained (smaller-set) side
@query(with_docs(
    _DOC_SHINGLES_SQL
    + """
SELECT id_a, id_b, containment FROM (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         ROUND(len(list_intersect(a.sh, b.sh)) * 1.0 / len(a.sh), 6) AS containment
  FROM d a JOIN d b ON (len(a.sh) < len(b.sh)
       OR (len(a.sh) = len(b.sh) AND a.doc_id < b.doc_id))
) p WHERE containment >= 0.8
"""
), quadratic=True)
def q_containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment dedup (snippet-inside-doc pairs Jaccard
    misses): exact, via the asymmetric prefix filter — query-side prefix
    against a full inverted index (operators/dedup.py:
    containment_dedup_pairs), checked against the naive all-pairs spec."""
    from fsharp_data_validation_spark.operators.dedup import containment_dedup_pairs

    return containment_dedup_pairs(load_docs(spark, sf_dir), "doc_id", "text")


_SPLIT_BUCKET_SQL = (
    "CAST(('0x' || substr(md5('split' || '|' || CAST(doc_id AS VARCHAR)), 1, 15)) "
    "AS BIGINT) % 100"
)


@query(with_docs(
    f"""
            SELECT doc_id,
                   CASE WHEN {_SPLIT_BUCKET_SQL} < 80 THEN 'train' ELSE 'test' END AS split
            FROM docs
            """
))
def q_sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash train/test split (row-local, reproducible)."""
    from fsharp_data_validation_spark.operators.sampling import hash_split

    return hash_split(load_docs(spark, sf_dir), "doc_id", 80).select("doc_id", "split")


# golden expectation: the pinned conformance verdict of THIS test
# input against the input_hint contract (conv_id nullable from the
# concat derivation; parquet ts is TIMESTAMP_NTZ -> type_mismatch)
@query(
    "SELECT * FROM (VALUES "
    "('conv_id', 'nullability', 'string', 'string'), "
    "('turn_idx', 'ok', 'int', 'int'), "
    "('role', 'ok', 'string', 'string'), "
    "('text', 'ok', 'string', 'string'), "
    "('tool', 'ok', 'string', 'string'), "
    "('ts', 'type_mismatch', 'timestamp', 'timestamp_ntz')"
    ") AS t(\"column\", status, expected_type, actual_type)"
)
def q_schema_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-contract conformance report for the transcripts input vs the
    input_hint contract — pure metadata, O(columns) at any data scale
    (functions/schema_contract.py). Genuinely catches a real drift in the
    test input: parquet ts is TIMESTAMP_NTZ vs the contract's TIMESTAMP."""
    from fsharp_data_validation_spark.functions.schema_contract import schema_report

    return schema_report(spark, _transcripts(spark, sf_dir))


# independent spec: the naive single-window global rank the bucketed
# implementation must equal exactly
@query(with_docs(
    "SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY "
    "CAST(('0x' || substr(md5('shuffle' || '|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT), "
    "doc_id) AS BIGINT) AS \"rank\" FROM docs"
))
def q_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle: contiguous hash-order
    rank via balanced fixed-width hash buckets + broadcast offsets — never
    a single-task global sort (operators/sampling.py:global_shuffle)."""
    from fsharp_data_validation_spark.operators.sampling import global_shuffle

    return global_shuffle(load_docs(spark, sf_dir), "doc_id").select(
        "doc_id", "rank"
    )


@query(with_docs(
    ", a AS ("
    "  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs, "
    "    CAST(SUM(CASE WHEN text IS NULL THEN 0 "
    "             ELSE len(string_split(text, ' ')) END) AS BIGINT) AS n_tokens "
    "  FROM docs GROUP BY lang, source"
    ") "
    "SELECT lang, source, n_docs, n_tokens, "
    "  ROUND(n_tokens * 1.0 / SUM(n_tokens) OVER (), 6) AS token_share FROM a"
))
def q_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture report: per-(lang, source) docs, tokens, and token
    share — one hash aggregate + a window over its |groups|-row output
    (operators/text.py:mixture_report)."""
    from fsharp_data_validation_spark.operators.text import mixture_report

    return mixture_report(load_docs(spark, sf_dir), ["lang", "source"])


# independent spec of deterministic upsampling: k = floor(f) +
# (hash below the fractional-part threshold), fanned via range()
@query(with_docs(
    ", f AS ("
    "  SELECT doc_id, lang, "
    "    CAST(CASE lang WHEN 'fr' THEN 2.5 WHEN 'zh' THEN 1.25 "
    "         ELSE 1.0 END AS DOUBLE) AS fac "
    "  FROM docs"
    "), k AS ("
    "  SELECT doc_id, lang, CAST(FLOOR(fac) AS BIGINT) + "
    "    CASE WHEN CAST(('0x' || substr(md5('upsample' || '|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) "
    "         < CAST(FLOOR(ROUND(fac - FLOOR(fac), 6) * 1152921504606846976.0) AS BIGINT) "
    "    THEN 1 ELSE 0 END AS k "
    "  FROM f"
    ") "
    "SELECT doc_id, lang, CAST(i AS BIGINT) AS copy_idx "
    "FROM (SELECT doc_id, lang, unnest(range(1, k + 1)) AS i FROM k WHERE k > 0)"
))
def q_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group upsampling (rare-language upweighting):
    fr gets 2.5x, zh 1.25x, the rest 1x — row-local fan-out via
    posexplode(sequence), zero shuffle (operators/sampling.py:
    replicate_sample)."""
    from fsharp_data_validation_spark.operators.sampling import replicate_sample

    return replicate_sample(
        load_docs(spark, sf_dir), "lang", "doc_id", {"fr": 2.5, "zh": 1.25}
    ).select("doc_id", "lang", "copy_idx")


@query(with_docs(
    "SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars, "
    "CAST(length(text) - length(regexp_replace(text, '�', '', 'g')) AS BIGINT) AS n_repl, "
    "CAST(length(text) - length(regexp_replace(text, '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]', '', 'g')) AS BIGINT) AS n_ctrl, "
    "CASE WHEN length(text) > 0 THEN "
    "ROUND(length(regexp_replace(text, '[^\\x00-\\x7f]', '', 'g')) * 1.0 / length(text), 4) "
    "END AS ascii_ratio FROM docs"
))
def q_encoding_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mojibake / control-char / ASCII-ratio encoding hygiene signals —
    pure column regexes, zero shuffle (operators/text.py:encoding_quality)."""
    from fsharp_data_validation_spark.operators.text import encoding_quality

    return encoding_quality(load_docs(spark, sf_dir), "doc_id", "text")


# independent spec of deterministic quota sampling: same salted-md5
# threshold with floor semantics (Spark's double->bigint cast
# truncates; DuckDB CAST rounds, hence explicit FLOOR)
@query(with_docs(
    "SELECT doc_id, lang FROM docs "
    "WHERE CAST(('0x' || substr(md5('quota' || '|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) "
    "< CAST(FLOOR(ROUND(CAST(CASE lang WHEN 'en' THEN 0.5 WHEN 'zh' THEN 0.9 "
    "ELSE 1.0 END AS DOUBLE), 6) * 1152921504606846976.0) AS BIGINT)"
))
def q_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group quota sampling (downsample dominant
    languages) — one row-local scan-stage predicate, zero shuffle
    (operators/sampling.py:quota_sample)."""
    from fsharp_data_validation_spark.operators.sampling import quota_sample

    return quota_sample(
        load_docs(spark, sf_dir), "lang", "doc_id", {"en": 0.5, "zh": 0.9}
    ).select("doc_id", "lang")


@query(with_docs(
    ", g AS (SELECT lang, COUNT(*) AS n_g FROM docs GROUP BY lang)"
    ", s AS (SELECT SUM(POW(CAST(n_g AS DOUBLE), 0.7)) AS wsum, "
    "        SUM(n_g) AS n_total FROM g)"
    ", r AS (SELECT lang, ROUND(LEAST(1.0, "
    "    0.8 * n_total * POW(CAST(n_g AS DOUBLE), 0.7) / wsum / n_g"
    "  ), 6) AS keep_rate FROM g, s) "
    "SELECT d.doc_id, d.lang, r.keep_rate "
    "FROM docs d JOIN r USING (lang) "
    "WHERE CAST(('0x' || substr(md5('temp' || '|' || CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT) "
    "< CAST(FLOOR(keep_rate * 1152921504606846976.0) AS BIGINT)"
))
def q_temp_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened language rebalancing (n_g^0.7 rule, target 80%
    of the corpus): one tiny count agg + broadcast rate join + row-local
    hash filter (operators/sampling.py:temperature_sample)."""
    from fsharp_data_validation_spark.operators.sampling import temperature_sample

    return temperature_sample(load_docs(spark, sf_dir), "lang", "doc_id").select(
        "doc_id", "lang", "keep_rate"
    )


@query(with_docs(
    """
            SELECT COUNT(DISTINCT doc_id) AS n_docs,
                   COUNT(*) AS total_tokens,
                   COUNT(DISTINCT w) AS vocab_size
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM docs) t
            WHERE length(w) > 0
            """
))
def q_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level token statistics: docs, total tokens, vocabulary size
    (exact distinct words). One explode + one aggregate; at 100 TB swap the
    exact distinct for approx_count_distinct (same plan shape)."""
    d = load_docs(spark, sf_dir)
    w = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("w")
    ).filter(F.length("w") > 0)
    return w.agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("total_tokens"),
        F.countDistinct("w").alias("vocab_size"),
    )


_STOPWORDS = "'the','a','and','of','to','in'"


@query(with_docs(
    f"""
            SELECT w, COUNT(*) AS n
            FROM (SELECT unnest(string_split(text, ' ')) AS w FROM docs) t
            WHERE length(w) > 0 AND w NOT IN ({_STOPWORDS})
            GROUP BY w ORDER BY n DESC, w ASC LIMIT 20
            """
))
def q_top_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 corpus tokens (stopwords excluded, deterministic (n desc,
    word asc) tie-break) — the vocabulary head a filtering pipeline
    inspects. ORDER BY + LIMIT = Spark TakeOrdered (no full sort)."""
    stop = ["the", "a", "and", "of", "to", "in"]
    d = load_docs(spark, sf_dir)
    w = (
        d.select(F.explode(F.split(F.col("text"), " ")).alias("w"))
        .filter((F.length("w") > 0) & ~F.col("w").isin(stop))
    )
    return (
        w.groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("w"))
        .limit(20)
    )


@query(with_docs(_JACCARD_ORACLE), quadratic=True)
def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(32) + 16x2 banded LSH -> exact-Jaccard verify; checked
    against the exact-pairs oracle (high-recall banding)."""
    from fsharp_data_validation_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(load_docs(spark, sf_dir), "doc_id", "text")


_SIMHASH_BITS_SQL = ", ".join(
    f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
    for i in range(60)
)

_SIMHASH_SIG_SQL = " + ".join(
    f"(CASE WHEN b{i} > 0 THEN (CAST(1 AS BIGINT) << {i}) ELSE CAST(0 AS BIGINT) END)"
    for i in range(60)
)

_SIMHASH_ORACLE = f"""
, words AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w FROM docs
), hashed AS (
  SELECT doc_id, CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) AS h
  FROM words WHERE length(w) > 0
), bits AS (
  SELECT doc_id, {_SIMHASH_BITS_SQL} FROM hashed GROUP BY doc_id
), sig AS (
  SELECT doc_id, {_SIMHASH_SIG_SQL} AS simhash FROM bits
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


@query(with_docs(_SIMHASH_ORACLE), quadratic=True)
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash near-dup pairs (hamming <= 3)."""
    from fsharp_data_validation_spark.operators.dedup import simhash_banded_pairs

    return simhash_banded_pairs(load_docs(spark, sf_dir), "doc_id", "text").select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming")
    )


@query(with_docs(
    "SELECT doc_id, CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens, "
    "CAST(length(text) AS BIGINT) AS n_chars, "
    "CAST(CEIL(length(text) / 4.0) AS BIGINT) AS bpe_est FROM docs"
))
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fsharp_data_validation_spark.operators.text import token_count

    t = token_count(load_docs(spark, sf_dir), "doc_id", "text")
    return t.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("n_chars").cast("bigint").alias("n_chars"),
        "bpe_est",
    )


#: DuckDB rendering of the BPE token count (operators/text.py)
_BPE_SQL = bpe_oracle_expr("text")


@query(with_docs(
    f"SELECT doc_id, "
    f"CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens, "
    f"{_BPE_SQL} AS n_bpe, "
    f"ROUND(length(text) * 1.0 / NULLIF({_BPE_SQL}, 0), 4) AS chars_per_token "
    f"FROM docs"
))
def q_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-aware token counting (r3 verdict task #5): greedy
    longest-match subword tokens over the embedded public vocab — BPE/
    WordPiece MaxMatch inference compiled to ONE regex alternation, so the
    count is a codegen'd JVM column expression (zero Python) that DuckDB
    replays verbatim (RE2 shares the leftmost-first alternation
    semantics). Emits the whitespace count and the realized chars-per-token
    calibration ratio alongside."""
    from fsharp_data_validation_spark.operators.text import token_count_bpe

    return token_count_bpe(load_docs(spark, sf_dir), "doc_id", "text")


@query(with_docs(
    "SELECT doc_id, "
    "CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens, "
    "ROUND(length(regexp_replace(text, '[^a-z]', '', 'g')) * 1.0 / length(text), 4) AS alpha_ratio, "
    "ROUND((length(text) - len(string_split(text,' ')) + 1) * 1.0 / len(string_split(text,' ')), 4) AS mean_word_len, "
    f"ROUND(len(list_filter(string_split(text,' '), w -> w IN ({_STOPWORDS}))) * 1.0 / len(string_split(text,' ')), 4) AS stopword_ratio "
    "FROM docs"
))
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fsharp_data_validation_spark.operators.text import quality_score

    t = quality_score(load_docs(spark, sf_dir), "doc_id", "text")
    return t.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        "alpha_ratio",
        "mean_word_len",
        "stopword_ratio",
    )


@query(with_docs(
    """
            SELECT doc_id,
              CASE WHEN s_en > 0 AND s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
                   WHEN s_es > 0 AND s_es >= s_de AND s_es >= s_fr THEN 'es'
                   WHEN s_de > 0 AND s_de >= s_fr THEN 'de'
                   WHEN s_fr > 0 THEN 'fr'
                   ELSE 'und' END AS lang_pred
            FROM (
              SELECT doc_id,
                len(list_filter(string_split(text,' '), w -> w IN ('the','and','of'))) AS s_en,
                len(list_filter(string_split(text,' '), w -> w IN ('el','la','que'))) AS s_es,
                len(list_filter(string_split(text,' '), w -> w IN ('der','die','und'))) AS s_de,
                len(list_filter(string_split(text,' '), w -> w IN ('le','les','des'))) AS s_fr
              FROM docs
            ) s
            """
))
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fsharp_data_validation_spark.operators.text import lang_id

    return lang_id(load_docs(spark, sf_dir), "doc_id", "text")


@query(with_docs(
    "SELECT doc_id, md5(array_to_string(list_sort(list_distinct("
    "string_split(lower(text), ' '))), ' ')) AS fp FROM docs"
))
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fsharp_data_validation_spark.operators.text import fingerprint

    return fingerprint(load_docs(spark, sf_dir), "doc_id", "text")


def _image_payload() -> "F.Column":
    """A synthetic image per doc: 5-byte header (BE uint16 width = doc_id %
    32 + 64, height = doc_id % 24 + 48, uint8 channels = doc_id % 3 + 1),
    then the text bytes as fake pixel data."""
    width = (F.col("doc_id") % 32 + 64).cast("int")
    height = (F.col("doc_id") % 24 + 48).cast("int")
    channels = (F.col("doc_id") % 3 + 1).cast("int")
    return F.concat(
        F.unhex(F.lpad(F.hex(width), 4, "0")),
        F.unhex(F.lpad(F.hex(height), 4, "0")),
        F.unhex(F.lpad(F.hex(channels), 2, "0")),
        F.encode(F.col("text"), "UTF-8"),
    )


@query(with_docs(
    "SELECT doc_id AS media_id, "
    "CAST(doc_id % 32 + 64 AS INT) AS width, "
    "CAST(doc_id % 24 + 48 AS INT) AS height, "
    "CAST(doc_id % 3 + 1 AS INT) AS channels, "
    "CAST(octet_length(encode(text)) + 5 AS BIGINT) AS n_bytes FROM docs"
))
def q_media_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing end-to-end: synthesize binary image payloads in
    Spark SQL (_image_payload), decode them back with the Arrow-batched
    mapInPandas header parser. Oracle = the closed form the payloads were
    built from."""
    from fsharp_data_validation_spark.operators.multimodal import decode_image_meta

    d = load_docs(spark, sf_dir)
    payload = _image_payload()
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        payload.alias("payload"),
        F.struct(
            F.lit("synthetic").alias("source"),
            F.length(payload).alias("n_bytes").cast("long"),
        ).alias("meta"),
    )
    return decode_image_meta(media)


@query(with_docs(
    # halved header dims; body keeps every 2nd byte => ceil(len/2)
    "SELECT doc_id AS media_id, "
    "CAST((doc_id % 32 + 64) // 2 AS INT) AS width, "
    "CAST((doc_id % 24 + 48) // 2 AS INT) AS height, "
    "CAST(doc_id % 3 + 1 AS INT) AS channels, "
    "CAST(CEIL(octet_length(encode(text)) / 2.0) + 5 AS BIGINT) AS n_bytes "
    "FROM docs"
))
def q_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize plumbing round-trip: synthesize payloads, nearest-neighbor
    downsample by 2 in Arrow-batched mapInPandas (header rewrite + byte
    subsample), decode the RESIZED payloads back — oracle is the closed
    form of the halved dims and ceil(body/2) byte count."""
    from fsharp_data_validation_spark.operators.multimodal import (
        decode_image_meta,
        resize_images,
    )

    media = load_docs(spark, sf_dir).select(
        F.col("doc_id").alias("media_id"), _image_payload().alias("payload")
    )
    return decode_image_meta(resize_images(media))


#: brute-force cosine top-3 of each query vector (vec_id % 100 == 0);
#: shared by ann_topk and ann_ivf, which probes every cell and so is exact
_TOPK_ORACLE = with_vecs(
    f"""
, q AS (SELECT vec_id AS query_id, e AS qe FROM vecs WHERE vec_id % 100 = 0),
v AS (SELECT vec_id AS neighbor_id, e AS ve FROM vecs),
scored AS (
  SELECT query_id, neighbor_id,
         ROUND({_COSINE_SQL.format(a='qe', b='ve')}, 6) AS sim
  FROM q JOIN v ON query_id != neighbor_id
),
r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        ORDER BY sim DESC, neighbor_id ASC) AS rnk FROM scored)
SELECT query_id, neighbor_id, rnk, sim FROM r WHERE rnk <= 3
"""
)


@query(_TOPK_ORACLE, quadratic=True)
def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-3 for query vectors (vec_id % 100 == 0):
    broadcast queries x one scan of the vectors."""
    from fsharp_data_validation_spark.operators.similarity import brute_force_topk

    vecs = load_vecs(spark, sf_dir)
    return brute_force_topk(vecs, vecs.filter(F.col("vec_id") % 100 == 0), k=3)


@query(with_vecs(
    f"""
            SELECT id_a, id_b, sim FROM (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                     ROUND({_COSINE_SQL.format(a='a.e', b='b.e')}, 6) AS sim
              FROM vecs a JOIN vecs b ON a.vec_id < b.vec_id
            ) p WHERE sim >= 0.8
        """
), quadratic=True)
def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (sim >= 0.8, exact): blocked
    all-pairs GEMM (O(n*B) shuffle instead of O(n^2) joined pairs)."""
    from fsharp_data_validation_spark.operators.similarity import near_dup_pairs_blocked

    return near_dup_pairs_blocked(load_vecs(spark, sf_dir), threshold=0.8)


# full construction replay of SemDeDup: sampled-centroid cells,
# argmin assignment (ties -> lowest cell), within-cell pairs,
# keep-earliest flag
@query(with_vecs(
    f"""
            , cent AS (
              SELECT cell, ce FROM (
                SELECT e AS ce,
                       ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cell
                FROM vecs) c
              WHERE cell < 8
            ),
            assigned AS (
              SELECT vec_id, e, CAST(cell AS INTEGER) AS cell FROM (
                SELECT v.vec_id, v.e, c.cell,
                       ROW_NUMBER() OVER (PARTITION BY v.vec_id
                                          ORDER BY list_distance(v.e, c.ce), c.cell) AS rn
                FROM vecs v CROSS JOIN cent c) a
              WHERE rn = 1
            ),
            dupc AS (
              SELECT b.vec_id AS vid, CAST(COUNT(*) AS BIGINT) AS n
              FROM assigned a JOIN assigned b
                ON a.cell = b.cell AND a.vec_id < b.vec_id
              WHERE ROUND({_COSINE_SQL.format(a='a.e', b='b.e')}, 6) >= 0.85
              GROUP BY 1
            )
            SELECT a.vec_id, a.cell,
                   COALESCE(d.n, 0) AS n_dup_earlier,
                   (COALESCE(d.n, 0) = 0) AS keep
            FROM assigned a LEFT JOIN dupc d ON d.vid = a.vec_id
            """
))
def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic dedup (operators/similarity.py:semdedup):
    sampled-centroid cells -> within-cell cosine pairs -> keep-earliest
    exemplar per near-dup set. The sampled-centroid quantizer is the
    SQL-replayable one, so assignment, pairing, and the keep flag are all
    oracle-attested end-to-end (the ann_recall evidence design)."""
    from fsharp_data_validation_spark.operators.similarity import semdedup

    return semdedup(load_vecs(spark, sf_dir), "vec_id", "embedding", threshold=0.85)


@query(_TOPK_ORACLE, quadratic=True)
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (k-means cells -> probe -> exact rerank). Run with full
    probing here so the result is exact and shares the brute-force oracle;
    n_probe < n_cells is the scale path."""
    from fsharp_data_validation_spark.operators.similarity import ivf_topk

    vecs = load_vecs(spark, sf_dir)
    # few k-means iterations: with full probing the answer is exact for ANY
    # centroid placement, so quantizer quality only matters at n_probe < n_cells
    return ivf_topk(
        vecs, vecs.filter(F.col("vec_id") % 100 == 0), k=3, n_cells=8, n_probe=8,
        max_iter=3,
    )


_ANN_LSH = {"threshold": 0.8, "n_planes": 6, "n_tables": 12}  # query and oracle


# construction replay: the oracle rebuilds the SAME seeded
# hyperplane sketch (literals), sign buckets, bucket join and exact
# verify in DuckDB — robust to scale/seed, unlike asserting full
# recall of an approximate method (per-pair miss ~3% at sim=0.8)
@query(_lsh_oracle(**_ANN_LSH), quadratic=True)
def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale path: sign-sketch buckets (Arrow pandas UDF) -> exact cosine
    verify. Approximate by construction: with 6 planes x 12 tables the
    per-pair miss probability is (1-(1-acos(s)/pi)^6)^12 — ~3e-2 at the
    query threshold s=0.8, ~2.4e-3 at s=0.9. The oracle therefore does NOT
    assert full recall (that would only hold by luck of the pinned data);
    it REPLAYS the identical construction in DuckDB — same seeded
    hyperplanes as SQL literals, sign buckets, bucket join, exact verify —
    so candidate generation and verification are checked exactly at any
    scale/seed (see sources.documents.lsh_construction_oracle_sql)."""
    from fsharp_data_validation_spark.operators.similarity import lsh_near_dup_pairs

    return lsh_near_dup_pairs(load_vecs(spark, sf_dir), **_ANN_LSH)


#: documented recall floors for the approximate ANN configurations in
#: q_ann_recall (oracle-attested each round at sf0.01). ivf_kmeans
#: is the TRAINED-quantizer path (ivf_topk's default KMeans fit) at
#: n_probe=4 of n_cells=16 — no DuckDB oracle is possible (a KMeans fit
#: isn't SQL-replayable; the sampled-centroid design exists precisely for
#: that), so its floor is pinned by pytest instead
#: (tests/test_similarity.py::test_ivf_kmeans_trained_quantizer_recall;
#: measured 0.80 on the sf0.001 corpus, floor 0.7 with regeneration slack).
ANN_RECALL_TARGETS = {"ivf": 0.6, "lsh": 0.6, "ivf_kmeans": 0.7}

#: ann_recall's IVF and LSH configurations, read by the query and its oracle
_ANN_IVF = {"k": 5, "n_cells": 8, "n_probe": 4}
_ANN_RECALL_LSH = {"threshold": 0.8, "n_planes": 6, "n_tables": 4}


# full construction replay of BOTH approximate ANN paths + the
# recall formula (sources/documents.py:ann_recall_oracle_sql)
# quadratic: replays both exact references via the same all-pairs
# exact-cosine CTE as embedding_near_dup
@query(_ann_recall_oracle(
    **_ANN_IVF, **_ANN_RECALL_LSH, ivf_target=ANN_RECALL_TARGETS["ivf"],
    lsh_target=ANN_RECALL_TARGETS["lsh"],
), quadratic=True)
def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured-recall attestation of the APPROXIMATE ANN paths — the
    configurations a 100 TB user actually runs (r3 verdict task #3):

    - ``ivf``: ``ivf_topk`` with ``n_probe < n_cells`` over the
      deterministic sampled-centroid quantizer (md5-order sample — the
      SQL-replayable stand-in for a KMeans fit; the probe/equi-join/rerank
      machinery, i.e. the part that trades recall for cost, is the
      production code path), recall@5 vs ``brute_force_topk``.
    - ``lsh``: ``lsh_near_dup_pairs`` at a reduced table count (6 planes x
      4 tables — per-pair miss ~31% at sim=0.8, ~14% at 0.9, genuinely
      approximate), pair recall vs the exact blocked-GEMM pairs.

    One row per method: (method, n_expected, n_hit, recall, target, ok).
    The DuckDB oracle replays BOTH constructions end-to-end
    (sources.documents.ann_recall_oracle_sql), so the recall formula and
    the approximate candidate generation are value-checked, not trusted."""
    from fsharp_data_validation_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        lsh_near_dup_pairs,
        near_dup_pairs_blocked,
        recall_report,
        sampled_centroids,
    )

    vecs = load_vecs(spark, sf_dir)
    qs = vecs.filter(F.col("vec_id") % 100 == 0)
    k = _ANN_IVF["k"]
    cents = sampled_centroids(vecs, n_cells=_ANN_IVF["n_cells"])
    ivf = ivf_topk(vecs, qs, k=k, n_probe=_ANN_IVF["n_probe"], centroids=cents)
    exact_topk = brute_force_topk(vecs, qs, k=k)
    lsh = lsh_near_dup_pairs(vecs, **_ANN_RECALL_LSH)
    exact_pairs = near_dup_pairs_blocked(vecs, threshold=_ANN_RECALL_LSH["threshold"])
    return recall_report(
        ivf, exact_topk, ["query_id", "neighbor_id"], "ivf", ANN_RECALL_TARGETS["ivf"]
    ).unionByName(
        recall_report(lsh, exact_pairs, ["id_a", "id_b"], "lsh", ANN_RECALL_TARGETS["lsh"])
    )


@query(with_transcripts(
    "SELECT conv_id, COUNT(*) AS n_turns, MAX(turn_idx) AS max_turn, "
    "COUNT(DISTINCT role) AS n_roles, "
    "ROUND(AVG(length(text)), 4) AS mean_len "
    "FROM transcripts GROUP BY conv_id"
))
def q_conv_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation profile (hash agg, map-side combine): turn count,
    max turn_idx, distinct roles, mean text length."""
    t = _transcripts(spark, sf_dir)
    return t.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.max("turn_idx").alias("max_turn"),
        F.countDistinct("role").alias("n_roles"),
        F.round(F.avg(F.length("text")), 4).alias("mean_len"),
    )


@query(with_transcripts(
    "SELECT 'turn_idx' AS col_name, CAST(MIN(turn_idx) AS DOUBLE) AS min_value, "
    "CAST(MAX(turn_idx) AS DOUBLE) AS max_value FROM transcripts "
    "UNION ALL "
    "SELECT 'text_len', CAST(MIN(length(text)) AS DOUBLE), "
    "CAST(MAX(length(text)) AS DOUBLE) FROM transcripts"
))
def q_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass min/max per numeric column (stats operator)."""
    from fsharp_data_validation_spark.operators.stats import numeric_minmax

    t = _transcripts(spark, sf_dir).select(
        "turn_idx", F.length("text").alias("text_len")
    )
    return numeric_minmax(t, ["turn_idx", "text_len"])


@query(
    "SELECT l_orderkey, "
    "ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue, "
    "COUNT(*) AS n_items "
    "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
    "JOIN customer ON o_custkey = c_custkey "
    "WHERE c_mktsegment = 'BUILDING' "
    "GROUP BY l_orderkey ORDER BY revenue DESC, l_orderkey ASC LIMIT 10"
)
def q_q3_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style: join customer x orders x lineitem, top revenue —
    relational join coverage (broadcast dim, shuffle-hash fact join)."""
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c.filter(F.col("c_mktsegment") == "BUILDING")),
              o.o_custkey == F.col("c_custkey"))
        .groupBy("l_orderkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@query(
    "SELECT l_returnflag, l_linestatus, "
    "ROUND(SUM(l_quantity), 2) AS sum_qty, "
    "ROUND(SUM(l_extendedprice), 2) AS sum_base_price, "
    "ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price, "
    "COUNT(*) AS count_order "
    "FROM lineitem WHERE l_shipdate <= DATE '1998-09-02' "
    "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"
)
def q_q1_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary (relational agg coverage)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


#: gap-based sessions (30-min gap) as a window spec; shared by sessionize
#: and its output-identical hot-key twin sessionize_salted
_SESSIONIZE_ORACLE = f"""
WITH g AS (
  SELECT user_id, ts, event_id,
         date_diff('microsecond', LAG(ts) OVER w, ts) AS gap_us
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), m AS (
  SELECT user_id, ts, event_id,
         CASE WHEN gap_us IS NULL OR gap_us > {SESSION_GAP_S} * 1000000
              THEN 1 ELSE 0 END AS is_new
  FROM g
), s AS (
  SELECT user_id, ts,
         CAST(SUM(is_new) OVER (PARTITION BY user_id
              ORDER BY ts, event_id
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
  FROM m
)
SELECT user_id, session_no, COUNT(*) AS n_events,
       MIN(ts) AS session_start, MAX(ts) AS session_end,
       date_diff('microsecond', MIN(ts), MAX(ts)) AS duration_us
FROM s GROUP BY user_id, session_no
"""


@query(_SESSIONIZE_ORACLE)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization of the events stream (30-min gap): one
    shuffle on user_id, lag + running-sum windows, map-side-combinable
    session aggregate (operators/temporal.py)."""
    from fsharp_data_validation_spark.operators.temporal import sessionize

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return sessionize(ev, "user_id", "ts", "event_id")


@query(_SESSIONIZE_ORACLE)
def q_sessionize_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hot-key-safe sessionize (operators/temporal.py:sessionize_salted)
    on the same events/gap shape as `sessionize`: output-identical by
    construction, so it shares that query's window-spec oracle. A 1h bucket
    (< typical session span in this table) forces the cross-bucket boundary
    merge on the real timeline."""
    from fsharp_data_validation_spark.operators.temporal import sessionize_salted

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return sessionize_salted(ev, "user_id", "ts", "event_id", bucket_seconds=3600)


# independent spec of the as-of semantics (correlated subquery — the
# obviously-correct form, deliberately NOT the union/window shape the
# Spark operator uses, so a shared bug can't hide); asof_salted is
# output-identical to asof_join (parity-fuzzed in tests/test_temporal.py),
# so both share it
_ASOF_ORACLE = (
    "SELECT l.event_id, "
    "  (SELECT r.event_id FROM events r WHERE r.user_id = l.user_id "
    "     AND r.event_type = 'click' AND r.ts <= l.ts "
    "   ORDER BY r.ts DESC, r.event_id DESC LIMIT 1) AS prev_click_id, "
    "  (SELECT date_diff('microsecond', r.ts, l.ts) FROM events r "
    "   WHERE r.user_id = l.user_id AND r.event_type = 'click' "
    "     AND r.ts <= l.ts "
    "   ORDER BY r.ts DESC, r.event_id DESC LIMIT 1) AS gap_us "
    "FROM events l WHERE l.event_type = 'error'"
)


def _errors_and_clicks(spark: SparkSession, sf_dir: str) -> list[DataFrame]:
    """The as-of twins' two sides: the 'error' and the 'click' events, each
    as (event_id, user_id, ts)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return [
        ev.filter(F.col("event_type") == t).select("event_id", "user_id", "ts")
        for t in ("error", "click")
    ]


def _prev_click(joined: DataFrame) -> DataFrame:
    """An as-of join of the errors to the latest click by the same user at
    or before each (``right_cols=["event_id", "ts"]``), as (event_id,
    prev_click_id, gap_us)."""
    return joined.select(
        "event_id",
        F.col("event_id_asof").alias("prev_click_id"),
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.unix_micros(F.col("ts_asof").cast("timestamp"))
        ).alias("gap_us"),
    )


@query(_ASOF_ORACLE)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed as-of join: for every 'error' event, the latest 'click'
    by the same user at or before it (union-tag + running last(ignorenulls)
    window — one shuffle, no range-join row amplification)."""
    from fsharp_data_validation_spark.operators.temporal import asof_join

    errors, clicks = _errors_and_clicks(spark, sf_dir)
    return _prev_click(asof_join(
        errors, clicks, by=["user_id"], right_cols=["event_id", "ts"], tie_col="event_id"
    ))


# independent spec: a plain correlated BETWEEN join — the obviously-
# correct O(n*m) form the bucketed operator must reproduce exactly
@query(
    "SELECT p.event_id AS purchase_id, "
    "CAST(COUNT(c.event_id) AS BIGINT) AS n_clicks_1h "
    "FROM events p LEFT JOIN events c "
    "  ON c.user_id = p.user_id AND c.event_type = 'click' "
    "  AND c.ts >= p.ts AND c.ts <= p.ts + INTERVAL 1 HOUR "
    "WHERE p.event_type = 'purchase' "
    "GROUP BY p.event_id"
)
def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed range join: clicks landing in the hour after each purchase
    by the same user (equi-join on (user, time-bucket) + containment filter
    — never Spark's BroadcastNestedLoopJoin; operators/temporal.py:
    interval_join). Left join keeps zero-click purchases."""
    from fsharp_data_validation_spark.operators.temporal import interval_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("start_ts"),
        (F.timestamp_micros(F.unix_micros(F.col("ts").cast("timestamp")) + 3600 * 1_000_000)).alias(
            "end_ts"
        ),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts"
    )
    pairs = interval_join(
        clicks, purchases, by=["user_id"], point_ts="ts",
        start_col="start_ts", end_col="end_ts",
    )
    per_purchase = pairs.groupBy("purchase_id").agg(
        F.count(F.lit(1)).alias("n_clicks_1h")
    )
    return purchases.join(per_purchase, "purchase_id", "left").select(
        "purchase_id",
        F.coalesce(F.col("n_clicks_1h"), F.lit(0)).cast("bigint").alias("n_clicks_1h"),
    )


@query(
    "SELECT COALESCE(CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR), '(all)') AS day, "
    "COALESCE(event_type, '(all)') AS event_type, "
    "CAST(GROUPING(CAST(date_trunc('day', ts) AS DATE), event_type) AS BIGINT) AS grp_id, "
    "COUNT(*) AS n_events, ROUND(SUM(value), 2) AS total_value "
    "FROM events "
    "GROUP BY ROLLUP(CAST(date_trunc('day', ts) AS DATE), event_type)"
)
def q_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-granularity rollup over events: (day, type), (day) and grand
    total in ONE shuffle via GROUP BY ROLLUP (Expand + single partial+final
    hash agg — operators/temporal.py:time_rollup)."""
    from fsharp_data_validation_spark.operators.temporal import time_rollup

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    r = time_rollup(ev, "ts", "event_type", "value")
    # null-free output labels: the driver's value-hash compare need not
    # agree with DuckDB on NULL ordering/serialization
    return r.select(
        F.coalesce(F.col("day").cast("string"), F.lit("(all)")).alias("day"),
        F.coalesce(F.col("event_type"), F.lit("(all)")).alias("event_type"),
        "grp_id",
        "n_events",
        "total_value",
    )


# independent spec: plain per-stratum ROW_NUMBER (the obviously-
# correct form) — the Spark operator's hash-threshold prefilter must
# be lossless for this to match
@query(with_docs(
    "SELECT lang, doc_id, rnk FROM ("
    "  SELECT lang, doc_id, ROW_NUMBER() OVER ("
    "    PARTITION BY lang ORDER BY "
    "    CAST(('0x' || substr(md5('strat' || '|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT), "
    "    doc_id) AS rnk"
    "  FROM docs"
    ") WHERE rnk <= 20"
))
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic exact-k-per-stratum sample of documents by language
    (hash-threshold prefilter + tiny window rank —
    operators/sampling.py:stratified_sample)."""
    from fsharp_data_validation_spark.operators.sampling import stratified_sample

    return stratified_sample(load_docs(spark, sf_dir), "lang", "doc_id", 20).select(
        "lang", "doc_id", "rnk"
    )


@query(with_transcripts(
    "SELECT conv_id, turn_idx, "
    "regexp_replace(regexp_replace(text, "
    "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'), "
    "'[0-9]+', '<NUM>', 'g') AS clean_text, "
    "CAST(COALESCE(len(regexp_extract_all(text, "
    "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')), 0) AS BIGINT) AS n_emails, "
    "CAST(COALESCE(len(regexp_extract_all(text, '[0-9]+')), 0) AS BIGINT) AS n_nums "
    "FROM transcripts"
))
def q_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-style scrubbing of transcript text (emails/digit runs replaced,
    per-row audit counts) — pure regexp column expressions
    (operators/text.py:redact_pii)."""
    from fsharp_data_validation_spark.operators.text import redact_pii

    return redact_pii(_transcripts(spark, sf_dir), ["conv_id", "turn_idx"], "text")


@query(with_docs(
    "SELECT doc_id, "
    "CAST(len(g) AS BIGINT) AS n_grams, "
    "CAST(len(list_distinct(g)) AS BIGINT) AS n_distinct, "
    "ROUND(CASE WHEN len(g) = 0 THEN 0.0 "
    "      ELSE 1.0 - len(list_distinct(g)) * 1.0 / len(g) END, 4) AS rep_ratio "
    "FROM ("
    "  SELECT doc_id, "
    "    CASE WHEN len(w) >= 2 "
    "         THEN [w[i] || ' ' || w[i+1] for i in range(1, len(w))] "
    "         ELSE [] END AS g "
    "  FROM (SELECT doc_id, list_filter(string_split(text, ' '), "
    "        x -> length(x) > 0) AS w FROM docs)"
    ")"
))
def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-bigram ratio per document (boilerplate/template quality
    signal) — row-local array expressions, no shuffle
    (operators/text.py:repetition_score)."""
    from fsharp_data_validation_spark.operators.text import repetition_score

    return repetition_score(load_docs(spark, sf_dir), "doc_id", "text")


def _corpus_split(spark: SparkSession, sf_dir: str):
    """Deterministic train/eval corpus split for the decontamination
    queries: eval = doc_id % 10 == 3 (same predicate in the oracles)."""
    docs = load_docs(spark, sf_dir)
    return docs.filter(F.col("doc_id") % 10 != 3), docs.filter(
        F.col("doc_id") % 10 == 3
    )


# independent spec: naive all-pairs cross-corpus Jaccard (the
# obviously-correct O(n*m) form the prefix-filtered join must equal)
@query(with_docs(
    _DOC_SHINGLES_SQL
    + f"""
SELECT train_id, eval_id, sim FROM (
  SELECT a.doc_id AS train_id, b.doc_id AS eval_id, ROUND({_JACCARD_SQL}, 6) AS sim
  FROM d a JOIN d b
    ON a.doc_id % 10 != 3 AND b.doc_id % 10 = 3
) p WHERE sim >= 0.8
"""
), quadratic=True)
def q_contamination_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination: eval docs that are near-duplicates (3-gram Jaccard
    >= 0.8) of a training doc — prefix-filtered cross-corpus inverted-index
    join (operators/contamination.py)."""
    from fsharp_data_validation_spark.operators.contamination import (
        cross_contamination_pairs,
    )

    tr, ev = _corpus_split(spark, sf_dir)
    return cross_contamination_pairs(tr, ev, "doc_id", "text")


@query(with_docs(
    f"""
            , tg AS (
              SELECT DISTINCT unnest({_SHINGLE_LIST_SQL}) AS g
              FROM (SELECT doc_id, string_split(text, ' ') AS w FROM docs
                    WHERE doc_id % 10 != 3)
              WHERE len(w) >= 3
            ), eg AS (
              SELECT doc_id, unnest({_SHINGLES_SQL}) AS g
              FROM (SELECT doc_id, string_split(text, ' ') AS w FROM docs
                    WHERE doc_id % 10 = 3)
              WHERE len(w) >= 3
            )
            SELECT eg.doc_id AS eval_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
                   CAST(COUNT(tg.g) AS BIGINT) AS n_hit,
                   ROUND(COUNT(tg.g) * 1.0 / COUNT(*), 4) AS containment
            FROM eg LEFT JOIN tg ON eg.g = tg.g
            GROUP BY eg.doc_id
            """
))
def q_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination: per eval doc, fraction of its distinct 3-grams that
    appear anywhere in the training corpus
    (operators/contamination.py:ngram_containment)."""
    from fsharp_data_validation_spark.operators.contamination import (
        ngram_containment,
    )

    tr, ev = _corpus_split(spark, sf_dir)
    return ngram_containment(tr, ev, "doc_id", "text")


# independent spec of the greedy packing recurrence: row-at-a-time
# recursive CTE (DuckDB-only; WITH RECURSIVE can't be composed via
# with_transcripts, so the transcripts CTE is inlined), over a turn's
# token count ``n_tokens_sql``
def _pack_oracle(n_tokens_sql: str) -> str:
    return (
        "WITH RECURSIVE transcripts AS ("
        + TRANSCRIPTS_SQL
        + "), t AS ("
        "  SELECT conv_id, turn_idx, "
        f"    {n_tokens_sql} AS n_tokens, "
        "    ROW_NUMBER() OVER (PARTITION BY conv_id "
        "                       ORDER BY turn_idx, coalesce(text, '')) AS rn "
        "  FROM transcripts"
        "), r AS ("
        "  SELECT conv_id, rn, turn_idx, n_tokens, 1 AS chunk_id, "
        "         n_tokens AS acc FROM t WHERE rn = 1 "
        "  UNION ALL "
        "  SELECT t.conv_id, t.rn, t.turn_idx, t.n_tokens, "
        "    CASE WHEN r.acc > 0 AND r.acc + t.n_tokens > 64 "
        "         THEN r.chunk_id + 1 ELSE r.chunk_id END, "
        "    CASE WHEN r.acc > 0 AND r.acc + t.n_tokens > 64 "
        "         THEN t.n_tokens ELSE r.acc + t.n_tokens END "
        "  FROM r JOIN t ON t.conv_id = r.conv_id AND t.rn = r.rn + 1"
        ") "
        "SELECT conv_id, CAST(rn AS BIGINT) AS rn, turn_idx, "
        "  CAST(n_tokens AS BIGINT) AS n_tokens, "
        "  CAST(chunk_id AS BIGINT) AS chunk_id FROM r"
    )


@query(_pack_oracle(
    "CASE WHEN text IS NULL THEN 0 ELSE len(string_split(text, ' ')) END"
))
def q_pack_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy context-window packing of conversation turns into <=64-token
    chunks — custom stateful operator via Arrow applyInPandas, checked
    against an independent recursive-CTE spec
    (operators/text.py:pack_context_windows)."""
    from fsharp_data_validation_spark.operators.text import pack_context_windows

    return pack_context_windows(_transcripts(spark, sf_dir), "conv_id", "turn_idx", "text", 64)


@query(_pack_oracle(_BPE_SQL))
def q_pack_windows_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same stateful packing recurrence budgeted in SUBWORD tokens
    (tokenizer='bpe' — greedy longest-match counts as a JVM column expr,
    operators/text.py:bpe_token_count_col), vs the identical recursive-CTE
    spec with the bpe count substituted. Attests the tokenizer-aware
    packing path a production pipeline actually runs."""
    from fsharp_data_validation_spark.operators.text import pack_context_windows

    return pack_context_windows(
        _transcripts(spark, sf_dir), "conv_id", "turn_idx", "text", 64,
        tokenizer="bpe",
    )


@query(_ASOF_ORACLE)
def q_asof_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hot-key-safe as-of (operators/temporal.py:asof_join_salted) on the
    same error<-latest-click shape as `asof_join`: output-identical by
    construction, so it shares that query's correlated-subquery oracle. A
    deliberately small bucket (1h) forces the cross-bucket carry path on
    the real event timeline rather than degenerating to one bucket."""
    from fsharp_data_validation_spark.operators.temporal import asof_join_salted

    errors, clicks = _errors_and_clicks(spark, sf_dir)
    return _prev_click(asof_join_salted(
        errors, clicks, by=["user_id"], right_cols=["event_id", "ts"], tie_col="event_id",
        bucket_seconds=3600,
    ))


# independent spec of sliding-window chunking: DuckDB 1-based
# inclusive list slices over unnested start offsets (width 16,
# stride 8; docs with NULL text yield no chunks on both engines)
# independent spec of first-occurrence line dedup: 1-based list
# comprehension keeping positions where list_position == own index
@query(with_docs(
    ", d AS (SELECT doc_id, "
    "string_split(replace(text, ' ', chr(10)), chr(10)) AS l FROM docs)"
    ", k AS (SELECT doc_id, l, "
    "[l[i] for i in range(1, len(l) + 1) if list_position(l, l[i]) = i] AS kept "
    "FROM d) "
    "SELECT doc_id, array_to_string(kept, chr(10)) AS clean_text, "
    "CAST(len(l) AS BIGINT) AS n_lines, "
    "CAST(len(l) - len(kept) AS BIGINT) AS n_dupe_lines FROM k"
))
def q_dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-doc repeated-line removal (CCNet-style), demonstrated on a
    line-per-word rendering of the docs corpus so duplicates exist
    (operators/text.py:dedup_lines — row-local HOF, zero shuffle)."""
    from fsharp_data_validation_spark.operators.text import dedup_lines

    d = load_docs(spark, sf_dir).select(
        "doc_id", F.translate(F.col("text"), " ", "\n").alias("text")
    )
    return dedup_lines(d, "doc_id", "text")


@query(with_docs(
    ", t AS ("
    "  SELECT doc_id, string_split(text, ' ') AS toks, "
    "         len(string_split(text, ' ')) AS n "
    "  FROM docs WHERE text IS NOT NULL"
    "), c AS ("
    "  SELECT doc_id, toks, n, "
    "    CASE WHEN n <= 16 THEN 1 "
    "         ELSE CAST(ceil((n - 16) / 8.0) AS BIGINT) + 1 END AS n_chunks "
    "  FROM t"
    "), s AS ("
    "  SELECT doc_id, toks, n, unnest(range(n_chunks)) AS i FROM c"
    ") "
    "SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx, "
    "  CAST(i * 8 AS BIGINT) AS start_tok, "
    "  CAST(len(toks[(CAST(i AS BIGINT) * 8 + 1):least(CAST(i AS BIGINT) * 8 + 16, n)]) AS BIGINT) AS n_chunk_tokens, "
    "  array_to_string(toks[(CAST(i AS BIGINT) * 8 + 1):least(CAST(i AS BIGINT) * 8 + 16, n)], ' ') AS chunk_text "
    "FROM s"
))
def q_chunk_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window token chunking (width 16, stride 8) over the docs
    corpus — row-local sequence+posexplode+slice, zero shuffle
    (operators/text.py:chunk_text)."""
    from fsharp_data_validation_spark.operators.text import chunk_text

    return chunk_text(load_docs(spark, sf_dir), "doc_id", "text")


@query(with_docs(
    "SELECT doc_id, "
    "CASE WHEN CAST(('0x' || substr(md5('split' || '|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) "
    "     % 100 < 90 THEN 'train' ELSE 'test' END AS split "
    "FROM ("
    "  SELECT doc_id, "
    "    ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn "
    "  FROM docs "
    "  WHERE lang = 'en' "
    "    AND len(string_split(text, ' ')) BETWEEN 10 AND 500 "
    "    AND length(regexp_replace(text, '[^a-z]', '', 'g')) * 1.0 "
    "        / length(text) >= 0.5"
    ") k WHERE rn = 1"
))
def q_corpus_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed curation pipeline: language + token-length + alpha-ratio
    gates (one projection, scan-stage filters), exact-dedup keep-first
    (one digest shuffle), deterministic hash split
    (operators/text.py:curate_corpus)."""
    from fsharp_data_validation_spark.operators.text import curate_corpus

    return curate_corpus(load_docs(spark, sf_dir), "doc_id", "text")


# the streaming path must concatenate micro-batches to EXACTLY the
# batch answer (stateless suite), so it shares row_suite's oracle
@query(_ROW_SUITE_ORACLE)
def q_stream_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING surface's first oracle-attested query: the stateless
    suite driven through a real file stream (streaming/validate_stream.py:
    run_available_now; the transcripts split by conv_id hash into 4 parts
    -> 4 genuine micro-batches) into a memory sink. The suite compiles to
    stateless column expressions, so the concatenated micro-batch outputs
    must hash-equal the batch row_suite — this query therefore shares
    row_suite's DuckDB oracle, turning the streaming path's
    batch-equivalence claim (previously pytest-only) into a driver-checked
    row."""
    t = _transcripts(spark, sf_dir)
    parts = [t.filter(F.pmod(F.hash("conv_id"), F.lit(4)) == i) for i in range(4)]
    suite = transcript_row_suite()
    return run_available_now(parts, lambda s: suite.run(s, KEY).violations)


def _stream_days(t: DataFrame, day: str, monitor) -> DataFrame:
    """Drive a daily windowed drift monitor over the transcripts as a real
    stream (run_available_now) and name its window start ``day``. ``ts`` is
    cast to TIMESTAMP (withWatermark rejects TIMESTAMP_NTZ); the rows are
    split at the midpoint instant of ``ts``, earlier half first, so the
    middle day's window state crosses a micro-batch boundary; a third part
    of ONE sentinel row at 2100-01-01 closes every real day (its own window
    never closes). The sentinel's ``text`` and ``role`` are non-NULL: the
    monitors drop NULL values before the watermark."""
    t = t.withColumn("ts", F.col("ts").cast("timestamp"))
    us = F.unix_micros("ts")
    mid = t.agg((F.min(us) + F.max(us)) / 2).first()[0]
    sentinel = (
        t.filter(F.col("text").isNotNull() & F.col("role").isNotNull())
        .limit(1)
        .withColumn("ts", F.lit("2100-01-01").cast("timestamp"))
    )
    out = run_available_now([t.filter(us < mid), t.filter(us >= mid), sentinel], monitor)
    stats = [c for c in out.columns if c not in ("win", "rows")]
    return out.select(F.to_date("win.start").alias(day), F.col("rows").alias("n_rows"), *stats)


def _len_stream_days(spark: SparkSession, sf_dir: str, monitor) -> DataFrame:
    """``monitor(stream, baseline)`` over daily windows of turn length,
    against the whole-table turn-length histogram."""
    t = _transcripts(spark, sf_dir).withColumn("text_len", F.length("text"))
    base = histogram(t, "text_len", _LEN_WIDTH, _LEN_BUCKETS)
    return _stream_days(t, "part_date", lambda s: monitor(s, base))


# each windowed drift monitor's daily windows must concatenate to EXACTLY
# its batch per-day twin, so each shares that twin's oracle
@query(_PSI_BY_DAY_ORACLE)
def q_stream_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming PSI drift (streaming/validate_stream.py:
    windowed_drift_stream) over daily event-time windows against the
    whole-table text-length baseline: the stream form of psi_by_day."""
    return _len_stream_days(spark, sf_dir, lambda s, base: windowed_drift_stream(
        s, base, "text_len", _LEN_WIDTH, _LEN_BUCKETS, "ts"
    ))


@query(_W1_BY_DAY_ORACLE)
def q_stream_w1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Wasserstein-1 drift (streaming/validate_stream.py:
    windowed_w1_stream), the stream form of w1_by_day."""
    return _len_stream_days(spark, sf_dir, lambda s, base: windowed_w1_stream(
        s, base, "text_len", _LEN_WIDTH, _LEN_BUCKETS, "ts"
    ))


@query(_CHI2_BY_DAY_ORACLE)
def q_stream_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming categorical chi2 drift of the role mix
    (streaming/validate_stream.py:windowed_chi2_stream) against the
    whole-table role counts, the stream form of chi2_by_day."""
    t = _transcripts(spark, sf_dir)
    base = t.groupBy(F.col("role").alias("cat")).agg(F.count(F.lit(1)).alias("n"))
    return _stream_days(
        t, "day", lambda s: windowed_chi2_stream(s, base, "role", "ts")
    )


# the streaming control chart must concatenate micro-batches to
# EXACTLY the batch closed form (pytest-pinned), so it shares the
# batch oracle
@query(_RATE_ANOMALY_ORACLE)
def q_stream_rate_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming control-chart monitoring driven for real (streaming/
    validate_stream.py:windowed_rate_anomaly_stream): the daily
    violation-rate series flows through a genuine file stream
    (run_available_now, two parts -> two micro-batches, the trailing
    baseline carried in applyInPandasWithState state) and the concatenated
    append output must hash-equal the BATCH rate_anomaly closed form — so
    this query shares rate_anomaly's DuckDB oracle (day aliased from the
    window start), the stream_suite evidence design applied to the
    stateful surface."""
    t = _transcripts(spark, sf_dir).withColumn("ts", F.col("ts").cast("timestamp"))
    daily = windowed_rates_to_sink(t, transcript_row_suite(), "ts").orderBy(
        "win_start"
    )
    # two parts (first half of the series, then the second): two genuine
    # micro-batches with the baseline carried across the batch boundary —
    # the per-day-file variant (30 write jobs + 15 micro-batches) cost
    # 163 s in the driver bench for the same attestation; the fine-grained
    # multi-batch carry is pytest-pinned
    # (test_windowed_rate_anomaly_stream_matches_batch)
    rows = daily.collect()
    half = max(1, len(rows) // 2)
    parts = [spark.createDataFrame(p, daily.schema) for p in (rows[:half], rows[half:])]
    out = run_available_now(parts, windowed_rate_anomaly_stream)
    return out.select(
        F.col("win_start").cast("date").alias("day"),
        "n_rows",
        "n_viol",
        "rate",
        "mean_rate",
        "sd_rate",
        "z",
        "anomaly",
    )


# composed end-to-end pipeline: replay all four stages sequentially
# — curate CTE (gates + exact keep-first), all-pairs exact-Jaccard
# keep-earliest drop set (quadratic — the obviously-correct form the
# LSH path must equal), md5 split+shard grouping, recursive-CTE
# packing recurrence with the BPE count as the budget unit
@query(
    "WITH RECURSIVE docs AS ("
    + _DOCS_SQL
    + "), cur AS ("
    "  SELECT doc_id, text FROM ("
    "    SELECT doc_id, text, "
    "      ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS krn "
    "    FROM docs "
    "    WHERE lang = 'en' "
    "      AND len(string_split(text, ' ')) BETWEEN 10 AND 500 "
    "      AND length(regexp_replace(text, '[^a-z]', '', 'g')) * 1.0 "
    "          / length(text) >= 0.5"
    "  ) k WHERE krn = 1"
    "), d AS ("
    f"  SELECT doc_id, {_SHINGLES_SQL} AS sh "
    "  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM cur) "
    "  WHERE len(w) >= 3"
    "), dropped AS ("
    "  SELECT DISTINCT id_b AS doc_id FROM ("
    "    SELECT b.doc_id AS id_b, "
    f"           {_JACCARD_SQL} AS sim "
    "    FROM d a JOIN d b ON a.doc_id < b.doc_id"
    "  ) p WHERE sim >= 0.8"
    "), kept AS ("
    "  SELECT doc_id, text, "
    "    (CASE WHEN CAST(('0x' || substr(md5('split' || '|' || "
    "          CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 90 "
    "          THEN 'train' ELSE 'test' END) || '|' || "
    "    CAST(CAST(('0x' || substr(md5('shard' || '|' || "
    "         CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 8 AS VARCHAR) "
    "    AS pack_group "
    "  FROM cur WHERE doc_id NOT IN (SELECT doc_id FROM dropped)"
    "), t AS ("
    "  SELECT pack_group, doc_id, "
    f"    {_BPE_SQL} AS n_bpe, "
    "    ROW_NUMBER() OVER (PARTITION BY pack_group "
    "                       ORDER BY doc_id, coalesce(text, '')) AS rn "
    "  FROM kept"
    "), r AS ("
    "  SELECT pack_group, rn, doc_id, n_bpe, 1 AS chunk_id, "
    "         n_bpe AS acc FROM t WHERE rn = 1 "
    "  UNION ALL "
    "  SELECT t.pack_group, t.rn, t.doc_id, t.n_bpe, "
    "    CASE WHEN r.acc > 0 AND r.acc + t.n_bpe > 2048 "
    "         THEN r.chunk_id + 1 ELSE r.chunk_id END, "
    "    CASE WHEN r.acc > 0 AND r.acc + t.n_bpe > 2048 "
    "         THEN t.n_bpe ELSE r.acc + t.n_bpe END "
    "  FROM r JOIN t ON t.pack_group = r.pack_group AND t.rn = r.rn + 1"
    ") "
    "SELECT pack_group, doc_id, CAST(rn AS BIGINT) AS rn, "
    "  CAST(n_bpe AS BIGINT) AS n_bpe, "
    "  CAST(chunk_id AS BIGINT) AS chunk_id FROM r",
    quadratic=True,
)
def q_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed END-TO-END pipeline as ONE lineage: curate gates +
    exact-dedup keep-first -> MinHash-LSH near-dup keep-earliest drop ->
    md5 train/test split + md5 shard -> greedy BPE-budget packing per
    (split, shard) group (operators/text.py:curate_dedup_pack). The stages
    are individually oracle-green (corpus_curate, minhash_lsh,
    pack_windows_bpe); this attests their COMPOSITION — stage-boundary
    effects (cache pressure between persists, AQE re-planning across the
    dedup join) are what per-stage queries miss. Oracle replays all four
    stages sequentially, incl. the all-pairs exact-Jaccard drop set and the
    recursive-CTE packing recurrence."""
    from fsharp_data_validation_spark.operators.text import curate_dedup_pack

    return curate_dedup_pack(load_docs(spark, sf_dir), "doc_id", "text")


@query(with_transcripts(
    "SELECT conv_id, text_digest, flow_digest, "
    "  CAST(COUNT(*) OVER (PARTITION BY text_digest) AS BIGINT) AS n_same_text, "
    "  CAST(COUNT(*) OVER (PARTITION BY flow_digest) AS BIGINT) AS n_same_flow, "
    "  MIN(conv_id) OVER (PARTITION BY text_digest) AS keep_conv_id "
    "FROM ("
    "  SELECT conv_id, "
    "    md5(string_agg(coalesce(text, ''), chr(31) "
    "        ORDER BY turn_idx, coalesce(text, ''))) AS text_digest, "
    "    md5(string_agg(coalesce(role, '') || '|' || coalesce(tool, ''), chr(31) "
    "        ORDER BY turn_idx, coalesce(role, '') || '|' || coalesce(tool, ''))) AS flow_digest "
    "  FROM transcripts GROUP BY conv_id"
    ") a"
))
def q_conv_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation-level dedup digests over the transcripts: full-text
    digest + role|tool flow digest, per-digest group sizes, canonical
    keeper (operators/dedup.py:conversation_digests)."""
    from fsharp_data_validation_spark.operators.dedup import conversation_digests

    return conversation_digests(_transcripts(spark, sf_dir))
