"""The documents corpus used by the dedup / text-analysis operators.

``DOCS_SQL`` augments the driver's ``documents`` table with *deterministic*
injected duplicates so the dedup operators have guaranteed positives that
both Spark and the DuckDB oracle derive identically:

- every ``doc_id % 13 == 0`` gains an EXACT duplicate (id + 2_000_000);
- every ``doc_id % 7 == 0`` gains a NEAR duplicate (id + 1_000_000, three
  words appended -> 3-gram Jaccard ≈ 0.94 for ~50-word docs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.similarity import lsh_planes

DOCS_SQL = """
SELECT doc_id, text, lang, source, n_chars FROM documents
UNION ALL
SELECT doc_id + 1000000 AS doc_id, text || ' extra near duplicate' AS text,
       lang, source, n_chars FROM documents WHERE doc_id % 7 = 0
UNION ALL
SELECT doc_id + 2000000 AS doc_id, text, lang, source, n_chars
FROM documents WHERE doc_id % 13 = 0
"""


def with_docs(sql: str) -> str:
    """Wrap a query in the shared ``docs`` CTE (runs on Spark and DuckDB)."""
    return f"WITH docs AS ({DOCS_SQL})\n" + sql


def load_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.read.parquet(f"{sf_dir}/documents.parquet").createOrReplaceTempView(
        "documents"
    )
    return spark.sql(DOCS_SQL)


def load_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# Embedding corpus with injected near-duplicates: every vec_id % 50 == 0
# gains a copy (id + 1_000_000) with +0.5 on coordinate 0 — cosine ~0.9x,
# guaranteed positives for near-dup / top-k queries. DuckDB equivalent below.
VECS_ORACLE_SQL = """
SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
UNION ALL
SELECT vec_id + 1000000 AS vec_id,
       [CASE WHEN i = 1 THEN CAST(embedding[1] AS DOUBLE) + 0.5
             ELSE CAST(embedding[i] AS DOUBLE) END
        for i in range(1, len(embedding) + 1)] AS e
FROM embeddings WHERE vec_id % 50 = 0
"""

# exact cosine of two DOUBLE[] columns, formatted with ``a``/``b``
COSINE_SQL = (
    "list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
)


def load_vecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, embedding: array<double>) with injected near-duplicates —
    semantics identical to VECS_ORACLE_SQL."""
    from pyspark.sql import functions as F

    base = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    )
    bumped = base.filter(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: F.when(i == 0, x + F.lit(0.5)).otherwise(x),
        ).alias("embedding"),
    )
    return base.unionByName(bumped)


def with_vecs(sql: str) -> str:
    """Wrap an oracle query in the DuckDB ``vecs`` CTE."""
    return f"WITH vecs AS ({VECS_ORACLE_SQL})\n" + sql


def _planes_cte(n_planes: int, n_tables: int) -> str:
    """The CTE ``planes(t, j, p)``: ``lsh_planes`` over the 64-d vectors as
    DuckDB VALUES rows (table, plane_idx, DOUBLE[]), literals so DuckDB
    replays the sketch of ``operators.similarity.lsh_buckets`` exactly."""
    rows = ",\n".join(
        f"({r // n_planes},{r % n_planes},[{','.join(repr(float(x)) for x in p)}]::DOUBLE[])"
        for r, p in enumerate(lsh_planes(n_planes, n_tables, 64))
    )
    return f"planes(t, j, p) AS (VALUES {rows})"


def lsh_construction_oracle_sql(threshold: float, n_planes: int, n_tables: int) -> str:
    """DuckDB replay of ``lsh_near_dup_pairs``' FULL construction: the same
    seeded Gaussian hyperplanes (inlined as double literals), sign buckets
    ``sum((dot > 0) << j)`` per table, (table, bucket) candidate self-join,
    exact-cosine verify. Checking the construction — not just the final
    pairs — makes the oracle scale/seed-robust: an approximate method's
    recall is data-dependent (per-pair miss at sim=0.8 with 6 planes x 12
    tables is ~3%), but two independent implementations of the same sketch
    must agree exactly (sign flips need |dot| ~ 1e-13, vanishing for
    Gaussian planes)."""
    return f"""WITH vecs AS ({VECS_ORACLE_SQL}),
{_planes_cte(n_planes, n_tables)},
bk AS (
  SELECT v.vec_id, pl.t,
         SUM(CASE WHEN list_dot_product(v.e, pl.p) > 0
                  THEN 1 << pl.j ELSE 0 END) AS bucket
  FROM vecs v CROSS JOIN planes pl GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM bk a JOIN bk b
    ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT id_a, id_b, sim FROM (
  SELECT c.id_a, c.id_b,
         ROUND({COSINE_SQL.format(a="va.e", b="vb.e")}, 6) AS sim
  FROM cand c
  JOIN vecs va ON va.vec_id = c.id_a
  JOIN vecs vb ON vb.vec_id = c.id_b
) p WHERE sim >= {threshold}"""


def ann_recall_oracle_sql(
    k: int, n_cells: int, n_probe: int, threshold: float, n_planes: int, n_tables: int,
    ivf_target: float, lsh_target: float,
) -> str:
    """DuckDB replay of the ``ann_recall`` query: recall of the APPROXIMATE
    ANN configurations against the exact results on the same vectors.

    - IVF arm: the same deterministic sampled-centroid quantizer
      (``operators.similarity.sampled_centroids``: first ``n_cells``
      vectors by (md5(id), id) order), argmin-distance cell assignment
      (ties -> lowest cell), probe of the ``n_probe`` nearest cells per
      query, exact-cosine rerank top-k — then recall@k vs brute-force
      top-k. Distance ORDER is engine-robust: flips would need two
      distances equal to ~1e-15 relative (same acceptance as the LSH
      sign-replay oracle).
    - LSH arm: the full seeded-hyperplane construction replay
      (``_planes_cte``) at the reduced, genuinely-approximate table
      count, pair recall vs the exact >= threshold pairs.

    The recall FORMULA (left join + counts + rounded ratio + >= target) is
    thereby checked end-to-end on both engines."""
    return f"""WITH vecs AS ({VECS_ORACLE_SQL}),
q AS (SELECT vec_id AS query_id, e AS qe FROM vecs WHERE vec_id % 100 = 0),
v AS (SELECT vec_id AS neighbor_id, e AS ve FROM vecs),
exact_topk AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY sim DESC, neighbor_id ASC) AS rnk
    FROM (SELECT query_id, neighbor_id,
                 ROUND({COSINE_SQL.format(a='qe', b='ve')}, 6) AS sim
          FROM q JOIN v ON query_id != neighbor_id) s) r
  WHERE rnk <= {k}
),
cent AS (
  SELECT cell, ce FROM (
    SELECT e AS ce,
           ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
             AS cell
    FROM vecs) c
  WHERE cell < {n_cells}
),
assigned AS (
  SELECT neighbor_id, ve, cell FROM (
    SELECT v.neighbor_id, v.ve, c.cell,
           ROW_NUMBER() OVER (PARTITION BY v.neighbor_id
                              ORDER BY list_distance(v.ve, c.ce), c.cell) AS rn
    FROM v CROSS JOIN cent c) a
  WHERE rn = 1
),
qcells AS (
  SELECT query_id, qe, cell FROM (
    SELECT q.query_id, q.qe, c.cell,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
                              ORDER BY list_distance(q.qe, c.ce), c.cell) AS rn
    FROM q CROSS JOIN cent c) p
  WHERE rn <= {n_probe}
),
ivf_topk AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY sim DESC, neighbor_id ASC) AS rnk
    FROM (SELECT qc.query_id, a.neighbor_id,
                 ROUND({COSINE_SQL.format(a='qc.qe', b='a.ve')}, 6) AS sim
          FROM qcells qc JOIN assigned a USING (cell)
          WHERE qc.query_id != a.neighbor_id) s) r
  WHERE rnk <= {k}
),
{_planes_cte(n_planes, n_tables)},
bk AS (
  SELECT v2.vec_id, pl.t,
         SUM(CASE WHEN list_dot_product(v2.e, pl.p) > 0
                  THEN 1 << pl.j ELSE 0 END) AS bucket
  FROM vecs v2 CROSS JOIN planes pl GROUP BY 1, 2
),
lsh_pairs AS (
  SELECT id_a, id_b FROM (
    SELECT c.id_a, c.id_b,
           ROUND({COSINE_SQL.format(a='va.e', b='vb.e')}, 6) AS sim
    FROM (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
          FROM bk a JOIN bk b
            ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id) c
    JOIN vecs va ON va.vec_id = c.id_a
    JOIN vecs vb ON vb.vec_id = c.id_b) p
  WHERE sim >= {threshold}
),
exact_pairs AS (
  SELECT id_a, id_b FROM (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND({COSINE_SQL.format(a='a.e', b='b.e')}, 6) AS sim
    FROM vecs a JOIN vecs b ON a.vec_id < b.vec_id) p
  WHERE sim >= {threshold}
),
counts AS (
  SELECT 'ivf' AS method,
         CAST(COUNT(*) AS BIGINT) AS n_expected,
         CAST(SUM(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_hit,
         CAST({ivf_target!r} AS DOUBLE) AS target
  FROM exact_topk e LEFT JOIN ivf_topk i
    ON e.query_id = i.query_id AND e.neighbor_id = i.neighbor_id
  UNION ALL
  SELECT 'lsh' AS method,
         CAST(COUNT(*) AS BIGINT) AS n_expected,
         CAST(SUM(CASE WHEN l.id_a IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_hit,
         CAST({lsh_target!r} AS DOUBLE) AS target
  FROM exact_pairs e LEFT JOIN lsh_pairs l
    ON e.id_a = l.id_a AND e.id_b = l.id_b
)
SELECT method, n_expected, n_hit,
       ROUND(n_hit * 1.0 / n_expected, 4) AS recall,
       target,
       ROUND(n_hit * 1.0 / n_expected, 4) >= target AS ok
FROM counts"""
