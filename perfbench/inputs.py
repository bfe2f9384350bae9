"""Seeded benchmark inputs and their DuckDB reference counts.

The transcripts copy the shape of ``sources/synth.py``: 5% of rows fall in
4 hot conversations, the rest form conversations of ``TURNS_PER_CONV``
turns, and violations are injected at the same modular rates (%101
duplicate turn, %89 bad role, %97 NULL text, %103 orphan tool, %113 ts
regression). The seed salts the hash and shifts the modular slices, so two
seeds give different rows with the same shape. Hot conversations get
numeric ids so the skew does not also become a format violation.

The embeddings copy ``tools/bench_scaling.py gen_vecs``: coordinates from
a salted xxhash64, and every id % 100 == 1 vector is a planted
near-duplicate (cosine ~0.999) of id - 1.

Everything is a column expression over ``spark.range`` (no shuffle, no
Python), so generation is deterministic for a given seed.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F

TURNS_PER_CONV = 20
HOT_CONVS = 4
BASE_EPOCH = 1_700_000_000


def _salt(seed: int) -> int:
    return (seed * 2_654_435_761) % 1_000_003


def transcripts(spark: SparkSession, n_rows: int, n_days: int, seed: int, parts: int) -> DataFrame:
    """``n_rows`` transcript turns spread evenly over ``n_days`` days, with
    the ``part_date`` day column used as the table's partition column."""
    df = spark.range(0, n_rows, 1, parts)
    i = F.col("id")
    k = i + F.lit(_salt(seed))  # shifts which rows carry each violation
    h = F.abs(F.xxhash64(i, F.lit(seed)))
    n_cold = n_rows // TURNS_PER_CONV + 1

    is_hot = (h % 20) == 0
    conv = F.when(is_hot, F.lit(n_cold) + h % HOT_CONVS).otherwise(F.floor(i / TURNS_PER_CONV))
    base_turn = F.when(is_hot, i).otherwise(i % TURNS_PER_CONV)
    role = (
        F.when(k % 89 == 0, F.lit("robot"))
        .when(h % 11 == 0, F.lit("tool"))
        .when(h % 3 == 0, F.lit("assistant"))
        .when(h % 7 == 0, F.lit("system"))
        .otherwise(F.lit("user"))
    )
    text = F.when(k % 97 == 0, F.lit(None).cast("string")).otherwise(
        F.concat(
            F.lit("turn "),
            i.cast("string"),
            F.lit(" "),
            F.repeat(F.lit("lorem ipsum dolor sit amet "), (h % 15).cast("int")),
        )
    )
    tool = (
        F.when(k % 103 == 0, F.lit("tool_unknown"))
        .when(role == "tool", F.concat(F.lit("tool_"), (h % 5).cast("string")))
        .otherwise(F.lit(None).cast("string"))
    )
    offset = F.floor(i * F.lit(n_days * 86_400 / n_rows))
    ts = F.timestamp_seconds(
        F.lit(BASE_EPOCH) + offset - F.when(k % 113 == 0, F.lit(7200)).otherwise(F.lit(0))
    )
    return df.select(
        F.concat(F.lit("c"), conv.cast("string")).alias("conv_id"),
        F.when(k % 101 == 0, F.lit(0)).otherwise(base_turn).cast("int").alias("turn_idx"),
        role.alias("role"),
        text.alias("text"),
        tool.alias("tool"),
        ts.alias("ts"),
    ).withColumn("part_date", F.to_date("ts"))


def write_transcripts(spark: SparkSession, path: str, n_rows: int, n_days: int, seed: int) -> None:
    """The day-partitioned table (``<path>/part_date=<day>/``)."""
    transcripts(spark, n_rows, n_days, seed, parts=4).write.mode("overwrite").partitionBy(
        "part_date"
    ).parquet(path)


def write_stream_source(spark: SparkSession, path: str, n_rows: int, n_days: int, seed: int, n_files: int) -> None:
    """The same rows as ``write_transcripts`` for that seed, as ``n_files``
    flat parquet files (one per range partition; no shuffle)."""
    transcripts(spark, n_rows, n_days, seed, parts=n_files).drop("part_date").write.mode(
        "overwrite"
    ).parquet(path)


def write_vectors(spark: SparkSession, path: str, n_vecs: int, dim: int, seed: int) -> None:
    i = F.col("id")
    base = F.when(i % 100 == 1, i - 1).otherwise(i)

    def coord(j: int):
        hv = F.xxhash64(base * F.lit(1_000_003) + F.lit(j), F.lit(seed))
        x = (F.pmod(hv, F.lit(2_000_001)) - F.lit(1_000_000)) / F.lit(1_000_000.0)
        if j == 0:
            x = x + F.when(i % 100 == 1, F.lit(0.02)).otherwise(F.lit(0.0))
        return x.cast("float")

    spark.range(0, n_vecs, 1, 4).select(
        i.alias("vec_id"), F.array(*[coord(j) for j in range(dim)]).alias("embedding")
    ).write.mode("overwrite").parquet(path)


def cell_sizes(vectors_path: str, centroids: np.ndarray) -> np.ndarray:
    """Rows per quantizer cell, assigned in numpy on the driver with the
    same argmin-distance rule as ``semdedup`` (lowest cell on ties)."""
    import pyarrow.parquet as pq

    col = pq.read_table(vectors_path, columns=["embedding"]).column("embedding").combine_chunks()
    m = col.values.to_numpy().astype("float64").reshape(len(col), -1)
    c = np.asarray(centroids, dtype="float64")
    d2 = (m * m).sum(1)[:, None] + (c * c).sum(1)[None, :] - 2.0 * (m @ c.T)
    return np.bincount(np.argmin(d2, axis=1), minlength=len(c))


def suite_oracle(table_glob: str) -> dict:
    """DuckDB's answer for the transcript row suite over the generated
    files, from the ``row_suite`` oracle predicates in ``__spark_entry__``:
    per-(path, code) violation counts, row and failing-row totals, the
    number of days and of failing days (day-partitioned input only), and
    the answers of the uniqueness and referential checks."""
    import duckdb

    from __spark_entry__ import _FAIL_CONDS
    from fsharp_data_validation_spark.sources.transcripts import TOOL_CATALOG_SQL

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        con.execute(
            f"CREATE VIEW transcripts AS SELECT * FROM read_parquet('{table_glob}', hive_partitioning = true)"
        )
        counts = {}
        for path, code, cond in _FAIL_CONDS:
            n = con.execute(f"SELECT count(*) FROM transcripts WHERE {cond}").fetchone()[0]
            if n:
                counts[(path, code)] = n
        any_fail = " OR ".join(f"COALESCE({c}, FALSE)" for _, _, c in _FAIL_CONDS)
        nf = " + ".join(f"CAST(COALESCE({c}, FALSE) AS INTEGER)" for _, _, c in _FAIL_CONDS)
        rows, failing = con.execute(
            f"SELECT count(*), count(*) FILTER (WHERE {any_fail}) FROM transcripts"
        ).fetchone()
        columns = {r[0] for r in con.execute("DESCRIBE transcripts").fetchall()}
        days = []  # only the day-partitioned table has a day column
        if "part_date" in columns:
            days = con.execute(
                f"SELECT CAST(part_date AS VARCHAR), sum({nf}) FROM transcripts GROUP BY 1"
            ).fetchall()
        dup_keys = con.execute(
            "SELECT count(*) FROM (SELECT conv_id, turn_idx FROM transcripts "
            "GROUP BY 1, 2 HAVING count(*) > 1)"
        ).fetchone()[0]
        orphans = con.execute(
            f"SELECT count(*) FROM transcripts WHERE tool IS NOT NULL "
            f"AND tool NOT IN (SELECT tool FROM ({TOOL_CATALOG_SQL}))"
        ).fetchone()[0]
    finally:
        con.close()
    return {
        "counts": counts,
        "rows": rows,
        "failing_rows": failing,
        "violations": sum(counts.values()),
        "partitions": len(days),
        "fail_partitions": sum(1 for _, v in days if v),
        "dup_keys": dup_keys,
        "orphan_tools": orphans,
    }
