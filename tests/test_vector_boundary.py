"""The Python boundary of the vector kernels: ``_matrix`` (the only decode of
a vector column into numpy), multi-chunk Arrow delivery to the grouped
kernels, and the worker daemon's stat-checked zip-directory cache
(``pyworker``)."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import numpy as np
import pyarrow as pa
import pytest

from fsharp_data_validation_spark.operators.similarity import (
    _matrix,
    brute_force_topk,
    near_dup_pairs,
    near_dup_pairs_blocked,
    semdedup,
)

VECS = pa.list_(pa.float64())


def test_matrix_sliced_array_nonzero_first_offset():
    arr = pa.array([[1.0, 2.0], [3.0, 4.0], [5.0, 6.0], [7.0, 8.0]], VECS)
    part = arr.slice(1, 2)
    assert part.offsets[0].as_py() == 2
    np.testing.assert_array_equal(_matrix(part), [[3.0, 4.0], [5.0, 6.0]])


def test_matrix_multi_chunk():
    arr = pa.array([[1.0, 2.0], [3.0, 4.0], [5.0, 6.0], [7.0, 8.0]], VECS)
    chunked = pa.chunked_array([arr.slice(0, 1), arr.slice(2, 2), arr.slice(1, 1)])
    np.testing.assert_array_equal(
        _matrix(chunked), [[1.0, 2.0], [5.0, 6.0], [7.0, 8.0], [3.0, 4.0]]
    )


def test_matrix_float32_comes_back_float64():
    m = _matrix(pa.array([[0.5, 1.5, 2.5]], pa.list_(pa.float32())))
    assert m.dtype == np.float64
    np.testing.assert_array_equal(m, [[0.5, 1.5, 2.5]])


def test_matrix_empty():
    assert _matrix(pa.array([], VECS)).shape[0] == 0
    assert _matrix(pa.chunked_array([], VECS)).shape[0] == 0


@pytest.mark.parametrize(
    "rows",
    [
        [[1.0, 2.0], None],  # NULL row
        [[1.0, 2.0, 3.0], [4.0]],  # ragged
        [[1.0, 2.0], [3.0], [4.0, 5.0, 6.0]],  # ragged, yet 3 x 2 values
    ],
    ids=["null", "ragged", "ragged_same_total"],
)
def test_matrix_rejects_null_and_ragged_rows(rows):
    with pytest.raises(ValueError):
        _matrix(pa.array(rows, VECS))


def test_zero_vector_cosine_is_null_not_nan(spark):
    """Cosine against an all-zero vector is undefined: the pair kernel must
    return NULL (not NaN, which Spark orders above every number), so the
    zero vector never passes a threshold and never ranks first in a top-k."""
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),
        (3, [0.0, 1.0, 0.0]),
        (4, [0.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")

    pairs = near_dup_pairs(df, threshold=-1.0).collect()
    assert pairs and all(4 not in (r["id_a"], r["id_b"]) for r in pairs)

    top = brute_force_topk(df, df, k=3).collect()
    firsts = {r["query_id"]: r["neighbor_id"] for r in top if r["rnk"] == 1}
    assert firsts[1] == 2 and 4 not in firsts.values()
    zero_sims = [r["sim"] for r in top if 4 in (r["query_id"], r["neighbor_id"])]
    assert zero_sims and all(s is None for s in zero_sims)


def _planted(spark):
    """60 8-d vectors with 12 near-copies, in few enough cells and blocks
    that every group spans several 7-row Arrow batches."""
    rng = np.random.default_rng(5)
    base = rng.standard_normal((60, 8))
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(base)]
    rows += [
        (100 + i, [float(x) for x in base[i * 5] + 1e-3 * rng.standard_normal(8)])
        for i in range(12)
    ]
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")


def test_grouped_kernels_decode_multi_chunk_groups_whole(spark, monkeypatch):
    """semdedup's cell kernel and near_dup_pairs_blocked's tile kernel get a
    ``pa.Table`` of several record batches per group when Arrow batches are
    capped at 7 rows; the output must equal the default (one-batch) run."""
    from fsharp_data_validation_spark.operators import similarity

    monkeypatch.setattr(similarity, "_PAIR_BLOCKS", 2)
    df = _planted(spark)
    cents = np.stack([np.ones(8), -np.ones(8)])

    def run():
        dd = sorted(semdedup(df, threshold=0.99, centroids=cents).collect())
        pairs = sorted(near_dup_pairs_blocked(df, threshold=0.99).collect())
        return dd, pairs

    default = run()
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf, "10000")
    try:
        spark.conf.set(conf, "7")
        chunked = run()
    finally:
        spark.conf.set(conf, old)
    assert sum(not r["keep"] for r in default[0]) == 12
    assert len(default[1]) == 12
    assert chunked == default


def test_zip_directory_reread_only_when_archive_changes(tmp_path, monkeypatch):
    from fsharp_data_validation_spark import pyworker

    assert zipimport.zipimporter.invalidate_caches is pyworker.invalidate_caches
    archive = tmp_path / "mods.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zmod_a.py", "X = 1\n")
    monkeypatch.syspath_prepend(str(archive))
    for name in ("zmod_a", "zmod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    try:
        assert importlib.import_module("zmod_a").X == 1
        reads = []
        read_directory = zipimport._read_directory
        monkeypatch.setattr(
            zipimport,
            "_read_directory",
            lambda path: reads.append(path) or read_directory(path),
        )
        importlib.invalidate_caches()
        first = reads.count(str(archive))
        importlib.invalidate_caches()
        assert reads.count(str(archive)) == first  # unchanged: no re-read

        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("zmod_a.py", "X = 1\n")
            z.writestr("zmod_b.py", "Y = 2\n")
        importlib.invalidate_caches()
        assert reads.count(str(archive)) == first + 1  # rewritten: re-read
        assert importlib.import_module("zmod_b").Y == 2
    finally:
        sys.path_importer_cache.pop(str(archive), None)
        for name in ("zmod_a", "zmod_b"):
            sys.modules.pop(name, None)


def test_workers_run_the_engine_daemon(spark):
    from pyspark.sql import functions as F

    @F.udf("string")
    def invalidate_module(_):
        import zipimport

        return zipimport.zipimporter.invalidate_caches.__module__

    rows = spark.range(2).select(invalidate_module("id").alias("m")).collect()
    assert {r["m"] for r in rows} == {"fsharp_data_validation_spark.pyworker"}
