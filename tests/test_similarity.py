"""operators/similarity.py: exact cosine pairs (blocked, cross-corpus),
SemDeDup, IVF top-k and its recall attestation, embedding hygiene. The
grouped GEMM kernels share one row-tiled hit rule (``_cosine_hits``); the
last test plants duplicates across its tile boundaries."""

import pytest


def test_cross_corpus_cosine_equals_bruteforce(spark):
    import numpy as np

    from fsharp_data_validation_spark.operators.similarity import (
        cross_corpus_cosine_pairs,
    )

    rng = np.random.default_rng(3)
    base = rng.standard_normal((30, 8))
    # eval vectors 0..4 are noisy copies of train vectors 0..4
    train_rows = [(int(i), [float(x) for x in base[i]]) for i in range(30)]
    eval_rows = [
        (int(100 + i), [float(x) for x in base[i] + 0.05 * rng.standard_normal(8)])
        for i in range(5)
    ] + [(int(200 + i), [float(x) for x in rng.standard_normal(8)]) for i in range(5)]
    t = spark.createDataFrame(train_rows, "vec_id long, embedding array<double>")
    e = spark.createDataFrame(eval_rows, "vec_id long, embedding array<double>")

    got = sorted(
        (r["id_a"], r["id_b"], r["sim"])
        for r in cross_corpus_cosine_pairs(t, e, threshold=0.8, blocks=4).collect()
    )

    def cos(a, b):
        a, b = np.array(a), np.array(b)
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    want = sorted(
        (ta, eb, round(cos(va, vb), 6))
        for ta, va in train_rows
        for eb, vb in eval_rows
        if round(cos(va, vb), 6) >= 0.8
    )
    assert got == want and len(want) >= 5


def test_cross_corpus_cosine_string_ids_and_zero_norm(spark):
    import numpy as np

    from fsharp_data_validation_spark.operators.similarity import (
        cross_corpus_cosine_pairs,
    )

    rng = np.random.default_rng(11)
    base = rng.standard_normal((6, 4))
    train_rows = [(f"t{i}", [float(x) for x in base[i]]) for i in range(6)]
    train_rows.append(("tz", [0.0, 0.0, 0.0, 0.0]))  # zero-norm train vector
    eval_rows = [
        ("e0", [float(x) for x in base[0]]),  # exact copy of t0 -> sim 1.0
        ("ez", [0.0, 0.0, 0.0, 0.0]),  # zero-norm eval vector
    ]
    t = spark.createDataFrame(train_rows, "vec_id string, embedding array<double>")
    e = spark.createDataFrame(eval_rows, "vec_id string, embedding array<double>")

    got = cross_corpus_cosine_pairs(t, e, threshold=0.99, blocks=2).collect()
    pairs = {(r["id_a"], r["id_b"]): r["sim"] for r in got}
    assert pairs[("t0", "e0")] == 1.0
    # zero-norm vectors never appear (no NaN rows)
    assert all("tz" != a and "ez" != b for (a, b) in pairs)
    assert all(r["sim"] == r["sim"] for r in got)  # no NaN

    # id-type mismatch fails loudly at plan-build time
    e_long = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(TypeError):
        cross_corpus_cosine_pairs(t, e_long)


def test_embedding_health_flags(spark):
    from fsharp_data_validation_spark.operators.similarity import embedding_health

    rows = [
        (1, [3.0, 4.0]),          # norm 5
        (2, [0.0, 0.0]),          # zero vector
        (3, None),                # null
        (4, [1.0]),               # wrong dim
        (5, [float("nan"), 1.0]), # NaN component
        (6, [0.0, 2.0]),          # norm 2
    ]
    rows.append((7, [None, 1.0]))  # NULL component: its own defect class
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    r = embedding_health(df, "embedding", 2).collect()[0]
    assert (
        r["n_vecs"], r["n_null"], r["n_wrong_dim"], r["n_nan"],
        r["n_null_comp"], r["n_zero"],
    ) == (7, 1, 1, 1, 1, 1)
    assert r["mean_norm"] == 3.5 and r["min_norm"] == 2.0 and r["max_norm"] == 5.0


def test_recall_report_formula(spark):
    from fsharp_data_validation_spark.operators.similarity import recall_report

    exact = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 10), (2, 12)], "query_id int, neighbor_id int"
    )
    approx = spark.createDataFrame(
        [(1, 10), (2, 12), (2, 99), (2, 12)],  # one dup, one non-hit extra
        "query_id int, neighbor_id int",
    )
    row = recall_report(
        approx, exact, ["query_id", "neighbor_id"], "m", target=0.5
    ).collect()[0]
    assert (row["method"], row["n_expected"], row["n_hit"]) == ("m", 4, 2)
    assert row["recall"] == 0.5 and row["ok"] is True

    # empty approx -> zero hits, ok False
    empty = approx.filter("query_id < 0")
    row = recall_report(
        empty, exact, ["query_id", "neighbor_id"], "m", target=0.5
    ).collect()[0]
    assert row["n_hit"] == 0 and row["ok"] is False


def test_ivf_fixed_centroids_full_probe_equals_bruteforce(spark):
    """With centroids supplied and n_probe == n_cells the probe covers every
    cell, so the fixed-centroid path must equal brute force exactly —
    pinning the assignment/probe/rerank machinery independently of
    quantizer quality."""
    import numpy as np

    from fsharp_data_validation_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        sampled_centroids,
    )

    rng = np.random.default_rng(5)
    rows = [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(40)]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qs = vecs.filter("vec_id % 10 = 0")
    cents = sampled_centroids(vecs, n_cells=4)
    assert cents.shape == (4, 8)
    got = sorted(
        tuple(r) for r in ivf_topk(vecs, qs, k=3, n_probe=4, centroids=cents).collect()
    )
    want = sorted(tuple(r) for r in brute_force_topk(vecs, qs, k=3).collect())
    assert got == want


def test_ivf_kmeans_trained_quantizer_recall(spark):
    """Recall gate for the TRAINED-quantizer IVF path (r4 verdict task #3):
    ``ivf_topk``'s default seeded-KMeans fit at n_probe=4 < n_cells=16 —
    the configuration a user with MLlib actually runs at scale. The
    SQL-replayable sampled-centroid variant is oracle-attested by
    ann_recall; the KMeans fit has no DuckDB oracle (not SQL-replayable),
    so this pytest recall gate is the strongest available check. Floor
    0.7 (measured 0.80 on the sf0.001 corpus; the trained quantizer must
    also clear the sampled-centroid path's 0.6 target)."""
    from pyspark.sql import functions as F

    from __spark_entry__ import ANN_RECALL_TARGETS
    from fsharp_data_validation_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        recall_report,
    )
    from fsharp_data_validation_spark.sources.documents import load_vecs

    floor = ANN_RECALL_TARGETS["ivf_kmeans"]
    assert floor >= ANN_RECALL_TARGETS["ivf"]
    vecs = load_vecs(spark, "/root/testdata/sf0.001")
    qs = vecs.filter(F.col("vec_id") % 50 == 0)
    ivf = ivf_topk(vecs, qs, k=5, n_cells=16, n_probe=4)  # default KMeans fit
    exact = brute_force_topk(vecs, qs, k=5)
    rep = recall_report(
        ivf, exact, ["query_id", "neighbor_id"], "ivf_kmeans", floor
    ).collect()
    assert len(rep) == 1
    r = rep[0]
    assert r["n_expected"] > 0
    # genuinely approximate at 4/16 probing (not full-probe exactness) AND
    # above the documented floor
    assert r["ok"] and r["recall"] >= floor, (r["recall"], floor)


def test_semdedup_keep_earliest_within_cells(spark):
    """SemDeDup (operators/similarity.py:semdedup) with pinned centroids:
    same-direction vectors land in the same cell and all but the smallest
    id are dropped (keep-earliest); dissimilar vectors in the same cell
    survive; clustering bounds the pair scope to within-cell."""
    import numpy as np

    from fsharp_data_validation_spark.operators.similarity import semdedup

    df = spark.createDataFrame(
        [
            (1, [0.0, 1.0]),   # cell 0
            (2, [0.0, 2.0]),   # cell 0, cos(v1,v2)=1 -> drop
            (3, [1.0, 0.0]),   # cell 1
            (4, [2.0, 0.0]),   # cell 1, cos(v3,v4)=1 -> drop
            (5, [0.6, 0.8]),   # cell 0, cos(v1,v5)=0.8 < threshold -> keep
        ],
        "vec_id int, embedding array<double>",
    )
    cents = np.array([[0.0, 1.0], [1.0, 0.0]])
    out = {
        r["vec_id"]: r
        for r in semdedup(
            df, "vec_id", "embedding", threshold=0.999, centroids=cents
        ).collect()
    }
    assert [out[i]["cell"] for i in (1, 2, 3, 4, 5)] == [0, 0, 1, 1, 0]
    assert out[1]["keep"] and out[3]["keep"] and out[5]["keep"]
    assert not out[2]["keep"] and out[2]["n_dup_earlier"] == 1
    assert not out[4]["keep"] and out[4]["n_dup_earlier"] == 1
    assert out[1]["n_dup_earlier"] == 0


def test_gemm_kernels_split_one_group_into_tiles(spark, monkeypatch):
    """One group of more than two ``_TILE`` rows: semdedup (one centroid,
    so one cell), near_dup_pairs_blocked (one block) and
    cross_corpus_cosine_pairs (one block, train side > 2 tiles) must find
    exactly the planted duplicates, whose rows sit in different tiles."""
    import numpy as np

    from fsharp_data_validation_spark.operators import similarity
    from fsharp_data_validation_spark.operators.similarity import (
        _TILE,
        cross_corpus_cosine_pairs,
        near_dup_pairs_blocked,
        semdedup,
    )

    n, dim = 2 * _TILE + 8, 64
    a, b, c = 5, _TILE + 4, 2 * _TILE + 3  # rows in tiles 0, 1 and 2
    m = np.random.default_rng(17).standard_normal((n, dim))
    m[b], m[c] = 2.0 * m[a], 0.5 * m[a]  # same direction: cosine 1
    schema = "vec_id long, embedding array<double>"
    vecs = spark.createDataFrame([(i, m[i].tolist()) for i in range(n)], schema)

    out = {
        r["vec_id"]: (r["cell"], r["n_dup_earlier"], r["keep"])
        for r in semdedup(vecs, centroids=np.ones((1, dim))).collect()
    }
    assert len(out) == n and {cell for cell, _, _ in out.values()} == {0}
    assert {i for i, (_, _, keep) in out.items() if not keep} == {b, c}
    assert (out[a][1], out[b][1], out[c][1]) == (0, 1, 2)

    monkeypatch.setattr(similarity, "_PAIR_BLOCKS", 1)
    pairs = near_dup_pairs_blocked(vecs, threshold=0.8).collect()
    assert sorted(tuple(r) for r in pairs) == [(a, b, 1.0), (a, c, 1.0), (b, c, 1.0)]

    e = spark.createDataFrame(
        [(10 * n, (3.0 * m[a]).tolist()), (10 * n + 1, m[n - 1].tolist())], schema
    )
    cross = cross_corpus_cosine_pairs(vecs, e, threshold=0.8, blocks=1).collect()
    assert sorted(tuple(r) for r in cross) == [
        (a, 10 * n, 1.0), (b, 10 * n, 1.0), (c, 10 * n, 1.0), (n - 1, 10 * n + 1, 1.0)
    ]


def test_float_input_gives_the_rows_of_its_double_cast(spark):
    """Vector columns reach the kernels at their stored width and ``_matrix``
    widens them exactly, so every kernel's rows over an ``array<float>``
    input equal its rows over the same input cast to ``array<double>``."""
    import numpy as np
    from pyspark.sql import functions as F

    from fsharp_data_validation_spark.operators.similarity import (
        cross_corpus_cosine_pairs,
        ivf_topk,
        lsh_buckets,
        near_dup_pairs_blocked,
        semdedup,
    )

    rng = np.random.default_rng(23)
    m = rng.standard_normal((300, 16)).astype(np.float32)
    m[1::10] = m[0::10] + np.float32(0.05) * m[1::10]  # near-dups (i, i + 1)
    m[7] = 0.0  # zero norm: no cosine, still assigned a cell
    f = spark.createDataFrame(
        [(i, m[i].tolist()) for i in range(len(m))], "vec_id long, embedding array<float>"
    )
    d = f.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    cents = m[:8].astype(np.float64)

    def rows(build):
        got, want = (sorted(tuple(r) for r in build(v).collect()) for v in (f, d))
        assert got and got == want
        return got

    dropped = rows(lambda v: semdedup(v, threshold=0.9, centroids=cents))
    assert any(not keep for *_, keep in dropped)
    rows(lambda v: ivf_topk(v, v.filter("vec_id % 10 = 0"), k=3, n_probe=2, centroids=cents))
    rows(lambda v: near_dup_pairs_blocked(v, threshold=0.8))
    rows(lambda v: cross_corpus_cosine_pairs(
        v.filter("vec_id % 2 = 0"), v.filter("vec_id % 2 = 1"), threshold=0.8, blocks=2
    ))
    rows(lambda v: lsh_buckets(v, 6, 4))


def _unfused_cells(m, centers):
    """Each row's nearest centroid by the assignment before it was fused:
    per ``_TILE`` rows, ``||t||^2 + ||c||^2 - 2 t.c`` in four temporaries,
    clamped at 0, argmin over the whole rows x cells matrix."""
    import numpy as np

    from fsharp_data_validation_spark.operators.similarity import _TILE

    c2 = (centers * centers).sum(axis=1)[None, :]
    out = np.empty((m.shape[0], centers.shape[0]))
    for lo in range(0, m.shape[0], _TILE):
        t = m[lo:lo + _TILE]
        d = (t * t).sum(axis=1)[:, None] + c2 - 2.0 * (t @ centers.T)
        np.maximum(d, 0.0, out=out[lo:lo + _TILE])
    return np.argmin(out, axis=1)


@pytest.mark.parametrize("case", ["ties", "zero_vectors", "ragged_tile"])
def test_fused_cell_assignment_matches_unfused(case):
    """The fused ``_nearest_cell`` kernel (one GEMM tile at a time, argmin
    per tile) assigns every row the cell the unfused formula does: on
    duplicate centroids (ties go to the lowest index), on zero vectors
    (nearest = the smallest-norm centroid) and on a batch that is not a
    multiple of ``_TILE`` rows."""
    import numpy as np

    from fsharp_data_validation_spark.operators.similarity import (
        _TILE,
        _list_array,
        _nearest_cell,
    )

    rng = np.random.default_rng(31)
    centers = rng.standard_normal((6, 8))
    m = rng.standard_normal((50, 8)).astype(np.float32).astype(np.float64)
    if case == "ties":
        centers = np.vstack([centers, centers[::-1]])  # each cell twice
        m[:6] = centers[:6]  # exact hits on a duplicated centroid
    elif case == "zero_vectors":
        m[::3] = 0.0
        centers[4] *= 0.1  # the unique smallest norm
    else:
        m = rng.standard_normal((_TILE + 37, 8))
    got = _nearest_cell(centers).func(_list_array(m)).to_numpy()
    want = _unfused_cells(m, centers)
    assert np.array_equal(got, want)
    if case == "ties":
        assert (got < 6).all() and (got[:6] == np.arange(6)).all()
    elif case == "zero_vectors":
        assert (got[::3] == 4).all()
