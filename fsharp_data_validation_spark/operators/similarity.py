"""Similarity search over embedding columns (array<float>):

- brute-force cosine top-k (the exact baseline; oracle-checkable);
- threshold near-duplicate pairs;
- random-hyperplane LSH bucketing via an Arrow UDF
  (numpy matmul per batch — the 100 TB scale path; no per-row Python).

Every Python kernel here is an ``arrow_udf`` (``pa.Array`` in and out) or a
``groupBy().applyInArrow`` (``pa.Table`` in and out). Vector columns cross
the boundary and the shuffle at their stored width (no JVM-side cast) and
only through ``_matrix``, the one place that widens them to float64 for the
math. The widening is exact, so ``array<float>`` input gives the rows of its
``array<double>`` cast (float32 multiply-then-sum would diverge from the
DuckDB oracles).
"""

from __future__ import annotations

from typing import Optional

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from ..rounding import half_up
from .dedup import _bucket_pairs


def _matrix(arr: pa.Array | pa.ChunkedArray) -> np.ndarray:
    """``(n, dim)`` float64 matrix of a ``list<float>`` or ``list<double>``
    Arrow array or ChunkedArray, read from its offsets and values buffer —
    no per-row objects; float32 values widen exactly. NULL or ragged rows
    raise ``ValueError``; checking the offsets is what catches ragged rows,
    which a bare reshape would misread."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    n = len(arr)
    if arr.null_count:
        raise ValueError("NULL vector row")
    if n == 0:
        return np.empty((0, 0))
    off = arr.offsets.to_numpy()
    dim = int(off[1] - off[0])
    if not np.array_equal(off - off[0], np.arange(n + 1) * dim):
        raise ValueError("ragged vector rows")
    values = arr.values.slice(off[0], n * dim).to_numpy(zero_copy_only=False)
    return values.astype(np.float64, copy=False).reshape(n, dim)


def _list_array(m: np.ndarray) -> pa.Array:
    """One Arrow list per row of a 2-D array, built from offsets."""
    offsets = np.arange(m.shape[0] + 1, dtype=np.int32) * m.shape[1]
    return pa.ListArray.from_arrays(offsets, m.ravel())


# rows per side of one GEMM block: a kernel holds a few _TILE x _TILE
# float64 blocks (128 MB each) whatever the size of its group
_TILE = 4096
_PAIR_BLOCKS = 8  # near_dup_pairs_blocked: hash blocks of the vectors


def _nonzero_rows(m: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Offsets, rows and L2 norms of ``m``'s nonzero-norm rows (``m``
    itself when no row is zero)."""
    norms = np.sqrt(np.einsum("ij,ij->i", m, m))
    rows = np.flatnonzero(norms > 0.0)
    if len(rows) == len(m):
        return rows, m, norms
    return rows, m[rows], norms[rows]


def _cosine_hits(
    a: np.ndarray, b: np.ndarray, threshold: float, round_to: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Row offsets ``(i, j)`` into ``a`` and ``b`` of the pairs whose cosine,
    rounded HALF_UP to ``round_to`` decimals, is ``>= threshold``, and that
    ``sim``: the one hit rule of the GEMM kernels. ``a @ b.T`` runs in
    ``_TILE x _TILE`` blocks, so memory is bounded by the tile plus the
    hits. Zero-norm rows (cosine undefined) never hit. Only entries within
    ``10**-round_to`` of the threshold are rounded: rounding adds at most
    ``0.5 * 10**-round_to``, so an entry below that margin cannot hit.
    With ``b is a`` (self-pairs) the norms and the zero-norm filter are
    computed once; ``b`` still gets its own copy of the rows, because
    numpy routes ``x @ x.T`` over one buffer to syrk, whose last bits can
    differ from the GEMM's."""
    self_pairs = b is a
    ra, a, na = _nonzero_rows(a)
    rb, b, nb = (ra, a.copy(), na) if self_pairs else _nonzero_rows(b)
    floor = threshold - 10.0**-round_to
    parts = [(np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0))]
    for lo in range(0, len(a), _TILE):
        for lo_b in range(0, len(b), _TILE):
            s = a[lo:lo + _TILE] @ b[lo_b:lo_b + _TILE].T
            s /= np.outer(na[lo:lo + _TILE], nb[lo_b:lo_b + _TILE])
            i, j = np.nonzero(s >= floor)
            sim = half_up(s[i, j], round_to)
            hit = sim >= threshold
            parts.append((ra[lo + i[hit]], rb[lo_b + j[hit]], sim[hit]))
    i, j, sim = zip(*parts)
    return np.concatenate(i), np.concatenate(j), np.concatenate(sim)


@F.arrow_udf(DoubleType())
def _pair_cosine(va: pa.Array, vb: pa.Array) -> pa.Array:
    """Arrow-vectorized cosine over joined pairs: one einsum per batch
    (float64), no per-row Python. This is the verify kernel for both the
    exact O(n^2) path and the LSH candidate path — at scale it only ever
    sees candidate pairs, so Arrow transfer is bounded by candidates, not
    n^2."""
    a, b = _matrix(va), _matrix(vb)
    dots = np.einsum("ij,ij->i", a, b)
    na = np.sqrt(np.einsum("ij,ij->i", a, a))
    nb = np.sqrt(np.einsum("ij,ij->i", b, b))
    # from_pandas: NaN (zero-norm or NaN-component vector) -> NULL, so such a
    # vector fails every sim >= threshold filter and sorts last in a top-k
    return pa.array(dots / (na * nb), from_pandas=True)


def brute_force_topk(vectors: DataFrame, queries: DataFrame, k: int = 3) -> DataFrame:
    """Exact cosine top-k per query: broadcast the (small) query set against
    the vector table — one scan of the vectors, no shuffle of the big side;
    rank per query. Returns (query_id, neighbor_id, rnk, sim)."""
    v = vectors.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("v"))
    q = queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q"))
    scored = (
        v.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(_pair_cosine(F.col("q"), F.col("v")), 6).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "rnk", "sim")
    )


def near_dup_pairs(vectors: DataFrame, threshold: float = 0.8) -> DataFrame:
    """Embedding-cosine near-dup pairs (id_a < id_b, sim >= threshold).
    Exact O(n^2) form — the oracle path; use lsh_buckets to prefilter at
    scale (candidates only within matching sign-sketch buckets)."""
    a = vectors.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = vectors.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(_pair_cosine(F.col("va"), F.col("vb")), 6).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )


def near_dup_pairs_blocked(vectors: DataFrame, threshold: float = 0.8) -> DataFrame:
    """Exact all-pairs cosine via **block-matrix GEMM**: vectors are hashed
    into ``_PAIR_BLOCKS`` blocks; every block pair (bi <= bj) becomes one group;
    ``applyInArrow`` scores the block pair with ``_cosine_hits`` (float64
    GEMM) and emits only pairs above threshold. Kernel memory is bounded by
    ``_TILE``, not by the block; only work is quadratic in the block.

    Vs the naive pair join, shuffled bytes drop from O(n^2) joined array
    pairs to O(n * B) replicated vectors, and the math runs in BLAS. Same
    output as ``near_dup_pairs`` (values rounded identically) — it is
    oracle-checked against the same exact-cosine SQL.
    """
    v = vectors.select(
        F.col("vec_id").alias("vid"),
        F.col("embedding").alias("v"),
        F.pmod(F.xxhash64(F.col("vec_id")), F.lit(_PAIR_BLOCKS))
        .cast("int")
        .alias("blk"),
    )
    blocks = range(_PAIR_BLOCKS)
    ids = [(bi, bj) for bi in blocks for bj in blocks if bi <= bj]
    pair_ids = v.sparkSession.createDataFrame(ids, "bi int, bj int")
    # a vector joins every tile that references its block; side(s) tell the
    # kernel which operand(s) of the GEMM it belongs to
    tiles = v.join(
        F.broadcast(pair_ids),
        (F.col("blk") == F.col("bi")) | (F.col("blk") == F.col("bj")),
    )

    out_schema = StructType(
        [
            StructField("id_a", LongType()),
            StructField("id_b", LongType()),
            StructField("sim", DoubleType()),
        ]
    )

    def tile_kernel(table: pa.Table) -> pa.Table:
        bi, bj = table["bi"][0].as_py(), table["bj"][0].as_py()
        blk = table["blk"].to_numpy()
        m = _matrix(table["v"])
        vids = table["vid"].to_numpy().astype(np.int64)
        ia, ib = np.flatnonzero(blk == bi), np.flatnonzero(blk == bj)
        a = m[ia]  # a diagonal tile is a self-pair call: b is a
        i, j, sim = _cosine_hits(a, a if bi == bj else m[ib], threshold, 6)
        a_ids, b_ids = vids[ia][i], vids[ib][j]
        # a diagonal tile sees every unordered pair twice: keep one; an
        # off-diagonal tile sees it once, in either order
        keep = (bi != bj) | (a_ids < b_ids)
        a_ids, b_ids = a_ids[keep], b_ids[keep]
        lo, hi = np.minimum(a_ids, b_ids), np.maximum(a_ids, b_ids)
        return pa.table({"id_a": lo, "id_b": hi, "sim": sim[keep]})

    return tiles.groupBy("bi", "bj").applyInArrow(tile_kernel, out_schema)


def _sq_dists(m: np.ndarray, centers: np.ndarray):
    """Squared euclidean distances of ``m``'s rows to ``centers``, one
    ``_TILE``-row tile at a time: yields ``(lo, d)`` for rows ``lo:lo +
    len(d)``, and the next tile overwrites ``d``, so a consumer reduces
    each tile first and no rows x cells matrix exists. A tile is one GEMM
    against the pre-scaled centroids, ``||t-c||^2 = (||t||^2 + ||c||^2) -
    t.(2c)``, built in place and clamped at 0 (float cancellation); scaling
    by 2 commutes with rounding, so it is bitwise the unfused
    ``... - 2 * (t @ c.T)``. The naive 3-D broadcast (rows x cells x dim)
    would be a >10 GB allocation per Arrow batch at a web-scale quantizer's
    10^4-10^5 cells; at the oracle configs' 8-16 cells both are exact
    float64 and order like DuckDB's list_distance (semdedup/ann_recall
    oracle sweeps)."""
    c2 = (centers * centers).sum(axis=1)[None, :]
    c2x = (2.0 * centers).T
    g = np.empty((min(len(m), _TILE), len(centers)))
    s = np.empty_like(g)
    for lo in range(0, len(m), _TILE):
        t = m[lo:lo + _TILE]
        d, n2 = g[:len(t)], s[:len(t)]
        np.matmul(t, c2x, out=d)
        np.add((t * t).sum(axis=1)[:, None], c2, out=n2)
        np.subtract(n2, d, out=d)
        np.maximum(d, 0.0, out=d)
        yield lo, d


def _nearest_cell(centers: np.ndarray):
    """Arrow UDF: each vector's nearest centroid index, the argmin of each
    ``_sq_dists`` tile. argmin ties -> lowest cell index (matches the
    oracles' ORDER BY distance, cell)."""

    @F.arrow_udf(IntegerType())
    def assign_cell(batch: pa.Array) -> pa.Array:
        m = _matrix(batch)
        cell = np.empty(len(m), dtype="int32")
        for lo, d in _sq_dists(m, centers):
            cell[lo:lo + len(d)] = d.argmin(axis=1)
        return pa.array(cell)

    return assign_cell


def sampled_centroids(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 8,
) -> np.ndarray:
    """Deterministic coarse-quantizer centroids: the ``n_cells`` vectors
    that sort first by ``(md5(id), id)`` — a seedless uniform sample both
    engines derive identically (md5 of the decimal id string), unlike a
    KMeans fit. This is the random-point-initialized IVF quantizer (no
    Lloyd iterations): recall at a given n_probe is somewhat below a
    trained quantizer's, but the probe/join/rerank machinery — the part
    that trades recall for cost — is byte-identical. ``orderBy + limit``
    compiles to TakeOrdered; the collect is O(n_cells) rows (control-plane
    scalar, same class as the dedup convergence witnesses)."""
    rows = (
        vectors.select(F.col(id_col).alias("i"), F.col(vec_col).alias("v"))
        .orderBy(F.md5(F.col("i").cast("string")), F.col("i"))
        .limit(n_cells)
        .collect()
    )
    return np.stack([np.asarray(r["v"], dtype="float64") for r in rows])


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 3,
    n_cells: int = 16,
    n_probe: int = 4,
    max_iter: int = 20,
    centroids: Optional[np.ndarray] = None,
) -> DataFrame:
    """IVF (inverted-file) approximate nearest neighbor: coarse quantizer
    -> per-cell inverted lists -> probe the ``n_probe`` nearest cells per
    query -> exact cosine rerank of the candidates.

    Spark shape: the quantizer is Spark ML KMeans (seeded, deterministic)
    — or, when ``centroids`` is supplied, a fixed centroid matrix (e.g.
    ``sampled_centroids``: deterministic AND DuckDB-replayable, which is
    how the approximate-path recall is oracle-attested). Cell assignment
    is one pass over the vectors (model transform / argmin-distance Arrow
    UDF); the probe step broadcasts the tiny centroid matrix into an Arrow
    UDF that returns each query's probe-cell list; candidates come from an
    equi-join on cell id (shuffle bounded by list sizes, not n^2); rerank
    reuses the Arrow pair-cosine kernel + a per-query top-k window.

    With ``n_probe == n_cells`` recall is 1.0 and the result equals
    ``brute_force_topk`` (ties broken identically); smaller ``n_probe`` is
    the 100 TB path, attested by ``recall_report`` (query ``ann_recall``).
    """
    v = vectors.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("v"))
    if centroids is not None:
        centers = np.asarray(centroids, dtype="float64")
        n_cells = len(centers)

        assigned = v.select(
            "neighbor_id", "v", _nearest_cell(centers)(F.col("v")).alias("cell")
        )
    else:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        ml_df = v.withColumn("features", array_to_vector("v"))
        model = KMeans(
            k=n_cells, seed=13, featuresCol="features", maxIter=max_iter
        ).fit(ml_df)
        assigned = model.transform(ml_df).select(
            "neighbor_id", "v", F.col("prediction").alias("cell")
        )
        centers = np.stack(
            [c.toArray() if hasattr(c, "toArray") else np.asarray(c)
             for c in model.clusterCenters()]
        )

    @F.arrow_udf(ArrayType(IntegerType()))
    def probe_cells(qs: pa.Array) -> pa.Array:
        m = _matrix(qs)
        order = np.empty((len(m), min(n_probe, len(centers))), dtype="int32")
        for lo, d in _sq_dists(m, centers):
            # stable sort: equidistant cells probe in index order (oracle parity)
            order[lo:lo + len(d)] = np.argsort(d, axis=1, kind="stable")[:, :n_probe]
        return _list_array(order)

    q = queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q"))
    q_cells = q.select(
        "query_id", "q", F.explode(probe_cells(F.col("q"))).alias("cell")
    )
    scored = (
        q_cells.join(assigned, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(_pair_cosine(F.col("q"), F.col("v")), 6).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "rnk", "sim")
    )


def semdedup(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.85,
    centroids: Optional[np.ndarray] = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication"): cluster the embeddings with
    a coarse quantizer, compute pairwise cosine WITHIN each cluster only,
    and drop every vector that has a same-cluster neighbor of smaller id
    with sim >= ``threshold`` — keep-earliest exemplar per semantic
    near-dup set, the embedding-space sibling of the text dedup family.

    Spark shape: cell assignment is one argmin pass over the vectors at
    their stored width: per ``_TILE`` rows, one fused GEMM tile of squared
    distances (``_sq_dists``, the builder ``ivf_topk``'s probe shares)
    reduced to its argmin before the next tile, so no rows x cells matrix
    exists (ties -> lowest cell index, matching the oracle's ORDER BY
    distance, cell). The within-cell
    pairing is ONE ``applyInArrow`` group per cell scoring the cell against
    itself with ``_cosine_hits`` (float64 GEMM) and reducing the hits to
    per-vector earlier-neighbor counts IN the kernel, which returns every
    row of its cell: the grouped pass's output is the answer, and nothing
    is persisted. Each vector moves
    through the shuffle once (O(n) bytes), not once per pair as in a
    cell-keyed self-join (~100x the bytes at ~100 vectors/cell).
    Kernel memory is bounded by ``_TILE`` (plus the hits), so a hot cell
    costs a slow task, not an out-of-memory one; only work is quadratic in
    the LARGEST cell, never in n (at 10^9 vectors, 10^4-10^5 cells from a
    trained quantizer keep it small). The
    default ``sampled_centroids`` quantizer is deterministic AND
    SQL-replayable, so the whole construction — assignment, pairing,
    keep-earliest — is oracle-attested end-to-end (query ``semdedup``),
    the same evidence design as ``ann_recall``.

    Returns (id_col, cell, n_dup_earlier, keep) — one row per vector;
    ``keep = false`` marks the semantic duplicates to drop."""
    if centroids is None:
        centroids = sampled_centroids(vectors, id_col, vec_col)
    centers = np.asarray(centroids, dtype="float64")
    assigned = vectors.select(
        F.col(id_col), F.col(vec_col), _nearest_cell(centers)(F.col(vec_col)).alias("cell")
    )
    id_field = vectors.schema[id_col]
    out_schema = StructType(
        [
            StructField(id_col, id_field.dataType, id_field.nullable),
            StructField("cell", IntegerType()),
            StructField("n_dup_earlier", LongType(), False),
            StructField("keep", BooleanType(), False),
        ]
    )

    def cell_kernel(table: pa.Table) -> pa.Table:
        ids = table[id_col].to_numpy()
        m = _matrix(table[vec_col])
        i, j, _ = _cosine_hits(m, m, threshold, 6)
        # per-vector earlier-neighbor counts: hits (i, j) with ids[i] < ids[j]
        counts = np.bincount(j[ids[i] < ids[j]], minlength=len(ids))
        return pa.table(
            {
                id_col: table[id_col],
                "cell": table["cell"],
                "n_dup_earlier": counts,
                "keep": counts == 0,
            }
        )

    return assigned.groupBy("cell").applyInArrow(cell_kernel, out_schema)


def lsh_planes(n_planes: int, n_tables: int, dim: int) -> np.ndarray:
    """The sign sketch's fixed Gaussian hyperplanes, ``(n_tables * n_planes,
    dim)``, table-major: ``lsh_buckets`` projects onto them and the DuckDB
    oracles inline the same tensor as literals."""
    return np.random.default_rng(7).standard_normal((n_tables * n_planes, dim))


def lsh_buckets(vectors: DataFrame, n_planes: int, n_tables: int) -> DataFrame:
    """Random-hyperplane (sign) sketch, multi-table: per table t, bucket_t =
    bits of sign(V @ P_t^T). P is a fixed seeded Gaussian tensor, one
    column per vector dimension (read off the batch); the dot products run
    as ONE numpy matmul per Arrow batch inside an Arrow UDF (vectorized, no
    per-row Python). Candidates at scale = self-join on (table, bucket);
    two vectors at angle theta share a table's bucket with
    probability (1 - theta/pi)^n_planes, and miss ALL tables with
    probability (1 - p)^n_tables — tune the pair for the target recall.
    Returns (vec_id, table, bucket) — one row per table via posexplode."""

    @F.arrow_udf(ArrayType(LongType()))
    def sketch(batch: pa.Array) -> pa.Array:
        if len(batch) == 0:
            return pa.array([], pa.list_(pa.int64()))
        m = _matrix(batch)  # (rows, dim)
        planes = lsh_planes(n_planes, n_tables, m.shape[1])
        signs = (m @ planes.T) > 0  # (rows, n_tables*n_planes)
        signs = signs.reshape(len(m), n_tables, n_planes)
        weights = (1 << np.arange(n_planes)).astype(np.int64)
        buckets = signs.astype(np.int64) @ weights  # (rows, n_tables)
        return _list_array(buckets)

    sk = vectors.select(F.col("vec_id"), sketch(F.col("embedding")).alias("bks"))
    return sk.select(F.col("vec_id"), F.posexplode("bks").alias("table", "bucket"))


def lsh_near_dup_pairs(
    vectors: DataFrame, threshold: float = 0.8, n_planes: int = 6, n_tables: int = 4
) -> DataFrame:
    """Scale path: multi-table sign-sketch bucket join -> exact cosine
    verify on the (deduplicated) candidates only. Recall < 1 by
    construction (report as approximate): a pair at similarity s collides
    in one table with p = (1 - acos(s)/pi)^n_planes and misses ALL tables
    with (1-p)^n_tables — e.g. 6 planes x 12 tables gives ~3% miss at
    s=0.8, ~2.4e-3 at s=0.9; size (n_planes, n_tables) for the target
    recall/candidate-volume tradeoff (fewer planes = higher recall but
    coarser, fuller buckets)."""
    b = lsh_buckets(vectors, n_planes, n_tables)
    cand = _bucket_pairs(b, "vec_id", ["table", "bucket"]).distinct()
    va = vectors.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    vb = vectors.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(_pair_cosine(F.col("va"), F.col("vb")), 6).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )


def cross_corpus_cosine_pairs(
    train: DataFrame, eval_df: DataFrame, threshold: float = 0.8, blocks: int = 8
) -> DataFrame:
    """Embedding-space benchmark decontamination: exact train x eval cosine
    pairs >= threshold — the semantic sibling of the n-gram
    ``cross_contamination_pairs`` (paraphrased eval leaks that share no
    shingles). Returns (id_a, id_b, sim) with id_a the TRAIN side.

    Shape: the train side is hashed into ``blocks`` blocks; the (small)
    eval side is replicated to every block — O(|eval| * B) replicated rows,
    the blocked analogue of a broadcast — and each group computes one
    train-tile x eval GEMM in BLAS, emitting only qualifying pairs. Never
    an all-pairs join; shuffle volume is O(|train| + |eval| * B). Exact
    (same rounding rule as ``near_dup_pairs_blocked``, shared brute-force
    oracle). Zero-norm vectors (cosine undefined) are excluded from the
    GEMM rather than emitted as NaN; route them through
    ``embedding_health`` first if they need accounting.

    ``blocks`` also BOUNDS task parallelism (one applyInArrow group per
    block): size it to a small multiple of cluster parallelism — measured
    N->4N scaling is 0.36 with blocks < cores and 0.8+ with blocks >= 4x
    cores (BENCH.md, ann family). The eval replication cost grows linearly
    with blocks, so don't overshoot by orders of magnitude."""
    # the id columns keep the INPUT id type (string corpus ids are as
    # legitimate as bigint ones); both sides must agree
    id_type = train.schema["vec_id"].dataType
    if eval_df.schema["vec_id"].dataType != id_type:
        raise TypeError(
            f"vec_id type mismatch: train={id_type.simpleString()} "
            f"eval={eval_df.schema['vec_id'].dataType.simpleString()}"
        )

    t = train.select(
        F.col("vec_id").alias("vid"),
        F.col("embedding").alias("v"),
        F.pmod(F.xxhash64(F.col("vec_id")), F.lit(blocks)).cast("int").alias("blk"),
        F.lit(0).alias("side"),
    )
    e = eval_df.select(
        F.col("vec_id").alias("vid"),
        F.col("embedding").alias("v"),
        F.explode(F.sequence(F.lit(0), F.lit(blocks - 1))).alias("blk"),
        F.lit(1).alias("side"),
    )
    out_schema = StructType(
        [
            StructField("id_a", id_type),
            StructField("id_b", id_type),
            StructField("sim", DoubleType()),
        ]
    )

    def tile_kernel(table: pa.Table) -> pa.Table:
        side = table["side"].to_numpy()
        ia, ib = np.flatnonzero(side == 0), np.flatnonzero(side == 1)
        m = _matrix(table["v"])
        i, j, sim = _cosine_hits(m[ia], m[ib], threshold, 6)
        # take() keeps the input id type (bigint or string)
        return pa.table(
            {
                "id_a": table["vid"].take(ia[i]),
                "id_b": table["vid"].take(ib[j]),
                "sim": sim,
            }
        )

    return t.unionByName(e).groupBy("blk").applyInArrow(tile_kernel, out_schema)


def embedding_health(df: DataFrame, vec_col: str, dim: int) -> DataFrame:
    """Embedding-table hygiene report — the vector-quality gate a training
    pipeline runs before any similarity/dedup stage: NULL vectors, wrong
    dimensionality, NaN components, all-zero vectors (cosine-undefined),
    and the L2-norm profile. One map-side-combined aggregate; all per-row
    math is row-local column expressions (the norm is a sequential fold in
    array order, so Spark and DuckDB produce bit-identical doubles before
    the rounded cross-row means).

    Returns one row: (n_vecs, n_null, n_wrong_dim, n_nan, n_null_comp,
    n_zero, mean_norm, min_norm, max_norm), the norms rounded to 4
    decimals."""
    v = F.col(vec_col)
    sq = F.aggregate(
        v, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
    )
    norm = F.sqrt(sq)
    has_nan = F.exists(v, lambda x: F.isnan(x.cast("double")))
    # NULL components are their own defect class: Spark's fold would yield
    # a NULL norm (DuckDB's list_sum would SKIP the element) — count them
    # explicitly and exclude such vectors from the norm profile so the two
    # engines stay identical and no defective vector escapes every bucket
    has_null_comp = F.exists(v, lambda x: x.isNull())
    ok = v.isNotNull() & (F.size(v) == dim) & ~has_nan & ~has_null_comp
    return df.select(
        v.alias("_v"),
        F.when(v.isNull(), 1).otherwise(0).alias("_null"),
        F.when(v.isNotNull() & (F.size(v) != dim), 1).otherwise(0).alias("_wd"),
        F.when(v.isNotNull() & has_nan, 1).otherwise(0).alias("_nan"),
        F.when(v.isNotNull() & has_null_comp, 1).otherwise(0).alias("_nc"),
        F.when(ok & (norm == 0), 1).otherwise(0).alias("_zero"),
        F.when(ok & (norm > 0), norm).alias("_norm"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.sum("_null").cast("bigint").alias("n_null"),
        F.sum("_wd").cast("bigint").alias("n_wrong_dim"),
        F.sum("_nan").cast("bigint").alias("n_nan"),
        F.sum("_nc").cast("bigint").alias("n_null_comp"),
        F.sum("_zero").cast("bigint").alias("n_zero"),
        F.round(F.avg("_norm"), 4).alias("mean_norm"),
        F.round(F.min("_norm"), 4).alias("min_norm"),
        F.round(F.max("_norm"), 4).alias("max_norm"),
    )


def recall_report(
    approx: DataFrame, exact: DataFrame, keys: "list[str]", method: str, target: float
) -> DataFrame:
    """Measured recall of an approximate result against the exact result on
    the same input — the attestation a 100 TB user needs before trusting an
    ANN configuration. Returns ONE row:
    (method, n_expected, n_hit, recall, target, ok).

    Shape: both inputs are already KB-scale result sets (top-k lists /
    qualifying pairs), so the left join on the key tuple and the single
    aggregate are negligible next to the searches themselves. ``recall`` is
    rounded BEFORE the >= comparison so pass/fail reproduces across engines
    at the published precision."""
    a = approx.select(*keys).distinct().withColumn("_hit", F.lit(1))
    flagged = exact.select(*keys).join(a, list(keys), "left")
    counted = flagged.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_expected"),
        F.coalesce(F.sum("_hit"), F.lit(0)).cast("bigint").alias("n_hit"),
    )
    recall = F.round(F.col("n_hit") / F.col("n_expected"), 4)
    return counted.select(
        F.lit(method).alias("method"),
        "n_expected",
        "n_hit",
        recall.alias("recall"),
        F.lit(float(target)).alias("target"),
        (recall >= F.lit(float(target))).alias("ok"),
    )
