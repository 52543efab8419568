"""Product quantization (PQ) — compressed scan + asymmetric distance.

Reference (/root/reference/src/cpp/core/config.h:84-94, types.h:136-137;
ivf-pq.cpp 0-byte): stable segments store m=96 × 8-bit codes per vector;
a query builds a lookup table (LUT) of per-subspace partial distances
and scans codes; a final exact rerank on `rerank_factor × top_k`
candidates restores recall (config.h:92-93, two-phase config.h:132).

The engine's stable index is residual IVF-PQ (operators/ivfpq.py:
training, encode and ADC scan). This module holds what that path shares
with the PQ registry queries:

- the per-query LUT broadcast registry every ADC call ships through;
- OPQ: the learned orthogonal rotation (`train_opq`) and the Arrow pass
  that applies it (`rotate_vectors`);
- `_codebooks_np`, the driver-side (m, 2^nbits, d_sub) codebook array;
- deterministic SQL twins — stride codebooks, a Householder rotation,
  the long-form encode and the two-phase fold — that make the PQ/OPQ
  pipeline SQL-expressible for the DuckDB oracle (queries_ext.py).

The learned path is recall-gated at the collection level
(tests/test_two_phase_collection.py) and per operator in
tests/test_ivfpq.py.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from write_optimized_vector_database_spark.functions.hashing import (
    bounded_training_sample,
    deterministic_sample,
)
from write_optimized_vector_database_spark.operators.topk import topk_per_group

# Per-query broadcast registry (ADVICE r07): every ADC call ships its
# LUT to executors as a broadcast (~19 MiB at the API's max batch of 100
# queries at the reference shape m=96). After the job the Python handle
# goes unreferenced and the JVM ContextCleaner reclaims the blocks on
# the next driver GC — fine for batch, but on a long-lived serving
# driver under sustained load they accumulate BETWEEN GCs. A serving
# wrapper can call release_query_broadcasts() after each request's
# results are materialized to return the blocks eagerly.
#
# The registry itself is BOUNDED (ADVICE r08): callers that never call
# release_query_broadcasts() (bench registry loop, library users) must
# not accumulate strong references for process lifetime, so registering
# past _MAX_QUERY_BROADCASTS drains the oldest entries. Draining uses
# unpersist(), NOT destroy(): an unpersisted broadcast is merely evicted
# from executors and is transparently re-shipped if a still-lazy plan
# that captured it finally evaluates (verified behavior on pyspark 4.1),
# so early drain can cost a re-broadcast but never correctness.
_QUERY_BROADCASTS: list = []
_MAX_QUERY_BROADCASTS = 8


def _register_query_broadcast(bc):
    _QUERY_BROADCASTS.append(bc)
    while len(_QUERY_BROADCASTS) > _MAX_QUERY_BROADCASTS:
        old = _QUERY_BROADCASTS.pop(0)
        try:
            old.unpersist(blocking=False)
        except Exception:  # noqa: BLE001 — already GC'd / context gone
            pass
    return bc


def release_query_broadcasts(blocking: bool = False) -> int:
    """Eagerly unpersist every LUT broadcast created by ADC query calls
    since the last release. Call ONLY after the query results are
    materialized (collect/count/write): a still-lazy plan that holds a
    released broadcast will fail when finally evaluated. Returns the
    number of broadcasts released."""
    n = 0
    for bc in _QUERY_BROADCASTS:
        try:
            bc.unpersist(blocking=blocking)
            n += 1
        except Exception:  # noqa: BLE001 — already GC'd / context gone
            pass
    _QUERY_BROADCASTS.clear()
    return n


def subspace_dims(dim: int, m: int) -> int:
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    return dim // m


# k-means kernels live in functions/kmeans_pool.py (round 14: the
# per-subspace runs fan out over a spawn process pool — see that module
# for the bit-identity argument). Re-exported here because ivf.py,
# ivfpq.py and the property tests import them from this module.
from write_optimized_vector_database_spark.functions.kmeans_pool import (  # noqa: E402,F401
    _kmeans_np,
    _kmeans_pp_init,
    _pq_refine_subspace,
    kmeans_subspaces,
)


def _cb_tuple_from_centers(centers_all: list) -> tuple[np.ndarray, int, int]:
    """(cb, m, k) exactly as `_codebooks_np` would return for the
    codebooks DataFrame built from `centers_all` — same float64 values
    (the frame rows are float(x) of these same doubles), same zero-fill
    for any empty tail — so callers holding the driver-side centers can
    skip re-collecting the frame they just created (guide §5: the
    driver does no data work twice)."""
    m = len(centers_all)
    k = max(len(c) for c in centers_all)
    d_sub = centers_all[0].shape[1]
    cb = np.zeros((m, k, d_sub))
    for s, c in enumerate(centers_all):
        cb[s, : len(c)] = c
    return cb, m, k


def codebooks_from_stride(
    vectors: DataFrame,
    dim: int,
    m: int,
    stride: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Deterministic codebooks: every `stride`-th vector's subvectors.
    SQL-expressible twin for the oracle-checked PQ queries."""
    d_sub = subspace_dims(dim, m)
    subspaces = F.array(
        *[
            F.struct(
                F.lit(s).alias("subspace"),
                F.slice(F.col(vec_col), s * d_sub + 1, d_sub)
                .cast("array<double>")
                .alias("cvec"),
            )
            for s in range(m)
        ]
    )
    return (
        vectors.filter(F.col(id_col) % stride == 0)
        .select((F.col(id_col) / stride).cast("int").alias("code"), F.explode(subspaces).alias("e"))
        .select("e.subspace", "code", "e.cvec")
    )


def explode_subspaces(
    vectors: DataFrame,
    dim: int,
    m: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    out_id: str | None = None,
) -> DataFrame:
    """(id, subspace, sv) long form — each vector split into m subvectors."""
    d_sub = subspace_dims(dim, m)
    arr = F.array(
        *[
            F.struct(
                F.lit(s).alias("subspace"),
                F.slice(F.col(vec_col), s * d_sub + 1, d_sub)
                .cast("array<double>")
                .alias("sv"),
            )
            for s in range(m)
        ]
    )
    return vectors.select(
        F.col(id_col).alias(out_id or id_col), F.explode(arr).alias("e")
    ).select(out_id or id_col, "e.subspace", "e.sv")


def pq_encode_exact(
    vectors: DataFrame,
    codebooks: DataFrame,
    dim: int,
    m: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Long-form encode (id, subspace, code) via the JVM distance fold —
    bit-identical to the DuckDB oracle's list_distance ordering (ties on
    ascending code). The NumPy `ivfpq_encode` is the production path."""
    from pyspark.sql import Window

    from write_optimized_vector_database_spark.functions.distance import l2_distance

    sub = explode_subspaces(vectors, dim, m, vec_col, id_col)
    joined = sub.join(F.broadcast(codebooks), "subspace").select(
        id_col,
        "subspace",
        "code",
        l2_distance("sv", "cvec").alias("__d"),
    )
    w = Window.partitionBy(id_col, "subspace").orderBy(
        F.col("__d").asc(), F.col("code").asc()
    )
    return (
        joined.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(id_col, "subspace", "code")
    )


def householder_rotate(
    df: DataFrame, v: list[float], vec_col: str = "embedding"
) -> DataFrame:
    """Apply the orthogonal Householder reflection R = I − 2vvᵀ to
    `vec_col`, entirely JVM-side: x′ = x − 2·(v·x)·v.

    A fixed unit vector `v` makes the rotation deterministic and
    SQL-expressible — the oracle twin of the learned OPQ rotation
    (train_opq). Same fold/zip_with discipline as functions/distance so
    components are bit-identical to the DuckDB formulation."""
    from write_optimized_vector_database_spark.functions.distance import dot_product

    varr = F.array(*[F.lit(float(x)) for x in v])
    xd = F.col(vec_col).cast("array<double>")
    df = df.withColumn("__hdot", dot_product(xd, varr))
    rx = F.zip_with(xd, varr, lambda x, vj: x - F.lit(2.0) * F.col("__hdot") * vj)
    return df.withColumn(vec_col, rx).drop("__hdot")


def pq_two_phase_exact_fold(
    vectors: DataFrame,
    queries: DataFrame,
    codebooks: DataFrame,
    dim: int,
    m: int,
    k: int = 10,
    rerank_factor: int = 4,
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
    rerank_vectors: DataFrame | None = None,
    rerank_queries: DataFrame | None = None,
) -> DataFrame:
    """Oracle-checkable two-phase PQ (inner-product ADC): every float op is
    a JVM fold or an explicitly-ordered sum, matching the DuckDB twin in
    queries_ext bit for bit. Candidate ADC scores sum the m subspace
    terms in subspace order via a pivot (deterministic — a groupBy sum
    over doubles would be partition-order dependent).

    `rerank_vectors`/`rerank_queries` override the frames used for the
    exact phase-2 re-score (default: the ADC inputs). The OPQ variant
    passes ROTATED vectors/queries for encode+ADC but reranks on the
    ORIGINALS — rotation preserves inner products, and the final scores
    must match the un-rotated exact scan."""
    from functools import reduce

    from pyspark.sql import Window

    from write_optimized_vector_database_spark.functions.distance import dot_product

    enc = pq_encode_exact(vectors, codebooks, dim, m, vec_col, vec_id_col)
    qsub = explode_subspaces(queries, dim, m, "query_vec", "query_id")
    lut = qsub.join(F.broadcast(codebooks), "subspace").select(
        "query_id", "subspace", "code", dot_product("sv", "cvec").alias("term")
    )
    terms = enc.join(F.broadcast(lut), ["subspace", "code"]).select(
        "query_id", F.col(vec_id_col).alias("vec_id"), "subspace", "term"
    )
    wide = (
        terms.groupBy("query_id", "vec_id")
        .pivot("subspace", list(range(m)))
        .agg(F.first("term"))
    )
    adc_score = reduce(lambda a, b: a + b, [F.col(str(s)) for s in range(m)])
    w = Window.partitionBy("query_id").orderBy(F.col("__adc").desc(), F.col("vec_id").asc())
    cand = (
        wide.withColumn("__adc", adc_score)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k * rerank_factor)
        .select("query_id", "vec_id")
    )
    rv = rerank_vectors if rerank_vectors is not None else vectors
    rq = rerank_queries if rerank_queries is not None else queries
    full = rv.select(F.col(vec_id_col).alias("vec_id"), F.col(vec_col).alias("__vec"))
    rescored = (
        full.join(F.broadcast(cand), "vec_id")
        .join(F.broadcast(rq), "query_id")
        .select("query_id", "vec_id", dot_product("query_vec", "__vec").alias("score"))
    )
    return topk_per_group(
        rescored, group_cols=["query_id"], score_col="score", id_col="vec_id", k=k,
        prune_partitions=False,
    ).select("query_id", "vec_id", "score", "rank")


# ---------------------------------------------------------------------------
# OPQ — optimized product quantization (Ge et al., CVPR 2013)
# ---------------------------------------------------------------------------


def _pq_fit_np(
    x: np.ndarray, m: int, k: int, centers: list[np.ndarray] | None, rng
) -> tuple[np.ndarray, list[np.ndarray], np.ndarray]:
    """Per-subspace Lloyd step (warm-startable). Returns (codes (n,m),
    centers per subspace, reconstruction (n,dim)).

    Cold-start inits consume the SHARED `rng` in subspace order, so they
    stay a sequential loop (draw order is part of the numerics); the
    rng-free warm refine — the per-iteration bulk across OPQ's 8
    alternations — fans the m subspaces over the training pool
    (functions/kmeans_pool.py), bit-identical to the sequential loop."""
    from write_optimized_vector_database_spark.functions.kmeans_pool import (
        _map_pool,
        _refine_task,
    )

    n, dim = x.shape
    d_sub = dim // m
    codes = np.empty((n, m), dtype=np.int32)
    recon = np.empty_like(x)
    subs = [x[:, s * d_sub : (s + 1) * d_sub] for s in range(m)]
    if centers is None:
        # sequential: each _kmeans_np consumes the shared rng
        centers = [_kmeans_np(sub, k, rng) for sub in subs]
    results = _map_pool(
        _refine_task,
        [(subs[s], centers[s]) for s in range(m)],
        cells=n * min(k, n) * d_sub * m,
    )
    new_centers: list[np.ndarray] = []
    for s, (assign, c) in enumerate(results):
        codes[:, s] = assign
        recon[:, s * d_sub : (s + 1) * d_sub] = c[assign]
        new_centers.append(c)
    return codes, new_centers, recon


def train_opq(
    vectors: DataFrame,
    dim: int,
    m: int,
    nbits: int = 8,
    iters: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample_fraction: float | None = None,
    seed: int = 42,
    max_train_rows: int | None = None,
) -> tuple[np.ndarray, DataFrame]:
    """Learn an orthogonal rotation R + codebooks minimizing quantization
    error (reference config.h:90 `use_opq = true`; OPQ-NP of Ge et al.,
    CVPR 2013 — a public paper).

    Alternates (a) PQ fit on the rotated sample with warm-started
    centroids and (b) the orthogonal-procrustes update
    R = UVᵀ from SVD(XᵀX̂) — each step non-increasing in ‖XR − X̂‖².
    Training is driver-side on a hash-sample (same budget as
    `train_ivfpq_codebooks`); only the tiny R (dim×dim) and the
    codebooks ship to executors.

    Returns (R, codebooks) where codebooks live in the ROTATED space —
    encode/search must rotate inputs with `rotate_vectors` first.
    """
    d_sub = subspace_dims(dim, m)
    k = 2**nbits
    cap = max_train_rows if max_train_rows is not None else 64 * k
    train = vectors
    if sample_fraction is not None and sample_fraction < 1.0:
        train = train.filter(deterministic_sample(id_col, sample_fraction, salt="opq"))
    train = bounded_training_sample(train, id_col, cap, salt="opq-cap")
    from write_optimized_vector_database_spark.functions.nputil import collect_vectors_np

    x = collect_vectors_np(train, vec_col)
    rng = np.random.RandomState(seed)
    r_mat = np.eye(dim)
    centers: list[np.ndarray] | None = None
    for _ in range(iters):
        xr = x @ r_mat
        _, centers, recon = _pq_fit_np(xr, m, k, centers, rng)
        u, _, vt = np.linalg.svd(x.T @ recon)
        r_mat = u @ vt
    xr = x @ r_mat
    _, centers, _ = _pq_fit_np(xr, m, k, centers, rng)
    rows = []
    for s, c in enumerate(centers):
        rows.extend((s, int(j), [float(v) for v in c[j]]) for j in range(len(c)))
    spark = vectors.sparkSession
    cb = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1),
        "subspace int, code int, cvec array<double>",
    )
    return r_mat, cb


def rotate_vectors(
    df: DataFrame, r_mat: np.ndarray, vec_col: str
) -> DataFrame:
    """Replace `vec_col` with its rotation x·R (array<double>), one Arrow
    batch matmul per partition. R ships as a Spark BROADCAST, not in the
    task closure: at dim=64 the closure (32 KiB) was harmless, but the
    reference envelope is dim=768 where R is 768² doubles = 4.6 MiB —
    past Spark's 1 MiB task-size guideline and re-serialized per task
    instead of once per executor (measured: the dim-768 soak tripped the
    TaskSetManager warning until this landed)."""
    from pyspark.sql import types as T

    bc = df.sparkSession.sparkContext.broadcast(
        np.asarray(r_mat, dtype=np.float64)
    )
    from write_optimized_vector_database_spark.functions.nputil import (
        arrow_list_column,
        arrow_matrix,
    )

    def fn(batches):
        import pyarrow as pa

        r64 = bc.value
        for batch in batches:
            if not batch.num_rows:
                continue
            rotated = arrow_matrix(batch, vec_col) @ r64
            idx = batch.schema.get_field_index(vec_col)
            yield batch.set_column(
                idx,
                pa.field(vec_col, pa.list_(pa.float64())),
                arrow_list_column(rotated, pa.float64()),
            )

    out_schema = T.StructType(
        [
            T.StructField(f.name, T.ArrayType(T.DoubleType()), f.nullable)
            if f.name == vec_col
            else f
            for f in df.schema.fields
        ]
    )
    return df.mapInArrow(fn, schema=out_schema)


def _codebooks_np(codebooks: DataFrame) -> tuple[np.ndarray, int, int]:
    rows = sorted(codebooks.collect(), key=lambda r: (r.subspace, r.code))
    m = max(r.subspace for r in rows) + 1
    k = max(r.code for r in rows) + 1
    d_sub = len(rows[0].cvec)
    cb = np.zeros((m, k, d_sub))
    for r in rows:
        cb[r.subspace, r.code] = r.cvec
    return cb, m, k
