"""IVF-PQ composite index — coarse quantization for pruning + residual
product quantization for in-list scoring (the FAISS ``IndexIVFPQ``
design, Jégou et al. 2011, public knowledge).

The reference runs IVF (config.h:138-147) and PQ (config.h:131-136) as
separate stages of its two-phase engine; composing them is the standard
scale move: the coarse index prunes to nprobe posting lists, and within
a list vectors are scored from 8-bit codes of their RESIDUAL
(x − centroid), which quantizes a much tighter distribution than raw
vectors and so loses less precision per bit.

Spark shape, and why it holds at 100 TB:

- the encoded index is (vec_id, centroid_id, codes) — ints only, laid
  out partitioned-by-centroid_id (write_ivf_index), so probing is
  *static partition pruning*: only nprobe posting lists are read;
- the probe set is bounded (≤ batch·nprobe ≤ 1600 at reference caps)
  and applied as a literal isin filter, same contract as ivf_topk;
- ADC is one Arrow pass over the pruned codes; for IP the LUT is
  per-query (residual terms) plus a scalar ⟨q, centroid⟩ offset per
  (query, probed list) — both driver-built from bounded inputs
  (≤100 queries × nprobe lists, m×256 LUT cells);
- rerank fetches full vectors by candidate id only.

Like IVF/PQ/OPQ, the learned path (k-means centroids + k-means
codebooks) is recall-gated in tests, and a stride-built deterministic
twin (`ivfpq_two_phase_exact_fold`) makes every float op — assignment,
residuals, encoding, LUT, ordered ADC sums, rerank — hash-checkable
against a DuckDB oracle.
"""

from __future__ import annotations

from collections.abc import Iterator
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from write_optimized_vector_database_spark.functions.distance import dot_product
from write_optimized_vector_database_spark.operators.ivf import (
    assign_centroids,
    assign_centroids_exact,
    probe_centroids,
)
from write_optimized_vector_database_spark.operators.pq import (
    _codebooks_np,
    codebooks_from_stride,
    explode_subspaces,
    pq_encode_exact,
)
from write_optimized_vector_database_spark.operators.topk import (
    score_column,
    topk_per_group,
)


def residualize(
    assigned: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    out_col: str = "residual",
) -> DataFrame:
    """Add `out_col` = x − centroid[centroid_id] as array<double>.

    JVM-side: broadcast the (tiny) centroid table and `zip_with`-subtract
    inside whole-stage codegen. Elementwise subtraction is a single
    deterministic double op, so the exact twin and the production path
    share this function bit-for-bit.
    """
    cents = centroids.select(
        "centroid_id", F.col("centroid").cast("array<double>").alias("__cent")
    )
    return (
        assigned.join(F.broadcast(cents), "centroid_id")
        .withColumn(
            out_col,
            F.zip_with(
                F.col(vec_col).cast("array<double>"), F.col("__cent"), lambda x, c: x - c
            ),
        )
        .drop("__cent")
    )


def train_ivfpq_codebooks(
    vectors: DataFrame,
    centroids: DataFrame,
    dim: int,
    m: int,
    nbits: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample_fraction: float | None = None,
    _cents_np: tuple | None = None,
    return_np: bool = False,
):
    """Residual codebooks: sample → assign → subtract centroid →
    per-subspace k-means, ALL on the bounded training sample.

    Order matters at scale: sampling FIRST means the assignment and
    residual passes touch only ≤64·2^nbits rows (collected once to the
    driver and processed as three NumPy matmuls), instead of running an
    Arrow assignment pass over the full table twice (count + collect)
    just to throw 99% of it away at the sample filter."""
    from write_optimized_vector_database_spark.functions.hashing import (
        bounded_training_sample,
        deterministic_sample,
    )
    from write_optimized_vector_database_spark.operators.pq import (
        _cb_tuple_from_centers,
        kmeans_subspaces,
        subspace_dims,
    )

    d_sub = subspace_dims(dim, m)
    k = 2**nbits
    train = vectors
    if sample_fraction is not None and sample_fraction < 1.0:
        train = train.filter(deterministic_sample(id_col, sample_fraction, salt="pq"))
    train = bounded_training_sample(train, id_col, 64 * k, salt="pq-cap")
    from write_optimized_vector_database_spark.functions.nputil import collect_vectors_np

    sample = collect_vectors_np(train, vec_col)
    if _cents_np is not None:
        # caller (build_indexes) already holds the centroid matrix it
        # just trained — skip re-collecting the frame it createDataFrame'd
        _, cents = _cents_np
    else:
        crows = sorted(centroids.collect(), key=lambda r: r.centroid_id)
        cents = np.asarray([r.centroid for r in crows], dtype=np.float64)
    c_sq = (cents * cents).sum(-1)
    assign = (c_sq[None, :] - 2.0 * (sample @ cents.T)).argmin(1)
    res = sample - cents[assign]
    seed = 42
    # k-means++ + 25 iters — same quality fix as train_pq_codebooks_kmeans
    # (residual codebooks benefit even more: residual mass concentrates
    # near zero, so uniform seeding wastes codewords on the tails).
    # Per-subspace runs fan out over the training pool (round 14;
    # bit-identical — see functions/kmeans_pool.py).
    centers_all = kmeans_subspaces(res, m, d_sub, k, seed, max_iter=25, init_pp=True)
    rows = []
    for s, centers in enumerate(centers_all):
        rows.extend(
            (s, int(c), [float(x) for x in centers[c]]) for c in range(len(centers))
        )
    # ONE parallelize slice — this m·2^nbits-row local relation is only
    # ever written/broadcast/collected (see train_centroids_kmeans)
    spark = vectors.sparkSession
    df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1),
        "subspace int, code int, cvec array<double>",
    )
    if return_np:
        return df, _cb_tuple_from_centers(centers_all)
    return df


def ivfpq_encode(
    vectors: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    spill: int = 1,
    _cb_np: tuple | None = None,
    _cents_np: tuple | None = None,
) -> DataFrame:
    """(vec_id, centroid_id, codes) — the int-only index rows.

    ONE fused Arrow pass: per batch, centroid assignment (argmin
    matmul), residual subtraction, and per-subspace code argmin run as
    consecutive NumPy ops on the same in-memory block. Splitting these
    into assign → JVM zip_with → encode costs two extra Arrow
    (de)serializations of every vector in the table — the dominant cost
    of the index build once training is sample-bounded.

    `spill` > 1 assigns each vector to its `spill` nearest lists
    (IVF *multiple assignment*, Jégou et al.): the index grows spill×,
    but coverage recall at a fixed nprobe rises sharply when the corpus
    has weak cluster structure — measured 0.81 → 0.93 at nprobe=12/
    nlist=32 on the sf0.1 fixture with spill=2. Each copy stores the
    residual against ITS OWN list's centroid, so ADC stays consistent;
    query-side callers must dedup (query, vec) candidates
    (dedup_candidates=True in ivfpq_adc_topk / ivfpq_two_phase_topk).

    `_cb_np` / `_cents_np` (round 14): optional pre-collected artifact
    forms — the `_codebooks_np` tuple and (cent_ids, centroid matrix)
    sorted by centroid_id. Builds/folds that already hold these
    driver-side (just trained, or from the per-build artifact cache)
    skip two collect jobs per encode call; values identical either way."""
    from pyspark.sql import types as T

    if spill < 1:
        raise ValueError(f"spill must be >= 1, got {spill}")
    cb, m, _k = _cb_np if _cb_np is not None else _codebooks_np(codebooks)
    d_sub = cb.shape[2]
    cb_sq = (cb * cb).sum(-1)  # (m, k)
    if _cents_np is not None:
        cent_ids, cents = _cents_np
        cent_ids = np.asarray(cent_ids, dtype=np.int64)
        cents = np.asarray(cents, dtype=np.float64)
    else:
        crows = sorted(centroids.collect(), key=lambda r: r.centroid_id)
        cent_ids = np.asarray([r.centroid_id for r in crows], dtype=np.int64)
        cents = np.asarray([r.centroid for r in crows], dtype=np.float64)
    c_sq = (cents * cents).sum(-1)
    spill = min(spill, len(cent_ids))
    # ship the LUTs once per executor via broadcast, not pickled into
    # every task closure — at stable-index scale (nlist=4096, m=96) the
    # closure copy is tens of MB re-serialized per task
    bc = vectors.sparkSession.sparkContext.broadcast((cb, cb_sq, cent_ids, cents, c_sq))

    # mapInArrow, not mapInPandas: this is the engine's full-table pass
    # (every vector, every build), and pandas materializes each cell as
    # a boxed ndarray that then needs a per-row copy into the matmul
    # matrix. Arrow's list layout IS the (n·dim) flat buffer — one
    # reshape, zero per-row Python work.
    def fn(batches):
        import pyarrow as pa

        cb, cb_sq, cent_ids, cents, c_sq = bc.value
        for batch in batches:
            n = batch.num_rows
            if not n:
                continue
            varr = batch.column(batch.schema.get_field_index(vec_col))
            v = (
                varr.flatten()
                .to_numpy(zero_copy_only=False)
                .astype(np.float64, copy=False)
                .reshape(n, -1)
            )
            ids_np = batch.column(batch.schema.get_field_index(id_col)).to_numpy(
                zero_copy_only=False
            )
            d = c_sq[None, :] - 2.0 * (v @ cents.T)
            if spill == 1:
                pos_all = d.argmin(1)[:, None]  # (n, 1)
            else:
                part = np.argpartition(d, spill - 1, axis=1)[:, :spill]
                # order the spill slots nearest-first (deterministic rows)
                order = np.take_along_axis(d, part, 1).argsort(1, kind="stable")
                pos_all = np.take_along_axis(part, order, 1)  # (n, spill)
            out_ids, out_cids, out_codes = [], [], []
            for j in range(pos_all.shape[1]):
                pos = pos_all[:, j]
                res = v - cents[pos]
                codes = np.empty((n, m), dtype=np.int32)
                for s in range(m):
                    sub = res[:, s * d_sub : (s + 1) * d_sub]
                    dd = cb_sq[s][None, :] - 2.0 * (sub @ cb[s].T)
                    codes[:, s] = dd.argmin(1)
                out_ids.append(ids_np)
                out_cids.append(cent_ids[pos].astype(np.int32))
                out_codes.append(codes)
            codes_all = np.concatenate(out_codes).reshape(-1)
            n_out = n * pos_all.shape[1]
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.concatenate(out_ids)),
                    pa.array(np.concatenate(out_cids), pa.int32()),
                    pa.ListArray.from_arrays(
                        pa.array(np.arange(n_out + 1, dtype=np.int64) * m, pa.int32()),
                        pa.array(codes_all, pa.int32()),
                    ),
                ],
                names=[id_col, "centroid_id", "codes"],
            )

    schema = T.StructType(
        [
            vectors.schema[id_col],
            T.StructField("centroid_id", T.IntegerType()),
            T.StructField("codes", T.ArrayType(T.IntegerType())),
        ]
    )
    return vectors.select(id_col, vec_col).mapInArrow(fn, schema=schema)


def ivfpq_adc_topk(
    index: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    metric: str = "ip",
    vec_id_col: str = "vec_id",
    dedup_candidates: bool = False,
    _cb_np: tuple | None = None,
    _crows: list | None = None,
) -> DataFrame:
    """Phase-1 candidates from codes only, restricted to probed lists.

    `_cb_np` / `_crows` (round 13): optional pre-collected artifact
    forms — `_codebooks_np(codebooks)` and the centroid rows sorted by
    centroid_id. The artifacts are per-BUILD constants, but this
    operator collected them from the (already executor-cached) frames
    on EVERY search call — ~0.9 s of driver pulls per call at the bench
    serving shape. VectorCollection passes its build_id-keyed cache
    (`_index_artifacts_np`); direct operator callers pay the collect as
    before. Identical values either way.

    `dedup_candidates=True` collapses duplicate (query, vec) scores to
    their max before ranking — required when the index was built with
    `spill` > 1 (a vector probed via two of its lists would otherwise
    occupy two top-k slots). The pre-agg is map-side-combined over the
    pruned candidate stream only, so its cost scales with
    queries × nprobe × list size, never with the table.

    IP decomposition: ⟨q, c + r̂⟩ = ⟨q, c⟩ + Σ_s LUT_q[s, code_s] — the
    LUT is centroid-independent, the offset is a scalar per (q, list).
    L2 decomposition: ‖q − c − r̂‖² = Σ_s ‖(q−c)_s − cb_s‖² — one LUT per
    (q, probed list); at most 100·nprobe LUTs of m×2^nbits cells, built
    driver-side with NumPy.
    """
    cb, m, _ = _cb_np if _cb_np is not None else _codebooks_np(codebooks)
    d_sub = cb.shape[2]
    crows = (
        _crows
        if _crows is not None
        else sorted(centroids.collect(), key=lambda r: r.centroid_id)
    )
    cent_vecs = {r.centroid_id: np.asarray(r.centroid, dtype=np.float64) for r in crows}
    qrows = queries.select("query_id", "query_vec").collect()
    qids = [r.query_id for r in qrows]
    qv = np.asarray([np.asarray(r.query_vec, dtype=np.float64) for r in qrows])

    # probe selection runs driver-side on the ALREADY-collected arrays
    # (≤100 queries × nlist distances) instead of spinning a separate
    # broadcast-join Spark job: one less job per search call. Ordering is
    # nearest-first with id tiebreak (stable argsort over the id-ordered
    # centroid rows), but the L2 fold here (c² − 2q·c, the q²-free form)
    # differs in FP operation order from probe_centroids' full ‖q−c‖² —
    # probe SETS can differ from that path on exact near-tie distances.
    cids_ordered = [r.centroid_id for r in crows]
    cmat = np.asarray([cent_vecs[c] for c in cids_ordered])
    qc = ((cmat * cmat).sum(-1)[None, :] - 2.0 * (qv @ cmat.T))
    probe_idx = np.argsort(qc, axis=1, kind="stable")[:, : min(nprobe, len(cids_ordered))]
    probe_ids = sorted({cids_ordered[j] for row in probe_idx for j in row})
    # cid → row indices of the queries probing it
    by_cid: dict[int, list[int]] = {}
    for qi, row in enumerate(probe_idx):
        for j in row:
            by_cid.setdefault(cids_ordered[j], []).append(qi)

    qsub = qv.reshape(len(qv), m, d_sub)
    if metric == "ip":
        lut = np.einsum("qsd,skd->qsk", qsub, cb)  # residual terms
        offset = {
            cid: qv @ cent_vecs[cid] for cid in probe_ids
        }  # (Q,) per probed list
    elif metric == "l2":
        lut_qc = {}
        for cid in probe_ids:
            qc = (qv - cent_vecs[cid][None, :]).reshape(len(qv), m, d_sub)
            diff = qc[:, :, None, :] - cb[None, :, :, :]
            lut_qc[cid] = -((diff**2).sum(-1))  # (Q, m, k), higher-better
    else:
        raise ValueError(f"IVFPQ ADC unsupported for metric {metric!r}")

    qids_np = np.asarray(qids)
    s_idx = np.arange(m)

    from write_optimized_vector_database_spark.functions.nputil import arrow_matrix

    # LUTs go out as a broadcast, not a task closure: at the API max
    # batch (100 queries) and reference shape (m=96), the IP LUT is
    # ~19 MiB and the per-list L2 LUTs are nprobe× that — a broadcast
    # ships once per executor instead of re-serializing per scan task
    from write_optimized_vector_database_spark.operators.pq import (
        _register_query_broadcast,
    )

    lut_bc = _register_query_broadcast(
        index.sparkSession.sparkContext.broadcast(
            (lut, offset) if metric == "ip" else lut_qc
        )
    )

    # Map-side partial top-k FUSED into the scoring pass (round 13): the
    # old shape yielded EVERY (query, candidate) score — |probed lists| ×
    # |queries probing them| rows — through Arrow→JVM→Arrow into a
    # separate mapInPandas pruner (topk_per_group's map-side partial).
    # Pruning here, on the NumPy arrays the scores were just computed in,
    # moves ≤ queries × k rows per partition across the boundary instead
    # (measured ~576k rows → ~320 at the bench serving shape) and drops a
    # whole Python evaluation from the plan. Selection is identical: the
    # k best per query by (score DESC, vec_id ASC) — with `dedup` the
    # per-(query, vec) max is collapsed FIRST, exactly as the downstream
    # cross-partition groupBy-max expects (a spill copy must never
    # shadow a distinct candidate out of the kept k).
    prune_cap = max(int(k) * 64, 50_000)

    def _prune_np(q, v, s, dedup):
        if dedup:
            order = np.lexsort((v, q))
            qg, vg, sg = q[order], v[order], s[order]
            new = np.empty(len(qg), dtype=bool)
            new[0] = True
            new[1:] = (qg[1:] != qg[:-1]) | (vg[1:] != vg[:-1])
            gid = np.cumsum(new) - 1
            smax = np.full(gid[-1] + 1, -np.inf)
            np.maximum.at(smax, gid, sg)
            q, v, s = qg[new], vg[new], smax
        # (query asc, score desc, vec_id asc); (q, v) pairs are unique
        # here (spill copies collapsed above; spill=1 scores each pair
        # once), so the kept SET matches any stable implementation
        order = np.lexsort((v, -s, q))
        q, v, s = q[order], v[order], s[order]
        new = np.empty(len(q), dtype=bool)
        new[0] = True
        new[1:] = q[1:] != q[:-1]
        idx = np.arange(len(q))
        start = np.maximum.accumulate(np.where(new, idx, 0))
        keep = (idx - start) < k
        return q[keep], v[keep], s[keep]

    def fn(batches):
        import pyarrow as pa

        if metric == "ip":
            lut, offset = lut_bc.value
        else:
            lut_qc = lut_bc.value
        acc_q, acc_v, acc_s, acc_n = [], [], [], 0

        def _squash():
            nonlocal acc_q, acc_v, acc_s, acc_n
            q, v, s = _prune_np(
                np.concatenate(acc_q),
                np.concatenate(acc_v),
                np.concatenate(acc_s),
                dedup_candidates,
            )
            acc_q, acc_v, acc_s, acc_n = [q], [v], [s], len(q)
            return q, v, s

        for batch in batches:
            if not batch.num_rows:
                continue
            codes_all = arrow_matrix(batch, "codes", dtype=np.int64)  # (n, m)
            cids_np = batch.column(
                batch.schema.get_field_index("centroid_id")
            ).to_numpy(zero_copy_only=False)
            ids_np = batch.column(
                batch.schema.get_field_index(vec_id_col)
            ).to_numpy(zero_copy_only=False)
            for cid in np.unique(cids_np):
                qi = by_cid.get(int(cid))
                if not qi:
                    continue
                rows_idx = np.nonzero(cids_np == cid)[0]
                codes = codes_all[rows_idx]
                if metric == "ip":
                    scores = lut[qi][:, s_idx, codes].sum(-1) + np.asarray(
                        offset[cid]
                    )[qi, None]
                else:
                    scores = lut_qc[cid][qi][:, s_idx, codes].sum(-1)
                acc_q.append(np.repeat(qids_np[qi], len(rows_idx)))
                acc_v.append(np.tile(ids_np[rows_idx], len(qi)))
                acc_s.append(scores.reshape(-1))
                acc_n += len(rows_idx) * len(qi)
                if acc_n > prune_cap:
                    _squash()
        if acc_n:
            q, v, s = _squash()
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(q),
                    pa.array(v),
                    pa.array(s, pa.float64()),
                ],
                names=["query_id", "vec_id", "score"],
            )

    from pyspark.sql import types as T

    scored_schema = T.StructType(
        [
            T.StructField("query_id", queries.schema["query_id"].dataType),
            T.StructField("vec_id", index.schema[vec_id_col].dataType),
            T.StructField("score", T.DoubleType()),
        ]
    )
    pruned = index.filter(F.col("centroid_id").isin(probe_ids)).select(
        F.col(vec_id_col), "centroid_id", "codes"
    )
    scored = pruned.mapInArrow(fn, schema=scored_schema)
    if dedup_candidates:
        scored = scored.groupBy("query_id", "vec_id").agg(
            F.max("score").alias("score")
        )
    # prune_partitions=False: the scoring pass above already emitted only
    # the per-partition top-k (fused prune) — a second map-side pruner
    # would be a pure extra Python stage over ≤ queries × k rows
    return topk_per_group(
        scored, group_cols=["query_id"], score_col="score", id_col="vec_id", k=k,
        prune_partitions=False,
    ).select("query_id", "vec_id", "score", "rank")


def ivfpq_two_phase_topk(
    vectors: DataFrame,
    index: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    rerank_factor: int = 4,
    metric: str = "ip",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
    dedup_candidates: bool = False,
) -> DataFrame:
    """ADC candidates from the pruned lists → exact rerank by id."""
    from write_optimized_vector_database_spark.config import candidate_budget

    cand = ivfpq_adc_topk(
        index,
        queries,
        centroids,
        codebooks,
        k=candidate_budget(k, rerank_factor),
        nprobe=nprobe,
        metric=metric,
        vec_id_col=vec_id_col,
        dedup_candidates=dedup_candidates,
    ).select("query_id", "vec_id")
    full = vectors.select(
        F.col(vec_id_col).alias("vec_id"), F.col(vec_col).alias("__vec")
    )
    # candidate set is rerank-budget-bounded: broadcast it so the full
    # vector table is fetched, never shuffled, to meet it (guide §3.1)
    rescored = (
        full.join(F.broadcast(cand), "vec_id")
        .join(F.broadcast(queries), "query_id")
        .select(
            "query_id",
            "vec_id",
            score_column(metric, "query_vec", "__vec").alias("score"),
        )
    )
    return topk_per_group(
        rescored, group_cols=["query_id"], score_col="score", id_col="vec_id", k=k
    ).select("query_id", "vec_id", "score", "rank")


def ivfpq_two_phase_exact_fold(
    vectors: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    codebooks_residual: DataFrame,
    dim: int,
    m: int,
    k: int = 10,
    nprobe: int = 4,
    rerank_factor: int = 4,
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic IVFPQ (IP metric) where every float op is a JVM fold
    or an explicitly-ordered sum — the hash-checkable twin.

    adc(q, x) = ⟨q, c(x)⟩ + Σ_s term(q, s, code_s(x)), summed in
    subspace order via pivot columns (a groupBy SUM over doubles would
    be partition-order dependent)."""
    assigned = assign_centroids_exact(vectors, centroids, vec_col, vec_id_col)
    res = residualize(assigned, centroids, vec_col)

    probes = probe_centroids(queries, centroids, nprobe)
    # candidate (query, vec) pairs: vectors living in probed lists
    cand_pairs = (
        assigned.select(F.col(vec_id_col).alias("vec_id"), "centroid_id")
        .join(F.broadcast(probes), "centroid_id")
    )
    # encode ONLY probed-list members: rows outside the probed lists never
    # join cand_pairs, so restricting the (expensive) exact encode is
    # result-identical — the oracle encodes everything, the hash agrees
    probed_lists = probes.select("centroid_id").distinct()
    enc = pq_encode_exact(
        res.join(F.broadcast(probed_lists), "centroid_id", "semi"),
        codebooks_residual, dim, m, vec_col="residual", id_col=vec_id_col,
    )
    offsets = (
        probes.join(F.broadcast(queries), "query_id")
        .join(F.broadcast(centroids), "centroid_id")
        .select(
            "query_id",
            "centroid_id",
            dot_product("query_vec", F.col("centroid").cast("array<double>")).alias(
                "__offset"
            ),
        )
    )
    qsub = explode_subspaces(queries, dim, m, "query_vec", "query_id")
    lut = qsub.join(F.broadcast(codebooks_residual), "subspace").select(
        "query_id", "subspace", "code", dot_product("sv", "cvec").alias("term")
    )
    terms = (
        cand_pairs.join(enc.withColumnRenamed(vec_id_col, "vec_id"), "vec_id")
        .join(F.broadcast(lut), ["query_id", "subspace", "code"])
        .select("query_id", "vec_id", "centroid_id", "subspace", "term")
    )
    wide = (
        terms.groupBy("query_id", "vec_id", "centroid_id")
        .pivot("subspace", list(range(m)))
        .agg(F.first("term"))
        .join(F.broadcast(offsets), ["query_id", "centroid_id"])
    )
    adc = F.col("__offset") + reduce(
        lambda a, b: a + b, [F.col(str(s)) for s in range(m)]
    )
    w = Window.partitionBy("query_id").orderBy(F.col("__adc").desc(), F.col("vec_id").asc())
    cand = (
        wide.withColumn("__adc", adc)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k * rerank_factor)
        .select("query_id", "vec_id")
    )
    full = vectors.select(F.col(vec_id_col).alias("vec_id"), F.col(vec_col).alias("__vec"))
    rescored = (
        full.join(F.broadcast(cand), "vec_id")
        .join(F.broadcast(queries), "query_id")
        .select("query_id", "vec_id", dot_product("query_vec", "__vec").alias("score"))
    )
    return topk_per_group(
        rescored, group_cols=["query_id"], score_col="score", id_col="vec_id", k=k,
        prune_partitions=False,
    ).select("query_id", "vec_id", "score", "rank")
