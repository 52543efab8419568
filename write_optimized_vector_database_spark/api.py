"""QueryRequest/QueryResult API parity layer.

The reference's entire read API is
`QueryRequest → [QueryResult]` (/root/reference/include/woved/types.h:67-82):

    QueryRequest{query: float[dim], top_k ≤ 100, tenant, namespace_id,
                 tags_any: [tag], nprobe?, sample_p?}
    QueryResult{id, score, tags, segment_id}

This module exposes that exact shape over a VectorCollection, including
the reference's validation caps (batch ≤ 100 queries, top_k ≤ 100 —
config.h:130, 180). Batch requests become one queries-DataFrame plan
(Q14: the whole batch runs as a single Spark job)."""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from write_optimized_vector_database_spark.collection import VectorCollection
from write_optimized_vector_database_spark.config import DEFAULT_CONFIG, EngineConfig


@dataclass
class QueryRequest:
    """types.h:67-75, field for field (query_id added for batch shape)."""

    query: list[float]
    top_k: int = 10
    tenant: str = ""
    namespace: str = ""
    tags_any: list[int | str] = field(default_factory=list)  # strings via tag dict
    nprobe: int | None = None
    sample_p: float | None = None
    query_id: int | None = None


def validate_batch(requests: list[QueryRequest], config: EngineConfig = DEFAULT_CONFIG):
    """Reference request validation (config.h:179-181, 130)."""
    if not requests:
        raise ValueError("empty query batch")
    if len(requests) > config.limits.max_batch_queries:
        raise ValueError(
            f"batch of {len(requests)} exceeds max_batch_queries="
            f"{config.limits.max_batch_queries}"
        )
    dims = {len(r.query) for r in requests}
    if len(dims) != 1:
        raise ValueError(f"mixed query dims {sorted(dims)}")
    for r in requests:
        if r.top_k > config.limits.max_top_k:
            raise ValueError(f"top_k {r.top_k} exceeds {config.limits.max_top_k}")
        if r.top_k < 1:
            raise ValueError("top_k must be ≥ 1")


def run_batch(
    collection: VectorCollection,
    requests: list[QueryRequest],
    config: EngineConfig = DEFAULT_CONFIG,
    use_index: bool = False,
) -> DataFrame:
    """Execute a QueryRequest batch → (query_id, id, score, rank, tags).

    Filters are intersected per the reference semantics (wildcard on
    empty); the whole batch is one Spark plan. Heterogeneous per-request
    filters fall back to per-group runs unioned together; the common
    case (shared filters, Q14 batch) stays single-plan."""
    validate_batch(requests, config)
    spark = collection.spark

    # group requests by their filter signature so each group is one plan
    def key(r: QueryRequest):
        return (r.tenant, r.namespace, tuple(r.tags_any), r.sample_p, r.top_k, r.nprobe)

    groups: dict[tuple, list[QueryRequest]] = {}
    for i, r in enumerate(requests):
        if r.query_id is None:
            r.query_id = i
        groups.setdefault(key(r), []).append(r)

    out: DataFrame | None = None
    for (tenant, namespace, tags_any, sample_p, top_k, nprobe), reqs in groups.items():
        qdf = spark.createDataFrame(
            [(r.query_id, [float(x) for x in r.query]) for r in reqs],
            "query_id long, query_vec array<float>",
        )
        if use_index:
            filtered = bool(tenant or namespace or tags_any) or sample_p is not None
            # index dispatch: the flagship two-phase (stable PQ) path when
            # build_indexes() has run — the reference's read path, Q5 —
            # else the plain-IVF index from build_ivf_index(). Both take
            # the full QueryRequest filter surface as of r07, so a
            # filtered request never falls back to an unindexed scan.
            meta = collection._meta()
            has_stable = "index_stable_path" in meta and collection.fs.exists(
                collection._stable_index_path(meta)
            )
            if has_stable:
                part = collection.topk_two_phase(
                    qdf,
                    k=top_k,
                    # request override > persisted calibration > default
                    nprobe=nprobe,
                    tenant=tenant or None,
                    namespace=namespace or None,
                    tags_any=list(tags_any) or None,
                    sample_p=sample_p,
                )
            elif filtered:
                # planner-chosen pre/post filtering (selectivity-measured)
                part = collection.topk_filtered(
                    qdf,
                    k=top_k,
                    nprobe=nprobe,
                    tenant=tenant or None,
                    namespace=namespace or None,
                    tags_any=list(tags_any) or None,
                    sample_p=sample_p,
                    strategy="auto",
                )
            else:
                part = collection.topk_ivf(
                    qdf,
                    k=top_k,
                    nprobe=nprobe,
                )
        else:
            part = collection.topk(
                qdf,
                k=top_k,
                tenant=tenant or None,
                namespace=namespace or None,
                tags_any=list(tags_any) or None,
                sample_p=sample_p,
            )
        out = part if out is None else out.unionByName(part)

    # QueryResult carries tags (types.h:81) — join them back from the view
    tags_map = collection.current().select(
        F.col("id").alias("vec_id"), "tags"
    )
    return out.join(tags_map, "vec_id", "left").select(
        "query_id", F.col("vec_id").alias("id"), "score", "rank", "tags"
    )


def run_upsert(
    collection: VectorCollection,
    changelog: DataFrame,
    config: EngineConfig = DEFAULT_CONFIG,
) -> int:
    """Write-side API twin of run_batch: validate and ingest one upsert/
    delete batch through the collection's changelog path, enforcing the
    reference's max_upsert_batch cap (config.h:179). Returns the number
    of operations ingested.

    The cap is a REQUEST limit, not a throughput limit — bulk loads
    issue multiple capped requests (or go straight to streaming ingest,
    which has no request framing)."""
    n = changelog.count()
    if n == 0:
        raise ValueError("empty upsert batch")
    if n > config.limits.max_upsert_batch:
        raise ValueError(
            f"batch of {n} exceeds max_upsert_batch="
            f"{config.limits.max_upsert_batch}"
        )
    # NULL op must count as bad: ~isin(...) evaluates to NULL for a NULL
    # op and the filter would silently drop (i.e. accept) the row.
    bad_ops = (
        changelog.filter(
            F.col("op").isNull() | ~F.col("op").isin("UPSERT", "DELETE", "FENCE")
        )
        .limit(1)
        .count()
    )
    if bad_ops:
        raise ValueError("unknown op in batch (expected UPSERT/DELETE/FENCE)")
    collection.ingest(changelog)
    return int(n)
