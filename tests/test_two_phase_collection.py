"""Delta/stable two-generation read path on VectorCollection (the full
reference query lifecycle, SURVEY §3.2): stable = IVF+PQ index, delta =
post-index tail, merged + exactly reranked with stale-id suppression."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from write_optimized_vector_database_spark.collection import VectorCollection
from write_optimized_vector_database_spark.operators.changelog import synthetic_changelog
from write_optimized_vector_database_spark.operators.ivf import recall_at_k


@pytest.fixture(scope="module")
def coll(spark, tmp_path_factory, sf_dir):
    c = VectorCollection(
        spark, str(tmp_path_factory.mktemp("twophase") / "c"), metric="ip"
    )
    c.ingest(synthetic_changelog(spark, sf_dir))
    c.compact()
    c.build_indexes(nlist=16, m=8, nbits=8)
    return c


@pytest.fixture(scope="module")
def queries(spark, sf_dir):
    return (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .filter(F.col("vec_id").isin(1, 2, 4, 5))
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    )


def test_two_phase_recall_vs_exact(coll, queries):
    exact = coll.topk(queries, k=10)
    approx = coll.topk_two_phase(queries, k=10, nprobe=12, rerank_factor=4)
    rec = recall_at_k(approx, exact, 10).agg(F.avg("recall")).collect()[0][0]
    assert rec >= 0.9, f"two-phase collection recall {rec}"


def test_delta_rows_are_searchable_before_reindex(spark, coll, queries):
    """Vectors ingested AFTER the index build must be findable (delta
    generation / buffer scan, msg-buf.h:220-260): insert a near-copy of
    query 2's vector with a huge norm — it must take rank 1 without any
    index rebuild."""
    qv = [float(x) * 10.0 for x in queries.filter(F.col("query_id") == 2).first().query_vec]
    b = spark.createDataFrame(
        [("INSERT", 777_777, "t0", "ns0", qv, [1], 900_000_000)],
        "op string, id long, tenant string, namespace string, "
        "vector array<float>, tags array<int>, epoch long",
    )
    coll.ingest(b)
    out = coll.topk_two_phase(queries, k=5, nprobe=8, rerank_factor=4)
    r1 = {r.query_id: r.vec_id for r in out.collect() if r.rank == 1}
    assert r1[2] == 777_777


def test_deleted_ids_never_served_from_stale_index(spark, coll, queries):
    """Delete an id that is still in the stable index — the rerank join
    against current() must suppress it (latest-epoch dedup,
    latest-by-id.h:181-190)."""
    exact_before = coll.topk(queries.filter(F.col("query_id") == 1), k=1)
    victim = exact_before.first().vec_id  # query 1's own vector (id 1)
    b = spark.createDataFrame(
        [("DELETE", int(victim), "t1", "ns0", None, None, 900_000_001)],
        "op string, id long, tenant string, namespace string, "
        "vector array<float>, tags array<int>, epoch long",
    )
    coll.ingest(b)
    out = coll.topk_two_phase(queries, k=10, nprobe=12, rerank_factor=4)
    served = {r.vec_id for r in out.collect()}
    assert victim not in served


def test_delta_survives_compact_and_vacuum(spark, coll, queries):
    """Regression: compact()+vacuum() after an index build must not lose
    the delta generation. compact() used to clobber index_epoch in the
    meta file, and the delta scan read the (now vacuumed) changelog tail
    — post-index rows silently vanished from two-phase reads."""
    qv = [float(x) * 25.0 for x in queries.filter(F.col("query_id") == 4).first().query_vec]
    b = spark.createDataFrame(
        [("INSERT", 888_888, "t0", "ns0", qv, [1], 900_000_100)],
        "op string, id long, tenant string, namespace string, "
        "vector array<float>, tags array<int>, epoch long",
    )
    coll.ingest(b)
    coll.compact()
    assert coll.vacuum() > 0  # the tail files really are gone
    out = coll.topk_two_phase(queries, k=5, nprobe=8, rerank_factor=4)
    r1 = {r.query_id: r.vec_id for r in out.collect() if r.rank == 1}
    assert r1[4] == 888_888


def test_max_candidates_budget_clamps():
    """config.h:129: candidate fetch per branch is clamped so an
    adversarial k/rerank_factor cannot blow up the rerank join."""
    from write_optimized_vector_database_spark.config import candidate_budget

    assert candidate_budget(10, 4) == 40  # normal case untouched
    assert candidate_budget(100, 1000) == 10_000  # global cap
    assert candidate_budget(100, 1000, n_branches=2) == 5_000  # split cap
    assert candidate_budget(1, 1) == 1


def test_two_phase_adversarial_rerank_factor_capped(coll, queries):
    """A huge rerank_factor must still execute (clamped), not explode."""
    out = coll.topk_two_phase(queries, k=5, nprobe=8, rerank_factor=100_000)
    rows = out.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert all(len(v) == 5 for v in by_q.values())


def test_ivf_topk_k_guard(coll, queries):
    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_candidates"):
        coll.topk_ivf(queries, k=10_001)


def test_opq_spilled_collection_round_trip(spark, tmp_path_factory, sf_dir, queries):
    """build_indexes(spill=2, use_opq=True): the manifest records both
    knobs, the read path rotates only the query batch and dedups the
    multi-list candidates, and results (a) contain no duplicate ids per
    query, (b) reach the recall contract, (c) still suppress stale ids."""
    c = VectorCollection(
        spark, str(tmp_path_factory.mktemp("opqspill") / "c"), metric="ip"
    )
    c.ingest(synthetic_changelog(spark, sf_dir))
    c.compact()
    c.build_indexes(nlist=16, m=16, nbits=8, spill=2, use_opq=True)
    meta = c._meta()
    assert meta["index_spill"] == 2 and meta["index_opq"] is True
    out = c.topk_two_phase(queries, k=10, nprobe=12, rerank_factor=4).cache()
    dups = out.groupBy("query_id", "vec_id").count().filter(F.col("count") > 1)
    assert dups.count() == 0
    exact = c.topk(queries, k=10)
    rec = recall_at_k(out, exact, 10).agg(F.avg("recall")).first()[0]
    assert rec >= 0.9, f"opq+spill recall {rec}"
    # delete then search again: the spilled stable index still holds the
    # id (twice), but the rerank joins current() so it must vanish
    victim = out.filter(F.col("rank") == 1).first().vec_id
    b = spark.createDataFrame(
        [("DELETE", int(victim), "t0", "ns0", None, None, 950_000_000)],
        "op string, id long, tenant string, namespace string, "
        "vector array<float>, tags array<int>, epoch long",
    )
    c.ingest(b)
    out2 = c.topk_two_phase(queries, k=10, nprobe=12, rerank_factor=4)
    assert out2.filter(F.col("vec_id") == victim).count() == 0
