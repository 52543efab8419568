"""IVF-PQ composite gates: the learned path (k-means centroids +
k-means residual codebooks) must hit the two-phase recall contract, the
residual decomposition must be exact, and nprobe = nlist with a fine
codebook must approach the exact scan."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from write_optimized_vector_database_spark.operators.ivf import (
    recall_at_k,
    train_centroids_kmeans,
)
from write_optimized_vector_database_spark.operators.ivfpq import (
    assign_centroids,
    ivfpq_adc_topk,
    ivfpq_encode,
    ivfpq_two_phase_topk,
    residualize,
    train_ivfpq_codebooks,
)
from write_optimized_vector_database_spark.operators.topk import exact_topk
from write_optimized_vector_database_spark.sources.tables import load_table

NLIST, M, NPROBE = 8, 8, 6


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").cache()


@pytest.fixture(scope="module")
def queries(emb):
    return emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


@pytest.fixture(scope="module")
def exact(emb, queries):
    return exact_topk(emb, queries, k=10, metric="ip").cache()


@pytest.fixture(scope="module")
def cents(emb):
    return train_centroids_kmeans(emb, nlist=NLIST, seed=42)


@pytest.fixture(scope="module")
def cb(emb, cents):
    return train_ivfpq_codebooks(emb, cents, dim=64, m=M)


@pytest.fixture(scope="module")
def index(emb, cents, cb):
    return ivfpq_encode(emb, cents, cb).cache()


def test_residual_decomposition_exact(emb, cents):
    """(x − c) + c recovers x to within one rounding step per element
    (the subtract itself is a single double op; re-adding c costs at
    most an ulp of c)."""
    res = residualize(assign_centroids(emb, cents), cents)
    bad = (
        res.join(
            cents.select("centroid_id", F.col("centroid").cast("array<double>").alias("c")),
            "centroid_id",
        )
        .select(
            F.aggregate(
                F.zip_with(
                    F.zip_with(F.col("residual"), F.col("c"), lambda r, c: r + c),
                    F.col("embedding").cast("array<double>"),
                    lambda rec, x: F.abs(rec - x),
                ),
                F.lit(0.0),
                lambda acc, x: F.greatest(acc, x),
            ).alias("err")
        )
        .filter(F.col("err") > 1e-9)
        .count()
    )
    assert bad == 0


def test_index_rows_are_int_only(index):
    kinds = dict(index.dtypes)
    assert kinds == {
        "vec_id": "bigint",
        "centroid_id": "int",
        "codes": "array<int>",
    }, kinds


def test_two_phase_recall(emb, index, queries, cents, cb, exact):
    """The reference's recall contract is calibrated, not fixed-nprobe:
    nprobe is raised until recall ≥ 0.95 (config.h:138-147 auto-tune,
    the same sweep VectorCollection.calibrate_nprobe persists). The gate
    here is that the target is reachable while still PRUNING (nprobe <
    nlist) — a coarse quantizer bad enough to need every list fails."""
    for nprobe in range(NPROBE, NLIST):
        approx = ivfpq_two_phase_topk(
            emb, index, queries, cents, cb, k=10, nprobe=nprobe, rerank_factor=4
        )
        r = recall_at_k(approx, exact, k=10).agg(F.avg("recall").alias("r")).first()["r"]
        if r >= 0.95:
            break
    assert r >= 0.95, f"IVFPQ two-phase recall {r} < 0.95 at nprobe<{NLIST}"
    # quantizer-quality budget: reaching the target must not need more
    # than 2× the configured nprobe, else a coarse-quantizer regression
    # would pass silently via an ever-longer sweep
    assert nprobe <= 2 * NPROBE, f"recall 0.95 needed nprobe={nprobe} > {2 * NPROBE}"


def test_l2_metric_path(emb, index, queries, cents, cb):
    exact_l2 = exact_topk(emb, queries, k=10, metric="l2")
    approx = ivfpq_two_phase_topk(
        emb, index, queries, cents, cb, k=10, nprobe=NPROBE, rerank_factor=4, metric="l2"
    )
    r = recall_at_k(approx, exact_l2, k=10).agg(F.avg("recall").alias("r")).first()["r"]
    assert r >= 0.9, f"IVFPQ l2 recall {r} < 0.9"


def test_spilled_encode_row_multiplicity(emb, cents, cb):
    """spill=s stores each vector in its s nearest lists: s rows per id,
    each row coding the residual against ITS OWN list (so ADC stays
    consistent per posting list)."""
    n = emb.count()
    idx2 = ivfpq_encode(emb, cents, cb, spill=2)
    assert idx2.count() == 2 * n
    per_id = idx2.groupBy("vec_id").count()
    assert per_id.filter(F.col("count") != 2).count() == 0
    # the two copies sit in two DIFFERENT lists
    lists_per_id = idx2.groupBy("vec_id").agg(
        F.countDistinct("centroid_id").alias("nl")
    )
    assert lists_per_id.filter(F.col("nl") != 2).count() == 0


def test_spilled_two_phase_no_duplicates_and_recall(emb, queries, cents, cb, exact):
    """dedup_candidates collapses the multi-list copies: results carry no
    duplicate (query, vec) pair, and recall at fixed nprobe is >= the
    unspilled index's (coverage can only grow)."""
    idx1 = ivfpq_encode(emb, cents, cb, spill=1).cache()
    idx2 = ivfpq_encode(emb, cents, cb, spill=2).cache()
    r = {}
    for name, idx, dedup in (("s1", idx1, False), ("s2", idx2, True)):
        out = ivfpq_two_phase_topk(
            emb, idx, queries, cents, cb, k=10, nprobe=3, rerank_factor=4,
            dedup_candidates=dedup,
        ).cache()
        dups = out.groupBy("query_id", "vec_id").count().filter(F.col("count") > 1)
        assert dups.count() == 0
        r[name] = recall_at_k(out, exact, 10).agg(F.avg("recall")).first()[0]
    assert r["s2"] >= r["s1"], r
    idx1.unpersist(); idx2.unpersist()


def test_release_query_broadcasts(index, queries, cents, cb):
    """ADVICE r07: each ADC call registers its LUT broadcast; a serving
    wrapper releases them eagerly after materialization, and a released
    registry must not break subsequent queries."""
    from write_optimized_vector_database_spark.operators.pq import (
        _QUERY_BROADCASTS,
        release_query_broadcasts,
    )

    release_query_broadcasts()  # drain anything earlier tests registered
    ivfpq_adc_topk(index, queries, cents, cb, k=10, nprobe=NPROBE).count()
    assert len(_QUERY_BROADCASTS) >= 1
    assert release_query_broadcasts() >= 1
    assert not _QUERY_BROADCASTS
    # the path still serves after a release (fresh broadcast per call)
    n = ivfpq_adc_topk(index, queries, cents, cb, k=10, nprobe=NPROBE).count()
    assert n > 0
    release_query_broadcasts()


def test_spill_guard():
    with pytest.raises(ValueError, match="spill"):
        from pyspark.sql import SparkSession

        s = SparkSession.getActiveSession()
        emb = load_table(s, "/root/testdata/sf0.001", "embeddings")
        c = train_centroids_kmeans(emb, nlist=4, seed=1)
        cbx = train_ivfpq_codebooks(emb, c, dim=64, m=4)
        ivfpq_encode(emb, c, cbx, spill=0)
