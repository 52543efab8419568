"""OPQ gates (reference config.h:90 `use_opq = true`).

OPQ-NP (Ge et al., CVPR 2013): an orthogonal rotation learned by
alternating PQ fit / procrustes must (a) stay orthogonal, (b) preserve
inner products, and (c) not increase quantization error vs plain PQ at
equal (m, nbits). Two-phase recall with the rotation is gated at the
collection level (test_two_phase_collection.py,
test_opq_spilled_collection_round_trip)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from write_optimized_vector_database_spark.operators.pq import (
    _pq_fit_np,
    rotate_vectors,
    train_opq,
)
from write_optimized_vector_database_spark.sources.tables import load_table

DIM, M, NBITS = 64, 16, 5


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").cache()


@pytest.fixture(scope="module")
def trained(emb):
    return train_opq(emb, dim=DIM, m=M, nbits=NBITS, iters=6, seed=42)


def test_rotation_is_orthogonal(trained):
    r_mat, _ = trained
    assert np.allclose(r_mat @ r_mat.T, np.eye(DIM), atol=1e-8)
    assert abs(abs(np.linalg.det(r_mat)) - 1.0) < 1e-8


def test_rotate_vectors_preserves_ip(emb, trained):
    """Rotation must preserve inner products (what makes ADC-in-rotated-
    space sound)."""
    r_mat, _ = trained
    a = emb.filter(F.col("vec_id") < 10)
    orig = {r.vec_id: np.asarray(r.embedding, dtype=np.float64) for r in a.collect()}
    rot = {r.vec_id: np.asarray(r.embedding) for r in rotate_vectors(a, r_mat, "embedding").collect()}
    ids = sorted(orig)
    for i in ids:
        for j in ids:
            assert abs(orig[i] @ orig[j] - rot[i] @ rot[j]) < 1e-6


def test_opq_error_not_worse_than_pq(emb, trained):
    """The rotation is only worth shipping if it reduces (or matches)
    reconstruction error vs identity-rotation PQ on the same data."""
    r_mat, _ = trained
    x = np.asarray([r.embedding for r in emb.select("embedding").collect()], dtype=np.float64)
    rng = np.random.RandomState(42)
    _, _, recon_pq = _pq_fit_np(x, M, 2**NBITS, None, rng)
    err_pq = ((x - recon_pq) ** 2).sum(-1).mean()
    rng = np.random.RandomState(42)
    xr = x @ r_mat
    _, _, recon_opq = _pq_fit_np(xr, M, 2**NBITS, None, rng)
    err_opq = ((xr - recon_opq) ** 2).sum(-1).mean()
    assert err_opq <= err_pq * 1.02  # allow 2% kmeans-init noise
