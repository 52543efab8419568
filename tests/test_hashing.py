"""Hashing / id primitives: portable_hash cross-engine parity, uuid7
shape and time-ordering, deterministic sampling bounds."""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from write_optimized_vector_database_spark.functions.hashing import (
    bounded_training_sample,
    deterministic_sample,
    id_hash,
    portable_hash,
    portable_hash_sql,
    uuid7,
)


def test_portable_hash_matches_duckdb(spark):
    vals = ["", "a", "hello world", "42", "Ünïcødé ☃"]
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    got = {r.s: r.h for r in df.select("s", portable_hash("s").alias("h")).collect()}
    con = duckdb.connect()
    for v in vals:
        want = con.execute(
            f"SELECT {portable_hash_sql('?')}", [v]
        ).fetchone()[0]
        assert got[v] == want, v
    assert all(0 <= h < 2**32 for h in got.values())


def test_id_hash_is_xxhash64(spark):
    df = spark.createDataFrame([(7,), (42,)], "id long")
    a = {r.id: r.h for r in df.select("id", id_hash("id").alias("h")).collect()}
    b = {
        r.id: r.h
        for r in df.select("id", F.xxhash64(F.col("id").cast("string")).alias("h")).collect()
    }
    assert a == b


def test_deterministic_sample_fraction_and_stability(spark):
    df = spark.createDataFrame([(i,) for i in range(10_000)], "id long")
    kept1 = df.filter(deterministic_sample("id", 0.25)).count()
    kept2 = df.filter(deterministic_sample("id", 0.25)).count()
    assert kept1 == kept2  # reproducible
    assert 0.22 < kept1 / 10_000 < 0.28  # ~fraction
    salted = df.filter(deterministic_sample("id", 0.25, salt="x")).count()
    assert salted != kept1  # salt changes the sample


def test_bounded_training_sample_caps_and_is_stable(spark):
    df = spark.createDataFrame([(i,) for i in range(10_000)], "id long")
    # under the cap: passthrough, no rows dropped
    assert bounded_training_sample(df, "id", 20_000).count() == 10_000
    # over the cap: ~cap rows kept, deterministically
    kept1 = bounded_training_sample(df, "id", 1_000).count()
    kept2 = bounded_training_sample(df, "id", 1_000).count()
    assert kept1 == kept2
    assert 700 < kept1 < 1_300  # ~cap, hash-sample variance


def test_training_entrypoints_never_collect_unbounded(spark):
    """The registry/build_indexes call sites pass sample_fraction=None —
    that must mean 'bounded default sample', never 'the whole table'."""
    import numpy as np

    from write_optimized_vector_database_spark.operators.ivfpq import (
        train_ivfpq_codebooks,
    )

    rng = np.random.RandomState(0)
    rows = [(i, [float(x) for x in rng.randn(8)]) for i in range(3_000)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = spark.createDataFrame(
        [(0, [0.0] * 8), (1, [1.0] * 8)], "centroid_id int, centroid array<double>"
    )
    # cap of 64·2^2 = 256 < 3000 rows: must succeed and train on a sample
    cb = train_ivfpq_codebooks(df, cents, dim=8, m=2, nbits=2)
    assert cb.count() == 2 * 4  # m × 2^nbits codebook rows


def test_uuid7_time_ordered_unique(spark):
    df = spark.createDataFrame([(i,) for i in range(100)], "i long").select(
        uuid7().alias("u")
    )
    us = [r.u for r in df.collect()]
    assert len(set(us)) == 100
    # 12-hex-char millisecond prefix sorts by generation time
    prefixes = {u.split("-")[0] for u in us}
    assert all(len(p) == 12 for p in prefixes)
