"""Parquet bloom filters on the point-lookup key (reference
config.h:120-121: per-segment id bloom, fpp 0.01).

Verification goes through the JVM parquet-mr reader: the `id` filter
must be physically present in the changelog and snapshot files AND
discriminate — ids stored in a file hit its bloom, absent ids miss
(that miss is exactly the row-group skip the scan performs on point
lookups).

Py4J note: membership values must exceed 2^31 so they cross the bridge
as Java long — a small Python int picks the hash(int) overload, which
hashes 4 bytes and never matches an INT64 column's bloom.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from write_optimized_vector_database_spark.collection import VectorCollection

BASE = 5_000_000_000  # > 2^31: forces the hash(long) overload over Py4J


@pytest.fixture(scope="module")
def coll(spark, tmp_path_factory):
    c = VectorCollection(spark, str(tmp_path_factory.mktemp("bloom") / "c"), metric="ip")
    rows = [
        ("UPSERT", BASE + i, "t0", "ns", [float(i), 1.0], [1], i) for i in range(2000)
    ]
    batch = spark.createDataFrame(
        rows,
        "op string, id long, tenant string, namespace string, "
        "vector array<float>, tags array<int>, epoch long",
    )
    c.ingest(batch)
    c.compact()
    return c


def _assert_id_bloom_only(spark, open_parquet_reader, files) -> int:
    """Every `id` column chunk in `files` carries a bloom that holds the
    file's ids and discriminates absent ones; no `id_hash` chunk carries
    one. Returns the number of `id` blooms checked."""
    checked = 0
    for f in files:
        in_file = [r.id for r in spark.read.parquet(f).select("id").collect()]
        reader = open_parquet_reader(f)
        try:
            blocks = reader.getFooter().getBlocks()
            for bi in range(blocks.size()):
                cols = blocks.get(bi).getColumns()
                for ci in range(cols.size()):
                    cmeta = cols.get(ci)
                    colname = cmeta.getPath().toDotString()
                    if colname == "id_hash":
                        # nothing filters on id_hash by equality (lookups
                        # are `id IN`), so no writer pays its bitset
                        assert cmeta.getBloomFilterOffset() < 0, (
                            f"unexpected id_hash bloom in {f}"
                        )
                        continue
                    if colname != "id":
                        continue
                    # written at all (config.h:120-121)
                    assert cmeta.getBloomFilterOffset() >= 0, (
                        f"no bloom for {colname} in {f}"
                    )
                    if not in_file:
                        continue
                    bloom = reader.readBloomFilter(cmeta)
                    # no false negatives: every id stored in this file hits
                    hits = sum(
                        bloom.findHash(bloom.hash(int(i))) for i in in_file[:200]
                    )
                    assert hits == min(len(in_file), 200), "bloom false negative"
                    # absent ids miss → the reader skips this row group on
                    # a point lookup for them (fpp 0.01 → ≥95/100 misses)
                    misses = sum(
                        not bloom.findHash(bloom.hash(BASE + 10_000_000 + i))
                        for i in range(100)
                    )
                    assert misses >= 95, f"bloom not discriminating: {misses}/100"
                    checked += 1
        finally:
            reader.close()
    return checked


def test_snapshot_blooms_present_and_discriminating(spark, coll, open_parquet_reader):
    files = [
        f for f in coll.fs.walk_files(coll._current_dir()) if f.endswith(".parquet")
    ]
    assert files
    assert _assert_id_bloom_only(spark, open_parquet_reader, files) > 0


def test_changelog_blooms_id_only(spark, coll, open_parquet_reader):
    # the fixture compacts but does not vacuum: the changelog files the
    # ingest wrote are still on disk
    files = [
        f
        for f in coll.fs.walk_files(f"{coll.path}/changelog")
        if f.endswith(".parquet")
    ]
    assert files
    assert _assert_id_bloom_only(spark, open_parquet_reader, files) > 0


def test_index_files_carry_id_bloom(spark, coll, open_parquet_reader):
    coll.build_ivf_index(nlist=4)
    files = [
        f
        for f in coll.fs.walk_files(coll._ivf_index_path())
        if f.endswith(".parquet")
    ]
    assert files
    seen = 0
    for f in files:
        reader = open_parquet_reader(f)
        try:
            blocks = reader.getFooter().getBlocks()
            for bi in range(blocks.size()):
                cols = blocks.get(bi).getColumns()
                for ci in range(cols.size()):
                    cmeta = cols.get(ci)
                    if cmeta.getPath().toDotString() == "id":
                        assert cmeta.getBloomFilterOffset() >= 0
                        seen += 1
        finally:
            reader.close()
    assert seen > 0


def test_point_lookup_correct_with_bloom(coll):
    out = coll.lookup([BASE + 5, BASE + 1999, 12345]).select("id").collect()
    assert {r.id for r in out} == {BASE + 5, BASE + 1999}
