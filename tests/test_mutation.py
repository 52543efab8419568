"""Mutation semantics vs a dict model of the reference's LatestByIdMap
(/root/reference/src/cpp/storage/latest-by-id.h:110-200) — SURVEY §5.3."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from write_optimized_vector_database_spark.operators.changelog import synthetic_changelog
from write_optimized_vector_database_spark.operators.compaction import (
    latest_by_id,
    segment_stats,
    upsert_dedup,
    visible,
)


def dict_model(ops: list[tuple[str, int, int]]) -> dict[int, tuple[int, str]]:
    """~20-line oracle: upsert replaces on higher epoch, delete tombstones;
    exists = present ∧ ¬tombstone."""
    state: dict[int, tuple[int, str]] = {}
    for op, id_, epoch in ops:
        cur = state.get(id_)
        if cur is None or epoch > cur[0] or (epoch == cur[0] and op > cur[1]):
            state[id_] = (epoch, op)
    return {i: v for i, v in state.items() if v[1] != "DELETE"}


def random_ops(seed: int, n_ids: int = 40, n_ops: int = 300):
    rng = random.Random(seed)
    ops = []
    epochs = list(range(n_ops))
    rng.shuffle(epochs)  # shuffled arrival order, monotone epochs per op
    for epoch in epochs:
        op = rng.choices(["INSERT", "UPSERT", "DELETE"], weights=[0.5, 0.3, 0.2])[0]
        ops.append((op, rng.randrange(n_ids), epoch))
    return ops


def test_visible_matches_dict_model_random_sequences(spark):
    for seed in (1, 7, 42):
        ops = random_ops(seed)
        df = spark.createDataFrame(
            [(op, id_, epoch) for op, id_, epoch in ops], "op string, id long, epoch long"
        )
        got = {r.id: (r.epoch, r.op) for r in visible(df).collect()}
        want = dict_model(ops)
        assert got == want, f"seed {seed}"


def test_upsert_dedup_keeps_one_row_per_id(spark):
    ops = random_ops(9, n_ids=10, n_ops=100)
    df = spark.createDataFrame(ops, "op string, id long, epoch long")
    out = upsert_dedup(df)
    pdf = out.toPandas()
    assert pdf["id"].is_unique
    # every kept row is the max-epoch row for its id
    want_max = {id_: max(e for o, i, e in ops if i == id_) for _, id_, _ in ops}
    for _, row in pdf.iterrows():
        assert row["epoch"] == want_max[row["id"]]


def test_synthetic_changelog_visibility(spark, sf_dir):
    log = synthetic_changelog(spark, sf_dir)
    vis = visible(log).collect()
    by_id = {r.id: r for r in vis}
    # deleted ids (id % 10 == 3) invisible
    assert all(r.id % 10 != 3 for r in vis)
    # upserted ids (id % 5 == 0) show the UPSERT version
    assert by_id[0].op == "UPSERT" and by_id[0].epoch == 100_000
    # plain ids show the INSERT
    assert by_id[1].op == "INSERT" and by_id[1].epoch == 1
    # count: 500 - deletes(50)
    assert len(vis) == 450


def test_latest_by_id_keeps_tombstones_visible_drops_them(spark, sf_dir):
    log = synthetic_changelog(spark, sf_dir)
    latest = latest_by_id(log)
    assert latest.filter(F.col("op") == "DELETE").count() == 50
    assert visible(log).filter(F.col("op") == "DELETE").count() == 0


def test_segment_stats_tombstone_ratio(spark):
    rows = [("INSERT", i, i, "seg1") for i in range(8)] + [
        ("DELETE", i, 100 + i, "seg2") for i in range(4)
    ] + [("INSERT", 50 + i, 200 + i, "seg2") for i in range(4)]
    df = spark.createDataFrame(rows, "op string, id long, epoch long, segment string")
    stats = {r.segment: r for r in segment_stats(df, "segment").collect()}
    assert stats["seg1"].tombstone_ratio == 0.0
    assert stats["seg2"].tombstone_ratio == 0.5
    assert stats["seg1"].n_rows == 8
    assert stats["seg1"].min_epoch == 0 and stats["seg1"].max_epoch == 7


def test_collection_time_travel(spark, tmp_path_factory, sf_dir):
    """visible_as_of: pre-delete cut resurrects a later-deleted id; a cut
    below the vacuum watermark refuses instead of lying."""
    import pytest as _pytest

    from write_optimized_vector_database_spark.collection import VectorCollection
    from write_optimized_vector_database_spark.operators.changelog import (
        DELETE_EPOCH,
        synthetic_changelog,
    )

    c = VectorCollection(
        spark, str(tmp_path_factory.mktemp("ttravel") / "c"), metric="ip"
    )
    # two batches in epoch order: within-batch upsert-dedup keeps only the
    # newest op per id, so history only exists ACROSS batches — deletes
    # arriving in a later batch is also the realistic write order
    log = synthetic_changelog(spark, sf_dir)
    c.ingest(log.filter(F.col("op") != "DELETE"))
    c.ingest(log.filter(F.col("op") == "DELETE"))

    def head_identity():
        # the collection-level time-travel identity: at the head of
        # history visible_as_of equals the plain visible view
        head = c.changelog().agg(F.max("epoch")).first()[0]
        a = {tuple(r) for r in c.current().select("id", "epoch").collect()}
        b = {
            tuple(r)
            for r in c.visible_as_of(head).select("id", "epoch").collect()
        }
        assert a and a == b

    head_identity()  # tail only, before the first compact
    deleted_id = 3  # id % 10 == 3 → DELETEd at epoch 200_003
    assert c.current().filter(F.col("id") == deleted_id).count() == 0
    past = c.visible_as_of(DELETE_EPOCH - 1)
    assert past.filter(F.col("id") == deleted_id).count() == 1
    # post-cut regime: as_of ≥ snapshot epoch serves from the snapshot
    c.compact()
    assert c.visible_as_of(10**9).filter(F.col("id") == deleted_id).count() == 0
    # pre-snapshot history still replayable until vacuum...
    assert c.visible_as_of(DELETE_EPOCH - 1).filter(
        F.col("id") == deleted_id
    ).count() == 1
    removed = c.vacuum()
    assert removed > 0
    with _pytest.raises(ValueError):
        c.visible_as_of(DELETE_EPOCH - 1)
    # snapshot + tail: one more batch above the snapshot epoch re-upserts
    # a slice of ids (deleted ones among them)
    c.ingest(
        log.filter((F.col("op") != "DELETE") & (F.col("id") % 7 == 0))
        .withColumn("op", F.lit("UPSERT"))
        .withColumn("epoch", F.col("epoch") + 10**6)
    )
    head_identity()


def test_time_travel_at_head_equals_visible(spark, sf_dir):
    """visible_as_of(max epoch) must equal the plain visible view —
    the time-travel identity at the head of history."""
    from write_optimized_vector_database_spark.operators.changelog import (
        synthetic_changelog,
    )
    from write_optimized_vector_database_spark.operators.compaction import (
        visible,
        visible_as_of,
    )

    log = synthetic_changelog(spark, sf_dir)
    head = log.agg(F.max("epoch")).first()[0]
    a = {tuple(r) for r in visible(log).select("id", "epoch", "op").collect()}
    b = {tuple(r) for r in visible_as_of(log, head).select("id", "epoch", "op").collect()}
    assert a == b


def test_fence_records_are_epoch_barriers_not_data(spark):
    """WAL FENCE records (wal-record.fbs:6) delimit consistent prefixes;
    they carry no vector and must never shadow, resurrect, or count as
    id-keyed state — interleave fences with upserts/deletes and the
    visible view must be identical to the fence-free changelog."""
    from pyspark.sql import functions as F

    from write_optimized_vector_database_spark.operators.compaction import (
        visible,
        visible_as_of,
    )

    rows = [
        ("UPSERT", 1, "t", "ns", [1.0, 0.0], [1], 0),
        ("UPSERT", 2, "t", "ns", [0.0, 1.0], [1], 1),
        ("FENCE", 1, "t", "ns", None, None, 2),  # fence sharing id 1
        ("DELETE", 2, "t", "ns", None, None, 3),
        ("FENCE", 2, "t", "ns", None, None, 4),  # fence AFTER the delete
        ("UPSERT", 3, "t", "ns", [1.0, 1.0], [2], 5),
    ]
    ddl = (
        "op string, id long, tenant string, namespace string, "
        "vector array<float>, tags array<int>, epoch long"
    )
    log = spark.createDataFrame(rows, ddl)
    vis = {r.id: r.op for r in visible(log).collect()}
    # id 1 alive (fence at epoch 2 must not shadow the epoch-0 upsert),
    # id 2 deleted (fence at epoch 4 must not resurrect it), id 3 alive
    assert vis == {1: "UPSERT", 3: "UPSERT"}
    # time travel at the fence epoch = the consistent prefix it delimits
    cut = {r.id for r in visible_as_of(log, 2).collect()}
    assert cut == {1, 2}
    # fence-free changelog produces the identical view
    no_fence = log.filter(F.col("op") != "FENCE")
    assert {r.id: r.op for r in visible(no_fence).collect()} == vis
