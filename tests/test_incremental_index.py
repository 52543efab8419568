"""Incremental index maintenance gates (collection.refresh_indexes):
the refreshed index must equal a full re-encode with the SAME
centroids/codebooks, untouched posting lists must not be rewritten,
and a vacuum past the index epoch must force a full rebuild."""

from __future__ import annotations

import glob
import os
import uuid

import pytest
from pyspark.sql import functions as F

from write_optimized_vector_database_spark.collection import VectorCollection


def _ops(ids, op="INSERT", epoch0=0, dim=8):
    return [
        (
            op,
            i,
            f"t{i % 2}",
            "ns0",
            None if op == "DELETE" else [float(i % 7), float(i % 5)] + [0.1 * i % 1.0] * (dim - 2),
            None if op == "DELETE" else [i % 4],
            epoch0 + i,
        )
        for i in ids
    ]


SCHEMA = (
    "op string, id long, tenant string, namespace string, "
    "vector array<float>, tags array<int>, epoch long"
)


@pytest.fixture()
def coll(spark, tmp_path):
    c = VectorCollection(spark, str(tmp_path / "coll"), metric="ip")
    c.ingest(spark.createDataFrame(_ops(range(200)), SCHEMA))
    c.compact()
    c.build_indexes(nlist=8, m=4, nbits=4)
    return c


def _rows(df):
    return {
        (r.id, int(r.centroid_id), tuple(r.codes)) for r in df.collect()
    }


def _index_rows(spark, path):
    # the merged stable view (round 13): base generation + fold
    # overlays, resolved through the manifest pointers
    return _rows(VectorCollection(spark, path, metric="ip").stable_index_df())


def _jobs(spark, fn) -> int:
    """Spark jobs `fn` runs, counted through a job group."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _assert_views_live(c):
    """Every read view the handle caches is a dir on disk that the
    manifest (or _CURRENT) still names."""
    meta = c._meta()
    named = {
        meta.get("index_stable_path"),
        meta.get("index_centroids_path"),
        meta.get("index_codebooks_path"),
        c._current_dir().rsplit("/", 1)[-1],
        *(meta.get("index_fold_overrides") or {}).values(),
    }
    views = set(c._artifact_cache.get("views", {}))
    assert views and views <= named
    assert all(os.path.isdir(os.path.join(c.path, d)) for d in views)


def test_refresh_equals_full_reencode(spark, coll):
    # delta: update 10 ids, insert 5 new, delete 5
    delta = (
        _ops(range(0, 10), op="UPSERT", epoch0=10_000)
        + _ops(range(200, 205), epoch0=10_000)
        + _ops(range(20, 25), op="DELETE", epoch0=10_000)
    )
    coll.ingest(spark.createDataFrame(delta, SCHEMA))
    stats = coll.refresh_indexes()
    assert stats["n_touched"] == 20
    assert stats["n_reencoded"] == 15  # 10 updates + 5 inserts; deletes drop out

    # ground truth: full re-encode of current() with the same artifacts
    from write_optimized_vector_database_spark.operators.ivfpq import ivfpq_encode

    cents = spark.read.parquet(coll._stable_centroids_path())
    cbs = spark.read.parquet(coll._codebooks_path())
    cur = coll.current().filter(F.col("vector").isNotNull())
    want = {
        (r.id, int(r.centroid_id), tuple(r.codes))
        for r in ivfpq_encode(cur, cents, cbs, vec_col="vector", id_col="id").collect()
    }
    assert _index_rows(spark, coll.path) == want

    # deleted ids are gone from the index
    got_ids = {t[0] for t in _index_rows(spark, coll.path)}
    assert not ({20, 21, 22, 23, 24} & got_ids)
    assert {200, 201, 202, 203, 204} <= got_ids


def _parquet_bytes(*dirs):
    return sum(
        os.path.getsize(f)
        for d in dirs
        for f in glob.glob(f"{d}/**/*.parquet", recursive=True)
    )


def _assert_no_bloom(open_parquet_reader, files):
    for f in files:
        reader = open_parquet_reader(f)
        try:
            blocks = reader.getFooter().getBlocks()
            for bi in range(blocks.size()):
                cols = blocks.get(bi).getColumns()
                for ci in range(cols.size()):
                    assert cols.get(ci).getBloomFilterOffset() < 0, f
        finally:
            reader.close()


def test_refresh_rewrites_only_affected_lists(spark, coll, open_parquet_reader):
    files_before = {
        f: os.path.getmtime(f)
        for f in glob.glob(f"{coll._stable_index_path()}/centroid_id=*/*.parquet")
    }
    # the write-amplification ledger counts the build's index bytes:
    # posting lists, centroids and codebooks, exactly as on disk
    index_dirs = (
        coll._stable_index_path(),
        coll._stable_centroids_path(),
        coll._codebooks_path(),
    )
    bytes_built = coll.write_amplification()["bytes_index"]
    assert bytes_built == _parquet_bytes(*index_dirs) > 0
    # touch exactly one existing id
    coll.ingest(
        spark.createDataFrame(_ops([0], op="UPSERT", epoch0=50_000), SCHEMA)
    )
    stats = coll.refresh_indexes()
    assert stats["n_touched"] == 1
    nlist_total = len(glob.glob(f"{coll._stable_index_path()}/centroid_id=*"))
    assert stats["n_lists_rewritten"] < nlist_total
    # reader safety (round 13): the fold writes an OVERLAY dir and the
    # base generation stays byte-identical — every pre-fold file intact
    for f, mt in files_before.items():
        assert os.path.exists(f) and os.path.getmtime(f) == mt
    # the overlay exists on disk, is referenced by the override map,
    # and holds exactly the affected lists
    meta = coll._meta()
    ov = meta["index_fold_overrides"]
    assert len(ov) == stats["n_lists_rewritten"]
    assert set(ov.values()) == {stats["fold_dir"]}
    fold_dir = f"{coll.path}/{stats['fold_dir']}"
    assert os.path.isdir(fold_dir)
    # ... and the fold adds exactly its overlay's bytes
    wa = coll.write_amplification()
    assert wa["bytes_index"] == bytes_built + _parquet_bytes(fold_dir)
    assert wa["wa_total"] == round(
        (wa["bytes_physical"] + wa["bytes_index"]) / wa["bytes_logical"], 4
    )
    # no posting-list file carries a bloom bitset: nothing pushes an id
    # predicate into an index scan (partition pruning on centroid_id and
    # a broadcast anti-join on id read them)
    overlay_files = glob.glob(f"{fold_dir}/centroid_id=*/*.parquet")
    assert files_before and overlay_files
    _assert_no_bloom(open_parquet_reader, list(files_before) + overlay_files)


def test_fold_overlays_consolidate_and_reader_plans_survive(spark, coll):
    """Round 13 reader-safe folds: (a) a query plan bound BEFORE a
    string of folds still collects green afterwards — retired overlay
    dirs and the untouched base stay readable for the retention
    window; (b) the live overlay fan-in never exceeds FOLD_DIRS_MAX —
    a consolidation fold rewrites all overridden lists into one dir;
    (c) after many folds the merged view still equals a full
    re-encode with the same artifacts."""
    from write_optimized_vector_database_spark import collection as CM
    from write_optimized_vector_database_spark.operators.ivfpq import ivfpq_encode

    q = spark.createDataFrame(
        [(0, [1.0] * 8)], "query_id long, query_vec array<float>"
    )
    plan = coll.topk_two_phase(q, k=5, nprobe=8)  # binds pre-fold paths
    consolidations = 0
    cap_orig = CM.FOLD_DIRS_MAX
    CM.FOLD_DIRS_MAX = 2  # deterministic: force consolidation pressure
    try:
        for rep in range(8):
            coll.ingest(
                spark.createDataFrame(
                    _ops([rep * 3, rep * 3 + 1], op="UPSERT",
                         epoch0=10_000 * (rep + 1)),
                    SCHEMA,
                )
            )
            stats = coll.refresh_indexes()
            assert stats["n_touched"] == 2
            consolidations += int(stats["consolidated"])
            live_dirs = {
                v
                for v in coll._meta()["index_fold_overrides"].values()
                if v
            }
            assert len(live_dirs) <= 2
    finally:
        CM.FOLD_DIRS_MAX = cap_orig
    assert consolidations >= 1, "fan-in cap never forced a consolidation"
    # (a) the prebound plan still reads (overlays retained, base intact)
    assert len(plan.collect()) == 5
    # (d) warm read views: on an unchanged manifest the merged stable
    # view runs no Spark job (no listing, no schema inference) and
    # current() runs only the mutable changelog's fresh read
    coll.stable_index_df()
    coll.current()
    warm = _jobs(spark, lambda: (coll.stable_index_df(), coll.current()))
    assert warm == _jobs(spark, coll.changelog)
    # (c) merged view == full re-encode with the same artifacts
    cents = spark.read.parquet(coll._stable_centroids_path())
    cbs = spark.read.parquet(coll._codebooks_path())
    cur = coll.current().filter(F.col("vector").isNotNull())
    want = {
        (r.id, int(r.centroid_id), tuple(r.codes))
        for r in ivfpq_encode(
            cur, cents, cbs, vec_col="vector", id_col="id"
        ).collect()
    }
    assert _index_rows(spark, coll.path) == want
    # the same handle's cached views serve the same merged view
    assert _rows(coll.stable_index_df()) == want
    # retired overlays age out with the generation retention window;
    # live overlays and the base generation survive the sweep
    coll._gc_generations("index", retention_s=0.0)
    live_dirs = {
        v for v in coll._meta()["index_fold_overrides"].values() if v
    }
    on_disk = {
        d for d in os.listdir(coll.path) if d.startswith("index_fold")
    }
    assert on_disk == live_dirs
    _assert_views_live(coll)
    assert _index_rows(spark, coll.path) == want
    # a full rebuild resets the overlay map and retires its dirs, and
    # keeps the read view of the unchanged snapshot
    coll.build_indexes(nlist=8, m=4, nbits=4)
    snap = coll._current_dir().rsplit("/", 1)[-1]
    assert snap in coll._artifact_cache["views"]
    assert coll._meta()["index_fold_overrides"] == {}
    coll._gc_generations("index", retention_s=0.0)
    assert not any(
        d.startswith("index_fold") for d in os.listdir(coll.path)
    )
    assert _rows(coll.stable_index_df()) == _index_rows(spark, coll.path)
    coll.current()
    _assert_views_live(coll)
    assert coll._meta()["index_stable_path"] in coll._artifact_cache["views"]


def test_concurrent_fold_stale_guard(spark, coll):
    """Two folds racing from the SAME manifest snapshot: the second to
    reach the manifest advance must detect the epoch moved and discard
    itself (superseded_mid_fold) — its rows stay in the delta for the
    next refresh instead of double-installing overlays."""
    coll.ingest(
        spark.createDataFrame(_ops([0, 1], op="UPSERT", epoch0=10_000), SCHEMA)
    )
    # deterministic interleave: fold B runs to completion inside fold
    # A's window (between A's snapshot and A's advance)
    real_fold_corr = coll._fold_correlation_stats
    inner = {"done": False, "stats": None}

    def fold_inside(*a, **kw):
        if not inner["done"]:
            inner["done"] = True
            coll._fold_correlation_stats = real_fold_corr
            inner["stats"] = coll.refresh_indexes()  # fold B: clean
        return real_fold_corr(*a, **kw)

    coll._fold_correlation_stats = fold_inside
    try:
        stats_a = coll.refresh_indexes()  # fold A: superseded by B
    finally:
        coll._fold_correlation_stats = real_fold_corr
    assert inner["stats"] is not None
    assert inner["stats"].get("superseded_mid_fold") is None
    assert stats_a.get("superseded_mid_fold") is True
    # fold A's overlay was retired, fold B's serves; the view is exact
    meta = coll._meta()
    live = {v for v in meta["index_fold_overrides"].values() if v}
    assert stats_a["fold_dir"] not in live
    assert inner["stats"]["fold_dir"] in live
    got_ids = {t[0] for t in _index_rows(spark, coll.path)}
    assert {0, 1} <= got_ids
    # nothing left unfolded: the winning fold covered the window
    assert coll.refresh_indexes()["n_touched"] == 0


def test_refresh_noop_when_no_delta(coll):
    assert coll.refresh_indexes() == {
        "n_touched": 0,
        "n_reencoded": 0,
        "n_lists_rewritten": 0,
    }


def test_refresh_refuses_after_vacuum_past_index(spark, coll):
    coll.ingest(
        spark.createDataFrame(_ops([1], op="UPSERT", epoch0=60_000), SCHEMA)
    )
    coll.compact()
    # snapshot-bounded retention (opt-out of the round-11 index-aware
    # cut): vacuum_epoch passes the index epoch and incremental refresh
    # must refuse loudly rather than miss deletes
    coll.vacuum(retain_for_index=False)
    with pytest.raises(ValueError, match="vacuumed"):
        coll.refresh_indexes()


def test_default_vacuum_preserves_incremental_refresh(spark, coll):
    """Index-aware retention (round 11): the default vacuum cuts at
    min(snapshot, index) epoch, so a compact+vacuum landing BEFORE the
    next fold no longer collapses the tail refresh needs — the old
    'refresh, then vacuum' ordering discipline is no longer load-
    bearing. The delta still folds incrementally afterwards."""
    coll.ingest(
        spark.createDataFrame(_ops([1], op="UPSERT", epoch0=60_000), SCHEMA)
    )
    coll.compact()
    coll.vacuum()  # default: retains the tail past the index epoch
    stats = coll.refresh_indexes()  # no raise — incremental fold works
    assert stats["n_touched"] == 1 and stats["n_reencoded"] == 1
    # after the fold advanced the index epoch, a second vacuum can
    # reclaim the now-covered tail
    assert coll.vacuum() >= 0
    assert coll.refresh_indexes()["n_touched"] == 0


def test_two_phase_search_after_refresh(spark, coll):
    delta = _ops(range(0, 10), op="UPSERT", epoch0=10_000) + _ops(
        range(200, 210), epoch0=10_000
    )
    coll.ingest(spark.createDataFrame(delta, SCHEMA))
    coll.refresh_indexes()
    q = spark.createDataFrame(
        [(0, [1.0] * 8), (1, [0.5] * 8)], "query_id long, query_vec array<float>"
    )
    out = coll.topk_two_phase(q, k=5, nprobe=8, rerank_factor=4)
    rows = out.collect()
    assert len(rows) == 10  # 2 queries × k
    # post-refresh the delta generation is empty: results come purely
    # from the refreshed stable index + rerank, and every returned id
    # must be currently visible
    vis = {r.id for r in coll.current().select("id").collect()}
    assert {r.vec_id for r in rows} <= vis


def test_streaming_ingest_with_online_maintenance(spark, coll, tmp_path):
    """Stream two delta files through start_maintained_ingest: after the
    drain, the stable index must equal a full re-encode of current()
    with the same artifacts — the index was maintained online, batch by
    batch, without a rebuild."""
    from write_optimized_vector_database_spark.operators.ivfpq import ivfpq_encode
    from write_optimized_vector_database_spark.streaming.ingest import (
        start_maintained_ingest,
    )

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    stream_schema = (
        "op string, id long, tenant string, namespace string, "
        "vector array<float>, tags array<int>, epoch long"
    )
    for i, delta in enumerate(
        [
            _ops(range(300, 320), epoch0=0),
            _ops(range(0, 10), op="DELETE", epoch0=0),
        ]
    ):
        spark.createDataFrame(delta, SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q = start_maintained_ingest(
            spark.readStream.schema(stream_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            coll,
            ckpt,
        )
        q.awaitTermination(120)

    # index epoch advanced past every streamed epoch → delta is empty
    assert coll._index_epoch() == coll.changelog().agg(F.max("epoch")).first()[0]
    cents = spark.read.parquet(coll._stable_centroids_path())
    cbs = spark.read.parquet(coll._codebooks_path())
    cur = coll.current().filter(F.col("vector").isNotNull())
    want = {
        (r.id, int(r.centroid_id), tuple(r.codes))
        for r in ivfpq_encode(cur, cents, cbs, vec_col="vector", id_col="id").collect()
    }
    assert _index_rows(spark, coll.path) == want
    got_ids = {t[0] for t in _index_rows(spark, coll.path)}
    assert {300, 310, 319} <= got_ids
    assert not (set(range(10)) & got_ids)


def test_refresh_property_random_op_sequences(spark, tmp_path):
    """Property gate: for random op sequences split at random points
    into (initial build, incremental delta), refresh_indexes must land
    the index in EXACTLY the state a full re-encode with the same
    artifacts produces — insert/upsert/delete in any interleaving."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from write_optimized_vector_database_spark.operators.ivfpq import ivfpq_encode

    op_strategy = st.lists(
        st.tuples(
            st.sampled_from(["INSERT", "UPSERT", "DELETE"]),
            st.integers(min_value=0, max_value=30),
        ),
        min_size=5,
        max_size=25,
    )

    counter = {"n": 0}

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(ops=op_strategy, split=st.integers(min_value=1, max_value=24))
    def check(ops, split):
        split = min(split, len(ops) - 1) or 1
        counter["n"] += 1
        path = str(tmp_path / f"prop_{counter['n']}")
        c = VectorCollection(spark, path, metric="ip")

        def rows(seq, epoch0):
            return [
                (
                    op,
                    i,
                    f"t{i % 2}",
                    "ns0",
                    None if op == "DELETE" else [float(i % 7), float(i % 5)] + [0.25] * 6,
                    None if op == "DELETE" else [i % 4],
                    epoch0 + k,
                )
                for k, (op, i) in enumerate(seq)
            ]

        # seed rows so the trainer always has vectors even if the random
        # prefix is delete-heavy
        seed = [("INSERT", 100 + j) for j in range(8)]
        c.ingest(spark.createDataFrame(rows(seed + ops[:split], 0), SCHEMA))
        c.compact()
        c.build_indexes(nlist=4, m=4, nbits=4)
        c.ingest(spark.createDataFrame(rows(ops[split:], 10_000), SCHEMA))
        c.refresh_indexes()

        c2 = VectorCollection(spark, path, metric="ip")
        cents = spark.read.parquet(c2._stable_centroids_path())
        cbs = spark.read.parquet(c2._codebooks_path())
        cur = c.current().filter(F.col("vector").isNotNull())
        want = {
            (r.id, int(r.centroid_id), tuple(r.codes))
            for r in ivfpq_encode(
                cur, cents, cbs, vec_col="vector", id_col="id"
            ).collect()
        }
        assert _index_rows(spark, path) == want

    check()


def test_delete_where_bulk_tombstones(spark, coll):
    """Bulk predicate delete: tombstones flow through the changelog, the
    visible view shrinks immediately, and refresh_indexes folds the
    removals into the stable index without a rebuild."""
    before = coll.current().count()
    n = coll.delete_where("tenant = 't1'")
    assert n > 0
    after = coll.current()
    assert after.count() == before - n
    assert after.filter(F.col("tenant") == "t1").count() == 0
    # the stable index still holds them until maintenance folds it in
    coll.refresh_indexes()
    live = {t[0] for t in _index_rows(spark, coll.path)}
    t1_ids = {i for i in range(200) if i % 2 == 1}
    assert not (live & t1_ids)
    # delete is idempotent at the semantic level: nothing left to match
    assert coll.delete_where(F.col("tenant") == "t1") == 0


def test_growth_odometer_flips_needs_rebuild(spark, coll):
    """VERDICT r09 #1: folds maintain freshness but never re-size — the
    rows-per-list odometer must notice sustained growth (rows/nlist
    exceeding alpha x the built ratio) and flip needs_rebuild(), and
    auto_resize() must rebuild at the sqrt-scaled nlist and reset it."""
    d0 = coll.describe_index()
    assert d0["index_rows_built"] == 200
    assert d0["index_rows"] == 200
    assert d0["needs_rebuild"] is False
    assert d0["rows_per_list"] == 25.0  # 200 rows / nlist=8

    # grow the corpus 5x through fold cycles: each refresh advances the
    # odometer by the fold's net entry delta
    for gen in range(4):
        base = 1_000 * (gen + 1)
        coll.ingest(
            spark.createDataFrame(
                _ops(range(base, base + 200), epoch0=100_000 * (gen + 1)),
                SCHEMA,
            )
        )
        res = coll.refresh_indexes()
        assert res["n_reencoded"] == 200
    d1 = coll.describe_index()
    assert d1["index_rows"] == 1_000
    assert d1["index_rows_built"] == 200
    assert d1["needs_rebuild"] is True  # 5x > alpha=4
    assert coll.needs_rebuild(alpha=6.0) is False  # ratio-parameterized
    # sqrt scaling: nlist 8 * sqrt(5) -> 18
    assert d1["recommended_nlist"] == 18
    # refresh_indexes surfaced the flag for recommend-only deployments
    assert res["needs_rebuild"] is True

    # auto_resize rebuilds at the recommended geometry and resets the
    # odometer; rows-per-list returns to ~the built ratio
    out = coll.auto_resize()
    assert out is not None
    assert out["needs_rebuild"] is False
    assert out["index_rows_built"] == out["index_rows"] == 1_000
    assert coll._meta()["index_nlist"] == 18
    # sqrt scaling splits the 5x growth between per-list size and probe
    # count: rows-per-list lands at ~sqrt(5) x the built ratio (55.6),
    # not the 125 a fixed nlist would have reached
    assert out["rows_per_list"] == round(1_000 / 18, 2)
    # a second call is a no-op (nothing outgrown)
    assert coll.auto_resize() is None

    # and the rebuilt index still serves correctly: probe every list of
    # the NEW geometry with a covering budget → exactly the filtered
    # oracle (fresh stats so the survivor estimate covers all of t0)
    coll.analyze()
    queries = spark.createDataFrame(
        [(0, [1.0, 1.0] + [0.5] * 6)], "query_id long, query_vec array<float>"
    )
    got = coll.topk_two_phase(queries, k=5, nprobe=18, rerank_factor=90,
                              tenant="t0")
    exact = coll.topk(queries, k=5, tenant="t0")
    assert {(r["query_id"], r["vec_id"]) for r in got.collect()} == {
        (r["query_id"], r["vec_id"]) for r in exact.collect()
    }


def test_odometer_counts_net_delta_not_gross(spark, coll):
    """Upserts and deletes must not inflate the odometer: re-encoding an
    EXISTING id replaces its entry (net 0), a delete removes one."""
    coll.ingest(
        spark.createDataFrame(
            _ops(range(0, 50), op="UPSERT", epoch0=10_000), SCHEMA
        )
    )
    coll.refresh_indexes()
    assert coll.describe_index()["index_rows"] == 200  # replaced, not added
    coll.ingest(
        spark.createDataFrame(
            _ops(range(0, 30), op="DELETE", epoch0=20_000), SCHEMA
        )
    )
    coll.refresh_indexes()
    assert coll.describe_index()["index_rows"] == 170
    assert coll.describe_index()["needs_rebuild"] is False


class TestRebuildUnderIngest:
    """VERDICT r10 #1: a rebuild (the auto_resize path) must run beside
    live ingest without losing or double-serving a single row. The
    build captures its epoch bound BEFORE materializing its input,
    writes a fresh generation, and swaps atomically — appends, upserts,
    deletes, and even a whole refresh fold landing mid-rebuild stay
    correct on both sides of the swap."""

    MID_VEC = [9.0] * 8  # dominates every fixture vector under IP

    def _interleave(self, spark, coll, fired):
        """The mid-rebuild workload, run at the index_built_preswap
        fault point: new inserts, an upsert, a delete, AND a full
        refresh fold against the old generation."""

        def hook(point):
            if point != "index_built_preswap" or fired:
                return
            fired.append(True)
            mid = [
                ("INSERT", i, "mid", "ns0", self.MID_VEC, [0], 50_000 + i)
                for i in range(300, 310)
            ]
            mid.append(("UPSERT", 0, "t0", "ns0", [7.0] * 8, [0], 50_900))
            mid.append(("DELETE", 1, "t1", "ns0", None, None, 50_901))
            coll.ingest(spark.createDataFrame(mid, SCHEMA))
            # the fold rewrites the OLD generation and advances its
            # epoch past the build bound — the swap must regress the
            # epoch to the bound so these rows land back in the delta
            coll.refresh_indexes()

        return hook

    def test_no_row_lost_or_double_indexed_across_swap(self, spark, coll):
        from write_optimized_vector_database_spark import collection as CM

        # pre-rebuild delta the rebuild should fold in
        coll.ingest(
            spark.createDataFrame(_ops(range(200, 220), epoch0=10_000), SCHEMA)
        )
        build_hi = coll.changelog().agg(F.max("epoch")).first()[0]
        fired: list = []
        CM.FAULT_INJECT_HOOK = self._interleave(spark, coll, fired)
        try:
            coll.build_indexes(nlist=16, m=4, nbits=4)
        finally:
            CM.FAULT_INJECT_HOOK = None
        assert fired, "mid-rebuild hook never ran"

        # the swap pinned the epoch to the pre-build bound, NOT the
        # mid-rebuild fold's advanced epoch
        assert coll._index_epoch() == build_hi

        idx_ids = {t[0] for t in _index_rows(spark, coll.path)}
        # nothing that arrived mid-rebuild is in the new generation...
        assert not (idx_ids & set(range(300, 310)))
        # ...and the new generation is exactly the visible view at the
        # bound: ids deleted/updated mid-rebuild keep their as-of rows
        want_ids = {
            r.id for r in coll.visible_as_of(build_hi).collect()
        }
        assert idx_ids == want_ids
        assert {0, 1} <= idx_ids  # stale versions present, served fresh below

        # every visible row is reachable: index covers epoch <= bound,
        # the delta scan covers epoch > bound — union is the whole view
        cur_rows = {r.id: r for r in coll.current().collect()}
        delta_ids = {i for i, r in cur_rows.items() if r.epoch > build_hi}
        assert delta_ids == set(range(300, 310)) | {0}
        assert set(cur_rows) == (idx_ids - {1}) | delta_ids

        # full read path across the swap: mid-rebuild inserts dominate
        # under IP (RYW through the new generation's delta), the
        # deleted id never surfaces, the upserted id scores on its NEW
        # vector, and no (query, id) pair appears twice
        q = spark.createDataFrame(
            [(0, [1.0] * 8)], "query_id long, query_vec array<float>"
        )
        got = coll.topk_two_phase(q, k=12, nprobe=16, rerank_factor=8).collect()
        got_ids = [r.vec_id for r in got]
        assert len(got_ids) == len(set(got_ids)) == 12
        assert 1 not in got_ids
        assert set(range(300, 310)) <= set(got_ids)  # RYW witnessed
        by_id = {r.vec_id: r for r in got}
        assert 0 in by_id and abs(by_id[0].score - 56.0) < 1e-4  # 8*7.0

    def test_crash_before_swap_leaves_old_generation_live(self, spark, coll):
        from write_optimized_vector_database_spark import collection as CM

        d0 = coll.describe_index()
        q = spark.createDataFrame(
            [(0, [1.0] * 8)], "query_id long, query_vec array<float>"
        )
        before = {
            (r.query_id, r.vec_id)
            for r in coll.topk_two_phase(q, k=5, nprobe=8).collect()
        }

        def boom(point):
            if point == "index_built_preswap":
                raise RuntimeError("injected crash before swap")

        CM.FAULT_INJECT_HOOK = boom
        try:
            with pytest.raises(RuntimeError, match="injected"):
                coll.build_indexes(nlist=16, m=4, nbits=4)
        finally:
            CM.FAULT_INJECT_HOOK = None

        # manifest untouched: same generation, same knobs, same answers
        d1 = coll.describe_index()
        assert d1["index_build_id"] == d0["index_build_id"]
        assert coll._meta()["index_nlist"] == 8
        after = {
            (r.query_id, r.vec_id)
            for r in coll.topk_two_phase(q, k=5, nprobe=8).collect()
        }
        assert after == before
        # re-running the interrupted build succeeds. The crashed build
        # DID consume a generation number (ids are reserved under the
        # writer lock before any dir is written — ADVICE r12 medium),
        # so the re-run gets a strictly fresh id and never overwrites
        # the orphan dirs; GC reclaims them by prefix sweep.
        coll.build_indexes(nlist=16, m=4, nbits=4)
        assert coll.describe_index()["index_build_id"] > d0["index_build_id"]
        assert coll._meta()["index_nlist"] == 16

    def test_generations_gc_by_retention_window(self, spark, coll):
        """Time-based multi-generation retention (ADVICE r11 medium):
        inside the retention window EVERY superseded generation
        survives — a multi-rung ladder swapping several times in
        seconds never deletes a dir an in-flight reader resolved —
        and once superseded past the window, GC reclaims it."""
        import os as _os

        # the first build is OPQ: the later non-OPQ swaps must retire
        # its rotation dir with its generation, not keep it live
        for use_opq in (True, False, False):
            coll.build_indexes(nlist=8, m=4, nbits=4, use_opq=use_opq)
        names = {
            d for d in _os.listdir(coll.path) if d.startswith("index_stable")
        }
        live = coll._stable_index_subdir()
        assert live in names
        # every generation superseded within the retention window
        # survives (the fixture may have built one more before us)
        assert len(names) >= 3
        assert len(coll._meta()["index_gen_history"]) >= 2
        # age every superseded generation past the window: GC reclaims
        # them and prunes the manifest history; the live one survives
        coll._gc_generations("index", retention_s=0.0)
        names = {
            d for d in _os.listdir(coll.path) if d.startswith("index_stable")
        }
        assert names == {live}
        assert coll._meta()["index_gen_history"] == []
        assert not any(
            d.startswith("index_rotation_g") for d in _os.listdir(coll.path)
        )

    def test_prebuilt_reader_plan_survives_swap_and_gc(self, spark, coll):
        """An in-flight reader that resolved its generation paths just
        before a swap still collects green after the swap AND a GC run
        — the retained generation is what makes per-call path
        resolution safe (the r11 rule GC'd it after one more build)."""
        q = spark.createDataFrame(
            [(0, [float(j) for j in range(8)])],
            "query_id long, query_vec array<double>",
        )
        coll.build_indexes(nlist=8, m=4, nbits=4)
        plan = coll.topk_two_phase(q, k=5, nprobe=8)  # binds gen-1 paths
        # two more swaps + GCs land while the plan is "in flight"
        coll.build_indexes(nlist=8, m=4, nbits=4)
        coll.build_indexes(nlist=8, m=4, nbits=4)
        rows = plan.collect()  # reads the superseded-but-retained dirs
        assert len(rows) == 5


class TestRecertificationSurvivesResize:
    """VERDICT r10 #2: self-sizing must not silently void the recall
    promise — auto_resize re-measures the certificate at the new
    geometry and re-certifies, or re-walks the ladder; a miss is
    recorded honestly (target_met=False), never masked as certified."""

    @staticmethod
    def _vops(ids, epoch0=0, dim=8):
        # distinct, deterministic vectors (the shared _ops fixture
        # collapses to ~350 duplicates, which makes exact top-k
        # membership ill-posed for recall measurement)
        import hashlib

        out = []
        for i in ids:
            h = hashlib.sha256(str(i).encode()).digest()
            vec = [(h[j] / 255.0) * 2 - 1 for j in range(dim)]
            out.append(("INSERT", i, f"t{i % 2}", "ns0", vec, [i % 4], epoch0 + i))
        return out

    def _certified_coll(self, spark, tmp_path):
        coll = VectorCollection(spark, str(tmp_path / "c"), metric="ip")
        coll.ingest(spark.createDataFrame(self._vops(range(200)), SCHEMA))
        coll.compact()
        coll.build_indexes(nlist=8, nbits=4, target_recall=0.9)
        return coll

    def _grow(self, spark, coll, rounds=4):
        for gen in range(rounds):
            base = 1_000 * (gen + 1)
            coll.ingest(
                spark.createDataFrame(
                    self._vops(range(base, base + 200),
                               epoch0=100_000 * (gen + 1)),
                    SCHEMA,
                )
            )
            coll.refresh_indexes()

    def test_resize_recertifies(self, spark, tmp_path):
        coll = self._certified_coll(spark, tmp_path)
        d0 = coll.describe_index()
        assert d0["certified"] is True
        cert_nprobe = coll._meta()["calibrated_nprobe"]

        self._grow(spark, coll)
        assert coll.needs_rebuild() is True
        out = coll.auto_resize()
        assert out is not None and out["needs_rebuild"] is False
        meta = coll._meta()
        if out["certified"]:
            # cheap-probe pass or ladder re-certification — either way
            # the promise survived the resize at the certified knobs
            assert out["certified_recall"] >= 0.9
            assert meta["calibrated_nprobe"] == cert_nprobe
            assert meta["calibrated_build_id"] == meta["index_build_id"]
            assert meta["auto_tune"]["target_met"] is True
        else:
            # honest miss: the ladder RAN at the new geometry and
            # recorded it — never the silent-void state where the old
            # build's target_met=True coexists with a stale certificate
            assert meta["auto_tune"]["target_met"] is False
        # this fixture is well-conditioned enough that the promise
        # should in fact survive
        assert out["certified"] is True

    def test_resize_without_recert_stales_loudly(self, spark, tmp_path):
        coll = self._certified_coll(spark, tmp_path)
        self._grow(spark, coll)
        out = coll.auto_resize(recertify=False)
        # the r06 knob-explicit rule applies and describe_index says so
        assert out["certified"] is False
        assert out["certified_recall"] is None

    def test_uncertified_resize_stays_uncertified(self, spark, coll):
        # a collection never built with target_recall has no promise to
        # keep — resize must not fabricate one
        for gen in range(4):
            base = 1_000 * (gen + 1)
            coll.ingest(
                spark.createDataFrame(
                    _ops(range(base, base + 200),
                         epoch0=100_000 * (gen + 1)),
                    SCHEMA,
                )
            )
            coll.refresh_indexes()
        out = coll.auto_resize()
        assert out is not None
        assert out["certified"] is False


def test_streaming_maintained_ingest_auto_resizes(spark, coll, tmp_path):
    """auto_resize_alpha on the streaming maintenance path: once the
    streamed growth flips the odometer, the foreachBatch maintenance
    tick rebuilds at the √n-scaled nlist through the generation swap —
    and the post-resize index equals a full re-encode with the NEW
    artifacts (nothing streamed was lost across the swap)."""
    from write_optimized_vector_database_spark.operators.ivfpq import ivfpq_encode
    from write_optimized_vector_database_spark.streaming.ingest import (
        start_maintained_ingest,
    )

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    stream_schema = (
        "op string, id long, tenant string, namespace string, "
        "vector array<float>, tags array<int>, epoch long"
    )
    # 5x growth in one streamed file: 1000 new rows over the 200-row
    # built index (alpha=4 flips at >800 entries)
    spark.createDataFrame(
        _ops(range(1_000, 2_000), epoch0=0), SCHEMA
    ).coalesce(1).write.mode("append").parquet(src)
    nlist0 = int(coll._meta()["index_nlist"])
    q = start_maintained_ingest(
        spark.readStream.schema(stream_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        coll,
        ckpt,
        auto_resize_alpha=4.0,
    )
    q.awaitTermination(180)

    meta = coll._meta()
    assert meta["index_nlist"] > nlist0  # resized through the stream
    assert coll.needs_rebuild() is False  # odometer reset by the swap
    assert coll.describe_index()["index_rows_built"] == 1_200
    # post-swap index == full re-encode with the new generation's
    # artifacts: the streamed rows crossed fold AND swap without loss
    cents = spark.read.parquet(coll._stable_centroids_path())
    cbs = spark.read.parquet(coll._codebooks_path())
    cur = coll.current().filter(F.col("vector").isNotNull())
    want = {
        (r.id, int(r.centroid_id), tuple(r.codes))
        for r in ivfpq_encode(
            cur, cents, cbs, vec_col="vector", id_col="id"
        ).collect()
    }
    assert _index_rows(spark, coll.path) == want


def test_streaming_maintained_ingest_resize_async(spark, coll, tmp_path):
    """resize_async=True (round 12): the same streamed growth resizes
    through the engine-level IndexMaintainer on a BACKGROUND worker —
    the trigger never blocks for the rebuild wall, the maintainer rides
    the returned query, and the post-join state matches the blocking
    path's (odometer reset, √n-scaled nlist, nothing streamed lost)."""
    from write_optimized_vector_database_spark.operators.ivfpq import ivfpq_encode
    from write_optimized_vector_database_spark.streaming.ingest import (
        start_maintained_ingest,
    )

    src = str(tmp_path / "src_a")
    ckpt = str(tmp_path / "ckpt_a")
    stream_schema = (
        "op string, id long, tenant string, namespace string, "
        "vector array<float>, tags array<int>, epoch long"
    )
    spark.createDataFrame(
        _ops(range(1_000, 2_000), epoch0=0), SCHEMA
    ).coalesce(1).write.mode("append").parquet(src)
    nlist0 = int(coll._meta()["index_nlist"])
    q = start_maintained_ingest(
        spark.readStream.schema(stream_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        coll,
        ckpt,
        auto_resize_alpha=4.0,
        resize_async=True,
    )
    maint = q.index_maintainer  # the engine maintainer rides the query
    q.awaitTermination(180)
    # the stream (availableNow) ends as soon as the batch is appended
    # and the tick returns — the rebuild keeps running in background
    ev = maint.join(timeout=600)
    assert ev is not None and ev["error"] is None
    assert ev["pool"] == "maintenance"

    meta = coll._meta()
    assert meta["index_nlist"] > nlist0
    assert coll.needs_rebuild() is False
    assert coll.describe_index()["index_rows_built"] == 1_200
    cents = spark.read.parquet(coll._stable_centroids_path())
    cbs = spark.read.parquet(coll._codebooks_path())
    cur = coll.current().filter(F.col("vector").isNotNull())
    want = {
        (r.id, int(r.centroid_id), tuple(r.codes))
        for r in ivfpq_encode(
            cur, cents, cbs, vec_col="vector", id_col="id"
        ).collect()
    }
    assert _index_rows(spark, coll.path) == want


def test_compact_vacuum_during_rebuild(spark, coll):
    """A compact()+vacuum() cycle landing mid-rebuild must not corrupt
    the swap: the build input was bounded and persisted before the
    race, reads stay correct afterwards (the snapshot keeps per-row
    epochs, so the delta scan re-covers post-bound rows), and the
    retention interaction is the documented one — the vacuum watermark
    passed the new generation's epoch bound, so the NEXT incremental
    refresh refuses and directs to a full rebuild."""
    from write_optimized_vector_database_spark import collection as CM

    fired: list = []

    def hook(point):
        if point != "index_built_preswap" or fired:
            return
        fired.append(True)
        coll.ingest(
            spark.createDataFrame(
                [("INSERT", 900, "t0", "ns0", [9.0] * 8, [0], 70_000)],
                SCHEMA,
            )
        )
        coll.compact()
        coll.vacuum()  # watermark now covers the mid-rebuild row

    CM.FAULT_INJECT_HOOK = hook
    try:
        coll.build_indexes(nlist=8, m=4, nbits=4)
    finally:
        CM.FAULT_INJECT_HOOK = None
    assert fired

    # reads across the swap: the mid-rebuild row serves via the delta
    # scan out of the NEW snapshot (its epoch survived compaction)
    q = spark.createDataFrame(
        [(0, [1.0] * 8)], "query_id long, query_vec array<float>"
    )
    got = {r.vec_id for r in coll.topk_two_phase(q, k=3, nprobe=8).collect()}
    assert 900 in got
    # index-aware vacuum (round 11) retained the tail past the OLD
    # generation's epoch, and the swap pinned index_epoch to the build
    # bound — the mid-rebuild row folds incrementally, no rebuild owed
    stats = coll.refresh_indexes()
    assert stats["n_touched"] == 1 and stats["n_reencoded"] == 1
    got_ids = {t[0] for t in _index_rows(spark, coll.path)}
    assert 900 in got_ids


def test_queries_serve_while_rebuild_thread_runs(spark, tmp_path):
    """True-concurrency witness (round 11): a resize-style rebuild runs
    in a background thread while the foreground keeps answering
    topk_two_phase — readers resolve generation paths per call, so
    every answer is valid (old generation until the atomic swap, new
    after) and nothing errors mid-swap. Mutators stay serialized (no
    folds here); only readers race the rebuild."""
    import threading

    coll = VectorCollection(spark, str(tmp_path / "c"), metric="ip")
    n = 12_000
    base = spark.range(n).select(
        F.lit("INSERT").alias("op"),
        F.col("id"),
        F.lit("t0").alias("tenant"),
        F.lit("ns0").alias("namespace"),
        F.transform(
            F.sequence(F.lit(0), F.lit(15)),
            lambda j: F.pmod(F.xxhash64(F.col("id"), j), F.lit(1000)).cast(
                "double"
            )
            / F.lit(1000.0),
        ).cast("array<float>").alias("vector"),
        F.array(F.lit(0)).alias("tags"),
        F.col("id").alias("epoch"),
    )
    coll.ingest(base)
    coll.compact()
    coll.build_indexes(nlist=8, m=4, nbits=4)

    q = spark.createDataFrame(
        [(0, [0.9] * 16), (1, [0.1] * 16)],
        "query_id long, query_vec array<float>",
    )
    errs: list[str] = []

    def rebuild():
        try:
            coll.build_indexes(nlist=32, m=4, nbits=4)
        except Exception as e:  # noqa: BLE001
            errs.append(str(e))

    th = threading.Thread(target=rebuild)
    th.start()
    overlapped = 0
    results = []
    try:
        while th.is_alive():
            rows = coll.topk_two_phase(q, k=5, nprobe=8).collect()
            if th.is_alive():
                overlapped += 1
            results.append(rows)
    finally:
        th.join()
    assert not errs, errs
    assert overlapped >= 1, "rebuild finished before any concurrent query"
    for rows in results:
        assert len(rows) == 10  # 2 queries x k, every answer complete
        ids = [(r.query_id, r.vec_id) for r in rows]
        assert len(set(ids)) == 10  # no duplicates
        assert all(0 <= r.vec_id < n for r in rows)
    # post-swap: the new generation serves and the knobs moved
    assert coll._meta()["index_nlist"] == 32
    rows = coll.topk_two_phase(q, k=5, nprobe=32).collect()
    assert len(rows) == 10


def test_fence_in_window_never_evicts_an_untouched_id(spark, coll):
    """A FENCE record sharing a data id (wal-record.fbs:6 barriers
    interleave with data) must not count as 'touched': before the
    round-13 fix the fold evicted the id's posting-list entries yet
    never re-encoded it (its visible version predates the window), so
    the row vanished from BOTH generations."""
    before = _index_rows(spark, coll.path)
    assert any(r[0] == 7 for r in before)
    fence = [("FENCE", 7, "t1", "ns0", None, None, 50_000)]
    coll.ingest(spark.createDataFrame(fence, SCHEMA), dedup=False)
    stats = coll.refresh_indexes()
    after = _index_rows(spark, coll.path)
    # id 7's entries survive the fold untouched
    assert {r for r in before if r[0] == 7} == {r for r in after if r[0] == 7}
    assert stats["n_reencoded"] == 0
    # and the full read path still serves every visible row: with the
    # candidate budget covering the whole corpus (k×rerank ≥ n, every
    # list probed), two-phase must equal the exact scan — an id evicted
    # from the index without re-encoding would be missing here
    q = spark.createDataFrame(
        [(0, [float(7 % 7), float(7 % 5)] + [0.7 % 1.0] * 6)],
        "query_id long, query_vec array<double>",
    )
    two_phase = {
        (r.vec_id, r.rank)
        for r in coll.topk_two_phase(q, k=50, nprobe=8, rerank_factor=4).collect()
    }
    exact = {(r.vec_id, r.rank) for r in coll.topk(q, k=50).collect()}
    assert two_phase == exact


def test_specialized_fold_window_matches_generic_current_filter(spark, coll):
    """The round-13 specialized fold/delta window (latest-by-id over
    in-window ops only) must produce exactly the rows the generic
    current().filter(window) view produced."""
    delta = (
        _ops(range(0, 6), op="UPSERT", epoch0=20_000)
        + _ops(range(300, 305), epoch0=21_000)
        + _ops(range(10, 13), op="DELETE", epoch0=22_000)
    )
    coll.ingest(spark.createDataFrame(delta, SCHEMA))
    idx_epoch = coll._index_epoch()
    generic = {
        (r.id, r.epoch)
        for r in coll.current()
        .filter((F.col("epoch") > idx_epoch) & F.col("vector").isNotNull())
        .select("id", "epoch")
        .collect()
    }
    from write_optimized_vector_database_spark.operators import compaction as C

    specialized = {
        (r.id, r.epoch)
        for r in C.visible(coll.changelog().filter(F.col("epoch") > idx_epoch))
        .filter(F.col("vector").isNotNull())
        .select("id", "epoch")
        .collect()
    }
    assert generic == specialized
