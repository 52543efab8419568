"""Round-12 concurrency gates: single-snapshot manifest reads in the
query path (ADVICE r11 high), locked manifest writers (ADVICE r11
medium), and the engine-level IndexMaintainer that promotes the r11
bench harness's serving-during-rebuild thread discipline into the
engine (VERDICT r11 #1)."""

from __future__ import annotations

import threading

import pytest
from pyspark.sql import functions as F

from write_optimized_vector_database_spark.collection import VectorCollection
from write_optimized_vector_database_spark.maintenance import (
    IndexMaintainer,
    fair_scheduler_conf,
)

SCHEMA = (
    "op string, id long, tenant string, namespace string, "
    "vector array<float>, tags array<int>, epoch long"
)


def _vops(ids, epoch0=0, dim=8):
    import hashlib

    out = []
    for i in ids:
        h = hashlib.sha256(str(i).encode()).digest()
        vec = [(h[j] / 255.0) * 2 - 1 for j in range(dim)]
        out.append(("INSERT", i, f"t{i % 2}", "ns0", vec, [i % 4], epoch0 + i))
    return out


@pytest.fixture()
def coll(spark, tmp_path):
    c = VectorCollection(spark, str(tmp_path / "mcoll"), metric="ip")
    c.ingest(spark.createDataFrame(_vops(range(200)), SCHEMA))
    c.compact()
    c.build_indexes(nlist=8, m=4, nbits=4)
    return c


def _queries(spark, coll, n=4, k=10):
    rows = (
        coll.current()
        .filter(F.col("vector").isNotNull())
        .orderBy("id")
        .limit(n)
        .select(F.col("id").alias("query_id"), F.col("vector").alias("query_vec"))
        .collect()
    )
    return spark.createDataFrame(rows, "query_id long, query_vec array<double>")


def _grow(spark, coll, rounds=4, fold=False):
    for gen in range(rounds):
        base = 1_000 * (gen + 1)
        coll.ingest(
            spark.createDataFrame(
                _vops(range(base, base + 200), epoch0=100_000 * (gen + 1)),
                SCHEMA,
            )
        )
        if fold:
            coll.refresh_indexes()  # advance the growth odometer


class TestSingleSnapshotQueryPath:
    """ADVICE r11 high: topk_two_phase must derive EVERY generation
    artifact — stable path, centroids, codebooks, rotation, epoch,
    knobs, planner stats — from ONE manifest read. A generation swap
    landing between independent re-reads yielded a mixed view (old
    posting lists decoded with new codebooks → silently garbage ADC
    shortlist, or old index + new epoch → rows invisible to both
    branches)."""

    def test_query_consistent_under_manifest_tampering(self, spark, coll):
        q = _queries(spark, coll)
        want = sorted(
            (r.query_id, r.vec_id, r.rank)
            for r in coll.topk_two_phase(q, k=5, nprobe=8).collect()
        )
        # poison every manifest read AFTER the first: if the query path
        # re-reads the manifest anywhere past its initial snapshot, it
        # resolves generation paths that do not exist and dies — the
        # exact shape of a swap racing the query, made deterministic
        real_meta = coll._meta
        state = {"calls": 0}

        def tampering_meta():
            state["calls"] += 1
            m = real_meta()
            if state["calls"] > 1:
                m = dict(m)
                m["index_stable_path"] = "index_stable_gBOGUS"
                m["index_centroids_path"] = "index_centroids_stable_gBOGUS"
                m["index_codebooks_path"] = "index_codebooks_gBOGUS"
                m["index_rotation_path"] = "index_rotation_gBOGUS"
                m["index_epoch"] = 10**15
                m["index_build_id"] = 999_999
            return m

        coll._meta = tampering_meta
        try:
            got = sorted(
                (r.query_id, r.vec_id, r.rank)
                for r in coll.topk_two_phase(q, k=5, nprobe=8).collect()
            )
        finally:
            coll._meta = real_meta
            coll._evict_index_artifacts()
        assert got == want
        # and the path really did take exactly one manifest snapshot
        assert state["calls"] == 1

    def test_filtered_query_consistent_under_manifest_tampering(
        self, spark, coll
    ):
        # the filtered path reads MORE manifest state (planner stats,
        # correlation histograms, escalation knobs) — same contract
        coll.analyze()
        q = _queries(spark, coll)
        want = sorted(
            (r.query_id, r.vec_id)
            for r in coll.topk_two_phase(
                q, k=5, nprobe=8, tenant="t0"
            ).collect()
        )
        real_meta = coll._meta
        state = {"calls": 0}

        def tampering_meta():
            state["calls"] += 1
            m = real_meta()
            if state["calls"] > 1:
                m = dict(m)
                m["index_stable_path"] = "index_stable_gBOGUS"
                m["index_codebooks_path"] = "index_codebooks_gBOGUS"
            return m

        coll._meta = tampering_meta
        try:
            got = sorted(
                (r.query_id, r.vec_id)
                for r in coll.topk_two_phase(
                    q, k=5, nprobe=8, tenant="t0"
                ).collect()
            )
        finally:
            coll._meta = real_meta
            coll._evict_index_artifacts()
        assert got == want
        assert state["calls"] == 1


class TestManifestWriterLock:
    """ADVICE r11 medium: _meta_update was an unlocked read-modify-
    write — concurrent writers (ingest odometer ticks beside a
    background swap) lost updates. _meta_mutate runs the whole RMW
    under the per-path writer lock."""

    def test_concurrent_mutations_lose_nothing(self, spark, tmp_path):
        c = VectorCollection(spark, str(tmp_path / "lk"), metric="ip")
        n_threads, n_each = 8, 40

        def bump():
            for _ in range(n_each):
                c._meta_mutate(
                    lambda m: m.__setitem__("ctr", m.get("ctr", 0) + 1)
                )

        ts = [threading.Thread(target=bump) for _ in range(n_threads)]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        meta = c._meta()
        assert meta["ctr"] == n_threads * n_each
        assert meta["meta_version"] >= n_threads * n_each

    def test_fold_superseded_mid_swap_skips_advance(self, spark, coll):
        """Generation guard: a fold whose build generation was swapped
        out mid-fold must NOT advance index_epoch/index_rows onto the
        new generation's bookkeeping — its window is re-covered by the
        new generation's delta."""
        coll.ingest(
            spark.createDataFrame(_vops(range(300, 320), epoch0=50_000), SCHEMA)
        )
        # simulate the race deterministically: a rebuild swap lands
        # right after the fold captured its manifest snapshot
        real_fold_corr = coll._fold_correlation_stats
        swapped = {"done": False}

        def swap_then_fold(*a, **kw):
            if not swapped["done"]:
                swapped["done"] = True
                coll.build_indexes(nlist=8, m=4, nbits=4)
            return real_fold_corr(*a, **kw)

        coll._fold_correlation_stats = swap_then_fold
        try:
            out = coll.refresh_indexes()
        finally:
            coll._fold_correlation_stats = real_fold_corr
        assert out.get("superseded_mid_fold") is True
        meta = coll._meta()
        # the new build's swap owns the epoch: it covered everything
        # (build bound read max epoch AFTER the ingest above), and the
        # superseded fold didn't drag it back or skew index_rows
        assert meta["index_epoch"] >= 50_000
        assert meta["index_rows"] == meta["index_rows_built"]


class TestSnapshotVersionRetention:
    """Round 12, symmetric with index-generation retention: a reader
    that resolved the _CURRENT pointer just before a compact swap must
    still be able to scan the superseded snapshot version."""

    def test_prebound_snapshot_plan_survives_compact_gc(self, spark, tmp_path):
        c = VectorCollection(spark, str(tmp_path / "sv"), metric="ip")
        c.ingest(spark.createDataFrame(_vops(range(100)), SCHEMA))
        c.compact()
        plan = c.current()  # binds the v1 snapshot dir
        # two more compact cycles, each swapping + GC'ing versions
        for rep in (1, 2):
            c.ingest(
                spark.createDataFrame(
                    _vops(range(100 * rep, 100 * rep + 50),
                          epoch0=10_000 * rep),
                    SCHEMA,
                )
            )
            c.compact()
        assert plan.count() == 100  # the superseded version still reads
        # aging the window reclaims everything but the live version
        c._gc_generations("snapshot", retention_s=0.0)
        import os as _os

        vers = [d for d in _os.listdir(c.path) if d.startswith("current_v")]
        assert len(vers) == 1
        assert c.current().count() == 200

    def test_crashed_version_dirs_reclaimed_immediately(self, spark, tmp_path):
        from write_optimized_vector_database_spark import collection as CM

        c = VectorCollection(spark, str(tmp_path / "cv"), metric="ip")
        c.ingest(spark.createDataFrame(_vops(range(50)), SCHEMA))
        c.compact()

        class _Boom(Exception):
            pass

        def hook(point):
            if point == "snapshot_written":
                raise _Boom(point)

        c.ingest(spark.createDataFrame(_vops(range(50, 80), epoch0=5000), SCHEMA))
        CM.FAULT_INJECT_HOOK = hook
        try:
            with pytest.raises(_Boom):
                c.compact()
        finally:
            CM.FAULT_INJECT_HOOK = None
        # the crashed dir was written but never pointed to: no history
        # entry, so the next compact's GC reclaims it despite retention
        c.compact()
        import os as _os

        vers = {d for d in _os.listdir(c.path) if d.startswith("current_v")}
        live = c._current_dir().rsplit("/", 1)[-1]
        retained = {
            p
            for h in c._meta().get("snapshot_gen_history", [])
            for p in h["paths"]
        }
        assert vers == {live} | retained


class TestIvfGenerationRetention:
    """Round 12: build_ivf_index is generation-versioned too — the old
    in-place overwrite deleted the live dirs under racing readers."""

    def test_prebound_ivf_plan_survives_rebuild_gc(self, spark, tmp_path):
        c = VectorCollection(spark, str(tmp_path / "ivfg"), metric="ip")
        c.ingest(spark.createDataFrame(_vops(range(150)), SCHEMA))
        c.compact()
        c.build_ivf_index(nlist=8)
        q = _queries(spark, c)
        plan = c.topk_ivf(q, k=5, nprobe=8)  # binds gen-1 dirs
        c.build_ivf_index(nlist=8)
        c.build_ivf_index(nlist=8)
        assert plan.count() == q.count() * 5  # superseded gen still reads
        # fresh queries resolve the live generation
        assert c.topk_ivf(q, k=5, nprobe=8).count() == q.count() * 5
        # aging out the window leaves only the live generation's dirs
        c._gc_generations("ivf", retention_s=0.0)
        import os as _os

        ivf_dirs = [
            d
            for d in _os.listdir(c.path)
            if d.startswith("index_ivf") or d.startswith("index_centroids_ivf")
        ]
        assert len(ivf_dirs) == 2  # one index dir + one centroids dir
        # correlation histograms were swapped WITH the generation: they
        # describe the live geometry and stay armed
        meta = c._meta()
        assert (meta.get("corr_stats") or {}).get("index") == "ivf"
        assert meta.get("corr_stats_fresh") is True


class TestTagDictGenerationRetention:
    """Round 12: the tag dictionary replace was rmtree+rename — a
    no-dict window plus a dead dir under any reader that bound the
    dict just before a string-tag ingest extended it."""

    def _sops(self, ids, tags_of, epoch0=0):
        return [
            ("INSERT", i, "t0", "ns0", [float(i)] * 4, tags_of(i), epoch0 + i)
            for i in ids
        ]

    SSCHEMA = (
        "op string, id long, tenant string, namespace string, "
        "vector array<float>, tags array<string>, epoch long"
    )

    def test_concurrent_extensions_never_collide_ids(self, spark, tmp_path):
        """Round 13: the whole extend (read dict → assign ids → write →
        swap) is one critical section under the manifest writer lock.
        Before, two concurrent string-tag ingests could assign the SAME
        next id to different strings (a query for one tag silently
        matching the other's rows) and the losing extension's novel
        tags vanished from the live dict while its rows were already
        encoded against them."""
        c = VectorCollection(spark, str(tmp_path / "ctd"), metric="ip")
        c.ingest(
            spark.createDataFrame(
                self._sops(range(10), lambda i: ["seed"]), self.SSCHEMA
            )
        )
        errors: list[str] = []

        def extend(tag: str, lo: int):
            try:
                c.ingest(
                    spark.createDataFrame(
                        self._sops(
                            range(lo, lo + 10), lambda i: [tag], epoch0=lo * 10
                        ),
                        self.SSCHEMA,
                    )
                )
            except Exception as e:  # noqa: BLE001
                errors.append(repr(e))

        ts = [
            threading.Thread(target=extend, args=(f"cc{k}", 100 * (k + 1)))
            for k in range(4)
        ]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        assert not errors, errors
        dict_rows = c.tag_dict().collect()
        ids = [r.tag_id for r in dict_rows]
        tags = {r.tag for r in dict_rows}
        # every extension's tag survives, every id is unique
        assert {"seed", "cc0", "cc1", "cc2", "cc3"} <= tags
        assert len(ids) == len(set(ids))
        # and each tag's rows are retrievable through the encoded ids —
        # cross-assigned ids would return another tag's rows here
        for k in range(4):
            lo = 100 * (k + 1)
            got = {
                r.id
                for r in c.current()
                .join(
                    c.tag_dict().filter(F.col("tag") == f"cc{k}"),
                    F.expr("array_contains(tags, tag_id)"),
                )
                .select("id")
                .collect()
            }
            assert got == set(range(lo, lo + 10)), (k, sorted(got)[:5])

    def test_prebound_dict_survives_extension_gc(self, spark, tmp_path):
        c = VectorCollection(spark, str(tmp_path / "td"), metric="ip")
        c.ingest(
            spark.createDataFrame(
                self._sops(range(20), lambda i: [f"tag{i % 3}"]), self.SSCHEMA
            )
        )
        td = c.tag_dict()  # binds generation 1
        assert td is not None
        before = {r.tag: r.tag_id for r in td.collect()}
        # two more string-tag ingests extend the dict (two swaps + GCs)
        for rep in (1, 2):
            c.ingest(
                spark.createDataFrame(
                    self._sops(
                        range(100 * rep, 100 * rep + 10),
                        lambda i: [f"new{i % 2}_{i % 5}"],
                        epoch0=10_000 * rep,
                    ),
                    self.SSCHEMA,
                )
            )
        # the prebound plan still reads (superseded gen retained)...
        assert {r.tag: r.tag_id for r in td.collect()} == before
        # ...ids stayed append-only across extensions...
        after = {r.tag: r.tag_id for r in c.tag_dict().collect()}
        assert all(after[t] == i for t, i in before.items())
        assert len(after) > len(before)
        # ...and aging the window out leaves exactly the live dir
        c._gc_generations("tag_dict", retention_s=0.0)
        import os as _os

        dirs = [d for d in _os.listdir(c.path) if d.startswith("tag_dict")]
        assert dirs == [c._meta()["tag_dict_path"]]


class TestIndexMaintainer:
    """VERDICT r11 #1: the serving-during-rebuild orchestration is an
    engine API now — background resize, mutator serialization, pool
    isolation — not a bench-harness pattern each deployment rederives."""

    def test_background_resize_while_serving(self, spark, coll):
        q = _queries(spark, coll)
        maint = IndexMaintainer(coll, alpha=4.0)
        _grow(spark, coll)
        launched = False
        for _ in range(6):
            st = maint.tick()
            if st.get("resize_launched"):
                launched = True
                break
        assert launched, "odometer never tripped a background resize"
        # serve queries WHILE the rebuild runs (old generation until the
        # swap, new after — every answer must be well-formed)
        served = 0
        while maint.is_rebuilding() and served < 20:
            n = coll.topk_two_phase(q, k=5, nprobe=8).count()
            assert n == q.count() * 5
            served += 1
        ev = maint.join(timeout=600)
        assert ev is not None and ev["error"] is None
        assert ev["t_end"] is not None
        # rebuild jobs ran in the maintenance scheduler pool
        assert ev["pool"] == "maintenance"
        # pool assignment never leaked into this (caller) thread
        assert (
            spark.sparkContext.getLocalProperty("spark.scheduler.pool") is None
        )
        d = coll.describe_index()
        assert d["needs_rebuild"] is False  # odometer reset by the swap
        assert int(coll._meta()["index_nlist"]) > 8  # √n-scaled
        # post-swap serving: RYW over everything grown mid-lifecycle
        assert coll.topk_two_phase(q, k=5, nprobe=8).count() == q.count() * 5

    def test_tick_folds_during_rebuild(self, spark, coll):
        """Round 13 (VERDICT r12 #1): folds keep flowing while the
        background rebuild runs — at scale the rebuild wall is hours
        and pausing folds grows the unfolded delta without bound. A
        tick landing mid-rebuild must still fold the delta into the
        SERVING generation (reader-safe overlay), never launch a
        second rebuild, and the eventual swap must land clean."""
        maint = IndexMaintainer(coll, alpha=4.0)
        _grow(spark, coll, rounds=4, fold=True)
        st = maint.tick()
        if not st.get("resize_launched"):
            pytest.skip("growth did not trip the odometer in one tick")
        folded_during = False
        while maint.is_rebuilding():
            # new delta lands while the rebuild wall is in progress...
            coll.ingest(
                spark.createDataFrame(
                    _vops([50_000 + len(str(folded_during))],
                          epoch0=900_000), SCHEMA
                )
            )
            st2 = maint.tick()
            assert st2["rebuilding"] in (True, False)
            if st2["rebuilding"] and st2["folded"]:
                # ...and the tick folded it instead of skipping
                folded_during = True
                assert "resize_launched" not in st2  # never a second one
                break
        ev = maint.join(timeout=600)
        assert ev is not None and ev["error"] is None
        if not folded_during:
            pytest.skip("rebuild finished before a fold could land")
        # post-swap bookkeeping is the rebuild's, not the stale fold's
        d = coll.describe_index()
        assert d["needs_rebuild"] is False

    def test_tick_fold_lands_while_rebuild_blocked(self, spark, coll):
        """Deterministic fold-beside-rebuild witness (round 13): hold
        the background rebuild at its pre-swap fault point, land fresh
        delta, and tick — the fold must run against the still-serving
        generation (folded=True, rebuilding=True), and the released
        swap must still land clean with the mid-wall rows re-covered
        by the new generation's delta."""
        from write_optimized_vector_database_spark import collection as CM

        maint = IndexMaintainer(coll, alpha=4.0)
        _grow(spark, coll, rounds=4, fold=True)  # 5×: odometer tripped
        gate = threading.Event()
        reached = threading.Event()

        def hook(point):
            if point == "index_built_preswap":
                reached.set()
                gate.wait(timeout=300)

        CM.FAULT_INJECT_HOOK = hook
        try:
            assert maint.resize_async() is True
            assert reached.wait(timeout=300), "rebuild never reached preswap"
            # rebuild mid-wall: new delta arrives and the tick FOLDS it
            # (a norm-dominating vector so the RYW check below is
            # guaranteed top-k under inner product)
            coll.ingest(
                spark.createDataFrame(
                    [("INSERT", 77_777, "mid", "ns0", [9.0] * 8, [0], 950_000)],
                    SCHEMA,
                )
            )
            st = maint.tick()
            assert st["rebuilding"] is True
            assert st["folded"] is True, st
            assert st["fold"]["n_touched"] == 1
            assert "resize_launched" not in st  # never a second rebuild
        finally:
            gate.set()
            ev = maint.join(timeout=600)
            CM.FAULT_INJECT_HOOK = None
        assert ev is not None and ev["error"] is None
        # the swap owns the post-rebuild bookkeeping; the mid-wall row
        # (epoch past the build bound) serves from the delta branch
        meta = coll._meta()
        assert meta["index_fold_overrides"] == {}  # overlays retired
        assert coll.current().filter(F.col("id") == 77_777).count() == 1
        q = spark.createDataFrame(
            [(0, [1.0] * 8)], "query_id long, query_vec array<double>"
        )
        got = {
            r.vec_id
            for r in coll.topk_two_phase(q, k=5, nprobe=16).collect()
        }
        assert 77_777 in got

    def test_tick_surfaces_vacuumed_past_and_self_heals(self, spark, coll):
        """ADVICE r12 medium: a collection vacuumed past its index
        epoch used to make tick() permanently silent (bare
        {folded: False} — no folds, no resize, no signal). Now the
        status carries fold_error and, when the maintainer owns sizing
        (alpha set), a FULL rebuild launches to restore incremental
        maintainability."""
        coll.ingest(
            spark.createDataFrame(_vops([9_001], epoch0=500_000), SCHEMA)
        )
        coll.compact()
        coll.vacuum(retain_for_index=False)  # watermark passes the index
        maint = IndexMaintainer(coll, alpha=4.0)
        st = maint.tick()
        assert st["folded"] is False
        assert "vacuumed past" in st["fold_error"]
        assert st["resize_launched"] is True
        assert st["resize_reason"] == "vacuumed_past_full_rebuild"
        ev = maint.join(timeout=600)
        assert ev is not None and ev["error"] is None, ev
        assert ev["forced"] is True
        # repaired: the index epoch reaches the vacuumed row and folds
        # work again (the changelog tail now starts at the new epoch)
        assert coll._index_epoch() >= 500_000
        assert coll.refresh_indexes()["n_touched"] == 0
        # recommend-only maintainers (alpha=None) surface the error but
        # never launch — sizing is the deployment's decision
        coll.ingest(
            spark.createDataFrame(_vops([9_002], epoch0=600_000), SCHEMA)
        )
        coll.compact()
        coll.vacuum(retain_for_index=False)
        ro = IndexMaintainer(coll, alpha=None).tick()
        if "fold_error" in ro:
            assert "resize_launched" not in ro

    def test_no_double_launch(self, spark, coll):
        maint = IndexMaintainer(coll, alpha=4.0)
        _grow(spark, coll, rounds=4)
        maint.tick()
        if maint.is_rebuilding():
            assert maint.resize_async() is False
        maint.join(timeout=600)

    def test_tick_mutator_busy_under_real_contention(self, spark, coll):
        """VERDICT r12 #3: the `skipped: mutator_busy` path, witnessed
        under REAL contention — N threads hammering tick() on one
        maintainer concurrently. Exactly the ticks that found the guard
        free run a fold; the rest return the skip marker without
        touching the collection; nothing deadlocks or errors."""
        coll.ingest(
            spark.createDataFrame(_vops(range(300, 310), epoch0=50_000), SCHEMA)
        )
        maint = IndexMaintainer(coll, alpha=None)
        results: list[dict] = []
        errors: list[str] = []
        lock = threading.Lock()

        def hammer():
            for _ in range(3):
                try:
                    st = maint.tick()
                except Exception as e:  # noqa: BLE001
                    with lock:
                        errors.append(repr(e))
                    return
                with lock:
                    results.append(st)

        ts = [threading.Thread(target=hammer) for _ in range(6)]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        assert not errors, errors
        assert len(results) == 18
        skipped = [r for r in results if r.get("skipped") == "mutator_busy"]
        ran = [r for r in results if "skipped" not in r]
        assert len(skipped) + len(ran) == 18
        # at least one thread actually held the guard and folded, and
        # under 6-way hammering at least one tick hit the busy path
        assert any(r.get("folded") for r in ran)
        assert skipped, "no tick ever saw the guard held — not contended"
        # the collection state is exactly one clean fold's: the delta
        # drained once, every later holder saw an empty window
        assert coll.refresh_indexes()["n_touched"] == 0

    def test_fold_only_when_alpha_none(self, spark, coll):
        maint = IndexMaintainer(coll, alpha=None)
        _grow(spark, coll, rounds=4)
        st = maint.tick()
        assert st["folded"] is True
        assert "resize_launched" not in st
        assert not maint.is_rebuilding()

    def test_tick_safe_before_first_build(self, spark, tmp_path):
        c = VectorCollection(spark, str(tmp_path / "nb"), metric="ip")
        c.ingest(spark.createDataFrame(_vops(range(50)), SCHEMA))
        st = IndexMaintainer(c).tick()
        assert st["folded"] is False and st["rebuilding"] is False

    def test_fair_scheduler_conf_points_at_shipped_pools(self):
        import os

        conf = fair_scheduler_conf()
        assert conf["spark.scheduler.mode"] == "FAIR"
        assert os.path.exists(conf["spark.scheduler.allocation.file"])
        text = open(conf["spark.scheduler.allocation.file"]).read()
        assert "maintenance" in text and "default" in text


class TestRecertMissKeepsGeometry:
    """ADVICE r11 low: auto_resize's recert-miss re-ladder must start
    AT the deployed geometry (m/spill/opq), never silently re-certify
    on a weaker index family than the deployment shipped with."""

    def test_re_ladder_floors_at_deployed_knobs(self, spark, tmp_path):
        coll = VectorCollection(spark, str(tmp_path / "rc"), metric="ip")
        coll.ingest(spark.createDataFrame(_vops(range(200)), SCHEMA))
        coll.compact()
        # deployed: the strongest geometry (m=2 for dim=8, spill=3, OPQ)
        coll.build_indexes(nlist=8, m=2, nbits=4, spill=3, use_opq=True)
        # fabricate a valid certificate at those knobs (the test-local
        # shortcut test_autotune.py uses)
        coll._meta_update(
            calibrated_family="ivfpq",
            calibrated_nprobe=8,
            calibrated_recall=0.95,
            calibrated_stale=False,
            calibrated_build_id=int(coll._meta()["index_build_id"]),
            auto_tune={
                "target_recall": 0.9,
                "nprobe": 8,
                "rerank_factor": 4,
                "k": 10,
                "target_met": True,
            },
        )
        _grow(spark, coll, fold=True)
        # force the cheap recert probe to MISS so the ladder re-walks
        coll._measure_serving_recall = lambda **kw: 0.0
        out = coll.auto_resize(alpha=4.0)
        assert out is not None
        meta = coll._meta()
        # the re-certified index is at-or-above the deployed geometry —
        # before the fix the ladder restarted at (m=1, spill=1, no-OPQ)
        assert int(meta["index_m"]) >= 2
        assert int(meta["index_spill"]) >= 3
        assert bool(meta["index_opq"]) is True
        ladder = meta["auto_tune"]["ladder"]
        assert ladder[0]["m"] == 2
        assert ladder[0]["spill"] == 3
        assert ladder[0]["use_opq"] is True
