"""Headline benchmark — the driver runs this per-round and records one
JSON line into BENCH_r{N}.json.

Runs the registry's headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}.

Each query is timed over a full materialization (count + a cheap
checksum collect) so lazy plans can't hide work. A warmup pass on
sf0.001 absorbs JVM/codegen startup.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
WARMUP_DIR = "/root/testdata/sf0.001"

# Headline set: every registered query unless overridden.
BENCH_QUERIES = os.environ.get("SPARK_GRAFT_BENCH_QUERIES", "").split(",")

# Repeats per query (default 1 = one guaranteed pass). On top of this,
# ADAPTIVE medians (VERDICT r05 #1): any registry query whose first run
# lands between MEDIAN_MIN_S and MEDIAN_MAX_S gets 2 more runs and
# reports the MEDIAN — the r05 round showed 8 sub-3 s entries swinging
# 1-2 s on run-order noise alone, which single samples cannot
# adjudicate. Entries above MEDIAN_MAX_S (the scratch-storage builds)
# stay single-shot: their cost is real work, tripling it buys little,
# and the storage section below already medians the lifecycle.
REPEATS = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "1")))
MEDIAN_MIN_S = float(os.environ.get("SPARK_GRAFT_BENCH_MEDIAN_MIN_S", "1.0"))
MEDIAN_MAX_S = float(os.environ.get("SPARK_GRAFT_BENCH_MEDIAN_MAX_S", "20.0"))

# Entries governed by medians even ABOVE the adaptive band (VERDICT r06
# #2): the costliest registry entry must not be the one with a single
# sample. Its per-rung breakdown additionally lands in the manifest's
# auto_tune ladder (build_s/probe_s per rung).
FORCE_MEDIAN = {"vec_autotune_build_recall"}

# The storage lifecycle (ingest → compact → index build → two-phase →
# refresh → recovery) ALWAYS runs ≥3 repeats and reports medians: with
# one sample, JVM/page-cache pressure made the same code measure 11.9 s
# and 23.3 s in the same round (VERDICT r04 — "too noisy to govern").
# Each repeat uses a fresh scratch dir; p95 is reported alongside.
STORAGE_REPEATS = max(3, int(os.environ.get("SPARK_GRAFT_BENCH_STORAGE_REPEATS", "3")))

# Shared process-lifetime lifecycle fixtures (queries_ext helpers) that
# must be pre-warmed BEFORE any timing so their one-shot build never
# bills to whichever entry happens to run first. tools/bench_ab.py
# iterates this same tuple — add new shared fixtures HERE, once.
SHARED_LIFECYCLE_FIXTURES = (
    "_filtered_2p_collection",
    "_rebuild_under_ingest_collection",
    "_recert_after_resize_state",
    "_maintainer_lifecycle_state",
    "_fold_during_rebuild_state",
)


def _pctl(xs: list[float], q: float) -> float:
    ys = sorted(xs)
    i = min(len(ys) - 1, max(0, round(q * (len(ys) - 1))))
    return ys[i]


def _host_steal_jiffies() -> int:
    """Cumulative CPU-steal jiffies of the host (field 8 of /proc/stat's
    cpu line). This box demonstrably loses tens of percent to the
    hypervisor in half-hour windows (three same-code full runs measured
    211.8 / 233.7 / 273.2 s with a UNIFORM per-query inflation), so each
    query records its steal delta — the one number that separates 'the
    code got slower' from 'the host got noisier'."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        return int(parts[8])
    except Exception:  # noqa: BLE001 — non-Linux or unreadable
        return -1


def _steal_clean(run_s: float, steal_jf: int, floor_jf: int) -> bool:
    """Is a timed sample governed by the code rather than the hypervisor?
    Duration-aware: a flat jiffy threshold would brand every naturally
    long entry stolen (a 40 s build at a 1% steal rate accrues >500 jf),
    permanently excluding it from round-over-round comparison. A sample
    is clean when its steal stays under max(floor, ~1% of capacity for
    its duration): 35 jf/s ≈ 1.1% of this box's 32-core jiffy rate. The
    r07-class bursts this exists to catch ran at 300+ jf/s."""
    rate = float(os.environ.get("SPARK_GRAFT_STEAL_RATE_JF_PER_S", "35"))
    return steal_jf <= max(floor_jf, rate * run_s)


def _jvm_gc_ms(spark) -> int:
    """Cumulative stop-the-world GC milliseconds of the driver JVM —
    recorded per query (VERDICT r05 #6) so a timing swing can be
    attributed to GC pressure from the artifact alone."""
    try:
        beans = (
            spark.sparkContext._jvm.java.lang.management.ManagementFactory
            .getGarbageCollectorMXBeans()
        )
        return int(sum(b.getCollectionTime() for b in beans))
    except Exception:  # noqa: BLE001
        return -1


def _errmsg(e: Exception) -> str:
    """str(e) that survives a dead py4j gateway: Py4JJavaError.__str__
    round-trips through the gateway and raises if the JVM is gone —
    which turned one failed bench section into a crashed bench."""
    try:
        return str(e)
    except Exception:  # noqa: BLE001
        return f"<{type(e).__name__}: unrenderable (gateway down?)>"


def main() -> None:
    from write_optimized_vector_database_spark.queries import registry
    from write_optimized_vector_database_spark.session import get_spark

    spark = get_spark("bench")
    reg = registry()
    names = [n for n in BENCH_QUERIES if n] or list(reg)

    # Warmup: run the first query once at the smoke scale factor.
    try:
        reg[names[0]].fn(spark, WARMUP_DIR).count()
    except Exception:  # noqa: BLE001
        pass

    # Build the shared process-lifetime fixtures BEFORE timing: each is
    # shared state (ingest+compact+build lifecycles, VERDICT r07 #2),
    # not the read path its entries measure — warming here keeps the
    # one-shot build out of every sample instead of only out of samples
    # 2..n. Round 12: the recert / rebuild-under-ingest / maintainer
    # lifecycle fixtures join the list — before this, whether their
    # entry recorded the COLD lifecycle wall (~90 s) or the warm read
    # (~0.4 s) depended on whether the cold run happened to be
    # steal-saturated and re-run, making round-over-round totals
    # incomparable (the r12 run-A/run-B discrepancy). The cold cost is
    # documented in each fixture's docstring; the timed entry uniformly
    # measures the warm read.
    for warm_name in SHARED_LIFECYCLE_FIXTURES:
        try:
            import write_optimized_vector_database_spark.queries_ext as _qx

            getattr(_qx, warm_name)(spark, SF_DIR)
        except Exception as e:  # noqa: BLE001
            print(f"bench: fixture warmup {warm_name} failed: {e}", file=sys.stderr)

    timings: dict[str, float] = {}
    p95: dict[str, float] = {}
    # per-query provenance (VERDICT r05 #6): run position + driver-GC
    # delta + raw samples, so future 0.4↔2.4 s swings are attributable
    # from BENCH_FULL alone instead of "almost certainly noise"
    query_meta: dict[str, dict] = {}
    # Debris cap: Spark's ContextCleaner frees finished-stage shuffle
    # files, dead broadcasts, and unreferenced persisted blocks only
    # after a DRIVER GC — across a 167-query single-JVM run the backlog
    # measurably taxes late queries (the r06 full run showed the
    # two-phase family at order ~140 running 1.4-1.7x its fresh-session
    # time; standalone re-runs matched r05 exactly). A periodic
    # System.gc() keeps the cleaner draining without evicting any LIVE
    # cache (unlike catalog.clearCache()).
    GC_EVERY = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_GC_EVERY", "12")))

    # Registry steal policy (round 8, extending VERDICT r07 #1 beyond the
    # storage section): per-RUN steal provenance, medians over the clean
    # runs only, and a deferred re-run pass for any query whose every run
    # was stolen — the r08 full run shipped doc_ngram_jaccard_verify at a
    # 12.7 s median from runs [6.8, 16.5, 12.7] under steal_jf 12,662,
    # which describes the hypervisor, not the plan.
    REG_STEAL_SAT_JF = int(os.environ.get("SPARK_GRAFT_REG_STEAL_SAT_JF", "500"))

    def _run_query_once(name: str) -> tuple[float, int]:
        s0 = _host_steal_jiffies()
        t0 = time.time()
        reg[name].fn(spark, SF_DIR).count()
        return time.time() - t0, _host_steal_jiffies() - s0

    def _median_and_meta(name: str, order: int, samples: list[tuple[float, int]],
                         gc_delta: int) -> None:
        runs = [s[0] for s in samples]
        clean = [
            s[0] for s in samples if _steal_clean(s[0], s[1], REG_STEAL_SAT_JF)
        ]
        timings[name] = round(_pctl(clean if clean else runs, 0.5), 3)
        if len(runs) > 1:
            p95[name] = round(_pctl(runs, 0.95), 3)
        query_meta[name] = {
            "order": order,
            "gc_ms": gc_delta,
            # total steal across the runs plus the per-run split — the
            # per-run deltas are what let a reader (and the rerun pass
            # below) separate a stolen sample from a slow plan
            "steal_jf": sum(s[1] for s in samples),
            "runs": [round(x, 3) for x in runs],
            "runs_steal_jf": [s[1] for s in samples],
            "clean_n": len(clean),
        }

    def _measure_query(name: str, order: int) -> None:
        gc0 = _jvm_gc_ms(spark)
        samples: list[tuple[float, int]] = [
            _run_query_once(name) for _ in range(REPEATS)
        ]
        # adaptive medians: noisy-band entries get 2 extra runs
        if REPEATS == 1 and (
            MEDIAN_MIN_S < samples[0][0] <= MEDIAN_MAX_S or name in FORCE_MEDIAN
        ):
            samples += [_run_query_once(name) for _ in range(2)]
            # excursion guard: this host shows multi-second CPU-steal
            # bursts (r06 saw the same plan measure [1.5, 6.1, 49.2]
            # back-to-back) — a 3-sample median is still polluted when
            # a burst spans two of them, so take up to 2 extra samples
            # while the spread stays implausible for an unchanged plan
            while len(samples) < 5 and (
                max(s[0] for s in samples) > 3 * min(s[0] for s in samples)
            ):
                samples.append(_run_query_once(name))
        _median_and_meta(name, order, samples, _jvm_gc_ms(spark) - gc0)

    for order, name in enumerate(names):
        if order and order % GC_EVERY == 0:
            spark.sparkContext._jvm.System.gc()
        try:
            _measure_query(name, order)
        except Exception as e:  # noqa: BLE001
            print(f"bench error in {name}: {_errmsg(e)}", file=sys.stderr)
            timings[name] = -1.0

    # Deferred re-run pass: queries in the >1 s median band whose EVERY
    # run was stolen get one more chance after a bounded low-steal
    # cool-down; a sub-band query's absolute error is bounded by the
    # band floor, so only the adjudicable ones pay the rerun. Entries
    # still all-stolen after the pass ship steal_saturated=True.
    def _registry_saturated() -> list[str]:
        return [
            n
            for n, m in query_meta.items()
            if m.get("clean_n") == 0 and timings.get(n, -1) > MEDIAN_MIN_S
        ]

    saturated = _registry_saturated()
    if saturated:
        print(
            f"registry steal rerun: {len(saturated)} all-stolen entries "
            f"{saturated[:8]}...",
            file=sys.stderr,
        )
        waited = 0.0
        max_wait = float(os.environ.get("SPARK_GRAFT_STEAL_COOLDOWN_S", "240"))
        while waited < max_wait:
            s0 = _host_steal_jiffies()
            time.sleep(5)
            waited += 5
            if _host_steal_jiffies() - s0 < 25:
                break
        for name in saturated:
            try:
                _measure_query(name, query_meta[name]["order"])
                query_meta[name]["rerun_after_steal"] = True
            except Exception as e:  # noqa: BLE001
                print(f"bench rerun error in {name}: {_errmsg(e)}", file=sys.stderr)
    for name, m in query_meta.items():
        m["steal_saturated"] = (
            m.get("clean_n") == 0 and timings.get(name, -1) > MEDIAN_MIN_S
        )

    # Ingest-throughput bench (BASELINE.md: changelog append throughput):
    # synthesize the WAL-shaped changelog from the embeddings fixture and
    # ingest it (dedup + normalize + hash + parquet append) into a scratch
    # collection, then compact. Wall seconds reported like any query.
    #
    # Release everything the registry prelude cached first: persisted
    # DataFrames (minhash signature cache), catalog cache, and the
    # streaming state-store providers all share this JVM's 8g heap, and
    # the leftover pressure was measured to degrade the index-build and
    # two-phase timings below by up to 10x versus a fresh session.
    try:
        from write_optimized_vector_database_spark.queries_dedup import _SIG_CACHE

        for df in list(_SIG_CACHE.values()):
            df.unpersist(blocking=True)
        _SIG_CACHE.clear()
    except Exception as e:  # noqa: BLE001
        print(f"bench: sig-cache release failed: {e}", file=sys.stderr)
    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()

    import shutil
    import tempfile

    from write_optimized_vector_database_spark.collection import VectorCollection
    from write_optimized_vector_database_spark.operators.changelog import synthetic_changelog

    extra_metrics: dict = {}
    storage_runs: dict[str, list[float]] = {}
    wa = None
    try:
        from pyspark.sql import functions as F

        # Replicate the changelog ~40× (distinct ids per replica) so the
        # measurement is throughput-bound, not job-overhead-bound —
        # ~400k ops at sf0.1 (reference target: 50k vectors/s, types.h:142;
        # measured ~113k ops/s at this batch size on local[32]).
        log = synthetic_changelog(spark, SF_DIR)
        big = (
            log.crossJoin(spark.range(160).select(F.col("id").alias("__rep")))
            .withColumn("id", F.col("id") + F.col("__rep") * 10_000_000)
            .withColumn("epoch", F.col("epoch") + F.col("__rep") * 1_000_000)
            .drop("__rep")
        )
        n_ops = big.count()
        qdf = (
            spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
            .filter(F.col("vec_id") < 8)
            .select(
                F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("query_vec"),
            )
        )
        delta = (
            log.withColumn("id", F.col("id") + 900_000_000)
            .withColumn("epoch", F.col("epoch") + 500_000_000)
        )

        # Per-repeat provenance for the storage section (VERDICT r06 #1):
        # the registry section already records {order, gc_ms, steal_jf,
        # runs} per query, but the one unadjudicated 2x swing of r06
        # (build_indexes_ivfpq runs [14.1, 31.0, 28.4]) was in the
        # storage section, which recorded bare seconds. Each timed step
        # now carries its repeat index + steal/GC deltas so excursions
        # can be attributed from BENCH_FULL alone.
        storage_meta: dict[str, list[dict]] = {}
        from contextlib import contextmanager

        @contextmanager
        def timed(name: str, rep: int):
            s0, g0 = _host_steal_jiffies(), _jvm_gc_ms(spark)
            t0 = time.time()
            yield
            dt = time.time() - t0
            storage_runs.setdefault(name, []).append(dt)
            storage_meta.setdefault(name, []).append(
                {
                    "rep": rep,
                    "run": round(dt, 3),
                    "steal_jf": _host_steal_jiffies() - s0,
                    "gc_ms": _jvm_gc_ms(spark) - g0,
                }
            )
            print(f"storage[{name}] rep={rep} run={dt:.2f}s", file=sys.stderr)

        # Excursion guard, extended to the storage section (VERDICT r06
        # #1): when any step's spread is implausible for an unchanged
        # plan (max > 3x min — the documented CPU-steal signature), run
        # up to 2 extra full lifecycles so the median is not governed by
        # a polluted sample.
        MAX_STORAGE_REPEATS = STORAGE_REPEATS + 2

        # Steal-saturation policy (VERDICT r07 #1): the r07 artifact
        # closed with EVERY build_indexes_ivfpq repeat inside a CPU-steal
        # burst (steal_jf 13k-24k), so its shipped median measured the
        # hypervisor, not the code. No storage entry may close all-stolen
        # while budget remains: if every repeat of some entry exceeds
        # STEAL_SAT_JF jiffies (~5 s of stolen CPU), WAIT for the host to
        # calm down (a low-steal probe window) and run extra lifecycles —
        # and ship per-entry `steal_saturated` flags either way so a
        # saturated entry is excluded from round-over-round comparison.
        STEAL_SAT_JF = int(os.environ.get("SPARK_GRAFT_STEAL_SAT_JF", "500"))
        COOLDOWN_MAX_S = float(os.environ.get("SPARK_GRAFT_STEAL_COOLDOWN_S", "240"))
        MAX_TOTAL_REPEATS = MAX_STORAGE_REPEATS + 2

        def _clean_count(name: str) -> int:
            return sum(
                1
                for r in storage_meta.get(name, [])
                if _steal_clean(r["run"], r["steal_jf"], STEAL_SAT_JF)
            )

        def _steal_saturated_entries() -> list[str]:
            return [n for n in storage_meta if _clean_count(n) == 0]

        def _low_clean_entries() -> list[str]:
            # ship-gate (VERDICT r09 #3): a clean median needs n >= 2 —
            # the r09 artifact shipped build_indexes_ivfpq from a SINGLE
            # clean repeat beside two stolen ones, i.e. a point sample
            # with median provenance. Any entry finishing the normal
            # repeats with fewer than 2 clean samples triggers the same
            # cool-down + extra-lifecycle pass saturation already gets.
            return [n for n in storage_meta if _clean_count(n) < 2]

        def _wait_for_low_steal(max_wait_s: float) -> bool:
            """Block until a 5 s probe window shows a near-idle steal
            rate (<25 jf ≈ 5% stolen), or the budget runs out. Returns
            whether the host calmed down — False ships saturated."""
            waited = 0.0
            while waited < max_wait_s:
                s0 = _host_steal_jiffies()
                time.sleep(5)
                waited += 5
                if _host_steal_jiffies() - s0 < 25:
                    return True
            print(
                f"steal cool-down: host never calmed within {max_wait_s}s; "
                f"shipping saturated entries {_steal_saturated_entries()}",
                file=sys.stderr,
            )
            return False

        _rep = 0
        while (
            _rep < STORAGE_REPEATS
            or (
                _rep < MAX_STORAGE_REPEATS
                and any(max(v) > 3 * min(v) for v in storage_runs.values())
            )
            or (
                _rep < MAX_TOTAL_REPEATS
                and _low_clean_entries()
                and _wait_for_low_steal(COOLDOWN_MAX_S)
            )
        ):
            # release cross-repeat JVM debris (localCheckpoint blocks from
            # refresh_indexes, shuffle files, finished-stage state): the
            # ContextCleaner only frees them after a driver-side GC
            spark.catalog.clearCache()
            spark.sparkContext._jvm.System.gc()
            tmp = tempfile.mkdtemp(prefix="bench_ingest_")
            try:
                with timed("ingest_changelog", _rep):
                    coll = VectorCollection(spark, tmp, metric="ip")
                    coll.ingest(big)
                with timed("compact_snapshot", _rep):
                    coll.compact()
                # the flagship read path: residual-IVFPQ stable index +
                # delta merge + exact rerank, build and search separately
                with timed("build_indexes_ivfpq", _rep):
                    coll.build_indexes(nlist=32, m=8, nbits=8)
                with timed("two_phase_search", _rep):
                    coll.topk_two_phase(
                        qdf, k=10, nprobe=8, rerank_factor=4
                    ).collect()
                # second identical search on the same collection: what a
                # serving deployment actually pays per call once the
                # epoch-keyed artifact cache (centroids+codebooks) is warm
                with timed("two_phase_search_warm", _rep):
                    coll.topk_two_phase(
                        qdf, k=10, nprobe=8, rerank_factor=4
                    ).collect()
                # incremental maintenance: ingest a ~1% delta and fold it
                # into the stable index without retraining — the contrast
                # with build_indexes_ivfpq IS the write-optimized story
                coll.ingest(delta)
                # BASELINE "unmerged (delta) fraction <= 5%" (types.h:143),
                # measured at the WORST point of the maintenance cycle:
                # delta fully ingested, refresh not yet run. The scheduled
                # refresh below folds it back to 0.
                idx_epoch = coll._index_epoch()
                cur = coll.current()
                n_delta = cur.filter(F.col("epoch") > idx_epoch).count()
                delta_fraction = round(n_delta / max(cur.count(), 1), 4)
                with timed("refresh_indexes_incremental", _rep):
                    coll.refresh_indexes()
                # warm twin (VERDICT r05 #4): a SECOND delta ingest +
                # refresh on the same collection — identical operator
                # work, but past the JVM/page-cache warmup the first
                # refresh pays (measured [11.5, 3.6, 3.4] cold), so the
                # p95 column measures the operator, not the JVM
                delta2 = (
                    log.withColumn("id", F.col("id") + 910_000_000)
                    .withColumn("epoch", F.col("epoch") + 600_000_000)
                )
                coll.ingest(delta2)
                with timed("refresh_indexes_incremental_warm", _rep):
                    coll.refresh_indexes()
                # recovery: reopen the collection cold (fresh object,
                # cleared file-listing caches — the single-JVM analog of
                # kill→restart) and time the first correct read over
                # snapshot ∪ un-compacted tail. Reference target: ≤30 s
                # to first read (config.h:188-190).
                spark.catalog.clearCache()
                with timed("recovery", _rep):
                    reopened = VectorCollection(spark, tmp, metric="ip")
                    n_recovered = reopened.current().count()
                assert n_recovered > 0
                wa = coll.write_amplification()
            finally:
                shutil.rmtree(tmp, ignore_errors=True)
            _rep += 1

        storage_p95: dict[str, float] = {}
        storage_min: dict[str, float] = {}
        storage_saturated: dict[str, bool] = {}
        storage_clean_n: dict[str, int] = {}
        storage_med: dict[str, float] = {}
        for name, runs in storage_runs.items():
            # shipped medians are over CLEAN repeats (steal_jf within
            # threshold) when any exist — stolen samples measure the
            # hypervisor, not the code (VERDICT r07 #1). An entry with
            # zero clean repeats ships its all-sample median but is
            # stamped steal_saturated=True, excluding it from
            # round-over-round comparison.
            clean = [
                r["run"]
                for r in storage_meta[name]
                if _steal_clean(r["run"], r["steal_jf"], STEAL_SAT_JF)
            ]
            storage_saturated[name] = not clean
            storage_clean_n[name] = len(clean)
            use = clean if clean else runs
            med, p95v = round(_pctl(use, 0.5), 3), round(_pctl(runs, 0.95), 3)
            storage_med[name] = med
            if name != "recovery":
                timings[name] = med
            storage_p95[name] = p95v
            # the min is the least-noise estimate of the code's true cost
            # on this box — the host VM shows multi-second CPU-steal
            # excursions (an 87 s build next to a 25 s one, same code,
            # same session), which medians dampen and the min escapes
            storage_min[name] = round(min(runs), 3)
        dt_med = storage_med["ingest_changelog"]
        extra_metrics = {
            # derived from the clean median (same steal policy as above)
            "ingest_ops_per_s": round(n_ops / storage_med["ingest_changelog"], 1),
            "write_amplification": wa["wa_now"],
            # BASELINE targets are percentile-shaped (p50<=2.3 / p95<=2.6,
            # types.h:144-145) — report the compaction history percentiles
            # alongside the point sample
            "write_amplification_p50": wa.get("wa_p50"),
            "write_amplification_p95": wa.get("wa_p95"),
            "recovery_s": storage_med["recovery"],
            # actual lifecycles run (> STORAGE_REPEATS when the excursion
            # guard added repeats)
            "storage_repeats": _rep,
            "storage_p95": storage_p95,
            "storage_min": storage_min,
            # per-repeat {rep, run, steal_jf, gc_ms} — the provenance the
            # registry section already had (VERDICT r06 #1)
            "storage_meta": storage_meta,
            # steal-saturation verdicts (VERDICT r07 #1): medians above
            # are over the `clean_n` repeats with steal_jf <= threshold;
            # a True flag means NO clean repeat was obtainable within the
            # repeat + cool-down budget and the entry's numbers describe
            # a stolen host window, not the code
            "storage_steal_saturated": storage_saturated,
            "storage_clean_n": storage_clean_n,
            "steal_sat_jf_threshold": STEAL_SAT_JF,
            # raw per-repeat samples — lets a reader separate host-noise
            # excursions from real regressions without rerunning
            "storage_runs": {
                k: [round(x, 3) for x in v] for k, v in storage_runs.items()
            },
            # baseline types.h:143: unmerged delta generation <= 5%
            "delta_fraction": delta_fraction,
        }
        print(
            f"ingested {n_ops} ops in {dt_med:.2f}s (clean median of "
            f"{storage_clean_n['ingest_changelog'] or _rep}) = {n_ops / dt_med:,.0f} ops/s; "
            f"write amplification {wa['wa_now']} "
            f"(baseline p50<=2.3/p95<=2.6, types.h:144-145)",
            file=sys.stderr,
        )
    except Exception as e:  # noqa: BLE001
        print(f"bench error in ingest: {_errmsg(e)}", file=sys.stderr)
        timings["ingest_changelog"] = -1.0

    # BASELINE.md row "exact top-k, 100-query batch": amortized per-query
    # cost at the reference's max batch size (config.h:180). The serving
    # p99 target is a latency number; the batch-engine analog is
    # throughput, so report ms/query over one 100-query job.
    try:
        from pyspark.sql import functions as F

        from write_optimized_vector_database_spark.operators.topk import exact_topk

        emb100 = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        q100 = emb100.filter(F.col("vec_id") < 100).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        # 3-run median with steal provenance (VERDICT r06 #6): the r06
        # single sample showed +29% vs r05, outside the drift band, and
        # could not be adjudicated without repeats.
        b100_runs: list[float] = []
        s0 = _host_steal_jiffies()
        for _ in range(3):
            t0 = time.time()
            n_rows = exact_topk(emb100, q100, k=10, metric="ip").count()
            b100_runs.append(time.time() - t0)
            assert n_rows == 100 * 10
        dt100 = _pctl(b100_runs, 0.5)
        extra_metrics["exact_topk_batch100"] = {
            "wall_s": round(dt100, 3),
            "ms_per_query": round(dt100 * 1000.0 / 100, 2),
            "runs": [round(x, 3) for x in b100_runs],
            "steal_jf": _host_steal_jiffies() - s0,
        }
    except Exception as e:  # noqa: BLE001
        print(f"bench error in batch100: {_errmsg(e)}", file=sys.stderr)

    # Sustained streaming ingest (VERDICT r06 #7): the reference target is
    # a SUSTAINED rate — 50k vectors/s under an 8 ms group commit
    # (types.h:142, config.h:46) — while ingest_ops_per_s above is a
    # batch-append figure. Drive start_changelog_ingest from a
    # rate-limited `rate` source for >= 60 s (12 s on smoke SFs) and
    # report sustained ops/s + micro-batch latency p99 from the stream's
    # own progress telemetry. The rate source self-balances: if a batch
    # overruns the 1 s trigger the next batch reads proportionally more
    # rows, so processed-rows/wall IS the sustained capacity (capped at
    # the offered rate).
    try:
        from pyspark.sql import functions as F

        from write_optimized_vector_database_spark.streaming.ingest import (
            start_changelog_ingest,
        )

        is_full_sf = SF_DIR.rstrip("/").endswith("0.1")
        sustain_s = float(
            os.environ.get(
                "SPARK_GRAFT_BENCH_SUSTAIN_S", "60" if is_full_sf else "12"
            )
        )
        rate = int(os.environ.get("SPARK_GRAFT_BENCH_SUSTAIN_RATE", "100000"))

        def _sustained_run(run_rate: int, dur_s: float) -> dict:
            tmp = tempfile.mkdtemp(prefix="bench_sustain_")
            ckpt = tempfile.mkdtemp(prefix="bench_sustain_ckpt_")
            try:
                src = (
                    spark.readStream.format("rate")
                    .option("rowsPerSecond", run_rate)
                    .option("numPartitions", 8)
                    .load()
                    .select(
                        F.lit("INSERT").alias("op"),
                        F.col("value").alias("id"),
                        F.lit("t0").alias("tenant"),
                        F.pmod(F.col("value"), F.lit(4)).cast("string").alias("namespace"),
                        # 32-dim vector synthesized JVM-side, deterministic in id
                        F.transform(
                            F.sequence(F.lit(0), F.lit(31)),
                            lambda j: F.pmod(
                                F.xxhash64(F.col("value"), j), F.lit(1000)
                            ).cast("double")
                            / F.lit(1000.0),
                        ).cast("array<float>").alias("vector"),
                        F.array(
                            F.pmod(F.col("value"), F.lit(8)).cast("int")
                        ).alias("tags"),
                    )
                )
                steal0 = _host_steal_jiffies()
                q = start_changelog_ingest(src, tmp, ckpt, trigger_seconds=1)
                t_start = time.time()
                time.sleep(dur_s)
                # capture the wall BEFORE progress parsing / stream teardown
                # (ADVICE r07): the counted rows were ingested inside this
                # window, so the denominator must not include the seconds
                # recentProgress iteration and q.stop() take afterwards
                wall = time.time() - t_start
                progress = []
                for p in q.recentProgress:
                    if not isinstance(p, dict):
                        j = getattr(p, "json")
                        p = json.loads(j() if callable(j) else j)
                    progress.append(p)
                q.stop()
                done = [p for p in progress if p.get("numInputRows", 0) > 0]
                if not done:
                    raise RuntimeError("no completed micro-batches in window")
                rows = sum(p["numInputRows"] for p in done)
                durs = sorted(
                    p["durationMs"]["triggerExecution"] for p in done
                )
                return {
                    "offered_rows_per_s": run_rate,
                    "sustained_ops_per_s": round(rows / wall, 1),
                    "duration_s": round(wall, 1),
                    "n_batches": len(done),
                    "batch_latency_p50_ms": _pctl([float(d) for d in durs], 0.5),
                    "batch_latency_p99_ms": _pctl([float(d) for d in durs], 0.99),
                    "steal_jf": _host_steal_jiffies() - steal0,
                }
            finally:
                shutil.rmtree(tmp, ignore_errors=True)
                shutil.rmtree(ckpt, ignore_errors=True)

        base = _sustained_run(rate, sustain_s)
        extra_metrics["sustained_ingest"] = dict(base)
        print(
            f"sustained ingest: {base['sustained_ops_per_s']:,.0f} ops/s "
            f"over {base['duration_s']}s (offered {rate}/s, "
            f"{base['n_batches']} micro-batches, trigger p99 "
            f"{base['batch_latency_p99_ms']} ms)",
            file=sys.stderr,
        )
        # headroom escalation (VERDICT r08 #6): the fixed-rate entry is
        # one operating point — 98.3k/s at a 100k offer said nothing
        # about where saturation actually sits. Step the offered rate
        # 1.5x per probe (short windows: the rate source reaches steady
        # state within a few 1 s triggers) until the stream can no
        # longer keep up — p99 trigger latency above the 1 s trigger,
        # or sustained throughput falling >15% below the offer — and
        # report the measured frontier, not just the healthy point.
        trigger_ms = 1000.0
        probe_s = max(10.0, sustain_s / 4.0)

        def _healthy(c: dict) -> bool:
            return (
                c["batch_latency_p99_ms"] <= trigger_ms
                and c["sustained_ops_per_s"] >= 0.85 * c["offered_rows_per_s"]
            )

        curve = [base]
        probe_rate = rate
        for _ in range(4):
            if not _healthy(curve[-1]):
                break
            probe_rate = int(probe_rate * 1.5)
            curve.append(_sustained_run(probe_rate, probe_s))
            c = curve[-1]
            print(
                f"ingest headroom probe: offered {c['offered_rows_per_s']}/s -> "
                f"sustained {c['sustained_ops_per_s']:,.0f}/s p99 "
                f"{c['batch_latency_p99_ms']} ms",
                file=sys.stderr,
            )
        # capacity = best sustained rate whose p99 stayed inside the
        # trigger (the stream kept up with its own cadence); the 0.85
        # of-offer criterion above only decides whether to KEEP stepping
        # (an offer the source can't fill is already the saturation
        # point, no further probes needed)
        kept_up = [c for c in curve if c["batch_latency_p99_ms"] <= trigger_ms]
        si = extra_metrics["sustained_ingest"]
        si["rate_curve"] = curve
        si["max_sustained_rate"] = (
            max(c["sustained_ops_per_s"] for c in kept_up) if kept_up else None
        )
        # a marginal window can fail the trigger criterion at the base
        # offer (p99 within ~10% of the trigger varies window to window);
        # the throughput the stream DID move is still a real lower bound
        si["max_observed_sustained"] = max(
            c["sustained_ops_per_s"] for c in curve
        )
        # saturation witnessed = the last probe fell over; if all probes
        # stayed healthy the frontier is a lower bound, say so
        si["saturation_witnessed"] = not _healthy(curve[-1])
    except Exception as e:  # noqa: BLE001
        print(f"bench error in sustained ingest: {_errmsg(e)}", file=sys.stderr)

    # Concurrent read/write serving witness (VERDICT r07 #6): the
    # reference's serving story is queries against a collection WHILE
    # ingest is live (buffer scan during writes, msg-buf.h:220-260). The
    # sustained-ingest and query benches above run separately; this
    # entry runs topk_two_phase in a loop against a collection that a
    # rate-limited ingest stream is appending to, measures query latency
    # under write load, and asserts READ-YOUR-WRITES freshness: a query
    # filtered to the stream's tenant can only be answered by rows
    # ingested AFTER the index build (epoch > index_epoch), i.e. through
    # the exact delta branch — returning any row IS the RYW witness.
    try:
        from pyspark.sql import functions as F

        from write_optimized_vector_database_spark.collection import VectorCollection
        from write_optimized_vector_database_spark.operators.changelog import (
            synthetic_changelog,
        )
        from write_optimized_vector_database_spark.streaming.ingest import (
            EPOCH_STRIDE,
            changelog_batch_writer,
        )

        is_full_sf = SF_DIR.rstrip("/").endswith("0.1")
        serve_s = float(
            os.environ.get("SPARK_GRAFT_BENCH_SERVE_S", "20" if is_full_sf else "8")
        )
        # 5k rows/s: live-write pressure without corpus explosion — at
        # 20k/s (the r08 setting) a 60-360 s window grows the 66k-row
        # collection 13-130x, so the witness measured corpus growth
        # (delta scan, then post-fold ADC over a fixed-nlist index), not
        # serving. Real deployments size nlist to n at rebuild; a
        # serving window should not 100x its corpus.
        rate = int(os.environ.get("SPARK_GRAFT_BENCH_SERVE_RATE", "5000"))
        tmp = tempfile.mkdtemp(prefix="bench_serve_")
        ckpt = tempfile.mkdtemp(prefix="bench_serve_ckpt_")
        try:
            coll = VectorCollection(spark, tmp, metric="ip")
            coll.ingest(synthetic_changelog(spark, SF_DIR))
            coll.compact()
            # rotate the WAL tail the snapshot covers so the changelog
            # dir holds ONLY the stream's batch= layout (mixed flat +
            # partitioned layouts are unreadable by design)
            coll.vacuum()
            coll.build_indexes(nlist=8, m=8, nbits=8)
            idx_epoch = coll._index_epoch()
            epoch_base = (
                max(coll._snapshot_epoch(), idx_epoch) // EPOCH_STRIDE + 1
            ) * EPOCH_STRIDE
            emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
            dim = len(emb.select("embedding").first()[0])
            qdf = emb.filter(F.col("vec_id") < 8).select(
                F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("query_vec"),
            )
            src = (
                spark.readStream.format("rate")
                .option("rowsPerSecond", rate)
                .option("numPartitions", 4)
                .load()
                .select(
                    F.lit("INSERT").alias("op"),
                    (F.col("value") + F.lit(5_000_000_000)).alias("id"),
                    F.lit("stream").alias("tenant"),
                    F.lit("ns0").alias("namespace"),
                    F.transform(
                        F.sequence(F.lit(0), F.lit(dim - 1)),
                        lambda j: F.pmod(
                            F.xxhash64(F.col("value"), j), F.lit(1000)
                        ).cast("double")
                        / F.lit(1000.0),
                    ).cast("array<float>").alias("vector"),
                    F.array(F.lit(0)).alias("tags"),
                )
            )
            from write_optimized_vector_database_spark.operators.pq import (
                release_query_broadcasts,
            )

            # no-load baseline first (VERDICT r08 #4): the same query
            # with no stream attached separates the per-job floor from
            # write contention when adjudicating the under-load tail
            base_lat: list[float] = []
            for _ in range(3):
                tb = time.time()
                coll.topk_two_phase(qdf, k=10, nprobe=8, rerank_factor=4).count()
                base_lat.append(time.time() - tb)
                release_query_broadcasts()
            min_q = int(
                os.environ.get(
                    "SPARK_GRAFT_BENCH_SERVE_MIN_Q", "20" if is_full_sf else "5"
                )
            )
            steal0 = _host_steal_jiffies()
            q = (
                src.writeStream.foreachBatch(
                    changelog_batch_writer(tmp, epoch_base=epoch_base)
                )
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(processingTime="1 seconds")
                .start()
            )
            # maintenance cadence: an un-maintained delta grows by
            # offered-rate × window and the exact delta scan grows with
            # it — measured here (round 9, pre-cadence run): query wall
            # 1.65 s → 37 s over a 264 s window, phase-attributed to the
            # delta scan (26.8 s) vs stable ADC (0.75 s). The engine's
            # prescription is periodic refresh_indexes (fold cost ∝
            # delta, reference delta→stable compaction) — the serving
            # loop exercises it so the witness measures the MANAGED
            # steady state, and reports the fold walls alongside
            maint_every_s = float(
                os.environ.get(
                    "SPARK_GRAFT_BENCH_SERVE_MAINT_S",
                    "30" if is_full_sf else "6",
                )
            )
            # in-loop auto_resize (VERDICT r10 #1 → r11 #1): when a fold
            # flips needs_rebuild, the loop rebuilds at the √n-scaled
            # nlist via the generation-swap path while it KEEPS SERVING
            # — and as of round 12 the thread discipline lives in the
            # ENGINE (maintenance.IndexMaintainer), not in this harness:
            # the maintainer runs the rebuild on a background worker in
            # the `maintenance` FAIR pool (weight 1 vs serving's 8 —
            # bounding the ~2x rebuild-window p50 contention the r11 run
            # measured with no isolation), serializes mutators (folds
            # pause for the rebuild), and never blocks readers (index
            # paths resolve per call from one manifest snapshot; the
            # swap is one atomic write). The witness measures the ADC
            # phase right before and right after the swap under the
            # SAME live write load, plus the queries served DURING the
            # rebuild.
            from write_optimized_vector_database_spark.maintenance import (
                IndexMaintainer,
            )

            resize_alpha = float(
                os.environ.get("SPARK_GRAFT_BENCH_RESIZE_ALPHA", "4.0")
            )
            resize_event: dict | None = None
            resize_ctx: dict = {}

            def _pre_resize_bracket():
                # maintainer hook: runs AFTER the fold that tripped the
                # odometer, BEFORE the rebuild launches — the pre-swap
                # probes measure the still-serving old generation with
                # no rebuild contention
                resize_ctx["d_pre"] = coll.describe_index()
                resize_ctx["nlist_before"] = int(
                    coll._meta().get("index_nlist", 0)
                )
                resize_ctx["adc_pre"] = _adc_probe_ms()

            maint = IndexMaintainer(
                coll, alpha=resize_alpha, on_before_resize=_pre_resize_bracket
            )

            def _adc_probe_ms() -> float:
                from write_optimized_vector_database_spark.operators.ivfpq import (
                    ivfpq_adc_topk,
                )

                # one manifest snapshot for index + artifacts (ADVICE
                # r11 high — this probe races the background swap too);
                # merged view: folds land in overlay dirs as of round 13
                m_ = coll._meta()
                idx = coll.stable_index_df(m_)
                cents_p, books_p = coll._index_artifacts(m_)
                crows_p, cbt_p = coll._index_artifacts_np(m_)
                tp0 = time.time()
                ivfpq_adc_topk(
                    idx, qdf, cents_p, books_p, k=40, nprobe=8,
                    metric="ip", vec_id_col="id", _cb_np=cbt_p, _crows=crows_p,
                ).count()
                wall = (time.time() - tp0) * 1000.0
                release_query_broadcasts()
                return round(wall, 1)

            t0 = time.time()
            lat: list[float] = []
            fresh = 0
            adc_s = delta_s = ryw_wait = 0.0
            maint_walls: list[float] = []
            last_maint = t0
            try:
                # n >= min_q samples (VERDICT r08 #4: a 6-sample p95 is
                # one bad draw): the window extends past serve_s until
                # the sample count is statistically usable
                while time.time() - t0 < serve_s or len(lat) < min_q:
                    t1 = time.time()
                    n = coll.topk_two_phase(
                        qdf, k=10, nprobe=8, rerank_factor=4
                    ).count()
                    q_wall = time.time() - t1
                    lat.append(q_wall)
                    assert n > 0
                    # serving-wrapper discipline (ADVICE r07): the LUT
                    # broadcast is per-query; release it eagerly after
                    # materialization so sustained serving stays
                    # memory-flat between driver GCs
                    release_query_broadcasts()
                    # rebuild completion: probe the NEW generation under
                    # the same load, record the witness. The rebuild-
                    # window samples are tracked BY INDEX (lat_lo..
                    # lat_hi), not by float value membership (ADVICE r11
                    # low: a steady sample equal to a rebuild-window
                    # sample was silently dropped from the steady
                    # percentiles).
                    if (
                        "lat_lo" in resize_ctx
                        and not maint.is_rebuilding()
                        and resize_event is None
                    ):
                        ev = maint.join()
                        resize_ctx["lat_hi"] = len(lat)
                        adc_post = _adc_probe_ms()
                        during = lat[resize_ctx["lat_lo"]:resize_ctx["lat_hi"]]
                        resize_event = {
                            "fired": True,
                            "concurrent": True,
                            "engine_api": "maintenance.IndexMaintainer",
                            "scheduler_pool": ev["pool"],
                            "at_s": round(ev["t_start"] - t0, 1),
                            "wall_s": round(ev["t_end"] - ev["t_start"], 1),
                            "nlist_before": resize_ctx["nlist_before"],
                            "recommended_nlist": resize_ctx["d_pre"][
                                "recommended_nlist"
                            ],
                            "rows_at_resize": resize_ctx["d_pre"]["index_rows"],
                            "rows_built_before": resize_ctx["d_pre"][
                                "index_rows_built"
                            ],
                            "nlist_after": int(
                                coll._meta().get("index_nlist", 0)
                            ),
                            "phase_stable_adc_before_ms": resize_ctx["adc_pre"],
                            "phase_stable_adc_after_ms": adc_post,
                            "queries_served_during_rebuild": len(during),
                            "query_p50_during_rebuild_ms": round(
                                _pctl(sorted(x * 1000 for x in during), 0.5), 1
                            ) if during else None,
                            "error": ev["error"],
                        }
                        print(
                            f"in-loop auto_resize (concurrent, pool="
                            f"{ev['pool']}): rows "
                            f"{resize_event['rows_at_resize']} wall "
                            f"{resize_event['wall_s']} s nlist -> "
                            f"{resize_event['nlist_after']} ADC "
                            f"{resize_event['phase_stable_adc_before_ms']} -> "
                            f"{adc_post} ms; served {len(during)} queries "
                            "during the rebuild",
                            file=sys.stderr,
                        )
                        spark.sparkContext._jvm.System.gc()
                    if time.time() - last_maint > maint_every_s:
                        if maint.is_rebuilding():
                            # mutators are serialized (engine-side now):
                            # no folds beside the rebuild; queries go on
                            last_maint = time.time()
                            continue
                        # the maintainer's on_before_resize hook fills
                        # the pre-swap bracket (d_pre/nlist_before/
                        # adc_pre) AFTER the fold that trips the
                        # odometer and BEFORE the rebuild launches, so
                        # the witness's before/after ADC walls bound
                        # the actual swap with no rebuild contention
                        tm = time.time()
                        st = maint.tick()
                        if st.get("folded"):
                            maint_walls.append(time.time() - tm)
                        if st.get("resize_launched") and (
                            "lat_lo" not in resize_ctx
                        ):
                            resize_ctx["lat_lo"] = len(lat)
                        # same debris discipline as the storage section:
                        # each fold leaves localCheckpoint blocks and
                        # finished-stage state that only a DRIVER GC lets
                        # the ContextCleaner reclaim — folding repeatedly
                        # in-loop without it ran the JVM into GCLocker
                        # allocation stalls (observed: gateway death
                        # mid-serving on the first cadence run)
                        spark.sparkContext._jvm.System.gc()
                        last_maint = time.time()
                # serving wall ends when the latency samples end (ADVICE
                # r08): the phase probes and RYW polling below happen
                # under load too but are timed on their own clocks
                serve_wall = time.time() - t0
                # rebuild still in flight when the window closed: join
                # before the phase probes so they measure a settled
                # generation, and record the witness
                if "lat_lo" in resize_ctx and resize_event is None:
                    ev = maint.join(timeout=600)
                    resize_ctx["lat_hi"] = len(lat)
                    during = lat[resize_ctx["lat_lo"]:resize_ctx["lat_hi"]]
                    resize_event = {
                        "fired": True,
                        "concurrent": True,
                        "engine_api": "maintenance.IndexMaintainer",
                        "scheduler_pool": ev["pool"],
                        "at_s": round(ev["t_start"] - t0, 1),
                        "wall_s": round(
                            (ev["t_end"] if ev["t_end"] is not None
                             else time.time()) - ev["t_start"], 1
                        ),
                        "nlist_before": resize_ctx["nlist_before"],
                        "recommended_nlist": resize_ctx["d_pre"][
                            "recommended_nlist"
                        ],
                        "rows_at_resize": resize_ctx["d_pre"]["index_rows"],
                        "rows_built_before": resize_ctx["d_pre"][
                            "index_rows_built"
                        ],
                        "nlist_after": int(coll._meta().get("index_nlist", 0)),
                        "phase_stable_adc_before_ms": resize_ctx["adc_pre"],
                        "phase_stable_adc_after_ms": _adc_probe_ms(),
                        "queries_served_during_rebuild": len(during),
                        "query_p50_during_rebuild_ms": round(
                            _pctl(sorted(x * 1000 for x in during), 0.5), 1
                        ) if during else None,
                        "joined_after_window": True,
                        "error": ev["error"],
                    }
                # per-phase walls under live write load: stable ADC
                # branch and delta scan branch run standalone once each;
                # rerank+merge is the full path's residual over them
                from write_optimized_vector_database_spark.operators.ivfpq import (
                    ivfpq_adc_topk,
                )
                from write_optimized_vector_database_spark.operators.topk import (
                    exact_topk,
                )

                m_ = coll._meta()
                idx_df = coll.stable_index_df(m_)
                cents, codebooks = coll._index_artifacts(m_)
                crows, cbt = coll._index_artifacts_np(m_)
                tp = time.time()
                ivfpq_adc_topk(
                    idx_df, qdf, cents, codebooks, k=40, nprobe=8,
                    metric="ip", vec_id_col="id", _cb_np=cbt, _crows=crows,
                ).count()
                adc_s = time.time() - tp
                release_query_broadcasts()
                tp = time.time()
                # re-read the index epoch HERE (ADVICE r09): the in-loop
                # maintenance cadence advanced it via refresh_indexes, so
                # probing with the pre-loop epoch would re-scan already-
                # folded rows and overstate the managed steady state's
                # delta-scan wall — the exact thing this probe attributes
                delta_vis = coll.current().filter(
                    (F.col("epoch") > coll._index_epoch())
                    & F.col("vector").isNotNull()
                )
                exact_topk(
                    delta_vis, qdf, k=40, metric="ip",
                    vec_id_col="id", vec_col="vector",
                ).count()
                delta_s = time.time() - tp
                # RYW freshness: the stream's tenant only exists in rows
                # newer than the index — surfacing any of them through
                # the full read path proves the delta branch serves live
                # writes. Timed separately from the serving window.
                t_ryw = time.time()
                for _ in range(5):
                    fresh = coll.topk_two_phase(
                        qdf, k=5, nprobe=8, rerank_factor=4, tenant="stream"
                    ).count()
                    if fresh:
                        break
                    time.sleep(2)
                ryw_wait = time.time() - t_ryw
            finally:
                q.stop()
            assert fresh > 0, "RYW violated: no live-ingested row served"
            # the stream is stopped: this count covers rows ingested over
            # the serving + phase-probe + RYW windows, no open tail
            n_streamed = (
                coll.current().filter(F.col("tenant") == "stream").count()
            )
            lat_ms = sorted(x * 1000.0 for x in lat)
            base_ms = sorted(x * 1000.0 for x in base_lat)
            # steady-state split: the window's overall percentiles now
            # include rebuild-contended samples (serving continues
            # through the resize by design) — report the non-overlapped
            # samples separately so steady serving and rebuild-window
            # serving are each adjudicable. Split BY INDEX (ADVICE r11
            # low): the old float-value membership filter silently
            # dropped any steady sample whose wall-clock happened to
            # equal a rebuild-window sample.
            lo = resize_ctx.get("lat_lo", len(lat))
            hi = resize_ctx.get("lat_hi", lo)
            steady_ms = sorted(
                x * 1000.0 for x in (lat[:lo] + lat[hi:])
            )
            extra_metrics["concurrent_serving"] = {
                "offered_rows_per_s": rate,
                "serve_window_s": round(serve_wall, 1),
                "ryw_wait_s": round(ryw_wait, 1),
                "queries_served": len(lat),
                "query_p50_ms": round(_pctl(lat_ms, 0.5), 1),
                "query_p95_ms": round(_pctl(lat_ms, 0.95), 1),
                "query_max_ms": round(lat_ms[-1], 1),
                "query_p50_steady_ms": (
                    round(_pctl(steady_ms, 0.5), 1) if steady_ms else None
                ),
                "query_p95_steady_ms": (
                    round(_pctl(steady_ms, 0.95), 1) if steady_ms else None
                ),
                "query_lat_ms_runs": [round(x * 1000.0, 1) for x in lat],
                "baseline_noload_p50_ms": round(_pctl(base_ms, 0.5), 1),
                "phase_stable_adc_ms": round(adc_s * 1000.0, 1),
                "phase_delta_scan_ms": round(delta_s * 1000.0, 1),
                "rows_ingested_total": int(n_streamed),
                "maintenance_refreshes": len(maint_walls),
                "maintenance_wall_s_runs": [round(x, 1) for x in maint_walls],
                "ryw_fresh_rows": int(fresh),
                "ryw_witnessed": True,
                "steal_jf": _host_steal_jiffies() - steal0,
                # growth odometer at window end (VERDICT r09 #1): folds
                # keep the index fresh but never re-size — these fields
                # are what a deployment's maintenance loop would watch
                "index_rows_built": coll.describe_index()["index_rows_built"],
                "index_rows_now": coll.describe_index()["index_rows"],
                "needs_rebuild": coll.needs_rebuild(),
                "recommended_nlist": coll.recommended_nlist(),
                # in-loop resize witness (VERDICT r10 #1): fired=False
                # with needs_rebuild=False above means the window never
                # outgrew the index — the loop watched and nothing was
                # owed; fired=True carries the measured before/after
                "auto_resize": resize_event or {"fired": False},
            }
            timings["concurrent_serving_query"] = round(
                _pctl(lat, 0.5), 3
            )
            print(
                f"concurrent serving: {len(lat)} queries p50 "
                f"{extra_metrics['concurrent_serving']['query_p50_ms']} ms "
                f"(no-load p50 "
                f"{extra_metrics['concurrent_serving']['baseline_noload_p50_ms']} ms) "
                f"while ingesting {n_streamed} rows; RYW fresh rows "
                f"{fresh}",
                file=sys.stderr,
            )
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
            shutil.rmtree(ckpt, ignore_errors=True)
    except Exception as e:  # noqa: BLE001
        print(f"bench error in concurrent serving: {_errmsg(e)}", file=sys.stderr)

    # recall telemetry: measured recall@10 of each ANN path vs the exact
    # scan at SERVING settings (the tunable knob swept like the
    # reference's auto-tune, config.h:138-147) — continuously witnessing
    # the ≥0.95 target (types.h:140) instead of leaving it test-gated.
    try:
        from pyspark.sql import functions as F

        from write_optimized_vector_database_spark.operators.ivf import (
            assign_centroids,
            ivf_topk,
            recall_at_k,
            train_centroids_kmeans,
        )
        from write_optimized_vector_database_spark.operators.ivfpq import (
            ivfpq_encode,
            ivfpq_two_phase_topk,
            train_ivfpq_codebooks,
        )
        from write_optimized_vector_database_spark.operators.sq8 import (
            sq8_two_phase_topk,
        )

        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        qdf = emb.filter(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        exact = reg["vec_topk_ip_exact"].fn(spark, SF_DIR)

        def avg_recall(approx):
            r = recall_at_k(approx, exact, k=10).agg(F.avg("recall")).first()[0]
            return round(float(r), 4)

        recalls: dict = {}
        nlist = 32
        cents = train_centroids_kmeans(
            emb, nlist=nlist, vec_col="embedding", id_col="vec_id", seed=42
        )
        ivf_index = assign_centroids(emb, cents, vec_col="embedding").persist()
        ivf_index.count()
        for nprobe in (4, 8, 16, nlist):
            r = avg_recall(ivf_topk(ivf_index, qdf, cents, k=10, nprobe=nprobe))
            if r >= 0.95:
                break
        recalls["ivf"] = r
        recalls["ivf_nprobe"] = nprobe

        cb = train_ivfpq_codebooks(
            emb, cents, dim=64, m=8, nbits=8, vec_col="embedding", id_col="vec_id"
        )
        pq_index = ivfpq_encode(
            emb, cents, cb, vec_col="embedding", id_col="vec_id"
        ).persist()
        pq_index.count()
        # two knobs, swept like the reference's auto-tune: nprobe bounds the
        # posting lists scanned, rerank_factor bounds the exact-rescore
        # shortlist. At full nprobe the shortlist is the binding constraint,
        # so sweep (nprobe, rerank_factor) jointly until target recall.
        for nprobe, rerank in (
            (4, 4),
            (8, 4),
            (16, 4),
            (nlist, 4),
            (nlist, 8),
            (nlist, 16),
        ):
            r = avg_recall(
                ivfpq_two_phase_topk(
                    emb, pq_index, qdf, cents, cb, k=10, nprobe=nprobe, rerank_factor=rerank
                )
            )
            if r >= 0.95:
                break
        recalls["ivfpq"] = r
        recalls["ivfpq_nprobe"] = nprobe
        recalls["ivfpq_rerank_factor"] = rerank
        # VERDICT r03 #5: also report recall at the reference's own stable
        # defaults (nprobe=12, rerank_factor=4 — config.h:84-94) so the
        # calibrated number above isn't the only comparison point.
        recalls["ivfpq_reference_knobs_m8_spill1"] = {
            "nprobe": 12,
            "rerank_factor": 4,
            "recall": avg_recall(
                ivfpq_two_phase_topk(
                    emb, pq_index, qdf, cents, cb, k=10, nprobe=12, rerank_factor=4
                )
            ),
        }
        ivf_index.unpersist()
        pq_index.unpersist()
        # The headline reference-knobs number uses the engine's TUNED
        # stable-index configuration for this fixture: OPQ rotation (the
        # reference's own use_opq=true, config.h:90), m=16 subquantizers,
        # and spill=3 multiple assignment. The m8/spill1 point above
        # showed 0.75 — both stages lose on this weakly-clustered
        # synthetic corpus (coverage caps at 0.81 at nprobe=12/nlist=32,
        # and 1-bit-per-dim ADC misranks the shortlist); the tuned build
        # restores the ≥0.95 target (types.h:140) while the codes index
        # stays 5.3× smaller than raw vectors. See docs/SCALE.md.
        from write_optimized_vector_database_spark.operators.pq import (
            rotate_vectors,
            train_opq,
        )

        r_mat, _ = train_opq(
            emb, dim=64, m=16, nbits=8, iters=8, vec_col="embedding",
            id_col="vec_id",
        )
        emb_rot = rotate_vectors(emb, r_mat, "embedding")
        qdf_rot = rotate_vectors(qdf, r_mat, "query_vec")
        cents_t = train_centroids_kmeans(
            emb_rot, nlist=nlist, vec_col="embedding", id_col="vec_id", seed=42
        )
        cb_t = train_ivfpq_codebooks(
            emb_rot, cents_t, dim=64, m=16, nbits=8, vec_col="embedding",
            id_col="vec_id",
        )
        idx_t = ivfpq_encode(
            emb_rot, cents_t, cb_t, vec_col="embedding", id_col="vec_id", spill=3
        ).persist()
        idx_t.count()
        from write_optimized_vector_database_spark.operators.ivfpq import (
            ivfpq_adc_topk,
        )
        from write_optimized_vector_database_spark.operators.topk import (
            score_column,
            topk_per_group,
        )

        cand_t = ivfpq_adc_topk(
            idx_t, qdf_rot, cents_t, cb_t, k=40, nprobe=12,
            dedup_candidates=True,
        ).select("query_id", "vec_id")
        # exact rerank in the ORIGINAL space (IP is rotation-invariant)
        full_t = emb.select("vec_id", F.col("embedding").alias("__vec"))
        resc_t = (
            cand_t.join(full_t, "vec_id")
            .join(F.broadcast(qdf), "query_id")
            .select(
                "query_id", "vec_id",
                score_column("ip", "query_vec", "__vec").alias("score"),
            )
        )
        recalls["ivfpq_reference_knobs"] = {
            "nprobe": 12,
            "rerank_factor": 4,
            "m": 16,
            "spill": 3,
            "opq": True,
            "recall": avg_recall(
                topk_per_group(
                    resc_t, group_cols=["query_id"], score_col="score",
                    id_col="vec_id", k=10,
                )
            ),
        }
        idx_t.unpersist()

        recalls["sq8"] = avg_recall(
            sq8_two_phase_topk(emb, qdf, k=10, rerank_factor=4, metric="ip")
        )
        # SRP's dial is the table count (miss prob falls as (1-p^n)^r):
        # sweep tables like nprobe, report the count that reached target
        from write_optimized_vector_database_spark.operators.srp_lsh import (
            multitable_planes_from_stride,
            srp_multitable_topk,
        )

        for n_tables in (3, 6, 10, 16):
            tables = multitable_planes_from_stride(emb, 7, 6, n_tables)
            r = avg_recall(srp_multitable_topk(emb, qdf, tables, k=10, metric="ip"))
            if r >= 0.95:
                break
        recalls["srp"] = r
        recalls["srp_tables"] = n_tables
        extra_metrics["recall_at_10"] = recalls
    except Exception as e:  # noqa: BLE001
        print(f"bench error in recall: {_errmsg(e)}", file=sys.stderr)

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    ok = [v for v in timings.values() if v >= 0]
    # Round 2 lesson: 95 per-query entries made the single JSON line exceed
    # the driver's tail capture (BENCH_r02.json parsed: null). The printed
    # line stays BOUNDED — total + telemetry + the slowest 20 — and the full
    # per-query map is committed as BENCH_FULL.json next to this script.
    full = {
        "metric": "registry_query_wall_time_total",
        "value": round(sum(ok), 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    full["repeats"] = REPEATS
    full["adaptive_median_band_s"] = [MEDIAN_MIN_S, MEDIAN_MAX_S]
    if p95:
        full["p95"] = p95
    full["query_meta"] = query_meta
    # baseline-comparable telemetry (reference targets: 50k ops/s,
    # WA p50<=2.3 -- types.h:144-145), machine-readable beside the timings
    full.update(extra_metrics)
    # Only a FULL-registry run at the canonical SF may overwrite the
    # committed per-query map; a SPARK_GRAFT_BENCH_QUERIES subset run or
    # an sf0.01 smoke would silently clobber it with incomparable
    # numbers.
    full_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL.json")
    if any(n for n in BENCH_QUERIES) or sf != "0.1":
        full_path += ".partial"
    try:
        with open(full_path, "w") as f:
            json.dump(full, f, indent=1, sort_keys=True)
    except OSError as e:  # noqa: BLE001
        print(f"bench: could not write {full_path}: {e}", file=sys.stderr)
    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:20])
    line = {
        k: v for k, v in full.items() if k not in ("queries", "p95", "query_meta")
    }
    line["queries"] = slowest
    line["n_queries"] = len(timings)
    line["n_errors"] = len([v for v in timings.values() if v < 0])
    line["full_map"] = "BENCH_FULL.json"
    print(json.dumps(line))
    spark.stop()


if __name__ == "__main__":
    main()
