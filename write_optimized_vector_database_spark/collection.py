"""VectorCollection — the user-facing API of the engine.

A collection is three materializations (SURVEY §1.3):
- **changelog/**: append-only op log (the WAL analog,
  /root/reference/schemas/wal-record.fbs), parquet, partitioned by
  epoch-batch so appends never rewrite;
- **current/**: compacted snapshot (latest-by-id minus tombstones,
  /root/reference/src/cpp/storage/latest-by-id.h semantics);
- a read view = current snapshot ∪ changelog tail since the snapshot —
  **read-your-writes** exactly like the reference's buffer-scan union
  (msg-buf.h:220-260, config.h:133 buffer_scan_enabled).

Writes are cheap (blind parquet append + within-batch dedup); reads pay
one window over the un-compacted tail only. `compact()` folds the tail
into a new snapshot — the delta→stable merge (config.h:54-61). At 100 TB
the snapshot is the big, scan-optimized side (sorted by id_hash for zone
maps) and the tail stays small because compaction is scheduled, which is
precisely the reference's write-optimization story re-told in Spark.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from write_optimized_vector_database_spark.functions.distance import l2_normalize
from write_optimized_vector_database_spark.functions.hashing import id_hash
from write_optimized_vector_database_spark.operators import compaction as C
from write_optimized_vector_database_spark.operators.filters import apply_query_filters
from write_optimized_vector_database_spark.operators.topk import exact_topk

CHANGELOG_SCHEMA_COLS = ["op", "id", "tenant", "namespace", "vector", "tags", "epoch"]

# Test hook mirroring the reference's fault-injection kill points
# (scripts/fault-inject.sh:9, `compaction_merge`): set to a callable that
# raises to simulate a crash at a named point inside compact().
FAULT_INJECT_HOOK = None


def _fault(point: str) -> None:
    if FAULT_INJECT_HOOK is not None:
        FAULT_INJECT_HOOK(point)


# One rung's measured headroom on the SCALE.md knob ladder (m=8/spill=1
# 0.75 → m=16/spill=2 0.90 → spill=3 0.9625 → +OPQ 0.975): the LARGEST
# single-rung gain observed is +0.15 (rung 0 → rung 1), so only a
# shortfall wider than that is provably unclosable by the next rung and
# justifies jumping straight to the top. Using the ~0.075 average
# instead (as before r07) gap-jumped past a middle rung that would
# likely have passed, paying for the most expensive OPQ rung
# unnecessarily (ADVICE r06).
_ESCALATION_RUNG_HEADROOM = 0.15


# Superseded-generation retention (ADVICE r11 medium): a swapped-out
# index generation stays on disk until it has been superseded for this
# long, so an in-flight reader that resolved its paths any time in the
# window — including across a multi-rung auto-build ladder, which swaps
# several times in seconds — never reads an rmtree'd directory. 10 min
# covers any single query wall this engine has ever measured (seconds
# at sf0.1, and at 100 TB a reader holds paths for one query, not one
# rebuild); env-tunable for deployments with longer-running readers.
INDEX_GEN_RETENTION_S = float(
    os.environ.get("SPARK_GRAFT_GEN_RETENTION_S", "600")
)

# Fold-overlay fan-in cap (round 13): each refresh fold writes its
# affected posting lists into a FRESH overlay dir (reader-safe — the
# live base generation is never rewritten in place; ADVICE r12 medium),
# and the stable-index view unions base + live overlays. When the count
# of live overlay dirs reaches this cap, the next fold consolidates:
# it rewrites ALL overridden lists into one overlay so the union fan-in
# stays bounded (≤ cap + 1 sources) no matter how many folds run
# between rebuilds. Consolidation cost is O(overridden lists) — paid
# once per cap-many folds, never O(index).
FOLD_DIRS_MAX = int(os.environ.get("SPARK_GRAFT_FOLD_DIRS_MAX", "6"))


class _GenKind(NamedTuple):
    history: str  # manifest key of the superseded-generation history
    pointers: tuple[str, ...]  # manifest keys naming the live dirs
    prefixes: tuple[str, ...]  # dir-name prefixes the kind's sweep owns


class _VisibleRef(NamedTuple):
    """The visible view's inputs, resolved ONCE per call: the live
    snapshot dir name and the epoch its marker records come from one
    `_CURRENT` read and one marker read (-1 / None before the first
    compact), and the changelog from one walk (None when it holds no
    Parquet file). Every branch of a call builds on the same ref, so a
    compact() swap landing mid-call can never pair the new snapshot
    with the old epoch's tail filter."""

    snap: str | None
    snap_epoch: int
    log: DataFrame | None


# The four generation-versioned artifacts. Each swap retires what it
# superseded into the kind's history as {"paths", "superseded_at"}; GC
# keeps the live dirs plus every entry younger than gen_retention_s and
# sweeps the rest of the kind's prefixes. The snapshot's live dir is
# the `_CURRENT` target; the stable index also keeps its live and
# pending fold overlays.
_GEN_KINDS = {
    "snapshot": _GenKind("snapshot_gen_history", (), ("current_v",)),
    "tag_dict": _GenKind(
        "tag_dict_gen_history", ("tag_dict_path",), ("tag_dict_g",)
    ),
    "ivf": _GenKind(
        "ivf_gen_history",
        ("ivf_index_path", "ivf_centroids_path"),
        ("index_ivf_g", "index_centroids_ivf_g"),
    ),
    "index": _GenKind(
        "index_gen_history",
        (
            "index_stable_path",
            "index_centroids_path",
            "index_codebooks_path",
            "index_rotation_path",
        ),
        (
            "index_stable_g",
            "index_centroids_stable_g",
            "index_codebooks_g",
            "index_rotation_g",
            "index_fold_g",
        ),
    ),
}


class IndexVacuumedError(ValueError):
    """refresh_indexes() cannot fold incrementally: vacuum() collapsed
    the changelog past the stable index's epoch, so delete visibility
    for the gap is no longer derivable. Only a full build_indexes() /
    auto_resize(force=True) repairs this. A distinct type (ADVICE r12
    medium) so maintenance loops can tell this actionable state apart
    from the benign no-index-yet ValueError instead of going silent."""


class _MetaLock:
    """Per-collection-path manifest writer lock (ADVICE r11 medium):
    an in-process re-entrant lock (serializes the background resize
    thread against foreachBatch ingest folds in the same driver — the
    deployment shape the bench and streaming docstrings advertise)
    wrapping an advisory cross-process file lock taken only at the
    outermost depth (LocalStorage flock; remote backends document the
    single-driver-writer assumption instead)."""

    __slots__ = ("rlock", "depth", "token")

    def __init__(self):
        self.rlock = threading.RLock()
        self.depth = 0
        self.token = None


_META_LOCKS: dict[str, _MetaLock] = {}
_META_LOCKS_GUARD = threading.Lock()


def _meta_lock_for(path: str) -> _MetaLock:
    with _META_LOCKS_GUARD:
        ml = _META_LOCKS.get(path)
        if ml is None:
            ml = _META_LOCKS[path] = _MetaLock()
        return ml


def _escalation_next(i: int, n_rungs: int, shortfall: float) -> int:
    """Next ladder index after a miss at rung `i` (shortfall > 0):
    step to i+1 normally; jump to the LAST rung when the miss is wider
    than one rung's headroom and at least one intermediate rung would
    otherwise be rebuilt just to measure a foregone conclusion."""
    if shortfall > _ESCALATION_RUNG_HEADROOM and i < n_rungs - 2:
        return n_rungs - 1
    return i + 1


class VectorCollection:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        metric: str = "ip",
        normalize: bool | None = None,
    ):
        self.spark = spark
        self.path = path.rstrip("/")
        self.metric = metric
        # cosine ≡ inner product after L2-normalize at ingest (types.h:40)
        self.normalize = normalize if normalize is not None else metric == "cosine"
        # lifecycle metadata ops go through the storage backend so the
        # collection works unchanged on hdfs://, s3a://, ... (VERDICT r1
        # wrong-#5); data always moves through Spark jobs, never here.
        from write_optimized_vector_database_spark.storage import storage_for

        self.fs = storage_for(spark, self.path)
        self._meta_path = f"{self.path}/_collection.json"
        # manifest writer lock is keyed by PATH, not object — two
        # VectorCollection handles on one path (a serving handle and a
        # maintenance handle) share one writer discipline
        self._meta_lock = _meta_lock_for(self.path)
        # superseded index generations survive this long after their
        # swap (ADVICE r11 medium); see INDEX_GEN_RETENTION_S
        self.gen_retention_s = INDEX_GEN_RETENTION_S
        self.fs.makedirs(self.path)
        # index-artifact cache (the reference's in-memory global-index
        # cache, config.h:96-99 memory_cache_mb): centroids + codebooks
        # are a few MB even at stable-index scale (nlist×dim + m·2^nbits
        # ·d_sub doubles) but every search call was re-reading their
        # parquet and re-collecting. Two entries: "idx_np" holds their
        # driver-side ndarray forms, keyed by build (see _np_cache_key),
        # and "views" maps each immutable generation dir name to its
        # read view (see _read_dir). The small lock keeps populate/
        # evict structurally consistent when query threads race the
        # maintenance worker.
        self._artifact_cache: dict = {}
        self._artifact_cache_lock = threading.Lock()

    # -- write path ---------------------------------------------------------

    @staticmethod
    def _with_bloom(writer):
        """Parquet bloom filter on `id`, the point-lookup key (reference
        config.h:120-121: per-segment id bloom, fpp 0.01). Only the data
        segments a lookup scans carry it — the changelog and the
        snapshot, where `lookup()`'s `id IN` is pushed to the reader. No
        `id_hash` bloom: nothing filters on it by equality. No bloom on
        the IVF-PQ base or fold overlays: they are read by centroid_id
        partition pruning and a broadcast anti-join on id, neither of
        which consults a bitset.
        Adaptive sizing does not right-size small chunks: it only keeps
        a chunk under the 1 MiB default, and its smallest candidate is
        64 KiB, so a bloomed id chunk is ~65.5 KB at 256 and at 1,024
        rows alike. At 100 TB, set parquet.bloom.filter.expected.ndv per
        table to size the bitsets."""
        return (
            writer.option("parquet.bloom.filter.enabled#id", "true")
            .option("parquet.bloom.filter.fpp#id", "0.01")
            .option("parquet.bloom.filter.adaptive.enabled", "true")
        )

    def _dir_bytes(self, subdir: str) -> int:
        # sizes ride along with the recursive listing (scandir /
        # LocatedFileStatus) — one metadata stream, not a per-file
        # getsize round-trip; at millions of files the listing itself is
        # the floor any system pays
        return sum(
            size
            for f, size in self.fs.walk_files_with_size(f"{self.path}/{subdir}")
            if f.endswith(".parquet")
        )

    @contextmanager
    def _meta_write_lock(self):
        """Serialize manifest writers (ADVICE r11 medium): every
        read-modify-write of _collection.json runs under the per-path
        in-process RLock, and the OUTERMOST acquisition additionally
        takes the storage backend's cross-process advisory lock. Before
        this, _meta_update was an unlocked RMW: a background auto_resize
        swap landing between an ingest tick's read and write reverted
        the generation pointers, and the next GC could then delete the
        just-built live generation dirs."""
        ml = self._meta_lock
        with ml.rlock:
            ml.depth += 1
            try:
                if ml.depth == 1:
                    ml.token = self.fs.lock_acquire(f"{self.path}/_meta.lock")
                yield
            finally:
                ml.depth -= 1
                if ml.depth == 0:
                    tok, ml.token = ml.token, None
                    if tok is not None:
                        self.fs.lock_release(tok)

    def _meta_mutate(self, fn) -> dict:
        """Atomic manifest read-modify-write: `fn(meta)` mutates the
        dict in place under the writer lock, so updates DERIVED from
        the current manifest (byte odometers, generation swaps, fold
        advances) can never lose a concurrent writer's keys. Stamps a
        monotonic `meta_version` so lost updates are detectable."""
        with self._meta_write_lock():
            meta = self._meta()
            fn(meta)
            meta["meta_version"] = int(meta.get("meta_version", 0)) + 1
            self.fs.write_text_atomic(self._meta_path, json.dumps(meta))
            return meta

    def _meta_update(self, **kv) -> dict:
        return self._meta_mutate(lambda m: m.update(kv))

    def _reserve_gen(self, counter_key: str, floor_key: str | None = None) -> int:
        """Allocate a generation id under the manifest writer lock
        (ADVICE r12 medium): the old `meta[pointer] + 1` pattern read the
        pointer UNLOCKED, so two mutators the per-instance maintainer
        guard doesn't cover (a user maintainer beside
        start_maintained_ingest's internal one, or two processes) could
        both derive the same id and write the same `_g<N>` dirs
        concurrently — corrupting whichever swap landed second. The
        counter is a dedicated manifest key bumped inside the writer
        lock BEFORE any generation dir is written; `floor_key` (the live
        pointer, e.g. index_build_id) seeds it on legacy manifests so
        reserved ids never collide with pre-counter generations."""
        out: dict = {}

        def _bump(m: dict) -> None:
            floor = int(m.get(floor_key, 0)) if floor_key else 0
            nxt = max(int(m.get(counter_key, 0)), floor) + 1
            m[counter_key] = nxt
            out["gen"] = nxt

        self._meta_mutate(_bump)
        return out["gen"]

    def _reserve_fold_dir(self) -> str:
        """Reserve a fresh fold-overlay dir name under the writer lock
        and PRE-REGISTER it in the manifest's `index_fold_pending` map
        (dir → reservation time) BEFORE anything is written to it.
        Registration-before-write is what makes concurrent GC safe: a
        rebuild's post-swap `_gc_generations("index")` sweep keeps every
        pending dir, so it can never delete an overlay a concurrent
        fold is mid-writing (folds run BESIDE rebuilds as of round 13).
        The fold's final manifest advance moves the entry from pending
        to `index_fold_overrides`; a superseded/stale fold retires it
        into the retention history instead. Crash-orphaned pending
        entries self-heal here: anything pending longer than
        max(retention, 1 h) is retired so its dir GCs."""
        out: dict = {}
        now = time.time()

        def _mut(m: dict) -> None:
            nxt = int(m.get("index_fold_seq", 0)) + 1
            m["index_fold_seq"] = nxt
            sub = f"index_fold_g{nxt}"
            pend = dict(m.get("index_fold_pending", {}))
            stale_cut = max(self.gen_retention_s, 3600.0)
            stale = [d for d, t0 in pend.items() if now - float(t0) > stale_cut]
            for d in stale:
                pend.pop(d)
            self._retire(m, "index", stale, now)
            pend[sub] = now
            m["index_fold_pending"] = pend
            out["sub"] = sub

        self._meta_mutate(_mut)
        return out["sub"]

    @staticmethod
    def _retire(m: dict, kind: str, paths: list, now: float) -> None:
        """Append the dirs a swap superseded to `kind`'s retention
        history (inside a `_meta_mutate` transform); unset pointers are
        skipped and an empty retirement writes nothing."""
        paths = [p for p in paths if p]
        if paths:
            key = _GEN_KINDS[kind].history
            m[key] = list(m.get(key, [])) + [
                {"paths": paths, "superseded_at": now}
            ]

    def _gc_generations(self, kind: str, retention_s: float | None = None) -> int:
        """Time-based retention for one versioned artifact kind (ADVICE
        r11 medium — default `self.gen_retention_s`): history entries
        superseded longer than `retention_s` are pruned from the
        manifest atomically, then every dir under the kind's prefixes
        that is neither live nor still in the history is removed. A
        superseded generation is deletable only once no reader could
        still hold its paths, which makes GC safe to run on EVERY swap
        (the auto-build ladder swaps several times in seconds). Crashed
        half-written dirs carry no history entry and go immediately.
        Runs only at the kind's own swap sites: another kind's sweep
        would not know this kind's in-flight build dirs. Returns the
        number of dirs removed."""
        if retention_s is None:
            retention_s = self.gen_retention_s
        spec = _GEN_KINDS[kind]
        now = time.time()

        def _trim(m: dict) -> None:
            m[spec.history] = [
                h
                for h in m.get(spec.history, [])
                if now - float(h.get("superseded_at", now)) < retention_s
            ]

        meta = self._meta_mutate(_trim)
        keep = {meta.get(p) for p in spec.pointers}
        if kind == "snapshot":
            cur = self._current_dir()
            keep.add(cur.rsplit("/", 1)[-1] if cur else None)
        elif kind == "index":
            # live fold overlays (round 13) plus pending dirs a
            # concurrent fold is mid-writing — pre-registered under the
            # writer lock precisely so this sweep (which a rebuild runs
            # WHILE folds continue) never reaps an overlay between its
            # write and its manifest advance
            keep |= set((meta.get("index_fold_overrides") or {}).values())
            keep |= set(meta.get("index_fold_pending") or {})
        for h in meta.get(spec.history, []):
            keep |= set(h.get("paths", ()))
        keep.discard(None)
        removed = self.fs.cleanup_dirs(self.path, spec.prefixes, keep=keep)
        # a retired dir's cached view must not outlive its files
        self._prune_read_views()
        return removed

    def _meta(self) -> dict:
        if self.fs.exists(self._meta_path):
            return json.loads(self.fs.read_text(self._meta_path))
        return {}

    # -- read views ---------------------------------------------------------

    def _read_dir(self, sub: str) -> DataFrame:
        """Read view of the generation dir `sub`, built once per handle.

        The DataFrame `spark.read.parquet` returns carries Spark's
        resolved file index and schema, so serving later calls from it
        skips the listing job (a distributed one past 32 partition
        dirs) and the schema-inference job a fresh read runs every
        time. Keyed by the dir name alone, which is sound because every
        dir served here is written once, before a manifest pointer (or
        `_CURRENT`) names it, and never rewritten: index, IVF, tag-dict
        and overlay names come from the locked counters (_reserve_gen,
        _reserve_fold_dir), snapshots are `current_v<ms>`. The mutable
        changelog never goes through here.

        Inserting an entry drops every cached view the newest manifest
        no longer names (_prune_read_views); a caller still holding an
        evicted view keeps reading it, because generation retention
        keeps its files."""
        with self._artifact_cache_lock:
            hit = self._artifact_cache.get("views", {}).get(sub)
        if hit is not None:
            return hit
        df = self.spark.read.parquet(f"{self.path}/{sub}")
        with self._artifact_cache_lock:
            views = self._artifact_cache.setdefault("views", {})
            df = views.setdefault(sub, df)
        self._prune_read_views()
        return df

    def _prune_read_views(self) -> None:
        """Drop the cached views of dirs that neither the newest
        manifest's generation pointers and live fold overlays nor the
        `_CURRENT` target name."""
        meta = self._meta()
        live = {meta.get(p) for kind in _GEN_KINDS.values() for p in kind.pointers}
        live |= set((meta.get("index_fold_overrides") or {}).values())
        cur = self._current_dir()
        if cur:
            live.add(cur.rsplit("/", 1)[-1])
        with self._artifact_cache_lock:
            views = self._artifact_cache.get("views", {})
            for sub in [s for s in views if s not in live]:
                del views[sub]

    def tag_dict(self, meta: dict | None = None) -> DataFrame | None:
        """The collection's string→id tag dictionary (config.h:122-123),
        or None if only int tags were ever ingested. Resolved through
        the manifest pointer (round 12 generation versioning)."""
        if meta is None:
            meta = self._meta()
        sub = meta.get("tag_dict_path")
        if not sub or not self.fs.isdir(f"{self.path}/{sub}"):
            return None
        return self._read_dir(sub)

    def _encode_string_tags(self, batch: DataFrame) -> DataFrame:
        """String-tag ingest edge: extend the persisted dictionary with
        the batch's novel tags (ids are append-only — never renumbered)
        and rewrite `tags` as dict ids (types.h:32-33).

        Generation-versioned (round 12): the old rmtree+rename replace
        left a no-dictionary window, and a reader that bound the dict
        just before the replace scanned a deleted dir. The new dict
        lands in a fresh `tag_dict_g<B>` dir, one atomic manifest write
        swaps readers, superseded generations retire after
        gen_retention_s."""
        from write_optimized_vector_database_spark.operators import tags as TG

        # The WHOLE extension is ONE critical section under the
        # manifest writer lock (round 13): the previous shape read the
        # base dict, extended, and swapped last-writer-wins — two
        # concurrent string-tag ingests could each assign the same next
        # tag id to DIFFERENT strings (queries for one tag silently
        # matching the other's rows), and the losing extension's novel
        # tags were dropped from the live dict while its rows were
        # already encoded against them. The dictionary is KB-scale and
        # string-tag extension is rare, so holding the lock across the
        # small parquet write is the correct trade; readers never take
        # this lock (the re-entrant per-path lock makes the nested
        # _reserve_gen/_meta_mutate calls free).
        with self._meta_write_lock():
            new_dict = TG.extend_tag_dictionary(
                self.tag_dict(), batch, tags_col="tags"
            )
            gen = self._reserve_gen("tag_dict_build_seq", "tag_dict_build_id")
            sub = f"tag_dict_g{gen}"
            new_dict.write.mode("overwrite").parquet(f"{self.path}/{sub}")
            swap_t = time.time()

            def _swap(m: dict) -> None:
                self._retire(m, "tag_dict", [m.get("tag_dict_path")], swap_t)
                m.update(tag_dict_build_id=gen, tag_dict_path=sub)

            self._meta_mutate(_swap)
        self._gc_generations("tag_dict")
        return TG.encode_tags(batch, self.tag_dict(), id_col="id", tags_col="tags")

    def ingest(self, batch: DataFrame, dedup: bool = True) -> int:
        """Append a batch of ops to the changelog.

        Within-batch upsert dedup first (msg-buf.h:134-147) — the
        write-amplification lever; epochs must already be assigned
        monotone by the caller (streaming assigns batch_id × stride).
        String tag arrays are dict-encoded at this edge (config.h:122).
        """
        cols = [c for c in CHANGELOG_SCHEMA_COLS if c in batch.columns]
        missing = set(("op", "id", "epoch")) - set(cols)
        if missing:
            raise ValueError(f"changelog batch missing columns: {sorted(missing)}")
        if "tags" in cols and isinstance(
            batch.schema["tags"].dataType, T.ArrayType
        ) and isinstance(batch.schema["tags"].dataType.elementType, T.StringType):
            batch = self._encode_string_tags(batch)
        out = batch.select(*cols)
        if self.normalize and "vector" in cols:
            out = out.withColumn(
                "vector",
                F.when(F.col("vector").isNull(), F.col("vector")).otherwise(
                    l2_normalize("vector").cast("array<float>")
                ),
            )
        if dedup:
            out = C.upsert_dedup(out)
        out = out.withColumn("id_hash", id_hash("id"))
        n = out.count()
        before = self._dir_bytes("changelog")
        self._with_bloom(out.write).mode("append").parquet(f"{self.path}/changelog")
        written = self._dir_bytes("changelog") - before
        def _bump(meta: dict) -> None:
            meta["bytes_logical"] = meta.get("bytes_logical", 0) + written
            meta["bytes_physical"] = meta.get("bytes_physical", 0) + written
            # staleness odometer for the filtered-search planner (VERDICT
            # r07 #5): manifest-only, so plan_filtered_strategy can
            # distrust selectivity estimates without running a job
            meta["rows_since_analyze"] = meta.get("rows_since_analyze", 0) + n
            # ADVICE r09 (medium): topk_ivf serves the indexed snapshot
            # with NO delta branch, so its probe-support prune is only
            # sound while the changelog has not advanced past the build
            # — an upsert that moves a row's tenant/namespace/tags
            # leaves the OLD vector indexed in a list outside the NEW
            # value's support, and the pruned path would skip it while
            # the unpruned path returns it. Disarm 'ivf'-labeled
            # histograms on every ingest (manifest-only, zero query-time
            # cost); analyze_correlation() re-arms them consistently
            # with current() filter values. 'stable'-labeled stats are
            # unaffected: topk_two_phase's delta branch rescans every
            # post-build version exactly, so its prune stays sound.
            if (
                meta.get("corr_stats_fresh", False)
                and (meta.get("corr_stats") or {}).get("index") == "ivf"
            ):
                meta["corr_stats_fresh"] = False

        # atomic RMW under the writer lock (ADVICE r11 medium): an
        # ingest tick racing a background generation swap can no longer
        # revert the swap's pointer keys with its own stale read
        self._meta_mutate(_bump)
        return n

    def delete_where(self, predicate) -> int:
        """Bulk predicate delete: tombstone every visible row matching
        `predicate` (a Column or SQL string over the visible view's
        columns) — the GDPR/retention bulk-delete path.

        Deletes are DATA, not surgery: matching ids get DELETE rows
        stamped above the collection's epoch high-water mark, so the
        operation is one filtered scan + one append — no snapshot
        rewrite, no index rewrite (compact() and refresh_indexes() fold
        the tombstones in on their own schedule, which is exactly the
        reference's tombstone→compaction flow, config.h:54-61). Returns
        the number of ids tombstoned."""
        pred = F.expr(predicate) if isinstance(predicate, str) else predicate
        vis = self._visible_ref()
        victims = (
            self._current_view(vis).filter(pred).select("id", "tenant", "namespace")
        )
        hi = vis.snap_epoch
        if vis.log is not None:
            tail_hi = vis.log.agg(F.max("epoch")).first()[0]
            hi = max(hi, tail_hi if tail_hi is not None else -1)
        base = max(hi, 0) + 1
        from pyspark.sql import Window

        w = Window.partitionBy(F.col("id") % 64).orderBy("id")
        tombstones = victims.select(
            F.lit("DELETE").alias("op"),
            "id",
            "tenant",
            "namespace",
            F.lit(None).cast("array<float>").alias("vector"),
            F.lit(None).cast("array<int>").alias("tags"),
            # per-shard rank keeps epoch assignment parallel; epochs only
            # compare within an id, so cross-shard collisions are fine
            (F.lit(base) + F.row_number().over(w)).cast("long").alias("epoch"),
        )
        return self.ingest(tombstones, dedup=False)

    # -- materializations ---------------------------------------------------

    def _has_changelog_files(self) -> bool:
        return any(
            f.endswith(".parquet")
            for f in self.fs.walk_files(f"{self.path}/changelog")
        )

    def changelog(self) -> DataFrame:
        return self.spark.read.parquet(f"{self.path}/changelog")

    def _current_dir(self) -> str | None:
        """Resolve the live snapshot dir through the `_CURRENT` pointer
        file — the manifest that makes the snapshot swap atomic."""
        ptr = f"{self.path}/_CURRENT"
        if not self.fs.exists(ptr):
            return None
        return f"{self.path}/{self.fs.read_text(ptr).strip()}"

    def _snapshot_ref(self) -> tuple[str | None, int]:
        """(live snapshot dir name, its high-water epoch) from ONE read
        of the `_CURRENT` pointer and one of the marker INSIDE the dir
        it names. The marker becomes visible atomically with the pointer
        swap, so a crash can never leave epoch and data disagreeing, and
        reading both once keeps the pair consistent across a concurrent
        compact() swap."""
        d = self._current_dir()
        if d is None:
            return None, -1
        marker = f"{d}/_SNAPSHOT_META.json"
        epoch = (
            json.loads(self.fs.read_text(marker)).get("snapshot_epoch", -1)
            if self.fs.exists(marker)
            else -1
        )
        return d.rsplit("/", 1)[-1], epoch

    def _snapshot_epoch(self) -> int:
        """The snapshot's high-water epoch (see _snapshot_ref)."""
        return self._snapshot_ref()[1]

    def _visible_ref(self) -> _VisibleRef:
        """Resolve the visible view's inputs once for one call: the
        snapshot pointer and marker (_snapshot_ref) and one changelog
        walk. The changelog is mutable, so it is a fresh read."""
        snap, snap_epoch = self._snapshot_ref()
        log = self.changelog() if self._has_changelog_files() else None
        return _VisibleRef(snap, snap_epoch, log)

    def current(self) -> DataFrame:
        """Read-your-writes visible view: compacted snapshot ∪ changelog
        tail (reference buffer-scan union, msg-buf.h:220-260).

        The snapshot already holds one visible row per id, so it is NOT
        re-windowed: tail ids are anti-joined out of it and the (small)
        tail is compacted on its own. This keeps caller filters (tenant/
        namespace/tags) pushable into the snapshot's Parquet scan — a
        window over the snapshot would block pushdown and cost a full
        shuffle of the table at every read. Tail epochs are strictly
        greater than snapshot epochs, so tail-latest always wins."""
        return self._current_view(self._visible_ref())

    def _current_view(self, ref: _VisibleRef) -> DataFrame:
        """current() over an already-resolved ref."""
        if ref.snap_epoch >= 0:
            return self._snapshot_tail_view(ref)
        if ref.log is None:
            raise ValueError(f"collection at {self.path} is empty")
        return C.visible(ref.log)

    def _snapshot_tail_view(
        self, ref: _VisibleRef, as_of_epoch: int | None = None
    ) -> DataFrame:
        """The snapshot ∪ tail merge shared by current() (no upper
        bound) and visible_as_of() (tail truncated at `as_of_epoch`).
        The snapshot comes from its cached read view (_read_dir)."""
        snapshot = self._read_dir(ref.snap)
        if ref.log is None:
            return snapshot
        in_tail = F.col("epoch") > ref.snap_epoch
        if as_of_epoch is not None:
            in_tail = in_tail & (F.col("epoch") <= as_of_epoch)
        tail = ref.log.filter(in_tail)
        tail_latest = C.latest_by_id(tail)
        # the anti-join needs only the tail's id SET (fences excluded,
        # same as latest_by_id's up-front drop — a FENCE can share a
        # data id and must not mask a snapshot row), which a distinct
        # over the raw tail yields identically — referencing tail_latest
        # here made Catalyst compute the latest-by-id window (sort +
        # exchange over full rows) TWICE per instantiation of this view;
        # the distinct shuffles only partially-aggregated ids instead
        survivors = snapshot.join(
            F.broadcast(
                tail.filter(F.col("op") != "FENCE").select("id").distinct()
            ),
            "id",
            "left_anti",
        )
        return survivors.unionByName(
            tail_latest.filter(F.col("op") != "DELETE"),
            allowMissingColumns=True,
        ).select(*snapshot.columns)

    def visible_as_of(self, as_of_epoch: int) -> DataFrame:
        """MVCC time-travel read: the visible view as of `as_of_epoch`.

        Two regimes, split on the snapshot's high-water epoch:

        - `as_of ≥ snapshot_epoch`: the snapshot already equals the
          visible view at its epoch, so this is the current() merge with
          the tail truncated at `as_of` — cheap, always answerable.
        - `as_of < snapshot_epoch`: the snapshot collapsed older history,
          so the answer must replay the retained changelog. vacuum()
          deletes changelog files the snapshot covers, so this regime is
          only answerable within retention — a vacuumed collection
          raises instead of silently returning post-cut state (the same
          retention contract table formats attach to time travel).

        Granularity: ingest()'s within-batch upsert-dedup keeps only the
        newest op per id per batch, so observable history is the batch
        boundary, not every intermediate op — the same collapse the
        reference's message-buffer dedup applies (msg-buf.h:134-147).
        """
        ref = self._visible_ref()
        if as_of_epoch >= ref.snap_epoch >= 0:
            return self._snapshot_tail_view(ref, as_of_epoch)
        vacuum_epoch = int(self._meta().get("vacuum_epoch", -1))
        if ref.log is None or as_of_epoch < vacuum_epoch:
            raise ValueError(
                f"as_of_epoch={as_of_epoch} predates retained history "
                f"(snapshot epoch {ref.snap_epoch}, vacuum watermark {vacuum_epoch})"
            )
        return C.visible_as_of(ref.log, as_of_epoch)

    def compact(self) -> None:
        """Fold the changelog into a fresh snapshot, sorted by id_hash
        inside files so Parquet zone maps prune point lookups (the
        min/max id_hash SegmentDescriptor stats, types.h:98-99).

        Crash-ordered swap (fault-inject.sh `compaction_merge` analog):
        1. write the new snapshot into a fresh `current_v<ms>` dir;
        2. write `_SNAPSHOT_META.json` (the high-water epoch) INTO it —
           Spark ignores underscore files, and the epoch now travels
           atomically with the data;
        3. atomically repoint the `_CURRENT` manifest file;
        4. only then update telemetry counters and GC stale versions.
        A kill at any point leaves either the old snapshot fully live or
        the new one fully live — never a missing dir or an epoch that
        disagrees with the data (the r1 rmtree+rename gap)."""
        ref = self._visible_ref()
        if ref.log is None:
            return  # nothing new since the snapshot (e.g. post-vacuum)
        max_epoch = ref.log.agg(F.max("epoch")).collect()[0][0]
        # superseded-version bookkeeping (round 12): the OLD pointer,
        # resolved before the swap, names the version retained for
        # in-flight readers, exactly like index generations (ADVICE r11
        # medium applied symmetrically)
        prev_ver = ref.snap
        base = self._current_view(ref)  # snapshot anti-join tail merge (no snapshot re-window)
        ver = f"current_v{int(time.time() * 1000)}"
        new_dir = f"{self.path}/{ver}"
        # sortWithinPartitions WITHOUT a range exchange, and NO persist of
        # the merge — both measured on the 10x soak, not assumed:
        # a repartitionByRange("id_hash") makes files non-overlapping
        # (file-level pruning) but re-shuffles the entire snapshot per
        # compaction (exponent 0.21 -> 1.08, 7 s -> 62 s); persisting the
        # merge "to share it with ANALYZE" caches every vector in
        # executor memory and the added pressure made compact near-linear
        # again (e = 0.82). Point lookups are served shuffle-free by the
        # within-file sort (row-group zone maps) plus parquet bloom on
        # id, and ANALYZE instead re-reads the just-written parquet with
        # column pruning — tenant/namespace/tags only, never the vectors.
        self._with_bloom(base.sortWithinPartitions("id_hash").write).mode(
            "overwrite"
        ).parquet(new_dir)
        self.fs.write_text_atomic(
            f"{new_dir}/_SNAPSHOT_META.json",
            json.dumps({"snapshot_epoch": int(max_epoch)}),
        )
        _fault("snapshot_written")
        self.fs.write_text_atomic(f"{self.path}/_CURRENT", ver)
        _fault("pointer_swapped")
        # merge-write: the meta file also carries index_epoch and the
        # write-amplification counters — clobbering it would silently turn
        # the post-index delta generation invisible to topk_two_phase
        # after a compact+vacuum cycle. Telemetry only: losing the last
        # WA sample to a crash is acceptable; correctness state lives in
        # the snapshot marker above.
        snap_bytes = self._dir_bytes(ver)
        swap_t = time.time()

        def _wa(meta: dict) -> None:
            physical = meta.get("bytes_physical", 0) + snap_bytes
            logical = meta.get("bytes_logical", 0)
            meta["bytes_physical"] = physical
            if logical > 0:
                meta["wa_history"] = meta.get("wa_history", []) + [
                    round(physical / logical, 4)
                ]
            # time-based retention for the superseded snapshot version
            # (round 12): a reader that resolved the _CURRENT pointer
            # just before this swap still scans the old dir — the old
            # GC-everything-but-current rule rmtree'd it out from under
            # such a plan, the exact in-flight-reader hazard ADVICE r11
            # flagged for index generations
            self._retire(meta, "snapshot", [prev_ver], swap_t)

        self._meta_mutate(_wa)
        # refresh planner stats off the snapshot just written — the CBO
        # analogue of ANALYZE TABLE after a rewrite (column-pruned
        # re-read: the vector column never loads)
        self.analyze(self._read_dir(ver))
        # GC superseded snapshot versions past retention, plus crashed
        # half-written ones (never pointed to, so never in the history)
        self._gc_generations("snapshot")

    def vacuum(self, retain_for_index: bool = True) -> int:
        """Retention: delete changelog files fully covered by the current
        snapshot (max epoch ≤ snapshot epoch) — the WAL rotate/retention
        analog (reference config.h:49-50). Uses Parquet footer stats, so
        no data is read. Returns the number of files removed.

        Index-aware retention (round 11): refresh_indexes derives
        delete visibility from the changelog tail back to the INDEX
        epoch — a vacuum run between a compact and the next fold used
        to collapse that tail and force a full rebuild (the footgun the
        old 'refresh, then vacuum' schedule papered over). By default
        the cut now stops at min(snapshot, index) epoch, so incremental
        maintenance survives any vacuum ordering; pass
        retain_for_index=False for pure snapshot-bounded retention
        (reclaims more space, accepts that the next refresh may demand
        a rebuild)."""
        snap_epoch = self._snapshot_epoch()
        if snap_epoch < 0:
            return 0
        cut = snap_epoch
        if retain_for_index:
            meta = self._meta()
            idx_epoch = self._index_epoch(meta)
            if (
                idx_epoch >= 0
                and "index_stable_path" in meta
                and self.fs.exists(self._stable_index_path(meta))
            ):
                cut = min(cut, idx_epoch)
        changelog_dir = f"{self.path}/changelog"
        files = [
            f for f in self.fs.walk_files(changelog_dir) if f.endswith(".parquet")
        ]
        if not files:
            return 0
        # footer reads are DISTRIBUTED: one Spark job maps pyarrow
        # footer-stat extraction over the file list, so vacuum cost is
        # O(#files / executors) instead of a driver serial loop. Only the
        # listing (which Spark pays for any read anyway) and the
        # metadata deletes stay on the driver.
        removed = 0
        covered = self._file_epoch_stats(files)
        for fpath, file_max in covered:
            if file_max is not None and file_max <= cut:
                self.fs.remove(fpath)
                removed += 1
        if removed:
            # retention watermark: epochs ≤ this are no longer replayable,
            # so visible_as_of() must refuse to time-travel below it
            self._meta_update(vacuum_epoch=int(cut))
        # prune batch dirs left with no parquet (checkpoint markers only)
        for d in self.fs.list_dirs(changelog_dir):
            if not any(f.endswith(".parquet") for f in self.fs.walk_files(d)):
                self.fs.rmtree(d)
        return removed

    def _file_epoch_stats(self, files: list[str]) -> list[tuple[str, int | None]]:
        """Per-file max(epoch) from Parquet FOOTER statistics only (no
        data pages), computed in a Spark job — executors open the footers
        with pyarrow (file:/ and plain paths; remote schemes resolve via
        pyarrow's fsspec handlers)."""
        import pandas as pd

        paths = self.spark.createDataFrame(
            [(p,) for p in files], "path string"
        ).repartition(min(len(files), 32))

        def scan(batches):
            import pyarrow.parquet as pq

            for pdf in batches:
                out = []
                for p in pdf["path"]:
                    meta = pq.ParquetFile(p.removeprefix("file:")).metadata
                    file_max = None
                    for rg in range(meta.num_row_groups):
                        for ci in range(meta.num_columns):
                            col = meta.row_group(rg).column(ci)
                            if col.path_in_schema == "epoch" and col.statistics:
                                mx = col.statistics.max
                                file_max = mx if file_max is None else max(file_max, mx)
                    out.append((p, file_max))
                yield pd.DataFrame(out, columns=["path", "max_epoch"])

        rows = paths.mapInPandas(scan, "path string, max_epoch bigint").collect()
        return [(r.path, r.max_epoch) for r in rows]

    def build_ivf_index(
        self, nlist: int = 64, sample_fraction: float | None = None, seed: int = 42
    ) -> None:
        """Train centroids on the visible view and materialize the IVF
        index partitioned by centroid_id (reference M3 centroid rebuild,
        config.h:79-81; partition layout = posting lists).

        Generation-versioned like the stable index (round 12): the old
        in-place `mode=overwrite` deleted the live dirs before the
        rewrite finished, so a reader racing a rebuild scanned a
        half-deleted index. Artifacts land in fresh `_g<B>` dirs, one
        atomic manifest write swaps readers (pointers + the 'ivf'
        correlation histograms, which describe the NEW geometry, ride
        the same write), and superseded generations are retained
        gen_retention_s before GC."""
        from write_optimized_vector_database_spark.operators.ivf import (
            assign_centroids,
            train_centroids_kmeans,
            write_ivf_index,
        )

        cur = self.current().filter(F.col("vector").isNotNull())
        cents = train_centroids_kmeans(
            cur, nlist=nlist, vec_col="vector", id_col="id",
            sample_fraction=sample_fraction, seed=seed,
        )
        assigned = assign_centroids(cur, cents, vec_col="vector")
        # id reserved under the writer lock (ADVICE r12 medium)
        gen = self._reserve_gen("ivf_build_seq", "ivf_build_id")
        idx_sub = f"index_ivf_g{gen}"
        cents_sub = f"index_centroids_ivf_g{gen}"
        write_ivf_index(assigned, f"{self.path}/{idx_sub}")
        cents.write.mode("overwrite").parquet(f"{self.path}/{cents_sub}")
        # correlation stats for plan_filtered_strategy's guard (round 9):
        # a plain-IVF-only collection deserves the same geometry-
        # correlation defense topk_filtered's POST branch needs. Labeled
        # 'ivf' — the two-phase probe-support prune only trusts 'stable'
        # histograms (centroid ids are per-index spaces). Collected
        # against the NEW generation but NOT written yet: they ride the
        # atomic swap below, so a query racing this rebuild never prunes
        # old-generation probes with new-generation histograms.
        corr = self._collect_correlation_stats(
            cur, index_subdir=idx_sub, label="ivf", write_meta=False
        )
        swap_t = time.time()

        def _swap(m: dict) -> None:
            self._retire(
                m, "ivf", [m.get(p) for p in _GEN_KINDS["ivf"].pointers], swap_t
            )
            m.update(
                ivf_build_id=gen,
                ivf_index_path=idx_sub,
                ivf_centroids_path=cents_sub,
            )
            if corr is not None:
                m["corr_stats"] = corr
                m["corr_stats_fresh"] = True

        self._meta_mutate(_swap)
        self._gc_generations("ivf")

    def _ivf_views(self, meta: dict) -> tuple[DataFrame, DataFrame]:
        """(posting lists, centroids) read views of the live plain-IVF
        generation named by `meta` (see _read_dir)."""
        return (
            self._read_dir(meta["ivf_index_path"]),
            self._read_dir(meta["ivf_centroids_path"]),
        )

    def _ivf_index_path(self, meta: dict | None = None) -> str:
        """Live plain-IVF index dir via the manifest pointer (round 12)."""
        return f"{self.path}/" + (self._meta() if meta is None else meta)[
            "ivf_index_path"
        ]

    def build_indexes(
        self,
        nlist: int = 64,
        m: int = 8,
        nbits: int = 8,
        sample_fraction: float | None = None,
        seed: int = 42,
        spill: int = 1,
        use_opq: bool = False,
        target_recall: float | None = None,
        target_nprobe: int = 12,
        target_rerank_factor: int = 4,
        _cur: DataFrame | None = None,
        _centroids: DataFrame | None = None,
        _centroids_np: tuple | None = None,
        _collect_corr: bool = True,
        _build_hi: int | None = None,
        _start_config: dict | None = None,
    ) -> dict | None:
        """Build the *stable generation*: IVF-partitioned index with PQ
        codes over the current snapshot (reference delta/stable split,
        config.h:74-94 — stable segments are IVF-PQ). Everything ingested
        after this call lives in the *delta generation* (the tail) until
        the next build. Records the index epoch so reads know the split.

        Codes are of the residual x − centroid, not of x — the FAISS
        IVFPQ formulation: residuals within a posting list span a much
        tighter range, so 8-bit codes lose less precision.

        `spill` > 1 stores each vector in its `spill` nearest posting
        lists (IVF multiple assignment) — the codes index grows spill×
        (still ≪ raw vectors) and coverage recall at a FIXED nprobe
        rises sharply on weakly-clustered corpora. `use_opq=True` learns
        an orthogonal rotation first (reference config.h:90
        `use_opq = true`; Ge et al. CVPR 2013) — the ADC phase runs in
        rotated space, the exact rerank in the original space (IP/L2 are
        rotation-invariant, so results stay comparable and the full
        table is never rotated at query time). Both knobs land in the
        manifest; topk_two_phase and refresh_indexes dispatch on them.
        Measured on the sf0.1 fixture at the reference's serving knobs
        (nlist=32 probe 12, rerank_factor=4): m=8/spill=1 → 0.75
        recall@10; m=16/spill=3/OPQ → 0.975 (target ≥0.95,
        types.h:140).

        `target_recall` closes the engine's own quality loop (VERDICT
        r05 #2): instead of the caller reading docs/SCALE.md's knob
        ladder, the build WALKS it — (m=dim/8, spill=1) → (+spill) →
        (m=dim/4) → (+OPQ) — measuring sampled recall@10 at the
        reference serving knobs (nprobe=12, rerank_factor=4 —
        config.h:84-94) after each rung, stopping at the first
        configuration that clears the target (types.h:140). The chosen
        config and the measured ladder land in the manifest
        (`auto_tune`); returns the chosen rung dict. Explicit m/spill/
        use_opq arguments are ignored in this mode."""
        if target_recall is not None:
            return self._build_indexes_auto(
                nlist=nlist, nbits=nbits, sample_fraction=sample_fraction,
                seed=seed, target_recall=target_recall, nprobe=target_nprobe,
                rerank_factor=target_rerank_factor,
                start_config=_start_config,
            )
        from write_optimized_vector_database_spark.operators.ivf import (
            train_centroids_kmeans,
        )
        from write_optimized_vector_database_spark.operators.ivfpq import (
            ivfpq_encode,
            train_ivfpq_codebooks,
        )

        # Rebuild-under-ingest atomicity (VERDICT r10 #1): the snapshot
        # epoch the build covers is captured BEFORE the build input
        # materializes, exactly the fold-window bound refresh_indexes
        # uses one level down. Appends/upserts landing DURING the
        # rebuild have epoch > build_hi, are absent from the build
        # input by construction, and stay in the NEW generation's delta
        # (the swap sets index_epoch = build_hi, so the delta scan
        # re-covers them) — no row is lost or double-indexed across the
        # swap. Without the bound, the old code read max(epoch) AFTER
        # the encode: a mid-rebuild batch would be covered by the
        # advanced epoch yet missing from the index — invisible to both
        # generations, minutes-wide at 100 TB rebuild walls.
        build_hi = _build_hi
        if build_hi is None:
            changelog_hi = (
                self.changelog().agg(F.max("epoch")).collect()[0][0]
                if self._has_changelog_files()
                else None
            )
            build_hi = max(
                self._snapshot_epoch(),
                int(changelog_hi) if changelog_hi is not None else -1,
            )
        if build_hi < 0:
            raise ValueError(
                "build_indexes: collection has no visible vectors to index "
                "(empty, all-tombstoned, or all-null) — ingest before building"
            )
        # the bounded visible view is a shuffle (snapshot ∪ tail →
        # latest-by-id window); the build makes several passes over it
        # (dim probe, centroid sample, codebook sample, encode) —
        # persist once, unpersist at the end, so the window runs once
        # instead of per-pass. The auto-escalation loop passes its own
        # already-persisted snapshot (_cur) so consecutive ladder rungs
        # share ONE materialization (bounded by the same _build_hi).
        owns_cur = _cur is None
        cur = (
            self.visible_as_of(build_hi)
            .filter(F.col("vector").isNotNull())
            .persist()
            if owns_cur
            else _cur
        )
        first = cur.select("vector").first()
        if first is None:
            raise ValueError(
                "build_indexes: collection has no visible vectors to index "
                "(empty, all-tombstoned, or all-null) — ingest before building"
            )
        dim = len(first[0])
        # generation-versioned layout (VERDICT r10 #1): every artifact
        # of this build lands in fresh `_g<B>` dirs; nothing the old
        # generation serves from is touched until the single atomic
        # manifest swap at the end. A crash mid-build leaves the old
        # generation fully live and only orphan dirs to GC. The id is
        # reserved under the writer lock (ADVICE r12 medium) so two
        # concurrent builders can never claim the same dirs.
        gen = self._reserve_gen("index_build_seq", "index_build_id")
        stable_sub = f"index_stable_g{gen}"
        cents_sub = f"index_centroids_stable_g{gen}"
        books_sub = f"index_codebooks_g{gen}"
        rot_sub = f"index_rotation_g{gen}"
        if use_opq:
            from write_optimized_vector_database_spark.operators.pq import (
                rotate_vectors,
                train_opq,
            )

            r_mat, _ = train_opq(
                cur, dim=dim, m=m, nbits=nbits, vec_col="vector", id_col="id",
                sample_fraction=sample_fraction, seed=seed,
            )
            self._save_rotation(r_mat, rot_sub)
            # rotate once here (one Arrow pass over the persisted build
            # input); query time rotates only the ≤100-row query batch
            cur_idx = rotate_vectors(cur, r_mat, "vector")
        else:
            r_mat = None
            cur_idx = cur
        # _centroids: pre-trained ORIGINAL-space centroids from the
        # auto-escalation loop — consecutive non-OPQ rungs share one
        # Lloyd run (identical nlist/seed/sample ⇒ identical output).
        # Never valid under OPQ (rotated space).
        if _centroids is not None and not use_opq:
            cents, cents_np = _centroids, _centroids_np
        else:
            cents, cents_np = train_centroids_kmeans(
                cur_idx, nlist=nlist, vec_col="vector", id_col="id",
                sample_fraction=sample_fraction, seed=seed, return_np=True,
            )
        # thread the just-trained driver-side forms through training
        # and encode (round 14, guide §5): the old shape re-collected
        # the local centroid/codebook frames it had just created —
        # one Python-worker evaluation of the local relation per
        # collect, 2-3 per build
        codebooks, cb_np = train_ivfpq_codebooks(
            cur_idx, cents, dim=dim, m=m, nbits=nbits, vec_col="vector",
            id_col="id", sample_fraction=sample_fraction,
            _cents_np=cents_np, return_np=True,
        )
        encoded = ivfpq_encode(
            cur_idx, cents, codebooks, vec_col="vector", id_col="id", spill=spill,
            _cb_np=cb_np, _cents_np=cents_np,
        )
        # hash-cluster rows by posting list before the partitioned write:
        # without it every input task writes a file into every list dir
        # (tasks × nlist small files); with it each task owns whole lists
        # (AQE splits skewed lists). At 100 TB this is the difference
        # between nlist×10k files and a file count proportional to data.
        # rows-per-list odometer baseline (VERDICT r09 #1): count the
        # index entries (with spill > 1 a row counts once per posting
        # list — the unit ADC cost actually scales with). Observed ON
        # the write itself (round 14, guide §1.2/§6: don't re-read what
        # you just wrote — the old read-back footer count() was one more
        # job per build/rung).
        from pyspark.sql import Observation

        # No bloom options (see _with_bloom): nothing pushes an id
        # predicate into a posting-list scan, and every list file would
        # carry a 64 KiB bitset for a few KB of codes.
        n_obs = Observation()
        (
            encoded.select("id", "centroid_id", "codes")
            .observe(n_obs, F.count(F.lit(1)).alias("n"))
            .repartition("centroid_id")
            .write.mode("overwrite")
            .partitionBy("centroid_id")
            .parquet(f"{self.path}/{stable_sub}")
        )
        n_entries = int(n_obs.get["n"])
        # IVF-PQ centroids get their OWN path: when use_opq=True they live
        # in OPQ-ROTATED space, and sharing {path}/index_centroids with
        # build_ivf_index (original space) would make a later topk_ivf /
        # calibrate_nprobe probe original-space posting lists with rotated
        # centroids — a silent systematic space mismatch.
        cents.write.mode("overwrite").parquet(f"{self.path}/{cents_sub}")
        codebooks.write.mode("overwrite").parquet(f"{self.path}/{books_sub}")
        # filter↔geometry correlation stats for the planner (VERDICT r08
        # #1): per-filter-value centroid histograms, collected while the
        # build snapshot is still persisted (one narrow join + two small
        # groupBys — negligible next to the encode pass above). Computed
        # against the NEW generation but NOT written yet — they ride the
        # atomic swap below, so a query racing the rebuild never prunes
        # old-generation probes with new-generation histograms.
        corr_kv: dict = {}
        if _collect_corr:
            corr = self._collect_correlation_stats(
                cur, index_subdir=stable_sub, write_meta=False
            )
            if corr is not None:
                corr_kv = {"corr_stats": corr, "corr_stats_fresh": True}
        if owns_cur:
            cur.unpersist()
        # test/crash hook: everything of the new generation is on disk,
        # nothing is visible — a kill here must leave the old generation
        # fully live (gate: tests/test_storage_crash.py), and the
        # rebuild-under-ingest gate interleaves appends + folds here
        # (tests/test_incremental_index.py)
        _fault("index_built_preswap")
        # THE atomic swap: one manifest write moves every reader —
        # index path pointers, epoch bound, knobs, odometer — from the
        # old generation to the new. build_id is a monotonic per-build
        # token: index_epoch alone can't distinguish "rebuilt with
        # different knobs, no new ingest" (same max changelog epoch)
        # from "nothing changed", so the artifact cache keys on
        # build_id, not epoch. The transform reads the manifest UNDER
        # THE WRITER LOCK (not meta0, and not an unlocked pre-read):
        # folds landing mid-rebuild advanced index_epoch/index_rows on
        # the OLD generation — their meta keys are overwritten by the
        # swap (their rows are re-covered via epoch > build_hi), but
        # any unrelated keys they wrote survive, and no writer racing
        # this swap can interleave between its read and its write
        # (ADVICE r11 medium).
        swap_t = time.time()
        # index bytes this build wrote, for the write-amplification
        # ledger (listed before the lock, like the changelog's count)
        index_bytes = sum(
            self._dir_bytes(sub)
            for sub in (stable_sub, cents_sub, books_sub)
            + ((rot_sub,) if use_opq else ())
        )

        def _swap(m: dict) -> None:
            m["bytes_index"] = m.get("bytes_index", 0) + index_bytes
            # time-based multi-generation retention (ADVICE r11 medium):
            # the superseded generation is timestamped into the history
            # and _gc_generations("index") removes it only once it has
            # been superseded for gen_retention_s — so a multi-rung
            # ladder swapping several times in seconds never deletes a
            # directory an in-flight reader resolved. The old
            # generation's fold overlays (round 13) are part of its read
            # view and retire WITH it; pending overlays (a fold racing
            # this swap) retire too — that fold's advance will see the
            # build_id change and no-op. A non-OPQ build drops the
            # rotation pointer, so the previous rotation retires as well.
            overlays = set((m.get("index_fold_overrides") or {}).values())
            overlays |= set(m.get("index_fold_pending") or {})
            overlays.discard(None)
            self._retire(
                m,
                "index",
                [m.pop(p, None) for p in _GEN_KINDS["index"].pointers]
                + sorted(overlays),
                swap_t,
            )
            m["index_fold_overrides"] = {}
            m["index_fold_pending"] = {}
            m.update(
                index_epoch=int(build_hi),
                index_build_id=gen,
                index_stable_path=stable_sub,
                index_centroids_path=cents_sub,
                index_codebooks_path=books_sub,
                **({"index_rotation_path": rot_sub} if use_opq else {}),
                index_spill=int(spill),
                index_opq=bool(use_opq),
                index_nlist=int(nlist),
                index_m=int(m_),
                index_nbits=int(nbits),
                # growth odometer (VERDICT r09 #1): folds maintain
                # freshness but never re-size — nlist stops tracking n
                # and ADC cost over the fixed lists grows ∝ n/nlist
                # (round-9 serving run: 13× growth on nlist=8 → 26.9 s
                # probes). refresh_indexes advances index_rows;
                # needs_rebuild() compares the ratio.
                index_rows_built=int(n_entries),
                index_rows=int(n_entries),
                **corr_kv,
            )
            # a knob-explicit rebuild invalidates a prior auto-build
            # certification: the recall it promised was measured against
            # an index that no longer exists, so serving falls back to
            # the plain nprobe default until re-certified. The escalation
            # loop's own inner builds hit this too, but its final meta
            # write re-certifies (calibrated_stale=False) after the last
            # rung; auto_resize re-certifies via the recert probe.
            if m.get("calibrated_family") == "ivfpq":
                m["calibrated_stale"] = True

        m_ = m  # build knob; the transform shadows `m` with the manifest
        meta_after = self._meta_mutate(_swap)
        if cents_np is not None:
            # seed the ndarray artifact cache from the arrays this build
            # just trained (round 14): the first search/probe against
            # the new generation otherwise re-derives exactly these
            # values via 2 parquet reads + persists + 2 collects —
            # ~0.5-0.9 s per generation swap, paid per autotune rung
            from pyspark.sql import Row

            cent_ids, cents_mat = cents_np
            crows = [
                Row(centroid_id=int(i), centroid=[float(x) for x in c])
                for i, c in zip(cent_ids, cents_mat)
            ]
            self._seed_index_artifacts_np(
                meta_after, crows, cb_np,
                rot=r_mat if use_opq else None,
            )
        self._gc_generations("index")

    def _build_indexes_auto(
        self,
        nlist: int,
        nbits: int,
        sample_fraction: float | None,
        seed: int,
        target_recall: float,
        nprobe: int,
        rerank_factor: int,
        k: int = 10,
        n_sample_queries: int = 8,
        start_config: dict | None = None,
    ) -> dict:
        """Escalating build (VERDICT r05 #2): rebuild up the m/spill/OPQ
        ladder until the SAMPLED recall@k at the reference serving knobs
        clears `target_recall`. The recall probe is the Q15 frontier
        measurement — n_sample_queries member vectors as queries, exact
        top-k as ground truth — so it costs one small two-phase search
        per rung; the rebuilds are the real cost, which is why the
        ladder starts at the cheapest configuration and stops early.

        Three cost levers keep escalation from tripling the build bill:
        the snapshot window is materialized ONCE and shared by every
        rung (`_cur`), the original-space Lloyd run is trained once and
        shared by every non-OPQ rung (`_centroids` — identical
        nlist/seed/sample ⇒ identical centroids), and a WIDE miss jumps
        straight to the strongest rung: when a rung's recall falls more
        than one rung's LARGEST measured gain (+0.15 on the SCALE.md
        ladder) below target, intermediate rungs can't close the gap,
        so rebuilding them buys a probe result and nothing else.

        If the ladder is exhausted below `target_recall`, the result
        carries ``target_met=False`` and the serving certification is
        left STALE — describe_index / search must not present a missed
        target as certified (ADVICE r06 medium)."""
        from write_optimized_vector_database_spark.operators.ivf import (
            recall_at_k,
            train_centroids_kmeans,
        )

        # one snapshot bound for the WHOLE ladder (rebuild-under-ingest
        # atomicity, VERDICT r10 #1): every rung builds the same epoch
        # window and swaps to index_epoch = build_hi; appends landing
        # during any rung stay in the final generation's delta
        changelog_hi = (
            self.changelog().agg(F.max("epoch")).collect()[0][0]
            if self._has_changelog_files()
            else None
        )
        build_hi = max(
            self._snapshot_epoch(),
            int(changelog_hi) if changelog_hi is not None else -1,
        )
        if build_hi < 0:
            raise ValueError(
                "build_indexes: collection has no visible vectors to index "
                "(empty, all-tombstoned, or all-null) — ingest before building"
            )
        cur = (
            self.visible_as_of(build_hi)
            .filter(F.col("vector").isNotNull())
            .persist()
        )
        first = cur.select("vector").first()
        if first is None:
            raise ValueError(
                "build_indexes: collection has no visible vectors to index "
                "(empty, all-tombstoned, or all-null) — ingest before building"
            )
        dim = len(first[0])

        def _div(x: int) -> int:
            # largest divisor of dim that is ≤ x (PQ needs m | dim)
            x = max(1, min(x, dim))
            while dim % x:
                x -= 1
            return x

        ladder: list[dict] = []
        for rung in (
            {"m": _div(dim // 8), "spill": 1, "use_opq": False},
            {"m": _div(dim // 4), "spill": 2, "use_opq": False},
            {"m": _div(dim // 4), "spill": 3, "use_opq": True},
        ):
            if rung not in ladder:  # tiny dims can collapse rungs
                ladder.append(rung)
        if start_config is not None:
            # deployed-geometry floor (ADVICE r11 low): auto_resize's
            # recert-miss re-ladder starts AT the geometry the index was
            # deployed with — standard rungs weaker-or-equal on every
            # knob are dropped, so an OPQ/spill deployment is never
            # silently re-certified on a weaker index family
            floor = {
                "m": _div(int(start_config.get("m", dim // 8))),
                "spill": int(start_config.get("spill", 1)),
                "use_opq": bool(start_config.get("use_opq", False)),
            }

            def _weaker_or_equal(r: dict) -> bool:
                return (
                    r["m"] <= floor["m"]
                    and r["spill"] <= floor["spill"]
                    and (not r["use_opq"] or floor["use_opq"])
                )

            ladder = [floor] + [r for r in ladder if not _weaker_or_equal(r)]

        # bounded driver pull: the probe query batch is ≤ n_sample_queries
        # rows — materialized so every rung scores the same batch
        qrows = (
            cur.orderBy("id")
            .limit(n_sample_queries)
            .select(F.col("id").alias("query_id"), F.col("vector").alias("query_vec"))
            .collect()
        )
        queries = self.spark.createDataFrame(
            qrows, "query_id long, query_vec array<double>"
        )
        # ground truth materialized ONCE (≤ n_sample_queries × k rows):
        # as a lazy plan it would re-run the exact scan inside every
        # rung's recall_at_k. ONE plan object: constructing the exact
        # topk plan twice (collect + schema) was pure py4j chatter.
        exact_plan = self.topk(queries, k=k)
        exact_rows = exact_plan.collect()
        exact = self.spark.createDataFrame(exact_rows, exact_plan.schema)
        cents0, cents0_np = train_centroids_kmeans(
            cur, nlist=nlist, vec_col="vector", id_col="id",
            sample_fraction=sample_fraction, seed=seed, return_np=True,
        )
        history: list[dict] = []
        i = 0
        while i < len(ladder):
            rung = ladder[i]
            t_build = time.time()
            self.build_indexes(
                nlist=nlist, nbits=nbits, sample_fraction=sample_fraction,
                seed=seed, **rung, _cur=cur, _centroids=cents0,
                _centroids_np=cents0_np,
                # correlation stats describe the FINAL index's geometry;
                # collecting them per discarded rung would only add wall
                _collect_corr=False,
                _build_hi=build_hi,
            )
            t_probe = time.time()
            approx = self.topk_two_phase(
                queries, k=k, nprobe=nprobe, rerank_factor=rerank_factor
            )
            r = float(
                recall_at_k(approx, exact, k=k).agg(F.avg("recall")).first()[0]
            )
            # per-rung wall times land in the manifest so bench/VERDICT
            # can govern the costliest entry rung by rung instead of as
            # one opaque total (VERDICT r06 #2)
            history.append({
                **rung, "recall": round(r, 4),
                "build_s": round(t_probe - t_build, 3),
                "probe_s": round(time.time() - t_probe, 3),
            })
            if r >= target_recall:
                break
            i = _escalation_next(i, len(ladder), target_recall - r)
        # the last rung built is the index that will serve — collect the
        # planner's correlation stats against it once, not per rung
        self._collect_correlation_stats(cur)
        cur.unpersist()
        chosen = history[-1]
        target_met = chosen["recall"] >= target_recall
        certify_at = time.time()

        def _certify(m: dict) -> None:
            m.update(
                auto_tune={
                    "target_recall": float(target_recall),
                    "nprobe": int(nprobe),
                    "rerank_factor": int(rerank_factor),
                    "k": int(k),
                    "ladder": history,
                    "chosen": chosen,
                    # exhausted-ladder miss is recorded, never masked:
                    # the strongest rung still serves (it's the best
                    # index we have) but nothing downstream may call it
                    # "certified at target_recall" (ADVICE r06 medium)
                    "target_met": bool(target_met),
                },
                # serve at the knob the recall was certified at:
                # topk_two_phase(nprobe=None) picks this up via
                # _default_nprobe, so the out-of-box SEARCH matches the
                # out-of-box BUILD instead of silently probing fewer
                # lists
                calibrated_nprobe=int(nprobe),
                calibrated_recall=float(chosen["recall"]),
                calibrated_at=certify_at,
                # bind the certification to THIS build: a later
                # knob-explicit rebuild marks it stale rather than
                # serving a recall promise measured against an
                # overwritten index. build_id is read under the writer
                # lock from the manifest this write lands in.
                calibrated_family="ivfpq",
                calibrated_build_id=int(m.get("index_build_id", 0)),
                # a missed target leaves the certification stale:
                # serving and observability treat the measured recall
                # as informational, not as a met promise
                calibrated_stale=not target_met,
            )

        self._meta_mutate(_certify)
        return {**chosen, "target_met": bool(target_met)}

    def _save_rotation(self, r_mat, subdir: str) -> None:
        # ONE parallelize slice, not createDataFrame(...).coalesce(1):
        # a Python local relation defaults to defaultParallelism slices,
        # and coalesce(1) funnels ALL of them through a single Python
        # worker task sequentially — measured 4-5 s PER CALL for this
        # 64-row write (round 14; repartition(1) or 1 slice: ~0.3 s).
        # _load_rotation orders by `i`, so file layout is irrelevant.
        rows = [(int(i), [float(x) for x in r_mat[i]]) for i in range(len(r_mat))]
        rdd = self.spark.sparkContext.parallelize(rows, 1)
        self.spark.createDataFrame(rdd, "i int, row array<double>").write.mode(
            "overwrite"
        ).parquet(f"{self.path}/{subdir}")

    def _load_rotation(self, meta: dict | None = None):
        import numpy as np

        rows = (
            self.spark.read.parquet(self._rotation_path(meta))
            .orderBy("i")
            .collect()
        )
        return np.asarray([r.row for r in rows], dtype=np.float64)

    def _index_epoch(self, meta: dict | None = None) -> int:
        return (self._meta() if meta is None else meta).get("index_epoch", -1)

    def _stable_centroids_path(self, meta: dict | None = None) -> str:
        """IVF-PQ (stable-generation) centroids of the live build."""
        return f"{self.path}/" + (self._meta() if meta is None else meta)[
            "index_centroids_path"
        ]

    def _stable_index_subdir(self, meta: dict | None = None) -> str:
        """Live stable-index generation dir name, resolved through the
        manifest pointer (round 11): builds write `index_stable_g<B>`
        and ONE atomic manifest write swaps readers over — queries
        resolve the path per call, so they serve the old generation
        until the swap and the new one after, never a half-written mix.
        Pass `meta` (ADVICE r11 high) so every path a query resolves
        comes from ONE manifest snapshot — independent re-reads racing a
        generation swap yield a mixed view (old posting lists decoded
        with new codebooks)."""
        return (self._meta() if meta is None else meta)["index_stable_path"]

    def _stable_index_path(self, meta: dict | None = None) -> str:
        return f"{self.path}/{self._stable_index_subdir(meta)}"

    def stable_index_df(self, meta: dict | None = None) -> DataFrame:
        """The stable index as ONE DataFrame: base generation dir plus
        the live fold overlays (round 13). Folds no longer rewrite the
        base generation's partitions in place (ADVICE r12 medium — a
        reader scanning a list mid-overwrite transiently lost its
        unchanged rows); each fold writes its affected lists to a fresh
        overlay dir and atomically repoints `index_fold_overrides`
        (centroid_id → overlay dir, None = list is now empty). This
        view masks overridden lists out of the base scan and unions
        each overlay filtered to the lists it currently owns — so a
        query bound to one manifest snapshot reads one consistent
        index, no matter how many folds land mid-query.

        Plan shape: with no overrides this is exactly the old single
        parquet scan. With overrides it is ≤ FOLD_DIRS_MAX + 1 parquet
        sources under a union; a query's `centroid_id isin(probes)`
        filter pushes into every branch, composing with the per-branch
        in/not-in list masks, so partition pruning and bloom pushdown
        survive unchanged (Catalyst turns long literal lists into
        hash-set InSet predicates).

        Every branch comes from the handle's read view of its dir
        (_read_dir): the base generation is listed once per build and
        each overlay once per fold, so on an unchanged manifest this
        call runs no listing and no schema job — only the cheap
        mask/union plan is rebuilt."""
        if meta is None:
            meta = self._meta()
        base = self._read_dir(self._stable_index_subdir(meta))
        ov: dict = meta.get("index_fold_overrides") or {}
        if not ov:
            return base
        cols = ["id", "centroid_id", "codes"]
        ov_cids = [int(c) for c in ov]
        parts = [
            base.filter(~F.col("centroid_id").isin(ov_cids)).select(*cols)
        ]
        by_dir: dict[str, list[int]] = {}
        for cid, sub in ov.items():
            if sub is not None:
                by_dir.setdefault(sub, []).append(int(cid))
        for sub in sorted(by_dir):
            parts.append(
                self._read_dir(sub)
                .filter(F.col("centroid_id").isin(by_dir[sub]))
                .select(*cols)
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _codebooks_path(self, meta: dict | None = None) -> str:
        return f"{self.path}/" + (self._meta() if meta is None else meta)[
            "index_codebooks_path"
        ]

    def _rotation_path(self, meta: dict | None = None) -> str:
        return f"{self.path}/" + (self._meta() if meta is None else meta)[
            "index_rotation_path"
        ]

    def _evict_index_artifacts(self) -> None:
        """Drop every cached artifact and read view, so the next call
        reads cold."""
        with self._artifact_cache_lock:
            self._artifact_cache.pop("idx_np", None)
            self._artifact_cache.pop("views", None)

    def _np_cache_key(self, meta: dict) -> tuple:
        """Cache key for the driver-side artifact forms: build_id PLUS
        the artifact paths from the SAME manifest snapshot (ADVICE r13
        low: a legacy manifest lacking build_id/epoch must never serve
        another generation's centroids just because both keys fell back
        to -1 — the generation-versioned paths disambiguate)."""
        return (
            meta.get("index_build_id", meta.get("index_epoch", -1)),
            meta.get("index_centroids_path"),
            meta.get("index_codebooks_path"),
            meta.get("index_rotation_path"),
        )

    def _seed_index_artifacts_np(
        self, meta: dict, crows: list, cbt: tuple, rot=None
    ) -> None:
        """Populate the ndarray artifact cache from the driver-side
        forms a build just trained (round 14, guide §5: the driver does
        no data work twice) — the first search after a build/rung swap
        otherwise pays 2 parquet reads + persists + 2 collects to
        re-derive exactly these values. Same lock + key discipline as
        the lazy populate in _index_artifacts_np."""
        with self._artifact_cache_lock:
            self._artifact_cache["idx_np"] = {
                "key": self._np_cache_key(meta),
                "crows": crows,
                "cbt": cbt,
                "rot": rot,
            }

    def _index_artifacts_np(self, meta: dict | None = None) -> tuple[list, tuple]:
        """Driver-side ndarray forms of the build artifacts — (centroid
        rows sorted by centroid_id, `_codebooks_np(codebooks)` tuple) —
        cached per build (round 13). These are per-BUILD constants, yet
        the ADC operator re-collected them from the artifact frames on
        every search call (~0.9 s per call at the bench serving shape).
        The key and the paths come from ONE manifest read, and a new
        build's key never matches an older entry. Builds seed the entry
        directly from the arrays they trained
        (_seed_index_artifacts_np), so the lazy populate below only
        runs for collections opened cold."""
        if meta is None:
            meta = self._meta()
        key = self._np_cache_key(meta)
        with self._artifact_cache_lock:
            hit = self._artifact_cache.get("idx_np")
            if hit is not None and hit["key"] == key:
                return hit["crows"], hit["cbt"]
        from write_optimized_vector_database_spark.operators.pq import (
            _codebooks_np,
        )

        cents, codebooks = self._index_artifacts(meta)
        crows = sorted(cents.collect(), key=lambda r: r.centroid_id)
        cbt = _codebooks_np(codebooks)
        with self._artifact_cache_lock:
            cur = self._artifact_cache.get("idx_np")
            if cur is not None and cur["key"] == key:
                return cur["crows"], cur["cbt"]
            self._artifact_cache["idx_np"] = {
                "key": key,
                "crows": crows,
                "cbt": cbt,
                "rot": None,
            }
        return crows, cbt

    def _rotation_np(self, meta: dict | None = None):
        """The OPQ rotation matrix as a per-build driver-side constant
        (round 14): topk_two_phase re-collected the 64-row rotation
        parquet on EVERY OPQ search call and refresh fold. Cached in the
        same entry/key as the other ndarray artifacts; builds seed it
        with the matrix they trained."""
        if meta is None:
            meta = self._meta()
        key = self._np_cache_key(meta)
        with self._artifact_cache_lock:
            hit = self._artifact_cache.get("idx_np")
            if hit is not None and hit["key"] == key and hit["rot"] is not None:
                return hit["rot"]
        rot = self._load_rotation(meta)
        with self._artifact_cache_lock:
            cur = self._artifact_cache.get("idx_np")
            if cur is not None and cur["key"] == key:
                if cur["rot"] is None:
                    cur["rot"] = rot
                return cur["rot"]
        return rot

    def _index_artifacts(
        self, meta: dict | None = None
    ) -> tuple[DataFrame, DataFrame]:
        """(centroids, codebooks) read views of the build described by
        `meta` (one manifest snapshot — ADVICE r11 high: a generation
        swap landing between a caller's index-path read and this call
        can't pair old posting lists with new codebooks). Both dirs are
        immutable generation dirs, so the views come from _read_dir."""
        if meta is None:
            meta = self._meta()
        return (
            self._read_dir(meta["index_centroids_path"]),
            self._read_dir(meta["index_codebooks_path"]),
        )

    def refresh_indexes(self) -> dict:
        """Incrementally fold the delta generation into the stable index.

        Centroids and codebooks are KEPT (the reference retrains
        centroids on a 24 h schedule, config.h:79-81 — between rebuilds
        the index is maintained, not rebuilt): only ids touched since
        the last build are re-encoded, and only the posting lists that
        contain touched ids are rewritten. Cost is O(delta + affected
        lists), never O(index) — the merge-on-write analog of the
        reference's delta→stable compaction for the index itself.

        READER-SAFE and REBUILD-CONCURRENT (round 13, ADVICE r12
        medium): the rewrite lands in a fresh overlay dir and one
        locked manifest write repoints the affected lists
        (`index_fold_overrides`) — the base generation and prior
        overlays are never modified, so queries concurrent with the
        fold read a fully consistent index, and a fold may run BESIDE
        a background rebuild (the swap/epoch guards in the final
        manifest advance discard a fold the rebuild superseded).
        `stable_index_df()` is the merged read view; overlay fan-in is
        bounded by FOLD_DIRS_MAX via consolidation folds.

        Requires the changelog tail back to the index epoch (the normal
        schedule: refresh, then vacuum). If vacuum() already collapsed
        past it, delete visibility can't be derived incrementally —
        raises IndexVacuumedError, directing callers to a full
        build_indexes(). Returns {n_touched, n_reencoded,
        n_lists_rewritten, fold_dir, consolidated, needs_rebuild}.
        """
        from write_optimized_vector_database_spark.operators.ivfpq import (
            ivfpq_encode,
        )

        # ONE manifest snapshot for the whole fold (ADVICE r11 high):
        # epoch bound, artifact paths, and encode knobs must describe
        # the SAME generation — independent re-reads racing a swap
        # would fold old posting lists with new codebooks
        fold_meta = self._meta()
        fold_build_id = fold_meta.get("index_build_id")
        idx_epoch = self._index_epoch(fold_meta)
        if idx_epoch < 0:
            raise ValueError("no stable index; run build_indexes() first")
        if fold_meta.get("vacuum_epoch", -1) > idx_epoch:
            raise IndexVacuumedError(
                "changelog vacuumed past the index epoch — deletes are no "
                "longer derivable incrementally; run build_indexes()"
            )
        vis = self._visible_ref()
        if vis.log is None:
            # fully vacuumed, nothing ingested since: an empty changelog
            # dir would fail parquet schema inference below — this is
            # simply "no delta" (found by the vacuum-during-rebuild gate)
            return {"n_touched": 0, "n_reencoded": 0, "n_lists_rewritten": 0}
        spark = self.spark
        # Fold-window upper bound, captured BEFORE any fold input
        # materializes (round 9): the fold previously advanced
        # index_epoch to max(changelog.epoch) read AFTER the posting
        # lists were rewritten — under live concurrent appends (the
        # serving-while-ingesting shape, msg-buf.h:220-260) a batch
        # landing mid-fold would be skipped by the fold yet covered by
        # the advanced epoch, making its rows invisible to BOTH
        # generations. Bounding the whole fold to epoch <= fold_hi
        # leaves mid-fold arrivals in the delta for the next refresh;
        # epoch monotonicity is already the engine's MVCC contract.
        fold_hi = vis.log.agg(F.max("epoch")).collect()[0][0]
        if fold_hi is None or int(fold_hi) <= idx_epoch:
            return {"n_touched": 0, "n_reencoded": 0, "n_lists_rewritten": 0}
        fold_hi = int(fold_hi)
        in_window = (F.col("epoch") > idx_epoch) & (F.col("epoch") <= fold_hi)
        tail = vis.log.filter(in_window)
        # fences excluded (round 13 correctness fix): a FENCE may share a
        # data id (wal-record.fbs:6 barriers interleave with data); with
        # it counted as "touched", the fold would evict that id's index
        # entries below yet never re-encode it (its visible version is
        # outside the window) — silently missing from BOTH generations
        touched = (
            tail.filter(F.col("op") != "FENCE").select("id").distinct().persist()
        )
        n_touched = touched.count()
        if n_touched == 0:
            touched.unpersist()
            return {"n_touched": 0, "n_reencoded": 0, "n_lists_rewritten": 0}

        cents, codebooks = self._index_artifacts(fold_meta)
        # visible versions of touched ids (deleted ids simply absent);
        # versions newer than fold_hi stay in the delta generation.
        # Specialized window view (round 13, same argument as the
        # topk_two_phase delta branch): when idx_epoch ≥ snap_epoch the
        # snapshot cannot contribute a row with epoch > idx_epoch, so
        # the generic current() plan's full snapshot scan + tail
        # anti-join per fold is pure waste — latest-by-id over ONLY the
        # in-window ops is row-identical (for a fixed changelog, the
        # latest visible version in (idx, fold_hi] is the latest among
        # the in-window ops of its id; under a concurrent append past
        # fold_hi both shapes leave the id's newer version to the delta
        # branch and the rerank resolves candidates on current()).
        if idx_epoch >= vis.snap_epoch:
            delta_vis = C.visible(tail).filter(F.col("vector").isNotNull())
        else:
            delta_vis = self._current_view(vis).filter(
                in_window & F.col("vector").isNotNull()
            )
        if fold_meta.get("index_opq", False):
            from write_optimized_vector_database_spark.operators.pq import (
                rotate_vectors,
            )

            delta_vis = rotate_vectors(
                delta_vis, self._rotation_np(fold_meta), "vector"
            )
        # per-build ndarray artifacts from the cache (round 14): the
        # fold's encode otherwise re-collects centroids + codebooks
        # from parquet on every refresh — these are the same
        # per-build constants the serving path already caches
        crows_f, cbt_f = self._index_artifacts_np(fold_meta)
        new_rows = ivfpq_encode(
            delta_vis, cents, codebooks, vec_col="vector", id_col="id",
            spill=fold_meta.get("index_spill", 1),
            _cb_np=cbt_f,
            _cents_np=(
                [int(r.centroid_id) for r in crows_f],
                [r.centroid for r in crows_f],
            ),
        ).persist()

        # the fold reads the MERGED view (base + live overlays): earlier
        # folds' output lives in overlay dirs, not the base generation
        index = self.stable_index_df(fold_meta)
        overrides: dict = dict(fold_meta.get("index_fold_overrides") or {})
        # overlay consolidation decision (round 13): when the live
        # overlay count has reached the fan-in cap, this fold rewrites
        # every overridden list into its own overlay so all older
        # overlay dirs retire — the reader's union stays bounded
        consolidate = (
            len({v for v in overrides.values() if v}) >= FOLD_DIRS_MAX
        )
        # affected lists: where touched ids sit now, plus where they used
        # to sit. touched is delta-sized → broadcast semi-join; the index
        # side is an int-only columnar scan. The hit set is also the
        # entry-removal count for the growth odometer — persist so the
        # scan runs once for both.
        old_hits = index.join(F.broadcast(touched), "id", "left_semi").persist()
        old_lists = old_hits.select("centroid_id").distinct()
        new_lists = new_rows.select("centroid_id").distinct()
        affected = sorted(
            r.centroid_id
            for r in old_lists.unionByName(new_lists).distinct().collect()
        )
        if not affected:
            touched.unpersist()
            new_rows.unpersist()
            old_hits.unpersist()
            return {
                "n_touched": n_touched,
                "n_reencoded": 0,
                "n_lists_rewritten": 0,
                "needs_rebuild": self.needs_rebuild(),
            }
        # entry-removal count for the growth odometer — answered from the
        # cache the old_lists distinct just populated
        n_removed = old_hits.count()

        # lists this fold's overlay will own: the touched lists, plus —
        # on a consolidation fold — every currently-overridden list
        affected_all = (
            sorted(set(affected) | {int(c) for c in overrides})
            if consolidate
            else affected
        )
        keep = index.filter(F.col("centroid_id").isin(affected_all)).join(
            F.broadcast(touched), "id", "left_anti"
        )
        out = (
            keep.select("id", "centroid_id", "codes")
            .unionByName(new_rows.select("id", "centroid_id", "codes"))
            .persist()
        )
        n_reencoded = new_rows.count()
        # reader-safe write (ADVICE r12 medium): the fold lands in a
        # FRESH overlay dir — the base generation and every prior
        # overlay stay byte-identical on disk, so a reader that bound
        # its manifest snapshot any time before the advance below keeps
        # a fully consistent index. The dir name was reserved and
        # pre-registered in index_fold_pending under the writer lock
        # (see _reserve_fold_dir), so a rebuild's concurrent GC sweep
        # cannot reap it between this write and the manifest advance.
        fold_sub = self._reserve_fold_dir()
        # no bloom options, like the base generation's write
        (
            out.repartition("centroid_id")
            .write.mode("overwrite")
            .partitionBy("centroid_id")
            .parquet(f"{self.path}/{fold_sub}")
        )
        # a list whose every row died produces no output rows in the
        # overlay — its override maps to None below, masking the stale
        # base partition out of the merged view (nothing is deleted)
        live = {
            int(r.centroid_id)
            for r in out.select("centroid_id").distinct().collect()
        }
        out.unpersist()
        # torn state: overlay written, manifest not yet advanced — the
        # overlay is INVISIBLE (pending, unreferenced), the old state is
        # fully live, and a re-run re-folds idempotently into a fresh
        # overlay; the orphan dir self-heals via the pending-retirement
        # sweep in _reserve_fold_dir (crash-tested at this point)
        _fault("index_rewritten")
        # correlation-histogram maintenance (VERDICT r09 #5): the fold
        # may add filter values to lists the build-time histograms never
        # saw, so the probe-support prune can't trust them as-is — but
        # the histogram delta is exactly the fold's own output (new
        # posting-list assignments × the touched ids' current filter
        # values, both still in hand), so fold it in ADD-ONLY and keep
        # the prune ARMED instead of flipping it off: a serving loop
        # that folds every 30 s otherwise never has the prune on. A
        # failed/inapplicable update degrades to the old behavior
        # (disarm; analyze_correlation() re-arms on its own cadence).
        meta_now = self._meta()
        corr = meta_now.get("corr_stats")
        corr_updates: dict = {"corr_stats_fresh": False}
        if (
            corr
            and corr.get("index") == "stable"
            and meta_now.get("corr_stats_fresh", False)
        ):
            folded = self._fold_correlation_stats(corr, new_rows, delta_vis)
            if folded is not None:
                corr_updates = {"corr_stats": folded, "corr_stats_fresh": True}
        elif corr and corr.get("index") == "ivf":
            # the fold rewrites index_stable only — 'ivf' histograms
            # describe an untouched index and keep whatever freshness
            # the ingest-disarm rule (ADVICE r09) left them with
            corr_updates = {}
        touched.unpersist()
        new_rows.unpersist()
        old_hits.unpersist()
        # index_epoch advances exactly to the fold window's bound — never
        # past rows the fold didn't see (see fold_hi above). index_rows
        # advances by the fold's net entry delta (VERDICT r09 #1): folds
        # maintain freshness but never re-size, so the odometer is what
        # lets needs_rebuild() notice nlist no longer tracking n.
        superseded = [False]
        fold_bytes = self._dir_bytes(fold_sub)

        def _advance(m: dict) -> None:
            # the overlay's bytes were written whether or not it lands
            m["bytes_index"] = m.get("bytes_index", 0) + fold_bytes
            # generation guard (ADVICE r11 medium): a background
            # rebuild's atomic swap landing mid-fold means this fold
            # rewrote the now-SUPERSEDED generation — its window is
            # re-covered by the new generation's delta (epoch >
            # build_hi), so advancing index_epoch/index_rows here would
            # corrupt the NEW generation's bookkeeping. The epoch guard
            # (round 13) additionally catches a CONCURRENT FOLD that
            # advanced first — this fold's window is then stale and its
            # rows stay in the delta for the next refresh. Either way:
            # skip the advance and retire our overlay into the
            # retention history so GC reclaims it.
            now = time.time()
            if (
                m.get("index_build_id") != fold_build_id
                or int(m.get("index_epoch", -1)) != int(idx_epoch)
            ):
                superseded[0] = True
                pend = dict(m.get("index_fold_pending", {}))
                if fold_sub in pend:
                    pend.pop(fold_sub)
                    m["index_fold_pending"] = pend
                    self._retire(m, "index", [fold_sub], now)
                return
            # install the overlay: affected lists repoint to this
            # fold's dir (None = the list is now empty); on a
            # consolidation fold the map is rebuilt from scratch
            old_ov = dict(m.get("index_fold_overrides", {}))
            new_ov: dict = {} if consolidate else dict(old_ov)
            for cid in affected_all:
                new_ov[str(cid)] = fold_sub if cid in live else None
            old_dirs = {v for v in old_ov.values() if v}
            new_dirs = {v for v in new_ov.values() if v}
            pend = dict(m.get("index_fold_pending", {}))
            pend.pop(fold_sub, None)
            m["index_fold_pending"] = pend
            m["index_fold_overrides"] = new_ov
            # overlay dirs no longer referenced by any list retire into
            # the time-based retention history (in-flight readers keep
            # resolving them for gen_retention_s, same as generations)
            self._retire(m, "index", sorted(old_dirs - new_dirs), now)
            rows_now = int(m.get("index_rows", m.get("index_rows_built", 0)))
            m["index_epoch"] = fold_hi
            m["index_rows"] = max(
                0, rows_now + int(n_reencoded) - int(n_removed)
            )
            m.update(corr_updates)

        self._meta_mutate(_advance)
        return {
            "n_touched": n_touched,
            "n_reencoded": int(n_reencoded),
            # the WRITE cost actually paid: on a consolidation fold this
            # includes every re-homed overridden list, not just the
            # delta-touched ones — the O(delta + affected) accounting
            # must not hide the once-per-cap consolidation spike
            "n_lists_rewritten": len(affected_all),
            "n_lists_touched": len(affected),
            "fold_dir": fold_sub,
            "consolidated": bool(consolidate),
            "needs_rebuild": self.needs_rebuild(),
            **({"superseded_mid_fold": True} if superseded[0] else {}),
        }

    def calibrate_nprobe(
        self,
        sample_queries: DataFrame,
        k: int = 10,
        recall_target: float = 0.95,
        nprobe_lo: int = 2,
        nprobe_hi: int | None = None,
    ) -> tuple[int, float]:
        """Auto-tune nprobe against the IVF index on a query sample and
        PERSIST the decision (reference config.h:138-147 stores the
        adaptive choice for 1 h; the batch analog stores it in the
        collection manifest until the next calibration/index rebuild).
        `topk_ivf(nprobe=None)` then consumes the stored value."""
        from write_optimized_vector_database_spark.operators.ivf import (
            calibrate_nprobe as _calibrate,
        )

        meta = self._meta()
        index, cents = self._ivf_views(meta)
        exact = self.topk(sample_queries, k=k)
        nprobe, recall = _calibrate(
            index, cents, sample_queries, exact, k=k,
            recall_target=recall_target, nprobe_lo=nprobe_lo,
            nprobe_hi=nprobe_hi, metric=self.metric,
            vec_id_col="id", vec_col="vector",
        )
        self._meta_update(
            calibrated_nprobe=int(nprobe),
            calibrated_recall=float(recall),
            calibrated_at=time.time(),
            calibrated_family="ivf",
            calibrated_stale=False,
        )
        return nprobe, recall

    def _effective_pre_nprobe(
        self,
        nprobe: int,
        sel: float | None,
        stale_fraction: float = 0.2,
        meta: dict | None = None,
    ) -> int:
        """Escalated nprobe for PRE-filtered two-phase search: scale the
        probe count inversely with the filter's selectivity (clamped to
        nlist) so the expected number of QUALIFYING rows inside the
        probed lists matches what the unfiltered nprobe was tuned to
        see. Cheap by construction — in PRE the allowed-id semi-join has
        already pruned the posting lists, so scanning more lists costs
        ∝ allowed rows, never ∝ the table.

        **Stale-stats pessimism (VERDICT r08 #2):** the escalation
        factor 1/sel comes from the manifest selectivity estimate. A
        stale OVER-estimate (tag was 50% of rows at analyze time, is 1%
        now) under-escalates and silently costs recall — the exact
        failure the POST branch's staleness guard defends against. When
        the zero-job `rows_since_analyze` odometer says more than
        `stale_fraction` of the analyzed rows have been appended since
        the stats were collected, the estimate is distrusted and the
        escalation goes straight to nlist: probing every list is nearly
        free in PRE (cost stays ∝ filter survivors), so the pessimistic
        fallback buys recall certainty for almost nothing."""
        import math

        if meta is None:
            meta = self._meta()
        nlist = int(meta.get("index_nlist", 0))
        if not nlist:
            return nprobe
        stats = meta.get("stats")
        if stats:
            appended = int(meta.get("rows_since_analyze", 0))
            if appended > stale_fraction * max(int(stats.get("n", 0)), 1):
                return nlist
        if sel is None or sel >= 1.0 or sel <= 0.0:
            return nprobe
        return min(nlist, max(nprobe, math.ceil(nprobe / sel)))

    def _default_nprobe(
        self,
        fallback: int = 8,
        family: str | None = None,
        meta: dict | None = None,
    ) -> int:
        """Serving nprobe: the certified knob, guarded by the index FAMILY
        it was certified for (ADVICE r07): a collection can hold both a
        plain-IVF index (build_ivf_index) and a stable PQ index
        (build_indexes); an nprobe calibrated on one says nothing about
        the recall of the other, so a family mismatch serves `fallback`
        instead of a knob certified for a different read path."""
        if meta is None:
            meta = self._meta()
        if meta.get("calibrated_stale"):
            return fallback
        if family is not None and meta.get("calibrated_family") != family:
            return fallback
        return int(meta.get("calibrated_nprobe", fallback))

    def write_amplification(self) -> dict:
        """Write-amplification telemetry (reference targets: p50 ≤ 2.3,
        p95 ≤ 2.6, types.h:144-145). Logical bytes = changelog appends
        (one durable write of user data, dedup already applied); physical
        bytes add every snapshot rewrite by compact(). One WA sample is
        recorded per compaction; p50/p95 summarize the history.
        `bytes_index` counts the IVF-PQ build generations (posting
        lists, centroids, codebooks, rotation) and fold overlays;
        `wa_total` is the whole figure, (physical + index) / logical."""
        meta = self._meta()
        logical = meta.get("bytes_logical", 0)
        physical = meta.get("bytes_physical", 0)
        index = meta.get("bytes_index", 0)
        history = meta.get("wa_history", [])

        def pctl(xs, q):
            ys = sorted(xs)
            return ys[min(len(ys) - 1, max(0, round(q * (len(ys) - 1))))]

        return {
            "bytes_logical": logical,
            "bytes_physical": physical,
            "wa_now": round(physical / logical, 4) if logical else None,
            "bytes_index": index,
            "wa_total": round((physical + index) / logical, 4) if logical else None,
            "wa_p50": pctl(history, 0.5) if history else None,
            "wa_p95": pctl(history, 0.95) if history else None,
            "n_compactions": len(history),
        }

    def topk_two_phase(
        self,
        queries: DataFrame,
        k: int = 10,
        nprobe: int | None = None,
        rerank_factor: int = 4,
        tenant: str | None = None,
        namespace: str | None = None,
        tags_any: list[int | str] | None = None,
        sample_p: float | None = None,
        filter_strategy: str = "auto",
        escalate_nprobe: bool | None = None,
        escalate_rerank: bool = True,
    ) -> DataFrame:
        """The reference's full read path (SURVEY §3.2) over both
        generations:

        - **stable**: IVF probe (partition pruning) → PQ-ADC scan of the
          probed posting lists → rerank_factor×k candidate ids;
        - **delta**: everything ingested after the index build, scanned
          exactly (it is small by construction — the buffer/delta scan,
          msg-buf.h:220-260);
        - **merge + rerank**: candidate ids fetch *current* full vectors
          (so tombstoned/superseded ids drop out — the latest-epoch dedup
          of latest-by-id.h:181-190), exact re-score, global top-k.

        QueryRequest filters (types.h:67-75: tenant/namespace equality,
        tag ANY-of, deterministic sample_p) apply to the WHOLE path, the
        same surface topk()/topk_ivf() expose — the reference intersects
        filters inside the probe scan (msg-buf.h:236-255). Strategy per
        plan_filtered_strategy ('auto' reads manifest stats, zero jobs):

        - **pre** (selective): semi-join the allowed ids into the pruned
          posting lists, so ADC scores only qualifying rows — no recall
          cliff at high selectivity;
        - **post** (permissive): ADC over-fetches budget/selectivity
          candidates and the filter applies at the rerank join.

        Either way the delta scan is filter-pushed and the exact rerank
        joins the FILTERED visible view, so every returned row satisfies
        the filters exactly; the strategy only changes candidate
        generation cost/recall, never the filter contract."""
        from write_optimized_vector_database_spark.operators.filters import (
            apply_query_filters,
        )
        from write_optimized_vector_database_spark.operators.ivfpq import (
            ivfpq_adc_topk,
        )
        from write_optimized_vector_database_spark.operators.topk import (
            exact_topk,
            score_column,
            topk_per_group,
        )

        # ONE manifest snapshot for the whole query (ADVICE r11 high):
        # the stable path, centroids/codebooks, rotation, epoch bound,
        # knobs, and planner stats below all derive from THIS read. The
        # old per-helper re-reads raced the background generation swap
        # the engine advertises as safe: a swap landing between reads
        # paired old posting lists with new codebooks (silently garbage
        # ADC shortlist) or the old index with the new higher
        # index_epoch (rows in (old_epoch, build_hi] invisible to both
        # branches).
        meta = self._meta()
        # escalation policy (ADVICE r08): an EXPLICIT nprobe is a pinned
        # knob (latency-budgeted or benchmarked) and stays authoritative
        # by default — escalation only applies when the knob was
        # defaulted, unless the caller opts in/out via escalate_nprobe.
        if escalate_nprobe is None:
            escalate_nprobe = nprobe is None
        if nprobe is None:
            # certified two-phase knob
            nprobe = self._default_nprobe(family="ivfpq", meta=meta)
        spark = self.spark
        # merged view (round 13): base generation + live fold overlays,
        # all resolved from THIS query's one manifest snapshot
        index = self.stable_index_df(meta)
        cents, codebooks = self._index_artifacts(meta)
        idx_epoch = self._index_epoch(meta)

        # per-branch candidate budget: k×rerank_factor clamped so the
        # stable∪delta union stays within max_candidates (config.h:129)
        from write_optimized_vector_database_spark.config import candidate_budget

        budget = candidate_budget(k, rerank_factor, n_branches=2)

        filtered = any(
            x is not None for x in (tenant, namespace, tags_any, sample_p)
        )
        # one visible-view resolution and one tag-dict resolution for the
        # whole query (ADVICE r12 low): the pre-filter semi-join, the
        # delta branch, and the exact rerank all read THIS view, so the
        # _CURRENT pointer, the snapshot marker, the changelog walk and
        # the tag dictionary are bound exactly once per query — the same
        # discipline as the manifest snapshot above
        vis = self._visible_ref()
        cur_view = self._current_view(vis)
        q_tag_dict = self._tag_dict_for(tags_any, meta)
        # probe-support prune set, threaded to the ADC call so the cached
        # driver-side centroid rows can honor the same filter
        probe_support: set[int] | None = None
        if filtered:
            if filter_strategy not in ("auto", "post", "pre"):
                raise ValueError(f"unknown filter_strategy {filter_strategy!r}")
            if filter_strategy == "pre":
                # explicit pre: selectivity is only wanted for nprobe
                # escalation — read it from manifest stats if present,
                # never measure (two count jobs) just to escalate
                stats = meta.get("stats")
                sel = (
                    self._estimate_selectivity(
                        stats, tenant, namespace, tags_any, sample_p
                    )
                    if stats
                    else None
                )
            else:
                planned, sel = self.plan_filtered_strategy(
                    tenant, namespace, tags_any, sample_p, meta=meta
                )
                if filter_strategy == "auto":
                    filter_strategy = planned
            if filter_strategy == "pre":
                # allowed-id semi-join BEFORE the ADC scan: runs after the
                # centroid_id partition pruning inside the ADC operator,
                # so its cost scales with the probed lists, not the index
                allowed = apply_query_filters(
                    cur_view, tenant, namespace, tags_any, sample_p,
                    tag_dict=q_tag_dict,
                ).select("id")
                index = index.join(allowed, "id", "semi")
                # nprobe escalation under selective filters (round 8):
                # the unfiltered nprobe is tuned for "top-k among ALL
                # rows in the probed lists", but a selective filter's
                # survivors are scattered across MANY lists — probing 12
                # of 64 lists for a 1% filter misses most qualifying
                # rows no matter how good the shortlist is (measured:
                # recall 0.9 at dim=768 before escalation, 1.0 after).
                # Probing more lists is nearly free in PRE: the semi-join
                # already pruned the posting lists, so ADC cost stays
                # ∝ allowed rows in probed lists ≤ |allowed| — the same
                # economics that make filtered HNSW/IVF engines raise
                # ef/nprobe under filters. Stale stats (rows_since_
                # analyze odometer) escalate pessimistically to nlist —
                # see _effective_pre_nprobe.
                if escalate_nprobe:
                    nprobe = self._effective_pre_nprobe(nprobe, sel, meta=meta)
                elif sel is not None:
                    # ADVICE r09: an explicitly pinned nprobe silently
                    # opts out of the r08 selectivity escalation — warn
                    # once (per call site) when the pin is costing it
                    would_be = self._effective_pre_nprobe(nprobe, sel, meta=meta)
                    if would_be > nprobe:
                        import warnings

                        warnings.warn(
                            f"pinned nprobe={nprobe} under a selective "
                            f"filter (sel≈{sel:.4f}) suppresses escalation "
                            f"to {would_be}; pass escalate_nprobe=True or "
                            "nprobe=None to restore the recall guard",
                            stacklevel=2,
                        )
                # rerank escalation for SMALL filtered corpora (VERDICT
                # r09 #2): nprobe escalation widens WHERE we look;
                # nothing widens how many candidates survive to exact
                # rerank when the filtered corpus itself is small — at
                # 10k rows / sel 0.5 the adversarial corpus read recall
                # 0.9 on BOTH planner branches, the ADC error floor for
                # 5k-row filtered order statistics. When the estimated
                # survivor count sel·n fits half the candidate cap
                # (config.h:129 analog), raise the stable branch budget
                # to cover the filtered corpus outright: the ADC
                # shortlist then contains every qualifying stable row
                # and the exact rerank decides — quantization error
                # costs nothing. Cheap by construction: the PRE
                # semi-join already pruned the ADC scan to the
                # survivors and the rerank join is candidate-bounded.
                # At 100 TB sel·n dwarfs the cap and this never fires.
                if escalate_rerank and sel is not None and sel > 0.0:
                    import math

                    from write_optimized_vector_database_spark.config import (
                        QueryLimits,
                    )

                    stats_n = int((meta.get("stats") or {}).get("n", 0))
                    survivors = sel * stats_n
                    cap = QueryLimits().max_candidates // 2
                    if stats_n and survivors <= cap:
                        budget = max(budget, min(cap, math.ceil(survivors)))
                # probe-SUPPORT prune (round 9): when the build-time
                # correlation histograms prove which lists can hold
                # qualifying rows, rank probes over those lists only —
                # under a geometry-correlated filter every probe spent
                # on a provably-empty list is a probe the escalation
                # paid for nothing (see _corr_probe_support)
                support = self._corr_probe_support(
                    tenant, namespace, tags_any, meta=meta
                )
                if support is not None:
                    probe_support = {int(c) for c in support}
            else:
                # permissive filter: over-fetch so ~budget survivors
                # remain after the rerank join drops non-matching rows
                import math

                from write_optimized_vector_database_spark.config import QueryLimits

                budget = min(
                    QueryLimits().max_candidates,
                    max(budget, 2 * math.ceil(budget / max(sel, 1e-6))),
                )

        # stable candidates: probe → ADC over pruned posting lists.
        # cosine collections are L2-normalized at ingest, so ADC runs IP
        # (the cosine→IP reduction, types.h:40). Codes are of x −
        # centroid, scored with the per-list offset.
        adc_metric = "ip" if self.metric == "cosine" else self.metric
        adc_queries = queries
        if meta.get("index_opq", False):
            # the index lives in OPQ-rotated space: rotate the tiny
            # query batch for the ADC phase only — the exact rerank
            # below stays in the original space (IP/L2 are invariant
            # under the orthogonal R, so the final scores are exact)
            from write_optimized_vector_database_spark.operators.pq import (
                rotate_vectors,
            )

            adc_queries = rotate_vectors(
                queries, self._rotation_np(meta), "query_vec"
            )
        # per-build ndarray artifact cache (round 13): the operator
        # would otherwise re-collect centroids+codebooks from the
        # artifact frames on EVERY call; the support prune is applied
        # to the cached rows driver-side
        crows, cbt = self._index_artifacts_np(meta)
        if probe_support is not None:
            crows = [r for r in crows if int(r.centroid_id) in probe_support]
        stable_cand = ivfpq_adc_topk(
            index, adc_queries, cents, codebooks, k=budget, nprobe=nprobe,
            metric=adc_metric, vec_id_col="id",
            dedup_candidates=meta.get("index_spill", 1) > 1,
            _cb_np=cbt, _crows=crows,
        ).select("query_id", F.col("vec_id").alias("id"))

        # delta candidates: exact over everything visible that changed
        # after the index build. Sourced from current() (not the raw
        # changelog tail) so rows survive compact()+vacuum() — the
        # snapshot keeps per-row epochs, and the epoch filter keeps the
        # delta scan small by construction. Query filters conjoin here
        # and push into the same scan; the rerank below joins the SAME
        # filtered view, so post-strategy candidates that fail the
        # filters drop before ranking.
        full_current = cur_view
        if filtered:
            full_current = apply_query_filters(
                full_current, tenant, namespace, tags_any, sample_p,
                tag_dict=q_tag_dict,
            )
        # Specialized delta view (round 13, guide §1.2 "remove passes"):
        # when the index is at least as fresh as the snapshot (the
        # steady serving state — build/refresh runs after compact),
        # snapshot rows all carry epoch ≤ snap_epoch ≤ idx_epoch and can
        # NEVER satisfy the delta filter, yet the generic current() plan
        # still scanned the full snapshot and anti-joined the tail ids
        # per query just to drop every row — at 100 TB, a full-table
        # read per search call. Latest-by-id over the post-index tail is
        # row-identical: for any id whose latest visible epoch >
        # idx_epoch, the op set with epoch > idx_epoch contains that
        # latest op (same epoch/op-desc tie-break on the retained rows);
        # ids whose latest ≤ idx_epoch are excluded by the filter either
        # way, and snapshot-side rows are excluded by the epoch bound.
        if idx_epoch >= vis.snap_epoch:
            if vis.log is not None:
                post_tail = vis.log.filter(F.col("epoch") > idx_epoch)
                delta_base = C.visible(post_tail)
                cols = [
                    c for c in cur_view.columns if c in delta_base.columns
                ]
                delta_base = delta_base.select(*cols)
                if filtered:
                    delta_base = apply_query_filters(
                        delta_base, tenant, namespace, tags_any, sample_p,
                        tag_dict=q_tag_dict,
                    )
                delta_vis = delta_base.filter(F.col("vector").isNotNull())
            else:
                # no tail at all: the delta generation is empty by
                # construction — constant-fold the branch away
                delta_vis = full_current.filter(F.lit(False))
        else:
            delta_vis = full_current.filter(
                (F.col("epoch") > idx_epoch) & F.col("vector").isNotNull()
            )
        delta_cand = exact_topk(
            delta_vis, queries, k=budget, metric=self.metric,
            vec_id_col="id", vec_col="vector",
        ).select("query_id", F.col("vec_id").alias("id"))

        cand = stable_cand.unionByName(delta_cand)
        cand = cand.dropDuplicates(["query_id", "id"])

        # rerank on CURRENT vectors — stale ids (deleted/superseded after
        # the index build) vanish here because they are not in current().
        # The candidate set is bounded (≤ max_candidates per batch,
        # config.h:129), so BROADCAST it into the fetch join: left to the
        # planner this was a SortMergeJoin that shuffled the ENTIRE
        # visible view by id to meet a ≤10k-row shortlist (guide §3.1 —
        # post-aggregation size estimates are wrong, hint explicitly).
        # At 100 TB that shuffle is the whole table; at bench scale it
        # was an extra exchange + two sorts per search call.
        full = full_current.select("id", F.col("vector").alias("__vec"))
        rescored = (
            full.join(F.broadcast(cand), "id")
            .join(F.broadcast(queries), "query_id")
            .select(
                "query_id",
                F.col("id").alias("vec_id"),
                score_column(self.metric, "query_vec", "__vec").alias("score"),
            )
        )
        return topk_per_group(
            rescored, group_cols=["query_id"], score_col="score", id_col="vec_id", k=k
        ).select("query_id", "vec_id", "score", "rank")

    def topk_ivf(
        self,
        queries: DataFrame,
        k: int = 10,
        nprobe: int | None = None,
        tenant: str | None = None,
        namespace: str | None = None,
        tags_any: list[int | str] | None = None,
        sample_p: float | None = None,
    ) -> DataFrame:
        """ANN read path over the materialized IVF index (probe join →
        partition pruning → score → top-k). Requires build_ivf_index().
        Note: serves the indexed snapshot — run build_ivf_index after
        compaction for freshness (delta-vs-stable generation semantics).

        QueryRequest filters intersect the candidate set before top-k
        (reference probe-path intersection, msg-buf.h:236-255)."""
        from write_optimized_vector_database_spark.config import QueryLimits
        from write_optimized_vector_database_spark.operators.ivf import ivf_topk

        limits = QueryLimits()
        if k > limits.max_candidates:
            raise ValueError(f"k={k} exceeds max_candidates={limits.max_candidates}")
        # one manifest snapshot for the whole query (ADVICE r11 high,
        # applied to the plain-IVF path with its round-12 generations)
        meta = self._meta()
        if nprobe is None:
            # certified plain-IVF knob
            nprobe = self._default_nprobe(family="ivf", meta=meta)
        index, cents = self._ivf_views(meta)
        allowed = None
        if any(x is not None for x in (tenant, namespace, tags_any, sample_p)):
            allowed = apply_query_filters(
                self.current(), tenant, namespace, tags_any, sample_p,
                tag_dict=self._tag_dict_for(tags_any, meta),
            ).select("id")
            # probe-support prune (round 9, symmetric with topk_two_phase):
            # the 'ivf'-labeled build-time histograms are exact over this
            # index, so rank probes only over lists that can hold
            # qualifying rows — skipped lists provably contribute nothing
            support = self._corr_probe_support(
                tenant, namespace, tags_any, index_label="ivf", meta=meta
            )
            if support is not None:
                cents = cents.filter(
                    F.col("centroid_id").isin([int(c) for c in support])
                )
        return ivf_topk(
            index, queries, cents, k=k, nprobe=nprobe, metric=self.metric,
            vec_id_col="id", vec_col="vector", allowed_ids=allowed,
        )

    _STATS_TOP_K = 1024

    def analyze(self, df: DataFrame | None = None, top_k: int | None = None) -> dict:
        """Collect planner statistics into the manifest — row count plus
        tenant/namespace/tag histograms (top-K entries + a remainder
        bucket), the ANALYZE TABLE analogue. compact() calls this on
        every snapshot rewrite; callers can re-run it any time.

        Histograms are capped at `top_k` heavy hitters per dimension so
        the manifest stays KB-sized at any tenant/tag cardinality; keys
        outside the cap are estimated from the remainder bucket's
        rows/distinct average. Tag counts are per-ROW carrying the tag
        (exploded), which is exactly the union-bound numerator a
        tags_any OR-filter needs."""
        top_k = top_k or self._STATS_TOP_K
        snap, snap_epoch = self._snapshot_ref()
        base = df if df is not None else self._read_dir(snap)
        stats: dict = {"epoch": int(snap_epoch)}

        # ONE scan for everything: stack every histogram dimension (and a
        # synthetic row-count dimension) into (dim, key) rows, group once,
        # then rank/total the tiny per-key result. The r03 shape launched
        # ~8 jobs — a separate count + two actions per dimension — which
        # doubled compact() wall time; per-dim top-k/total math costs
        # nothing once the grouped counts (|distinct keys| rows) are
        # collected in one action.
        cols = set(base.columns)
        parts = [base.select(F.lit("__rows").alias("dim"), F.lit("_").alias("key"))]
        for dim in ("tenant", "namespace"):
            if dim in cols:
                parts.append(
                    base.select(
                        F.lit(dim).alias("dim"), F.col(dim).cast("string").alias("key")
                    )
                )
        if "tags" in cols:
            parts.append(
                base.select(F.explode("tags").alias("__tag")).select(
                    F.lit("tag").alias("dim"),
                    F.col("__tag").cast("string").alias("key"),
                )
            )
        stacked = parts[0]
        for p in parts[1:]:
            stacked = stacked.unionByName(p)
        grouped = (
            stacked.groupBy("dim", "key").agg(F.count(F.lit(1)).alias("c")).collect()
        )

        by_dim: dict[str, list] = {}
        for r in grouped:
            by_dim.setdefault(r.dim, []).append(r)
        stats["n"] = int(by_dim["__rows"][0].c) if "__rows" in by_dim else 0
        for dim, out_key in (("tenant", "tenant"), ("namespace", "namespace"), ("tag", "tag")):
            if dim not in cols and not (dim == "tag" and "tags" in cols):
                continue
            rows = by_dim.get(dim, [])
            # numeric keys (tag ids) rank by numeric value on count ties,
            # matching the pre-stacked per-dim ordering
            def tie(r):
                return (int(r.key), r.key) if r.key and r.key.lstrip("-").isdigit() else (0, r.key)
            ranked = sorted(
                (r for r in rows if r.key is not None), key=lambda r: (-r.c, tie(r))
            )
            top = ranked[:top_k]
            tot_rows = sum(r.c for r in rows)
            tot_distinct = len(rows)
            top_rows = sum(r.c for r in top)
            stats[out_key] = {r.key: r.c for r in top}
            stats[f"{out_key}_other"] = [
                int(tot_rows - top_rows),
                int(tot_distinct - len(top)),
            ]
        if "tags" in cols and "tag" in stats:
            td = self.tag_dict()
            if td is not None:
                # resolve heavy-hitter tag ids to names once, so string
                # tags_any estimates are manifest-only at query time
                ids = [int(t) for t in stats["tag"]]
                name_rows = td.filter(F.col("tag_id").isin(ids)).collect()
                stats["tag_name"] = {
                    r.tag: stats["tag"][str(r.tag_id)]
                    for r in name_rows
                    if str(r.tag_id) in stats["tag"]
                }
        self._meta_update(stats=stats, rows_since_analyze=0)
        return stats

    def _estimate_selectivity(
        self,
        stats: dict,
        tenant: str | None,
        namespace: str | None,
        tags_any: list[int | str] | None,
        sample_p: float | None,
    ) -> float | None:
        """Filter selectivity from manifest stats — no Spark job. Returns
        None when the stats can't answer (e.g. string tag with no name
        map), signalling the caller to fall back to measuring."""
        n = stats.get("n", 0)
        if not n:
            return 1.0

        def dim_sel(key: str, value: str) -> float:
            h = stats.get(key)
            if h is None:
                return 1.0  # column absent from stats → non-constraining
            if value in h:
                return h[value] / n
            other_rows, other_distinct = stats.get(f"{key}_other", [0, 0])
            if other_distinct > 0:
                return (other_rows / other_distinct) / n
            return 0.0

        sel = 1.0
        if tenant is not None:
            sel *= dim_sel("tenant", tenant)
        if namespace is not None:
            sel *= dim_sel("namespace", namespace)
        if tags_any:
            # union bound over the OR-set: sum of per-tag row counts,
            # clamped — exact when tags are disjoint, conservative
            # (over-estimates survivors) when they overlap, which only
            # ever steers toward POST, the strategy that stays correct
            tag_rows = 0.0
            for t in tags_any:
                if isinstance(t, str):
                    names = stats.get("tag_name")
                    if names is None:
                        return None  # unresolvable without the dict
                    tag_rows += names.get(t, 0.0)
                else:
                    h = stats.get("tag", {})
                    if str(t) in h:
                        tag_rows += h[str(t)]
                    else:
                        other_rows, other_distinct = stats.get("tag_other", [0, 0])
                        if other_distinct > 0:
                            tag_rows += other_rows / other_distinct
            sel *= min(1.0, tag_rows / n)
        if sample_p is not None:
            sel *= sample_p
        return min(1.0, sel)

    _CORR_TOP_K = 16

    def _collect_correlation_stats(
        self,
        cur: DataFrame,
        top_k: int | None = None,
        index_subdir: str | None = None,
        label: str = "stable",
        write_meta: bool = True,
        index_df: DataFrame | None = None,
    ) -> dict | None:
        """Per-filter-value CENTROID histograms for the filtered-search
        planner (VERDICT r08 #1). Marginal selectivity alone cannot see
        filter↔geometry correlation: round 8 measured POST recall
        collapsing to 0.5 when a permissive filter (tenant ≡ sub-cluster
        parity) concentrates its survivors in HALF the posting lists —
        the unfiltered shortlist then simply never contains the allowed
        neighbors, and no over-fetch factor fixes that. The reference
        sidesteps this by always filtering inside the probe scan
        (msg-buf.h:236-255, i.e. always-PRE); at Spark scale POST is the
        cheaper plan for independent permissive filters, so the planner
        needs to DETECT correlation instead of assuming it away.

        Collected at index-build time (the only moment the assignment
        and the filter columns are both hot): read back the just-written
        index (column-pruned to id+centroid_id — codes never leave the
        parquet), join the persisted build snapshot's filter columns,
        and aggregate counts per (dim, value, centroid). Heavy-hitter
        bounding happens JVM-side (rank over per-value totals), so the
        driver collect is ≤ (1 + 3·top_k) × nlist rows and the manifest
        entry stays KB-sized at any tenant/tag cardinality — the same
        discipline analyze() applies to the selectivity histograms.
        Values outside the cap are rare by construction and route to PRE
        through the selectivity threshold anyway. With spill > 1 a row
        counts once per posting list it lives in — exactly the
        reachable-list distribution the divergence test needs."""
        from pyspark.sql import Window

        top_k = top_k or self._CORR_TOP_K
        if index_subdir is None:
            index_subdir = self._stable_index_subdir()
        cols = set(cur.columns)
        dims = [d for d in ("tenant", "namespace") if d in cols]
        has_tags = "tags" in cols
        if not dims and not has_tags:
            return None
        spark = self.spark
        # `index_df` (round 13): the stable index is base + overlays, so
        # callers describing the LIVE index pass the merged view; the
        # raw-subdir path remains for build-time stats over a
        # just-written (override-free) generation dir
        idx = (
            index_df
            if index_df is not None
            else spark.read.parquet(f"{self.path}/{index_subdir}")
        ).select("id", "centroid_id")
        keep = ["id"] + dims + (["tags"] if has_tags else [])
        joined = idx.join(cur.select(*keep), "id")
        parts = [
            joined.select(
                F.lit("__global").alias("dim"), F.lit("_").alias("key"),
                "centroid_id",
            )
        ]
        for d in dims:
            parts.append(
                joined.select(
                    F.lit(d).alias("dim"),
                    F.col(d).cast("string").alias("key"),
                    "centroid_id",
                )
            )
        if has_tags:
            parts.append(
                joined.select(F.explode("tags").alias("__t"), "centroid_id").select(
                    F.lit("tag").alias("dim"),
                    F.col("__t").cast("string").alias("key"),
                    "centroid_id",
                )
            )
        stacked = parts[0]
        for p in parts[1:]:
            stacked = stacked.unionByName(p)
        grouped = (
            stacked.groupBy("dim", "key", "centroid_id")
            .agg(F.count(F.lit(1)).alias("c"))
            .persist()
        )
        w = Window.partitionBy("dim").orderBy(F.desc("tot"), "key")
        heavy = (
            grouped.groupBy("dim", "key")
            .agg(F.sum("c").alias("tot"))
            .withColumn("rk", F.row_number().over(w))
            .filter((F.col("rk") <= top_k) | (F.col("dim") == "__global"))
            .select("dim", "key")
        )
        rows = grouped.join(heavy, ["dim", "key"]).collect()
        grouped.unpersist()

        corr: dict = {"index": label, "global": {}}
        for r in rows:
            cid = str(r.centroid_id)
            if r.dim == "__global":
                corr["global"][cid] = int(r.c)
            else:
                corr.setdefault(r.dim, {}).setdefault(r.key, {})[cid] = int(r.c)
        if has_tags and corr.get("tag"):
            td = self.tag_dict()
            if td is not None:
                # resolve heavy-hitter tag ids to names once, so string
                # tags_any divergence checks stay manifest-only
                ids = [int(t) for t in corr["tag"]]
                name_rows = td.filter(F.col("tag_id").isin(ids)).collect()
                corr["tag_name"] = {
                    r.tag: corr["tag"][str(r.tag_id)]
                    for r in name_rows
                    if str(r.tag_id) in corr["tag"]
                }
        # write_meta=False: the caller (a generation build) folds the
        # histograms into its own atomic swap so they become visible
        # together with the index they describe
        if write_meta:
            self._meta_update(corr_stats=corr, corr_stats_fresh=True)
        return corr

    def _fold_correlation_stats(
        self, corr: dict, new_rows: DataFrame, delta_vis: DataFrame
    ) -> dict | None:
        """ADD-ONLY incremental histogram update for a refresh fold
        (VERDICT r09 #5): previously every fold flipped
        `corr_stats_fresh` off, so a deployment folding on a serving
        cadence (30 s in the managed-serving witness) effectively never
        had the probe-support prune armed. The fold already has the
        delta's new posting-list assignments (`new_rows`) and the
        touched ids' CURRENT filter values (`delta_vis`) in hand — the
        histogram delta is exactly the fold's own output, O(delta).

        Soundness rests on the prune's one-sided invariant: a centroid
        absent from a value's histogram must provably hold zero
        qualifying rows, so the histogram only ever needs to be a
        SUPERSET of reality. Add-only increments preserve that — rows
        the fold REMOVES from lists (upsert moves, deletes) leave stale
        entries behind, which can only cost a wasted probe, never a
        missed row. The divergence guard reads the same counts
        quantitatively, but its only action is forcing PRE (the branch
        with no recall cliff), so over-approximation is safe there too;
        analyze_correlation() re-tightens on its own cadence.

        Keys outside the build-time heavy-hitter cap are NOT added:
        an unknown value already disables pruning for its filter
        (`_corr_probe_support` returns None), and admitting arbitrary
        new keys would unbound the manifest entry. Returns the updated
        dict, or None when the update can't be done consistently (the
        caller then leaves the stats disarmed)."""
        import copy

        dims = [d for d in ("tenant", "namespace") if d in delta_vis.columns]
        has_tags = "tags" in delta_vis.columns
        keep = ["id"] + dims + (["tags"] if has_tags else [])
        joined = new_rows.select("id", "centroid_id").join(
            delta_vis.select(*keep), "id"
        )
        parts = [
            joined.select(
                F.lit("__global").alias("dim"), F.lit("_").alias("key"),
                "centroid_id",
            )
        ]
        for d in dims:
            known = list((corr.get(d) or {}).keys())
            if not known:
                continue
            parts.append(
                joined.select(
                    F.lit(d).alias("dim"),
                    F.col(d).cast("string").alias("key"),
                    "centroid_id",
                ).filter(F.col("key").isin(known))
            )
        if has_tags and corr.get("tag"):
            known = list(corr["tag"].keys())
            parts.append(
                joined.select(F.explode("tags").alias("__t"), "centroid_id")
                .select(
                    F.lit("tag").alias("dim"),
                    F.col("__t").cast("string").alias("key"),
                    "centroid_id",
                )
                .filter(F.col("key").isin(known))
            )
        stacked = parts[0]
        for p in parts[1:]:
            stacked = stacked.unionByName(p)
        # bounded collect: keys are capped to the manifest's existing
        # heavy hitters, centroids to nlist — ≤ (1 + Σ|dim keys|) × nlist
        rows = (
            stacked.groupBy("dim", "key", "centroid_id")
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        )
        out = copy.deepcopy(corr)
        updated_tag_ids: set[str] = set()
        for r in rows:
            cid = str(r.centroid_id)
            if r.dim == "__global":
                out["global"][cid] = out["global"].get(cid, 0) + int(r.c)
            else:
                h = out.setdefault(r.dim, {}).setdefault(r.key, {})
                h[cid] = h.get(cid, 0) + int(r.c)
                if r.dim == "tag":
                    updated_tag_ids.add(r.key)
        if updated_tag_ids and out.get("tag_name"):
            # keep the string-tag map bit-consistent with the id map:
            # _corr_probe_support consults whichever matches the arg type
            td = self.tag_dict()
            if td is None:
                return None
            name_rows = td.filter(
                F.col("tag_id").isin([int(t) for t in updated_tag_ids])
            ).collect()
            for r in name_rows:
                tid = str(r.tag_id)
                if tid in out.get("tag", {}) and r.tag in out["tag_name"]:
                    out["tag_name"][r.tag] = dict(out["tag"][tid])
        return out

    def _corr_probe_support(
        self,
        tenant: str | None = None,
        namespace: str | None = None,
        tags_any: list[int | str] | None = None,
        index_label: str = "stable",
        meta: dict | None = None,
    ) -> list[int] | None:
        """Centroid ids that can contain rows satisfying the filters —
        the PRE probe-support prune (round 9). The build-time histograms
        are EXACT over the stable index (aggregated from every indexed
        row, not sampled), so a centroid absent from a value's histogram
        provably holds zero qualifying stable rows and ranking probes
        over it is pure waste: under the adversarial parity tenant,
        escalated-but-unpruned probing spends half its probes on lists
        the semi-join will empty anyway (measured recall 0.9 at 10k;
        1.0 with the prune). AND-across-dims intersects supports;
        OR-across-tags unions them; sample_p never constrains support.
        Returns None (no pruning) when stats are missing, stale after a
        refresh fold (refresh_indexes flips corr_stats_fresh — folded
        rows may add values to lists the build never saw), or any
        constrained value is outside the heavy-hitter cap. Rows ingested
        after the build are unaffected: the delta branch scans them
        exactly regardless of probe choice."""
        if meta is None:
            meta = self._meta()
        corr = meta.get("corr_stats")
        if not corr or not meta.get("corr_stats_fresh", False):
            return None
        # centroid ids are a PER-INDEX space: histograms collected
        # against one index say nothing about the other's lists
        if corr.get("index", "stable") != index_label:
            return None
        supports: list[set[str]] = []
        for dim, key in (("tenant", tenant), ("namespace", namespace)):
            if key is None:
                continue
            h = (corr.get(dim) or {}).get(str(key))
            if h is None:
                return None
            supports.append(set(h))
        if tags_any:
            tag_sets: list[set[str]] = []
            for t in tags_any:
                h = (corr.get("tag_name" if isinstance(t, str) else "tag") or {}).get(
                    str(t)
                )
                if h is None:
                    return None
                tag_sets.append(set(h))
            supports.append(set().union(*tag_sets))
        if not supports:
            return None
        s = supports[0]
        for x in supports[1:]:
            s &= x
        return sorted(int(c) for c in s)

    def _correlation_divergence(
        self,
        tenant: str | None = None,
        namespace: str | None = None,
        tags_any: list[int | str] | None = None,
        meta: dict | None = None,
    ) -> tuple[float, float] | None:
        """(L1 divergence, sampling-noise floor) for the most divergent
        constrained filter value's centroid distribution vs the global
        one — a dictionary computation over the manifest's build-time
        correlation stats, ZERO Spark jobs. Returns None when no stats
        exist or no constrained value is covered (non-heavy-hitter
        values are rare and route to PRE via selectivity anyway).

        L1 here is twice the total variation distance: 0 for an
        independent filter, 2 for disjoint support. The noise floor is
        3× the expected L1 of a SAME-SIZE independent sample
        (E‖p̂−p‖₁ ≤ √(2·nlist/(π·m)) for m multinomial draws — tight at
        uniform p), so small fixtures and thin values don't read
        sampling jitter as correlation while a genuinely concentrated
        filter (e.g. half the centroids empty ⇒ L1 ≈ 1) clears it at
        any realistic size.

        Staleness / cross-index contract (ADVICE r09): this guard
        deliberately ignores `corr_stats_fresh` and the histograms'
        index label because its verdict is only ever used to FORCE PRE
        (the branch with no recall cliff) — never to stay on POST.
        Correlation is a property of the DATA (filter value ↔ vector
        geometry), so divergence measured against any k-means geometry
        over the same corpus, even a superseded one, is still evidence
        of correlation and forcing PRE on it is sound. The converse —
        "stale stats show no divergence" — carries no weight: it leaves
        the selectivity-based default exactly as if no stats existed,
        and r10's fold-time ADD-ONLY maintenance
        (_fold_correlation_stats) keeps stable-labeled histograms
        current across refresh folds, so the undetected-fold-
        correlation window the old disarm-only behavior left is now
        closed for every heavy-hitter value."""
        import math

        corr = (self._meta() if meta is None else meta).get("corr_stats")
        if not corr:
            return None
        g = corr.get("global") or {}
        gn = sum(g.values())
        if not gn:
            return None
        nlist = max(1, len(g))
        checks: list[tuple[str, str]] = []
        if tenant is not None:
            checks.append(("tenant", str(tenant)))
        if namespace is not None:
            checks.append(("namespace", str(namespace)))
        for t in tags_any or []:
            checks.append(("tag_name" if isinstance(t, str) else "tag", str(t)))
        best: tuple[float, float] | None = None
        for dim, key in checks:
            h = (corr.get(dim) or {}).get(key)
            if not h:
                continue
            hn = sum(h.values())
            if not hn:
                continue
            # h's support ⊆ global's (every indexed row is counted in
            # the global histogram), so iterating global keys is exact
            l1 = sum(abs(h.get(c, 0) / hn - gc / gn) for c, gc in g.items())
            noise = 3.0 * math.sqrt(2.0 * nlist / (math.pi * hn))
            if best is None or l1 - noise > best[0] - best[1]:
                best = (l1, noise)
        return best

    def plan_filtered_strategy(
        self,
        tenant: str | None = None,
        namespace: str | None = None,
        tags_any: list[int | str] | None = None,
        sample_p: float | None = None,
        pre_filter_threshold: float = 0.2,
        use_stats: bool = True,
        stale_fraction: float = 0.2,
        corr_threshold: float = 0.25,
        meta: dict | None = None,
    ) -> tuple[str, float]:
        """Pick pre- vs post-filtering for a filtered ANN query from the
        filter's selectivity — the planner decision every filtered-search
        engine makes (the reference intersects filters in the probe path,
        msg-buf.h:236-255, i.e. always-pre; at Spark scale the right
        answer depends on selectivity):

        - **selective filter** (few survivors): PRE-filter — semi-join
          the allowed ids into the pruned posting lists; the ANN scan
          scores only matching rows.
        - **permissive filter** (most rows survive): POST-filter —
          over-fetch k/selectivity candidates from the unfiltered index
          and filter after; skips the semi-join entirely.

        Selectivity comes from the manifest stats analyze() persisted at
        the last compaction — a dictionary lookup, ZERO Spark jobs per
        query. Only when stats are absent (never compacted) or can't
        answer (string tag missing from the name map) does the planner
        fall back to measuring with two pushed-down count()s — at 100 TB
        the measured path costs two scans before the query even runs,
        which is exactly what a planner must not do per query.

        **Stale-stats recall guard (VERDICT r07 #5):** the POST branch's
        over-fetch is sized from the estimated selectivity and capped at
        max_candidates — a selectivity OVER-estimate from stale stats
        (e.g. the tenant mix shifted since the last analyze) silently
        under-fetches and costs recall. The manifest tracks a zero-job
        staleness odometer (`rows_since_analyze`, bumped by ingest,
        reset by analyze/compact); when more than `stale_fraction` of
        the analyzed row count has been appended since the stats were
        collected, the planner distrusts the estimate and returns
        **pre** — the strategy with no recall cliff (the allowed-id
        semi-join passes every qualifying row to ADC regardless of how
        wrong the estimate is). An explicit `filter_strategy="post"`
        override still forces post.

        **Correlation guard (VERDICT r08 #1):** a PERMISSIVE filter can
        still break POST when its survivors correlate with the index
        geometry — round 8 measured recall 0.5 at sel=0.5 when tenant ≡
        sub-cluster parity concentrated the allowed rows in half the
        posting lists (the unfiltered shortlist never contains the
        allowed neighbors; over-fetch cannot fix absence). Before
        choosing POST the planner checks the build-time per-filter-value
        centroid histograms (_collect_correlation_stats): when the
        constrained value's centroid distribution diverges from the
        global one by more than `corr_threshold` in L1 (and above the
        same-size sampling-noise floor), the filter is geometry-
        correlated and the planner forces **pre** — again the branch
        with no recall cliff. Independent filters (hash-assigned
        tenants) sit at the noise floor and keep the cheap POST plan."""
        if use_stats:
            if meta is None:
                meta = self._meta()
            stats = meta.get("stats")
            if stats:
                sel = self._estimate_selectivity(
                    stats, tenant, namespace, tags_any, sample_p
                )
                if sel is not None:
                    appended = int(meta.get("rows_since_analyze", 0))
                    if appended > stale_fraction * max(int(stats.get("n", 0)), 1):
                        return "pre", sel
                    if sel >= pre_filter_threshold and self._corr_forces_pre(
                        tenant, namespace, tags_any, corr_threshold, meta=meta
                    ):
                        return "pre", sel
                    return ("pre" if sel < pre_filter_threshold else "post"), sel
        total = self.current().count()
        kept = apply_query_filters(
            self.current(), tenant, namespace, tags_any, sample_p,
            tag_dict=self._tag_dict_for(tags_any, meta),
        ).count()
        sel = kept / total if total else 1.0
        if sel >= pre_filter_threshold and self._corr_forces_pre(
            tenant, namespace, tags_any, corr_threshold, meta=meta
        ):
            return "pre", sel
        return ("pre" if sel < pre_filter_threshold else "post"), sel

    def _corr_forces_pre(
        self,
        tenant: str | None,
        namespace: str | None,
        tags_any: list[int | str] | None,
        corr_threshold: float,
        meta: dict | None = None,
    ) -> bool:
        div = self._correlation_divergence(tenant, namespace, tags_any, meta=meta)
        return div is not None and div[0] > max(corr_threshold, div[1])

    def topk_filtered(
        self,
        queries: DataFrame,
        k: int = 10,
        nprobe: int | None = None,
        tenant: str | None = None,
        namespace: str | None = None,
        tags_any: list[int | str] | None = None,
        sample_p: float | None = None,
        strategy: str = "auto",
    ) -> DataFrame:
        """Filtered ANN with planner-chosen filtering side (see
        plan_filtered_strategy). `strategy` ∈ {auto, pre, post}.

        POST over-fetches ⌈k/sel⌉·2 candidates (clamped to
        max_candidates) before filtering — permissive filters only, where
        the over-fetch is small; the planner never picks it for selective
        filters, where over-fetch would explode past the clamp and lose
        recall."""
        from write_optimized_vector_database_spark.config import QueryLimits
        from write_optimized_vector_database_spark.operators.ivf import ivf_topk
        from write_optimized_vector_database_spark.operators.topk import topk_per_group

        if strategy == "auto":
            strategy, sel = self.plan_filtered_strategy(
                tenant, namespace, tags_any, sample_p
            )
        else:
            sel = None
        if strategy == "pre":
            return self.topk_ivf(
                queries, k=k, nprobe=nprobe, tenant=tenant, namespace=namespace,
                tags_any=tags_any, sample_p=sample_p,
            )
        if strategy != "post":
            raise ValueError(f"unknown strategy {strategy!r}")
        if sel is None:
            _, sel = self.plan_filtered_strategy(tenant, namespace, tags_any, sample_p)
        limits = QueryLimits()
        import math

        fetch = min(limits.max_candidates, max(k, 2 * math.ceil(k / max(sel, 1e-6))))
        meta = self._meta()
        if nprobe is None:
            nprobe = self._default_nprobe(family="ivf", meta=meta)
        index, cents = self._ivf_views(meta)
        over = ivf_topk(
            index, queries, cents, k=fetch, nprobe=nprobe, metric=self.metric,
            vec_id_col="id", vec_col="vector",
        )
        allowed = apply_query_filters(
            self.current(), tenant, namespace, tags_any, sample_p,
            tag_dict=self._tag_dict_for(tags_any, meta),
        ).select("id")
        kept = over.select(
            "query_id", F.col("vec_id").alias("id"), "score"
        ).join(allowed, "id", "semi")
        return topk_per_group(
            kept, group_cols=["query_id"], score_col="score", id_col="id", k=k,
            prune_partitions=False,
        ).select("query_id", F.col("id").alias("vec_id"), "score", "rank")

    def delta_fraction(self) -> float:
        """Fraction of the visible view served from the un-compacted tail
        (reference target: unmerged delta ≤ 5%, types.h:143). The number
        that tells a scheduler compact() is due — counting is footer-stat
        cheap (count(*) over parquet reads no data pages)."""
        vis = self._visible_ref()
        tail_n = 0
        if vis.log is not None:
            tail = vis.log
            if vis.snap_epoch >= 0:
                tail = tail.filter(F.col("epoch") > vis.snap_epoch)
            tail_n = tail.count()
        snap_n = 0
        if vis.snap_epoch >= 0:
            snap_n = self._read_dir(vis.snap).count()
        total = tail_n + snap_n
        return tail_n / total if total else 0.0

    def stats(self) -> DataFrame:
        """Changelog file-level stats (M1/M2 maintenance surface)."""
        return C.segment_stats(
            self.changelog().withColumn("segment", F.input_file_name()), "segment"
        )

    def describe_index(self) -> dict:
        """Serving-observability snapshot of the stable index (M4
        telemetry surface, reference config.h:138-147's stored-decision
        analog): which build generation is live, the quantization knobs
        it was built with, and whether the serving knob still carries a
        VALID recall certification (a knob-explicit rebuild marks it
        stale). ONE manifest read — zero Spark jobs, safe to call per
        request; every derived field below comes from the same snapshot
        (ADVICE r11 high)."""
        meta = self._meta()
        return {
            "index_epoch": meta.get("index_epoch"),
            "index_build_id": meta.get("index_build_id"),
            "spill": meta.get("index_spill"),
            "opq": meta.get("index_opq"),
            "centroids_path": meta.get("index_centroids_path"),
            "auto_tune": meta.get("auto_tune"),
            "serving_nprobe": self._default_nprobe(meta=meta),
            "certified": bool(
                meta.get("calibrated_nprobe") is not None
                and not meta.get("calibrated_stale")
            ),
            "certified_recall": (
                None if meta.get("calibrated_stale")
                else meta.get("calibrated_recall")
            ),
            "certified_family": meta.get("calibrated_family"),
            # correlation-planner state (round 9): which filter dims have
            # build-time centroid histograms, and whether the probe-
            # support prune may trust them (refresh folds flip fresh off)
            "corr_stats_dims": sorted(
                d for d in (meta.get("corr_stats") or {}) if d != "global"
            ),
            "corr_stats_fresh": bool(meta.get("corr_stats_fresh", False)),
            # growth odometer (VERDICT r09 #1): entries at build vs now,
            # and whether the geometry has outgrown its build ratio
            "index_rows_built": meta.get("index_rows_built"),
            "index_rows": meta.get(
                "index_rows", meta.get("index_rows_built")
            ),
            "rows_per_list": (
                round(
                    int(meta.get("index_rows", meta.get("index_rows_built")))
                    / int(meta["index_nlist"]),
                    2,
                )
                if meta.get("index_nlist") and meta.get("index_rows_built")
                else None
            ),
            "needs_rebuild": self.needs_rebuild(meta=meta),
            "recommended_nlist": self.recommended_nlist(meta=meta),
            # generation observability (round 11): which dirs serve and
            # which superseded generations are still retained for
            # readers that resolved before a swap (time-based retention
            # as of round 12 — see _gc_generations)
            "index_path": meta.get("index_stable_path"),
            "index_gen_history": meta.get("index_gen_history", []),
            # the retention contract, surfaced (VERDICT r12 #3): a
            # superseded generation/overlay outlives its swap by this
            # many seconds — operators with readers longer than this
            # must raise SPARK_GRAFT_GEN_RETENTION_S
            "gen_retention_s": self.gen_retention_s,
            # fold-overlay state (round 13): lists that resolve through
            # an overlay dir vs lists a fold emptied (None mask over
            # the base partition — they serve from nowhere), and the
            # live overlay dirs (union fan-in = dirs + 1)
            "fold_overridden_lists": sum(
                1
                for v in (meta.get("index_fold_overrides") or {}).values()
                if v
            ),
            "fold_masked_empty_lists": sum(
                1
                for v in (meta.get("index_fold_overrides") or {}).values()
                if v is None
            ),
            "fold_dirs_live": sorted(
                {
                    v
                    for v in (meta.get("index_fold_overrides") or {}).values()
                    if v
                }
            ),
            "fold_dirs_pending": sorted(
                (meta.get("index_fold_pending") or {}).keys()
            ),
        }

    def needs_rebuild(self, alpha: float = 4.0, meta: dict | None = None) -> bool:
        """True when the stable index has outgrown its build geometry
        (VERDICT r09 #1): refresh folds keep the index FRESH but never
        re-SIZE it — nlist stays fixed while n grows, and ADC cost over
        the probed lists grows ∝ n/nlist (round-9 managed-serving run:
        13× corpus growth on nlist=8 → 26.9 s probes). The reference
        handles this with a scheduled 24 h centroid retrain
        (config.h:79-81); a batch engine should instead WATCH the ratio:
        rebuild when rows-per-list exceeds `alpha`× what the index was
        built at. Pure manifest read — zero Spark jobs, safe per fold."""
        if meta is None:
            meta = self._meta()
        built = int(meta.get("index_rows_built", 0))
        if not built:
            return False  # pre-odometer index (or never built)
        rows = int(meta.get("index_rows", built))
        return rows > alpha * built

    def recommended_nlist(self, meta: dict | None = None) -> int | None:
        """Re-size target for the next build: scale nlist with √n from
        the built point (the classic IVF balance — per-list scan cost
        and probe count grow together), rounded up. None when the
        odometer has no baseline."""
        import math

        if meta is None:
            meta = self._meta()
        built = int(meta.get("index_rows_built", 0))
        nlist = int(meta.get("index_nlist", 0))
        if not built or not nlist:
            return None
        rows = int(meta.get("index_rows", built))
        return max(nlist, math.ceil(nlist * math.sqrt(rows / built)))

    def auto_resize(
        self,
        alpha: float = 4.0,
        recertify: bool = True,
        force: bool = False,
        **build_kwargs,
    ) -> dict | None:
        """Rebuild the stable index at `recommended_nlist()` when
        `needs_rebuild(alpha)` — the maintenance-loop hook (call it on
        the same cadence as compact(); refresh_indexes() also surfaces
        the flag in its return dict for recommend-only deployments).
        Reuses the built knobs from the manifest (m/nbits/spill/opq)
        unless overridden; returns describe_index() after a
        rebuild, None when no rebuild was needed.

        Certification survival (VERDICT r10 #2): a knob-explicit
        rebuild stales any `target_recall` certificate by the r06 rule
        — so a self-sizing index would silently void the recall promise
        it was deployed with. When the pre-resize index carried a VALID
        certificate, the resize re-measures sampled recall@k at the
        certified serving knobs against the NEW geometry (one cheap
        probe — no rebuild): pass → re-certify; miss → re-walk the
        build ladder at the new nlist via build_indexes(target_recall=)
        so the deployment either serves certified again or records the
        miss honestly (target_met=False stays stale). Opt out with
        recertify=False."""
        # one manifest snapshot drives the whole decision (ADVICE r11
        # high): odometer check, deployed knobs, and certificate state.
        # `force=True` (round 13) skips the odometer gate — the repair
        # path for a collection vacuumed past its index epoch, where
        # incremental folds are impossible and only a full rebuild
        # restores maintainability regardless of the growth ratio.
        meta = self._meta()
        if not force and not self.needs_rebuild(alpha, meta=meta):
            return None
        at = meta.get("auto_tune") or {}
        had_cert = (
            meta.get("calibrated_family") == "ivfpq"
            and meta.get("calibrated_nprobe") is not None
            and not meta.get("calibrated_stale")
            and at.get("target_recall") is not None
        )
        kwargs = dict(
            nlist=self.recommended_nlist(meta=meta)
            or int(meta.get("index_nlist", 64)),
            m=int(meta.get("index_m", 8)),
            nbits=int(meta.get("index_nbits", 8)),
            spill=int(meta.get("index_spill", 1)),
            use_opq=bool(meta.get("index_opq", False)),
        )
        kwargs.update(build_kwargs)
        self.build_indexes(**kwargs)
        if recertify and had_cert:
            tgt = float(at["target_recall"])
            k = int(at.get("k", 10))
            nprobe = int(meta["calibrated_nprobe"])
            rf = int(at.get("rerank_factor", 4))
            r = self._measure_serving_recall(
                k=k, nprobe=nprobe, rerank_factor=rf
            )
            if r is not None and r >= tgt:
                recert_at = time.time()

                def _recert(m: dict) -> None:
                    # build_id read under the writer lock, from the same
                    # manifest this write lands in
                    bid = int(m.get("index_build_id", 0))
                    m.update(
                        calibrated_stale=False,
                        calibrated_recall=float(r),
                        calibrated_at=recert_at,
                        calibrated_build_id=bid,
                        auto_tune={
                            **at,
                            "target_met": True,
                            "recert": {
                                "recall": round(float(r), 4),
                                "build_id": bid,
                                "after": "auto_resize",
                            },
                        },
                    )

                self._meta_mutate(_recert)
            else:
                # the certified knobs don't hold at the new geometry:
                # walk the ladder at the resized nlist — certifies at
                # the first passing rung or records the miss honestly.
                # The DEPLOYED geometry is the ladder's floor (ADVICE
                # r11 low): an OPQ/spill deployment that misses the
                # probe must not be silently re-certified on a weaker
                # index family than it was deployed with.
                self.build_indexes(
                    nlist=int(kwargs["nlist"]),
                    nbits=int(kwargs["nbits"]),
                    target_recall=tgt,
                    target_nprobe=nprobe,
                    target_rerank_factor=rf,
                    _start_config={
                        "m": int(kwargs["m"]),
                        "spill": int(kwargs["spill"]),
                        "use_opq": bool(kwargs["use_opq"]),
                    },
                    **{
                        key: build_kwargs[key]
                        for key in ("sample_fraction", "seed")
                        if key in build_kwargs
                    },
                )
        return self.describe_index()

    def _measure_serving_recall(
        self,
        k: int = 10,
        nprobe: int = 12,
        rerank_factor: int = 4,
        n_sample_queries: int = 8,
    ) -> float | None:
        """Sampled recall@k of the CURRENT stable index at the given
        serving knobs vs the exact oracle — the Q15 frontier probe
        shared by the auto-build ladder and post-resize recertification.
        Bounded driver pulls only (≤ n_sample_queries × k rows)."""
        from write_optimized_vector_database_spark.operators.ivf import (
            recall_at_k,
        )

        cur = self.current().filter(F.col("vector").isNotNull())
        qrows = (
            cur.orderBy("id")
            .limit(n_sample_queries)
            .select(
                F.col("id").alias("query_id"),
                F.col("vector").alias("query_vec"),
            )
            .collect()
        )
        if not qrows:
            return None
        queries = self.spark.createDataFrame(
            qrows, "query_id long, query_vec array<double>"
        )
        exact_plan = self.topk(queries, k=k)
        exact = self.spark.createDataFrame(
            exact_plan.collect(), exact_plan.schema
        )
        approx = self.topk_two_phase(
            queries, k=k, nprobe=nprobe, rerank_factor=rerank_factor
        )
        return float(
            recall_at_k(approx, exact, k=k).agg(F.avg("recall")).first()[0]
        )

    def analyze_correlation(self) -> dict | None:
        """Recompute the filtered-search planner's per-filter-value
        centroid histograms against the CURRENT stable index and re-arm
        the probe-support prune (round 9). refresh_indexes deliberately
        only marks the histograms stale — re-aggregating them is a join
        ∝ index size, which would break refresh's O(delta + affected
        lists) contract — so a deployment that folds deltas continuously
        calls this on its own cadence (e.g. with compact()), exactly
        like ANALYZE TABLE. Cost: one id-join of the column-pruned index
        against the visible view + two bounded groupBys. Recomputes
        against whichever index the current histograms describe (stable
        by default)."""
        meta = self._meta()
        corr = meta.get("corr_stats") or {}
        label = corr.get("index")
        if label is None:
            # no histograms yet (never collected, or a legacy manifest):
            # resolve from whichever index actually exists on disk
            # instead of assuming 'stable' — an IVF-only collection has
            # no index_stable and the blind read would raise (ADVICE r09)
            if "index_stable_path" in meta and self.fs.exists(
                self._stable_index_path(meta)
            ):
                label = "stable"
            elif "ivf_index_path" in meta and self.fs.exists(
                self._ivf_index_path(meta)
            ):
                label = "ivf"
            else:
                return None  # nothing built — nothing to analyze
        subdir = (
            self._stable_index_subdir(meta)
            if label == "stable"
            else self._ivf_index_path(meta).rsplit("/", 1)[-1]
        )
        if not self.fs.exists(f"{self.path}/{subdir}"):
            return None
        cur = self.current().filter(F.col("vector").isNotNull())
        return self._collect_correlation_stats(
            cur,
            index_subdir=subdir,
            label=label,
            # live stable index = base + fold overlays (round 13)
            index_df=self.stable_index_df(meta) if label == "stable" else None,
        )

    # -- read path ----------------------------------------------------------

    def topk(
        self,
        queries: DataFrame,
        k: int = 10,
        tenant: str | None = None,
        namespace: str | None = None,
        tags_any: list[int | str] | None = None,
        sample_p: float | None = None,
    ) -> DataFrame:
        """Filtered exact top-k over the visible view (QueryRequest
        semantics, types.h:67-82). Filters are applied before scoring so
        Catalyst pushes them into the snapshot scan. String tags_any
        translate through the collection's tag dictionary."""
        base = apply_query_filters(
            self.current(), tenant, namespace, tags_any, sample_p,
            tag_dict=self._tag_dict_for(tags_any),
        )
        return exact_topk(
            base,
            queries,
            k=k,
            metric=self.metric,
            vec_id_col="id",
            vec_col="vector",
        )

    def _tag_dict_for(self, tags_any, meta: dict | None = None) -> DataFrame | None:
        """Load the tag dictionary only when a string tag needs it.

        Pass the query's manifest snapshot as `meta` (ADVICE r12 low):
        the dictionary pointer then resolves from the SAME snapshot as
        the index paths, keeping the one-manifest-read-per-query
        invariant intact for string-tag-filtered queries too (a
        concurrent tag-dict extension otherwise slips a newer dict into
        a query mid-plan — harmless today because tag ids are
        append-only, but it contradicted the advertised contract)."""
        if tags_any and any(isinstance(t, str) for t in tags_any):
            td = self.tag_dict(meta)
            if td is None:
                raise ValueError(
                    "string tags_any but this collection has no tag dictionary "
                    "(ingest string tags first)"
                )
            return td
        return None

    def lookup(self, ids: list) -> DataFrame:
        """Point lookup (`getLatest`/`exists`, latest-by-id.h:170-200)."""
        return self.current().filter(F.col("id").isin(ids))
