#!/usr/bin/env python3
"""Benchmark of the vector collection: one workload per run.

    python3 perfbench/run.py --workload search_indexed --seed 1 --seconds 5 --trace 0

Workloads (see README.md):

- search_indexed: searches over a built, compacted and vacuumed corpus
  whose delta is empty: unfiltered single queries, tenant + tag-ANY
  filtered single queries and 100-query batches.
- write_fold: regional write batches, each followed by a search and an
  index fold; compact and vacuum after the round's folds.

Both start from the same seeded corpus. A run is a closed loop with one
client and one request at a time. It repeats whole rounds until
`--seconds` have passed, checks every answer against the NumPy model in
model.py, and prints one JSON object as its last line: the end-to-end
metrics with `--trace 0`, the per-layer metrics with `--trace 1`.
"""

from __future__ import annotations

import argparse
import fcntl
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import warnings

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.checks import RECALL_FLOOR, check_search  # noqa: E402
from perfbench.model import (  # noqa: E402
    BATCH_QUERIES,
    FILTER,
    K,
    OP_SCHEMA,
    QUERY_SCHEMA,
    SIZES,
    Model,
    ops_bytes,
)
from perfbench.probe import (  # noqa: E402
    ByteLedger,
    Tracer,
    host_steal_jiffies,
    process_tree,
    tree_cpu,
    tree_peak_rss_mb,
)

WORK = os.path.join(ROOT, ".perfbench")
# fixed build and serving knobs; no target_recall auto-tune
PQ_M, PQ_NBITS, NPROBE, RERANK = 16, 8, 12, 4
# the fold fan-in cap the run uses, so a round of three folds ends in an
# overlay consolidation (the engine default of 6 needs seven folds)
FOLD_DIRS_MAX = "2"
BATCHES_PER_ROUND = 3


def _set_env(tmp: str) -> None:
    """Settings the engine reads from the environment at import or launch."""
    cpus = min(4, len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_TRAIN_PROCS"] = str(min(2, cpus))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_GRAFT_FOLD_DIRS_MAX"] = FOLD_DIRS_MAX
    # Spark's Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["TMPDIR"] = os.path.join(tmp, "tmp")
    os.environ["OMP_NUM_THREADS"] = "1"


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class RunAborted(RuntimeError):
    pass


class Bench:
    def __init__(self, args, tmp: str):
        self.args = args
        self.tmp = tmp
        self.size = SIZES[args.size]
        self.model = Model(args.seed, self.size)
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.recalls: list[float] = []
        self.t: dict[str, list[float]] = {}  # wall seconds per call kind
        self.cpu: dict[str, list[float]] = {"client": [], "jvm": [], "workers": []}
        self.bytes: dict[str, list[int]] = {}
        self.folds: list[dict] = []
        self.write_ops = 0
        self.write_s = 0.0
        self.seq = 0
        self.phases: dict[str, object] = {}  # wall seconds of each phase

    # -- session ---------------------------------------------------------

    def start(self) -> None:
        from write_optimized_vector_database_spark.session import get_spark

        java_opts = (
            "-Djava.net.preferIPv4Stack=true -XX:-UsePerfData "
            f"-Djava.io.tmpdir={os.environ['TMPDIR']}"
        )
        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench",
            extra_conf={
                "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
                "spark.sql.warehouse.dir": os.path.join(self.tmp, "warehouse"),
                "spark.driver.extraJavaOptions": java_opts,
                "spark.ui.showConsoleProgress": "false",
                # keep every job of a run in the status tracker
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            },
        )
        self.session_start_s = time.perf_counter() - t0
        self.phases["session"] = round(self.session_start_s, 3)
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")
        self.jvm_pid = self.sc._gateway.proc.pid
        self.tr = Tracer(self.sc, enabled=bool(self.args.trace))
        self.gc0 = self._gc_ms()

    def _gc_ms(self) -> int:
        beans = (
            self.sc._jvm.java.lang.management.ManagementFactory
            .getGarbageCollectorMXBeans()
        )
        return int(sum(b.getCollectionTime() for b in beans))

    def stop(self) -> bool:
        """Stop Spark, the JVM and the training pool; True once every
        process this run started has exited."""
        from pyspark import SparkContext
        from write_optimized_vector_database_spark.functions import kmeans_pool

        pids = [p for p in process_tree(os.getpid()) if p != os.getpid()]
        self.spark.stop()
        proc = SparkContext._gateway.proc
        SparkContext._gateway.shutdown()
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        pool, kmeans_pool._POOL = kmeans_pool._POOL, None
        workers = pool.workers if pool is not None else []
        if pool is not None:
            pool.close()
        for child in [proc, *workers]:
            try:
                child.wait(timeout=30)
            except subprocess.TimeoutExpired:
                child.kill()
                child.wait()
        alive = _wait_exit(pids, 30)
        for p in alive:
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
        _wait_exit(alive, 10)
        return not alive

    # -- helpers ---------------------------------------------------------

    def frame(self, ops):
        import pandas as pd

        pdf = pd.DataFrame(
            [o[:7] for o in ops],
            columns=["op", "id", "tenant", "namespace", "vector", "tags", "epoch"],
        )
        return self.spark.createDataFrame(pdf, OP_SCHEMA)

    def qframe(self, qv):
        import numpy as np
        import pandas as pd

        pdf = pd.DataFrame(
            {"query_id": np.arange(len(qv), dtype=np.int64), "query_vec": list(qv)}
        )
        return self.spark.createDataFrame(pdf, QUERY_SCHEMA)

    def fail(self, msg: str) -> None:
        self.failed += 1
        if len(self.problems) < 50:
            self.problems.append(msg)

    def call(self, kind: str, fn, *a, **kw):
        """One engine call, timed, traced and counted; a listing after it
        gives the bytes it created."""
        self.attempted += 1
        with self.tr.span(kind):
            t0 = time.perf_counter()
            try:
                out = fn(*a, **kw)
            except Exception as e:  # noqa: BLE001 — counted, then the run ends
                self.fail(f"{kind}: {type(e).__name__}: {e}")
                raise RunAborted(kind) from e
            dt = time.perf_counter() - t0
        self.t.setdefault(kind, []).append(dt)
        self.bytes.setdefault(kind, []).append(self.ledger.mark())
        return out, dt

    # -- set-up ------------------------------------------------------------

    def setup(self) -> None:
        """Load the corpus into a fresh collection: ingest, compact, vacuum
        and build, each timed. Input generation is not timed."""
        from write_optimized_vector_database_spark.collection import VectorCollection

        ops = self.model.corpus()
        self.model.apply(ops)
        self.model.indexed()
        path = os.path.join(self.tmp, "collection")
        self.ledger = ByteLedger(path)
        df = self.frame(ops)
        self.coll = coll = VectorCollection(self.spark, path, metric="ip")
        self.ledger.mark()
        with self.tr.span("setup", request="setup"):
            n, t_in = self.call("ingest", coll.ingest, df)
            _, t_c = self.call("compact", coll.compact)
            _, t_v = self.call("vacuum", coll.vacuum)
            _, t_b = self.call(
                "build", coll.build_indexes,
                nlist=self.size.nlist, m=PQ_M, nbits=PQ_NBITS, seed=self.args.seed,
            )
        if n != len(ops):
            self.fail(f"setup ingest wrote {n} of {len(ops)} rows")
        self.setup_s = t_in + t_c + t_v + t_b
        self.load_rate = len(ops) / (t_in + t_c + t_v)
        self.phases["setup"] = [round(x, 3) for x in (t_in, t_c, t_v, t_b)]
        self.submitted_bytes = ops_bytes(ops)

    # -- requests ----------------------------------------------------------

    def search(self, kind: str, qv, filt=None, ryw=False) -> None:
        from write_optimized_vector_database_spark.operators.pq import (
            release_query_broadcasts,
        )

        qdf = self.qframe(qv)
        self.seq += 1
        self.attempted += 1
        pid = os.getpid()
        cpu0 = tree_cpu(pid, self.jvm_pid)
        with self.tr.span(kind, request=f"{kind}-{self.seq}"):
            t0 = time.perf_counter()
            try:
                with self.tr.span(f"{kind}.plan"):
                    df = self.coll.topk_two_phase(
                        qdf, k=K, nprobe=NPROBE, rerank_factor=RERANK, **(filt or {})
                    )
                with self.tr.span(f"{kind}.exec"):
                    rows = df.collect()
            except Exception as e:  # noqa: BLE001 — a failed search is counted
                self.fail(f"{kind}: {type(e).__name__}: {e}")
                return
            t2 = time.perf_counter()
        cpu1 = tree_cpu(pid, self.jvm_pid)
        release_query_broadcasts()
        self.t.setdefault(kind, []).append(t2 - t0)
        if kind == "search":
            for key in self.cpu:
                self.cpu[key].append(cpu1[key] - cpu0[key])
        bad, rec = check_search(rows, qv, self.model, K, filt=filt, read_your_writes=ryw)
        if bad:
            self.fail(f"{kind}-{self.seq}: " + "; ".join(bad[:5]))
        self.recalls.extend(rec)
        if kind == "search" and self.args.trace:
            self.branch_probes(qdf)

    def branch_probes(self, qdf) -> None:
        """Time the search's branches one at a time on the same query:
        the stable-index view, the visible view, stable ADC and the exact
        delta scan (traced run only)."""
        from pyspark.sql import functions as F
        from write_optimized_vector_database_spark.config import candidate_budget
        from write_optimized_vector_database_spark.operators import compaction as C
        from write_optimized_vector_database_spark.operators.ivfpq import ivfpq_adc_topk
        from write_optimized_vector_database_spark.operators.pq import (
            release_query_broadcasts,
        )
        from write_optimized_vector_database_spark.operators.topk import exact_topk

        coll = self.coll
        budget = candidate_budget(K, RERANK, n_branches=2)
        meta = coll._meta()
        with self.tr.span("index_view", request=f"search-{self.seq}"):
            index = coll.stable_index_df(meta)
        with self.tr.span("visible_view", request=f"search-{self.seq}"):
            coll.current()
        cents, codebooks = coll._index_artifacts(meta)
        crows, cbt = coll._index_artifacts_np(meta)
        with self.tr.span("adc", request=f"search-{self.seq}"):
            ivfpq_adc_topk(
                index, qdf, cents, codebooks, k=budget, nprobe=NPROBE, metric="ip",
                vec_id_col="id", _cb_np=cbt, _crows=crows,
            ).collect()
        release_query_broadcasts()
        idx_epoch = coll._index_epoch(meta)
        with self.tr.span("delta", request=f"search-{self.seq}"):
            if coll._has_changelog_files():
                tail = C.visible(coll.changelog().filter(F.col("epoch") > idx_epoch))
                exact_topk(
                    tail.filter(F.col("vector").isNotNull()), qdf, k=budget,
                    metric="ip", vec_id_col="id", vec_col="vector",
                ).collect()

    # -- workloads ---------------------------------------------------------

    def round_search_indexed(self) -> None:
        m = self.model
        for _ in range(2):
            self.search("search", m.queries(1))
            self.search("filtered", m.queries(1), filt=FILTER)
            self.search("batch", m.queries(BATCH_QUERIES))

    def round_write_fold(self) -> None:
        m, coll = self.model, self.coll
        for j in range(BATCHES_PER_ROUND):
            region = m.region(m.batches)
            ops = m.write_batch()
            df = self.frame(ops)
            with self.tr.span("write", request=f"write-{m.batches}"):
                n, dt = self.call("ingest", coll.ingest, df)
                if n != len(ops):
                    self.fail(f"ingest wrote {n} of {len(ops)} ops")
                m.apply(ops)
                self.write_ops += len(ops)
                self.write_s += dt
                self.submitted_bytes += ops_bytes(ops)
                if m.batches == 1:
                    # untimed warm-up over the first non-empty delta; the
                    # filtered plan runs the unfiltered one's code paths too
                    self.warm(m.queries(1, region), FILTER)
                self.search("search", m.queries(1, region), ryw=True)
                # the other request kinds, also over a non-empty delta
                if j == 1:
                    self.search("filtered", m.queries(1, region), filt=FILTER)
                else:
                    self.search("batch", m.queries(BATCH_QUERIES, region))
                out, dt = self.call("fold", coll.refresh_indexes)
                self.write_s += dt
                self.folds.append(out)
                m.indexed()
        # the engine's fold-then-vacuum schedule
        for kind, fn in (("compact", coll.compact), ("vacuum", coll.vacuum)):
            _, dt = self.call(kind, fn)
            self.write_s += dt

    def run(self) -> None:
        self.setup()
        t_warm = time.perf_counter()
        if self.args.workload == "search_indexed":
            # the maintenance call on an indexed collection with no delta:
            # a no-op fold, so the fold layer reads its fixed cost here
            out, _ = self.call("fold", self.coll.refresh_indexes)
            self.folds.append(out)
            # untimed warm-ups, so no median holds a request that ran its
            # code path for the first time
            self.warm(self.model.queries(1))
            self.warm(self.model.queries(1), FILTER)
            step = self.round_search_indexed
        else:
            step = self.round_write_fold
        t0 = time.perf_counter()
        self.phases["warm"] = round(t0 - t_warm, 3)
        self.rounds = 0
        while True:
            step()
            self.rounds += 1
            if time.perf_counter() - t0 >= self.args.seconds:
                break
        self.measure_s = time.perf_counter() - t0

    def warm(self, qv, filt=None) -> None:
        from write_optimized_vector_database_spark.operators.pq import (
            release_query_broadcasts,
        )

        with self.tr.paused():
            self.coll.topk_two_phase(
                self.qframe(qv), k=K, nprobe=NPROBE, rerank_factor=RERANK, **(filt or {})
            ).collect()
        release_query_broadcasts()

    # -- results -------------------------------------------------------------

    def end_to_end(self) -> dict:
        files, dirs, size = self.ledger.usage()
        self.usage = (files, dirs, size)
        rate = self.write_ops / self.write_s if self.write_ops else self.load_rate
        return {
            "setup_s": (self.setup_s, "s"),
            "search_p50_ms": (1e3 * _median(self.t.get("search", [])), "ms"),
            "filtered_p50_ms": (1e3 * _median(self.t.get("filtered", [])), "ms"),
            "batch_queries_per_s": (
                BATCH_QUERIES / _median(self.t["batch"]) if self.t.get("batch") else 0.0,
                "1/s",
            ),
            "recall_at_10": (
                sum(self.recalls) / len(self.recalls) if self.recalls else 0.0,
                "fraction",
            ),
            "ingest_rows_per_s": (rate, "1/s"),
            "write_amp": (self.ledger.created / self.submitted_bytes, "ratio"),
            "space_amp": (size / self.model.live_bytes(), "ratio"),
            "peak_rss_mb": (self.peak_rss_mb, "MB"),
        }

    def per_layer(self) -> dict:
        tr = self.tr
        tr.resolve_jobs()

        def med(name, key, scale=1.0):
            xs = [r[key] for r in tr.named(name)]
            return scale * _median(xs)

        files, dirs, size = self.usage
        n_search = max(1, len(self.cpu["client"]))
        out = {
            "session.start_s": (self.session_start_s, "s"),
            "ingest.ms": (med("ingest", "s", 1e3), "ms"),
            "ingest.jobs": (med("ingest", "jobs"), "count"),
            "compact.s": (med("compact", "s"), "s"),
            "vacuum.s": (med("vacuum", "s"), "s"),
            "compact.bytes": (_median(self.bytes.get("compact", [])), "bytes"),
            "build.s": (med("build", "s"), "s"),
            "build.jobs": (med("build", "jobs"), "count"),
            "build.tasks": (med("build", "tasks"), "count"),
            "build.bytes": (_median(self.bytes.get("build", [])), "bytes"),
            "fold.s": (med("fold", "s"), "s"),
            "fold.jobs": (med("fold", "jobs"), "count"),
            "fold.lists_rewritten": (
                _median([f.get("n_lists_rewritten", 0) for f in self.folds]), "count"
            ),
            "fold.bytes": (_median(self.bytes.get("fold", [])), "bytes"),
        }
        for kind in ("search", "filtered", "batch"):
            out[f"{kind}.plan_ms"] = (med(f"{kind}.plan", "s", 1e3), "ms")
            out[f"{kind}.plan_tasks"] = (med(f"{kind}.plan", "tasks"), "count")
            out[f"{kind}.exec_ms"] = (med(f"{kind}.exec", "s", 1e3), "ms")
            out[f"{kind}.exec_tasks"] = (med(f"{kind}.exec", "tasks"), "count")
        out.update({
            "search.plan_py4j": (med("search.plan", "py4j"), "count"),
            "search.plan_jobs": (med("search.plan", "jobs"), "count"),
            "search.exec_jobs": (med("search.exec", "jobs"), "count"),
            "search.exec_stages": (med("search.exec", "stages"), "count"),
            "index_view.ms": (med("index_view", "s", 1e3), "ms"),
            "index_view.tasks": (med("index_view", "tasks"), "count"),
            "visible_view.ms": (med("visible_view", "s", 1e3), "ms"),
            "adc.ms": (med("adc", "s", 1e3), "ms"),
            "delta.ms": (med("delta", "s", 1e3), "ms"),
            "storage.files": (files, "count"),
            "storage.dirs": (dirs, "count"),
            "storage.bytes": (size, "bytes"),
            "jvm.gc_ms": (self.gc_ms, "ms"),
            "cpu.client_ms": (1e3 * sum(self.cpu["client"]) / n_search, "ms"),
            "cpu.jvm_ms": (1e3 * sum(self.cpu["jvm"]) / n_search, "ms"),
            "cpu.workers_ms": (1e3 * sum(self.cpu["workers"]) / n_search, "ms"),
        })
        return out


def _wait_exit(pids: list[int], seconds: float) -> list[int]:
    """Poll until every pid has exited; return those still running."""
    deadline = time.time() + seconds
    alive = list(pids)
    while alive and time.time() < deadline:
        alive = [p for p in alive if _running(p)]
        if alive:
            time.sleep(0.1)
    return alive


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["search_indexed", "write_fold"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=["full", "tiny"], default="full")
    args = p.parse_args(argv)

    tmp = os.path.join(WORK, f"run-{os.getpid()}")
    _set_env(tmp)
    try:
        import write_optimized_vector_database_spark.collection  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable: {e}", file=sys.stderr)
        return 2
    warnings.filterwarnings("ignore", message="pinned nprobe")

    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        for sub in ("local", "tmp"):
            os.makedirs(os.path.join(tmp, sub), exist_ok=True)
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "wall_start": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "loadavg_start": os.getloadavg(),
        }
        steal0 = host_steal_jiffies()
        bench = Bench(args, tmp)
        stopped = False
        try:
            bench.start()
            try:
                bench.run()
            except RunAborted:
                bench.measure_s = 0.0
            bench.peak_rss_mb = tree_peak_rss_mb(os.getpid())
            bench.gc_ms = bench._gc_ms() - bench.gc0
            metrics = bench.end_to_end()
            if args.trace:
                metrics = bench.per_layer()
                os.makedirs(os.path.join(WORK, "spans"), exist_ok=True)
                span_file = os.path.join(
                    WORK, "spans", f"{args.workload}-seed{args.seed}.json"
                )
                with open(span_file, "w") as f:
                    json.dump(bench.tr.spans, f)
                record["spans"] = os.path.relpath(span_file, ROOT)
            record["filter_strategy"] = bench.coll.plan_filtered_strategy(**FILTER)
        finally:
            if hasattr(bench, "spark"):
                t_stop = time.perf_counter()
                stopped = bench.stop()
                bench.phases["stop"] = round(time.perf_counter() - t_stop, 3)
            shutil.rmtree(tmp, ignore_errors=True)
        recall = sum(bench.recalls) / max(1, len(bench.recalls))
        record.update({
            "rounds": getattr(bench, "rounds", 0),
            "measure_s": round(bench.measure_s, 3),
            "steal_jiffies": host_steal_jiffies() - steal0,
            "jvm_gc_ms": bench.gc_ms,
            "processes_stopped": stopped,
            "phases": bench.phases,
            "samples_ms": {
                k: [round(1e3 * x) for x in v]
                for k, v in bench.t.items() if k in ("search", "filtered", "batch")
            },
            "problems": bench.problems,
        })
        print(json.dumps({"record": record}))
        correct = bench.failed == 0 and recall >= RECALL_FLOOR
        print(json.dumps({
            "correct": bool(correct),
            "attempted": bench.attempted,
            "failed": bench.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
