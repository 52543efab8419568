"""Driver-side k-means kernels + a spawn-based training process pool.

Index training (coarse centroids, PQ/OPQ codebooks) runs as driver
NumPy on bounded samples (operators/ivf.py, operators/pq.py). Once the
Spark-side passes were sample-bounded, this single-threaded NumPy became
the serialized hot spot of every build (round-13 scaling block: the
heavy bench entries run as fast on 8 cores as on 32 — the cluster idles
while the driver trains). The m per-subspace k-means runs are
INDEPENDENT — each consumes only its own slice of the sample and its
own `RandomState(seed + s)` — so they fan out over a process pool with
bit-identical results (same arrays, same ops, same order per subspace;
verified `np.array_equal` per subspace against the sequential loop).

Why processes, not threads: the loop is matmul (releases the GIL) +
argmin/bincount/k-means++ (hold it) — a thread pool measured 1.4x at
best; the spawn pool measured 5-9x warm at the build_indexes_ivfpq
shape (16384x64 sample, m=8, k=256).

Pool discipline:
- fresh subprocesses, never fork: the driver hosts a JVM (py4j) whose
  threads make fork unsafe. Workers are hand-rolled `subprocess`
  children that exec THIS FILE standalone (importlib-from-path) — they
  import numpy and nothing else. multiprocessing's spawn pool was
  rejected after it re-imported the parent's `__main__` in every worker
  (unguarded caller scripts re-ran themselves 8×); the bespoke protocol
  cannot, and skips the package/pyspark import a spawn worker would pay.
- lazily created, persistent for the process, bounded by
  SPARK_GRAFT_TRAIN_PROCS (default min(8, usable_cpus/2), sized from
  the same SPARK_GRAFT_CPUS-or-affinity count as local[N]; 0/1
  disables). Workers run single-threaded BLAS.
- small jobs stay sequential (`_POOL_MIN_CELLS`): the pool only pays
  when the training matmul volume does.
- any pool failure falls back to the sequential loop (same results).
"""

from __future__ import annotations

import os
import pickle
import struct
import sys
import threading

import numpy as np


def _kmeans_pp_init(x32: np.ndarray, k: int, rng) -> np.ndarray:
    """k-means++ D² seeding: each next center drawn ∝ squared distance
    to the nearest already-chosen center. O(n·k) — trivial at the
    bounded training-sample sizes; markedly better coarse-quantizer
    recall than uniform seeding when cluster sizes are skewed."""
    n = len(x32)
    centers = np.empty((k, x32.shape[1]), dtype=np.float32)
    centers[0] = x32[rng.randint(n)]
    d2 = ((x32 - centers[0]) ** 2).sum(-1)
    for j in range(1, k):
        tot = d2.sum()
        if tot <= 0:
            centers[j:] = x32[rng.choice(n, size=k - j)]
            break
        # clamp: cumsum is sequential but tot is pairwise-summed, so
        # rand()*tot can exceed cumsum[-1] and searchsorted return n
        centers[j] = x32[min(np.searchsorted(np.cumsum(d2), rng.rand() * tot), n - 1)]
        d2 = np.minimum(d2, ((x32 - centers[j]) ** 2).sum(-1))
    return centers


def _kmeans_iter(
    x: np.ndarray, x32: np.ndarray, centers: np.ndarray, max_iter: int
) -> np.ndarray:
    """Lloyd iterations from given float32 `centers` — the rng-free tail
    of `_kmeans_np`, split out so per-subspace inits can be drawn
    sequentially (preserving shared-rng draw order) while the iteration
    work fans out. Body identical to the pre-split `_kmeans_np` loop."""
    n = len(x32)
    k = len(centers)
    assign = np.empty(n, dtype=np.int64)
    prev_assign = None
    blk = 16384  # keep the n×k score block inside L2/L3, not RAM
    for _ in range(max_iter):
        cnorm = (centers.astype(np.float64) ** 2).sum(-1).astype(np.float32)[None, :]
        for i in range(0, n, blk):
            d = cnorm - 2.0 * (x32[i : i + blk] @ centers.T)
            assign[i : i + blk] = d.argmin(1)
        # Lloyd fixed point: unchanged assignments ⇒ unchanged means ⇒
        # every further iteration is a no-op. Breaking here is
        # RESULT-IDENTICAL to running out max_iter (not an approximation),
        # and typically halves training cost at codebook sizes.
        if prev_assign is not None and np.array_equal(assign, prev_assign):
            break
        prev_assign = assign.copy()
        counts = np.bincount(assign, minlength=k).astype(np.float64)
        nz = counts > 0
        for j in range(x.shape[1]):
            sums = np.bincount(assign, weights=x[:, j], minlength=k)
            centers[nz, j] = (sums[nz] / counts[nz]).astype(np.float32)
    return centers.astype(np.float64)


def _kmeans_np(
    x: np.ndarray, k: int, rng, max_iter: int = 15, init_pp: bool = False
) -> np.ndarray:
    """Small in-driver Lloyd's k-means (codebooks are tiny; a distributed
    fit per subspace would spin m Spark jobs for kilobytes of data).

    Assignment uses the matmul expansion ‖x−c‖² = ‖c‖² − 2x·cᵀ (+‖x‖²,
    constant per row, dropped) — BLAS-speed and O(n·k) memory, vs the
    n×k×d broadcast temporary that melts the driver at the 64k-row
    training cap. Means via bincount; empty clusters keep their center."""
    k = min(k, len(x))
    x32 = np.ascontiguousarray(x, dtype=np.float32)
    if init_pp:
        centers = _kmeans_pp_init(x32, k, rng)
    else:
        centers = x32[rng.choice(len(x), size=k, replace=False)].copy()
    return _kmeans_iter(x, x32, centers, max_iter)


def _pq_refine_subspace(
    sub: np.ndarray, c: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """One subspace's warm-started Lloyd refine (3 assignment/means
    rounds + final assign) — the per-`s` body of `_pq_fit_np`, split out
    verbatim so OPQ iterations can fan the m subspaces over the pool."""
    prev = None
    for _ in range(3):  # refine assignments against current data
        d = (c * c).sum(-1)[None, :] - 2.0 * (sub @ c.T)
        assign = d.argmin(1)
        # fixed point: unchanged assignments ⇒ unchanged means
        if prev is not None and np.array_equal(assign, prev):
            break
        prev = assign
        # means via bincount (same trick as _kmeans_np) — the naive
        # per-center masked mean is k Python-level passes per refine
        # step and dominated the whole OPQ training wall time
        counts = np.bincount(assign, minlength=len(c)).astype(np.float64)
        nz = counts > 0
        for j in range(sub.shape[1]):
            sums = np.bincount(assign, weights=sub[:, j], minlength=len(c))
            c[nz, j] = sums[nz] / counts[nz]
    d = (c * c).sum(-1)[None, :] - 2.0 * (sub @ c.T)
    assign = d.argmin(1)
    return assign, c


# --- the training pool ------------------------------------------------------

_POOL = None
_POOL_LOCK = threading.Lock()
_POOL_FAILED = False
# only fan out when the per-call matmul volume pays for dispatch+pickle:
# n_rows × k × d_sub × m cells (≈ the per-Lloyd-iteration score cells)
_POOL_MIN_CELLS = 16_000_000

_TASK_FNS = {}  # name -> fn; registered below, shared by parent and worker


_SINGLE_THREAD_BLAS = {
    "OMP_NUM_THREADS": "1",
    "OPENBLAS_NUM_THREADS": "1",
    "MKL_NUM_THREADS": "1",
}


def _train_procs() -> int:
    env = os.environ.get("SPARK_GRAFT_TRAIN_PROCS")
    if env is not None:
        try:
            return max(0, int(env))
        except ValueError:
            return 0
    # imported here, not at module top: pool workers exec this file in
    # a bare interpreter that must not import pyspark
    from write_optimized_vector_database_spark.session import usable_cpus

    return min(8, max(1, usable_cpus() // 2))


def _send_obj(stream, obj) -> None:
    payload = pickle.dumps(obj, protocol=pickle.HIGHEST_PROTOCOL)
    stream.write(struct.pack("<Q", len(payload)))
    stream.write(payload)
    stream.flush()


def _recv_obj(stream):
    header = stream.read(8)
    if len(header) < 8:
        raise EOFError("training worker closed its pipe")
    (n,) = struct.unpack("<Q", header)
    payload = stream.read(n)
    if len(payload) < n:
        raise EOFError("training worker closed mid-message")
    return pickle.loads(payload)


def _worker_main() -> None:
    """Entry point of a pool worker: a length-prefixed pickle loop over
    stdin/stdout. Runs in a bare interpreter that exec'd this file via
    importlib-from-path — numpy is the only heavyweight import."""
    stdin = sys.stdin.buffer
    stdout = sys.stdout.buffer
    while True:
        try:
            msg = _recv_obj(stdin)
        except EOFError:
            return
        if msg is None:  # shutdown
            return
        fn_name, args = msg
        try:
            result = ("ok", _TASK_FNS[fn_name](args))
        except BaseException as e:  # noqa: BLE001 — report, don't die
            result = ("err", repr(e))
        _send_obj(stdout, result)


class _WorkerPool:
    """N persistent worker subprocesses, scatter/gather over pipes."""

    def __init__(self, procs: int):
        import subprocess

        code = (
            "import sys, importlib.util as u;"
            "sp = u.spec_from_file_location('wovd_kmeans_worker', sys.argv[1]);"
            "m = u.module_from_spec(sp); sp.loader.exec_module(m);"
            "m._worker_main()"
        )
        self.workers = [
            subprocess.Popen(
                [sys.executable, "-c", code, os.path.abspath(__file__)],
                stdin=subprocess.PIPE,
                stdout=subprocess.PIPE,
                # one BLAS thread per worker: the pool is the parallelism,
                # and per-worker BLAS pools oversubscribe the cores
                env={**os.environ, **_SINGLE_THREAD_BLAS},
                # stderr inherited: a crashing worker says why in our log
            )
            for _ in range(procs)
        ]

    def map(self, fn_name: str, args_list: list) -> list:
        nw = len(self.workers)
        send_err: list = []

        # sends run on a helper thread: the main thread drains results,
        # so a task payload larger than the pipe buffer can never
        # deadlock sender-blocked-on-stdin vs worker-blocked-on-stdout
        def _send_all():
            try:
                for i, args in enumerate(args_list):
                    _send_obj(self.workers[i % nw].stdin, (fn_name, args))
            except BaseException as e:  # noqa: BLE001
                send_err.append(e)

        sender = threading.Thread(target=_send_all, daemon=True)
        sender.start()
        out = [None] * len(args_list)
        try:
            # gather in send order: each worker answers its tasks FIFO
            for i in range(len(args_list)):
                status, value = _recv_obj(self.workers[i % nw].stdout)
                if status != "ok":
                    raise RuntimeError(f"training worker failed: {value}")
                out[i] = value
        finally:
            sender.join()
        if send_err:
            raise RuntimeError(f"training pool send failed: {send_err[0]!r}")
        return out

    def close(self) -> None:
        for w in self.workers:
            try:
                if w.stdin:
                    _send_obj(w.stdin, None)
                    w.stdin.close()
                w.terminate()
            except Exception:  # noqa: BLE001
                pass


def _get_pool():
    """The persistent worker pool, or None when disabled/unavailable."""
    global _POOL, _POOL_FAILED
    with _POOL_LOCK:
        if _POOL is not None:
            return _POOL
        if _POOL_FAILED:
            return None
        procs = _train_procs()
        if procs < 2:
            _POOL_FAILED = True
            return None
        try:
            _POOL = _WorkerPool(procs)
        except Exception:  # noqa: BLE001 — sandboxed/odd env: sequential
            _POOL_FAILED = True
            return None
        import atexit

        atexit.register(_POOL.close)
        return _POOL


def _kmeans_task(args):
    sub, k, seed, max_iter, init_pp = args
    return _kmeans_np(
        sub, k, np.random.RandomState(seed), max_iter=max_iter, init_pp=init_pp
    )


def _refine_task(args):
    sub, c = args
    return _pq_refine_subspace(sub, c)


_TASK_FNS["kmeans"] = _kmeans_task
_TASK_FNS["refine"] = _refine_task
_TASK_NAMES = {_kmeans_task: "kmeans", _refine_task: "refine"}


def _map_pool(fn, args_list, cells: int):
    """Run `fn` over args on the pool when it pays, else sequentially.
    Results are positional either way — bit-identical by construction
    (the worker executes the same function on the same pickled arrays)."""
    global _POOL, _POOL_FAILED
    if len(args_list) >= 2 and cells >= _POOL_MIN_CELLS:
        pool = _get_pool()
        if pool is not None:
            try:
                return pool.map(_TASK_NAMES[fn], args_list)
            except Exception:  # noqa: BLE001 — broken pool: fall back
                with _POOL_LOCK:
                    if _POOL is not None:
                        _POOL.close()
                    _POOL = None
                    _POOL_FAILED = True
    return [fn(a) for a in args_list]


def kmeans_subspaces(
    sample: np.ndarray,
    m: int,
    d_sub: int,
    k: int,
    seed: int,
    max_iter: int,
    init_pp: bool,
) -> list[np.ndarray]:
    """Per-subspace `_kmeans_np(sample[:, s·d:(s+1)·d], k,
    RandomState(seed+s))` for s in 0..m-1 — fanned over the pool when
    the volume pays, sequential otherwise; identical output either way."""
    args = [
        (
            np.ascontiguousarray(sample[:, s * d_sub : (s + 1) * d_sub]),
            k,
            seed + s,
            max_iter,
            init_pp,
        )
        for s in range(m)
    ]
    cells = len(sample) * min(k, max(1, len(sample))) * d_sub * m
    return _map_pool(_kmeans_task, args, cells)
