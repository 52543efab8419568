"""Seeded inputs and the benchmark's own latest-by-id model of the rows.

Everything here is NumPy: the model is the reference the engine's answers
are checked against, so it shares no code with the engine.

The corpus is a Gaussian mixture on the unit sphere, the same for every
seed. Each row carries a
tenant, a namespace and 1-3 tags drawn from a Zipf law (tag 0 is the most
common). Write batches are regional: batch j touches only the mixture
components of region j mod REGIONS, so a fold rewrites a fraction of the
posting lists and successive folds leave distinct overlay dirs behind.
Each batch inserts as many rows as it deletes, so the live row count is
the same after every batch and a run's figures do not depend on how many
rounds it got through.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np

DIM = 64
COMPONENTS = 16
REGIONS = 4
SIGMA = 0.35
TENANTS = 4
NAMESPACES = 2
TAGS = 32
ZIPF_A = 1.3
MIXTURE_SEED = 20211
K = 10
BATCH_QUERIES = 100  # QueryLimits.max_batch_queries
OP_SCHEMA = (
    "op string, id long, tenant string, namespace string, "
    "vector array<float>, tags array<int>, epoch long"
)
QUERY_SCHEMA = "query_id long, query_vec array<float>"
# the filtered request: one tenant and an ANY-of over two common tags
FILTER = {"tenant": "t1", "tags_any": [1, 2]}


@dataclass(frozen=True)
class Size:
    n: int  # initial corpus rows
    batch: int  # ops per write batch

    @property
    def nlist(self) -> int:
        """The √n rule for the coarse quantizer."""
        return int(round(math.sqrt(self.n)))


SIZES = {"full": Size(n=4096, batch=1024), "tiny": Size(n=400, batch=100)}


def raw_row_bytes(op: str, tenant: str, namespace: str, tags, has_vector: bool) -> int:
    """Bytes of one op as a client submits it: id and epoch as 8-byte
    integers, strings as their UTF-8 bytes, tags as 4-byte ints and the
    vector as DIM 4-byte floats."""
    n = 16 + len(op) + len(tenant) + len(namespace)
    if tags is not None:
        n += 4 * len(tags)
    if has_vector:
        n += 4 * DIM
    return n


class Model:
    """Latest-by-id state of every live row, plus the seeded generators
    for the corpus, the write batches and the queries."""

    def __init__(self, seed: int, size: Size):
        self.size = size
        # the mixture itself is part of the workload's definition; the seed
        # draws the rows, the writes and the queries from it
        self.centers = np.random.default_rng(MIXTURE_SEED).normal(size=(COMPONENTS, DIM))
        self.rng = np.random.default_rng(seed)
        self.vec: dict[int, np.ndarray] = {}
        self.comp: dict[int, int] = {}
        self.tenant: dict[int, str] = {}
        self.namespace: dict[int, str] = {}
        self.tags: dict[int, np.ndarray] = {}
        # ids whose latest write is newer than the last build or fold
        self.fresh: set[int] = set()
        self.epoch = 0
        self.next_id = 0
        self.batches = 0
        self._mat = None

    # -- generators ----------------------------------------------------

    def _vectors(self, comps) -> np.ndarray:
        comps = np.asarray(comps)
        x = self.centers[comps] + SIGMA * self.rng.normal(size=(len(comps), DIM))
        x /= np.linalg.norm(x, axis=1, keepdims=True)
        return x.astype(np.float32)

    def _tags(self, n: int) -> list[np.ndarray]:
        counts = self.rng.integers(1, 4, n)
        out = []
        for c in counts:
            t = (self.rng.zipf(ZIPF_A, c) - 1) % TAGS
            out.append(np.unique(t).astype(np.int32))
        return out

    def corpus(self) -> list[tuple]:
        """The initial corpus as INSERT ops (drawn once per model)."""
        n = self.size.n
        comps = self.rng.integers(0, COMPONENTS, n)
        ids = np.arange(n, dtype=np.int64)
        self.next_id = n
        return self._ops(["INSERT"] * n, ids, comps, self._vectors(comps), self._tags(n),
                         self.rng.integers(0, TENANTS, n), self.rng.integers(0, NAMESPACES, n))

    def region(self, batch_no: int) -> list[int]:
        g = batch_no % REGIONS
        return [c for c in range(COMPONENTS) if c % REGIONS == g]

    def write_batch(self) -> list[tuple]:
        """The next regional batch: 40% inserts, 20% upserts of live ids,
        40% deletes of other live ids, all in this batch's region."""
        reg = self.region(self.batches)
        self.batches += 1
        b = self.size.batch
        n_ins = n_del = (2 * b) // 5
        n_up = b - n_ins - n_del
        pool = np.array(sorted(i for i, c in self.comp.items() if c in reg), dtype=np.int64)
        picked = self.rng.choice(pool, n_up + n_del, replace=False)
        ins_ids = np.arange(self.next_id, self.next_id + n_ins, dtype=np.int64)
        self.next_id += n_ins
        ins_comps = self.rng.choice(reg, n_ins)
        up_ids, del_ids = picked[:n_up], picked[n_up:]
        up_comps = np.array([self.comp[int(i)] for i in up_ids], dtype=np.int64)
        ops = ["INSERT"] * n_ins + ["UPSERT"] * n_up + ["DELETE"] * n_del
        ids = np.concatenate([ins_ids, up_ids, del_ids])
        comps = np.concatenate([ins_comps, up_comps, np.zeros(n_del, dtype=np.int64)])
        vecs = self._vectors(comps)
        tags = self._tags(len(ids))
        tenants = np.concatenate([
            self.rng.integers(0, TENANTS, n_ins),
            [int(self.tenant[int(i)][1:]) for i in np.concatenate([up_ids, del_ids])],
        ])
        nss = np.concatenate([
            self.rng.integers(0, NAMESPACES, n_ins),
            [int(self.namespace[int(i)][2:]) for i in np.concatenate([up_ids, del_ids])],
        ])
        return self._ops(ops, ids, comps, vecs, tags, tenants, nss)

    def _ops(self, ops, ids, comps, vecs, tags, tenants, nss) -> list[tuple]:
        out = []
        for j, op in enumerate(ops):
            self.epoch += 1
            delete = op == "DELETE"
            out.append((
                op, int(ids[j]), f"t{int(tenants[j])}", f"ns{int(nss[j])}",
                None if delete else vecs[j], None if delete else tags[j],
                self.epoch, int(comps[j]),
            ))
        return out

    def queries(self, n: int, comps=None) -> np.ndarray:
        """`n` query vectors near mixture components (`comps` restricts
        them to a region)."""
        pool = np.arange(COMPONENTS) if comps is None else np.asarray(comps)
        return self._vectors(self.rng.choice(pool, n))

    # -- state -----------------------------------------------------------

    def apply(self, ops: list[tuple]) -> None:
        """Fold a batch the engine acknowledged into the model."""
        for op, i, tenant, ns, vec, tags, _epoch, comp in ops:
            if op == "DELETE":
                for d in (self.vec, self.comp, self.tenant, self.namespace, self.tags):
                    d.pop(i, None)
                self.fresh.discard(i)
            else:
                self.vec[i] = vec
                self.comp[i] = comp
                self.tenant[i] = tenant
                self.namespace[i] = ns
                self.tags[i] = tags
                self.fresh.add(i)
        self._mat = None

    def indexed(self) -> None:
        """A build or fold covered every write so far."""
        self.fresh.clear()

    def live(self) -> tuple[np.ndarray, np.ndarray]:
        """(ids, vectors) of the live rows, ids ascending."""
        if self._mat is None:
            ids = np.array(sorted(self.vec), dtype=np.int64)
            mat = np.stack([self.vec[int(i)] for i in ids]) if len(ids) else np.zeros((0, DIM), np.float32)
            self._mat = (ids, mat)
        return self._mat

    def passes(self, i: int, tenant=None, namespace=None, tags_any=None) -> bool:
        if tenant is not None and self.tenant.get(i) != tenant:
            return False
        if namespace is not None and self.namespace.get(i) != namespace:
            return False
        if tags_any is not None and not set(int(t) for t in self.tags.get(i, ())) & set(tags_any):
            return False
        return True

    def exact(self, q: np.ndarray, k: int = K) -> tuple[np.ndarray, np.ndarray]:
        """Exact top-(k+1) (ids, scores) by inner product over the live
        rows, computed in float64; the extra row is the margin the
        checks use to tell a real miss from a float tie."""
        ids, mat = self.live()
        s = mat.astype(np.float64) @ q.astype(np.float64)
        top = np.argsort(-s, kind="stable")[: k + 1]
        return ids[top], s[top]

    def live_bytes(self) -> int:
        return sum(
            raw_row_bytes("INSERT", self.tenant[i], self.namespace[i], self.tags[i], True)
            for i in self.vec
        )


def ops_bytes(ops: list[tuple]) -> int:
    return sum(
        raw_row_bytes(op, tenant, ns, tags, vec is not None)
        for op, _i, tenant, ns, vec, tags, _e, _c in ops
    )
