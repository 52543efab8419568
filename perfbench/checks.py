"""Checks of search results against the benchmark's own model.

A search result is a list of (query_id, vec_id, score, rank) rows, as
`topk_two_phase` returns them. Every check recomputes its answer in NumPy
from the model; none reads the engine's state.
"""

from __future__ import annotations

import numpy as np

from perfbench.model import K, Model

# float32 vectors, inner product of unit vectors: the engine's score and a
# float64 recomputation agree to a few ulps of 1.0
SCORE_TOL = 1e-4
RECALL_FLOOR = 0.75


def check_search(
    rows,
    queries: np.ndarray,
    model: Model,
    k: int = K,
    filt: dict | None = None,
    read_your_writes: bool = False,
) -> tuple[list[str], list[float]]:
    """Check one search call.

    `queries[q]` is the vector of query_id q. Returns the violations (empty
    when the result is right) and, for an unfiltered search, recall@k of
    each query against the exact top-k over the model's live rows. With
    `read_your_writes`, every id written since the last build or fold that
    is clearly inside the exact top-k must be returned."""
    bad: list[str] = []
    recalls: list[float] = []
    by_q: dict[int, list] = {int(q): [] for q in range(len(queries))}
    for r in rows:
        q = int(r[0])
        if q not in by_q:
            bad.append(f"unknown query_id {q}")
            continue
        by_q[q].append((int(r[1]), float(r[2]), int(r[3])))
    for q, got in by_q.items():
        got.sort(key=lambda t: t[2])
        ids = [g[0] for g in got]
        if len(ids) > k or len(set(ids)) != len(ids):
            bad.append(f"q{q}: {len(ids)} rows, {len(set(ids))} distinct, k={k}")
        if [g[2] for g in got] != list(range(1, len(got) + 1)):
            bad.append(f"q{q}: ranks {[g[2] for g in got]}")
        scores = [g[1] for g in got]
        if any(a < b - SCORE_TOL for a, b in zip(scores, scores[1:])):
            bad.append(f"q{q}: scores not descending by rank")
        qv = queries[q].astype(np.float64)
        for vid, score, _rank in got:
            v = model.vec.get(vid)
            if v is None:
                bad.append(f"q{q}: id {vid} is not live")
                continue
            want = float(v.astype(np.float64) @ qv)
            if abs(score - want) > SCORE_TOL:
                bad.append(f"q{q}: id {vid} score {score:.6f} != {want:.6f}")
            if filt and not model.passes(vid, **filt):
                bad.append(f"q{q}: id {vid} fails filter {filt}")
        if filt:
            continue
        ex_ids, ex_s = model.exact(queries[q], k)
        top = set(int(i) for i in ex_ids[:k])
        recalls.append(len(top & set(ids)) / max(1, min(k, len(ex_ids))))
        if read_your_writes:
            # ids clearly inside the top-k: above the (k+1)-th score by
            # more than the tolerance, so a float tie cannot excuse them
            floor = ex_s[k] if len(ex_s) > k else -np.inf
            for i, s in zip(ex_ids[:k], ex_s[:k]):
                i = int(i)
                if i in model.fresh and s > floor + SCORE_TOL and i not in ids:
                    bad.append(f"q{q}: fresh id {i} (score {s:.6f}) not returned")
    return bad, recalls
