"""The output checks fail on corrupted results and pass on exact ones."""

from __future__ import annotations

import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench.checks import SCORE_TOL, check_search  # noqa: E402
from perfbench.model import FILTER, K, SIZES, Model  # noqa: E402


def _model() -> Model:
    m = Model(seed=7, size=SIZES["tiny"])
    m.apply(m.corpus())
    m.indexed()
    return m


def _exact_rows(m: Model, qv: np.ndarray, filt=None) -> list[tuple]:
    """What a correct engine returns: the exact top-k over the live rows."""
    ids, mat = m.live()
    rows = []
    for q, v in enumerate(qv):
        keep = [j for j, i in enumerate(ids) if not filt or m.passes(int(i), **filt)]
        s = mat[keep].astype(np.float64) @ v.astype(np.float64)
        top = np.argsort(-s, kind="stable")[:K]
        rows += [(q, int(ids[keep][t]), float(s[t]), r + 1) for r, t in enumerate(top)]
    return rows


def test_exact_result_passes():
    m = _model()
    qv = m.queries(3)
    bad, rec = check_search(_exact_rows(m, qv), qv, m)
    assert bad == [] and rec == [1.0, 1.0, 1.0]
    bad, rec = check_search(_exact_rows(m, qv, FILTER), qv, m, filt=FILTER)
    assert bad == [] and rec == []


def test_deleted_id_fails():
    m = _model()
    qv = m.queries(1)
    rows = _exact_rows(m, qv)
    # delete the top hit through the model, as an acknowledged write would
    m.apply([("DELETE", rows[0][1], "t0", "ns0", None, None, 10**9, 0)])
    bad, _ = check_search(rows, qv, m)
    assert any("not live" in b for b in bad)


def test_perturbed_score_fails():
    m = _model()
    qv = m.queries(1)
    rows = _exact_rows(m, qv)
    q, i, s, r = rows[3]
    rows[3] = (q, i, s + 10 * SCORE_TOL, r)
    bad, _ = check_search(rows, qv, m)
    assert any("score" in b for b in bad)


def test_superseded_vector_fails():
    m = _model()
    qv = m.queries(1)
    rows = _exact_rows(m, qv)
    i = rows[0][1]
    new = -m.vec[i]
    m.apply([("UPSERT", i, m.tenant[i], m.namespace[i], new, m.tags[i], 10**9, m.comp[i])])
    bad, _ = check_search(rows, qv, m)
    assert any(f"id {i} score" in b for b in bad)


def test_rank_order_and_k_fail():
    m = _model()
    qv = m.queries(1)
    rows = _exact_rows(m, qv)
    swapped = list(rows)
    swapped[0], swapped[1] = (rows[1][0], rows[1][1], rows[1][2], 1), (
        rows[0][0], rows[0][1], rows[0][2], 2)
    assert any("descending" in b for b in check_search(swapped, qv, m)[0])
    extra = rows + [(0, rows[0][1], rows[0][2], K + 1)]
    assert any("distinct" in b for b in check_search(extra, qv, m)[0])


def test_filter_violation_fails():
    m = _model()
    qv = m.queries(1)
    outsider = next(i for i in sorted(m.vec) if not m.passes(i, **FILTER))
    s = float(m.vec[outsider].astype(np.float64) @ qv[0].astype(np.float64))
    bad, _ = check_search([(0, outsider, s, 1)], qv, m, filt=FILTER)
    assert any("fails filter" in b for b in bad)


def test_missed_fresh_write_fails():
    m = _model()
    qv = m.queries(1)
    # insert a row equal to the query: the exact top-1, written after the
    # last build, so the delta branch must return it
    m.apply([("INSERT", 10**6, "t0", "ns0", qv[0], np.array([0], np.int32), 10**9, 0)])
    stale = _exact_rows(m, qv)
    stale = [r for r in stale if r[1] != 10**6]
    stale = [(q, i, s, n + 1) for n, (q, i, s, _r) in enumerate(stale)]
    bad, _ = check_search(stale, qv, m, read_your_writes=True)
    assert any("fresh id 1000000" in b for b in bad)
    assert check_search(_exact_rows(m, qv), qv, m, read_your_writes=True)[0] == []
