"""Reference answers for every benchmarked op, computed from the generated
arrays (numpy) or by the engine's DuckDB ``*_sql`` mirrors, and the checks
that compare the engine's outputs against them.

Each check returns None when the output is right and a one-line reason
when it is not. Oracles run outside the timed region and outside set-up.
"""

from __future__ import annotations

from typing import Optional

import numpy as np

BLOCK = 256  # left rows per block of brute-force distances


def _d2(ax, ay, bx, by):
    # same association as simba_spark.functions.dist2: 0.0 + dx*dx + dy*dy
    dx = ax[:, None] - bx[None, :]
    dy = ay[:, None] - by[None, :]
    return 0.0 + dx * dx + dy * dy


# -- selections: (count, sum id, sum id^2) --------------------------------

def checksum(ids: np.ndarray) -> tuple:
    ids = ids.astype(np.int64)
    return (int(ids.size), int(ids.sum()), int((ids * ids).sum()))


def range_ids(pts: np.ndarray, lo, hi) -> np.ndarray:
    x, y = pts[:, 0], pts[:, 1]
    m = (x >= lo[0]) & (x <= hi[0]) & (y >= lo[1]) & (y <= hi[1])
    return np.nonzero(m)[0]


def dist2_to(pts: np.ndarray, c) -> np.ndarray:
    """Squared distance from every point to ``c``."""
    return _d2(np.array([c[0]]), np.array([c[1]]), pts[:, 0], pts[:, 1])[0]


def circle_ids(pts: np.ndarray, center, r: float) -> np.ndarray:
    return np.nonzero(dist2_to(pts, center) <= r * r)[0]


def knn_ids(pts: np.ndarray, q, k: int) -> np.ndarray:
    order = np.lexsort((np.arange(pts.shape[0]), dist2_to(pts, q)))  # distance, then id
    return order[:k]


def check_checksum(got: tuple, want: tuple) -> Optional[str]:
    if tuple(int(v or 0) for v in got) != want:
        return f"checksum {tuple(got)} != expected {want}"
    return None


# -- joins ----------------------------------------------------------------

def join_oracle(left: np.ndarray, right: np.ndarray, radius: float, k: int):
    """Exact distance-join pairs (as sorted ``l*|R|+r`` keys) and the
    exact kNN-join answer (``(|L|, k)`` right ids, ordered by distance then
    right id, as ``knn_join(right_tiebreak=id)`` breaks ties)."""
    nr = right.shape[0]
    rid = np.arange(nr)
    pairs, nn = [], np.empty((left.shape[0], k), dtype=np.int64)
    r2 = radius * radius
    for s in range(0, left.shape[0], BLOCK):
        d2 = _d2(left[s:s + BLOCK, 0], left[s:s + BLOCK, 1], right[:, 0], right[:, 1])
        li, ri = np.nonzero(d2 <= r2)
        pairs.append((li + s).astype(np.int64) * nr + ri)
        dist = np.sqrt(d2)
        part = np.argpartition(dist, k - 1, axis=1)[:, :k]
        kth = np.take_along_axis(dist, part, axis=1).max(axis=1)
        for i in range(dist.shape[0]):
            cand = np.nonzero(dist[i] <= kth[i])[0]
            order = np.lexsort((rid[cand], dist[i, cand]))
            nn[s + i] = cand[order[:k]]
    return np.sort(np.concatenate(pairs)), nn


def check_pairs(l_ids, r_ids, nr: int, want: np.ndarray) -> Optional[str]:
    got = np.sort(np.asarray(l_ids, dtype=np.int64) * nr + np.asarray(r_ids, dtype=np.int64))
    if got.shape != want.shape or not np.array_equal(got, want):
        return f"{got.size} pairs, expected {want.size} (or different pairs)"
    return None


def check_knn_join(l_ids, r_ids, nn: np.ndarray, sample: np.ndarray) -> Optional[str]:
    """Exact check on the sampled left ids, plus exactly k rows for
    every left row."""
    l_ids = np.asarray(l_ids, dtype=np.int64)
    r_ids = np.asarray(r_ids, dtype=np.int64)
    k = nn.shape[1]
    counts = np.bincount(l_ids, minlength=nn.shape[0])
    if l_ids.size != nn.size or counts.min() != k or counts.max() != k:
        return f"{l_ids.size} rows, expected exactly {k} per left row"
    order = np.lexsort((r_ids, l_ids))
    got = r_ids[order].reshape(-1, k)
    for i in sample:
        if set(got[i].tolist()) != set(nn[i].tolist()):
            return f"left id {int(i)}: neighbours {sorted(got[i].tolist())} != {sorted(nn[i].tolist())}"
    return None


def zknn_recall(l_ids, r_ids, nn: np.ndarray) -> float:
    nr = int(max(nn.max(), np.max(r_ids, initial=0))) + 1
    got = np.asarray(l_ids, dtype=np.int64) * nr + np.asarray(r_ids, dtype=np.int64)
    want = np.arange(nn.shape[0], dtype=np.int64)[:, None] * nr + nn
    return float(np.isin(want.ravel(), got).mean())


def check_zknn(l_ids, r_ids, nn: np.ndarray, min_recall: float) -> Optional[str]:
    l_ids = np.asarray(l_ids, dtype=np.int64)
    r_ids = np.asarray(r_ids, dtype=np.int64)
    k = nn.shape[1]
    counts = np.bincount(l_ids, minlength=nn.shape[0])
    if counts.min() != k or counts.max() != k:
        return f"{l_ids.size} rows, expected exactly {k} per left row"
    if np.unique(l_ids * (int(r_ids.max()) + 1) + r_ids).size != l_ids.size:
        return "duplicate (left, right) pairs"
    rec = zknn_recall(l_ids, r_ids, nn)
    if rec < min_recall:
        return f"recall {rec:.3f} below {min_recall}"
    return None


# -- iterative -------------------------------------------------------------

def dbscan_rows(pts: np.ndarray, eps: float, min_pts: int) -> list:
    """What ``clustering.dbscan`` (and ``dbscan_sql``) computes: core
    when the closed eps-ball holds ``min_pts`` points including itself;
    clusters are components of the core-core eps-graph labelled by their
    minimum id; a non-core point next to a core takes the minimum
    neighbouring cluster; the rest are noise. Rows ``(id, role, cluster)``."""
    n = pts.shape[0]
    a_parts, b_parts = [], []
    e2 = eps * eps
    for s in range(0, n, BLOCK):
        d2 = _d2(pts[s:s + BLOCK, 0], pts[s:s + BLOCK, 1], pts[:, 0], pts[:, 1])
        li, ri = np.nonzero(d2 <= e2)
        keep = (li + s) != ri
        a_parts.append(li[keep] + s)
        b_parts.append(ri[keep])
    a = np.concatenate(a_parts)
    b = np.concatenate(b_parts)
    core = (np.bincount(a, minlength=n) + 1) >= min_pts
    ce = core[a] & core[b]
    ca, cb = a[ce], b[ce]
    label = np.arange(n)
    while True:  # min-label propagation with pointer jumping
        prev = label.copy()
        np.minimum.at(label, ca, label[cb])
        label = label[label]
        if np.array_equal(label, prev):
            break
    border = np.full(n, -1)
    nb = ~core[a] & core[b]
    best = np.full(n, n)
    np.minimum.at(best, a[nb], label[b[nb]])
    border[best < n] = best[best < n]
    rows = []
    for i in range(n):
        if core[i]:
            rows.append((i, "core", int(label[i])))
        elif border[i] >= 0:
            rows.append((i, "border", int(border[i])))
        else:
            rows.append((i, "noise", None))
    return rows


def normalise_rows(rows) -> list:
    """Sorted tuples with NaN (a null that went through pandas) as None
    and integral floats as ints."""
    out = []
    for r in rows:
        t = []
        for v in r:
            if isinstance(v, float):
                v = None if v != v else (int(v) if v.is_integer() else v)
            elif hasattr(v, "item"):
                v = v.item()
            t.append(v)
        out.append(tuple(t))
    return sorted(out, key=repr)


def check_rows(got, want) -> Optional[str]:
    g, w = normalise_rows(got), normalise_rows(want)
    if g == w:
        return None
    gs, ws = set(g), set(w)
    return (f"{len(g)} rows, expected {len(w)}; "
            f"missing e.g. {sorted(ws - gs, key=repr)[:2]}, extra e.g. {sorted(gs - ws, key=repr)[:2]}")
