"""Seeded input generators for the benchmark.

Every input is a pure function of the workload seed: the same seed gives
byte-identical Parquet files. Inputs are built here with numpy and
pyarrow, in the benchmark's own process; the engine only ever sees the
written tables.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EXTENT = 1000.0
#: spread rank of mixture cluster i (fixed: the same for every seed)
SD_RANK = np.array([5, 0, 9, 3, 11, 7, 1, 10, 4, 8, 2, 6])
BACKGROUND = 0.2    # share of points drawn uniformly over the whole extent
COMMUNITY = 40      # planted-partition community size
DEG_IN = 5          # edges per node inside its community
DEG_OUT = 1         # edges per node to any node


def clustered_points(rng: np.random.Generator, n: int) -> np.ndarray:
    """``n`` 2-D points: a Gaussian mixture plus a uniform background share
    (``BACKGROUND``) over the whole extent. The mixture's density profile is the same for
    every seed: cluster ``i`` has weight ``0.75**i`` and a fixed spread
    from a log-spaced ladder. The seed decides which cell of a 4 x 3 grid
    each cluster sits in, jitters the centres and draws the points, so
    seeds differ in where the dense clusters are, not in how skewed the
    data is."""
    n_bg = int(n * BACKGROUND)
    n_mix = n - n_bg
    gx, gy = np.meshgrid((np.arange(4) + 0.5) / 4, (np.arange(3) + 0.5) / 3)
    grid = np.column_stack([gx.ravel(), gy.ravel()])
    clusters = len(SD_RANK)
    cells = grid[rng.permutation(clusters)]
    jitter = rng.uniform(-0.02, 0.02, size=cells.shape)
    centers = EXTENT * (0.1 + 0.8 * (cells + jitter))
    sds = EXTENT * np.geomspace(0.004, 0.04, clusters)[SD_RANK]
    weights = 0.75 ** np.arange(clusters)
    label = rng.choice(clusters, size=n_mix, p=weights / weights.sum())
    mix = centers[label] + rng.standard_normal((n_mix, 2)) * sds[label, None]
    bg = rng.uniform(0.0, EXTENT, size=(n_bg, 2))
    pts = np.vstack([mix, bg])
    return pts[rng.permutation(n)]


def planted_graph(rng: np.random.Generator, n: int) -> np.ndarray:
    """Planted-partition edge list ``(m, 2)`` over nodes ``0..n-1`` in
    communities of ``COMMUNITY`` nodes, plus the adversarial shapes:
    small disconnected components (pairs and triangles), nodes whose
    only edge is a self-loop, self-loops on ordinary nodes, and
    duplicate and reversed copies of ordinary edges."""
    src = np.repeat(np.arange(n, dtype=np.int64), DEG_IN + DEG_OUT)
    base = (src // COMMUNITY) * COMMUNITY
    inside = base + rng.integers(0, COMMUNITY, size=src.size)
    anywhere = rng.integers(0, n, size=src.size)
    is_in = np.tile(np.arange(DEG_IN + DEG_OUT) < DEG_IN, n)
    dst = np.where(is_in, np.minimum(inside, n - 1), anywhere)
    edges = [np.column_stack([src, dst])]
    nxt = n
    for size, count in ((2, 12), (3, 8)):       # pairs and triangles
        for _ in range(count):
            ids = np.arange(nxt, nxt + size, dtype=np.int64)
            nxt += size
            ring = np.column_stack([ids, np.roll(ids, -1)])
            edges.append(ring[:1] if size == 2 else ring)
    loners = np.arange(nxt, nxt + 10, dtype=np.int64)  # self-loop-only nodes
    edges.append(np.column_stack([loners, loners]))
    core = edges[0]
    pick = rng.choice(core.shape[0], size=core.shape[0] // 20, replace=False)
    edges.append(core[pick])                    # duplicates
    pick = rng.choice(core.shape[0], size=core.shape[0] // 20, replace=False)
    edges.append(core[pick][:, ::-1])           # reversed copies
    loops = rng.choice(n, size=max(1, n // 200), replace=False).astype(np.int64)
    edges.append(np.column_stack([loops, loops]))
    out = np.vstack(edges)
    return out[rng.permutation(out.shape[0])]


def write_points(path: str, pts: np.ndarray) -> None:
    table = pa.table({
        "id": np.arange(pts.shape[0], dtype=np.int64),
        "x": np.ascontiguousarray(pts[:, 0]),
        "y": np.ascontiguousarray(pts[:, 1]),
    })
    pq.write_table(table, path, compression="snappy")


def write_edges(path: str, edges: np.ndarray) -> None:
    table = pa.table({"src": np.ascontiguousarray(edges[:, 0]),
                      "dst": np.ascontiguousarray(edges[:, 1])})
    pq.write_table(table, path, compression="snappy")
