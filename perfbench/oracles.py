"""Independent single-machine oracles for every result the benchmark checks.

Pure numpy/pandas; nothing here imports the engine. Graphs are given as
dense vertex ids ``0..n-1`` plus ``(src, dst, weight)`` arrays, so the
oracles reproduce the engine's documented semantics without sharing any
of its code:

- PageRank: weighted power iteration, dangling mass spread uniformly,
  stop when the L1 change of a round drops below ``tol``;
- connected components: union-find, label = smallest vid of the component;
- label propagation: synchronous rounds over the deduplicated undirected
  neighbour sets, most frequent neighbour label wins, ties to the smallest
  label, early exit when nothing changes;
- triangles: per-vertex counts from the degree-oriented wedges, plus the
  wedge count itself (the exact work the wedge join must do).
"""

from __future__ import annotations

import numpy as np
import pandas as pd


def pagerank(
    n: int,
    src: np.ndarray,
    dst: np.ndarray,
    weight: np.ndarray,
    alpha: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 200,
    init: np.ndarray | None = None,
) -> tuple[np.ndarray, int]:
    """Return ``(ranks, rounds)``. ``init`` is a warm-start vector; missing
    entries are NaN and get ``1/n``; the vector is renormalized to sum 1."""
    wout = np.bincount(src, weights=weight, minlength=n)
    wnorm = weight / wout[src]
    dangling = wout == 0
    if init is None:
        r = np.full(n, 1.0 / n)
    else:
        r = np.where(np.isnan(init), 1.0 / n, init)
        r = r / r.sum()
    teleport = (1.0 - alpha) / n
    rounds = 0
    while rounds < max_iter:
        d_mass = r[dangling].sum()
        s = np.bincount(dst, weights=r[src] * wnorm, minlength=n)
        new = teleport + alpha * (s + d_mass / n)
        l1 = np.abs(new - r).sum()
        r = new
        rounds += 1
        if l1 < tol:
            break
    return r, rounds


def components(n: int, src: np.ndarray, dst: np.ndarray) -> np.ndarray:
    """Union-find with path halving; returns the min vid of each vertex's
    component."""
    parent = list(range(n))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(src.tolist(), dst.tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            # keep the smaller root so every root is its component's min
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    return np.array([find(x) for x in range(n)], dtype=np.int64)


def undirected_pairs(src: np.ndarray, dst: np.ndarray) -> np.ndarray:
    """Deduplicated symmetric closure as an ``(m, 2)`` array, no self-loops."""
    both = np.concatenate([np.stack([src, dst], 1), np.stack([dst, src], 1)])
    both = both[both[:, 0] != both[:, 1]]
    return np.unique(both, axis=0)


def label_propagation(
    n: int, src: np.ndarray, dst: np.ndarray, max_iter: int = 10
) -> tuple[np.ndarray, int]:
    """Return ``(labels, rounds)``."""
    und = undirected_pairs(src, dst)
    labels = np.arange(n, dtype=np.int64)
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        votes = pd.DataFrame({"dst": und[:, 1], "label": labels[und[:, 0]]})
        counts = votes.groupby(["dst", "label"]).size().reset_index(name="n")
        winner = counts.sort_values(
            ["dst", "n", "label"], ascending=[True, False, True]
        ).drop_duplicates("dst")
        new = labels.copy()
        new[winner["dst"].to_numpy()] = winner["label"].to_numpy()
        changed = int((new != labels).sum())
        labels = new
        if changed == 0:
            break
    return labels, rounds


def triangles(n: int, src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, int]:
    """Return ``(per-vertex triangle counts, oriented wedge count)``.

    Edges are oriented from the lower to the higher ``(degree, vid)``
    endpoint; a wedge is a pair of out-edges of one vertex, and a triangle
    is a wedge whose far ends are adjacent."""
    und = undirected_pairs(src, dst)
    canon = und[und[:, 0] < und[:, 1]]
    deg = np.bincount(canon.ravel(), minlength=n)
    a, b = canon[:, 0], canon[:, 1]
    a_first = (deg[a] < deg[b]) | ((deg[a] == deg[b]) & (a < b))
    u = np.where(a_first, a, b)
    v = np.where(a_first, b, a)
    order = np.argsort(u, kind="stable")
    u, v = u[order], v[order]
    starts = np.searchsorted(u, np.arange(n + 1))
    out_deg = np.diff(starts)
    wedges = int((out_deg * (out_deg - 1) // 2).sum())
    edge_keys = np.sort(canon[:, 0] * n + canon[:, 1])
    counts = np.zeros(n, dtype=np.int64)
    for x in np.flatnonzero(out_deg >= 2):
        nbrs = v[starts[x] : starts[x + 1]]
        i, j = np.triu_indices(len(nbrs), 1)
        p, q = nbrs[i], nbrs[j]
        keys = np.minimum(p, q) * n + np.maximum(p, q)
        pos = np.searchsorted(edge_keys, keys)
        pos[pos == len(edge_keys)] = 0
        closed = edge_keys[pos] == keys
        k = int(closed.sum())
        if k:
            counts[x] += k
            np.add.at(counts, p[closed], 1)
            np.add.at(counts, q[closed], 1)
    return counts, wedges
