"""Independent numpy references for the benchmarked algorithms.

Each reference re-derives the engine's documented semantics from the raw
edge list, sharing no code with ``chaos_spark``:

- PageRank: deduplicated directed edges (self-loops kept), rank0 = 1/n,
  ``rank' = (1-d)/n + d * (contrib + dangling/n)``, stop after the first
  superstep whose max |delta rank| < tol (tol=0 runs exactly max_iters).
- CC: undirected closure, label = minimum vertex id of the component,
  computed by a vectorized union-find (hook to the smaller root, then
  compress paths).
- LPA: synchronous, undirected closure with self-loops kept, each vertex
  takes the most frequent incoming label with ties to the smallest label,
  early stop when no label changes.
- Triangles: exact count on the undirected, self-loop-free graph.

The results are plain arrays indexed by the sorted vertex ids, so the
benchmark can compare them with an engine result in one vectorized step.
"""

from __future__ import annotations

import numpy as np


def _index(src: np.ndarray, dst: np.ndarray):
    """Sorted vertex ids and the edge endpoints as positions into them."""
    ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    return ids, inv[: len(src)], inv[len(src):]


def _dedup(u: np.ndarray, v: np.ndarray, n: int):
    key = np.unique(u.astype(np.int64) * n + v)
    return key // n, key % n


def _undirected(u: np.ndarray, v: np.ndarray, n: int):
    return _dedup(np.concatenate([u, v]), np.concatenate([v, u]), n)


def pagerank(src, dst, damping=0.85, tol=1e-6, max_iters=100):
    """Returns ``(ids, ranks, supersteps)``."""
    ids, u, v = _index(np.asarray(src), np.asarray(dst))
    n = len(ids)
    u, v = _dedup(u, v, n)
    out_deg = np.bincount(u, minlength=n).astype(np.float64)
    dangling = out_deg == 0
    inv_deg = np.divide(1.0, out_deg, out=np.zeros(n), where=~dangling)
    rank = np.full(n, 1.0 / n)
    steps = 0
    while steps < max_iters:
        contrib = np.bincount(v, weights=(rank * inv_deg)[u], minlength=n)
        new = (1.0 - damping) / n + damping * (contrib + rank[dangling].sum() / n)
        delta = np.max(np.abs(new - rank))
        rank = new
        steps += 1
        if delta < tol:
            break
    return ids, rank, steps


def connected_components(src, dst):
    """Returns ``(ids, labels)`` with label = min id of the component."""
    ids, u, v = _index(np.asarray(src), np.asarray(dst))
    parent = np.arange(len(ids))
    while True:
        pu, pv = parent[u], parent[v]
        if np.array_equal(pu, pv):
            break
        np.minimum.at(parent, np.maximum(pu, pv), np.minimum(pu, pv))
        while True:
            grand = parent[parent]
            if np.array_equal(grand, parent):
                break
            parent = grand
    return ids, ids[parent]


def label_propagation(src, dst, max_iters=10):
    """Returns ``(ids, labels, supersteps)``."""
    ids, u, v = _index(np.asarray(src), np.asarray(dst))
    n = len(ids)
    s, d = _undirected(u, v, n)
    label = np.arange(n)  # positions; ids are sorted, so min label = min id
    steps = 0
    while steps < max_iters:
        lab = label[s]
        order = np.lexsort((lab, d))
        ds, ls = d[order], lab[order]
        first = np.ones(len(ds), dtype=bool)
        first[1:] = (ds[1:] != ds[:-1]) | (ls[1:] != ls[:-1])
        starts = np.flatnonzero(first)
        cnt = np.diff(np.append(starts, len(ds)))
        gd, gl = ds[starts], ls[starts]
        # per destination: highest count, then smallest label
        best = np.lexsort((gl, -cnt, gd))
        head = np.ones(len(best), dtype=bool)
        head[1:] = gd[best][1:] != gd[best][:-1]
        new = label.copy()
        new[gd[best][head]] = gl[best][head]
        steps += 1
        changed = not np.array_equal(new, label)
        label = new
        if not changed:
            break
    return ids, ids[label], steps


def triangle_count(src, dst) -> int:
    """Exact triangle count: orient each undirected edge from the lower
    to the higher (degree, id) endpoint, then intersect out-lists."""
    ids, u, v = _index(np.asarray(src), np.asarray(dst))
    n = len(ids)
    keep = u != v
    a, b = _dedup(np.minimum(u[keep], v[keep]), np.maximum(u[keep], v[keep]), n)
    deg = np.bincount(np.concatenate([a, b]), minlength=n)
    rank = np.empty(n, dtype=np.int64)
    rank[np.lexsort((np.arange(n), deg))] = np.arange(n)
    lo = np.where(rank[a] < rank[b], a, b)
    hi = np.where(rank[a] < rank[b], b, a)
    order = np.lexsort((hi, lo))
    lo, hi = lo[order], hi[order]
    start = np.searchsorted(lo, np.arange(n + 1))
    edge_keys = lo * n + hi  # sorted: lo major, hi minor
    # wedges (x -> y, x -> z) with y before z in x's out-list, generated
    # in chunks of out-list positions; a wedge is closed when the
    # oriented edge between y and z exists.
    out_deg = np.diff(start)
    later = out_deg[lo] - 1 - (np.arange(len(lo)) - start[lo])
    total = 0
    bounds = np.searchsorted(np.cumsum(later), np.arange(0, later.sum(), 4_000_000))
    for p0, p1 in zip(bounds, np.append(bounds[1:], len(lo))):
        cnt = later[p0:p1]
        ypos = np.repeat(np.arange(p0, p1), cnt)
        first = np.repeat(np.cumsum(cnt) - cnt, cnt)
        zpos = ypos + 1 + (np.arange(len(ypos)) - first)
        y, z = hi[ypos], hi[zpos]
        key = np.where(rank[y] < rank[z], y * n + z, z * n + y)
        pos = np.searchsorted(edge_keys, key)
        pos[pos == len(edge_keys)] = 0
        total += int(np.count_nonzero(edge_keys[pos] == key))
    return total
