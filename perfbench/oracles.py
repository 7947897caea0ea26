"""Reference computations made apart from the engine (numpy/networkx).

Each takes a raw ``(src, dst)`` edge frame with the engine's vertex
semantics: the vertex set is every endpoint of the raw edges (a vertex
whose only edge is a self-loop still counts), and the kernels run on the
deduped, self-loop-free edges.
"""

from __future__ import annotations

from collections import Counter

import networkx as nx
import numpy as np
import pandas as pd


class Indexed:
    """Dense 0..n-1 indexing of a raw edge list's vertices."""

    def __init__(self, raw: pd.DataFrame) -> None:
        self.vids = np.unique(np.concatenate([raw.src.to_numpy(), raw.dst.to_numpy()]))
        e = raw[raw.src != raw.dst].drop_duplicates()
        self.s = np.searchsorted(self.vids, e.src.to_numpy())
        self.d = np.searchsorted(self.vids, e.dst.to_numpy())
        self.n = len(self.vids)


def pagerank(g: Indexed, alpha: float = 0.85, tol: float = 1e-6,
             max_iter: int = 1000) -> tuple[np.ndarray, int]:
    """Damped power iteration with dangling mass spread uniformly,
    started at 1/n and stopped at the first ``max|Δ| < tol``."""
    n = g.n
    out = np.bincount(g.s, minlength=n).astype(np.float64)
    dangling = out == 0
    rank = np.full(n, 1.0 / n)
    for it in range(1, max_iter + 1):
        w = np.where(dangling, 0.0, rank / np.maximum(out, 1.0))
        new = (1.0 - alpha) / n + alpha * (
            np.bincount(g.d, weights=w[g.s], minlength=n) + rank[dangling].sum() / n
        )
        delta = np.abs(new - rank).max()
        rank = new
        if delta < tol:
            return rank, it
    raise RuntimeError("reference PageRank did not converge")


def components(g: Indexed) -> np.ndarray:
    """Union-find; label = minimum vertex id of the component."""
    parent = np.arange(g.n)

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(g.s.tolist(), g.d.tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)  # dense index order == vid order
    roots = np.array([find(x) for x in range(g.n)])
    return g.vids[roots]


def mode_label_propagation(g: Indexed, rounds: int) -> np.ndarray:
    """Synchronous mode-LP over the symmetric view: each vertex takes its
    neighbours' most frequent label, the smallest on ties; vertices with
    no neighbour keep theirs; stops early when nothing changes."""
    nbrs: list[set[int]] = [set() for _ in range(g.n)]
    for a, b in zip(g.s.tolist(), g.d.tolist()):
        nbrs[a].add(b)
        nbrs[b].add(a)
    label = g.vids.copy()
    for _ in range(rounds):
        new = label.copy()
        for v in range(g.n):
            if nbrs[v]:
                cnt = Counter(label[u] for u in nbrs[v])
                top = max(cnt.values())
                new[v] = min(lab for lab, c in cnt.items() if c == top)
        changed = bool((new != label).any())
        label = new
        if not changed:
            break
    return label


def triangles(g: Indexed) -> int:
    nxg = nx.Graph()
    nxg.add_edges_from(zip(g.s.tolist(), g.d.tolist()))
    return sum(nx.triangles(nxg).values()) // 3


def as_series(vids: np.ndarray, values: np.ndarray) -> pd.Series:
    return pd.Series(values, index=vids).sort_index()
