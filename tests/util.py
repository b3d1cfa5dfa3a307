"""numpy / pure-python oracles (scipy is unavailable in this environment).

Plays the role of the reference's golden files ("CControl",
/root/reference/ReleaseTests/MultTest.cpp:108-143).
"""

from __future__ import annotations

import numpy as np


def edges_to_dense(rows, n: int) -> np.ndarray:
    """rows: iterable of (src, dst, w) -> dense A with A[src, dst] = w."""
    a = np.zeros((n, n))
    for s, d, w in rows:
        a[int(s), int(d)] += w
    return a


def collect_edges(df):
    return [(r["src"], r["dst"], r["w"]) for r in df.collect()]


def collect_vec(df, key="id", val="val"):
    return {r[key]: r[val] for r in df.collect()}


def union_find_components(edges, vertices):
    """-> {vertex: min vertex id of its component} (canonical labels)."""
    parent = {v: v for v in vertices}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, d, _ in edges:
        rs, rd = find(s), find(d)
        if rs != rd:
            parent[max(rs, rd)] = min(rs, rd)
    return {v: find(v) for v in vertices}


def pagerank_dense(
    a: np.ndarray, alpha: float = 0.85, iters: int = 200, seeds=None
) -> np.ndarray:
    """Power iteration with dangling redistribution; a[src, dst] weights.
    Restart and dangling mass go to p, uniform over ``seeds`` (personalized)
    or over every vertex; the iteration starts at p."""
    n = a.shape[0]
    out = a.sum(axis=1)
    p = np.zeros_like(a)
    nz = out > 0
    p[nz] = a[nz] / out[nz, None]
    if seeds is None:
        restart = np.full(n, 1.0 / n)
    else:
        restart = np.zeros(n)
        restart[list(seeds)] = 1.0 / len(seeds)
    x = restart.copy()
    for _ in range(iters):
        dang = x[~nz].sum()
        x = (1 - alpha) * restart + alpha * (p.T @ x + dang * restart)
    return x


def bfs_depths(edges, root):
    """Plain python BFS over directed edges; -> {vertex: depth}."""
    adj = {}
    for s, d, _ in edges:
        adj.setdefault(s, []).append(d)
    depth = {root: 0}
    frontier = [root]
    while frontier:
        nxt = []
        for v in frontier:
            for u in adj.get(v, []):
                if u not in depth:
                    depth[u] = depth[v] + 1
                    nxt.append(u)
        frontier = nxt
    return depth


def triangle_count_dense(edges, n) -> int:
    a = (edges_to_dense(edges, n) != 0).astype(np.int64)
    a = ((a + a.T) != 0).astype(np.int64)
    np.fill_diagonal(a, 0)
    return int(np.trace(a @ a @ a) // 6)


def brandes_bc(edges, sources):
    """Pure-python Brandes betweenness (directed, unweighted); edges are
    (src, dst[, w]) tuples; returns {vertex: bc} over all endpoint vertices."""
    adj = {}
    verts = set()
    for e in edges:
        s, d = e[0], e[1]
        adj.setdefault(s, set()).add(d)
        verts.add(s)
        verts.add(d)
    bc = {v: 0.0 for v in verts}
    for s in sources:
        # forward BFS
        dist = {s: 0}
        sigma = {s: 1.0}
        order = [s]
        frontier = [s]
        while frontier:
            nxt = []
            for v in frontier:
                for u in sorted(adj.get(v, ())):
                    if u not in dist:
                        dist[u] = dist[v] + 1
                        sigma[u] = 0.0
                        nxt.append(u)
                    if dist[u] == dist[v] + 1:
                        sigma[u] += sigma[v]
            order.extend(nxt)
            frontier = nxt
        # backward accumulation
        delta = {v: 0.0 for v in order}
        for v in reversed(order):
            for u in adj.get(v, ()):
                if u in dist and dist[u] == dist[v] + 1:
                    delta[v] += sigma[v] / sigma[u] * (1.0 + delta[u])
            if v != s:
                bc[v] += delta[v]
    return bc


def hopcroft_karp(pairs):
    """Maximum-cardinality bipartite matching size, pure python.

    ``pairs``: iterable of (src, dst). Classic Hopcroft–Karp with BFS
    layering + layered DFS augmentation; returns the matching cardinality.
    """
    adj = {}
    for s, d in pairs:
        adj.setdefault(s, set()).add(d)
    match_s, match_d = {}, {}
    INF = float("inf")

    def bfs():
        from collections import deque

        dist = {}
        q = deque()
        for s in adj:
            if s not in match_s:
                dist[s] = 0
                q.append(s)
        found = False
        while q:
            s = q.popleft()
            for d in adj[s]:
                t = match_d.get(d)
                if t is None:
                    found = True
                elif t not in dist:
                    dist[t] = dist[s] + 1
                    q.append(t)
        return found, dist

    def dfs(s, dist):
        for d in adj[s]:
            t = match_d.get(d)
            if t is None or (dist.get(t) == dist[s] + 1 and dfs(t, dist)):
                match_s[s] = d
                match_d[d] = s
                return True
        dist[s] = INF
        return False

    while True:
        found, dist = bfs()
        if not found:
            break
        for s in list(adj):
            if s not in match_s:
                dfs(s, dist)
    return len(match_s)


def max_weight_matching_brute(wpairs):
    """Optimal bipartite matching WEIGHT by exhaustive recursion (small
    fixtures only). ``wpairs``: iterable of (src, dst, w)."""
    srcs = sorted({s for s, _, _ in wpairs})
    byid = {}
    for s, d, w in wpairs:
        byid.setdefault(s, []).append((d, w))

    def rec(i, used):
        if i == len(srcs):
            return 0.0
        best = rec(i + 1, used)  # leave srcs[i] unmatched
        for d, w in byid.get(srcs[i], []):
            if d not in used:
                best = max(best, w + rec(i + 1, used | {d}))
        return best

    return rec(0, frozenset())
