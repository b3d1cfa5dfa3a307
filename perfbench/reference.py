"""Reference answers computed without Spark: numpy power iteration, min-label
and label-propagation sweeps, and a DuckDB triangle count.

Each function mirrors the documented semantics of the engine kernel it
checks (same stopping rule, same tie-break), so the answers agree to
round-off and the superstep counts agree exactly.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd


def build_graph(src: np.ndarray, dst: np.ndarray):
    """numpy twin of ``sources.graphs.build_graph``: multiplicity weights,
    no loops, A + A^T. Returns (src, dst, w) sorted by (src, dst)."""
    keep = src != dst
    src, dst = src[keep].astype(np.int64), dst[keep].astype(np.int64)
    span = int(max(src.max(), dst.max())) + 1
    key = np.concatenate([src * span + dst, dst * span + src])
    uniq, w = np.unique(key, return_counts=True)
    return uniq // span, uniq % span, w.astype(np.float64)


class Graph:
    """Symmetric weighted edge list with vertices renumbered 0..n-1."""

    def __init__(self, src: np.ndarray, dst: np.ndarray, w: np.ndarray):
        self.ids = np.unique(np.concatenate([src, dst]))
        self.s = np.searchsorted(self.ids, src)
        self.d = np.searchsorted(self.ids, dst)
        self.w = np.asarray(w, dtype=np.float64)
        self.n = len(self.ids)
        self.nnz = len(self.s)

    def pagerank(self, alpha=0.85, tol=None, num_iters=None, max_iter=100):
        """-> (ranks, supersteps). ``algorithms.pagerank`` on a graph without
        dangling vertices: x0 = 1/n, L-inf stop below ``tol``."""
        outdeg = np.bincount(self.s, weights=self.w, minlength=self.n)
        wn = self.w / outdeg[self.s]
        x = np.full(self.n, 1.0 / self.n)
        reset = (1.0 - alpha) / self.n + alpha * 0.0 / self.n
        steps = 0
        for steps in range(1, (num_iters or max_iter) + 1):
            new = reset + alpha * np.bincount(self.d, weights=wn * x[self.s], minlength=self.n)
            delta = np.abs(new - x).max()
            x = new
            if num_iters is None and delta < tol:
                break
        return x, steps

    def cc_minlabel(self):
        """-> (labels, supersteps); the last superstep is the one that
        changes nothing, as in ``algorithms.cc.cc_minlabel``."""
        lab = self.ids.copy()
        steps = 0
        while True:
            steps += 1
            mn = np.full(self.n, np.iinfo(np.int64).max)
            np.minimum.at(mn, self.d, lab[self.s])
            new = np.minimum(lab, mn)
            changed = int((new < lab).sum())
            lab = new
            if changed == 0:
                return lab, steps

    def label_propagation(self, num_iters=5):
        """Synchronous LP: max summed weight, ties to the smallest label."""
        lab = self.ids.copy()
        for _ in range(num_iters):
            sc = (
                pd.DataFrame({"d": self.d, "l": lab[self.s], "w": self.w})
                .groupby(["d", "l"], as_index=False)["w"].sum()
                .sort_values(["d", "w", "l"], ascending=[True, False, True])
                .drop_duplicates("d")
            )
            new = lab.copy()
            new[sc["d"].to_numpy()] = sc["l"].to_numpy()
            lab = new
        return lab

    def triangles(self) -> int:
        a, b = self.ids[self.s], self.ids[self.d]
        und = pd.DataFrame({"a": a[a < b], "b": b[a < b]})
        con = duckdb.connect()
        try:
            con.register("e", und)
            return int(
                con.execute(
                    "SELECT count(*) FROM e x JOIN e y ON x.b = y.a "
                    "JOIN e z ON z.a = x.a AND z.b = y.b"
                ).fetchone()[0]
            )
        finally:
            con.close()


def answers(g: Graph, pr_kwargs: dict, lp_iters: int) -> dict:
    """Every kernel's reference answer for one graph, as numpy/int values."""
    pr, pr_steps = g.pagerank(**pr_kwargs)
    cc, cc_steps = g.cc_minlabel()
    return {
        "ids": g.ids,
        "nnz": g.nnz,
        "pagerank": pr,
        "pagerank_steps": pr_steps,
        "cc": cc,
        "cc_steps": cc_steps,
        "labelprop": g.label_propagation(lp_iters),
        "triangles": g.triangles(),
    }


def save(path: str, ans: dict) -> None:
    np.savez(path, **{k: np.asarray(v) for k, v in ans.items()})


def load(path: str) -> dict:
    with np.load(path) as z:
        return {k: (z[k].item() if z[k].ndim == 0 else z[k]) for k in z.files}
