"""The three workloads: seeded inputs written to Parquet, the graph built
from a Parquet scan through the engine's sources layer, and the reference
answers each run is checked against.

* ``rmat_skewed``: Graph500 R-MAT (.57/.19/.19, edgefactor 16), hub-skewed,
  few supersteps per kernel.
* ``lattice_longpath``: an open 2D grid whose vertex ids are a seeded
  permutation with the smallest id pinned to a corner, so min-label CC
  needs exactly ``rows + cols - 1`` supersteps on every seed.
* ``corpus_checkpointed``: a seeded ``(repo, path, commit, lang, content)``
  file table with Zipf repo sizes, ingested by ``build_vertices`` /
  ``build_edges_cooccurrence``; CC and PageRank checkpoint every superstep.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

from combblas_spark.sources.corpus import build_edges_cooccurrence, build_vertices
from combblas_spark.sources.graphs import build_graph
from combblas_spark.sources.rmat import rmat_batch

from perfbench import reference

LP_ITERS = 5


@dataclass
class Built:
    graph: DataFrame  # persisted symmetric (src, dst, w)
    nnz: int


def _cache(df: DataFrame) -> Built:
    g = df.select("src", "dst", "w").persist()
    return Built(g, g.count())


@dataclass(frozen=True)
class Workload:
    """``write_input`` makes the seeded raw table without Spark; ``ingest``
    turns it into the engine's edge table, written as Parquet; ``load`` is
    the set-up path that scans and caches the graph the kernels run on."""

    name: str
    pr_kwargs: dict
    checkpointed: bool = False
    params: dict = field(default_factory=dict)

    def derive(self, spark: SparkSession, d: str) -> bool:
        """Untimed per-seed preparation that needs Spark; True if it ran
        the ingest path (which then needs no warm-up)."""
        return False

    def check_ingest(self, spark: SparkSession, out: str, extra, ref: dict) -> bool:
        return spark.read.parquet(out).count() == ref["nnz"]


@dataclass(frozen=True)
class EdgeWorkload(Workload):
    """An input that is a raw (src, dst) pair table."""

    def pairs(self, seed: int) -> tuple[np.ndarray, np.ndarray]:
        raise NotImplementedError

    def write_input(self, seed: int, d: str) -> None:
        src, dst = self.pairs(seed)
        pq.write_table(pa.table({"src": src, "dst": dst}), os.path.join(d, "pairs.parquet"))

    def _graph(self, spark: SparkSession, d: str) -> DataFrame:
        return build_graph(spark.read.parquet(os.path.join(d, "pairs.parquet")))

    def load(self, spark: SparkSession, d: str) -> Built:
        return _cache(self._graph(spark, d))

    def ingest(self, spark: SparkSession, d: str, out: str):
        t0 = time.perf_counter()
        self._graph(spark, d).write.parquet(out)
        return {"build_graph_s": time.perf_counter() - t0}, None

    def reference(self, d: str) -> dict:
        t = pq.read_table(os.path.join(d, "pairs.parquet"))
        src, dst, w = reference.build_graph(
            t["src"].to_numpy(), t["dst"].to_numpy()
        )
        return reference.answers(reference.Graph(src, dst, w), self.pr_kwargs, LP_ITERS)


@dataclass(frozen=True)
class RmatWorkload(EdgeWorkload):
    """One R-MAT edge set (``graph_seed``) under a vertex relabeling drawn
    from the run's seed, as Graph500 permutes vertex labels. The structure,
    and so every superstep count, is the same on every seed; ids, their
    hash placement and the row order are not."""

    def pairs(self, seed):
        scale, ef = self.params["scale"], self.params["edgefactor"]
        src, dst = rmat_batch(
            np.arange(ef << scale, dtype=np.uint64), scale, self.params["graph_seed"]
        )
        rng = np.random.default_rng(seed)
        perm = rng.permutation(1 << scale)
        # Min-label CC spreads each component's smallest id; its superstep
        # count is that vertex's eccentricity. Handing the smallest new id
        # of every component to the same vertex on every seed keeps it fixed.
        g = reference.Graph(*reference.build_graph(src.astype(np.int64), dst.astype(np.int64)))
        comp = pd.DataFrame({"v": g.ids, "c": g.cc_minlabel()[0], "p": perm[g.ids]})
        first = comp.loc[comp.groupby("c")["p"].idxmin(), ["c", "v"]].to_numpy()
        anchor, holder = first[:, 0], first[:, 1]
        perm[anchor], perm[holder] = perm[holder], perm[anchor].copy()
        order = rng.permutation(len(src))
        return perm[src[order]], perm[dst[order]]


@dataclass(frozen=True)
class LatticeWorkload(EdgeWorkload):
    def pairs(self, seed):
        rows, cols = self.params["rows"], self.params["cols"]
        rng = np.random.default_rng(seed)
        ids = rng.permutation(rows * cols).astype(np.int64)
        # the smallest id sits in a corner: min-label CC then converges in
        # rows + cols - 1 supersteps whatever the rest of the permutation
        ids[ids == 0], ids[0] = ids[0], 0
        grid = ids.reshape(rows, cols)
        src = np.concatenate([grid[:, :-1].ravel(), grid[:-1, :].ravel()])
        dst = np.concatenate([grid[:, 1:].ravel(), grid[1:, :].ravel()])
        order = rng.permutation(len(src))
        return src[order], dst[order]


@dataclass(frozen=True)
class CorpusWorkload(Workload):
    """Zipf repo sizes (fixed by ``params``); the seed draws the names,
    paths, contents and therefore the vertex ids and hub-split salts.
    The kernels run on the edge table the ingest job wrote, scanned from
    Parquet, as a job over the corpus's edge table would."""

    def sizes(self) -> list[int]:
        p = self.params
        return [max(p["min_files"], round(p["top_files"] / (i + 1))) for i in range(p["repos"])]

    def files(self, seed: int) -> dict:
        rng = np.random.default_rng(seed)
        langs = ["py", "c", "cpp", "java", "go", "rs"]
        cols = {k: [] for k in ("repo", "path", "commit", "lang", "content")}
        for r, size in zip(rng.permutation(self.params["repos"]), self.sizes()):
            repo = f"org{r % 37}/repo{r}-{seed}"
            commit = hashlib.sha1(f"{repo}@{seed}".encode()).hexdigest()
            salts = rng.integers(0, 1 << 40, size)
            for j in range(size):
                lang = langs[int(salts[j]) % len(langs)]
                cols["repo"].append(repo)
                cols["path"].append(f"src/m{j % 7}/f{j}_{int(salts[j]):x}.{lang}")
                cols["commit"].append(commit)
                cols["lang"].append(lang)
                cols["content"].append(
                    f"# {repo}\ndef f{j}(x):\n    return x * {int(salts[j]) % 9973}\n"
                )
        return cols

    def write_input(self, seed: int, d: str) -> None:
        pq.write_table(pa.table(self.files(seed)), os.path.join(d, "files.parquet"))

    def ingest(self, spark: SparkSession, d: str, out: str):
        files = spark.read.parquet(os.path.join(d, "files.parquet"))
        t0 = time.perf_counter()
        v = build_vertices(files).persist()
        v.count()
        t1 = time.perf_counter()
        build_edges_cooccurrence(
            files, v,
            hub_split=self.params["hub_split"],
            all_pairs_max=self.params["all_pairs_max"],
        ).write.parquet(out)
        t2 = time.perf_counter()
        return {"build_vertices_s": t1 - t0, "build_edges_s": t2 - t1}, v

    def derive(self, spark: SparkSession, d: str) -> bool:
        """Writes the engine's edge table for the kernels and the reference.
        It is the same on every run of a seed, but is rewritten on every
        run, so that set-up always starts from a JVM that has run ingest."""
        out = os.path.join(d, "edges.parquet")
        shutil.rmtree(out, ignore_errors=True)
        _, v = self.ingest(spark, d, out)
        v.unpersist()
        return True

    def load(self, spark: SparkSession, d: str) -> Built:
        return _cache(spark.read.parquet(os.path.join(d, "edges.parquet")))

    def expected_vertices(self, d: str):
        """(keys, shas, repos) in dense-id order: ids rank repo/path keys."""
        t = pq.read_table(os.path.join(d, "files.parquet")).to_pydict()
        rows = sorted(
            (f"{r}/{p}", hashlib.sha256(c.encode("utf-8")).hexdigest(), r)
            for r, p, c in zip(t["repo"], t["path"], t["content"])
        )
        return [np.array(col) for col in zip(*rows)]

    def reference(self, d: str) -> dict:
        """Vertex ids/shas, edge count, components and triangles come from
        the generated table alone. PageRank and LP depend on the hub-split
        salts, so they iterate over the engine's edges once those pass the
        independent checks."""
        keys, shas, repos = self.expected_vertices(d)
        p = self.params
        small = [s for s in self.sizes() if s <= p["all_pairs_max"]]
        big = [s for s in self.sizes() if s > p["all_pairs_max"]]
        nnz = sum(s * (s - 1) for s in small) + sum(2 * (s - 1) for s in big)
        # component label = smallest id in the repo
        first = {}
        for i, r in enumerate(repos):
            first.setdefault(r, i)
        cc = np.array([first[r] for r in repos], dtype=np.int64)
        tri = sum(s * (s - 1) * (s - 2) // 6 for s in small)

        e = pq.read_table(os.path.join(d, "edges.parquet")).to_pandas()
        src, dst = e["src"].to_numpy(), e["dst"].to_numpy()
        if len(e) != nnz or not (repos[src] == repos[dst]).all():
            raise ValueError(f"{self.name}: ingest built {len(e)} edges, expected {nnz} intra-repo")
        g = reference.Graph(src, dst, e["w"].to_numpy())
        if not np.array_equal(g.ids, np.arange(len(keys))):
            raise ValueError(f"{self.name}: a file vertex has no edge")
        ans = reference.answers(g, self.pr_kwargs, LP_ITERS)
        if not np.array_equal(ans["cc"], cc) or ans["triangles"] != tri:
            raise ValueError(f"{self.name}: reference graph disagrees with the generated repos")
        ans.update(keys=keys, shas=shas)
        return ans

    def check_ingest(self, spark: SparkSession, out: str, extra, ref: dict) -> bool:
        try:
            v = extra.toPandas().sort_values("id")
        finally:
            extra.unpersist()
        return (
            Workload.check_ingest(self, spark, out, extra, ref)
            and np.array_equal(v["id"].to_numpy(), np.arange(len(ref["keys"])))
            and np.array_equal(v["key"].to_numpy().astype(str), ref["keys"])
            and np.array_equal(v["sha"].to_numpy().astype(str), ref["shas"])
        )


WORKLOADS = {
    w.name: w
    for w in (
        RmatWorkload(
            "rmat_skewed",
            pr_kwargs={"tol": 1e-5},
            params={"scale": 11, "edgefactor": 16, "graph_seed": 1},
        ),
        LatticeWorkload(
            "lattice_longpath",
            pr_kwargs={"tol": 1e-4},
            params={"rows": 4, "cols": 8},
        ),
        CorpusWorkload(
            "corpus_checkpointed",
            pr_kwargs={"num_iters": 6},
            checkpointed=True,
            params={
                "repos": 150,
                "top_files": 600,
                "min_files": 4,
                "hub_split": 4,
                "all_pairs_max": 32,
            },
        ),
    )
}
