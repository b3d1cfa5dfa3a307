"""Checkpoint/resume: a run killed after superstep k and resumed must equal
an uninterrupted run (FIXTURES.md metamorphic check; north_rule resume)."""

import json
import os

import pytest

from combblas_spark.algorithms.pagerank import pagerank
from combblas_spark.algorithms.bfs import bfs
from combblas_spark.algorithms.cc import cc_fastsv, cc_minlabel
from combblas_spark.operators.transform import symmetrize
from combblas_spark.plans.superstep import SuperstepRunner
from combblas_spark.sources.fixtures import EDGE_SCHEMA, sevenvertex, weighted_digraph
from tests.util import collect_vec


def test_pagerank_resume_equals_uninterrupted(spark, tmp_path):
    edges = weighted_digraph(spark, n=128, avg_deg=5, seed=11)

    full = collect_vec(pagerank(spark, edges, num_iters=8))

    ckpt = str(tmp_path / "pr")
    # phase 1: "crash" after 3 supersteps
    r1 = SuperstepRunner(spark, checkpoint_dir=ckpt, every=1)
    collect_vec(pagerank(spark, edges, num_iters=3, runner=r1))
    m = r1.latest()
    assert m["iteration"] == 3
    assert all(info["rows"] > 0 for info in m["states"].values())
    assert all(info["partitions"] for info in m["states"].values())

    # phase 2: resume to 8
    r2 = SuperstepRunner(spark, checkpoint_dir=ckpt, every=1)
    resumed = collect_vec(pagerank(spark, edges, num_iters=8, runner=r2))

    assert set(full) == set(resumed)
    for k in full:
        assert resumed[k] == pytest.approx(full[k], abs=1e-12)


@pytest.mark.parametrize("cc", [cc_minlabel, cc_fastsv], ids=lambda f: f.__name__)
def test_cc_resume(spark, tmp_path, cc):
    edges = symmetrize(sevenvertex(spark))
    full = collect_vec(cc(spark, edges))

    ckpt = str(tmp_path / "cc")
    r1 = SuperstepRunner(spark, checkpoint_dir=ckpt, every=1)
    collect_vec(cc(spark, edges, max_iter=2, runner=r1))
    assert r1.latest()["iteration"] == 2
    r2 = SuperstepRunner(spark, checkpoint_dir=ckpt, every=1)
    resumed = collect_vec(cc(spark, edges, runner=r2))
    assert resumed == full


def test_bfs_resume_equals_uninterrupted(spark, tmp_path):
    path = [(i, i + 1, 1.0) for i in range(7)]
    edges = symmetrize(spark.createDataFrame(path, EDGE_SCHEMA))

    def tree(df):
        return sorted((r["id"], r["parent"], r["depth"]) for r in df.collect())

    full = tree(bfs(spark, edges, root=0))
    assert max(d for _, _, d in full) == 7

    ckpt = str(tmp_path / "bfs")
    r1 = SuperstepRunner(spark, checkpoint_dir=ckpt, every=1)
    bfs(spark, edges, root=0, max_iter=2, runner=r1).count()
    assert r1.latest()["iteration"] == 2
    r2 = SuperstepRunner(spark, checkpoint_dir=ckpt, every=1)
    assert tree(bfs(spark, edges, root=0, runner=r2)) == full


def test_manifest_contents(spark, tmp_path):
    edges = weighted_digraph(spark, n=64, avg_deg=4, seed=5)
    ckpt = str(tmp_path / "m")
    r = SuperstepRunner(spark, checkpoint_dir=ckpt, every=1)
    pagerank(spark, edges, num_iters=2, runner=r)
    with open(os.path.join(ckpt, "iter=000002", "manifest.json")) as f:
        m = json.load(f)
    assert m["iteration"] == 2
    assert "ranks" in m["states"]
    assert m["states"]["ranks"]["rows"] == 64
    assert sum(m["states"]["ranks"]["partitions"].values()) == 64
