"""Checkpoint/resume: a run killed after superstep k and resumed must equal
an uninterrupted run (FIXTURES.md metamorphic check; north_rule resume)."""

import json
import os

import pytest
import pyspark.sql.functions as F

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


def test_pagerank_tolerance_resume_equals_uninterrupted(spark, tmp_path):
    """Tolerance mode: resumed after superstep 3, the run stops at the same
    superstep as an uninterrupted one, with the same ranks."""
    edges = weighted_digraph(spark, n=128, avg_deg=5, seed=11)
    r0 = SuperstepRunner(spark, checkpoint_dir=str(tmp_path / "full"), every=1)
    full = collect_vec(pagerank(spark, edges, tol=1e-8, runner=r0))
    k = r0.latest()["iteration"]
    assert k > 3

    ckpt = str(tmp_path / "pr")
    r1 = SuperstepRunner(spark, checkpoint_dir=ckpt, every=1)
    pagerank(spark, edges, tol=1e-8, max_iter=3, runner=r1)
    assert r1.latest()["iteration"] == 3
    r2 = SuperstepRunner(spark, checkpoint_dir=ckpt, every=1)
    resumed = collect_vec(pagerank(spark, edges, tol=1e-8, runner=r2))
    assert r2.latest()["iteration"] == k
    assert set(full) == set(resumed)
    for v in full:
        assert resumed[v] == pytest.approx(full[v], abs=1e-12)


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
    ranks = m["states"]["ranks"]
    assert ranks["rows"] == 64
    assert sum(ranks["partitions"].values()) == 64
    # keyed by the write task id of each part-NNNNN file on disk
    tasks = {int(f.split("-")[1]) for f in os.listdir(ranks["path"])
             if f.startswith("part-") and f.endswith(".parquet")}
    assert {int(k) for k in ranks["partitions"]} == tasks


def test_save_is_one_job(spark, tmp_path):
    """A checkpoint save costs one Spark job per state, its Parquet write:
    the manifest's row counts come from the footers, not from a read-back
    scan of what was just written (that scan took 3 more jobs)."""
    df = spark.range(0, 200, numPartitions=4).selectExpr("id", "id * 2 AS v").persist()
    df.count()
    r = SuperstepRunner(spark, checkpoint_dir=str(tmp_path / "j"), every=1)
    sc = spark.sparkContext
    group = "test-save-is-one-job"
    sc.setJobGroup(group, "checkpoint save job budget")
    try:
        r.save(1, {"s": df}, {})
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        df.unpersist()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) == 1, len(jobs)
    assert r.latest()["states"]["s"]["rows"] == 200


def test_empty_state_roundtrip(spark, tmp_path):
    schema = "id long, rank double"
    r = SuperstepRunner(spark, checkpoint_dir=str(tmp_path / "e"), every=1)
    r.save(1, {"s": spark.createDataFrame([], schema)}, {"n": 0})
    assert r.latest()["states"]["s"]["rows"] == 0
    it, states, metrics = r.resume()
    assert (it, metrics) == (1, {"n": 0})
    assert states["s"].count() == 0
    assert states["s"].schema == spark.createDataFrame([], schema).schema


def test_latest_skips_torn_checkpoint(spark, tmp_path):
    """A save cut short leaves state files but no manifest.json; the newest
    COMPLETE checkpoint is the one resumed."""
    df = spark.range(8).selectExpr("id", "CAST(id AS DOUBLE) AS rank")
    ckpt = str(tmp_path / "t")
    r = SuperstepRunner(spark, checkpoint_dir=ckpt, every=1)
    r.save(1, {"s": df}, {})
    r.save(2, {"s": df}, {})
    df.write.parquet(os.path.join(ckpt, "iter=000003", "s"))
    assert r.latest()["iteration"] == 2
    assert r.resume()[0] == 2


def test_manifest_sums_split_task_files(spark, tmp_path):
    """maxRecordsPerFile splits one write task's output into c000, c001, ...;
    the manifest keys rows by task, so the split files are summed."""
    df = spark.range(0, 200, numPartitions=4).selectExpr("id", "id * 2 AS v")
    r = SuperstepRunner(spark, checkpoint_dir=str(tmp_path / "x"), every=1)
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "20")
    try:
        r.save(1, {"s": df}, {})
    finally:
        spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    info = r.latest()["states"]["s"]
    assert len([f for f in os.listdir(info["path"]) if f.startswith("part-")]) == 12
    assert info["partitions"] == {"0": 50, "1": 50, "2": 50, "3": 50}
    assert r.resume()[1]["s"].count() == 200


@pytest.mark.parametrize("damage", ["delete", "truncate"])
def test_resume_rejects_damaged_part_file(spark, tmp_path, damage):
    edges = weighted_digraph(spark, n=64, avg_deg=4, seed=5)
    ckpt = str(tmp_path / "d")
    r1 = SuperstepRunner(spark, checkpoint_dir=ckpt, every=1)
    pagerank(spark, edges, num_iters=2, runner=r1)
    ranks = os.path.join(ckpt, "iter=000002", "ranks")
    part = os.path.join(ranks, sorted(f for f in os.listdir(ranks) if f.startswith("part-"))[0])
    if damage == "delete":
        os.remove(part)
    else:
        os.truncate(part, os.path.getsize(part) // 2)
    r2 = SuperstepRunner(spark, checkpoint_dir=ckpt, every=1)
    with pytest.raises(ValueError, match="ranks"):
        r2.resume()


def _agg_frames(spark):
    base = spark.range(0, 100, numPartitions=4).selectExpr("id", "id % 7 AS v")
    return {
        "non_empty": base,
        "filtered_to_empty": base.filter("id < 0"),
        "zero_partitions": spark.createDataFrame(
            spark.sparkContext.emptyRDD(), base.schema
        ),
    }


def _aggs():
    return [
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("s"),
        F.max("v").alias("m"),
        F.count(F.when(F.col("v") == 0, 1)).alias("z"),
    ]


@pytest.mark.parametrize("frame", ["non_empty", "filtered_to_empty", "zero_partitions"])
def test_truncate_agg_equals_agg(spark, frame):
    """The scalars folded into the cut's job are exactly what a global
    ``agg`` gives, also over an empty frame (count 0, null sum and max)."""
    df = _agg_frames(spark)[frame]
    out, row = SuperstepRunner(spark).truncate_agg(df, *_aggs())
    assert row == df.agg(*_aggs()).collect()[0]
    assert sorted(out.collect()) == sorted(df.collect())


def test_truncate_agg_row_follows_agg_order(spark):
    df = spark.range(10).selectExpr("id", "id * 2 AS v")
    _, row = SuperstepRunner(spark).truncate_agg(
        df, F.max("v").alias("z"), F.count(F.lit(1)).alias("a"), F.sum("v").alias("m")
    )
    assert row.__fields__ == ["z", "a", "m"]
    assert tuple(row) == (18, 10, 90)


def test_truncate_agg_is_one_job(spark):
    """Cutting a persisted frame and folding its scalars runs ONE Spark job,
    the checkpoint's. A global agg().collect() over a lazy cut ran 2: the
    single-partition exchange, which also materialized the cut, and the
    result."""
    df = spark.range(0, 200, numPartitions=4).selectExpr("id", "id % 7 AS v").persist()
    df.count()
    sc = spark.sparkContext
    group = "test-truncate-agg-is-one-job"
    sc.setJobGroup(group, "truncate_agg job budget")
    try:
        _, row = SuperstepRunner(spark).truncate_agg(
            df, F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        df.unpersist()
    assert tuple(row) == (200, 594)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
