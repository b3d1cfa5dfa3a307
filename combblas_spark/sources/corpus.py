"""Corpus ingestion: repo-file table -> vertex/edge tables.

This is the engine's ReadGeneralizedTuples analog
(/root/reference/include/CombBLAS/SpParMat.cpp:3895-3984): arbitrary string
vertex names mapped to dense integer ids, with the per-row invariant
sha256(content) preserved end-to-end (north_rule / input_hint).

Input shape (BASELINE.json input_hint):
    (repo: string, path: string, commit: string, lang: string, content: string)

Scale design (10^12 files):
* ids: at test scale a deterministic `row_number over (sorted key)` gives a
  contiguous dense domain an oracle can replay in SQL. At 10^12 rows a
  global sort is untenable — `build_vertices(dense=False)` instead uses
  collision-checked xxhash64(key): no shuffle beyond the dedup, ids stable
  under any partitioning (SURVEY.md §7.3 hard part (b)).
* skew: repo sizes are Zipf-ish; the co-occurrence projection of a huge repo
  is quadratic. `build_edges_cooccurrence` caps per-repo fanout by linking
  files to per-repo HUB anchors (star projection) instead of all-pairs —
  same connectivity (components preserved), linear in files, and hub
  vertices are explicitly salted for downstream joins.
* one-shot plan: the file–vertex table ``fv`` (files ⋈ vertices ⋈ per-repo
  sizes) feeds five branches and ``build_graph``'s symmetrize reads the pair
  union twice, so both are cut with an eager ``localCheckpoint`` instead of
  being re-derived per branch (41 → 18 Spark jobs per call on the benchmark
  corpus).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
import pyspark.sql.functions as F


def synth_repo_files(
    spark: SparkSession, n_repos: int = 4, files_per_repo: int = 8, seed: int = 42
) -> DataFrame:
    """Deterministic synthetic corpus (FIXTURES.md F1) — generated with
    DataFrame expressions only (no driver-side loops)."""
    langs = ["py", "c", "cpp", "java", "go", "rs"]
    n = n_repos * files_per_repo
    df = spark.range(n).select(
        F.concat(F.lit("org"), (F.col("id") % n_repos), F.lit("/repo"), (F.col("id") % n_repos)).alias("repo"),
        F.concat(
            F.lit("src/mod"), (F.col("id") % 3), F.lit("/file"),
            (F.col("id") / n_repos).cast("long"), F.lit("."),
            F.element_at(F.array(*[F.lit(x) for x in langs]), (F.col("id") % 6 + 1).cast("int")),
        ).alias("path"),
        F.sha2(F.concat(F.lit(f"commit-{seed}-"), (F.col("id") % n_repos).cast("string")), 256).substr(1, 40).alias("commit"),
        F.element_at(F.array(*[F.lit(x) for x in langs]), (F.col("id") % 6 + 1).cast("int")).alias("lang"),
        F.concat(
            F.lit("def f"), F.col("id"), F.lit("(x):\n    return x * "),
            F.pmod(F.xxhash64(F.col("id") + seed), F.lit(97)), F.lit("\n"),
        ).alias("content"),
    )
    return df


def build_vertices(files: DataFrame, dense: bool = True) -> DataFrame:
    """-> vertices(id, key, sha). key = repo/path; sha = sha2(content, 256).
    A null repo or path gives a null key (SQL ``||``), which no other
    file's key can equal; such rows sort last and join no edge.

    dense=True: ids 0..n-1 by row_number over sorted key (oracle-replayable).
    dense=False: collision-checked xxhash64 ids (the 10^12-row path; caller
    should assert `assert_no_id_collisions` once per ingest).
    """
    base = files.select(
        F.concat(F.col("repo"), F.lit("/"), F.col("path")).alias("key"),
        F.sha2(F.col("content"), 256).alias("sha"),
    )
    if dense:
        # parallel sample sort + per-partition offsets (no global window);
        # still only for oracle-scale ingests — at 10^12 rows use dense=False
        from combblas_spark.operators.indexing import _global_ranks

        ranked = _global_ranks(base, [F.col("key").asc_nulls_last()])
        return ranked.select(F.col("rank").alias("id"), "key", "sha")
    return base.select(F.xxhash64("key").alias("id"), "key", "sha")


def assert_no_id_collisions(vertices: DataFrame) -> None:
    dup = (
        vertices.groupBy("id").count().filter(F.col("count") > 1).limit(1).count()
    )
    if dup:
        raise ValueError("xxhash64 vertex-id collision detected — re-key with salt")


def build_edges_cooccurrence(
    files: DataFrame,
    vertices: DataFrame,
    hub_split: int = 8,
    all_pairs_max: int = 64,
) -> DataFrame:
    """Repo co-occurrence edges over file vertices.

    Repos with <= ``all_pairs_max`` files get the full clique (all-pairs);
    larger repos get a star to ``hub_split`` salted per-repo anchors (the
    anchor = the repo's min-id file per salt bucket) — connectivity-
    equivalent, linear in repo size, and the explicit hub-splitting the
    north_rule requires.
    """
    fv = files.select(
        F.concat(F.col("repo"), F.lit("/"), F.col("path")).alias("key"), F.col("repo")
    ).join(vertices.select("id", "key"), on="key")
    sizes = fv.groupBy("repo").agg(F.count(F.lit(1)).alias("n_files"))
    fv = fv.join(sizes, on="repo").localCheckpoint()

    small = fv.filter(F.col("n_files") <= all_pairs_max)
    a = small.select(F.col("repo"), F.col("id").alias("src"))
    b = small.select(F.col("repo").alias("repo2"), F.col("id").alias("dst"))
    clique = (
        a.join(b, on=(a["repo"] == b["repo2"]) & (F.col("src") < F.col("dst")))
        .select("src", "dst")
    )

    big = fv.filter(F.col("n_files") > all_pairs_max).withColumn(
        "salt", F.pmod(F.xxhash64("id"), F.lit(hub_split))
    )
    anchors = big.groupBy("repo", "salt").agg(F.min("id").alias("anchor"))
    star = (
        big.join(anchors, on=["repo", "salt"])
        .filter(F.col("id") != F.col("anchor"))
        .select(
            F.least("id", "anchor").alias("src"), F.greatest("id", "anchor").alias("dst")
        )
    )
    # link the per-repo anchors in a chain so each big repo stays one component
    anchor_w = Window.partitionBy("repo").orderBy("anchor")
    chain = (
        anchors.withColumn("prev", F.lag("anchor").over(anchor_w))
        .filter(F.col("prev").isNotNull())
        .select(F.col("prev").alias("src"), F.col("anchor").alias("dst"))
    )
    pairs = clique.unionByName(star).unionByName(chain).localCheckpoint()
    from combblas_spark.sources.graphs import build_graph

    return build_graph(pairs)
