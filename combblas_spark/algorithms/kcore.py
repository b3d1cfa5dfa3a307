"""k-core decomposition by iterative peeling.

The classic web-graph cleaning kernel: repeatedly delete vertices of degree
< k until every survivor has degree >= k inside the surviving subgraph.
Expressed entirely in the SURVEY §2 operator set — Reduce(dim) for degrees
(operators/reduce.py), semi-join Prune for vertex deletion (the
SubsRef/PruneColumn idiom, operators/indexing.py) — no new primitives; this
module is the composition. CombBLAS ships no dedicated k-core Application;
the peel loop is the standard formulation (Matula & Beck 1983).

Scale shape: each round is ONE hash aggregation on the edge table plus two
semi-joins against the (small, shrinking) keep-set; the edge table shrinks
monotonically, and lineage is truncated per round (plans/superstep.py) so
Catalyst stats never compound. Rounds to fixpoint on power-law graphs are
few (2-3 on the testdata ps graph); max_rounds bounds adversarial chains.
"""

from __future__ import annotations

import warnings
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from combblas_spark.plans.superstep import SuperstepRunner


def kcore(
    spark: SparkSession,
    edges: DataFrame,
    k: int,
    max_rounds: int = 50,
    runner: Optional[SuperstepRunner] = None,
) -> DataFrame:
    """(id, in_kcore): 1 if the vertex survives peeling to the k-core of the
    SYMMETRIC graph ``edges`` (src, dst, ...), else 0. Every vertex of the
    input graph gets a row.

    Degree is computed as the dst-side count, which equals the vertex degree
    because the caller passes a symmetrized edge list (the same contract as
    cc_minlabel / bfs).
    """
    runner = runner or SuperstepRunner(spark)
    e0 = edges.select("src", "dst")
    verts = (
        e0.select(F.col("src").alias("id"))
        .union(e0.select(F.col("dst").alias("id")))
        .distinct()
    )
    # one action per peel round: truncate_agg folds the surviving-edge count
    # into the materializing job (superstep.py idiom)
    e, row = runner.truncate_agg(
        e0.repartition(spark.sparkContext.defaultParallelism, "dst"),
        F.count(F.lit(1)).alias("n"),
    )
    n_prev = int(row["n"] or 0)
    converged = False
    for _ in range(max_rounds):
        keep = (
            e.groupBy("dst")
            .agg(F.count(F.lit(1)).alias("c"))
            .filter(F.col("c") >= k)
            .select("dst")
        )
        e2 = (
            e.join(keep.select(F.col("dst").alias("src")), on="src", how="leftsemi")
            .join(keep, on="dst", how="leftsemi")
            .select("src", "dst")
        )
        e2, row = runner.truncate_agg(e2, F.count(F.lit(1)).alias("n"))
        n = int(row["n"] or 0)
        e = e2
        if n == n_prev:
            converged = True
            break
        n_prev = n
    if not converged:
        warnings.warn(
            "kcore: max_rounds exhausted before the peel reached its "
            "fixpoint — the returned vertex set is a SUPERSET of the "
            "k-core. Raise max_rounds (long path-like graphs can need "
            "~|V|/2 rounds).",
            RuntimeWarning,
            stacklevel=2,
        )
    survivors = e.select(F.col("dst").alias("id")).distinct()
    return verts.join(
        survivors.withColumn("f", F.lit(1)), on="id", how="left"
    ).select("id", F.coalesce(F.col("f"), F.lit(0)).cast("long").alias("in_kcore"))


def coreness_profile(
    spark: SparkSession,
    edges: DataFrame,
    ks: tuple[int, ...] = (8, 16, 32),
    max_rounds: int = 50,
) -> DataFrame:
    """Sampled coreness decomposition: (id, coreness_bucket) where
    coreness_bucket is the LARGEST k in ``ks`` whose k-core contains the
    vertex (0 if none) — i.e. coreness(v) rounded down to the sampled
    grid. The full peel-order decomposition is inherently sequential
    (each removal changes the next degree); the sampled-k profile is the
    parallel screen, the same accuracy-for-cost dial as the sampled-source
    designs in harmonic_centrality / distance_histogram: each k is an
    independent monotone peel (kcore()), so all |ks| peels could even run
    concurrently, and doubling the grid doubles work, not depth.

    Reference semantics: the k-core family on the symmetric graph
    (/root/reference/include/CombBLAS/SpParMat.h Reduce/Prune idiom);
    membership per k matches kcore() exactly, so the oracle is |ks|
    unrolled peels + one MAX.
    """
    from concurrent.futures import ThreadPoolExecutor

    if not ks:
        raise ValueError("coreness_profile: ks must be non-empty")

    def one_k(k: int) -> DataFrame:
        return kcore(spark, edges, k=k, max_rounds=max_rounds).select(
            "id", (F.col("in_kcore") * F.lit(k)).cast("long").alias("kb")
        )

    # the |ks| peels are independent monotone filters — overlap them so
    # each peel's stage tail back-fills with the next peel's tasks (the
    # same concurrent-jobs shape as stats.attack_profile)
    with ThreadPoolExecutor(max_workers=min(len(ks), 3)) as pool:
        parts = list(pool.map(one_k, sorted(ks)))
    out = parts[0]
    for m in parts[1:]:
        out = out.unionByName(m)
    return out.groupBy("id").agg(F.max("kb").alias("coreness_bucket"))
