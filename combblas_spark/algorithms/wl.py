"""Weisfeiler-Lehman color refinement — iterated neighborhood hashing,
the canonical structural fingerprint (1-WL): two vertices get the same
color after r rounds iff their r-hop unfolding trees agree. The kernel
behind graph-level fingerprinting/dedup, WL graph kernels, and GNN
expressiveness tests — for a link-graph engine it is the structural
analog of the content fingerprints in functions/text.fingerprint.

Reference shape: each round is exactly one SpMV-superstep over the cached
symmetric edge table (gather neighbor colors, reduce per vertex, rehash)
— the CC/label-propagation skeleton
(/root/reference/Applications/CC.h hooking gathers, labelprop analog)
with the semiring's ADD replaced by an order-canonical hash combine.

Determinism (cross-engine): colors are md5 hex strings; each round's
combine is md5(own_color || '|' || sorted ',' - joined neighbor colors),
replayable in any engine with md5 and a sorted string aggregation.

Scale note: the per-vertex sorted neighbor-color list is bounded by
degree; a 10^8-degree web hub makes ONE long row, not a quadratic blowup
— the same exposure as any gather-based kernel (collect_list over the
hash-partitioned dst key). Rounds are few (1-WL stabilizes in O(diameter)
and fingerprinting uses a fixed small r).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from combblas_spark.plans.superstep import SuperstepRunner


def wl_refine(
    spark: SparkSession,
    edges: DataFrame,
    rounds: int = 3,
    runner: Optional[SuperstepRunner] = None,
) -> DataFrame:
    """(id, wl_color) after ``rounds`` of 1-WL refinement on the undirected
    simple support of ``edges`` (src, dst, ...); wl_color is a 32-hex md5.
    color_0 = md5(degree as string)."""
    runner = runner or SuperstepRunner(spark)
    und = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
    )
    sym = und.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).unionByName(und.select(F.col("b").alias("src"), F.col("a").alias("dst")))
    sym = sym.repartition(spark.sparkContext.defaultParallelism, "dst")
    sym.persist()
    try:
        col = runner.truncate(
            sym.groupBy(F.col("dst").alias("id"))
            .agg(F.count(F.lit(1)).alias("deg"))
            .select("id", F.md5(F.col("deg").cast("string")).alias("c"))
        )
        for r in range(rounds):
            gathered = (
                sym.join(col.withColumnRenamed("id", "src"), on="src")
                .groupBy("dst")
                .agg(
                    F.concat_ws(",", F.sort_array(F.collect_list("c"))).alias("ns")
                )
                .withColumnRenamed("dst", "id")
            )
            # fixed-round refinement: lazy lineage cuts, final round
            # materialized eagerly while sym is still cached
            nxt = (
                col.join(gathered, on="id")
                .select("id", F.md5(F.concat_ws("|", F.col("c"), F.col("ns"))).alias("c"))
            )
            col = (
                runner.truncate(nxt)
                if r == rounds - 1
                else runner.truncate_lazy(nxt)
            )
        return col.select("id", F.col("c").alias("wl_color"))
    finally:
        sym.unpersist()
