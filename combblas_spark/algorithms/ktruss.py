"""k-truss decomposition — iterative triangle-support peel.

The GraphChallenge kernel CombBLAS-style engines run right next to
triangle counting: repeatedly delete edges contained in fewer than k-2
triangles until every survivor has support >= k-2. Each round is the
masked-SpGEMM triangle pattern of algorithms/triangles.py
(L·L ⊙ L, /root/reference/include/CombBLAS/Friends.h:1020-1044 +
ParFriends.h:1447) widened to per-edge TOTAL support: enumerate (a,b,c)
a<b<c triples with one wedge join + one closing semi-join, explode each
triple into its three edges, hash-count.

Scale shape: each peel round recounts support with the degree-ordered
wedge join over the (monotonically shrinking) survivor set — the same
O(m^1.5) bound as triangle counting. An INCREMENTAL recount path exists
(enumerate only the triangles destroyed by the round's deletions, per
deleted edge from its lower-degree endpoint, decrement surviving sides)
behind ``full_recount_frac > 0``, but the round-6 measurement settled the
default at full recount: this peel converges in few avalanche-sized
rounds, where one full pass over the smaller survivor set beats
per-deleted-edge enumeration over half the graph (sf0.1: full 8.5s,
hybrid 8.7-9.5s, incremental-always 11.8s). Lineage is truncated per
round; max_rounds bounds adversarial chains (a warning fires if it
truncates before the fixpoint).
"""

from __future__ import annotations

import warnings
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from combblas_spark.algorithms.triangles import _orient
from combblas_spark.plans.superstep import SuperstepRunner


def _edge_support(e: DataFrame) -> DataFrame:
    """(src, dst, support) — number of triangles containing each canonical
    (src<dst) edge of ``e``. Edges in no triangle are ABSENT (support 0).

    Enumeration is DEGREE-ORDERED (compact-forward): the materialized
    orientation of algorithms/triangles._orient directs each edge from its
    lower-degree endpoint (ties by id) before the wedge join, so the apex of
    every wedge is a low-degree vertex — per-apex wedge count is O(m^1.5)
    total on any graph instead of |hub-degree|² around canonical-min hubs.
    The closing semi-join reads ``e`` itself, which is already canonical.
    Triple sides are canonicalized back to (min, max) before counting, so
    the output keys are orientation-independent."""
    d = _orient(e, degree_ordered=True).select(
        F.col("src").alias("u"), F.col("dst").alias("v")
    )
    e1 = d.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = d.select(F.col("u").alias("a"), F.col("v").alias("c"))
    wedges = e1.join(e2, on="a").filter(F.col("c") > F.col("b"))
    closing = e.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    tri = wedges.join(closing, on=["b", "c"], how="leftsemi")
    sides = (
        tri.select(F.col("a").alias("x"), F.col("b").alias("y"))
        .unionByName(tri.select(F.col("a").alias("x"), F.col("c").alias("y")))
        .unionByName(tri.select(F.col("b").alias("x"), F.col("c").alias("y")))
    )
    return (
        sides.select(
            F.least("x", "y").alias("src"), F.greatest("x", "y").alias("dst")
        )
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("support"))
    )


def ktruss(
    spark: SparkSession,
    edges: DataFrame,
    k: int,
    max_rounds: int = 30,
    runner: Optional[SuperstepRunner] = None,
    full_recount_frac: float = 0.0,
) -> DataFrame:
    """(src, dst, in_ktruss) over the canonical (src<dst, distinct, no-loop)
    edge set of the undirected graph ``edges``: 1 if the edge survives
    peeling to the k-truss, else 0. k >= 3 (k-2 = minimum triangle support).

    ``full_recount_frac`` gates the incremental recount: a round deleting
    >= frac * pre-deletion edges recounts support fully on the survivor
    set. Default 0.0 = ALWAYS full recount — settled empirically (round 6,
    quiet-session min-of-2 on the sf0.1 events fixture): full 8.5-8.7s,
    hybrid-0.25 8.7-9.5s, incremental-always 11.8s. The peel here converges
    in few rounds with avalanche-sized deletions, so per-deleted-edge
    enumeration never amortizes; the incremental path stays available
    (frac > 0) for long-tail fixtures where rounds delete a few edges each.
    """
    runner = runner or SuperstepRunner(spark)
    e0 = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
        )
        .distinct()
    )
    e0, row = runner.truncate_agg(
        e0.repartition(spark.sparkContext.defaultParallelism, "src", "dst"),
        F.count(F.lit(1)).alias("n"),
    )
    n0 = int(row["n"] or 0)
    if k <= 2:  # support >= 0: every edge is trivially in the 2-truss
        return e0.select("src", "dst", F.lit(1).cast("long").alias("in_ktruss"))

    # round 0: one full support computation. Edges in no triangle have no
    # sup row (support 0 < k-2), so survivors are exactly the filtered rows.
    # ONE action: sup is cut lazily and materializes inside the deleted
    # truncate_agg; e is a zero-cost projection of the checkpointed sup.
    sup = runner.truncate_lazy(
        _edge_support(e0).filter(F.col("support") >= k - 2)
    )
    e = sup.select("src", "dst")
    deleted, row = runner.truncate_agg(
        e0.join(e, on=["src", "dst"], how="left_anti"),
        F.count(F.lit(1)).alias("n"),
    )
    # triangles destroyed by this round's deletions live in the PRE-deletion
    # edge set: pre-deletion = e (survivors) + deleted.
    nd = int(row["n"] or 0)
    converged = nd == 0
    n = n0 - nd
    for _ in range(max_rounds):
        if nd == 0:
            converged = True
            break
        # Hybrid recount gate: when a round deletes a large share of the
        # pre-deletion edge set (early avalanche rounds peel 50-70% here),
        # per-deleted-edge triangle enumeration touches MORE wedges than
        # simply recounting support on the (smaller) survivor set — so
        # recount fully; the incremental path is for the long tail of
        # rounds that delete a few edges each.
        if nd >= full_recount_frac * (n + nd):
            sup = runner.truncate_lazy(
                _edge_support(e).filter(F.col("support") >= k - 2)
            )
            e2 = sup.select("src", "dst")
            deleted, row = runner.truncate_agg(
                e.join(e2, on=["src", "dst"], how="left_anti"),
                F.count(F.lit(1)).alias("n"),
            )
            e = e2
            nd = int(row["n"] or 0)
            n = n - nd
            continue
        pre = e.unionByName(deleted)
        adj = pre.select(F.col("src").alias("x"), F.col("dst").alias("y")).unionByName(
            pre.select(F.col("dst").alias("x"), F.col("src").alias("y"))
        )
        deg = adj.groupBy("x").agg(F.count(F.lit(1)).alias("d"))
        # per deleted edge, enumerate common neighbors from the LOWER-degree
        # endpoint (the compact-forward bound, per-edge work = min-degree)
        dd = (
            deleted.join(deg.withColumnRenamed("x", "src").withColumnRenamed("d", "ds"), "src")
            .join(deg.withColumnRenamed("x", "dst").withColumnRenamed("d", "dt"), "dst")
        )
        piv = (F.col("ds") < F.col("dt")) | (
            (F.col("ds") == F.col("dt")) & (F.col("src") < F.col("dst"))
        )
        dpiv = dd.select(
            F.when(piv, F.col("src")).otherwise(F.col("dst")).alias("p"),
            F.when(piv, F.col("dst")).otherwise(F.col("src")).alias("o"),
        )
        tri = (
            dpiv.join(adj.withColumnRenamed("x", "p").withColumnRenamed("y", "w"), "p")
            .filter(F.col("w") != F.col("o"))
            .join(
                adj.withColumnRenamed("x", "o").withColumnRenamed("y", "w"),
                on=["o", "w"],
                how="leftsemi",
            )
            # canonical sorted triple so a triangle with 2-3 deleted edges
            # is counted ONCE
            .select(
                F.least(F.least("p", "o"), F.col("w")).alias("a"),
                F.greatest(
                    F.least("p", "o"), F.least(F.greatest("p", "o"), F.col("w"))
                ).alias("b"),
                F.greatest(F.greatest("p", "o"), F.col("w")).alias("c"),
            )
            .distinct()
        )
        sides = (
            tri.select(F.col("a").alias("src"), F.col("b").alias("dst"))
            .unionByName(tri.select(F.col("a").alias("src"), F.col("c").alias("dst")))
            .unionByName(tri.select(F.col("b").alias("src"), F.col("c").alias("dst")))
        )
        dec = sides.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("dec"))
        sup = runner.truncate_lazy(
            sup.join(deleted, on=["src", "dst"], how="left_anti")
            .join(dec, on=["src", "dst"], how="left")
            .select(
                "src",
                "dst",
                (F.col("support") - F.coalesce(F.col("dec"), F.lit(0))).alias("support"),
            )
            .filter(F.col("support") >= k - 2)
        )
        e2 = sup.select("src", "dst")
        deleted, row = runner.truncate_agg(
            e.join(e2, on=["src", "dst"], how="left_anti"),
            F.count(F.lit(1)).alias("n"),
        )
        e = e2
        nd = int(row["n"] or 0)
        n = n - nd
    if not converged and nd != 0:
        warnings.warn(
            "ktruss: max_rounds exhausted before the peel reached its "
            "fixpoint — the returned edge set is a SUPERSET of the k-truss. "
            "Raise max_rounds.",
            RuntimeWarning,
            stacklevel=2,
        )
    return e0.join(
        e.withColumn("f", F.lit(1)), on=["src", "dst"], how="left"
    ).select(
        "src", "dst", F.coalesce(F.col("f"), F.lit(0)).cast("long").alias("in_ktruss")
    )
