"""Label propagation and MCL-style Markov clustering.

Reference: HipMCL /root/reference/Applications/MCL.cpp:514-700 —
    loop while chaos > eps:
      expand:  A <- MemEfficientSpGEMM(A, A)      (ParFriends.h:452)
      prune:   MCLPruneRecoverySelect              (ParFriends.h:185)
      stochastic: MakeColStochastic                (MCL.cpp:388-394)
      chaos:   max over cols of (colmax - col ssq) * colnnz (MCL.cpp:406-420)
      inflate: Apply(pow(w, I))                    (MCL.cpp:446-449)
    interpret: symmetrize + connected components   (MCL.cpp:372-385)

``label_propagation`` is the simpler synchronous community algorithm the
reference's label-propagation capability maps to: per superstep each vertex
adopts the label with the max incident weight (tie -> min label) —
deterministic, so oracle SQL can replay it exactly.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession, Window
import pyspark.sql.functions as F

from combblas_spark.core.semiring import PLUS_TIMES
from combblas_spark.core.tuning import BROADCAST_MAX_ROWS, self_row_layout
from combblas_spark.operators.multiply import spgemm
from combblas_spark.operators.reduce import reduce_dim
from combblas_spark.operators.transform import (
    dimapply,
    apply_values,
    symmetrize,
)
from combblas_spark.operators.kselect import prune_recovery_select
from combblas_spark.plans.grid import Grid2D, auto_grid_shape
from combblas_spark.plans.superstep import SuperstepRunner


def _vertices(edges: DataFrame) -> DataFrame:
    return (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )


def label_propagation(
    spark: SparkSession,
    edges: DataFrame,
    num_iters: int = 5,
    runner: Optional[SuperstepRunner] = None,
    broadcast_vectors: bool = True,
    mode: str = "broadcast",
    grid_shape: Optional[tuple[int, int]] = None,
) -> DataFrame:
    """Synchronous weighted LP, deterministic tie-break (max weight-sum,
    then min label). Returns (id, val=label). Expects symmetric edges.

    The label table is O(V) rows by construction, so the broadcast path is
    size-gated on |V| (BROADCAST_MAX_ROWS) — above the gate the per-superstep
    joins fall back to shuffles and AQE decides. ``mode='grid'`` replaces the
    vector broadcast with the 2D band-grid exchange (plans/grid.py): labels
    are replicated C times by a parallel shuffle, joined co-partitioned
    against the cached edge bands (zero edge movement), and the
    (dst, label) partial aggregate is bounded per partition by its dst
    band — the O(V)-label scale path."""
    if mode not in ("broadcast", "grid"):
        raise ValueError(mode)
    runner = runner or SuperstepRunner(spark)
    grid = None
    if mode == "grid":
        shape = grid_shape or auto_grid_shape(spark, edges.count())
        grid = Grid2D(spark, *shape)
        edges = grid.partition_edges(edges.select("src", "dst", "w"))
    else:
        # one self row (v, v, w = null) per vertex: its group (v, x[v])
        # carries a null score, which ranks below every real one, so a
        # vertex with no scored in-edge keeps its label in the same
        # aggregate (no join of the pick back onto the old labels)
        e = edges.select("src", "dst", "w")
        edges = self_row_layout(e, e.select(F.col("dst").alias("id")).distinct())
    edges.persist()
    try:
        # symmetric-input contract: dst alone covers every vertex; in
        # broadcast mode the distinct over the dst-clustered cache is
        # Exchange-free
        verts = edges.select(F.col("dst").alias("id")).distinct()
        labels = verts.select("id", F.col("id").alias("val"))
        # the broadcast gate's |V| is counted inside the first cut's job
        labels, row = runner.truncate_agg(labels, F.count(F.lit(1)).alias("n"))
        bb = broadcast_vectors and grid is None and row["n"] <= BROADCAST_MAX_ROWS

        for it in range(num_iters):
            if grid is not None:
                xr = grid.replicate_vector(labels)
                scores = (
                    edges.join(
                        xr, on=[edges["pid"] == xr["pid"], edges["src"] == xr["id"]]
                    )
                    .groupBy(edges["dst"].alias("id"), xr["val"].alias("label"))
                    .agg(F.sum(edges["w"]).alias("score"))
                )
            else:
                lab = labels.select(
                    F.col("id").alias("_lid"), F.col("val").alias("label")
                )
                if bb:
                    lab = F.broadcast(lab)
                scores = (
                    edges.join(lab, on=edges["src"] == lab["_lid"], how="inner")
                    .groupBy(edges["dst"].alias("id"), F.col("label"))
                    .agg(F.sum("w").alias("score"))
                )
            # same total order as the former row_number window (score desc,
            # label asc; a null score lowest) via one more hash aggregate —
            # in broadcast mode both aggs cluster on dst over the cached
            # layout, so the whole pick is Exchange-free (no shuffle+sort
            # window)
            picked = (
                scores.groupBy("id")
                .agg(
                    F.max(
                        F.struct(
                            F.col("score").alias("s"),
                            (-F.col("label")).alias("nl"),
                        )
                    ).alias("m")
                )
                .select("id", (-F.col("m.nl")).alias("val"))
            )
            if grid is not None:
                # the grid layout has no self rows: isolated /
                # no-incoming vertices keep their label through a join
                picked = (
                    labels.alias("o")
                    .join(picked.alias("p"), on="id", how="left")
                    .select("id", F.coalesce(F.col("p.val"), F.col("o.val")).alias("val"))
                )
            # no in-loop action: lazy lineage cuts chain the fixed
            # iteration count into the single materializing job below
            labels = runner.truncate_lazy(picked)
            runner.save(it + 1, {"labels": labels}, {})
        labels.count()  # materialize while the edge layout is still cached
        return labels
    finally:
        edges.unpersist()


def chaos(a: DataFrame) -> float:
    """MCL convergence metric (MCL.cpp:406-420): max over columns of
    (colmax - sum(w^2)) * nnz_in_col, on a column-stochastic matrix."""
    row = (
        a.groupBy("dst")
        .agg(
            F.max("w").alias("mx"),
            F.sum(F.col("w") * F.col("w")).alias("ssq"),
            F.count("*").alias("nnz"),
        )
        .agg(F.max((F.col("mx") - F.col("ssq")) * F.col("nnz")).alias("chaos"))
        .collect()[0]
    )
    return float(row["chaos"] or 0.0)


def make_col_stochastic(a: DataFrame) -> DataFrame:
    colsum = reduce_dim(a, "col", F.sum)
    return dimapply(a, colsum, dim="col", binop=lambda w, s: w / s)


def mcl(
    spark: SparkSession,
    edges: DataFrame,
    inflation: float = 2.0,
    select_k: int = 50,
    recover_k: int = 20,
    hard_threshold: float = 1e-8,
    eps: float = 1e-4,
    max_iter: int = 60,
    phases: int = 1,
    support_threshold: float = 1e-4,
    runner: Optional[SuperstepRunner] = None,
    incremental_square: bool = False,
) -> DataFrame:
    """HipMCL loop; returns (id, val=cluster id = min member vertex).

    ``incremental_square`` switches the expansion to the diagonal-split A²
    (operators.multiply.incremental_mcl_square, ParFriends.h:844-940) —
    numerically identical, but only the off-diagonal block pays the SpGEMM;
    the incremental-MCL pipeline (algorithms.incremental_mcl) uses it since
    its summary matrix concentrates weight on the diagonal.

    Input is treated as undirected; self-loops are adjusted to the column
    max as in MCL.cpp:462-473 before normalization.
    """
    from combblas_spark.algorithms.cc import cc_minlabel  # cycle-free import

    runner = runner or SuperstepRunner(spark)
    verts = _vertices(edges)
    verts.persist()
    try:
        return _mcl_loop(
            spark, edges, verts, inflation, select_k, recover_k, hard_threshold,
            eps, max_iter, phases, support_threshold, runner,
            incremental_square=incremental_square,
        )
    finally:
        verts.unpersist()


def _mcl_loop(
    spark, edges, verts, inflation, select_k, recover_k, hard_threshold,
    eps, max_iter, phases, support_threshold, runner,
    incremental_square=False,
):
    from combblas_spark.algorithms.cc import cc_minlabel  # cycle-free import
    from combblas_spark.operators.multiply import incremental_mcl_square

    a = symmetrize(edges.select("src", "dst", F.col("w").cast("double")))
    # AdjustLoops (MCL.cpp:462-473): set each diagonal to the column max
    colmax = reduce_dim(a.filter(F.col("src") != F.col("dst")), "col", F.max)
    loop_val = verts.join(colmax, on="id", how="left").select(
        "id", F.coalesce(F.col("val"), F.lit(1.0)).alias("val")
    )
    diag = loop_val.select(
        F.col("id").alias("src"), F.col("id").alias("dst"), F.col("val").alias("w")
    )
    a = a.filter(F.col("src") != F.col("dst")).unionByName(diag)
    a = make_col_stochastic(a)
    a = runner.truncate(a)

    for it in range(max_iter):
        if incremental_square:  # diagonal-split A^2 (ParFriends.h:844-940)
            a = incremental_mcl_square(a, phases=phases)
        else:
            a = spgemm(a, a, PLUS_TIMES, phases=phases)  # expand
        a = prune_recovery_select(a, hard_threshold, select_k, recover_k)
        a = make_col_stochastic(a)
        a = runner.truncate(a)
        ch = chaos(a)
        runner.save(it + 1, {"a": a}, {"chaos": ch})
        if ch < eps:
            break
        a = apply_values(a, lambda w: F.pow(w, F.lit(inflation)))  # inflate
        a = make_col_stochastic(a)

    # interpret: clusters = connected components of the converged support.
    # chaos ~ 0 can occur while pruned-away bridges still carry O(eps)
    # residual mass; support_threshold sits between that residual and the
    # attractor mass (within-cluster entries are O(1/cluster size)).
    support = a.filter(F.col("w") > support_threshold)
    sym = symmetrize(support)
    labels = cc_minlabel(spark, sym, vertices=verts)
    return labels
