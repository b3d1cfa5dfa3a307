"""PageRank — semiring SpMV power iteration with damping.

CombBLAS expresses PageRank-class kernels as dense-vector SpMV on
plus-times (/root/reference/include/CombBLAS/ParFriends.h:2379-2457) after
a column/row-stochastic scaling via DimApply
(/root/reference/Applications/MCL.cpp:388-394 MakeColStochastic +
Operations.h:102 safemultinv). This module is that pipeline, DataFrame-first:

    E_norm = dimapply(E, 1/outdeg, dim=row)        # one-time
    x_{k+1}[v] = (1-a)/n + a * (sum_{(u,v)} w*x_k[u] + dangling_k/n)

Scale notes:
* E_norm is computed ONCE, laid out by dst and cached, with one self row
  (v, v, w = null) per vertex (A + I, AddLoops SpParMat.cpp:3290). A
  superstep is one broadcast of the ranks vector and one Exchange-free
  aggregate over that layout, which yields every vertex's new rank AND
  its old one (off its self row): no contribution vector is broadcast
  back and joined onto the old ranks. Grid mode keeps its own layout.
* set-up is ONE table, deg(id, deg) = the weighted out-degree over every
  vertex, null for a dangling one (no out-edge), cut once with the
  vertex and dangling counts folded into its checkpoint job; the vertex
  set, the dangling set, the self rows, the initial ranks and E_norm's
  divisor are all projections of it.
* dangling mass is a per-superstep scalar. The self rows carry each
  vertex's dangling mark, so every superstep's cut observes the mass of
  the vector it writes, sum(val where dangling), and the next superstep
  folds it into its reset literal; only the starting vector's mass is
  summed on its own, once. Fixed-iteration mode therefore cuts eagerly
  when there is a dangling vertex, and lazily otherwise.
* lineage is truncated per iteration (localCheckpoint) — without it the
  plan tree grows linearly and analysis time dominates by iteration ~30.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from combblas_spark.core.semiring import PLUS_TIMES
from combblas_spark.core.tuning import BROADCAST_MAX_ROWS, self_row_layout
from combblas_spark.operators.reduce import reduce_dim
from combblas_spark.operators.transform import dimapply
from combblas_spark.plans.grid import Grid2D, auto_grid_shape, spmv_grid
from combblas_spark.plans.superstep import SuperstepRunner


def _vertices(edges: DataFrame) -> DataFrame:
    return (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )


def pagerank(
    spark: SparkSession,
    edges: DataFrame,
    alpha: float = 0.85,
    tol: float = 1e-10,
    max_iter: int = 100,
    num_iters: Optional[int] = None,
    runner: Optional[SuperstepRunner] = None,
    vertices: Optional[DataFrame] = None,
    broadcast_vectors: bool = True,
    check_every: int = 1,
    mode: str = "broadcast",
    grid_shape: Optional[tuple[int, int]] = None,
    seeds: Optional[list] = None,
    init_ranks: Optional[DataFrame] = None,
) -> DataFrame:
    """Returns (id, val) with val = PageRank score, sum(val) == 1.

    ``init_ranks`` (id, val) warm-starts the power iteration from a prior
    rank vector instead of the restart vector — vertices absent from it
    get 1/n and the whole vector is renormalized to sum 1. After a small
    edge perturbation the geometric contraction (alpha^k) re-converges
    from the old fixed point in far fewer iterations than a cold start —
    the incremental-update path (streaming/incremental.IncrementalPageRank).

    ``seeds`` set -> personalized PageRank: the restart mass (and the
    dangling redistribution) goes only to the seed set, uniformly —
    p[v] = 1/|seeds| on seeds, 0 elsewhere — and the iteration starts at
    p instead of the uniform vector. The per-superstep plan is identical
    to global PageRank (the reset vector is a Column expression folded
    into the rank update); seed sets are assumed driver-small (an `isin`
    literal), the standard PPR regime.

    ``mode='grid'`` switches the per-superstep vector exchange to the 2D
    band grid (plans/grid.py) — use when the rank vector is too large to
    broadcast; ``grid_shape=(R, C)`` sizes the grid (R*C partitions),
    default None auto-sizes from the edge count (plans/grid.auto_grid_shape).

    ``num_iters`` set -> run exactly that many iterations with no
    convergence action per step (oracle-parity / benchmark mode);
    otherwise iterate until L-inf delta < tol, checking every
    ``check_every`` iterations. A check folds max |delta| into the
    superstep's own checkpoint job (``runner.truncate_agg``), so it runs
    no extra Spark job.
    ``runner`` enables per-superstep durable checkpointing + resume.
    """
    runner = runner or SuperstepRunner(spark)
    # ONE table carries the vertex set, the weighted out-degree and the
    # dangling mark (a null deg: no out-edge), cut once with both counts
    # folded into its checkpoint job; every other set-up frame is a
    # projection of it
    if vertices is None:
        no_w = F.lit(None).cast(edges.schema["w"].dataType)
        deg = (
            edges.select(F.col("src").alias("id"), "w")
            .unionByName(edges.select(F.col("dst").alias("id"), no_w.alias("w")))
            .groupBy("id")
            .agg(F.sum("w").alias("deg"))
        )
    else:
        outdeg = reduce_dim(edges, "row", F.sum)  # weighted out-degree
        deg = vertices.select("id").join(
            outdeg.select("id", F.col("val").alias("deg")), on="id", how="left"
        )
    deg, row = runner.truncate_agg(
        deg,
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("deg").isNull(), 1)).alias("n_dangling"),
    )
    n = row["n"]
    # ranks are exactly n rows every superstep — gate the forced broadcast
    # on it once (past the gate AQE decides; 'grid' mode broadcasts nothing)
    bb = broadcast_vectors and mode != "grid" and n <= BROADCAST_MAX_ROWS

    # normalize + lay the edges out ONCE; every superstep then moves only
    # the (vertex-sized) rank vector — the edge table never re-shuffles.
    # Two vector-exchange regimes (see plans/grid.py):
    # * 'broadcast': replicate the vector to every task, the DataFrame
    #   analog of CombBLAS's AllGatherVector (ParFriends.h:1884). Right
    #   while the vector is broadcast-sized; the build is driver-serial.
    # * 'grid': 2D band grid + replicate-by-shuffle — all per-superstep
    #   movement is parallel; the scale path for O(V)-row vectors.
    grid = None
    if mode == "grid":
        shape = grid_shape or auto_grid_shape(spark, edges.count())
        grid = Grid2D(spark, *shape)
    inv = deg.select("id", F.col("deg").alias("val"))
    if bb:
        inv = F.broadcast(inv)
    e_norm = dimapply(edges, inv, dim="row", binop=lambda w, d: w / d)
    if grid is not None:
        e_norm = grid.partition_edges(e_norm).persist()
    else:
        # one self row per vertex, carrying its dangling mark: the
        # superstep aggregate then yields every vertex's new rank, its old
        # rank and its mark, with no join back onto the old vector
        e_norm = self_row_layout(
            e_norm, deg.select("id", F.col("deg").isNull().alias("dng"))
        ).persist()
    e_norm.count()
    try:
        return _pagerank_iters(
            spark, e_norm, deg, grid, n, row["n_dangling"], bb, alpha, tol,
            max_iter, num_iters, runner, check_every, seeds, init_ranks,
        )
    finally:
        e_norm.unpersist()


def _pagerank_iters(
    spark, e_norm, deg, grid, n, n_dangling, bb, alpha, tol, max_iter,
    num_iters, runner, check_every, seeds, init_ranks,
):
    dangling = deg.filter(F.col("deg").isNull()).select("id")
    if bb:
        dangling = F.broadcast(dangling)

    # personalized restart vector p: uniform over seeds, else uniform over
    # all vertices. A Column expression — no extra join anywhere in the loop.
    if seeds is not None:
        p_col = F.when(
            F.col("id").isin(list(seeds)), F.lit(1.0 / len(seeds))
        ).otherwise(F.lit(0.0))
    else:
        p_col = F.lit(1.0 / n)

    start_iter = 0
    if init_ranks is not None:
        # warm start: carry the prior vector, fill vertices it has never
        # seen with 1/n, renormalize so the iteration stays on the simplex
        carried = deg.select("id").join(init_ranks, on="id", how="left").select(
            "id", F.coalesce(F.col("val"), F.lit(1.0 / n)).alias("val")
        )
        total = carried.agg(F.sum("val")).collect()[0][0] or 1.0
        ranks = carried.select("id", (F.col("val") / F.lit(total)).alias("val"))
    else:
        ranks = deg.select("id", p_col.alias("val"))
    resumed = runner.resume() if runner.dir else None
    if resumed is not None:
        start_iter, states, _ = resumed
        ranks = states["ranks"]

    def dangling_mass(r):
        return dangling.join(r, on="id").agg(F.sum("val")).collect()[0][0] or 0.0

    # the dangling mass of the starting vector; past it, each superstep's
    # cut observes the mass of the vector it writes (grid mode, whose
    # layout has no self rows, sums it afresh every superstep)
    dang_mass = dangling_mass(ranks) if n_dangling else 0.0
    iters = num_iters if num_iters is not None else max_iter
    for it in range(start_iter, iters):
        if grid is not None and n_dangling and it > start_iter:
            dang_mass = dangling_mass(ranks)
        # restart + dangling mass both redistribute along p. The uniform
        # case keeps the EXACT scalar expression (1-a)/n + a*dang/n — same
        # IEEE op order as the SQL oracle — rather than (1-a+a*dang)*(1/n),
        # which rounds differently by an ulp.
        if seeds is not None:
            reset = F.lit(1.0 - alpha + alpha * dang_mass) * p_col
        else:
            reset = F.lit((1.0 - alpha) / n + alpha * dang_mass / n)
        if grid is not None:
            contrib = spmv_grid(e_norm, ranks, grid, PLUS_TIMES)
            step = ranks.select("id", F.col("val").alias("_old")).join(
                contrib.select("id", F.col("val").alias("_s")), on="id", how="left"
            )
        else:
            step = _superstep(e_norm, ranks, bb)
        new_ranks = step.withColumn(
            "val", reset + F.lit(alpha) * F.coalesce(F.col("_s"), F.lit(0.0))
        ).drop("_s")
        # every scalar the loop reads next rides the superstep's own
        # checkpoint job: max |delta| on a check step, and the dangling
        # mass whenever there is one
        check = num_iters is None and ((it + 1) % check_every == 0 or it + 1 == iters)
        aggs = []
        if check:
            aggs.append(F.max(F.abs(F.col("val") - F.col("_old"))).alias("d"))
        if n_dangling and grid is None:
            aggs.append(F.sum(F.when(F.col("dng"), F.col("val"))).alias("dang"))
        if aggs:
            new_ranks, row = runner.truncate_agg(new_ranks, *aggs)
            if n_dangling and grid is None:
                dang_mass = row["dang"] or 0.0
        elif num_iters is None:
            new_ranks = runner.truncate(new_ranks)
        else:
            # fixed-iteration mode with nothing to observe: no in-loop
            # action — lazy lineage cuts chain every superstep into the
            # single materializing job below
            new_ranks = runner.truncate_lazy(new_ranks)
        ranks = new_ranks.select("id", "val")
        if num_iters is None:
            delta = row["d"] if check else None
            runner.save(
                it + 1,
                {"ranks": ranks},
                {"delta": float(delta) if delta is not None else None, "n": n},
            )
            if delta is not None and delta < tol:
                break
        else:
            runner.save(it + 1, {"ranks": ranks}, {"n": n})
    if num_iters is not None:
        ranks.count()  # materialize while e_norm is still cached
    return ranks


def _superstep(e_norm: DataFrame, ranks: DataFrame, bb: bool) -> DataFrame:
    """One SpMV over the self-row layout: per vertex, ``_s`` = sum of
    w * x over its in-edges (null when it has none; self rows carry a null
    w and add nothing), ``_old`` = its own rank read off its self row and
    ``dng`` = its dangling mark. A destination with no self row lies
    outside the vertex set (``vertices=`` omitted it) and is dropped. With
    the vector broadcast this is one Exchange-free aggregate over the
    cached layout."""
    x = ranks.select(F.col("id").alias("_id"), F.col("val").alias("_x"))
    if bb:
        x = F.broadcast(x)
    loop = e_norm["src"] == e_norm["dst"]
    return (
        e_norm.join(x, e_norm["src"] == x["_id"])
        .groupBy(e_norm["dst"].alias("id"))
        .agg(
            F.sum(e_norm["w"] * x["_x"]).alias("_s"),
            F.max(F.when(loop, x["_x"])).alias("_old"),
            F.max(e_norm["dng"]).alias("dng"),
        )
        .filter(F.col("_old").isNotNull())
    )


def spam_mass(
    spark: SparkSession,
    edges: DataFrame,
    trusted: list,
    alpha: float = 0.85,
    num_iters: int = 6,
) -> DataFrame:
    """TrustRank / spam-mass estimation (Gyongyi et al. 2004, 2006): run
    global PageRank and trusted-seed personalized PageRank (TrustRank) with
    the SAME alpha/superstep budget, then score every vertex by the
    fraction of its rank that does NOT flow from the trusted set —
    relative spam mass m(v) = (pr(v) - tr(v)) / pr(v). High m = rank
    earned outside the trust neighborhood, the classic link-spam signal;
    m can be negative for vertices the trust concentrates on (seeds
    themselves), which is informative and deliberately left unclamped.

    -> (id, pr, tr, spam_mass), all ROUND(.,6). pr > 0 always (teleport
    floor), so the division is total. Scale shape: two pagerank runs over
    the same once-normalized edge layout plus one vector-sized join —
    nothing new beyond the audited pagerank superstep plan.
    """
    if not trusted:
        raise ValueError("spam_mass needs a non-empty trusted seed set")
    pr = pagerank(spark, edges, alpha=alpha, num_iters=num_iters)
    tr = pagerank(spark, edges, alpha=alpha, num_iters=num_iters, seeds=trusted)
    p = pr.select("id", F.col("val").alias("_pr"))
    t = tr.select("id", F.col("val").alias("_tr"))
    return p.join(t, on="id").select(
        "id",
        F.round(F.col("_pr"), 6).alias("pr"),
        F.round(F.col("_tr"), 6).alias("tr"),
        F.round((F.col("_pr") - F.col("_tr")) / F.col("_pr"), 6).alias(
            "spam_mass"
        ),
    )


def ppr_batch(
    spark: SparkSession,
    edges: DataFrame,
    seeds: list,
    alpha: float = 0.85,
    num_iters: int = 6,
    runner: Optional[SuperstepRunner] = None,
) -> DataFrame:
    """Batched personalized PageRank: one PPR vector PER SEED, all
    advanced together through a composite-key SpMM — the ranking analog
    of msbfs. CombBLAS batches independent vectors by widening the SpMV
    into an n x k multi-vector product (FullyDistVec batches in the
    BipartiteMatchings/BFS drivers); here the batch dimension is a plain
    ``seed`` key column, so one edge-table pass per superstep serves every
    seed and the shuffle key (seed, dst) spreads hot vertices across k
    reducer keys instead of one.

    The state is SPARSE — only touched (seed, id) pairs exist, exactly the
    locality PPR has (mass concentrates near the seed), so k seeds on a
    10^10-vertex graph cost O(k * touched) not O(k * V). The teleport
    vector is e_seed: restart mass (1 - alpha), plus any dangling mass,
    returns to the seed itself each superstep — the Andersen-Chung-Lang
    setting sweep_cut already consumes. Dangling handling is a per-seed
    k-row aggregate JOINED back in (no driver collect in the loop — the
    batched form is strictly more distributed than the single-seed loop).

    Returns (seed, id, val) over the support after ``num_iters``
    supersteps, full precision (callers round for cross-engine hashing).

    Vector exchange: the batched state is at most k * V rows; while under
    BROADCAST_MAX_ROWS it is force-broadcast so the dst-partitioned cached
    edge table NEVER moves and the (seed, dst) aggregation needs no
    exchange either (HashPartitioning(dst) already clusters it) — zero
    per-superstep shuffle of edge-sized data, the CLAUDE.md superstep
    invariant. Past the gate the join falls back to shuffle (or run the
    single-seed grid mode per seed).
    """
    if not seeds:
        raise ValueError("seeds must be non-empty")
    runner = runner or SuperstepRunner(spark)

    outdeg = reduce_dim(edges, "row", F.sum)
    e_norm = dimapply(edges, outdeg, dim="row", binop=lambda w, d: w / d)
    e_norm = e_norm.repartition(
        spark.sparkContext.defaultParallelism, "dst"
    ).persist()
    e_norm.count()
    verts = _vertices(edges)
    dangling = verts.join(
        edges.select(F.col("src").alias("id")).distinct(),
        on="id",
        how="left_anti",
    ).persist()
    n_dang = dangling.count()
    n = verts.count()
    bb = n * len(seeds) <= BROADCAST_MAX_ROWS

    sdf = spark.createDataFrame(
        [(int(s),) for s in seeds], "seed long"
    ).persist()
    try:
        x = runner.truncate(
            sdf.select("seed", F.col("seed").alias("id"), F.lit(1.0).alias("val"))
        )
        for it in range(num_iters):
            xj = F.broadcast(x) if bb else x
            contrib = (
                e_norm.join(xj, e_norm["src"] == xj["id"])
                .groupBy("seed", "dst")
                .agg(
                    (F.lit(alpha) * F.sum(e_norm["w"] * xj["val"])).alias("val")
                )
                .select("seed", F.col("dst").alias("id"), "val")
            )
            restart = sdf.select("seed", F.col("seed").alias("id"))
            if n_dang:
                dm = (
                    x.join(dangling, on="id")
                    .groupBy("seed")
                    .agg(F.sum("val").alias("dm"))
                )
                restart = restart.join(dm, on="seed", how="left").select(
                    "seed",
                    "id",
                    (
                        F.lit(1.0 - alpha)
                        + F.lit(alpha) * F.coalesce("dm", F.lit(0.0))
                    ).alias("val"),
                )
            else:
                restart = restart.select(
                    "seed", "id", F.lit(1.0 - alpha).alias("val")
                )
            # max 2 rows per (seed, id) — two-operand IEEE addition is
            # commutative, so the merge is deterministic across engines.
            # Fixed-iteration kernel: lazy lineage cuts chain the
            # supersteps; the LAST one materializes eagerly while
            # e_norm/dangling/sdf are still cached.
            nxt = (
                contrib.unionByName(restart)
                .groupBy("seed", "id")
                .agg(F.sum("val").alias("val"))
            )
            x = (
                runner.truncate(nxt)
                if it == num_iters - 1
                else runner.truncate_lazy(nxt)
            )
        return x
    finally:
        e_norm.unpersist()
        dangling.unpersist()
        sdf.unpersist()
