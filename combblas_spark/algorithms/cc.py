"""Connected components: min-label, FastSV, and the LACC hook/star schedule.

Reference:
* LACC driver loop  /root/reference/Applications/CC.h:1404-1544
  (ConditionalHook :1194, StarCheck :1125, UnconditionalHook2 :1242,
  Shortcut :1331 — all built on SpMV<Select2ndMinSR>, Extract, Assign)
* FastSV            /root/reference/Applications/FastSV.h:336-374
  (mngp = SpMV-min, stochastic + aggressive hooking, shortcutting)
* label canonicalization LabelCC /root/reference/Applications/CC.h:1383-1401

Three implementations:
* ``cc_minlabel`` — propagate min neighbor label to a fixpoint. O(diameter)
  supersteps, each ONE join+agg. Simple, exact; the oracle-parity path.
* ``cc_fastsv``  — grandparent hooking + shortcutting, O(log n) supersteps
  of ~4 joins each. The 100TB path: on a web-scale graph with diameter in
  the hundreds, min-label is unusable; FastSV converges in ~log(n) rounds.
* ``cc_lacc``    — the reference's flagship schedule (conditional hook of
  star roots onto smaller neighbor parents, star check, unconditional hook
  of leftover stars into non-star trees, shortcut). Output-equivalent to
  FastSV after canonicalization; kept for algorithmic parity with CC.h.

All expect an UNDIRECTED graph (pass a symmetrized edge table).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from combblas_spark.core.semiring import SELECT2ND_MIN
from combblas_spark.core.tuning import BROADCAST_MAX_ROWS, self_row_layout
from combblas_spark.operators.multiply import spmv
from combblas_spark.operators.ewise import ewise_apply_vec
from combblas_spark.operators.indexing import vec_gather, vec_assign
from combblas_spark.plans.grid import Grid2D, auto_grid_shape, spmv_grid
from combblas_spark.plans.superstep import SuperstepRunner


def _vertices(edges: DataFrame) -> DataFrame:
    return (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )


def cc_minlabel(
    spark: SparkSession,
    edges: DataFrame,
    max_iter: int = 200,
    runner: Optional[SuperstepRunner] = None,
    vertices: Optional[DataFrame] = None,
    broadcast_vectors: bool = True,
    check_every: int = 1,
    mode: str = "broadcast",
    grid_shape: Optional[tuple[int, int]] = None,
) -> DataFrame:
    """(id, val) with val = min vertex id in the component (canonical).

    Superstep = SpMV<Select2ndMin> over A + I: the cached layout carries
    one self row (v, v) per vertex (AddLoops, SpParMat.cpp:3290), so
    new[v] = min(x) over v's neighbors AND v itself, the old least(old, mn)
    fold. The self row also gives the aggregate v's OLD label,
    ``_old = min(x where src == dst)``, so the ``moved`` flag
    (new < old) is computed in the same aggregate, and ``truncate_agg``
    sums it inside the checkpoint job (plans/superstep.py). A superstep is
    one vector broadcast and one Exchange-free aggregate over the cache.

    Round 6 dropped A + I for a left join of the neighbor minimum onto the
    old vector, because the diagonal alone gave no old value, and
    convergence then needed a separate old-versus-new join. Here the old
    value rides in the same aggregate, which removes both that join and
    the broadcast of the neighbor minima back to every task.
    Convergence (changed == 0) is checked every ``check_every`` supersteps.
    ``mode='grid'`` uses the 2D band-grid vector exchange (plans/grid.py)
    instead of a label-vector broadcast — the O(V)-row-vector scale path.
    """
    runner = runner or SuperstepRunner(spark)
    e = edges.select("src", "dst")
    grid = None
    if mode == "grid":
        shape = grid_shape or auto_grid_shape(spark, e.count())
        grid = Grid2D(spark, *shape)
        # select2nd ignores w — drop it from the cached layout
        e = grid.partition_edges(e, with_w=False)
    else:
        own = (
            vertices.select("id") if vertices is not None
            else e.select(F.col("dst").alias("id")).distinct()
        )
        e = self_row_layout(e, own)
    e.persist()
    try:
        if vertices is not None:
            verts = vertices.select("id")
        elif grid is None:
            # symmetric-input contract: the dst side alone covers every
            # vertex, and deriving it from the dst-clustered cache keeps
            # the distinct Exchange-free
            verts = e.select(F.col("dst").alias("id")).distinct()
        else:
            verts = _vertices(edges)
        labels = verts.select("id", F.col("id").alias("val"))
        resumed = runner.resume() if runner.dir else None
        start = 0
        if resumed is not None:
            start, states, _ = resumed
            labels = states["labels"]
        # labels are O(V) rows every superstep — gate the forced broadcast
        # once on |V|, counted inside the first cut's job (past the gate
        # AQE decides; 'grid' broadcasts nothing)
        labels, row = runner.truncate_agg(labels, F.count(F.lit(1)).alias("n"))
        bb = broadcast_vectors and grid is None and row["n"] <= BROADCAST_MAX_ROWS

        for it in range(start, max_iter):
            if grid is not None:
                mn = spmv_grid(e, labels, grid, SELECT2ND_MIN)
                mnr = mn.select(F.col("id"), F.col("val").alias("_mn"))
                step = labels.join(mnr, on="id", how="left").select(
                    "id",
                    F.when(F.col("_mn") < F.col("val"), F.col("_mn"))
                    .otherwise(F.col("val"))
                    .alias("val"),
                    (F.col("_mn") < F.col("val")).cast("long").alias("_moved"),
                )
            else:
                step = _minlabel_step(e, labels, bb)
            changed = None
            if (it + 1) % check_every == 0 or it + 1 == max_iter:
                new_labels, row = runner.truncate_agg(
                    step, F.sum("_moved").alias("c")
                )
                changed = int(row["c"] or 0)
            else:
                new_labels = runner.truncate(step)
            labels = new_labels.select("id", "val")
            runner.save(it + 1, {"labels": labels}, {"changed": changed})
            if changed == 0:
                break
        return labels
    finally:
        e.unpersist()


def _minlabel_step(e: DataFrame, labels: DataFrame, bb: bool) -> DataFrame:
    """One min-label superstep over the self-row layout: ``val`` = the min
    label over v's neighbors and v itself, ``_moved`` = 1 where it fell
    below v's own label (read off the self row). A destination with no
    self row lies outside the vertex set and is dropped."""
    x = labels.select(F.col("id").alias("_id"), F.col("val").alias("_x"))
    if bb:
        x = F.broadcast(x)
    loop = e["src"] == e["dst"]
    return (
        e.join(x, e["src"] == x["_id"])
        .groupBy(e["dst"].alias("id"))
        .agg(F.min(x["_x"]).alias("val"), F.min(F.when(loop, x["_x"])).alias("_old"))
        .filter(F.col("_old").isNotNull())
        .select("id", "val", (F.col("val") < F.col("_old")).cast("long").alias("_moved"))
    )


def cc_fastsv(
    spark: SparkSession,
    edges: DataFrame,
    max_iter: int = 100,
    runner: Optional[SuperstepRunner] = None,
    vertices: Optional[DataFrame] = None,
    broadcast_vectors: bool = True,
) -> DataFrame:
    """FastSV (FastSV.h:336-374): per superstep

    1. gf[v]   = f[f[v]]                      (grandparent gather)
    2. mngf[v] = min_{u in N(v)} gf[u]        (SpMV, Select2ndMin)
    3. f[f[v]] = min(f[f[v]], mngf[v])        (stochastic hooking, scatter-min)
    4. f[v]    = min(f[v], mngf[v])           (aggressive hooking)
    5. f[v]    = min(f[v], f[f[v]])           (shortcutting)

    Converges when f is unchanged. Returns (id, val=component root id);
    roots are component minima, so labels are canonical.
    """
    runner = runner or SuperstepRunner(spark)
    verts = (vertices or _vertices(edges)).select("id")
    # the parent vector f is O(V) rows — gate every forced broadcast on |V|
    bb = broadcast_vectors and verts.count() <= BROADCAST_MAX_ROWS
    edges = edges.select("src", "dst", "w").repartition(
        spark.sparkContext.defaultParallelism, "dst"
    )
    edges.persist()
    try:
        return _fastsv_loop(edges, verts, max_iter, runner, bb)
    finally:
        edges.unpersist()


def _fastsv_loop(edges, verts, max_iter, runner, bb):
    f = verts.select("id", F.col("id").alias("val"))
    resumed = runner.resume() if runner.dir else None
    start = 0
    if resumed is not None:
        start, states, _ = resumed
        f = states["f"]
    f = runner.truncate(f)

    for it in range(start, max_iter):
        # 1. grandparent
        gf = vec_gather(f, f, broadcast_vec=bb)  # gf[v] = f[f[v]]
        # 2. min grandparent over neighbors
        mngf = spmv(edges, gf, SELECT2ND_MIN, broadcast_x=bb)
        # 3. stochastic hooking: scatter min(mngf[v]) onto id = f[v]
        hooks = (
            f.alias("fv")
            .join(F.broadcast(mngf.alias("m")) if bb else mngf.alias("m"), on="id", how="inner")
            .select(F.col("fv.val").alias("id"), F.col("m.val").alias("val"))
        )
        f1 = vec_assign(f, hooks, dedup=F.min, combine=F.least, broadcast_updates=bb)
        # 4. aggressive hooking: f[v] = min(f[v], mngf[v])
        f2 = ewise_apply_vec(
            f1, mngf, lambda a, b: F.least(a, b), how="left",
            y_fill=F.col("val_x"), broadcast_y=bb,
        )
        # 5. shortcutting: f[v] = min(f[v], f[f[v]])
        gf2 = vec_gather(f2, f2, broadcast_vec=bb)
        f3 = ewise_apply_vec(
            f2, gf2, lambda a, b: F.least(a, b), how="left",
            y_fill=F.col("val_x"), broadcast_y=bb,
        )
        f3 = runner.truncate(f3)
        changed = (
            f3.alias("n")
            .join(F.broadcast(f.alias("o")) if bb else f.alias("o"), on="id")
            .filter(F.col("n.val") != F.col("o.val"))
            .count()
        )
        f = f3
        runner.save(it + 1, {"f": f}, {"changed": int(changed)})
        if changed == 0:
            break
    return f


def _lacc_nonstars(f: DataFrame, bb: bool) -> DataFrame:
    """Sparse (id)-set of NON-star vertices of the parent forest ``f``
    (StarCheck, CC.h:1125-1192, the Shiloach-Vishkin star test): a vertex is
    non-star iff it is marked (it has a grandparent differing from its
    parent, or it IS such a grandparent) or its parent is marked — the
    mark-then-copy-parent's-flag schedule, keeping one's own mark."""
    gp = vec_gather(f, f, broadcast_vec=bb)  # gp[v] = f[f[v]]
    deep = (
        f.alias("p")
        .join(F.broadcast(gp.alias("g")) if bb else gp.alias("g"), on="id")
        .filter(F.col("p.val") != F.col("g.val"))
    )
    marks = (
        deep.select("id")
        .unionByName(deep.select(F.col("g.val").alias("id")))
        .distinct()
    )
    parent_marked = f.join(
        F.broadcast(marks.select(F.col("id").alias("_m"))) if bb
        else marks.select(F.col("id").alias("_m")),
        on=f["val"] == F.col("_m"),
    ).select("id")
    return marks.unionByName(parent_marked).distinct()


def cc_lacc(
    spark: SparkSession,
    edges: DataFrame,
    max_iter: int = 100,
    runner: Optional[SuperstepRunner] = None,
    vertices: Optional[DataFrame] = None,
    broadcast_vectors: bool = True,
) -> DataFrame:
    """LACC (CC.h:1404-1544 driver schedule) on the Extract/Assign/SpMV
    operators. Per superstep:

    1. ConditionalHook (CC.h:1194): every STAR vertex v computes
       mnp[v] = min over neighbors of parent[u] (SpMV<Select2ndMin>); if
       mnp[v] < parent[v], scatter parent[parent[v]] <- mnp[v] (min on
       collision — strictly decreasing, so no cycles).
    2. StarCheck (CC.h:1125) recomputed on the hooked forest.
    3. UnconditionalHook2 (CC.h:1242): each remaining STAR vertex takes the
       min parent among NON-star neighbors only (sparse SpMV over the
       non-star parents) and its root hooks there unconditionally — a star
       always hooks into a non-star tree, so no cycles (LACC paper's proof).
    4. Shortcut (CC.h:1331): parent = parent[parent], trivially identity
       for stars.

    Converges when the parent vector is stable (every tree is then a star
    and no edge crosses two trees). Returns CANONICAL (id, val = min member
    id) labels via canonical_labels, so results compare exactly with
    cc_fastsv / cc_minlabel.
    """
    runner = runner or SuperstepRunner(spark)
    verts = (vertices or _vertices(edges)).select("id")
    bb = broadcast_vectors and verts.count() <= BROADCAST_MAX_ROWS
    edges = edges.select("src", "dst", "w").repartition(
        spark.sparkContext.defaultParallelism, "dst"
    )
    edges.persist()
    try:
        f = runner.truncate(verts.select("id", F.col("id").alias("val")))
        for it in range(max_iter):
            # 1. conditional hook: stars with a smaller neighbor parent
            mnp = spmv(edges, f, SELECT2ND_MIN, broadcast_x=bb)
            nonstars = _lacc_nonstars(f, bb)
            hooks = (
                f.alias("p")
                .join(mnp.alias("m"), on="id")
                .join(nonstars, on="id", how="left_anti")
                .filter(F.col("m.val") < F.col("p.val"))
                .select(F.col("p.val").alias("id"), F.col("m.val").alias("val"))
            )
            f1 = runner.truncate(
                vec_assign(f, hooks, dedup=F.min, combine=F.least,
                           broadcast_updates=bb)
            )
            # 2-3. star check, then unconditional hook of leftover stars
            nonstars1 = _lacc_nonstars(f1, bb)
            p_nonstar = f1.join(nonstars1, on="id")  # parents of non-stars
            mnsp = spmv(edges, p_nonstar, SELECT2ND_MIN, broadcast_x=bb)
            uhooks = (
                f1.alias("p")
                .join(mnsp.alias("m"), on="id")
                .join(nonstars1, on="id", how="left_anti")
                .select(F.col("p.val").alias("id"), F.col("m.val").alias("val"))
            )
            f2 = vec_assign(
                f1, uhooks, dedup=F.min, combine=lambda old, new: new,
                broadcast_updates=bb,
            )
            # 4. shortcut: f = f[f] for every vertex
            f3 = runner.truncate(vec_gather(f2, f2, broadcast_vec=bb))
            changed = (
                f3.alias("n")
                .join(F.broadcast(f.alias("o")) if bb else f.alias("o"), on="id")
                .filter(F.col("n.val") != F.col("o.val"))
                .count()
            )
            f = f3
            runner.save(it + 1, {"f": f}, {"changed": int(changed)})
            if changed == 0:
                break
        return canonical_labels(f)
    finally:
        edges.unpersist()


def canonical_labels(labels: DataFrame) -> DataFrame:
    """Renumber component labels to the min vertex id per component
    (LabelCC analog, CC.h:1383-1401 — there 0..k, here canonical-min so two
    implementations compare exactly)."""
    rep = labels.groupBy("val").agg(F.min("id").alias("rep"))
    return labels.join(rep, on="val").select("id", F.col("rep").alias("val"))


def cc_trace(
    spark: SparkSession,
    edges: DataFrame,
    num_iters: int = 8,
    runner: Optional[SuperstepRunner] = None,
) -> DataFrame:
    """Per-superstep convergence metrics of min-label CC as a DataFrame:
    (iter, n_changed, n_labels) — the iteration-metrics surface the
    SuperstepRunner writes into manifests (``SuperstepRunner.save``'s
    manifest ``metrics``), exposed as a queryable table so convergence
    dashboards and resume decisions are driver-graded data, not log
    lines. Both metrics are exact integers (n_changed = labels that moved
    this superstep, n_labels = distinct labels remaining — a monotone upper
    bound on components).

    Same plan per superstep as cc_minlabel (one SpMV<Select2ndMin> over
    the A + I self-row layout, whose aggregate also yields the ``moved``
    flag, lineage cut per superstep); each iteration contributes one lazy
    1-row aggregate over its OWN checkpoint — no old-vs-new join and NO
    driver action inside the loop.
    """
    runner = runner or SuperstepRunner(spark)
    e = edges.select("src", "dst")
    e = self_row_layout(e, e.select(F.col("dst").alias("id")).distinct())
    e.persist()
    try:
        verts = e.select(F.col("dst").alias("id")).distinct()
        labels = runner.truncate(verts.select("id", F.col("id").alias("val")))
        rows = []
        for it in range(1, num_iters + 1):
            new_labels = runner.truncate(_minlabel_step(e, labels, True))
            rows.append(
                new_labels.agg(
                    F.lit(it).cast("long").alias("iter"),
                    F.sum("_moved").cast("long").alias("n_changed"),
                    F.countDistinct("val").cast("long").alias("n_labels"),
                )
            )
            labels = new_labels.select("id", "val")
        out = rows[0]
        for r in rows[1:]:
            out = out.unionByName(r)
        return out
    finally:
        e.unpersist()
