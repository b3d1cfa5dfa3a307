"""Gather / scatter / subscripting — join-based selection & assignment.

Reference:
* SubsRef  A(ri,ci) with renumbering  /root/reference/include/CombBLAS/SpParMat.cpp:2028-2263
  (implemented there as SpGEMM with permutation matrices on Bool semirings;
  here: two mapping-table joins — same relational meaning, no SpGEMM needed)
* SpAsgn   A(ri,ci) = B               SpParMat.cpp:2435-2481
* Extract (adaptive gather)           /root/reference/Applications/CC.h:419-575
* Assign  (scatter w/ min dedup)      /root/reference/Applications/CC.h:746-896
* FullyDistVec::Set                   FullyDistVec.cpp:1036-1070
* FullyDistSpVec::Invert              FullyDistSpVec.cpp:1799-2160
* FullyDistSpVec::Uniq                FullyDistSpVec.cpp:1029
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
import pyspark.sql.functions as F


def subsref(edges: DataFrame, ri: DataFrame, ci: DataFrame) -> DataFrame:
    """A(ri, ci): keep entries with src in ri and dst in ci, renumbered.

    ``ri``/``ci`` are mapping tables (new_id, old_id) — the permutation
    matrices of SpParMat.cpp:2028 as relations. Broadcast-sized in practice.
    """
    r = ri.select(F.col("new_id").alias("_r_new"), F.col("old_id").alias("_r_old"))
    c = ci.select(F.col("new_id").alias("_c_new"), F.col("old_id").alias("_c_old"))
    return (
        edges.join(r, on=edges["src"] == r["_r_old"], how="inner")
        .join(c, on=edges["dst"] == c["_c_old"], how="inner")
        .select(
            F.col("_r_new").alias("src"), F.col("_c_new").alias("dst"), F.col("w")
        )
    )


def vec_gather(
    vec: DataFrame, indices: DataFrame, broadcast_vec: bool = False
) -> DataFrame:
    """out[i] = vec[indices[i]] — the Extract gather (CC.h:419). ``indices``
    is (id, val) where val is the index to fetch. ``broadcast_vec=True`` is
    the reference's adaptive `replicate` fast path (CC.h:367-375: broadcast
    the owner slab when cheaper than alltoall); leave False to let AQE
    decide from runtime stats."""
    vv = vec.select(F.col("id").alias("_vid"), F.col("val").alias("_vval"))
    if broadcast_vec:
        vv = F.broadcast(vv)
    return (
        indices.join(vv, on=indices["val"] == vv["_vid"], how="inner")
        .select(indices["id"], F.col("_vval").alias("val"))
    )


def vec_assign(
    vec: DataFrame,
    updates: DataFrame,
    dedup: Callable[[Column], Column] = F.min,
    combine: Callable[[Column, Column], Column] = lambda old, new: new,
    broadcast_updates: bool = False,
) -> DataFrame:
    """Scatter with duplicate-key reduction (CC.h:746 Assign/ReduceAssign):
    vec[u.id] <- combine(vec[u.id], dedup(updates for that id))."""
    agg = updates.groupBy("id").agg(dedup(F.col("val")).alias("_new"))
    if broadcast_updates:
        agg = F.broadcast(agg)
    return (
        vec.join(agg, on="id", how="left")
        .select(
            "id",
            F.when(F.col("_new").isNull(), F.col("val"))
            .otherwise(combine(F.col("val"), F.col("_new")))
            .alias("val"),
        )
    )


def vec_set(vec: DataFrame, sparse: DataFrame) -> DataFrame:
    """Overwrite dense entries at sparse indices (FullyDistVec::Set)."""
    ss = sparse.select("id", F.col("val").alias("_sval"))
    return vec.join(ss, on="id", how="left").select(
        "id", F.coalesce(F.col("_sval"), F.col("val")).alias("val")
    )


def invert(
    vec: DataFrame, dedup: Callable[[Column], Column] = F.min
) -> DataFrame:
    """value <-> index inversion with duplicate policy (FullyDistSpVec::Invert)."""
    return (
        vec.select(F.col("val").alias("id"), F.col("id").alias("val"))
        .groupBy("id")
        .agg(dedup(F.col("val")).alias("val"))
    )


def _global_ranks(df: DataFrame, order_cols: list[Column]) -> DataFrame:
    """Append a dense 0..n-1 ``rank`` column in ``order_cols`` order WITHOUT
    a single-partition window: range-partitioned sort (Spark's sample sort,
    the parallel analog of SpParHelper.cpp:103-190 memory-efficient sort),
    then rank = per-partition row offset + per-partition sequence. The
    per-partition counts are one tiny collect; the sequence comes from
    monotonically_increasing_id on the materialized sorted partitions —
    no global shuffle to one task anywhere.

    ``order_cols`` must be a total order (include a tiebreaker) or ranks of
    ties are partition-order dependent.
    """
    s = df.orderBy(*order_cols).localCheckpoint()  # pin partition layout
    counts = {
        r["p"]: r["count"]
        for r in s.groupBy(F.spark_partition_id().alias("p")).count().collect()
    }
    n_parts = (max(counts) + 1) if counts else 1
    offsets, acc = [], 0
    for p in range(n_parts):
        offsets.append(acc)
        acc += counts.get(p, 0)
    off_arr = F.array(*[F.lit(int(o)).cast("long") for o in offsets])
    pid = F.spark_partition_id()
    seq = F.monotonically_increasing_id() - F.shiftleft(pid.cast("long"), 33)
    return s.withColumn("rank", F.element_at(off_arr, pid + 1) + seq)


def vec_sort(vec: DataFrame) -> DataFrame:
    """Global sort by value returning the permutation (FullyDistVec::sort,
    FullyDistVec.cpp:747): output (rank, orig_id, val). Range-partitioned
    sample sort + per-partition offsets — fully parallel (the previous
    un-partitioned Window funneled the whole vector through one task)."""
    return _global_ranks(vec, [F.col("val").asc(), F.col("id").asc()]).select(
        F.col("rank"), F.col("id").alias("orig_id"), F.col("val")
    )


def randperm(vec: DataFrame, seed: int = 42) -> DataFrame:
    """Seeded random permutation (FullyDistVec::RandPerm, FullyDistVec.cpp:784)
    — the reference's load-balancing relabeling (CC.cpp:166). Deterministic
    under a fixed seed AND partitioning-independent, yet fully parallel
    (sample sort, no global window). The sort key is the md5-60bit of
    "seed|id" — engine-portable (same trick as mis/minhash), so a SQL
    oracle replays the permutation byte-for-byte."""
    prio = F.conv(
        F.substring(
            F.md5(F.concat_ws("|", F.lit(seed), F.col("id").cast("string"))), 1, 15
        ),
        16, 10,
    ).cast("long")
    ranked = _global_ranks(vec.select("id"), [prio, F.col("id")])
    return ranked.select("id", F.col("rank").alias("val"))


def relabel_edges(edges: DataFrame, mapping: DataFrame) -> DataFrame:
    """Apply an id->new-id mapping to both endpoints (RenameVertices,
    DistEdgeList.cpp:364). ``mapping`` is (id, val=new id)."""
    ms = mapping.select(F.col("id").alias("src"), F.col("val").alias("_ns"))
    md = mapping.select(F.col("id").alias("dst"), F.col("val").alias("_nd"))
    return (
        edges.join(ms, on="src")
        .join(md, on="dst")
        .select(F.col("_ns").alias("src"), F.col("_nd").alias("dst"), F.col("w"))
    )


def permute_edges(edges: DataFrame, seed: int = 42) -> DataFrame:
    """Deterministic random shuffle of edge placement (PermEdges,
    DistEdgeList.cpp:294 — destroys generator locality). Spark reading:
    repartition by a seeded hash of the edge, which is exactly the load
    purpose the reference uses it for."""
    p = edges.sparkSession.sparkContext.defaultParallelism
    return edges.repartition(
        p, F.xxhash64(F.col("src"), F.col("dst"), F.lit(seed))
    )


def vec_min_element(vec: DataFrame) -> tuple[int, float]:
    """(argmin, min) — FullyDistVec::MinElement (FullyDistVec.cpp:138)."""
    row = vec.orderBy(F.col("val").asc(), F.col("id").asc()).limit(1).collect()[0]
    return int(row["id"]), row["val"]


def induced_subgraphs(edges: DataFrame, assignment: DataFrame) -> DataFrame:
    """Edges whose endpoints share a cluster, tagged + partitioned by that
    cluster (SpParMat::InducedSubgraphs2Procs, SpParMat.cpp:4920: route each
    cluster's induced subgraph to one process). Downstream per-cluster
    kernels use groupBy('cluster').applyInPandas on the result."""
    a_s = assignment.select(F.col("id").alias("src"), F.col("val").alias("_cs"))
    a_d = assignment.select(F.col("id").alias("dst"), F.col("val").alias("_cd"))
    p = edges.sparkSession.sparkContext.defaultParallelism
    return (
        edges.join(a_s, on="src")
        .join(a_d, on="dst")
        .filter(F.col("_cs") == F.col("_cd"))
        .select("src", "dst", "w", F.col("_cs").alias("cluster"))
        .repartition(p, "cluster")
    )


def block_split(edges: DataFrame, br: int, bc: int, n: int) -> list[list[DataFrame]]:
    """Split an n x n matrix into br x bc sub-DataFrames by index range
    (SpParMat::BlockSplit, SpParMat.cpp:2985). Each block is a filter over
    the same cached parent — no data movement until a block is used."""
    rstep = (n + br - 1) // br
    cstep = (n + bc - 1) // bc
    out = []
    for i in range(br):
        row = []
        for j in range(bc):
            row.append(
                edges.filter(
                    (F.col("src") >= i * rstep) & (F.col("src") < (i + 1) * rstep)
                    & (F.col("dst") >= j * cstep) & (F.col("dst") < (j + 1) * cstep)
                )
            )
        out.append(row)
    return out


def concatenate(vecs: list[DataFrame]) -> DataFrame:
    """Stack vectors with offset ids (Concatenate, ParFriends.h:60). All
    input lengths come from ONE tagged-union aggregation job (the round-1
    version issued a driver count() per vector inside the loop)."""
    tagged = None
    for i, v in enumerate(vecs):
        t = v.select(F.lit(i).alias("_k"), "id", "val")
        tagged = t if tagged is None else tagged.unionByName(t)
    if tagged is None:
        raise ValueError("concatenate of zero vectors")
    counts = {r["_k"]: r["c"] for r in tagged.groupBy("_k").agg(F.count(F.lit(1)).alias("c")).collect()}
    offsets, acc = [], 0
    for i in range(len(vecs)):
        offsets.append(acc)
        acc += counts.get(i, 0)
    off_arr = F.array(*[F.lit(int(o)).cast("long") for o in offsets])
    return tagged.select(
        (F.col("id") + F.element_at(off_arr, F.col("_k") + 1)).alias("id"), F.col("val")
    )


def iota(spark, n: int, start: int = 0) -> DataFrame:
    """Dense consecutive-int vector (FullyDistVec::iota)."""
    return spark.range(n).select(
        F.col("id"), (F.col("id") + F.lit(start)).alias("val")
    )


def uniq(vec: DataFrame, dedup: Callable[[Column], Column] = F.min) -> DataFrame:
    """Deduplicate values keeping dedup(index) (FullyDistSpVec::Uniq)."""
    return (
        vec.groupBy(F.col("val"))
        .agg(dedup(F.col("id")).alias("id"))
        .select("id", "val")
    )
