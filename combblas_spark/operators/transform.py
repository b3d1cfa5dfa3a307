"""Structural transforms: transpose, symmetrize, loops, scaling, pruning.

Reference:
* Transpose        /root/reference/include/CombBLAS/SpParMat.cpp:3541-3600
* operator+= (A += A^T symmetrize) SpParMat.cpp:740-759 and
  Symmetricize at /root/reference/Applications/TopDownBFS.cpp:83-91
* RemoveLoops      SpParMat.cpp:3269-3288
* AddLoops         SpParMat.cpp:3290-3354 (MCL AdjustLoops MCL.cpp:462-473)
* DimApply         SpParMat.cpp:799-884 (MCL MakeColStochastic MCL.cpp:388-394)
* Apply / Prune / PruneI  SpParMat.h:147-189
* PruneColumn      SpParMat.cpp:2578-2656
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
import pyspark.sql.functions as F


def transpose(edges: DataFrame) -> DataFrame:
    """A^T — swap src/dst. Zero-shuffle (projection only)."""
    return edges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"), F.col("w")
    )


def symmetrize(
    edges: DataFrame, add: Callable[[Column], Column] = F.sum
) -> DataFrame:
    """A <- A + A^T, overlapping entries combined with ``add``."""
    return (
        edges.unionByName(transpose(edges))
        .groupBy("src", "dst")
        .agg(add(F.col("w")).alias("w"))
    )


def remove_loops(edges: DataFrame) -> DataFrame:
    return edges.filter(F.col("src") != F.col("dst"))


def dimapply(
    edges: DataFrame,
    vec: DataFrame,
    dim: str = "col",
    binop: Callable[[Column, Column], Column] = lambda w, v: w * v,
) -> DataFrame:
    """Scale each row/column by a vector element: w' = binop(w, vec[key]).

    dim='col' joins on dst (column scaling — MakeColStochastic),
    dim='row' joins on src (row scaling — PageRank's A * D^-1).
    The vector is per-vertex (small relative to edges): AQE broadcasts it.
    """
    key = "dst" if dim == "col" else "src"
    vv = vec.select(F.col("id"), F.col("val").alias("_dimval"))
    return (
        edges.join(vv, on=edges[key] == vv["id"], how="inner")
        .select(
            edges["src"], edges["dst"], binop(edges["w"], F.col("_dimval")).alias("w")
        )
    )


def apply_values(edges: DataFrame, unop: Callable[[Column], Column]) -> DataFrame:
    """Map over stored values (SpParMat::Apply) — e.g. MCL Inflate pow(w, r)."""
    return edges.select("src", "dst", unop(F.col("w")).alias("w"))


def prune(edges: DataFrame, pred: Column) -> DataFrame:
    """Drop nonzeros where ``pred`` holds (SpParMat::Prune/PruneI —
    pred may reference src, dst and w)."""
    return edges.filter(~pred)


def prune_rc(
    edges: DataFrame, ri: DataFrame, ci: DataFrame, full: bool = False
) -> DataFrame:
    """Drop entries with row in ri AND col in ci (SpParMat::Prune(ri,ci),
    SpParMat.cpp:2484); ``full=True`` drops row in ri OR col in ci
    (PruneFull, SpParMat.cpp:2533). ``ri``/``ci`` are vertex sets (id)."""
    r = ri.select(F.col("id").alias("src"))
    c = ci.select(F.col("id").alias("dst"))
    if full:
        return edges.join(r, on="src", how="left_anti").join(
            c, on="dst", how="left_anti"
        )
    # in-both is the intersection: remove rows matching r AND c
    hit = edges.join(r, on="src", how="leftsemi").join(c, on="dst", how="leftsemi")
    return edges.join(hit.select("src", "dst"), on=["src", "dst"], how="left_anti")


def prune_column_by_index(edges: DataFrame, ci: DataFrame) -> DataFrame:
    """Drop whole columns listed in ci (SpParMat::PruneColumnByIndex,
    SpParMat.cpp:2660)."""
    return edges.join(ci.select(F.col("id").alias("dst")), on="dst", how="left_anti")


def prune_column(
    edges: DataFrame,
    thresholds: DataFrame,
    keep: Callable[[Column, Column], Column] = lambda w, t: w >= t,
) -> DataFrame:
    """Per-column threshold prune (SpParMat::PruneColumn, SpParMat.cpp:2578):
    keep a[src,dst] iff keep(w, thresholds[dst]). ``thresholds`` is (id, val)."""
    tt = thresholds.select(F.col("id"), F.col("val").alias("_thr"))
    return (
        edges.join(tt, on=edges["dst"] == tt["id"], how="inner")
        .filter(keep(F.col("w"), F.col("_thr")))
        .select("src", "dst", "w")
    )


def quotient(edges: DataFrame, mapping: DataFrame) -> DataFrame:
    """Quotient (contraction) of the graph by a vertex attribute — the
    host-graph collapse of web-graph practice: every vertex maps to a group
    via ``mapping`` (id, g), and the quotient edge (gsrc, gdst) aggregates
    all underlying edges, self-groups included (intra-group mass is the
    diagonal). The attribute-keyed sibling of the matching-based contraction
    in algorithms/coarsen.py (reference Galerkin triple product
    /root/reference/include/CombBLAS/ParFriends.h:1447 with an indicator R):
    quotient(A, g) = R A R^T where R is the group indicator matrix, here two
    hash joins + one partial+final aggregate.

    Vertices missing from ``mapping`` are dropped with their edges (inner
    join) — quotient over a partial attribute is the induced-subgraph
    quotient. -> (gsrc, gdst, w = SUM of edge weights, n_edges BIGINT).
    """
    ms = mapping.select(F.col("id").alias("src"), F.col("g").alias("gsrc"))
    md = mapping.select(F.col("id").alias("dst"), F.col("g").alias("gdst"))
    return (
        edges.join(ms, on="src")
        .join(md, on="dst")
        .groupBy("gsrc", "gdst")
        .agg(
            F.sum("w").alias("w"),
            F.count(F.lit(1)).cast("long").alias("n_edges"),
        )
    )
