"""Row/column reductions (degrees, column sums, maxima).

Reference: SpParMat::Reduce /root/reference/include/CombBLAS/SpParMat.cpp:886-1116;
LoadImbalance SpParMat.cpp:761-770.
"""

from __future__ import annotations

from typing import Callable, Optional

from pyspark.sql import Column, DataFrame
import pyspark.sql.functions as F


def reduce_dim(
    edges: DataFrame,
    dim: str = "row",
    add: Callable[[Column], Column] = F.sum,
    unop: Optional[Callable[[Column], Column]] = None,
) -> DataFrame:
    """Fold nonzeros per row (group by src) or per column (group by dst).

    Returns (id, val). Rows/columns with no nonzeros are simply absent —
    hypersparse semantics; callers that need the identity fill do an outer
    join against the vertex table (Spark analog of the reference's dense
    output vector initialized to ``id``).
    """
    key = "src" if dim == "row" else "dst"
    v = unop(F.col("w")) if unop is not None else F.col("w")
    return edges.groupBy(F.col(key).alias("id")).agg(add(v).alias("val"))


def masked_reduce(
    edges: DataFrame,
    mask: DataFrame,
    dim: str = "col",
    add: Callable[[Column], Column] = F.sum,
    unop: Optional[Callable[[Column], Column]] = None,
    exclude: bool = False,
) -> DataFrame:
    """Column/row reduce restricted to masked rows (SpParMat::MaskedReduce,
    SpParMat.cpp:1847-1990). ``mask`` is a vertex set (id); ``exclude``
    flips to the complement — semi vs anti join, then the same groupBy."""
    other = "src" if dim == "col" else "dst"
    how = "left_anti" if exclude else "leftsemi"
    m = mask.select(F.col("id").alias(other))
    return reduce_dim(edges.join(m, on=other, how=how), dim, add, unop)


def bandwidth(edges: DataFrame) -> int:
    """max |src - dst| over nonzeros (SpParMat::Bandwidth, SpParMat.cpp:1742)."""
    row = edges.agg(F.max(F.abs(F.col("src") - F.col("dst"))).alias("b")).collect()[0]
    return int(row["b"] or 0)


def profile(edges: DataFrame) -> int:
    """sum over rows of (row max col - row min col) — SpParMat::Profile."""
    row = (
        edges.groupBy("src")
        .agg((F.max("dst") - F.min("dst")).alias("spread"))
        .agg(F.sum("spread").alias("p"))
        .collect()[0]
    )
    return int(row["p"] or 0)


def degree_histogram(edges: DataFrame, dim: str = "row") -> DataFrame:
    """Log2-bucketed degree distribution — the Graph500 kernel-1 summary
    (the reference prints per-run nnz/row statistics from the same
    reduction: SpParMat::Reduce row counts, SpParMat.cpp:886-1116).

    -> (bucket BIGINT, n_vertices BIGINT, min_deg BIGINT, max_deg BIGINT)
    with bucket = floor(log2(deg)) — i.e. bucket b covers degrees
    [2^b, 2^(b+1)). Computed as bit_length(deg)-1 via bin() so the bucket
    boundary at exact powers of two is integer-exact in every engine (a
    float log2(8) can land at 2.9999... and mis-bucket). Two
    map-side-combinable hash aggregations; output is O(log V) rows
    regardless of scale.
    """
    key = "src" if dim == "row" else "dst"
    deg = edges.groupBy(F.col(key).alias("id")).agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    return (
        deg.select(
            (F.length(F.bin(F.col("deg"))) - 1).cast("long").alias("bucket"),
            "deg",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vertices"),
            F.min("deg").alias("min_deg"),
            F.max("deg").alias("max_deg"),
        )
    )
