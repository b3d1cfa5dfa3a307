"""Shared scale-tuning knobs for the iterative kernels.

``BROADCAST_MAX_ROWS``: above this many rows a per-superstep vector is never
FORCE-broadcast — the plan falls back to a shuffle join (AQE may still
broadcast from runtime stats). A driver-built broadcast of an O(V)-row
vector is the serial fraction that caps N->4N scaling (plans/grid.py); one
shared constant makes the invariant grep-auditable: every ``F.broadcast`` of
an iteration vector in this package is gated on a known row count against
this limit (or the kernel runs in ``mode='grid'`` and broadcasts nothing).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
import pyspark.sql.functions as F

#: 4M rows of (long, double) ~ 64 MB serialized — comfortably under
#: executor/driver headroom at 1000 executors, far under it locally.
#: Kernels gate inline (`bb = ... and n <= BROADCAST_MAX_ROWS`) because the
#: same flag also parameterizes operator arguments, not just F.broadcast.
BROADCAST_MAX_ROWS = 4_000_000


def partition_by_key(df: DataFrame, *keys: str) -> DataFrame:
    """Scale-adaptive hash layout for a cached iterative edge table.

    ``repartition(<keys>)`` WITHOUT a pinned numPartitions: the shuffle
    width comes from ``spark.sql.shuffle.partitions`` (the cluster-sized
    knob) and AQE's partition coalescing then sizes the actual partitions
    from the DATA (advisoryPartitionSizeInBytes), instead of a constant
    tuned for either local mode or the cluster. A toy graph collapses to a
    handful of partitions (superstep task count tracks input size); a
    100-TB edge table keeps the configured width.

    ``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning=true`` lets
    the AQE-final layout reach the persisted plan; the coalesced
    CoalescedHashPartitioning still satisfies the per-superstep
    groupBy-on-key clustering, so the superstep aggregate over the cache
    stays Exchange-free (verified in tests/test_plans.py).
    """
    df.sparkSession.conf.set(
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true"
    )
    return df.repartition(*keys)


def self_row_layout(edges: DataFrame, ids: DataFrame) -> DataFrame:
    """``partition_by_key(edges ∪ loops, "dst")`` with one self row
    ``(v, v)`` per row of ``ids`` — the A + I layout (CombBLAS AddLoops,
    SpParMat.cpp:3290) that lets a superstep aggregate read each vertex's
    OLD value next to its new one, so the new vector needs no join back
    onto the old. Columns of ``ids`` other than ``id`` ride on the self
    rows; a column one side lacks is null there, so a self row's ``w`` is
    null and adds nothing to a sum."""
    loops = ids.select(
        F.col("id").alias("src"),
        F.col("id").alias("dst"),
        *[c for c in ids.columns if c != "id"],
    )
    return partition_by_key(
        edges.unionByName(loops, allowMissingColumns=True), "dst"
    )
