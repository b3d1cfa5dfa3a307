"""Z-order (Morton) layout keys and the locality audit that justifies
them.

At 100 TB the scan cost of a multi-dimensional predicate is decided by
LAYOUT: files sorted on one column prune beautifully on that column and
not at all on the second. Interleaving the bits of both columns into a
Morton key makes rows that are close in EITHER dimension land close in
the sort order, so min/max file statistics prune on both — the
technique behind every lakehouse Z-ORDER clustering command. Here it
is a pure Column expression (no UDF — one 2*bits-term shift/or fold
that whole-stage codegen flattens), plus an audit that MEASURES the
locality claim instead of asserting it: the mean Manhattan distance
between consecutive rows of the Z-order sort vs the single-column
sort, exact integers end to end.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
import pyspark.sql.functions as F


def zorder_key(x: Column, y: Column, bits: int = 16) -> Column:
    """Morton-interleave the low ``bits`` bits of two non-negative
    integer columns: bit i of x lands at position 2i, bit i of y at
    2i+1. Inputs must already fit in ``bits`` bits (callers bucket or
    clamp first — range-quantization is the caller's policy decision);
    out-of-range values raise at execution rather than silently
    aliasing distant rows onto nearby keys.
    """
    lim = F.lit(int(1) << int(bits))
    xv = F.when(
        (x >= 0) & (x < lim) & (y >= 0) & (y < lim), x.cast("long")
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"zorder_key: value out of [0, 2^{bits}) at x="),
                x.cast("string"), F.lit(", y="), y.cast("string"),
            )
        )
    )
    yv = y.cast("long")
    out = F.lit(0).cast("long")
    for i in range(int(bits)):
        # Column.bitwiseOR, NOT `|` — PySpark overloads `|` as boolean OR
        out = out.bitwiseOR(
            F.shiftleft(F.shiftright(xv, i) % 2, 2 * i)
        ).bitwiseOR(F.shiftleft(F.shiftright(yv, i) % 2, 2 * i + 1))
    return out


def locality_audit(
    df: DataFrame,
    x_col: str = "x",
    y_col: str = "y",
    bits: int = 16,
) -> DataFrame:
    """ONE exact-int64 row proving (or refuting) the Z-order locality
    claim on this dataset: total Manhattan distance |dx| + |dy| between
    consecutive rows under (a) the Z-order sort and (b) the plain
    x-then-y sort. Consecutive pairs come from the range-partitioned
    global-rank sample sort (operators/indexing._global_ranks) joined
    rank -> rank+1 — no single-task window anywhere.

    Returns (n_rows, z_total_manhattan, row_total_manhattan): smaller
    z_total means a min/max-pruned scan touches fewer files for 2-D
    predicates — the number a layout decision should be made on.
    """
    from combblas_spark.operators.indexing import _global_ranks

    base = df.select(
        F.col(x_col).cast("long").alias("x"),
        F.col(y_col).cast("long").alias("y"),
    ).withColumn("zkey", zorder_key(F.col(x_col), F.col(y_col), bits))

    def total(order_cols, name):
        r = _global_ranks(base, order_cols).select("x", "y", "rank")
        nxt = r.select(
            (F.col("rank") - 1).alias("rank"),
            F.col("x").alias("x2"),
            F.col("y").alias("y2"),
        )
        return r.join(nxt, "rank").agg(
            F.sum(
                F.abs(F.col("x") - F.col("x2"))
                + F.abs(F.col("y") - F.col("y2"))
            )
            .cast("long")
            .alias(name)
        )

    n = base.agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
    z = total(
        [F.col("zkey").asc(), F.col("x").asc(), F.col("y").asc()],
        "z_total_manhattan",
    )
    rw = total(
        [F.col("x").asc(), F.col("y").asc()], "row_total_manhattan"
    )
    return n.crossJoin(z).crossJoin(rw)


def reshard_audit(
    df: DataFrame,
    key_col: str,
    n_old: int,
    n_new: int,
    salt: str = "sh",
) -> DataFrame:
    """Per-shard movement audit of an ``n_old -> n_new`` rendezvous
    reshard: one exact-int64 row per target shard with the old/new
    population and the arrival/departure flows. The minimal-movement
    guarantee is IN the value hash: when growing by one shard,
    n_arrived must be 0 for every pre-existing shard (keys only ever
    move TO the new shard) — a wrong hash or tiebreak anywhere breaks
    that column. One pass, one map-side-combinable aggregate.
    """
    from combblas_spark.functions.dedup import md5_60bit

    # materialize each per-shard hash ONCE as a named column: the two CASE
    # chains then fold over cheap column refs instead of re-evaluating the
    # md5 expression at every GREATEST/WHEN site (CollapseProject keeps the
    # boundary because the hashes are non-cheap and multiply referenced)
    n_max = max(int(n_old), int(n_new))
    hashed = df.select(
        *[
            md5_60bit(
                F.concat(F.lit(f"{salt}{r}|"), F.col(key_col).cast("string"))
            ).alias(f"_h{r}")
            for r in range(n_max)
        ]
    )

    def pick(n: int) -> Column:
        # highest-random-weight shard in [0, n); CASE order breaks ties
        # toward the smallest shard id
        hs = [F.col(f"_h{r}") for r in range(int(n))]
        mx = F.greatest(*hs) if len(hs) > 1 else hs[0]
        out = F.lit(int(n) - 1).cast("long")
        for r in range(int(n) - 2, -1, -1):
            out = F.when(hs[r] == mx, F.lit(r).cast("long")).otherwise(out)
        return out

    tagged = hashed.select(pick(n_old).alias("_so"), pick(n_new).alias("_sn"))
    # ONE pass / ONE map-side-combinable aggregate: each key contributes an
    # arrival-side row under its new shard and a departure-side row under
    # its old shard (the old full-outer join of two aggregates re-ran the
    # whole hash pass per branch)
    moved = (F.col("_so") != F.col("_sn")).cast("long")
    zero = F.lit(0).cast("long")
    one = F.lit(1).cast("long")
    flows = tagged.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("_sn").alias("shard"),
                    zero.alias("n_old"),
                    one.alias("n_new"),
                    moved.alias("arr"),
                    zero.alias("dep"),
                ),
                F.struct(
                    F.col("_so").alias("shard"),
                    one.alias("n_old"),
                    zero.alias("n_new"),
                    zero.alias("arr"),
                    moved.alias("dep"),
                ),
            )
        ).alias("f")
    ).select("f.*")
    return flows.groupBy("shard").agg(
        F.sum("n_old").cast("long").alias("n_old_keys"),
        F.sum("n_new").cast("long").alias("n_new_keys"),
        F.sum("arr").cast("long").alias("n_arrived"),
        F.sum("dep").cast("long").alias("n_departed"),
    )
