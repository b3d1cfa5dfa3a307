"""Incremental graph kernels over Structured Streaming edge sources.

CombBLAS has no streaming engine; its closest analog is the incremental
MCL pipeline (/root/reference/Applications/Incremental/IncClust.h,
Incremental-Pipeline.cpp) that re-clusters after batch updates. Here:

* ``IncrementalCC`` — foreachBatch incremental connected components: each
  micro-batch of new edges updates a persistent label table by
  (a) relabeling batch endpoints through the current labels,
  (b) union-find on the (tiny) batch + affected-component contraction,
  (c) merging back. Matches the reference's "batch update then re-cluster
  the dirty part" strategy rather than full recompute.
* ``IncrementalPageRank`` — foreachBatch PageRank that appends each
  micro-batch to a persistent edge table and warm-starts the power
  iteration from the previous ranks.
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F


class IncrementalCC:
    """Incremental connected components over an edge stream.

    State: a labels table (id, val) parquet at ``state_dir``. Per batch:
    new edges are projected through current labels (edge endpoints ->
    their component representatives), the contracted graph (batch edges
    between representatives) is solved with cc_minlabel — it is TINY:
    at most one vertex per touched component — and label updates are
    joined back. Total per-batch cost ~ O(batch + touched components),
    independent of the accumulated graph size.
    """

    def __init__(self, spark: SparkSession, state_dir: str):
        self.spark = spark
        self.state_dir = state_dir
        self._labels_path = os.path.join(state_dir, "labels")

    def labels(self) -> Optional[DataFrame]:
        if os.path.exists(os.path.join(self._labels_path, "_SUCCESS")):
            return self.spark.read.parquet(self._labels_path)
        return None

    def process_batch(self, batch: DataFrame, batch_id: int = 0) -> None:
        from combblas_spark.algorithms.cc import cc_minlabel

        batch = batch.select("src", "dst").filter(F.col("src") != F.col("dst"))
        cur = self.labels()
        if cur is None:
            verts = (
                batch.select(F.col("src").alias("id"))
                .unionByName(batch.select(F.col("dst").alias("id")))
                .distinct()
            )
            cur = verts.select("id", F.col("id").alias("val"))

        lab_s = cur.select(F.col("id").alias("src"), F.col("val").alias("rep_s"))
        lab_d = cur.select(F.col("id").alias("dst"), F.col("val").alias("rep_d"))
        proj = (
            batch.join(lab_s, on="src", how="left")
            .join(lab_d, on="dst", how="left")
            .select(
                F.coalesce("rep_s", "src").alias("src"),
                F.coalesce("rep_d", "dst").alias("dst"),
            )
        )
        # contracted graph: representative-to-representative edges only
        contracted = (
            proj.filter(F.col("src") != F.col("dst"))
            .select("src", "dst", F.lit(1.0).alias("w"))
            .unionByName(
                proj.filter(F.col("src") != F.col("dst")).select(
                    F.col("dst").alias("src"), F.col("src").alias("dst"), F.lit(1.0).alias("w")
                )
            )
        )
        new_ids = (
            batch.select(F.col("src").alias("id"))
            .unionByName(batch.select(F.col("dst").alias("id")))
            .distinct()
            .join(cur.select("id"), on="id", how="left_anti")
            .select("id", F.col("id").alias("val"))
        )
        all_labels = cur.unionByName(new_ids)

        if contracted.take(1):
            rep_labels = cc_minlabel(self.spark, contracted)
            upd = rep_labels.select(F.col("id").alias("val"), F.col("val").alias("new_val"))
            merged = (
                all_labels.join(upd, on="val", how="left")
                .select("id", F.coalesce("new_val", "val").alias("val"))
            )
        else:
            merged = all_labels
        tmp = self._labels_path + f".tmp{batch_id}"
        merged.write.mode("overwrite").parquet(tmp)
        final = self.spark.read.parquet(tmp)
        final.write.mode("overwrite").parquet(self._labels_path)

    def run_stream(self, stream: DataFrame, checkpoint: Optional[str] = None):
        """Attach to a streaming edge DataFrame via foreachBatch with
        availableNow semantics left to the caller's trigger choice."""
        return (
            stream.writeStream.foreachBatch(
                lambda df, bid: self.process_batch(df, bid)
            )
            .option(
                "checkpointLocation",
                checkpoint or os.path.join(self.state_dir, "_stream_ckpt"),
            )
        )


class IncrementalPageRank:
    """Incremental PageRank over an edge stream (foreachBatch).

    State: an accumulated edge table (append-only parquet) and the last
    converged rank vector at ``state_dir``. Per batch: new edges append,
    then the power iteration WARM-STARTS from the previous fixed point
    (``pagerank(init_ranks=...)``) — after a small perturbation the
    alpha^k contraction re-converges in a handful of supersteps instead
    of a cold start's tens. PageRank is a GLOBAL fixed point, so each
    superstep still touches the whole (cached, never re-shuffled) edge
    table — the incremental win is the iteration count, not the per-
    iteration cost; truly local updates need Monte-Carlo rank
    maintenance (approximate), deliberately out of scope.
    """

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        alpha: float = 0.85,
        tol: float = 1e-10,
        max_iter: int = 100,
    ):
        self.spark = spark
        self.state_dir = state_dir
        self.alpha = alpha
        self.tol = tol
        self.max_iter = max_iter
        self._edges_path = os.path.join(state_dir, "edges")
        self._ranks_path = os.path.join(state_dir, "ranks")

    def ranks(self) -> Optional[DataFrame]:
        if os.path.exists(os.path.join(self._ranks_path, "_SUCCESS")):
            return self.spark.read.parquet(self._ranks_path)
        return None

    def process_batch(self, batch: DataFrame, batch_id: int = 0) -> None:
        from combblas_spark.algorithms.pagerank import pagerank

        cols = [F.col("src").cast("long"), F.col("dst").cast("long")]
        cols.append(
            F.col("w").cast("double")
            if "w" in batch.columns
            else F.lit(1.0).alias("w")
        )
        batch.select(*cols).write.mode("append").parquet(self._edges_path)
        edges = self.spark.read.parquet(self._edges_path)
        prev = self.ranks()
        new_ranks = pagerank(
            self.spark,
            edges,
            alpha=self.alpha,
            tol=self.tol,
            max_iter=self.max_iter,
            init_ranks=prev,
        )
        tmp = self._ranks_path + f".tmp{batch_id}"
        new_ranks.write.mode("overwrite").parquet(tmp)
        self.spark.read.parquet(tmp).write.mode("overwrite").parquet(
            self._ranks_path
        )

    def run_stream(self, stream: DataFrame, checkpoint: Optional[str] = None):
        """Attach to a streaming edge DataFrame via foreachBatch."""
        return stream.writeStream.foreachBatch(
            lambda df, bid: self.process_batch(df, bid)
        ).option(
            "checkpointLocation",
            checkpoint or os.path.join(self.state_dir, "_stream_ckpt"),
        )
