"""Superstep driver: iteration state, lineage truncation, checkpoint/resume.

The reference keeps all iteration state in memory (BFS loop
/root/reference/Applications/TopDownBFS.cpp:440-449, CC loop
/root/reference/Applications/CC.h:1404-1544) and has NO checkpoint/restart.
Checkpointing is OUR addition (north_rule): every superstep can persist its
state DataFrames to Parquet together with a manifest recording the
iteration number, metrics and per-file row counts read from the Parquet
footers, keyed by write task (lineage evidence, checked again on resume),
so a converged-to-iteration-k job resumes from k.

Two lineage concerns at scale:
* WITHIN a run, iterative DataFrame plans grow linearly in the iteration
  count; ``truncate()`` (localCheckpoint) cuts the plan every iteration so
  Catalyst never re-analyzes a 50-join tree.
* ACROSS runs, ``save()``/``resume()`` use Parquet snapshots + a JSON
  manifest (what an Iceberg snapshot gives you on a real cluster).
"""

from __future__ import annotations

import json
import os
import time
from typing import Optional

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, Row, SparkSession


class SuperstepRunner:
    def __init__(
        self,
        spark: SparkSession,
        checkpoint_dir: Optional[str] = None,
        every: int = 1,
        eager: bool = True,
    ):
        self.spark = spark
        self.dir = checkpoint_dir
        self.every = max(1, every)
        self.eager = eager
        self._t0 = time.time()

    # -- lineage truncation within a run ------------------------------------
    def truncate(self, df: DataFrame) -> DataFrame:
        """Cut the logical plan; returns a DataFrame backed by materialized
        partitions. localCheckpoint is deliberate: it is the in-run analog
        of the reference's per-iteration in-memory vectors.

        The checkpointed Dataset is re-wrapped in a FRESH LogicalRDD (via
        internalCreateDataFrame over the already-materialized RDD) to drop
        the origin plan's Catalyst statistics: Spark's localCheckpoint
        preserves them, and SizeInBytesOnlyStatsPlanVisitor multiplies child
        estimates per join — an iterative kernel with k joins per superstep
        then compounds the BigInt estimate ~k-fold every superstep
        (measured: 15,000-DIGIT sizeInBytes by iteration 8, with driver
        time exploding ~7x per superstep in BigInteger.multiply). With the
        stats dropped, leaves fall back to defaultSizeInBytes and per-
        superstep planning cost is constant.

        Known trade-off (deliberate): the re-wrap also loses the checkpoint
        plan's outputPartitioning and the stats that let static planning
        pick a broadcast join, so downstream joins are planned as shuffle
        joins and the broadcast/co-location decision moves to AQE's RUNTIME
        sizes. That is the right direction here: past iteration ~2 the
        preserved stats were astronomically-wrong BigInts (so static
        planning chose shuffles anyway, after paying BigInt arithmetic),
        and the hot per-superstep joins in this package either force a
        size-gated broadcast explicitly (core/tuning.BROADCAST_MAX_ROWS) or
        aggregate straight onto their join key where AQE coalesces.
        Measured net effect at sf0.1: every iterative headline query got
        faster (pagerank 12.3->9.3s, bfs 10.4->8.2s, cc 7.4->6.1s)."""
        return self._cut(df, eager=self.eager)

    def truncate_lazy(self, df: DataFrame) -> DataFrame:
        """Cut the lineage WITHOUT materializing: the checkpoint RDD is
        marked lazily and computes (then caches, then truncates) at the
        NEXT action that touches it. For a fixed-iteration kernel with no
        in-loop action this collapses the whole superstep chain into ONE
        job at the final materialization instead of one job per superstep
        — the Catalyst plan is still cut every superstep (each truncate
        re-wraps into a flat LogicalRDD leaf), so analysis cost stays
        constant; only the EXECUTION is deferred.

        Contract: the caller MUST run one materializing action on the
        final state while its cached inputs (the per-kernel edge layout)
        are still persisted — evaluating after unpersist would recompute
        the uncached base once per superstep reference.
        """
        return self._cut(df, eager=False)

    def truncate_agg(self, df: DataFrame, *aggs):
        """Cut the lineage of ``df`` AND evaluate ``aggs`` over it in ONE
        Spark job: ``aggs`` are attached to ``df`` with ``observe``, so
        Spark's CollectMetrics node folds them while the eager checkpoint
        materializes the partitions. A global ``agg().collect()`` over the
        cut would add two jobs under AQE (the single-partition exchange and
        the result), and ``truncate(df)`` followed by a separate aggregate
        a whole second pass. Returns ``(truncated_df, agg_row)``; the row's
        fields follow the order of ``aggs``, and over an empty frame they
        are what ``agg`` gives (count 0, null sum and max).

        Each partition's metrics are counted once: CollectMetrics is the
        root of the checkpointed plan, so it runs in the checkpoint
        action's result stage, whose accumulator updates Spark applies
        once per partition even when a task is retried.

        This is the per-superstep convergence-check shape: fold the
        changed-count (or any scalar metric) into the materializing job
        instead of re-joining old and new state afterwards.
        """
        obs = Observation()
        out = self._cut(df.observe(obs, *aggs), eager=True)
        return out, Row(**obs.get)

    def _cut(self, df: DataFrame, eager: bool) -> DataFrame:
        cp = df.localCheckpoint(eager=eager)
        try:
            jdf = cp._jdf
            fresh = self.spark._jsparkSession.internalCreateDataFrame(
                jdf.queryExecution().toRdd(), jdf.schema(), False
            )
            return DataFrame(fresh, self.spark)
        except Exception as exc:  # internal API moved — stats may then compound
            # Falling back to the bare localCheckpoint re-enables the
            # exponential Catalyst-stats compounding this method exists to
            # prevent (see docstring). Warn LOUDLY, once, so the operator
            # sees why supersteps are suddenly slowing down.
            if not getattr(SuperstepRunner, "_warned_stats_fallback", False):
                SuperstepRunner._warned_stats_fallback = True
                import warnings

                warnings.warn(
                    "SuperstepRunner.truncate: internalCreateDataFrame re-wrap "
                    f"failed ({exc!r}); falling back to bare localCheckpoint. "
                    "Catalyst size stats will COMPOUND across supersteps — "
                    "expect per-iteration driver slowdown in multi-join "
                    "kernels. Check Spark version compatibility.",
                    RuntimeWarning,
                    stacklevel=2,
                )
            return cp

    # -- durable checkpoint --------------------------------------------------
    def _iter_dir(self, iteration: int) -> str:
        return os.path.join(self.dir, f"iter={iteration:06d}")

    def save(self, iteration: int, states: dict, metrics: dict) -> None:
        """Persist state DataFrames + manifest for ``iteration``.

        ``states``: name -> DataFrame. Each state costs ONE Spark job, its
        Parquet write. The manifest records caller metrics and, per state,
        the row count of every part file the write committed, read from the
        Parquet footers on the driver and keyed by write task (partition
        lineage); nothing re-scans what was just written.
        """
        if self.dir is None or iteration % self.every:
            return
        d = self._iter_dir(iteration)
        lineage = {}
        for name, df in states.items():
            path = os.path.join(d, name)
            df.write.mode("overwrite").parquet(path)
            parts = _footer_counts(path)
            lineage[name] = {
                "path": path,
                "partitions": parts,
                "rows": sum(parts.values()),
            }
        manifest = {
            "iteration": iteration,
            "wall_seconds": time.time() - self._t0,
            "metrics": metrics,
            "states": lineage,
        }
        tmp = os.path.join(d, "manifest.json.tmp")
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=2)
        os.replace(tmp, os.path.join(d, "manifest.json"))

    def latest(self) -> Optional[dict]:
        """Most recent complete manifest, or None. Only that one is read:
        ``iter=*`` dirs are walked newest first, and a dir without a
        ``manifest.json`` (a save cut short) is skipped."""
        if self.dir is None or not os.path.isdir(self.dir):
            return None
        for name in sorted(os.listdir(self.dir), reverse=True):
            mf = os.path.join(self.dir, name, "manifest.json")
            if os.path.exists(mf):
                with open(mf) as f:
                    return json.load(f)
        return None

    def resume(self) -> Optional[tuple[int, dict, dict]]:
        """(iteration, {name: DataFrame}, metrics) from the latest manifest.

        Each state's part files are checked against the manifest's
        ``partitions`` first, from their footers and with no Spark job; a
        state whose files were lost or changed since the save raises
        ``ValueError``."""
        m = self.latest()
        if m is None:
            return None
        for name, info in m["states"].items():
            want = {int(k): v for k, v in info["partitions"].items()}
            try:
                have = _footer_counts(info["path"])
            except (OSError, pa.ArrowException) as exc:
                raise ValueError(
                    f"checkpoint state {name!r} at {info['path']} is unreadable: {exc}"
                ) from exc
            if have != want:
                raise ValueError(
                    f"checkpoint state {name!r} at {info['path']} does not match "
                    f"its manifest: part-file rows by task {have}, manifest {want}"
                )
        states = {
            name: self.spark.read.parquet(info["path"])
            for name, info in m["states"].items()
        }
        return m["iteration"], states, m.get("metrics", {})


def _footer_counts(path: str) -> dict:
    """Write task id -> rows over the ``part-NNNNN-*.parquet`` files under
    ``path``, read from the Parquet footers. A task whose output was split
    by ``maxRecordsPerFile`` (``c000``, ``c001``, ...) is summed."""
    counts: dict = {}
    for f in os.listdir(path):
        if f.startswith("part-") and f.endswith(".parquet"):
            task = int(f.split("-")[1])
            rows = pq.read_metadata(os.path.join(path, f)).num_rows
            counts[task] = counts.get(task, 0) + rows
    return counts
