"""Link-graph benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload rmat_skewed --seed 1 --seconds 20 --trace 0

Prints human-readable lines, then as its last line one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` additionally runs one traced pass
(event log, job groups, runner spans) and reports the per-layer metrics.
See perfbench/README.md for the workloads, metrics and layer mapping.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import numpy as np  # noqa: E402
import pyspark.sql.functions as F  # noqa: E402

from combblas_spark.algorithms.cc import cc_minlabel  # noqa: E402
from combblas_spark.algorithms.labelprop import label_propagation  # noqa: E402
from combblas_spark.algorithms.pagerank import pagerank  # noqa: E402
from combblas_spark.algorithms.triangles import triangle_count  # noqa: E402
from combblas_spark.core.semiring import PLUS_TIMES  # noqa: E402
from combblas_spark.core.tuning import partition_by_key  # noqa: E402
from combblas_spark.operators.multiply import spmv  # noqa: E402
from combblas_spark.plans.superstep import SuperstepRunner  # noqa: E402

from perfbench import reference, tracing  # noqa: E402
from perfbench.session import (  # noqa: E402
    PeakRss,
    WorkDirs,
    host_cores,
    shutdown_jvm,
    start_session,
    wait_for_descendants,
)
from perfbench.workloads import LP_ITERS, WORKLOADS  # noqa: E402

PHASES = ("ingest", "pagerank", "cc", "labelprop", "triangles", "resume")
SETUP_REPS = 3
PR_RTOL = 1e-6
NO_SAVES = 1 << 30  # runner cadence that never saves


class Bench:
    def __init__(self, wl, seed: int, work: WorkDirs):
        self.wl = wl
        self.seed = seed
        self.work = work
        # the key covers the workload's parameters, so a cached input is
        # never reused after they change
        key = hashlib.sha1(repr(wl).encode()).hexdigest()[:10]
        self.data = os.path.join(work.cache, f"{wl.name}-{seed}-{key}")
        self.spark = None
        self.built = None
        self.ref = None
        self.tracer = None
        self.resume_k = 0
        self.last_ingest: dict = {}  # per-function seconds of the last ingest

    # -- inputs and references (never timed) --------------------------------
    def prepare_input(self) -> None:
        if not os.path.exists(os.path.join(self.data, "ready")):
            shutil.rmtree(self.data, ignore_errors=True)
            os.makedirs(self.data)
            self.wl.write_input(self.seed, self.data)
            open(os.path.join(self.data, "ready"), "w").close()

    def prepare_reference(self) -> None:
        path = os.path.join(self.data, "reference.npz")
        if not os.path.exists(path):
            reference.save(path, self.wl.reference(self.data))
        self.ref = reference.load(path)

    # -- set-up: session, scan, build, warm-up ---------------------------------
    def stop(self) -> None:
        """Stops the session (which completes its event log); the JVM stays."""
        if self.built is not None:
            self.built.graph.unpersist()
            self.built = None
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def restart(self, event_log: bool = False) -> None:
        self.stop()
        self.spark = start_session(self.work, event_log=event_log)
        self.tracer = tracing.Tracer(self.spark) if event_log else None

    def load(self, restart: bool = True) -> float:
        """Fresh session, then scan the input and build and cache the graph."""
        t0 = time.perf_counter()
        if restart:
            self.restart()
        with self.phase("setup"):
            self.built = self.wl.load(self.spark, self.data)
        return time.perf_counter() - t0

    def phase(self, name: str):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.call(name)

    def runner(self, checkpoint_dir=None, every=1):
        if self.tracer is not None:
            return tracing.TracedRunner(self.spark, self.tracer, checkpoint_dir, every)
        return SuperstepRunner(self.spark, checkpoint_dir, every)

    def kernel_runner(self, kernel: str):
        """Checkpointed workloads save every superstep of CC and PageRank,
        each call into an empty directory (a left-over manifest would be
        resumed instead of recomputed)."""
        if not self.wl.checkpointed:
            return self.runner()
        d = os.path.join(self.work.tmp, "ckpt", kernel)
        shutil.rmtree(d, ignore_errors=True)
        return self.runner(d)

    # -- resume: a checkpoint written halfway through CC ----------------------
    @property
    def resume_dir(self) -> str:
        return os.path.join(self.work.tmp, "ckpt", "resume")

    def prepare_resume(self) -> None:
        steps = int(self.ref["cc_steps"])
        self.resume_k = max(1, steps // 2)
        shutil.rmtree(self.resume_dir, ignore_errors=True)
        every = 1 if self.wl.checkpointed else self.resume_k
        with self.phase("prep"):
            cc_minlabel(self.spark, self.built.graph, max_iter=self.resume_k,
                        runner=self.runner(self.resume_dir, every))

    def _drop_later_checkpoints(self) -> None:
        for name in os.listdir(self.resume_dir):
            if int(name.split("=")[1]) > self.resume_k:
                shutil.rmtree(os.path.join(self.resume_dir, name))

    # -- phases: (timed function, check of its result) -------------------------
    def phase_ingest(self):
        out = os.path.join(self.work.tmp, "ingest")
        shutil.rmtree(out, ignore_errors=True)

        def check(result):
            self.last_ingest, extra = result
            return self.wl.check_ingest(self.spark, out, extra, self.ref)

        return lambda: self.wl.ingest(self.spark, self.data, out), check

    def phase_pagerank(self):
        r = self.kernel_runner("pagerank")
        g = self.built.graph
        return (
            lambda: pagerank(self.spark, g, runner=r, **self.wl.pr_kwargs).toPandas(),
            lambda pdf: self._close(pdf, "pagerank"),
        )

    def phase_cc(self):
        r = self.kernel_runner("cc")
        g = self.built.graph
        return (
            lambda: cc_minlabel(self.spark, g, runner=r).toPandas(),
            lambda pdf: self._exact(pdf, "cc"),
        )

    def phase_labelprop(self):
        r = self.runner()
        g = self.built.graph
        return (
            lambda: label_propagation(self.spark, g, num_iters=LP_ITERS, runner=r).toPandas(),
            lambda pdf: self._exact(pdf, "labelprop"),
        )

    def phase_triangles(self):
        g = self.built.graph
        return lambda: triangle_count(g), lambda n: n == int(self.ref["triangles"])

    def phase_resume(self):
        self._drop_later_checkpoints()
        every = 1 if self.wl.checkpointed else NO_SAVES
        r = self.runner(self.resume_dir, every)
        g = self.built.graph
        return (
            lambda: cc_minlabel(self.spark, g, runner=r).toPandas(),
            lambda pdf: self._exact(pdf, "cc"),
        )

    def _vector(self, pdf):
        pdf = pdf.sort_values("id")
        ok = np.array_equal(pdf["id"].to_numpy(), self.ref["ids"])
        return ok, pdf["val"].to_numpy()

    def _exact(self, pdf, key: str) -> bool:
        ok, val = self._vector(pdf)
        return ok and np.array_equal(val, self.ref[key])

    def _close(self, pdf, key: str) -> bool:
        ok, val = self._vector(pdf)
        want = self.ref[key]
        return ok and float(np.max(np.abs(val - want) / want)) <= PR_RTOL

    def call(self, name: str) -> tuple[float, bool]:
        """One closed-loop request: (wall seconds, answer correct)."""
        with self.phase(name):
            fn, check = getattr(self, "phase_" + name)()
            t0 = time.perf_counter()
            try:
                out = fn()
            except Exception:
                traceback.print_exc()
                return time.perf_counter() - t0, False
            wall = time.perf_counter() - t0
        try:
            ok = bool(check(out))
        except Exception:
            traceback.print_exc()
            ok = False
        if not ok:
            print(f"# WRONG ANSWER: {self.wl.name} seed={self.seed} phase={name}", file=sys.stderr)
        return wall, ok

    def cycle(self) -> dict:
        return {p: self.call(p) for p in PHASES}

    def warm_up(self, ingested: bool) -> tuple[float, list]:
        """One checked call of every phase (of every phase but ingest when
        ``ingested`` says set-up already ran it) before timing. After capped
        calls the first timed calls ran up to a third slower, after a pass
        over a tiny graph up to twice as slow, by amounts that varied from
        run to run. Returns (seconds, checked calls)."""
        t0 = time.perf_counter()
        checked = [self.call(p) for p in PHASES if p != "ingest" or not ingested]
        return time.perf_counter() - t0, checked

    def closed_loop(self, seconds: float) -> dict:
        """Whole cycles over PHASES until ``seconds`` have elapsed. A cycle
        is never cut short, and every phase gets the same number of calls,
        so a slow run does not skip the calls that a fast run makes."""
        samples = {p: [] for p in PHASES}
        t_end = time.perf_counter() + seconds
        while True:
            for p, sample in self.cycle().items():
                samples[p].append(sample)
            if time.perf_counter() >= t_end:
                return samples

    # -- traced pass: per-layer metrics ----------------------------------------
    def probes(self) -> dict:
        """Layout shape of partition_by_key(edges, "dst"), and one spmv over
        that cached layout (median of three)."""
        with self.phase("probe"):
            lay = partition_by_key(self.built.graph.select("src", "dst", "w"), "dst").persist()
            parts = [r["n"] for r in lay.groupBy(F.spark_partition_id().alias("p"))
                     .agg(F.count(F.lit(1)).alias("n")).collect()]
            x = lay.select(F.col("dst").alias("id")).distinct().withColumn("val", F.lit(1.0)).persist()
            x.count()
            times = []
            for _ in range(3):
                t0 = time.perf_counter()
                spmv(lay, x, PLUS_TIMES, broadcast_x=True).agg(F.sum("val")).collect()
                times.append(time.perf_counter() - t0)
            lay.unpersist()
            x.unpersist()
        spmv_s = statistics.median(times)
        return {
            "tuning.layout_partitions": len(parts),
            "tuning.layout_skew": max(parts) / (sum(parts) / len(parts)),
            "operators.spmv_s": spmv_s,
            "operators.spmv_mteps": self.built.nnz / spmv_s / 1e6,
        }


def traced_pass(bench: Bench):
    """A fresh session with an event log: one load and one cycle with every
    phase under a job group and every runner call in a span, then the
    layout and spmv probes. Stopping the session completes the log."""
    t0 = time.perf_counter()
    bench.restart(event_log=True)
    bench.traced_setup_s = time.perf_counter() - t0 + bench.load(restart=False)
    bench.prepare_resume()
    traced = bench.cycle()
    spans, ingest = bench.tracer.spans, bench.last_ingest
    probe = bench.probes()
    bench.stop()
    return traced, spans, ingest, probe


def median_ok(samples: list) -> float:
    good = [w for w, ok in samples if ok]
    return statistics.median(good or [w for w, _ in samples])


def end_to_end(bench: Bench, setup_s: float, samples: dict, rss_mb: float) -> dict:
    out = {"setup_s": setup_s}
    for p in PHASES:
        out[f"{p}_s"] = median_ok(samples[p])
    steps = bench.wl.pr_kwargs.get("num_iters") or int(bench.ref["pagerank_steps"])
    out["pagerank_mteps"] = bench.built.nnz * steps / out["pagerank_s"] / 1e6
    out["peak_rss_mb"] = rss_mb
    return out


UNITS = {"_s": "s", "_mteps": "MTEPS", "_mb": "MB", "_bytes": "bytes", "_pct": "%"}


def unit(name: str) -> str:
    for suffix, u in UNITS.items():
        if name.endswith(suffix):
            return u
    return "count" if not name.endswith(("skew", "ratio", "utilization")) else "ratio"


def per_layer(bench: Bench, spans: list, traced: dict, ingest: dict, probe: dict,
              untraced: dict, log_dir: str) -> tuple[dict, int]:
    """Per-layer metrics from the traced cycle (``traced``: phase -> wall)
    and its event log. ``untraced`` holds the same phases' untraced walls.
    Returns (metrics, number of wrong superstep counts)."""
    stages = tracing.read_stages(log_dir)
    by_group: dict = {}
    for st in stages:
        by_group.setdefault(st.group, []).append(st)
    cores = host_cores()
    m = {}
    for k in ("build_graph_s", "build_vertices_s", "build_edges_s"):
        m[f"sources.{k}"] = ingest.get(k, 0.0)
    m.update(probe)

    # superstep layer
    def cuts(phase):
        return [s for s in spans if s.phase == phase and s.name.startswith("truncate")]
    expect = {
        "pagerank": bench.wl.pr_kwargs.get("num_iters") or int(bench.ref["pagerank_steps"]),
        "cc": int(bench.ref["cc_steps"]),
        "labelprop": LP_ITERS,
        "resume": int(bench.ref["cc_steps"]) - bench.resume_k,
    }
    wrong = 0
    for k, want in expect.items():
        got = len(cuts(k)) - 1  # the first cut holds the initial state
        m[f"superstep.count.{k}"] = got
        if got != want:
            wrong += 1
            print(f"# WRONG SUPERSTEP COUNT: {k} {got} != {want}", file=sys.stderr)

    def span_stages(s):
        return by_group.get(s.group, [])
    eager = [s for p in ("pagerank", "cc") for s in cuts(p)
             if s.name != "truncate_lazy" and s.iteration]
    m["superstep.wall_s"] = statistics.median(s.wall for s in eager)
    m["superstep.jobs"] = statistics.mean(len(s.job_ids) for s in eager)
    m["superstep.stages"] = statistics.mean(len(span_stages(s)) for s in eager)
    m["superstep.tasks"] = statistics.mean(
        sum(len(st.task_ms) for st in span_stages(s)) for s in eager
    )
    saves = [s for s in spans if s.name == "save"]
    m["superstep.ckpt_write_s"] = statistics.median(s.wall for s in saves)
    m["superstep.ckpt_bytes"] = statistics.median(s.bytes for s in saves)
    # the resumed state is read by resume() and materialized by the next cut
    resumes = [s for s in spans if s.name == "resume" and s.phase == "resume"]
    first_cut = [s for s in cuts("resume") if s.iteration == 0]
    m["superstep.resume_read_s"] = sum(s.wall for s in resumes + first_cut)
    # checkpoint bytes read back over those written by the run resumed from
    written = sum(s.bytes for s in saves if s.phase == "prep")
    m["superstep.ckpt_read_ratio"] = sum(s.bytes for s in resumes) / written

    # Spark stages per phase
    walls = dict(traced, setup=bench.traced_setup_s)
    for phase in ("setup",) + PHASES:
        r = tracing.rollup([st for st in stages if tracing.phase_of(st.group) == phase])
        wall = walls[phase]
        for k in ("stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
                  "shuffle_write_bytes", "task_skew"):
            m[f"{phase}.{k}"] = r[k]
        m[f"{phase}.utilization"] = r["executor_run_s"] / (wall * cores)
        m[f"{phase}.wall_s"] = wall
    m["jvm.peak_heap_mb"] = tracing.rollup(
        [st for st in stages if tracing.phase_of(st.group) in PHASES])["peak_heap_mb"]
    # over the timed phases: set-up differs (the traced one restarts a warm JVM)
    traced_total = sum(traced[p] for p in PHASES)
    untraced_total = sum(untraced[p] for p in PHASES)
    m["trace.overhead_pct"] = 100.0 * (traced_total / untraced_total - 1.0)
    return m, wrong


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = WorkDirs.under(ROOT)
    work.clear_tmp()
    bench = Bench(WORKLOADS[args.workload], args.seed, work)
    try:
        with PeakRss() as rss:
            bench.prepare_input()
            t0 = time.perf_counter()
            bench.restart()  # starts the JVM
            launch_s = time.perf_counter() - t0
            ingested = bench.wl.derive(bench.spark, bench.data)
            # a traced run reports no end-to-end metrics: one load, and an
            # untraced cycle on each side of the traced one, are enough
            loads = [bench.load() for _ in range(1 if args.trace else SETUP_REPS)]
            bench.prepare_reference()
            bench.prepare_resume()
            warm_s, warm_checked = bench.warm_up(ingested)
            samples = bench.closed_loop(0 if args.trace else args.seconds)
            if args.trace:
                traced, spans, ingest, probe = traced_pass(bench)
                # the mean of the cycles before and after is the untraced
                # time, so JIT warm-up in between does not read as overhead
                bench.load()
                bench.prepare_resume()
                for p, sample in bench.cycle().items():
                    samples[p].append(sample)
        setup_s = launch_s + statistics.median(loads) + warm_s
        print(f"# setup: launch {launch_s:.3f} s, loads "
              + " ".join(f"{t:.3f}" for t in loads) + f" s, warm-up {warm_s:.3f} s")
        for p, v in samples.items():
            print(f"# {p} calls: " + " ".join(f"{w:.3f}{'' if ok else '!'}" for w, ok in v) + " s")
        metrics = end_to_end(bench, setup_s, samples, rss.peak_mb)
        checked = warm_checked + [x for v in samples.values() for x in v]
        attempted = len(checked)
        failed = sum(not ok for _, ok in checked)
        if args.trace:
            attempted += len(traced)
            failed += sum(not ok for _, ok in traced.values())
            untraced = {p: statistics.mean(w for w, _ in samples[p]) for p in PHASES}
            metrics, wrong = per_layer(
                bench, spans, {p: w for p, (w, _) in traced.items()}, ingest, probe,
                untraced, os.path.join(work.tmp, "eventlog"),
            )
            attempted += len([k for k in metrics if k.startswith("superstep.count.")])
            failed += wrong
    finally:
        shutdown_jvm()
        work.clear_tmp()
        wait_for_descendants()

    print(f"# workload={args.workload} seed={args.seed} trace={args.trace} "
          f"calls={attempted} failed={failed} error_rate={failed / attempted:.4f}")
    for k, v in metrics.items():
        print(f"# {k} = {v:.6g} {unit(k)}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": unit(k)} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
