"""Bipartite matchings — maximal, maximum-cardinality, and approx-weight.

Reference: /root/reference/Applications/BipartiteMatchings/
* BPMaximalMatching.h:35-172 (MaximalMatching, init DMD): per round every
  unmatched row vertex proposes along an incident edge to an unmatched
  column vertex (SpMV<Select2ndMin> over the active subgraph), each column
  accepts exactly one proposer (min), matched pairs leave the graph, repeat
  until no row can propose. Greedy maximal: no augmenting, >= 1/2 optimum.
* BPMaximumMatching.h / .cpp (maximumMatching, MS-BFS tree construction):
  repeated phases of multi-source alternating BFS from the unmatched row
  vertices, extracting a vertex-disjoint set of augmenting paths and
  flipping them; terminates at a TRUE maximum (Berge). ``maximum_matching``
  is that shape as DataFrame supersteps.
* ApproxWeightPerfectMatching.h (approximate weighted matching):
  ``approx_weight_matching`` covers the weighted family with the
  locally-dominant-edge rounds (Preis / Manne–Bisseling): every vertex
  points at its heaviest incident edge, edges picked from both ends are
  matched — >= 1/2 of the optimum weight, fully distributed.

Determinism: the reference breaks ties by processor order; here every
selection (proposal, acceptance, BFS parent, augmenting-path winner,
heaviest-edge tie) uses vertex ids — each result is a pure function of the
edge set, so a SQL oracle can replay it round-by-round.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession, Window
import pyspark.sql.functions as F

from combblas_spark.plans.superstep import SuperstepRunner


def maximal_matching(
    spark: SparkSession,
    edges: DataFrame,
    max_rounds: int = 64,
    runner: Optional[SuperstepRunner] = None,
) -> DataFrame:
    """Greedy maximal matching on a bipartite edge table (src = one side,
    dst = the other; e.g. part -> supplier). Returns (src, dst) matched
    pairs. Invariants (pytest): each src and dst appears at most once; no
    remaining edge joins two unmatched vertices (maximality).
    """
    runner = runner or SuperstepRunner(spark)
    # one action per round: the active set's truncate_agg folds the
    # remaining-edge count into the materializing job; ``accepted`` is cut
    # lazily and materializes (then caches) inside that same action, so
    # both its consumers (the matched union, the two anti-joins) read the
    # cached partitions (superstep.py idiom)
    active, row = runner.truncate_agg(
        edges.select("src", "dst").distinct(), F.count(F.lit(1)).alias("n")
    )
    n_active = int(row["n"] or 0)
    matched = None
    for rnd in range(max_rounds):
        if n_active == 0:
            break
        # each src proposes to its min active dst; each dst accepts min proposer
        proposals = active.groupBy("src").agg(F.min("dst").alias("dst"))
        accepted = proposals.groupBy("dst").agg(F.min("src").alias("src")).select("src", "dst")
        accepted = runner.truncate_lazy(accepted)
        # union of checkpointed terms: lineage stays flat, no re-checkpoint
        matched = accepted if matched is None else matched.unionByName(accepted)
        # drop every edge touching a newly matched endpoint
        active, row = runner.truncate_agg(
            active.join(accepted.select("src"), on="src", how="left_anti")
            .join(accepted.select("dst"), on="dst", how="left_anti")
            .select("src", "dst"),
            F.count(F.lit(1)).alias("n"),
        )
        n_active = int(row["n"] or 0)
        runner.save(rnd + 1, {"matched": matched, "active": active}, {})
    if matched is None:
        return edges.select("src", "dst").filter(F.lit(False))
    return matched


def _augment_phase(
    e: DataFrame,
    m: DataFrame,
    runner: SuperstepRunner,
    depth: Optional[int] = None,
    max_depth: int = 200,
):
    """One augmenting phase (BPMaximumMatching.h's MS-BFS + augment):
    alternating BFS from ALL free row vertices — forward along any edge to
    an unvisited column vertex (parent = min proposing src), backward only
    along matched edges (unique) — then flip a vertex-disjoint set of
    augmenting paths.

    ``depth=None``: stop at the FIRST level holding a free column vertex
    (shortest augmenting length; returns None if the BFS exhausts with no
    free column vertex = matching is maximum). ``depth=d``: search paths of
    exactly length ``d`` (fixed-unroll mode a SQL oracle can replay);
    returns (m, 0) when none exist.

    Disjointness needs no conflict resolution: parent pointers are
    functions, so two trace-backs that share ANY vertex share their entire
    suffix and thus their root — picking one free column vertex (the min)
    per root makes the chosen paths pairwise vertex-disjoint.
    """
    fixed = depth is not None
    all_src = e.select("src").distinct()
    cur_src = all_src.join(m.select("src"), on="src", how="left_anti")
    visited = None
    parents: dict[int, DataFrame] = {}
    found_level = None
    level = 1
    while level <= (depth if fixed else max_depth):
        prop = e.join(cur_src, on="src")
        if visited is not None:
            prop = prop.join(visited, on="dst", how="left_anti")
        # dl is the only per-level materialization: it feeds the next level,
        # the visited set, and the traceback. The matched-flag left join is
        # folded INTO dl (m.dst is unique — a matching — so it cannot
        # duplicate rows) and truncate_agg evaluates (level size, free-column
        # count) in the same action that materializes the checkpoint: ONE
        # driver action per level.
        dl, stats = runner.truncate_agg(
            prop.groupBy("dst")
            .agg(F.min("src").alias("ps"))
            .join(
                m.select("dst").withColumn("_m", F.lit(1)), on="dst", how="left"
            ),
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.col("_m").isNull(), True)).alias("n_free"),
        )
        if stats["n"] == 0:
            # no vertices reached at this level: no augmenting path of this
            # (or any greater) length exists — skip the remaining scheduled
            # levels AND the traceback. Fixed mode returns m unchanged,
            # identical to propagating empty frames through the flip.
            return None if not fixed else (m, 0)
        parents[level] = dl
        visited = (
            dl.select("dst")
            if visited is None
            else visited.unionByName(dl.select("dst"))
        )  # union of truncated levels — bounded plan, no extra job
        if not fixed:
            if stats["n_free"] > 0:
                found_level = level
                break
        elif level == depth:
            found_level = level
            break
        # extend through matched column vertices to their row partners
        cur_src = dl.select("dst").join(m, on="dst").select("src")
        level += 2
    if found_level is None:
        return None if not fixed else (m, 0)

    # the matched flag was folded into dl at truncation time (same m)
    freed = parents[found_level].filter(F.col("_m").isNull())
    # trace back every free column vertex to its root; collect path edges
    state = freed.select(
        F.col("dst").alias("dd"), F.col("ps").alias("s")
    )
    new_edges = freed.select(
        F.col("dst").alias("dd"), F.col("ps").alias("src"), F.col("dst").alias("dst")
    )
    old_edges = None
    lvl = found_level - 2
    while lvl >= 1:
        mm = m.select(F.col("src").alias("s"), F.col("dst").alias("mdst"))
        step = state.join(mm, on="s")  # (dd, s, mdst): matched edge to drop
        drop = step.select("dd", F.col("s").alias("src"), F.col("mdst").alias("dst"))
        old_edges = drop if old_edges is None else old_edges.unionByName(drop)
        pl = parents[lvl].select(F.col("dst").alias("mdst"), F.col("ps").alias("ps"))
        step2 = step.join(pl, on="mdst")  # (dd, s, mdst, ps)
        new_edges = new_edges.unionByName(
            step2.select("dd", F.col("ps").alias("src"), F.col("mdst").alias("dst"))
        )
        state = step2.select("dd", F.col("ps").alias("s"))
        lvl -= 2
    # state.s is now the free root; one winner (min free dst) per root
    winners = state.groupBy("s").agg(F.min("dd").alias("dd")).select("dd")
    new_e = new_edges.join(winners, on="dd").select("src", "dst")
    m2 = m
    if old_edges is not None:
        drop_e = old_edges.join(winners, on="dd").select("src", "dst")
        m2 = m2.join(drop_e, on=["src", "dst"], how="left_anti")
    m2 = runner.truncate(m2.unionByName(new_e))
    n_aug = -1 if fixed else int(winners.count())  # fixed mode: no action
    return (m2, n_aug)


def maximum_matching(
    spark: SparkSession,
    edges: DataFrame,
    schedule: Optional[list[int]] = None,
    max_phases: int = 10_000,
    max_depth: int = 200,
    init: Optional[DataFrame] = None,
    runner: Optional[SuperstepRunner] = None,
) -> DataFrame:
    """Maximum-cardinality bipartite matching via augmenting-path phases
    (BPMaximumMatching.cpp driver loop). Returns (src, dst) matched pairs.

    ``init``: starting matching (src, dst) to augment from — pass
    maximal_matching(...) output to mirror the reference driver, which
    greedy-initializes before the augmenting loop
    (BPMaximumMatching.cpp's WeightedGreedy init); phases then only close
    the gap to maximum, collapsing the per-level driver round-trips the
    depth-1 phases would otherwise spend re-deriving the greedy matching.

    Default mode runs shortest-length phases until NO augmenting path of any
    length remains — a true maximum by Berge's theorem (pytest checks
    cardinality equality with Hopcroft–Karp). ``schedule=[d1, d2, ...]``
    instead runs fixed exact-length phases (odd lengths) — a deterministic
    unrolling a SQL oracle replays phase-for-phase; with a schedule that
    exhausts the graph's shortest-augmenting-length growth the result equals
    the dynamic mode (asserted empirically per dataset).
    """
    runner = runner or SuperstepRunner(spark)
    e = (
        edges.select("src", "dst")
        .distinct()
        .repartition(spark.sparkContext.defaultParallelism, "src")
    )
    e.persist()
    try:
        m = runner.truncate(
            spark.createDataFrame([], "src long, dst long")
            if init is None
            else init.select("src", "dst")
        )
        if schedule is not None:
            for ph, d in enumerate(schedule):
                if d % 2 != 1:
                    raise ValueError(f"augmenting path lengths are odd, got {d}")
                m, n_aug = _augment_phase(e, m, runner, depth=d)
                runner.save(ph + 1, {"m": m}, {"depth": d, "augmented": n_aug})
        else:
            for ph in range(max_phases):
                res = _augment_phase(e, m, runner, depth=None, max_depth=max_depth)
                if res is None:
                    break
                m, n_aug = res
                runner.save(ph + 1, {"m": m}, {"augmented": n_aug})
        return m
    finally:
        e.unpersist()


def approx_weight_matching(
    spark: SparkSession,
    edges: DataFrame,
    max_rounds: int = 64,
    num_rounds: Optional[int] = None,
    runner: Optional[SuperstepRunner] = None,
) -> DataFrame:
    """Locally-dominant greedy weighted matching
    (ApproxWeightPerfectMatching.h's distributed-friendly shape; Preis /
    Manne–Bisseling): per round every row vertex points at its heaviest
    incident edge (ties -> min dst) and every column vertex at its heaviest
    (ties -> min src); edges picked from BOTH ends are locally dominant and
    enter the matching, their endpoints leave. The heaviest active edge
    under the total order (w desc, src asc, dst asc) is always mutual, so
    every round makes progress; the result is maximal with weight >= 1/2 of
    the optimum (standard locally-dominant bound).

    ``num_rounds`` fixes the round count (oracle-replay mode, no early-exit
    actions); rounds past convergence are no-ops. Returns (src, dst, w).
    """
    runner = runner or SuperstepRunner(spark)
    fixed = num_rounds is not None
    if fixed:
        # oracle-replay mode: no in-loop actions at all — every superstep is
        # a lazy lineage cut and the whole chain evaluates in ONE job at the
        # caller's action (rounds past convergence are no-op filters)
        active = runner.truncate_lazy(
            edges.groupBy("src", "dst").agg(F.max("w").alias("w"))
        )
        n_active = None
    else:
        active, row = runner.truncate_agg(
            edges.groupBy("src", "dst").agg(F.max("w").alias("w")),
            F.count(F.lit(1)).alias("n"),
        )
        n_active = int(row["n"] or 0)
    matched = None
    w_src = Window.partitionBy("src").orderBy(F.col("w").desc(), F.col("dst").asc())
    w_dst = Window.partitionBy("dst").orderBy(F.col("w").desc(), F.col("src").asc())
    rounds = num_rounds if fixed else max_rounds
    for rnd in range(rounds):
        if not fixed and n_active == 0:
            break
        best_s = (
            active.withColumn("_r", F.row_number().over(w_src))
            .filter(F.col("_r") == 1)
            .drop("_r")
        )
        best_d = (
            active.withColumn("_r", F.row_number().over(w_dst))
            .filter(F.col("_r") == 1)
            .drop("_r")
        )
        mutual = best_s.join(best_d.select("src", "dst"), on=["src", "dst"])
        if fixed:
            dom = runner.truncate_lazy(mutual)
        else:
            dom, drow = runner.truncate_agg(mutual, F.count(F.lit(1)).alias("n"))
            if int(drow["n"] or 0) == 0:
                break
        # union of checkpointed terms: flat lineage, no re-checkpoint job
        matched = dom if matched is None else matched.unionByName(dom)
        nxt = (
            active.join(dom.select("src"), on="src", how="left_anti")
            .join(dom.select("dst"), on="dst", how="left_anti")
        )
        if fixed:
            active = runner.truncate_lazy(nxt)
        else:
            active, row = runner.truncate_agg(nxt, F.count(F.lit(1)).alias("n"))
            n_active = int(row["n"] or 0)
        runner.save(rnd + 1, {"matched": matched, "active": active}, {})
    if matched is None:
        return edges.select("src", "dst", "w").filter(F.lit(False))
    return matched
