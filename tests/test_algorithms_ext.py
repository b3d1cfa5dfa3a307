"""Round-2 algorithm tests: direction-optimized BFS, betweenness, MIS,
bipartite matching, filtered BFS, RCM ordering — each vs a pure-python
oracle or an invariant set (the reference's application tests,
Applications/CMakeLists.txt: dobfs/fmis/bc ctest analogs)."""

import pyspark.sql.functions as F
import pytest

from combblas_spark.algorithms import (
    bfs,
    betweenness,
    mis_luby,
    maximal_matching,
    filtered_bfs,
    rcm_order,
)
from combblas_spark.algorithms.kcore import coreness_profile
from combblas_spark.algorithms.stats import attack_profile, percolation_profile
from combblas_spark.operators.indexing import relabel_edges, vec_sort, randperm
from combblas_spark.operators.reduce import bandwidth
from combblas_spark.operators.transform import symmetrize
from combblas_spark.sources.fixtures import (
    sevenvertex,
    chain_star_forest,
    weighted_digraph,
    SEVENVERTEX,
    EDGE_SCHEMA,
)
from tests.util import bfs_depths, brandes_bc


# ---------------------------------------------------------------- dir-opt BFS

def _bfs_result(df):
    return {(r["id"], r["parent"], r["depth"]) for r in df.collect()}


def test_bfs_directions_metamorphic_forest(spark):
    """top-down == auto == bottom-up (DirOptBFS.cpp semantics: the direction
    switch must not change the BFS tree given min-parent tie-breaks).
    Small path+star+clique forest: bottom-up costs one pass per LEVEL, so
    the fixture keeps the diameter modest."""
    rows = [(i, i + 1, 1.0) for i in range(12)]                 # path 0..12
    rows += [(5, 100 + i, 1.0) for i in range(200)]             # star at 5
    rows += [(9, 400, 1.0), (400, 401, 1.0), (401, 9, 1.0)]     # triangle
    edges = spark.createDataFrame(rows, "src long, dst long, w double")
    sym = symmetrize(edges)
    td = _bfs_result(bfs(spark, sym, root=0, mode="topdown"))
    au = _bfs_result(bfs(spark, sym, root=0, mode="auto"))
    bu = _bfs_result(bfs(spark, sym, root=0, mode="bottomup"))
    assert td == au == bu
    assert max(d for _, _, d in td) >= 9  # multi-level traversal exercised


def test_bfs_directions_metamorphic_random(spark):
    edges = symmetrize(weighted_digraph(spark, n=512, avg_deg=4, seed=11))
    td = _bfs_result(bfs(spark, edges, root=3, mode="topdown"))
    au = _bfs_result(bfs(spark, edges, root=3, mode="auto", bottom_up_cutoff=1.0))
    bu = _bfs_result(bfs(spark, edges, root=3, mode="bottomup"))
    assert td == au == bu
    want = bfs_depths(
        [(r["src"], r["dst"], 1.0) for r in edges.collect()], 3
    )
    assert {i: d for i, _, d in td} == want


# ---------------------------------------------------------------- betweenness

def test_betweenness_sevenvertex(spark):
    e = sevenvertex(spark)
    sources = spark.range(7).select(F.col("id"))
    got = {r["id"]: r["bc"] for r in betweenness(spark, e, sources).collect()}
    want = brandes_bc(SEVENVERTEX, range(7))
    assert set(got) == set(want)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-9)


def test_betweenness_partial_sources(spark):
    e = symmetrize(weighted_digraph(spark, n=96, avg_deg=4, seed=5))
    rows = [(r["src"], r["dst"]) for r in e.collect()]
    sources = spark.createDataFrame([(i,) for i in range(0, 96, 7)], "id long")
    got = {r["id"]: r["bc"] for r in betweenness(spark, e, sources).collect()}
    want = brandes_bc([(s, d, 1.0) for s, d in rows], range(0, 96, 7))
    for v in want:
        assert got.get(v, 0.0) == pytest.approx(want[v], abs=1e-7)


# ------------------------------------------------------------------------ MIS

def _check_mis(edge_rows, flags):
    members = {v for v, m in flags.items() if m}
    adj = {}
    for s, d in edge_rows:
        if s != d:
            adj.setdefault(s, set()).add(d)
            adj.setdefault(d, set()).add(s)
    # independence
    for v in members:
        assert not (adj.get(v, set()) & members), f"MIS not independent at {v}"
    # maximality
    for v, m in flags.items():
        if not m:
            assert adj.get(v, set()) & members, f"MIS not maximal at {v}"


def test_mis_sevenvertex(spark):
    sym = symmetrize(sevenvertex(spark))
    flags = {r["id"]: r["in_mis"] for r in mis_luby(spark, sym).collect()}
    _check_mis([(s, d) for s, d, _ in SEVENVERTEX], flags)


def test_mis_random_and_deterministic(spark):
    sym = symmetrize(weighted_digraph(spark, n=300, avg_deg=5, seed=9))
    rows = [(r["src"], r["dst"]) for r in sym.collect()]
    a = {r["id"]: r["in_mis"] for r in mis_luby(spark, sym, seed=1).collect()}
    _check_mis(rows, a)
    b = {r["id"]: r["in_mis"] for r in mis_luby(spark, sym.repartition(13), seed=1).collect()}
    assert a == b  # partition-independent determinism


# ------------------------------------------------------------------- matching

def test_matching_invariants(spark):
    # bipartite: src in 0..49 (left), dst in 100..139 (right)
    import random

    rnd = random.Random(4)
    rows = sorted({(rnd.randrange(50), 100 + rnd.randrange(40)) for _ in range(300)})
    e = spark.createDataFrame([(s, d, 1.0) for s, d in rows], EDGE_SCHEMA)
    m = [(r["src"], r["dst"]) for r in maximal_matching(spark, e).collect()]
    srcs = [s for s, _ in m]
    dsts = [d for _, d in m]
    assert len(srcs) == len(set(srcs)) and len(dsts) == len(set(dsts))  # matching
    assert set(m) <= set(rows)
    # maximality: no edge joins two unmatched endpoints
    ms, md = set(srcs), set(dsts)
    for s, d in rows:
        assert s in ms or d in md


# --------------------------------------------------------------- filtered BFS

def test_filtered_bfs_time_window(spark):
    # TwitterEdge analog: edges carry ts; traverse only ts in [10, 20)
    rows = [
        (0, 1, 1.0, 12), (1, 2, 1.0, 15), (2, 3, 1.0, 25),  # 2->3 outside window
        (0, 4, 1.0, 5),                                      # outside window
        (1, 5, 1.0, 19),
    ]
    e = spark.createDataFrame(rows, "src long, dst long, w double, ts long")
    res = filtered_bfs(
        spark, e, root=0, predicate=(F.col("ts") >= 10) & (F.col("ts") < 20)
    )
    got = {r["id"]: r["depth"] for r in res.collect()}
    assert got == {0: 0, 1: 1, 2: 2, 5: 2}


# ------------------------------------------------------------------------ RCM

def test_rcm_reduces_bandwidth(spark):
    # a ring + random chords relabeled by a random permutation has high
    # bandwidth; RCM should bring it way down
    import random

    # small ring: RCM's per-level ordering loop is O(diameter) driver
    # iterations, so the fixture keeps the diameter ~20
    rnd = random.Random(7)
    n = 40
    perm = list(range(n))
    rnd.shuffle(perm)
    rows = set()
    for i in range(n):
        a, b = perm[i], perm[(i + 1) % n]
        rows.add((min(a, b), max(a, b)))
    for _ in range(10):
        i = rnd.randrange(n)
        a, b = perm[i], perm[(i + rnd.randrange(1, 4)) % n]
        if a != b:
            rows.add((min(a, b), max(a, b)))
    e = symmetrize(spark.createDataFrame([(s, d, 1.0) for s, d in rows], EDGE_SCHEMA))
    e = e.localCheckpoint()
    bw_before = bandwidth(e)
    p = rcm_order(spark, e)
    relabeled = relabel_edges(e, p)
    bw_after = bandwidth(relabeled)
    assert bw_after < bw_before / 4


# ------------------------------------------------- parallel sort / randperm

def test_vec_sort_parallel_matches_semantics(spark):
    import random

    rnd = random.Random(3)
    vals = [(i, float(rnd.randrange(100))) for i in range(5000)]
    vec = spark.createDataFrame(vals, "id long, val double").repartition(7)
    got = [(r["rank"], r["orig_id"], r["val"]) for r in vec_sort(vec).collect()]
    got.sort()
    want = sorted(vals, key=lambda t: (t[1], t[0]))
    assert [(i, ov[0], ov[1]) for i, ov in enumerate(want)] == got
    # plan must not funnel through a single partition
    assert "SinglePartition" not in vec_sort(vec)._jdf.queryExecution().executedPlan().toString()


def test_randperm_parallel_deterministic(spark):
    vec = spark.range(4000).select("id", F.lit(0.0).alias("val"))
    a = {r["id"]: r["val"] for r in randperm(vec, seed=5).collect()}
    b = {r["id"]: r["val"] for r in randperm(vec.repartition(11), seed=5).collect()}
    assert a == b
    assert sorted(a.values()) == list(range(4000))  # a permutation
    c = {r["id"]: r["val"] for r in randperm(vec, seed=6).collect()}
    assert a != c


# ---------------------------------------------------------------------------
# incremental MCL (IncClust.h pipeline)
# ---------------------------------------------------------------------------

def _clique(base, k, w=1.0):
    return [(base + i, base + j, w) for i in range(k) for j in range(i + 1, k)]


def test_cluster_summary_drops_inter_cluster_edges(spark):
    from combblas_spark.algorithms import cluster_summary

    rows = _clique(0, 3) + _clique(10, 3) + [(0, 10, 0.5)]
    edges = spark.createDataFrame(rows, "src long, dst long, w double")
    clusters = spark.createDataFrame(
        [(v, 0) for v in (0, 1, 2)] + [(v, 10) for v in (10, 11, 12)],
        "id long, val long",
    )
    kept = {(r["src"], r["dst"]) for r in cluster_summary(edges, clusters).collect()}
    assert (0, 10) not in kept
    assert kept == {(s, d) for s, d, _ in rows if (s < 10) == (d < 10)}


def test_incremental_mcl_matches_full_mcl_and_extends(spark):
    """Phase 1: cluster two cliques. Phase 2: a third clique + a weak
    bridge arrives; incremental re-cluster must (a) keep the old cliques
    intact, (b) give the new clique its own cluster — the IncrementalMCL
    invariant (IncClust.h:619)."""
    from combblas_spark.algorithms import incremental_mcl, mcl
    from tests.util import collect_vec

    prev = spark.createDataFrame(
        _clique(0, 4) + _clique(10, 4) + [(0, 10, 0.01)],
        "src long, dst long, w double",
    )
    prev_clusters = mcl(spark, prev, inflation=2.0, max_iter=30)

    new = spark.createDataFrame(
        _clique(20, 4) + [(13, 20, 0.01)], "src long, dst long, w double"
    )
    labels = collect_vec(
        incremental_mcl(spark, prev, prev_clusters, new, inflation=2.0, max_iter=30)
    )
    groups = {}
    for v, l in labels.items():
        groups.setdefault(l, set()).add(v)
    assert {frozenset(g) for g in groups.values()} == {
        frozenset({0, 1, 2, 3}),
        frozenset({10, 11, 12, 13}),
        frozenset({20, 21, 22, 23}),
    }


def test_mcl_incremental_square_metamorphic(spark):
    """mcl(incremental_square=True) must produce the same clustering as the
    plain-spgemm expansion (the A^2 split is algebraically exact)."""
    from combblas_spark.algorithms import mcl
    from tests.util import collect_vec

    rows = _clique(0, 4) + _clique(10, 4) + [(0, 10, 0.01)]
    edges = spark.createDataFrame(rows, "src long, dst long, w double")
    a = collect_vec(mcl(spark, edges, inflation=2.0, max_iter=30))
    b = collect_vec(mcl(spark, edges, inflation=2.0, max_iter=30,
                        incremental_square=True))
    assert a == b


def test_filtered_bfs_predicate_pushdown(spark, tmp_path):
    """The payload predicate must reach the parquet scan (PushedFilters),
    so excluded edges are never materialized — the 'filtered semantic
    graph' claim in algorithms/filtered.py."""
    import pyspark.sql.functions as F

    p = str(tmp_path / "payload_edges")
    spark.createDataFrame(
        [(0, 1, 1.0, 5), (1, 2, 1.0, 15), (2, 3, 1.0, 25)],
        "src long, dst long, w double, ts long",
    ).write.parquet(p)
    edges = spark.read.parquet(p)
    sub = edges.filter(F.col("ts") >= 10)
    plan = sub._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "ts" in plan.split("PushedFilters")[1][:120]


# ---------------------------------------------------------------------------
# minimum-degree ordering (MD.cpp analog)
# ---------------------------------------------------------------------------

def test_md_order_star_and_path(spark):
    from combblas_spark.algorithms import md_order_blocked
    from combblas_spark.operators.transform import symmetrize

    # star: 0 is the hub; every leaf has degree 1 -> hub eliminated last
    star = symmetrize(spark.createDataFrame(
        [(0, i, 1.0) for i in range(1, 6)], "src long, dst long, w double"
    ))
    got = {r["id"]: r["val"] for r in md_order_blocked(spark, star).collect()}
    assert sorted(got.values()) == list(range(6))   # a permutation
    # leaves (degree 1) fill the first positions; the hub only becomes a
    # candidate once its updated reach-degree drops to 1 (ties -> min id,
    # so it edges out the last leaf at position 4)
    assert got[0] >= 4
    assert all(got[leaf] < got[0] for leaf in range(1, 5))

    # path 0-1-2-3-4: endpoints have degree 1 -> an endpoint goes first
    path = symmetrize(spark.createDataFrame(
        [(i, i + 1, 1.0) for i in range(4)], "src long, dst long, w double"
    ))
    got = {r["id"]: r["val"] for r in md_order_blocked(spark, path).collect()}
    assert sorted(got.values()) == list(range(5))
    first = [i for i, p in got.items() if p == 0][0]
    assert first in (0, 4)


def test_md_order_blocked_matches_per_block(spark):
    """Two disconnected cliques with a block assignment must order each
    block exactly as running the single-block path on that clique alone."""
    import pyspark.sql.functions as F
    from combblas_spark.algorithms import md_order_blocked
    from combblas_spark.operators.transform import symmetrize

    def clique(base, k):
        return [(base + i, base + j, 1.0) for i in range(k) for j in range(i + 1, k)]

    both = symmetrize(spark.createDataFrame(
        clique(0, 4) + clique(10, 3), "src long, dst long, w double"
    ))
    assignment = spark.createDataFrame(
        [(v, 0) for v in range(4)] + [(10 + v, 1) for v in range(3)],
        "id long, val long",
    )
    blocked = {(r["cluster"], r["id"]): r["val"]
               for r in md_order_blocked(spark, both, assignment).collect()}
    for base, k, cl in ((0, 4, 0), (10, 3, 1)):
        solo = symmetrize(spark.createDataFrame(
            clique(base, k), "src long, dst long, w double"
        ))
        alone = {r["id"]: r["val"] for r in md_order_blocked(spark, solo).collect()}
        for v, p in alone.items():
            assert blocked[(cl, v)] == p


def test_md_order_blocked_is_total_ordering(spark):
    """Vertices with only cross-block edges (and isolated ones) must still
    receive an elimination position — trailing per block, min-id first."""
    from combblas_spark.algorithms import md_order_blocked
    from combblas_spark.operators.transform import symmetrize

    # block 0 = {0,1}, block 1 = {2,3}; vertex 4 only bridges blocks,
    # vertex 5 is entirely absent from the edge set
    edges = symmetrize(spark.createDataFrame(
        [(0, 1, 1.0), (2, 3, 1.0), (4, 0, 1.0), (4, 2, 1.0)],
        "src long, dst long, w double",
    ))
    assignment = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 1), (3, 1), (4, 0), (5, 1)], "id long, val long"
    )
    rows = md_order_blocked(spark, edges, assignment).collect()
    got = {(r["cluster"], r["id"]): r["val"] for r in rows}
    assert set(got) == {(0, 0), (0, 1), (0, 4), (1, 2), (1, 3), (1, 5)}
    # within each block, positions are a permutation of 0..k-1
    for cl in (0, 1):
        ps = sorted(v for (c, _), v in got.items() if c == cl)
        assert ps == list(range(len(ps)))
    # the edge-less vertices trail their blocks
    assert got[(0, 4)] == 2
    assert got[(1, 5)] == 2


def test_k_tips_detects_hanging_paths(spark):
    """Hand-computed KTipsTest.cpp walk: path 0-1-2-3 branching at 3
    (children 4,5 rejoining at 6), spur 9 hanging off 2, isolated edge 7-8.
    Tip candidates are the degree-1 vertices {0, 9, 7, 8}; 0 and 9 reach the
    branch at 2, the isolated edge dead-ends (no tip row)."""
    from combblas_spark.algorithms import k_tips
    from combblas_spark.operators.transform import symmetrize

    und = [(0, 1), (1, 2), (2, 3), (3, 4), (3, 5), (4, 6), (5, 6), (2, 9), (7, 8)]
    edges = symmetrize(spark.createDataFrame(
        [(s, d, 1.0) for s, d in und], "src long, dst long, w double"
    ))
    got = {
        (r["tip"], r["source"], r["dest"])
        for r in k_tips(spark, edges, l=3).collect()
    }
    assert got == {(0, 1, 2), (9, 9, 2)}


def test_k_tips_no_tips_on_cycle(spark):
    from combblas_spark.algorithms import k_tips
    from combblas_spark.operators.transform import symmetrize

    cyc = [(i, (i + 1) % 6) for i in range(6)]
    edges = symmetrize(spark.createDataFrame(
        [(s, d, 1.0) for s, d in cyc], "src long, dst long, w double"
    ))
    assert k_tips(spark, edges, l=4).count() == 0


def test_bfs_random_parent_variant(spark):
    """RandomParentBFS.cpp parity: depth labels are identical to the
    min-parent tree; parents are genuine depth-(d-1) in-neighbors; the
    seeded tree is reproducible and a different seed changes some choice
    on a graph with parent ambiguity."""
    from combblas_spark.algorithms import bfs

    from combblas_spark.operators.transform import symmetrize
    from combblas_spark.sources.fixtures import weighted_digraph

    edges = symmetrize(weighted_digraph(spark, n=120, avg_deg=4, seed=9))
    base = {r["id"]: r for r in bfs(spark, edges, root=0).collect()}
    rnd = {r["id"]: r for r in bfs(spark, edges, root=0, parent_select="rand").collect()}
    assert set(base) == set(rnd)
    for i in base:
        assert base[i]["depth"] == rnd[i]["depth"]
    adj = {}
    for r in edges.collect():
        adj.setdefault(r["dst"], set()).add(r["src"])
    for i, r in rnd.items():
        if i != 0:
            assert r["parent"] in adj[i]
            assert base[r["parent"]]["depth"] == r["depth"] - 1
    again = {r["id"]: r["parent"] for r in bfs(spark, edges, root=0, parent_select="rand").collect()}
    assert again == {i: r["parent"] for i, r in rnd.items()}
    other = {r["id"]: r["parent"] for r in bfs(spark, edges, root=0, parent_select="rand", seed=99).collect()}
    assert any(other[i] != rnd[i]["parent"] for i in other)


def test_single_child_frontier(spark):
    """SingleChildBFS.cpp:282 Uniq(RandReduce) analog: one child per
    parent, children drawn from the input rows, deterministic."""
    from combblas_spark.algorithms import single_child_frontier

    new = spark.createDataFrame(
        [(10, 1), (11, 1), (12, 1), (20, 2), (30, 3), (31, 3)],
        "id long, val long",
    )
    got = {(r["id"], r["val"]) for r in single_child_frontier(new).collect()}
    assert len(got) == 3
    assert {v for _, v in got} == {1, 2, 3}
    assert got <= {(10, 1), (11, 1), (12, 1), (20, 2), (30, 3), (31, 3)}
    again = {(r["id"], r["val"]) for r in single_child_frontier(new).collect()}
    assert got == again


# ------------------------------------------------------------------- k-core

def test_kcore_triangle_pendant(spark):
    """Triangle + pendant chain: the 2-core is exactly the triangle; the
    pendant path peels away over two rounds (depth > 1 exercises the loop)."""
    from combblas_spark.algorithms.kcore import kcore

    pairs = [(0, 1), (1, 2), (0, 2), (2, 3), (3, 4)]
    e = spark.createDataFrame(
        [(a, b, 1.0) for a, b in pairs] + [(b, a, 1.0) for a, b in pairs],
        EDGE_SCHEMA,
    )
    got = {r["id"]: r["in_kcore"] for r in kcore(spark, e, k=2).collect()}
    assert got == {0: 1, 1: 1, 2: 1, 3: 0, 4: 0}
    # k above the max degree: empty core, every vertex still reported
    got4 = {r["id"]: r["in_kcore"] for r in kcore(spark, e, k=4).collect()}
    assert got4 == {0: 0, 1: 0, 2: 0, 3: 0, 4: 0}


# ------------------------------------------------- personalized PageRank

def test_personalized_pagerank_vs_numpy(spark):
    """PPR on a small weighted digraph WITH a dangling vertex: restart and
    dangling mass both land on the seed set only; oracle = dense numpy
    replay of the exact same recurrence."""
    from combblas_spark.algorithms import pagerank

    rows = [(0, 1, 1.0), (0, 2, 2.0), (1, 2, 1.0), (2, 3, 1.0)]  # 3 dangles
    e = spark.createDataFrame(rows, EDGE_SCHEMA)
    seeds, alpha, iters, n = [0], 0.85, 15, 4
    got = {
        r["id"]: r["val"]
        for r in pagerank(spark, e, alpha=alpha, num_iters=iters, seeds=seeds).collect()
    }

    import numpy as np

    p = np.zeros(n)
    p[seeds] = 1.0 / len(seeds)
    w = np.zeros((n, n))
    for s, d, wt in rows:
        w[s, d] = wt
    out = w.sum(axis=1)
    pn = np.divide(w, out[:, None], out=np.zeros_like(w), where=out[:, None] > 0)
    x = p.copy()
    for _ in range(iters):
        dang = x[out == 0].sum()
        x = (1.0 - alpha + alpha * dang) * p + alpha * (pn.T @ x)
    for v in range(n):
        assert got[v] == pytest.approx(x[v], abs=1e-12)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)
    # mass concentrates at the seed vs the uniform-restart ranks
    glob = {
        r["id"]: r["val"]
        for r in pagerank(spark, e, alpha=alpha, num_iters=iters).collect()
    }
    assert got[0] > glob[0]


# --------------------------------------------------------- random walks

def test_random_walks_hash_priority(spark):
    """Walks replay the md5 hash priority exactly (python oracle), and a
    dead-end vertex terminates its walk early."""
    import hashlib

    from combblas_spark.algorithms import random_walks

    rows = [(0, 1, 1.0), (0, 2, 1.0), (1, 3, 1.0), (1, 4, 1.0)]  # 2,3,4 dead-end
    e = spark.createDataFrame(rows, EDGE_SCHEMA)
    seeds = spark.createDataFrame([(0,)], "id long")
    got = {
        (r["walk_id"], r["step"]): r["vertex"]
        for r in random_walks(spark, e, seeds, length=3).collect()
    }

    def pick(walk_id, step, cands):
        return min(
            cands,
            key=lambda d: (hashlib.md5(f"walk|{walk_id}|{step}|{d}".encode()).hexdigest(), d),
        )

    v1 = pick(0, 1, [1, 2])
    assert got[(0, 0)] == 0 and got[(0, 1)] == v1
    if v1 == 1:
        v2 = pick(0, 2, [3, 4])
        assert got[(0, 2)] == v2
        assert (0, 3) not in got  # 3/4 are dead ends
    else:
        assert (0, 2) not in got  # 2 is a dead end


# --------------------------------------------------------------------- HITS

def test_hits_vs_numpy(spark):
    """Weighted HITS on a small directed graph vs a dense numpy replay of
    the exact recurrence (L2-normalized half-steps, hub0 = 1)."""
    import numpy as np
    from combblas_spark.algorithms.hits import hits

    rows = [(0, 2, 1.0), (0, 3, 2.0), (1, 2, 1.0), (3, 2, 1.0), (4, 0, 1.0)]
    e = spark.createDataFrame(rows, EDGE_SCHEMA)
    iters = 6
    got = {
        r["id"]: (r["hub"], r["auth"])
        for r in hits(spark, e, num_iters=iters).collect()
    }
    n = 5
    A = np.zeros((n, n))
    for s, d, w in rows:
        A[s, d] = w
    h = np.ones(n)
    for _ in range(iters):
        a = A.T @ h
        na = np.sqrt((a * a).sum())
        a = a / na if na > 0 else a
        h = A @ a
        nh = np.sqrt((h * h).sum())
        h = h / nh if nh > 0 else h
    for v in range(n):
        gh, ga = got[v]
        assert abs(gh - h[v]) < 1e-9 and abs(ga - a[v]) < 1e-9, (v, got[v])


def test_hits_rejects_nonpositive_iters(spark):
    import pytest
    from combblas_spark.algorithms.hits import hits

    e = spark.createDataFrame([(0, 1, 1.0)], EDGE_SCHEMA)
    with pytest.raises(ValueError, match="num_iters"):
        hits(spark, e, num_iters=0)


def test_scc_warns_and_sentinels_on_peel_exhaustion(spark):
    """max_peels exhausted with vertices left must warn and label the
    leftovers with the -1 sentinel, never silently drop them (ADVICE r4).
    Descending path 2->1->0 needs one peel per vertex (only the max-id color
    root's singleton SCC completes per round), so max_peels=1 leaves {0,1}."""
    import pytest
    from combblas_spark.algorithms.scc import scc

    e = spark.createDataFrame([(2, 1, 1.0), (1, 0, 1.0)], EDGE_SCHEMA)
    with pytest.warns(RuntimeWarning, match="scc: max_peels"):
        got = {r["id"]: r["scc_id"] for r in scc(spark, e, max_peels=1).collect()}
    assert got == {2: 2, 1: -1, 0: -1}


# ------------------------------------------------------------------- k-truss

def test_ktruss_k4_plus_tail(spark):
    """K4 plus a pendant triangle sharing one vertex: the 4-truss is exactly
    the K4's six edges (every K4 edge sits in 2 triangles); the pendant
    triangle (support 1) peels — and its removal must NOT cascade into K4."""
    from combblas_spark.algorithms.ktruss import ktruss

    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    pend = [(3, 4), (3, 5), (4, 5)]
    pairs = k4 + pend
    e = spark.createDataFrame(
        [(a, b, 1.0) for a, b in pairs] + [(b, a, 1.0) for a, b in pairs],
        EDGE_SCHEMA,
    )
    got = {(r["src"], r["dst"]): r["in_ktruss"] for r in ktruss(spark, e, k=4).collect()}
    assert got == {**{p: 1 for p in k4}, **{p: 0 for p in pend}}
    # k=3: every edge is in >=1 triangle here, nothing peels
    got3 = {(r["src"], r["dst"]): r["in_ktruss"] for r in ktruss(spark, e, k=3).collect()}
    assert got3 == {p: 1 for p in pairs}
    # k=5 cascades to empty (K4 edges have support 2 < 3)
    got5 = {(r["src"], r["dst"]): r["in_ktruss"] for r in ktruss(spark, e, k=5).collect()}
    assert got5 == {p: 0 for p in pairs}


def test_ktruss_cascade_depth(spark):
    """Chained triangles sharing edges: peeling one triangle lowers its
    neighbor's support below threshold — a multi-round cascade."""
    from combblas_spark.algorithms.ktruss import ktruss

    # strip of triangles: (0,1,2), (1,2,3), (2,3,4) — inner edge (1,2) and
    # (2,3) have support 2, outer edges support 1. k=4 (support>=2): round 1
    # drops outer edges, which strands (1,2)/(2,3) -> empty at fixpoint.
    pairs = [(0, 1), (0, 2), (1, 2), (1, 3), (2, 3), (2, 4), (3, 4)]
    e = spark.createDataFrame(
        [(a, b, 1.0) for a, b in pairs] + [(b, a, 1.0) for a, b in pairs],
        EDGE_SCHEMA,
    )
    got = {(r["src"], r["dst"]): r["in_ktruss"] for r in ktruss(spark, e, k=4).collect()}
    assert got == {p: 0 for p in pairs}


def test_ktruss_incremental_matches_bruteforce(spark):
    """The incremental per-round support decrement must equal a from-scratch
    peel on a graph with multi-round cascades and triangles sharing edges
    (including triangles destroyed by 2 deleted edges at once)."""
    import itertools
    from combblas_spark.algorithms.ktruss import ktruss

    # deterministic pseudo-random graph: 14 vertices, edge iff hash parity
    pairs = [
        (a, b)
        for a, b in itertools.combinations(range(14), 2)
        if (a * 37 + b * 61 + (a * b) % 29) % 3 != 0
    ]
    e = spark.createDataFrame(
        [(a, b, 1.0) for a, b in pairs] + [(b, a, 1.0) for a, b in pairs],
        EDGE_SCHEMA,
    )
    for k in (3, 4, 5):
        # pure-python from-scratch peel oracle
        es = set(pairs)
        while True:
            sup = {p: 0 for p in es}
            for a, b, c in itertools.combinations(range(14), 3):
                if (a, b) in es and (a, c) in es and (b, c) in es:
                    sup[(a, b)] += 1
                    sup[(a, c)] += 1
                    sup[(b, c)] += 1
            keep = {p for p in es if sup[p] >= k - 2}
            if keep == es:
                break
            es = keep
        got = {
            (r["src"], r["dst"]): r["in_ktruss"]
            for r in ktruss(spark, e, k=k).collect()
        }
        assert got == {p: (1 if p in es else 0) for p in pairs}, f"k={k}"


def test_kcore_ktruss_warn_on_round_exhaustion(spark):
    """Exiting the peel loop on the round bound without a fixpoint must warn
    (ADVICE r4): a path at k=2 needs ~|V|/2 k-core rounds; the triangle
    strip needs 2 k-truss rounds."""
    import pytest
    from combblas_spark.algorithms.kcore import kcore
    from combblas_spark.algorithms.ktruss import ktruss

    path = [(i, i + 1) for i in range(12)]
    e = spark.createDataFrame(
        [(a, b, 1.0) for a, b in path] + [(b, a, 1.0) for a, b in path],
        EDGE_SCHEMA,
    )
    with pytest.warns(RuntimeWarning, match="kcore: max_rounds"):
        kcore(spark, e, k=2, max_rounds=2)

    strip = [(0, 1), (0, 2), (1, 2), (1, 3), (2, 3), (2, 4), (3, 4)]
    e2 = spark.createDataFrame(
        [(a, b, 1.0) for a, b in strip] + [(b, a, 1.0) for a, b in strip],
        EDGE_SCHEMA,
    )
    with pytest.warns(RuntimeWarning, match="ktruss: max_rounds"):
        ktruss(spark, e2, k=4, max_rounds=1)


@pytest.mark.parametrize(
    "fn, arg",
    [
        (coreness_profile, "ks"),
        (percolation_profile, "levels"),
        (attack_profile, "levels"),
    ],
    ids=lambda v: getattr(v, "__name__", v),
)
def test_profile_thread_pool_bounds(spark, monkeypatch, fn, arg):
    """The per-level thread pools reject an empty level list by name and
    open at most 3 driver threads however many levels are asked for."""
    import concurrent.futures

    e = symmetrize(sevenvertex(spark))
    with pytest.raises(ValueError, match=f"{fn.__name__}: {arg} must be non-empty"):
        fn(spark, e, **{arg: ()})

    class PoolOpened(Exception):
        pass

    workers = []

    def recording_pool(max_workers):
        workers.append(max_workers)
        raise PoolOpened

    monkeypatch.setattr(concurrent.futures, "ThreadPoolExecutor", recording_pool)
    with pytest.raises(PoolOpened):
        fn(spark, e, **{arg: (1, 2, 3, 4, 5)})
    assert workers == [3]


# --------------------------------------------------------- neighbor sampling

def test_neighbor_sample(spark):
    """Fanout cap holds per src, result is deterministic across calls and
    repartitionings, and is replayed exactly by the hashlib priority."""
    import hashlib
    from combblas_spark.algorithms.walks import neighbor_sample

    pairs = [(0, d) for d in range(10)] + [(1, 11), (1, 12), (2, 13)]
    e = spark.createDataFrame([(a, b, 1.0) for a, b in pairs], EDGE_SCHEMA)
    got = {(r["src"], r["dst"]) for r in neighbor_sample(e, fanout=3).collect()}
    per_src = {}
    for s, d in got:
        per_src.setdefault(s, set()).add(d)
    assert len(per_src[0]) == 3
    assert per_src[1] == {11, 12} and per_src[2] == {13}
    # hashlib replay of src=0's choice
    pri = sorted(
        (hashlib.md5(f"nbr|0|{d}".encode()).hexdigest(), d) for d in range(10)
    )
    assert per_src[0] == {d for _, d in pri[:3]}
    again = {
        (r["src"], r["dst"])
        for r in neighbor_sample(e.repartition(7), fanout=3).collect()
    }
    assert got == again


def test_neighbor_sample_skew_adaptive_salt(spark):
    """A web-hub vertex with degree >> the 4096 local-group target triggers
    the adaptive salt (n_salt > 1); the result must still equal the plain
    per-src top-fanout by hash priority and stay partition-invariant."""
    import hashlib
    from combblas_spark.algorithms.walks import neighbor_sample

    hub_deg = 9000  # -> n_salt = ceil(9000/4096) = 3
    pairs = [(0, d) for d in range(1, hub_deg + 1)] + [(1, 2), (1, 3)]
    e = spark.createDataFrame([(a, b, 1.0) for a, b in pairs], EDGE_SCHEMA)
    got = {(r["src"], r["dst"]) for r in neighbor_sample(e, fanout=5).collect()}
    pri = sorted(
        (hashlib.md5(f"nbr|0|{d}".encode()).hexdigest(), d)
        for d in range(1, hub_deg + 1)
    )
    expect = {(0, d) for _, d in pri[:5]} | {(1, 2), (1, 3)}
    assert got == expect
    again = {
        (r["src"], r["dst"])
        for r in neighbor_sample(e.repartition(13), fanout=5).collect()
    }
    assert got == again


# ------------------------------------------------------------ BFS validation

def test_bfs_validate(spark):
    """Graph500-spec validation: the real BFS tree validates clean; a
    corrupted parent / depth / cross-component tree trips each counter."""
    from combblas_spark.algorithms.bfs import bfs, bfs_validate

    rows = [(i, i + 1, 1.0) for i in range(8)]              # path 0..8
    rows += [(3, 100 + i, 1.0) for i in range(20)]          # star at 3
    rows += [(500, 501, 1.0)]                               # unreached comp
    e = symmetrize(spark.createDataFrame(rows, EDGE_SCHEMA))
    tree = bfs(spark, e, root=0)
    ok = bfs_validate(e, tree).collect()[0]
    assert all(v == 0 for v in ok.asDict().values()), ok

    # corrupt one non-root parent to a non-adjacent vertex: phantom link
    rows = tree.collect()
    bad = [
        (r["id"], r["id"] + 1000, r["depth"]) if r["depth"] == 2 else
        (r["id"], r["parent"], r["depth"])
        for r in rows
    ]
    baddf = spark.createDataFrame(bad, "id long, parent long, depth int")
    v = bfs_validate(e, baddf).collect()[0]
    assert v["n_phantom_link"] > 0 and v["n_bad_level"] > 0

    # drop one visited vertex: its edges become cross edges
    part = tree.filter(F.col("depth") != 1)
    v2 = bfs_validate(e, part).collect()[0]
    assert v2["n_cross_edge"] > 0


# ----------------------------------------------------------------------- SCC

def test_scc_vs_tarjan(spark):
    """Coloring-peel SCC vs an iterative-Tarjan python oracle on a digraph
    with a 3-cycle, a 2-cycle feeding it, and acyclic tails."""
    from combblas_spark.algorithms.scc import scc

    pairs = [
        (0, 1), (1, 2), (2, 0),          # 3-cycle {0,1,2}
        (3, 4), (4, 3),                  # 2-cycle {3,4}
        (4, 0),                          # bridge (one-way)
        (5, 0), (2, 6),                  # tails in/out
        (7, 8),                          # acyclic pair
    ]
    e = spark.createDataFrame([(a, b, 1.0) for a, b in pairs], EDGE_SCHEMA)
    got = {r["id"]: r["scc_id"] for r in scc(spark, e).collect()}

    # python oracle: iterative Tarjan
    import collections
    adj = collections.defaultdict(list)
    vs = set()
    for a, b in pairs:
        adj[a].append(b)
        vs |= {a, b}
    index, low, onstk, stk, out = {}, {}, set(), [], {}
    counter = [0]
    def strongconnect(v0):
        work = [(v0, 0)]
        while work:
            v, pi = work[-1]
            if pi == 0:
                index[v] = low[v] = counter[0]; counter[0] += 1
                stk.append(v); onstk.add(v)
            recurse = False
            for i in range(pi, len(adj[v])):
                w = adj[v][i]
                if w not in index:
                    work[-1] = (v, i + 1)
                    work.append((w, 0))
                    recurse = True
                    break
                elif w in onstk:
                    low[v] = min(low[v], index[w])
            if recurse:
                continue
            if low[v] == index[v]:
                comp = []
                while True:
                    w = stk.pop(); onstk.discard(w); comp.append(w)
                    if w == v:
                        break
                m = max(comp)
                for w in comp:
                    out[w] = m
            work.pop()
            if work:
                u, _ = work[-1]
                low[u] = min(low[u], low[v])
    for v in sorted(vs):
        if v not in index:
            strongconnect(v)
    assert got == out


def test_random_walks_per_seed(spark):
    """walks_per_seed=3: replicas take independent deterministic paths
    (different walk_ids hash differently) and each is byte-replayable."""
    import hashlib
    from combblas_spark.algorithms.walks import random_walks

    pairs = [(0, d) for d in range(1, 6)] + [(d, d + 10) for d in range(1, 6)]
    e = spark.createDataFrame([(a, b, 1.0) for a, b in pairs], EDGE_SCHEMA)
    seeds = spark.createDataFrame([(0,)], "id long")
    rows = random_walks(spark, e, seeds, length=2, walks_per_seed=3).collect()
    by_walk = {}
    for r in rows:
        by_walk.setdefault(r["walk_id"], {})[r["step"]] = r["vertex"]
    assert set(by_walk) == {0, 1, 2}
    # hashlib replay per walk
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, []).append(b)
    for wid, path in by_walk.items():
        assert path[0] == 0
        cur = 0
        for step in (1, 2):
            cands = adj.get(cur, [])
            if not cands:
                assert step not in path
                break
            pick = min(
                cands,
                key=lambda d: (
                    hashlib.md5(f"walk|{wid}|{step}|{d}".encode()).hexdigest(),
                    d,
                ),
            )
            assert path[step] == pick
            cur = pick
    # replicas diverge somewhere at step 1 (5 neighbors, 3 independent picks)
    assert len({p[1] for p in by_walk.values()}) > 1


def test_walk_cooccurrence_brute_force(spark):
    """Skip-gram pairs over a hand-built corpus (one full walk, one
    dead-end walk with a missing tail) match a positional brute force,
    and the table is symmetric: n(a,b) == n(b,a)."""
    from collections import Counter

    from combblas_spark.algorithms.walks import walk_cooccurrence

    corpus = {0: [10, 11, 12, 11, 10], 1: [20, 21]}  # walk 1 dead-ends
    rows = [
        (wid, step, v)
        for wid, path in corpus.items()
        for step, v in enumerate(path)
    ]
    walks = spark.createDataFrame(rows, "walk_id long, step long, vertex long")
    for window in (1, 2):
        want = Counter()
        for path in corpus.values():
            for i, a in enumerate(path):
                for j, b in enumerate(path):
                    if i != j and abs(i - j) <= window:
                        want[(a, b)] += 1
        got = {
            (r["center"], r["context"]): r["n"]
            for r in walk_cooccurrence(walks, window=window).collect()
        }
        assert got == dict(want)
        assert all(got[(b, a)] == n for (a, b), n in got.items())
    import pytest as _pytest

    with _pytest.raises(ValueError):
        walk_cooccurrence(walks, window=0)


def test_bowtie_regions(spark):
    """Hand-built bow-tie: 3-cycle core, an IN tail feeding it, an OUT tail
    fed by it, and a disconnected tendril pair."""
    from combblas_spark.algorithms.scc import bowtie

    pairs = [
        (0, 1), (1, 2), (2, 0),    # core cycle
        (10, 0),                   # in
        (11, 10),                  # in (two hops)
        (2, 20),                   # out
        (20, 21),                  # out chain
        (30, 31),                  # tendril (disconnected)
    ]
    e = spark.createDataFrame([(a, b, 1.0) for a, b in pairs], EDGE_SCHEMA)
    got = {r["id"]: r["region"] for r in bowtie(spark, e).collect()}
    assert got == {
        0: "core", 1: "core", 2: "core",
        10: "in", 11: "in",
        20: "out", 21: "out",
        30: "tendril", 31: "tendril",
    }


# ------------------------------------------------------------- triad motifs

def _motifs(spark, rows, max_degree=None):
    from combblas_spark.algorithms.motifs import triad_motifs

    edges = spark.createDataFrame(rows, "src long, dst long, w double")
    r = triad_motifs(edges, max_degree=max_degree).collect()[0]
    return (r["n_recip"], r["n_ffl"], r["n_cycle"])


def test_motifs_known_patterns(spark):
    # pure feed-forward triangle: a->b, b->c, a->c
    assert _motifs(spark, [(0, 1, 1.0), (1, 2, 1.0), (0, 2, 1.0)]) == (0, 1, 0)
    # pure 3-cycle: counted once regardless of rotation
    assert _motifs(spark, [(0, 1, 1.0), (1, 2, 1.0), (2, 0, 1.0)]) == (0, 0, 1)
    # one reciprocated pair, no triangles
    assert _motifs(spark, [(3, 4, 1.0), (4, 3, 1.0)]) == (1, 0, 0)


def test_motifs_reciprocated_triangle_instance_counts(spark):
    """Fully reciprocated triangle (all 6 arcs): 3 reciprocated pairs;
    every ordered triple (a,b,c) of the 3 vertices is an FFL instance
    (3! = 6); each directed orientation of the cycle counted once (2).
    Duplicate rows and self-loops must not change anything."""
    arcs = [(a, b, 1.0) for a in (0, 1, 2) for b in (0, 1, 2) if a != b]
    noisy = arcs + arcs + [(0, 0, 9.0), (2, 2, 1.0)]
    assert _motifs(spark, noisy) == (3, 6, 2)


def test_motifs_center_degree_cap(spark):
    """Cap applies to the wedge CENTER only: arcs {0->1, 1->2, 0->2, 2->1,
    5->6} give deg(0)=2, deg(1)=deg(2)=3. FFL instances: (0,1,2) through
    center 1 and (0,2,1) through center 2 — both centers have degree 3,
    so max_degree=2 drops every wedge while the reciprocity count (not
    wedge-based) is unchanged."""
    rows = [(0, 1, 1.0), (1, 2, 1.0), (0, 2, 1.0), (2, 1, 1.0), (5, 6, 1.0)]
    assert _motifs(spark, rows) == (1, 2, 0)
    assert _motifs(spark, rows, max_degree=2) == (1, 0, 0)
    assert _motifs(spark, rows, max_degree=3) == (1, 2, 0)  # non-binding


# ---------------------------------------------------- eigenvector centrality

def test_eigenvector_centrality_python_replay(spark):
    """Exact replay of the fixed-iteration contract: same x0, same
    max-column-sum divisor, same final L2 normalization + round."""
    import math

    from combblas_spark.algorithms.eigencentrality import eigenvector_centrality

    rows = [(0, 1, 1.0), (1, 0, 1.0), (1, 2, 2.0), (2, 1, 2.0),
            (2, 3, 1.0), (3, 2, 1.0), (4, 5, 3.0), (5, 4, 3.0)]
    edges = spark.createDataFrame(rows, "src long, dst long, w double")
    got = {
        r["id"]: r["val"]
        for r in eigenvector_centrality(spark, edges, num_iters=6).collect()
    }

    verts = sorted({s for s, _, _ in rows} | {d for _, d, _ in rows})
    wdmax = max(
        sum(w for _, d, w in rows if d == v) for v in verts
    )
    x = {v: 1.0 for v in verts}
    for _ in range(6):
        nxt = {}
        for s, d, w in rows:
            if s in x:
                nxt[d] = nxt.get(d, 0.0) + w * x[s]
        x = {d: v / wdmax for d, v in nxt.items()}
    dense = {v: x.get(v, 0.0) for v in verts}
    nrm = math.sqrt(sum(v * v for v in dense.values()))
    want = {v: round(val / nrm, 6) for v, val in dense.items()}
    assert got == want
    # the weight-2 spine edge concentrates mass on vertices 1 and 2
    assert got[1] > got[0] and got[2] > got[3]


def test_eigenvector_centrality_validates_iters(spark):
    import pytest as _pytest

    from combblas_spark.algorithms.eigencentrality import eigenvector_centrality

    edges = spark.createDataFrame([(0, 1, 1.0)], "src long, dst long, w double")
    with _pytest.raises(ValueError):
        eigenvector_centrality(spark, edges, num_iters=0)


# ---------------------------------------------- densest subgraph / louvain

def _peel_replay(pairs, num, den):
    """Pure-python Bahmani peel on a symmetric directed-pair set."""
    from collections import Counter

    edges = set(pairs)
    prof, best, r = [], None, 0
    while edges:
        verts = {d for _, d in edges}
        n, big_m = len(verts), len(edges)
        prof.append((r, n, big_m // 2))
        if best is None or (big_m // 2) * best[1] > best[0] * n:
            best = (big_m // 2, n, set(verts))
        deg = Counter(d for _, d in edges)
        keep = {v for v in verts if den * deg[v] * n > num * big_m}
        edges = {(s, d) for s, d in edges if s in keep and d in keep}
        r += 1
    return prof, best[2]


def _sym(pairs):
    return sorted({(a, b) for a, b in pairs} | {(b, a) for a, b in pairs})


def test_densest_planted_clique(spark):
    """K8 + a 10-path + one bridge: the peel strips the path first and the
    best round is exactly the clique (density 3.5 vs 2.11 full-graph)."""
    import pytest
    from combblas_spark.algorithms.densest import densest_subgraph

    clique = [(100 + i, 100 + j) for i in range(8) for j in range(i + 1, 8)]
    path = [(i, i + 1) for i in range(9)]
    pairs = _sym(clique + path + [(9, 100)])
    e = spark.createDataFrame(pairs, "src long, dst long")
    prof, members = densest_subgraph(spark, e, num=5, den=4)
    got = sorted(
        (r["round"], r["n_vertices"], r["m_edges"], r["density"])
        for r in prof.collect()
    )
    want_prof, want_members = _peel_replay(pairs, 5, 4)
    assert [(r, n, m) for r, n, m, _ in got] == want_prof
    for (_, n, m, dens), _w in zip(got, want_prof):
        assert dens == pytest.approx(m / n, abs=1e-6)
    assert sorted(r["id"] for r in members.collect()) == sorted(want_members)
    assert sorted(want_members) == [100 + i for i in range(8)]
    with pytest.raises(ValueError):
        densest_subgraph(spark, e, num=2, den=2)


def _louvain_replay(pairs, rounds):
    from collections import Counter

    deg = Counter(d for _, d in pairs)
    big_m = len(pairs)
    comm = {v: v for v in deg}
    for _ in range(rounds):
        tot = Counter()
        for v, c in comm.items():
            tot[c] += deg[v]
        kic = Counter()
        for s, d in pairs:
            kic[(s, comm[d])] += 1
        new = {}
        for v in deg:
            cands = {c for (i, c) in kic if i == v} | {comm[v]}
            best = None
            for c in sorted(cands):
                own = c == comm[v]
                score = big_m * kic.get((v, c), 0) - deg[v] * (
                    tot[c] - (deg[v] if own else 0)
                )
                key = (score, 1 if own else 0, -c)
                if best is None or key > best[0]:
                    best = (key, c)
            new[v] = best[1]
        comm = new
    return comm


def test_louvain_moves_replay(spark):
    """Two triangles + bridge: synchronized integer-score moves match the
    pure-python replay for 1 and 2 rounds; partition-count invariant."""
    import pytest
    from combblas_spark.algorithms.louvain import louvain_moves

    tri1 = [(0, 1), (1, 2), (0, 2)]
    tri2 = [(10, 11), (11, 12), (10, 12)]
    pairs = _sym(tri1 + tri2 + [(2, 10)])
    e = spark.createDataFrame(pairs, "src long, dst long")
    for rounds in (1, 2):
        got = {
            r["id"]: r["comm"]
            for r in louvain_moves(spark, e, rounds=rounds).collect()
        }
        assert got == _louvain_replay(pairs, rounds)
    got1 = {
        r["id"]: r["comm"]
        for r in louvain_moves(spark, e.repartition(7), rounds=2).collect()
    }
    assert got1 == _louvain_replay(pairs, 2)
    # triangles end up internally merged: each triangle maps into <= 2
    # communities and the two triangles never share one
    c1 = {got1[v] for v in (0, 1, 2)}
    c2 = {got1[v] for v in (10, 11, 12)}
    assert not (c1 & c2)
    with pytest.raises(ValueError):
        louvain_moves(spark, e, rounds=0)
