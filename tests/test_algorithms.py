"""Algorithm end-to-end tests vs numpy / pure-python oracles
(the reference's application-level tests, SURVEY.md §5)."""

import numpy as np
import pyspark.sql.functions as F
import pytest

from combblas_spark.algorithms import (
    pagerank,
    cc_minlabel,
    cc_fastsv,
    canonical_labels,
    bfs,
    triangle_count,
    label_propagation,
    mcl,
)
from combblas_spark.algorithms.cc import cc_trace
from combblas_spark.algorithms.triangles import _oriented, triangles_per_edge
from combblas_spark.operators.transform import symmetrize, remove_loops
from combblas_spark.sources.fixtures import (
    sevenvertex,
    chain_star_forest,
    weighted_digraph,
    SEVENVERTEX,
)
from tests.util import (
    edges_to_dense,
    collect_vec,
    union_find_components,
    pagerank_dense,
    bfs_depths,
    triangle_count_dense,
)


def test_pagerank_vs_numpy(spark):
    edges = weighted_digraph(spark, n=256, avg_deg=6, seed=7)
    rows = [(r["src"], r["dst"], r["w"]) for r in edges.collect()]
    n = 256
    a = edges_to_dense(rows, n)
    want = pagerank_dense(a, alpha=0.85, iters=120)
    verts = spark.range(n).select(F.col("id"))
    got = collect_vec(
        pagerank(spark, edges, alpha=0.85, tol=1e-9, max_iter=150, vertices=verts, check_every=5)
    )
    for i in range(n):
        assert got[i] == pytest.approx(want[i], abs=1e-6)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def _dangling_digraph(spark):
    """Directed graph with dangling vertices (FIXTURES.md F5), plus vertex
    64, which no edge touches, passed through ``vertices=``."""
    edges = weighted_digraph(spark, n=64, avg_deg=4, seed=13)
    n = 65
    a = edges_to_dense([(r["src"], r["dst"], r["w"]) for r in edges.collect()], n)
    assert (a.sum(axis=1) == 0).sum() >= 2 and not a[:, 64].any()
    return edges, spark.range(n).select("id"), a


@pytest.mark.parametrize("kind", ["tolerance", "num_iters", "seeds"])
def test_pagerank_dangling_and_isolated_vs_numpy(spark, kind):
    edges, verts, a = _dangling_digraph(spark)
    if kind == "num_iters":
        got = pagerank(spark, edges, num_iters=7, vertices=verts)
        want, tol = pagerank_dense(a, iters=7), 1e-12
    else:
        seeds = [3, 17] if kind == "seeds" else None
        got = pagerank(spark, edges, tol=1e-9, vertices=verts, seeds=seeds)
        want, tol = pagerank_dense(a, iters=200, seeds=seeds), 1e-8
    got = collect_vec(got)
    assert sorted(got) == list(range(65))
    for i in range(65):
        assert got[i] == pytest.approx(want[i], abs=tol)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_cc_small(spark):
    sym = symmetrize(sevenvertex(spark))
    labels = collect_vec(cc_minlabel(spark, sym))
    assert set(labels.values()) == {0}  # sevenvertex is one component
    labels2 = collect_vec(canonical_labels(cc_fastsv(spark, sym)))
    assert labels == labels2


def test_cc_forest_fastsv(spark):
    edges, golden = chain_star_forest(spark)
    sym = symmetrize(edges)
    got = collect_vec(canonical_labels(cc_fastsv(spark, sym)))
    rows = [(r["src"], r["dst"], 1.0) for r in edges.select("src", "dst").collect()]
    verts = set(got.keys())
    want = union_find_components(rows, verts)
    assert got == want
    assert len(set(got.values())) == golden["n_components_with_edges"]


def test_cc_lacc_matches_fastsv(spark):
    from combblas_spark.algorithms import cc_lacc

    for make in (
        lambda: symmetrize(sevenvertex(spark)),
        lambda: symmetrize(chain_star_forest(spark)[0]),
        lambda: symmetrize(weighted_digraph(spark, n=300, avg_deg=2, seed=13)),
    ):
        sym = make()
        want = collect_vec(canonical_labels(cc_fastsv(spark, sym)))
        got = collect_vec(cc_lacc(spark, sym))
        assert got == want


def test_cc_lacc_superstep_count_logarithmic(spark, tmp_path):
    """On a diameter-200 path (min-label would need ~200 supersteps) LACC
    must converge in O(log n) hook/shortcut rounds, like FastSV."""
    from combblas_spark.algorithms import cc_lacc
    from combblas_spark.plans.superstep import SuperstepRunner
    import os

    n = 200
    path = symmetrize(spark.createDataFrame(
        [(i, i + 1, 1.0) for i in range(n - 1)], "src long, dst long, w double"
    ))
    runner = SuperstepRunner(spark, checkpoint_dir=str(tmp_path / "lacc"))
    labels = collect_vec(cc_lacc(spark, path, runner=runner))
    assert set(labels.values()) == {0}
    iters = len([d for d in os.listdir(tmp_path / "lacc") if d.startswith("iter=")])
    assert iters <= 14  # ~log2(200) + schedule slack; far below diameter


def test_bfs_sevenvertex(spark):
    res = bfs(spark, sevenvertex(spark), root=2)
    got = {r["id"]: r["depth"] for r in res.collect()}
    want = bfs_depths(SEVENVERTEX, 2)
    assert got == want
    # parents are valid: parent of each non-root is at depth-1 with an edge
    parents = {r["id"]: r["parent"] for r in res.collect()}
    edge_set = {(s, d) for s, d, _ in SEVENVERTEX}
    for v, p in parents.items():
        if v != 2:
            assert (p, v) in edge_set
            assert got[p] == got[v] - 1


def test_triangles(spark):
    edges, golden = chain_star_forest(spark)
    assert triangle_count(edges) == golden["triangles"]
    assert triangle_count(edges, degree_ordered=False) == golden["triangles"]
    rows = [(r["src"], r["dst"], 1.0) for r in edges.collect()]
    # cross-check the golden itself on a small slice: triangles only
    tri_rows = [(s - 40_000, d - 40_000, w) for s, d, w in rows if 40_000 <= s < 50_000]
    assert triangle_count_dense(tri_rows, 150) == 50


# wheel on hub 0 (rim 1..6, degree ties on the rim), a pendant 7 on rim
# vertex 3, an all-ties triangle 10-11-12 given partly reversed, a loop and
# a duplicate edge in both directions
PER_EDGE_ROWS = (
    [(0, v) for v in range(1, 7)]
    + [(v, v % 6 + 1) for v in range(1, 7)]
    + [(3, 7), (10, 11), (12, 11), (12, 10), (2, 2), (1, 2), (2, 1)]
)


def _oriented_py(rows, degree_ordered):
    und = {(min(s, d), max(s, d)) for s, d in rows if s != d}
    if not degree_ordered:
        return und
    deg = {}
    for e in und:
        for v in e:
            deg[v] = deg.get(v, 0) + 1
    return {(u, v) if (deg[u], u) < (deg[v], v) else (v, u) for u, v in und}


def _per_edge_py(L):
    """L·L ⊙ L: (i, k, #j with i->j->k) for every oriented edge i->k that
    closes at least one wedge."""
    succ = {}
    for u, v in L:
        succ.setdefault(u, set()).add(v)
    out = set()
    for i, k in L:
        w = sum(1 for j in succ.get(i, ()) if k in succ.get(j, ()))
        if w:
            out.add((i, k, w))
    return out


@pytest.mark.parametrize("degree_ordered", [True, False])
def test_triangles_per_edge_contract(spark, degree_ordered):
    """Pins which oriented edge each triangle is credited to."""
    edges = spark.createDataFrame(
        [(s, d, 1.0) for s, d in PER_EDGE_ROWS], "src long, dst long, w double"
    )
    L = [tuple(r) for r in _oriented(edges, degree_ordered).collect()]
    want_L = _oriented_py(PER_EDGE_ROWS, degree_ordered)
    # each undirected edge exactly once, from its lower-(degree, id) endpoint
    assert len(L) == len(want_L)
    assert {(s, d) for s, d, _ in L} == want_L
    assert {w for _, _, w in L} == {1}
    got = {tuple(r) for r in triangles_per_edge(edges, degree_ordered).collect()}
    want = _per_edge_py(want_L)
    assert got == want
    assert sum(w for _, _, w in want) == 7  # six wheel triangles + 10-11-12


def test_triangle_count_job_budget(spark):
    """The degree-ordered count over a cached graph (the way kernels see
    their input) materializes the canonical edge set and its orientation
    once each, so the masked product plans over flat leaves: at most 12
    Spark jobs. Re-deriving both in every plan branch took 32."""
    edges, golden = chain_star_forest(spark)
    g = edges.persist()
    g.count()
    sc = spark.sparkContext
    group = "test-triangle-count-job-budget"
    sc.setJobGroup(group, "triangle_count job budget")
    try:
        assert triangle_count(g) == golden["triangles"]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        g.unpersist()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= 12, len(jobs)


def _jobs_per_call(spark, group, fn, calls=2):
    """Spark jobs of each of ``calls`` runs of ``fn``, one job group each."""
    sc = spark.sparkContext
    counts = []
    for i in range(calls):
        sc.setJobGroup(f"{group}-{i}", group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        counts.append(len(sc.statusTracker().getJobIdsForGroup(f"{group}-{i}")))
    return counts


def test_pagerank_job_budget(spark):
    """PageRank to tolerance over a cached symmetric graph: set-up is one
    cut of the degree table (vertex and dangling counts folded into its
    job) plus the normalized self-row edge layout, and each superstep is
    one vector broadcast plus one checkpoint job that folds its delta: at
    most 34 jobs, the same in every call (34 measured). Broadcasting the
    contributions back onto the old ranks every superstep took 48, and
    separate vertex, degree and dangling counts with an agg().collect()
    per superstep 69."""
    g = symmetrize(weighted_digraph(spark, n=128, avg_deg=4, seed=3)).persist()
    g.count()
    try:
        counts = _jobs_per_call(
            spark, "test-pagerank-job-budget", lambda: pagerank(spark, g, tol=1e-6)
        )
    finally:
        g.unpersist()
    assert counts[0] == counts[1] <= 34, counts


def test_pagerank_directed_job_budget(spark):
    """The same call on the directed graph, whose 8 dangling vertices need
    a dangling mass every superstep: each superstep's checkpoint job
    observes it for the next one, so only the starting vector's mass is
    summed on its own (one join and sum, at most 4 jobs). The count stays
    within that of the symmetric call (the test above) plus those 4: at
    most 38, the same in every call (37 measured). A dangling join and
    collect before every superstep took 90."""
    g = weighted_digraph(spark, n=128, avg_deg=4, seed=3).persist()
    g.count()
    try:
        counts = _jobs_per_call(
            spark, "test-pagerank-directed-job-budget",
            lambda: pagerank(spark, g, tol=1e-6),
        )
    finally:
        g.unpersist()
    assert counts[0] == counts[1] <= 38, counts


def test_cc_minlabel_job_budget(spark):
    """Min-label CC over a cached symmetric graph: the first cut counts |V|
    for the broadcast gate inside its own job (and fills the self-row
    layout), and each superstep is one label broadcast plus one checkpoint
    job that folds its moved count: at most 14 jobs, the same in every
    call (14 measured). Broadcasting the neighbor minima back onto the old
    labels every superstep took 18; a separate count and an
    agg().collect() per superstep 25."""
    g = symmetrize(weighted_digraph(spark, n=128, avg_deg=4, seed=3)).persist()
    g.count()
    try:
        counts = _jobs_per_call(
            spark, "test-cc-minlabel-job-budget", lambda: cc_minlabel(spark, g)
        )
    finally:
        g.unpersist()
    assert counts[0] == counts[1] <= 14, counts


def test_label_propagation_job_budget(spark):
    """Five label-propagation supersteps over a cached symmetric graph:
    the first cut counts |V| (and fills the self-row layout), and each
    superstep's pick is one aggregate over the layout, whose self rows
    keep the label of a vertex with no scored neighbor: one label
    broadcast per superstep, chained by lazy cuts into the final count.
    At most 11 jobs, the same in every call (11 measured). Broadcasting
    the picks back onto the old labels every superstep took 15."""
    g = symmetrize(weighted_digraph(spark, n=128, avg_deg=4, seed=3)).persist()
    g.count()
    try:
        counts = _jobs_per_call(
            spark, "test-label-propagation-job-budget",
            lambda: label_propagation(spark, g, num_iters=5),
        )
    finally:
        g.unpersist()
    assert counts[0] == counts[1] <= 11, counts


# (edge rows, vertices= ids or None) for the inputs where a self row per
# vertex could change an answer: no edge at all, one vertex that only
# vertices= names, only self-loops, a self-loop beside ordinary edges, and
# a vertices= set that omits an edge endpoint (3) and adds an isolated 9
EDGE_CASES = {
    "empty": ([], None),
    "single_vertex": ([], [7]),
    "only_loops": ([(1, 1, 1.0), (2, 2, 2.0)], None),
    "loop_and_edges": (
        [(1, 1, 3.0), (1, 2, 1.0), (2, 1, 1.0), (2, 3, 2.0), (3, 2, 2.0),
         (4, 5, 1.0), (5, 4, 1.0)],
        None,
    ),
    "omitted_endpoint": (
        [(1, 2, 1.0), (2, 1, 1.0), (2, 3, 1.0), (3, 2, 1.0), (3, 3, 1.0)],
        [1, 2, 9],
    ),
}


def _pagerank_py(rows, ids, iters, alpha=0.85):
    """PageRank over the vertex set ``ids`` as ``vertices=`` defines it:
    the out-degree counts every edge out of a vertex, the share an edge
    sends to a vertex outside ``ids`` is lost, and the rank of a vertex
    with no out-edge spreads uniformly."""
    n = len(ids)
    out = {}
    for s, d, w in rows:
        if s in ids:
            out[s] = out.get(s, 0.0) + w
    x = {v: 1.0 / n for v in ids}
    for _ in range(iters):
        dang = sum(x[v] for v in ids if v not in out)
        nx = {v: (1 - alpha) / n + alpha * dang / n for v in ids}
        for s, d, w in rows:
            if s in ids and d in ids:
                nx[d] += alpha * w / out[s] * x[s]
        x = nx
    return x


def _min_label_py(rows, ids, iters):
    """Synchronous min-label rounds over the in-edges of ``ids``:
    [(labels, n_changed)] after each round; n_changed is None over no
    vertex, as SQL's SUM of no row."""
    lab = {v: v for v in ids}
    out = []
    for _ in range(iters):
        new = dict(lab)
        for s, d, _w in rows:
            if s in lab and d in lab:
                new[d] = min(new[d], lab[s])
        moved = sum(new[v] < lab[v] for v in ids) if ids else None
        lab = new
        out.append((dict(lab), moved))
    return out


def _label_propagation_py(rows, ids, iters):
    """Each round a vertex takes the label with the largest in-edge weight
    sum (ties to the smallest label) and keeps its own with no in-edge."""
    lab = {v: v for v in ids}
    for _ in range(iters):
        new = {}
        for v in ids:
            score = {}
            for s, d, w in rows:
                if d == v and s in lab:
                    score[lab[s]] = score.get(lab[s], 0.0) + w
            new[v] = min(score, key=lambda k: (-score[k], k)) if score else lab[v]
        lab = new
    return lab


@pytest.mark.parametrize("case", sorted(EDGE_CASES))
def test_spmv_kernels_edge_cases(spark, case):
    """pagerank (tolerance and fixed-iteration), cc_minlabel, cc_trace and
    label_propagation on the inputs of EDGE_CASES equal pure-python
    oracles. label_propagation and cc_trace take no vertices=; their
    vertex set is the edges' destinations."""
    rows, ids = EDGE_CASES[case]
    edges = spark.createDataFrame(rows, "src long, dst long, w double")
    verts = None if ids is None else spark.createDataFrame([(v,) for v in ids], "id long")
    dsts = sorted({d for _, d, _ in rows})
    ids = dsts if ids is None else ids

    if not ids:  # 1/n: PageRank over no vertex is undefined
        with pytest.raises(ZeroDivisionError):
            pagerank(spark, edges, vertices=verts)
    else:
        for kw, iters, tol in (({"tol": 1e-10}, 200, 1e-9), ({"num_iters": 5}, 5, 1e-12)):
            got = collect_vec(pagerank(spark, edges, vertices=verts, **kw))
            want = _pagerank_py(rows, set(ids), iters)
            assert sorted(got) == sorted(want)
            for v in want:
                assert got[v] == pytest.approx(want[v], abs=tol)

    in_set = [(s, d, w) for s, d, w in rows if s in ids and d in ids]
    assert collect_vec(cc_minlabel(spark, edges, vertices=verts)) == (
        union_find_components(in_set, ids)
    )
    trace = _min_label_py(rows, dsts, 3)
    assert sorted(tuple(r) for r in cc_trace(spark, edges, num_iters=3).collect()) == [
        (i + 1, moved, len(set(lab.values()))) for i, (lab, moved) in enumerate(trace)
    ]
    assert collect_vec(label_propagation(spark, edges, num_iters=3)) == (
        _label_propagation_py(rows, dsts, 3)
    )


def test_label_propagation_cliques(spark):
    # two disjoint 5-cliques -> 2 labels (the clique minima)
    rows = []
    for base in (0, 100):
        for i in range(5):
            for j in range(i + 1, 5):
                rows.append((base + i, base + j, 1.0))
    edges = symmetrize(spark.createDataFrame(rows, "src long, dst long, w double"))
    labels = collect_vec(label_propagation(spark, edges, num_iters=4))
    assert set(labels.values()) == {0, 100}
    assert all(l == (0 if v < 100 else 100) for v, l in labels.items())


def test_mcl_two_cliques(spark):
    # two 4-cliques joined by one weak bridge — MCL must split them
    rows = []
    for base in (0, 10):
        for i in range(4):
            for j in range(i + 1, 4):
                rows.append((base + i, base + j, 1.0))
    rows.append((0, 10, 0.01))
    edges = spark.createDataFrame(rows, "src long, dst long, w double")
    labels = collect_vec(mcl(spark, edges, inflation=2.0, max_iter=30))
    groups = {}
    for v, l in labels.items():
        groups.setdefault(l, set()).add(v)
    assert {frozenset(g) for g in groups.values()} == {
        frozenset({0, 1, 2, 3}),
        frozenset({10, 11, 12, 13}),
    }
