"""Round-5 continuation: data-quality/audit plane (fk_audit,
column_profile, fd_audit, benford_audit) — hand-case oracles."""

from __future__ import annotations

import math

import pyspark.sql.functions as F
import pytest

from combblas_spark.functions.dq import (
    BENFORD_P,
    benford_audit,
    column_profile,
    fd_audit,
    fk_audit,
)


# ------------------------------------------------------------------ fk_audit


def test_fk_audit_hand_case(spark):
    child = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c"), (3, "d"), (3, "e"), (3, "f")],
        "k long, payload string",
    )
    parent = spark.createDataFrame([(1,), (3,), (9,)], "pk long")
    row = fk_audit(child, "k", parent, "pk", "t").collect()[0]
    assert (
        row.rel,
        row.n_rows,
        row.n_keys,
        row.n_orphan_rows,
        row.n_orphan_keys,
    ) == ("t", 6, 3, 1, 1)


def test_fk_audit_null_child_key_is_orphan(spark):
    child = spark.createDataFrame(
        [(1, "a"), (None, "b"), (None, "c")], "k long, payload string"
    )
    parent = spark.createDataFrame([(1,)], "pk long")
    row = fk_audit(child, "k", parent, "pk", "t").collect()[0]
    # the two NULL-key rows form one orphan key with two orphan rows
    assert (row.n_rows, row.n_keys, row.n_orphan_rows, row.n_orphan_keys) == (
        3,
        2,
        2,
        1,
    )


def test_fk_audit_clean_relationship(spark):
    child = spark.createDataFrame([(1,), (2,), (2,)], "k long")
    parent = spark.createDataFrame([(1,), (2,), (3,)], "pk long")
    row = fk_audit(child, "k", parent, "pk", "clean").collect()[0]
    assert (row.n_orphan_rows, row.n_orphan_keys) == (0, 0)


# ------------------------------------------------------------ column_profile


def test_column_profile_hand_case(spark):
    df = spark.createDataFrame(
        [(9, "x"), (10, "y"), (None, "y"), (2, None)],
        "v long, s string",
    )
    rows = {r.col_name: r for r in column_profile(df, ["v", "s"]).collect()}
    v = rows["v"]
    # min is NUMERIC 2, not lexicographic "10"
    assert (v.n, v.n_null, v.n_distinct, v.min_s, v.max_s) == (
        4,
        1,
        3,
        "2",
        "10",
    )
    s = rows["s"]
    assert (s.n, s.n_null, s.n_distinct, s.min_s, s.max_s) == (
        4,
        1,
        2,
        "x",
        "y",
    )


# ------------------------------------------------------------------ fd_audit


def test_fd_key_audit(spark):
    df = spark.createDataFrame(
        [(1, 10), (2, 20), (2, 30), (3, 40)], "a long, b long"
    )
    row = fd_audit(df, ["a"], None, "key_a").collect()[0]
    assert (row.n_groups, row.n_violations, row.max_mult, row.holds) == (
        3,
        1,
        2,
        0,
    )
    row2 = fd_audit(df, ["a", "b"], None, "key_ab").collect()[0]
    assert (row2.n_violations, row2.holds) == (0, 1)


def test_fd_dependency_audit(spark):
    # a -> c holds; a -> b fails on a=2
    df = spark.createDataFrame(
        [(1, 10, "x"), (2, 20, "y"), (2, 30, "y"), (3, 40, "z")],
        "a long, b long, c string",
    )
    good = fd_audit(df, ["a"], ["c"], "fd_ac").collect()[0]
    assert (good.n_violations, good.max_mult, good.holds) == (0, 1, 1)
    bad = fd_audit(df, ["a"], ["b"], "fd_ab").collect()[0]
    assert (bad.n_violations, bad.max_mult, bad.holds) == (1, 2, 0)


# ------------------------------------------------------------------- benford


def test_benford_hand_counts(spark):
    # values: leading digits 1,1,2,9 — digits 3..8 zero-filled
    df = spark.createDataFrame(
        [(1,), (123,), (25,), (900,)], "v long"
    )
    rows = {r.digit: r for r in benford_audit(df, "v").collect()}
    assert len(rows) == 9
    assert [rows[d].n for d in range(1, 10)] == [2, 1, 0, 0, 0, 0, 0, 0, 1]
    # chi-square term replayed in python with the same literals
    for d in range(1, 10):
        exp = BENFORD_P[d - 1] * 4.0
        want = round((rows[d].n - exp) * (rows[d].n - exp) / exp, 6)
        assert math.isclose(rows[d].chi2_term, want, rel_tol=0, abs_tol=1e-12)


def test_benford_rejects_nonpositive(spark):
    df = spark.createDataFrame([(5,), (0,)], "v long")
    with pytest.raises(Exception, match="non-positive"):
        benford_audit(df, "v").collect()


# --------------------------------------------------------- grid_radius_join


def _brute_pairs(pts, r):
    out = set()
    for i, (ia, xa, ya) in enumerate(pts):
        for ib, xb, yb in pts[i + 1:]:
            d2 = (xa - xb) ** 2 + (ya - yb) ** 2
            if d2 <= r * r:
                a, b = sorted((ia, ib))
                out.add((a, b, d2))
    return out


def _spatial_fixture():
    # deterministic scatter incl. same-cell, adjacent-cell and
    # boundary-exact pairs
    import hashlib

    pts = []
    for i in range(80):
        h = hashlib.md5(f"sp|{i}".encode()).hexdigest()
        pts.append((i, int(h[:8], 16) % 1000, int(h[8:16], 16) % 1000))
    # exact-boundary pair: d2 == r^2 must be INCLUDED
    pts.append((1000, 5000, 5000))
    pts.append((1001, 5100, 5000))  # d = 100 == r below
    return pts


def test_grid_radius_join_brute_force_law(spark):
    from combblas_spark.operators.spatial import grid_radius_join

    pts = _spatial_fixture()
    df = spark.createDataFrame(pts, "id long, x long, y long")
    got = {
        (r.id_a, r.id_b, r.d2)
        for r in grid_radius_join(df, "id", "x", "y", 100).collect()
    }
    assert got == _brute_pairs(pts, 100)
    assert (1000, 1001, 10000) in got  # inclusive boundary


def test_grid_radius_join_partition_invariance(spark):
    from combblas_spark.operators.spatial import grid_radius_join

    pts = _spatial_fixture()
    df = spark.createDataFrame(pts, "id long, x long, y long")
    a = sorted(
        (r.id_a, r.id_b, r.d2)
        for r in grid_radius_join(df, "id", "x", "y", 150).collect()
    )
    b = sorted(
        (r.id_a, r.id_b, r.d2)
        for r in grid_radius_join(
            df.repartition(7), "id", "x", "y", 150
        ).collect()
    )
    assert a == b and len(a) > 0


def test_grid_radius_join_rejects_negative(spark):
    from combblas_spark.operators.spatial import grid_radius_join

    df = spark.createDataFrame([(1, 5, 5), (2, -3, 4)], "id long, x long, y long")
    with pytest.raises(Exception, match="negative coordinate"):
        grid_radius_join(df, "id", "x", "y", 10).collect()


def test_grid_radius_join_hot_cell_raises(spark):
    from combblas_spark.operators.spatial import grid_radius_join

    rows = [(i, 7, 7) for i in range(30)]
    df = spark.createDataFrame(rows, "id long, x long, y long")
    with pytest.raises(Exception, match="max_cell"):
        grid_radius_join(df, "id", "x", "y", 10, max_cell=20).collect()


def test_grid_radius_join_no_cartesian(spark):
    from combblas_spark.operators.spatial import grid_radius_join

    df = spark.createDataFrame(
        [(1, 5, 5), (2, 8, 8), (3, 500, 500)], "id long, x long, y long"
    )
    plan = (
        grid_radius_join(df, "id", "x", "y", 10)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan


# ------------------------------------------------- reciprocity/assortativity


def test_reciprocity_hand_case(spark):
    from combblas_spark.algorithms.stats import reciprocity

    e = spark.createDataFrame(
        [(1, 2, 1.0), (2, 1, 1.0), (1, 3, 1.0)], "src long, dst long, w double"
    )
    row = reciprocity(e).collect()[0]
    assert (row.n_edges, row.n_recip) == (3, 2)
    assert row.reciprocity == round(2 / 3, 6)


def test_assortativity_path_graph_is_minus_one(spark):
    from combblas_spark.algorithms.stats import degree_assortativity

    # P3 (1-2-3) symmetric: the textbook r = -1 case
    e = spark.createDataFrame(
        [(1, 2, 1.0), (2, 1, 1.0), (2, 3, 1.0), (3, 2, 1.0)],
        "src long, dst long, w double",
    )
    row = degree_assortativity(e).collect()[0]
    assert (row.m, row.s_jk, row.s_j, row.s_jj) == (4, 8, 6, 10)
    assert row.r == -1.0


def test_assortativity_python_replay(spark):
    import hashlib

    from combblas_spark.algorithms.stats import degree_assortativity

    pairs = set()
    for i in range(60):
        h = hashlib.md5(f"as|{i}".encode()).hexdigest()
        a, b = int(h[:6], 16) % 20, int(h[6:12], 16) % 20
        if a != b:
            pairs.add((a, b))
            pairs.add((b, a))
    deg = {}
    for a, b in pairs:
        deg[a] = deg.get(a, 0) + 1
    m = len(pairs)
    s_jk = sum(deg[a] * deg[b] for a, b in pairs)
    s_j = sum(deg[a] for a, _ in pairs)
    s_jj = sum(deg[a] ** 2 for a, _ in pairs)
    num = m * s_jk - s_j * s_j
    den = math.sqrt(m * s_jj - s_j * s_j) * math.sqrt(m * s_jj - s_j * s_j)
    e = spark.createDataFrame(
        [(a, b, 1.0) for a, b in sorted(pairs)], "src long, dst long, w double"
    )
    row = degree_assortativity(e).collect()[0]
    assert (row.m, row.s_jk, row.s_j, row.s_jj) == (m, s_jk, s_j, s_jj)
    assert row.r == round(num / den, 6)


# ---------------------------------------------------------------- topo_order


def test_topological_order_diamond(spark):
    from combblas_spark.algorithms.ordering import topological_order

    # diamond 1 -> {2,3} -> 4: levels 0,1,1,2; rank order 1,2,3,4
    e = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 4), (3, 4)], "src long, dst long"
    )
    rows = sorted(
        topological_order(spark, e).collect(), key=lambda r: r.rank
    )
    assert [(r.id, r.level, r.rank) for r in rows] == [
        (1, 0, 0),
        (2, 1, 1),
        (3, 1, 2),
        (4, 2, 3),
    ]


def test_topological_order_every_edge_climbs(spark):
    import hashlib

    from combblas_spark.algorithms.ordering import topological_order

    edges = set()
    for i in range(200):
        h = hashlib.md5(f"to|{i}".encode()).hexdigest()
        layer = int(h[:4], 16) % 6
        edges.add(
            (layer * 10 + int(h[4:8], 16) % 10,
             (layer + 1) * 10 + int(h[8:12], 16) % 10)
        )
    e = spark.createDataFrame(sorted(edges), "src long, dst long")
    out = topological_order(spark, e).collect()
    rank = {r.id: r.rank for r in out}
    assert sorted(rank.values()) == list(range(len(rank)))  # dense perm
    for s, d in edges:
        assert rank[s] < rank[d]


def test_topological_order_cycle_raises(spark):
    from combblas_spark.algorithms.ordering import topological_order

    e = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], "src long, dst long")
    with pytest.raises(RuntimeError, match="cycle|fixpoint"):
        topological_order(spark, e, max_iter=8)


# ------------------------------------------------------- relational plans


def test_relational_topk_plans(spark):
    import os

    sf = "/root/testdata/sf0.001"
    if not os.path.isdir(sf):
        pytest.skip("testdata not present")
    import __spark_entry__ as em

    for q in ("big_orders", "cust_returns"):
        plan = (
            em.queries()[q](spark, sf)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "TakeOrderedAndProject" in plan, q
    promo = (
        em.queries()["promo_share"](spark, sf)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in promo


# --------------------------------------------------------- clique_communities


def _py_clique_comms(pairs):
    """Pure-python 3-clique percolation replay."""
    adj = {}
    for a, b in pairs:
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    tris = set()
    for x in adj:
        for y in adj[x]:
            if y <= x:
                continue
            for z in adj[x] & adj[y]:
                if z > y:
                    tris.add((x, y, z))
    S = 1 << 20
    tid = {t: (t[0] * S + t[1]) * S + t[2] for t in tris}
    # union-find over triangles sharing an edge
    parent = {tid[t]: tid[t] for t in tris}

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    by_edge = {}
    for t in tris:
        x, y, z = t
        for e in ((x, y), (x, z), (y, z)):
            by_edge.setdefault(e, []).append(tid[t])
    for ts in by_edge.values():
        for other in ts[1:]:
            ra, rb = find(ts[0]), find(other)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    out = set()
    for t in tris:
        comm = find(tid[t])
        for v in t:
            out.add((v, comm))
    return out


def test_clique_comm_overlap_bowtie(spark):
    from combblas_spark.algorithms.clustering import clique_communities

    # bowtie: triangles (1,2,3) and (3,4,5) share only vertex 3 ->
    # two communities, vertex 3 in BOTH (the overlap k-clique
    # percolation exists for)
    pairs = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (3, 5)]
    e = spark.createDataFrame(
        [(a, b, 1.0) for a, b in pairs] + [(b, a, 1.0) for a, b in pairs],
        "src long, dst long, w double",
    )
    got = {
        (r.id, r.comm) for r in clique_communities(spark, e).collect()
    }
    assert got == _py_clique_comms(pairs)
    comms = {c for v, c in got}
    assert len(comms) == 2
    assert sum(1 for v, c in got if v == 3) == 2  # overlap membership


def test_clique_comm_shared_edge_merges(spark):
    from combblas_spark.algorithms.clustering import clique_communities

    # triangles (1,2,3) and (2,3,4) share edge (2,3) -> ONE community
    pairs = [(1, 2), (2, 3), (1, 3), (2, 4), (3, 4)]
    e = spark.createDataFrame(
        [(a, b, 1.0) for a, b in pairs] + [(b, a, 1.0) for a, b in pairs],
        "src long, dst long, w double",
    )
    got = {(r.id, r.comm) for r in clique_communities(spark, e).collect()}
    assert got == _py_clique_comms(pairs)
    assert len({c for _, c in got}) == 1
    assert {v for v, _ in got} == {1, 2, 3, 4}


def test_clique_comm_python_replay(spark):
    import hashlib

    from combblas_spark.algorithms.clustering import clique_communities

    pairs = set()
    for i in range(150):
        h = hashlib.md5(f"cq|{i}".encode()).hexdigest()
        a, b = int(h[:6], 16) % 25, int(h[6:12], 16) % 25
        if a != b:
            pairs.add((min(a, b), max(a, b)))
    e = spark.createDataFrame(
        [(a, b, 1.0) for a, b in sorted(pairs)]
        + [(b, a, 1.0) for a, b in sorted(pairs)],
        "src long, dst long, w double",
    )
    got = {(r.id, r.comm) for r in clique_communities(spark, e).collect()}
    assert got == _py_clique_comms(pairs)
    assert len(got) > 0


def test_clique_comm_big_id_raises(spark):
    from combblas_spark.algorithms.clustering import clique_communities

    big = 1 << 21
    pairs = [(big, big + 1), (big + 1, big + 2), (big, big + 2)]
    e = spark.createDataFrame(
        [(a, b, 1.0) for a, b in pairs] + [(b, a, 1.0) for a, b in pairs],
        "src long, dst long, w double",
    )
    with pytest.raises(Exception, match="2\\^20"):
        clique_communities(spark, e).collect()


# ------------------------------------------------------------------ hll_setops


def _setops_fixture(spark):
    rows = []
    for i in range(400):
        rows.append(("a", f"k{i}"))
    for i in range(200, 700):
        rows.append(("b", f"k{i}"))
    for i in range(5000, 5300):
        rows.append(("c", f"k{i}"))  # disjoint from a and b
    # duplicates must not matter
    rows += [("a", "k0"), ("b", "k200")]
    return spark.createDataFrame(rows, "g string, v string")


def test_hll_setops_exact_columns(spark):
    from combblas_spark.functions.sketch import hll_setops

    df = _setops_fixture(spark)
    out = {
        (r.set_a, r.set_b): r
        for r in hll_setops(df, "g", F.col("v")).collect()
    }
    ab = out[("a", "b")]
    assert (ab.n_a, ab.n_b, ab.n_inter, ab.n_union) == (400, 500, 200, 700)
    ac = out[("a", "c")]
    assert (ac.n_inter, ac.n_union) == (0, 700)
    # disjoint-set inclusion-exclusion error is emitted, not clamped
    assert ac.est_inter == round(ac.est_a + ac.est_b - ac.est_union, 6)


def test_hll_setops_union_merge_equals_direct(spark):
    from combblas_spark.functions.sketch import hll_distinct, hll_setops

    df = _setops_fixture(spark)
    merged = {
        (r.set_a, r.set_b): r.est_union
        for r in hll_setops(df, "g", F.col("v")).collect()
    }
    for ga, gb in merged:
        direct_df = df.filter(F.col("g").isin([ga, gb])).withColumn(
            "g", F.lit("u")
        )
        direct = hll_distinct(direct_df, "g", F.col("v")).collect()[0]
        # register MAX-merge must equal the directly-built union sketch
        assert merged[(ga, gb)] == direct.hll_est, (ga, gb)


def test_hll_setops_identical_sets(spark):
    from combblas_spark.functions.sketch import hll_setops

    rows = [("x", f"k{i}") for i in range(300)] + [
        ("y", f"k{i}") for i in range(300)
    ]
    df = spark.createDataFrame(rows, "g string, v string")
    r = hll_setops(df, "g", F.col("v")).collect()[0]
    assert r.est_a == r.est_b == r.est_union
    assert r.est_inter == round(r.est_a, 6)
    assert (r.n_inter, r.n_union) == (300, 300)


# -------------------------------------------------------------------- streaks


def test_activity_streaks_hand_case(spark):
    import datetime

    from combblas_spark.functions.sessions import activity_streaks

    D = datetime.datetime
    rows = [
        # user 1: 3-day run, gap, 2-day run (dup timestamps same day)
        (1, D(2024, 1, 1, 5)), (1, D(2024, 1, 2, 6)), (1, D(2024, 1, 3, 7)),
        (1, D(2024, 1, 3, 9)), (1, D(2024, 1, 10, 1)), (1, D(2024, 1, 11, 2)),
        # user 2: single day
        (2, D(2024, 2, 1, 0)),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = {r.user: r for r in activity_streaks(df, "user_id", "ts").collect()}
    u1 = out[1]
    assert (u1.n_days, u1.n_islands, u1.max_streak) == (5, 2, 3)
    assert (u1.first_day, u1.last_day) == ("2024-01-01", "2024-01-11")
    u2 = out[2]
    assert (u2.n_days, u2.n_islands, u2.max_streak) == (1, 1, 1)


# ----------------------------------------------------------------------- scd2


def test_scd2_compress_hand_case(spark):
    from combblas_spark.functions.cdc import scd2_compress

    rows = [
        (1, "d1", "A"), (1, "d2", "A"), (1, "d3", "B"), (1, "d4", "A"),
        (2, "d1", "X"),
    ]
    df = spark.createDataFrame(rows, "k long, ts string, val string")
    got = sorted(
        (r.key, r.value, r.valid_from, r.valid_to, r.is_current)
        for r in scd2_compress(df, "k", "ts", "val").collect()
    )
    # d2's repeat of A is compressed away; A's validity runs d1->d3
    assert got == [
        (1, "A", "d1", "d3", 0),
        (1, "A", "d4", None, 1),
        (1, "B", "d3", "d4", 0),
        (2, "X", "d1", None, 1),
    ]


def test_scd2_state_at_any_time_law(spark):
    import hashlib

    from combblas_spark.functions.cdc import scd2_compress

    # random version history; the intervals must reproduce point-in-time
    # state for every (key, query day)
    rows = []
    hist = {}
    for k in range(20):
        vals = []
        for v in range(6):
            h = hashlib.md5(f"s2|{k}|{v}".encode()).hexdigest()
            vals.append(str(int(h[:4], 16) % 3))
        hist[k] = vals
        rows += [(k, f"t{v}", vals[v]) for v in range(6)]
    df = spark.createDataFrame(rows, "k long, ts string, val string")
    ivs = scd2_compress(df, "k", "ts", "val").collect()
    for k, vals in hist.items():
        for v in range(6):
            q = f"t{v}"
            # state at q = value of the interval containing q
            state = [
                r.value
                for r in ivs
                if r.key == k
                and r.valid_from <= q
                and (r.valid_to is None or q < r.valid_to)
            ]
            assert state == [vals[v]], (k, v)
    # exactly one current row per key
    assert sum(r.is_current for r in ivs) == 20


def test_scd2_duplicate_ts_raises(spark):
    from combblas_spark.functions.cdc import scd2_compress

    df = spark.createDataFrame(
        [(1, "d1", "A"), (1, "d1", "B")], "k long, ts string, val string"
    )
    with pytest.raises(Exception, match="duplicate"):
        scd2_compress(df, "k", "ts", "val").collect()


# -------------------------------------------------------------- pearson_matrix


def test_pearson_matrix_exact_cases(spark):
    from combblas_spark.functions.dq import pearson_matrix

    rows = [(i, 2 * i, 10 - i) for i in range(1, 8)]
    df = spark.createDataFrame(rows, "a long, b long, c long")
    out = {(r.col_x, r.col_y): r for r in pearson_matrix(df, ["a", "b", "c"]).collect()}
    assert out[("a", "b")].r == 1.0   # y = 2x
    assert out[("a", "c")].r == -1.0  # y = 10 - x
    ab = out[("a", "b")]
    assert (ab.n, ab.s_x, ab.s_y, ab.s_xy) == (7, 28, 56, 280)


def test_pearson_matrix_python_replay(spark):
    import hashlib

    from combblas_spark.functions.dq import pearson_matrix

    rows = []
    for i in range(200):
        h = hashlib.md5(f"pm|{i}".encode()).hexdigest()
        rows.append((int(h[:4], 16) % 50, int(h[4:8], 16) % 50))
    df = spark.createDataFrame(rows, "a long, b long")
    r = pearson_matrix(df, ["a", "b"]).collect()[0]
    n = len(rows)
    sx = sum(a for a, _ in rows)
    sy = sum(b for _, b in rows)
    sxy = sum(a * b for a, b in rows)
    sxx = sum(a * a for a, _ in rows)
    syy = sum(b * b for _, b in rows)
    assert (r.n, r.s_x, r.s_y, r.s_xy, r.s_xx, r.s_yy) == (
        n, sx, sy, sxy, sxx, syy,
    )
    want = (n * sxy - sx * sy) / (
        math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy)
    )
    assert r.r == round(want, 6)


# ---------------------------------------------------------- quantile_normalize


def test_quantile_normalize_hand_case(spark):
    from combblas_spark.operators.kselect import quantile_normalize

    rows = [
        ("g1", 5, 1), ("g1", 5, 2), ("g1", 1, 3), ("g1", 9, 4),
        ("g2", 7, 5),  # single-row group -> pct 0.0
    ]
    df = spark.createDataFrame(rows, "g string, v long, id long")
    out = {r.id: r for r in quantile_normalize(df, "g", "v", "id").collect()}
    # g1 order: (1,3) rk0, (5,1) rk1, (5,2) rk2, (9,4) rk3
    assert [out[i].rk for i in (3, 1, 2, 4)] == [0, 1, 2, 3]
    assert out[3].pct == 0.0 and out[4].pct == 1.0
    assert out[1].pct == round(1 / 3, 6)
    assert out[5].rk == 0 and out[5].pct == 0.0


def test_quantile_normalize_partition_invariance(spark):
    from combblas_spark.operators.kselect import quantile_normalize

    rows = [("g", i % 13, i) for i in range(100)]
    df = spark.createDataFrame(rows, "g string, v long, id long")
    a = sorted(
        (r.id, r.rk, r.pct)
        for r in quantile_normalize(df, "g", "v", "id").collect()
    )
    b = sorted(
        (r.id, r.rk, r.pct)
        for r in quantile_normalize(
            df.repartition(7), "g", "v", "id"
        ).collect()
    )
    assert a == b


# ------------------------------------------------------------------ ewma_drift


def test_ewma_drift_exact_replay(spark):
    from combblas_spark.functions.sessions import ewma_drift

    xs = [8, 8, 8, 40, 8, 8]  # the spike at t=4 must alert
    rows = [("g", f"d{i}", xs[i - 1]) for i in range(1, 7)]
    df = spark.createDataFrame(rows, "g string, day string, x long")
    out = {r.t: r for r in ewma_drift(df, "g", "day", "x").collect()}
    # python replay of the exact scaled levels
    N = 0
    for t in range(1, 7):
        w = 1 if t == 1 else 1 << (t - 2)
        wx = xs[t - 1] * w
        assert out[t].num_prev == N, t
        want_alert = int(t >= 2 and abs(wx - N) * 2 > N)
        assert out[t].alert == want_alert, t
        N += wx
    # s stays near 8 until the spike: only t=4 (x=40) and t=5 (EWMA
    # dragged to ~24, x=8 deviates > 50%) alert
    assert [out[t].alert for t in range(1, 7)] == [0, 0, 0, 1, 1, 0]


def test_ewma_drift_too_many_periods_raises(spark):
    from combblas_spark.functions.sessions import ewma_drift

    rows = [("g", f"d{i:03d}", 1) for i in range(70)]
    df = spark.createDataFrame(rows, "g string, day string, x long")
    with pytest.raises(Exception, match="62 periods"):
        ewma_drift(df, "g", "day", "x").collect()


# ---------------------------------------------------------------- basket_pairs


def test_basket_pairs_hand_case(spark):
    from combblas_spark.functions.assoc import basket_pairs

    rows = [
        (1, "x"), (1, "y"), (1, "z"),
        (2, "x"), (2, "y"),
        (3, "x"), (3, "y"),
        (4, "z"),
        (4, "z"),  # dup membership must not double-count
    ]
    df = spark.createDataFrame(rows, "b long, i string")
    out = {
        (r.item_a, r.item_b): r
        for r in basket_pairs(df, "b", "i", min_pair_support=2).collect()
    }
    assert set(out) == {("x", "y")}  # xz/yz support 1 filtered out
    r = out[("x", "y")]
    assert (r.n_ab, r.n_a, r.n_b, r.n_baskets) == (3, 3, 3, 4)
    assert r.conf_ab == 1.0 and r.conf_ba == 1.0
    assert r.lift == round(4 * 3 / (3 * 3), 6)


def test_basket_pairs_python_replay(spark):
    import hashlib
    from itertools import combinations

    from combblas_spark.functions.assoc import basket_pairs

    rows = set()
    for i in range(300):
        h = hashlib.md5(f"bp|{i}".encode()).hexdigest()
        rows.add((int(h[:4], 16) % 40, f"i{int(h[4:8], 16) % 12}"))
    baskets = {}
    for b, i in rows:
        baskets.setdefault(b, set()).add(i)
    n_item = {}
    for items in baskets.values():
        for i in items:
            n_item[i] = n_item.get(i, 0) + 1
    pair_n = {}
    for items in baskets.values():
        for a, b in combinations(sorted(items), 2):
            pair_n[(a, b)] = pair_n.get((a, b), 0) + 1
    N = len(baskets)
    df = spark.createDataFrame(sorted(rows), "b long, i string")
    out = {
        (r.item_a, r.item_b): r
        for r in basket_pairs(df, "b", "i", min_pair_support=2).collect()
    }
    want = {k: v for k, v in pair_n.items() if v >= 2}
    assert set(out) == set(want)
    for (a, b), n_ab in want.items():
        r = out[(a, b)]
        assert (r.n_ab, r.n_a, r.n_b, r.n_baskets) == (
            n_ab, n_item[a], n_item[b], N,
        )
        assert r.lift == round(N * n_ab / (n_item[a] * n_item[b]), 6)


def test_basket_pairs_mega_basket_raises(spark):
    from combblas_spark.functions.assoc import basket_pairs

    rows = [(1, f"i{k}") for k in range(50)]
    df = spark.createDataFrame(rows, "b long, i string")
    with pytest.raises(Exception, match="max_basket"):
        basket_pairs(df, "b", "i", max_basket=10).collect()


# ---------------------------------------------------------------- label_spread


def _py_label_spread(pairs, seeds, iters, scale=1_000_000):
    """Exact integer replay of label_spread."""
    edges = set()
    for a, b in pairs:
        if a != b:
            edges.add((a, b))
    state = {(i, c): scale for i, c in seeds.items()}
    for _ in range(iters):
        raw = {}
        for u, v in edges:
            for (i, c), m in state.items():
                if i == u:
                    raw[(v, c)] = raw.get((v, c), 0) + m
        tot = {}
        for (v, c), r in raw.items():
            tot[v] = tot.get(v, 0) + r
        nxt = {}
        for (v, c), r in raw.items():
            m = (r * scale) // tot[v]
            if m > 0 and v not in seeds:
                nxt[(v, c)] = m
        for i, c in seeds.items():
            nxt[(i, c)] = scale
        state = nxt
    best = {}
    for (v, c), m in state.items():
        cur = best.get(v)
        if cur is None or (m, -c) > (cur[1], -cur[0]):
            best[v] = (c, m)
    return {(v, c, m) for v, (c, m) in best.items()}


def test_label_spread_path_two_seeds(spark):
    from combblas_spark.algorithms.labelspread import label_spread

    # path 1-2-3-4-5, seeds 1->A(0), 5->B(1): nearest-seed labeling
    pairs = [(1, 2), (2, 3), (3, 4), (4, 5)]
    sym = pairs + [(b, a) for a, b in pairs]
    e = spark.createDataFrame(
        [(a, b, 1.0) for a, b in sym], "src long, dst long, w double"
    )
    seeds = spark.createDataFrame([(1, 0), (5, 1)], "id long, label long")
    got = {
        (r.id, r.label, r.mass)
        for r in label_spread(spark, e, seeds, num_iters=4).collect()
    }
    assert got == _py_label_spread(sym, {1: 0, 5: 1}, 4)
    lab = {v: c for v, c, _ in got}
    assert lab[2] == 0 and lab[4] == 1  # nearest seed wins
    assert lab[1] == 0 and lab[5] == 1  # clamps hold


def test_label_spread_python_replay(spark):
    import hashlib

    from combblas_spark.algorithms.labelspread import label_spread

    pairs = set()
    for i in range(120):
        h = hashlib.md5(f"lsx|{i}".encode()).hexdigest()
        a, b = int(h[:5], 16) % 30, int(h[5:10], 16) % 30
        if a != b:
            pairs.add((a, b))
            pairs.add((b, a))
    seeds = {0: 0, 7: 1, 19: 2}
    e = spark.createDataFrame(
        [(a, b, 1.0) for a, b in sorted(pairs)], "src long, dst long, w double"
    )
    sd = spark.createDataFrame(
        [(i, c) for i, c in seeds.items()], "id long, label long"
    )
    got = {
        (r.id, r.label, r.mass)
        for r in label_spread(spark, e, sd, num_iters=3).collect()
    }
    assert got == _py_label_spread(sorted(pairs), seeds, 3)


def test_label_spread_duplicate_seed_raises(spark):
    from combblas_spark.algorithms.labelspread import label_spread

    e = spark.createDataFrame([(1, 2, 1.0)], "src long, dst long, w double")
    sd = spark.createDataFrame([(1, 0), (1, 1)], "id long, label long")
    with pytest.raises(ValueError, match="duplicate seed"):
        label_spread(spark, e, sd)


# -------------------------------------------------------------- pair_agreement


def test_pair_agreement_hand_case(spark):
    from combblas_spark.functions.dedup import pair_agreement

    a = spark.createDataFrame(
        [(1, 2), (3, 4), (5, 6)], "id_a long, id_b long"
    )
    b = spark.createDataFrame(
        [(3, 4), (5, 6), (7, 8), (9, 10)], "id_a long, id_b long"
    )
    r = pair_agreement(a, b).collect()[0]
    assert (r.n_a, r.n_b, r.n_both, r.n_a_only, r.n_b_only) == (3, 4, 2, 1, 2)


def test_pair_agreement_disjoint_and_empty(spark):
    from combblas_spark.functions.dedup import pair_agreement

    a = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    b = spark.createDataFrame([], "id_a long, id_b long")
    r = pair_agreement(a, b).collect()[0]
    assert (r.n_a, r.n_b, r.n_both, r.n_a_only, r.n_b_only) == (1, 0, 0, 1, 0)


# ---------------------------------------------------------- chi2_independence


def test_chi2_independence_hand_case(spark):
    from combblas_spark.functions.dq import chi2_independence

    rows = (
        [("a", "x")] * 10 + [("a", "y")] * 20
        + [("b", "x")] * 30 + [("b", "y")] * 60
    )
    df = spark.createDataFrame(rows, "r string, c string")
    out = {(r.r, r.c): r for r in chi2_independence(df, "r", "c").collect()}
    # perfectly independent table: every chi2 term is exactly 0
    for cell in out.values():
        assert cell.chi2_term == 0.0
    assert (out[("a", "x")].n, out[("a", "x")].row_tot,
            out[("a", "x")].col_tot, out[("a", "x")].n_total) == (
        10, 30, 40, 120,
    )


def test_chi2_independence_dependent_case(spark):
    from combblas_spark.functions.dq import chi2_independence

    rows = [("a", "x")] * 50 + [("b", "y")] * 50
    df = spark.createDataFrame(rows, "r string, c string")
    out = chi2_independence(df, "r", "c").collect()
    # diagonal table: each observed cell contributes (50-25)^2/25 = 25
    assert sorted(r.chi2_term for r in out) == [25.0, 25.0]


# ----------------------------------------------------------- cheapest argmin


def test_cheapest_supplier_argmin_is_deterministic(spark):
    import os

    sf = "/root/testdata/sf0.001"
    if not os.path.isdir(sf):
        pytest.skip("testdata not present")
    import __spark_entry__ as em
    import duckdb

    out = {
        r.p_partkey: (r.s_suppkey, r.unit_c)
        for r in em.queries()["cheapest_supplier"](spark, sf).collect()
    }
    con = duckdb.connect()
    rows = con.sql(
        f"SELECT l_partkey, l_suppkey, "
        f"CAST(FLOOR(l_extendedprice*100) AS BIGINT)"
        f" // CAST(l_quantity AS BIGINT) AS uc "
        f"FROM '{sf}/lineitem.parquet'"
    ).fetchall()
    best = {}
    for p, s, uc in rows:
        k = (uc, s)
        if p not in best or k < best[p]:
            best[p] = k
    assert out == {p: (s, uc) for p, (uc, s) in best.items()}


# -------------------------------------------------------- grouped top-k plan


def test_top_orders_plan_uses_window_group_limit(spark):
    import os

    sf = "/root/testdata/sf0.001"
    if not os.path.isdir(sf):
        pytest.skip("testdata not present")
    import __spark_entry__ as em

    plan = (
        em.queries()["top_orders_per_cust"](spark, sf)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the rank<=k filter must push into WindowGroupLimit (partial+final
    # per-group top-k), not a full per-group sort + filter
    assert "WindowGroupLimit" in plan


def test_event_trigrams_plan_is_take_ordered(spark):
    import os

    sf = "/root/testdata/sf0.001"
    if not os.path.isdir(sf):
        pytest.skip("testdata not present")
    import __spark_entry__ as em

    plan = (
        em.queries()["event_trigrams"](spark, sf)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan


def test_monthly_growth_exact_bp(spark):
    from pyspark.sql import Window

    # growth_bp is integer floor division: hand-check the contract math
    rows = [("2024-01", 100), ("2024-02", 125), ("2024-03", 80)]
    df = spark.createDataFrame(rows, "month string, rev long")
    w = Window.orderBy("month")
    g = (
        df.withColumn("prev", F.lag("rev").over(w))
        .filter(F.col("prev").isNotNull())
        .select(
            "month", F.expr("((rev - prev) * 10000) DIV prev").alias("bp")
        )
        .collect()
    )
    assert {(r.month, r.bp) for r in g} == {("2024-02", 2500), ("2024-03", -3600)}


# ----------------------------------------------------------------- cusum_alarm


def test_cusum_closed_form_equals_recurrence(spark):
    import hashlib

    from combblas_spark.functions.sessions import cusum_alarm

    rows = []
    series = {}
    for g in ("a", "b"):
        xs = []
        for i in range(20):
            h = hashlib.md5(f"cs|{g}|{i}".encode()).hexdigest()
            x = 10 + int(h[:4], 16) % 7 + (30 if g == "a" and i >= 14 else 0)
            xs.append(x)
            rows.append((g, f"d{i:02d}", x))
        series[g] = xs
    df = spark.createDataFrame(rows, "g string, period string, x long")
    out = {(r.g, r.period): r for r in cusum_alarm(df, "g", "period", "x").collect()}
    for g, xs in series.items():
        k = sum(xs) // len(xs)
        s = 0
        for i, x in enumerate(xs):
            s = max(0, s + (x - k))  # the textbook recurrence
            r = out[(g, f"d{i:02d}")]
            assert (r.k, r.s, r.alarm) == (k, s, int(s > 2 * k)), (g, i)
    # the planted level shift in group a must alarm by the end
    assert out[("a", "d19")].alarm == 1
    assert out[("b", "d19")].alarm == 0


# --------------------------------------------------------------- survivorship


def test_survivorship_rules_hand_case(spark):
    from combblas_spark.functions.linkage import survivorship

    rows = [
        # cluster 1: longest name wins (tie 'Anna-Mari'/'Anna-Marx' -> min);
        # phone mode 555 (2 of 3); bal max 900; src min 10
        (1, 10, "Anna", "555", 100),
        (1, 11, "Anna-Mari", "555", 900),
        (1, 12, "Anna-Marx", "777", 50),
        # cluster 2: NULL name must not survive over a real one
        (2, 20, None, "111", 5),
        (2, 21, "Bo", None, 7),
        # cluster 3: all-NULL column stays NULL
        (3, 30, None, "222", 1),
    ]
    df = spark.createDataFrame(
        rows, "cl long, src long, name string, phone string, bal long"
    )
    out = {
        r.cl: r
        for r in survivorship(
            df, "cl",
            {"name": "longest", "phone": "mode", "bal": "max", "src": "min"},
        ).collect()
    }
    assert (out[1].name, out[1].phone, out[1].bal, out[1].src) == (
        "Anna-Mari", "555", 900, 10,
    )
    assert (out[2].name, out[2].phone) == ("Bo", "111")
    assert out[3].name is None and out[3].phone == "222"


def test_survivorship_unknown_rule_raises(spark):
    from combblas_spark.functions.linkage import survivorship

    df = spark.createDataFrame([(1, "x")], "cl long, v string")
    with pytest.raises(ValueError, match="unknown rule"):
        survivorship(df, "cl", {"v": "newest"})


# ------------------------------------------------------------------ cube/pivot


def test_order_cube_levels_add_up(spark):
    import os

    sf = "/root/testdata/sf0.001"
    if not os.path.isdir(sf):
        pytest.skip("testdata not present")
    import __spark_entry__ as em

    rows = em.queries()["order_cube"](spark, sf).collect()
    total = [r for r in rows if r.lvl == 3]
    assert len(total) == 1
    base = [r for r in rows if r.lvl == 0]
    assert sum(r.n for r in base) == total[0].n
    assert sum(r.rev_c for r in base) == total[0].rev_c
    # marginals per axis also reconcile
    by_prio = [r for r in rows if r.lvl == 1]
    assert sum(r.n for r in by_prio) == total[0].n


def test_status_pivot_counts_reconcile(spark):
    import os

    sf = "/root/testdata/sf0.001"
    if not os.path.isdir(sf):
        pytest.skip("testdata not present")
    import __spark_entry__ as em

    rows = em.queries()["status_pivot"](spark, sf).collect()
    got = sum(r.n_open + r.n_filled + r.n_pending for r in rows)
    n_orders = spark.read.parquet(f"{sf}/orders.parquet").count()
    assert got == n_orders


# ------------------------------------------------------------------ mdm_golden


def test_mdm_golden_cluster_laws(spark):
    import os

    sf = "/root/testdata/sf0.001"
    if not os.path.isdir(sf):
        pytest.skip("testdata not present")
    import __spark_entry__ as em

    golden = em.queries()["mdm_golden"](spark, sf).collect()
    links = em.queries()["record_link"](spark, sf).collect()
    master, dirty = em._reclink_tables(spark, sf)
    n_records = master.count() + dirty.count()
    # every record lands in exactly one cluster; clusters partition ids
    assert sum(1 for _ in golden) == len({g.cl for g in golden})
    # linked pairs share a cluster: master and dirty of every link
    # cannot both appear as cluster representatives
    linked_ids = {l.master_id for l in links} | {l.dirty_id for l in links}
    reps = {g.rid for g in golden}
    # representative of a linked cluster is its min id — so no cluster
    # rep can be a dirty_id that is linked to a smaller master_id
    for l in links:
        assert not (l.dirty_id in reps and l.master_id < l.dirty_id
                    and l.master_id in linked_ids and
                    _same_cluster(golden, l.master_id, l.dirty_id) is False)
    # singleton + cluster sizes add back up to the record count
    sizes = {}
    for g in golden:
        sizes[g.cl] = 0
    # reconstruct membership via labels: every record's cluster id is
    # <= its own id (min-label), and total clusters <= total records
    assert len(golden) <= n_records


def _same_cluster(golden, a, b):
    # helper: representatives are min ids, so two ids in one cluster
    # can't both be representatives unless equal
    reps = {g.rid for g in golden}
    return not (a in reps and b in reps)


# ------------------------------------------------------------- key_skew_audit


def test_key_skew_audit_hand_case(spark):
    from combblas_spark.operators.skew import key_skew_audit

    rows = [(1,)] * 10 + [(2,)] * 5 + [(3,)] * 5 + [(4,)] * 1
    df = spark.createDataFrame(rows, "k long")
    out = {r.stat: r for r in key_skew_audit(df, "k", pcts=(50,), top_k=2).collect()}
    assert (out["top1"].key, out["top1"].value) == (1, 10)
    assert (out["top2"].key, out["top2"].value) == (2, 5)  # tie by min key
    assert (out["n_rows"].value, out["n_keys"].value, out["max_mult"].value) == (
        21, 4, 10,
    )
    assert out["p50"].value == 5  # rank ceil(0.5*4)=2 of [1,5,5,10]


# ------------------------------------------------------- last_touch_attribution


def test_last_touch_attribution_hand_case(spark):
    import datetime

    from combblas_spark.functions.sessions import last_touch_attribution

    D = datetime.datetime
    rows = [
        # u1: click then purchase 1h later -> click credited
        (1, D(2024, 1, 1, 10), "click", 1),
        (1, D(2024, 1, 1, 11), "purchase", 2),
        # u1: second purchase 10 days later -> out of window -> <none>
        (1, D(2024, 1, 11, 11), "purchase", 3),
        # u2: view then SIGNUP later (closer) -> signup wins (last touch)
        (2, D(2024, 1, 1, 9), "view", 4),
        (2, D(2024, 1, 1, 10), "signup", 5),
        (2, D(2024, 1, 1, 12), "purchase", 6),
        # u3: purchase with no touch at all -> <none>
        (3, D(2024, 1, 2, 8), "purchase", 7),
        # u4: touch at the SAME timestamp but larger event_id is NOT
        # strictly preceding by tiebreak -> <none>
        (4, D(2024, 1, 3, 8), "purchase", 8),
        (4, D(2024, 1, 3, 8), "click", 9),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string, event_id long")
    out = {
        r.touch_type: r.n_conversions
        for r in last_touch_attribution(
            df, "purchase", ["click", "view", "signup"], 3 * 86400
        ).collect()
    }
    assert out == {"click": 1, "signup": 1, "<none>": 3}


# ------------------------------------------------------------------- fof_recs


def test_fof_recommend_brute_force_law(spark):
    import hashlib
    from collections import Counter

    from combblas_spark.algorithms.linkpred import fof_recommend

    pairs = set()
    for i in range(200):
        h = hashlib.md5(f"ff|{i}".encode()).hexdigest()
        a, b = int(h[:5], 16) % 30, int(h[5:10], 16) % 30
        if a != b:
            pairs.add((a, b))
            pairs.add((b, a))
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
    want = set()
    for u in adj:
        scores = Counter()
        for v in adj[u]:
            for w in adj[v]:
                if w != u and w not in adj[u]:
                    scores[w] += 1
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
        for rk, (w, n) in enumerate(ranked, 1):
            want.add((u, w, n, rk))
    e = spark.createDataFrame(
        [(a, b, 1.0) for a, b in sorted(pairs)], "src long, dst long, w double"
    )
    got = {
        (r.id, r.rec, r.n_common, r.rank)
        for r in fof_recommend(e, k=3).collect()
    }
    assert got == want and len(got) > 0


def test_fof_recommend_hub_cap_drops_middle(spark):
    from combblas_spark.algorithms.linkpred import fof_recommend

    # star: hub 0 connects 1..5; through-hub recs vanish when the cap
    # excludes the hub as a middle
    pairs = [(0, i) for i in range(1, 6)]
    e = spark.createDataFrame(
        [(a, b, 1.0) for a, b in pairs] + [(b, a, 1.0) for a, b in pairs],
        "src long, dst long, w double",
    )
    full = fof_recommend(e, k=3).collect()
    assert len(full) > 0  # leaves recommend each other through the hub
    capped = fof_recommend(e, k=3, max_middle_degree=4).collect()
    assert capped == []  # hub degree 5 > 4 -> no middles remain


# ------------------------------------------------------------ final plan audit


def test_fk_audit_plan_no_cartesian(spark):
    import os

    sf = "/root/testdata/sf0.001"
    if not os.path.isdir(sf):
        pytest.skip("testdata not present")
    import __spark_entry__ as em

    plan = (
        em.queries()["fk_audit"](spark, sf)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan


def test_quantile_norm_plan_has_no_window(spark):
    import os

    sf = "/root/testdata/sf0.001"
    if not os.path.isdir(sf):
        pytest.skip("testdata not present")
    import __spark_entry__ as em

    # the per-row quantile transform must ride the sample sort, not a
    # per-group Window (which funnels each group through one task)
    plan = (
        em.queries()["quantile_norm"](spark, sf)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan


# --------------------------------------------------------------- dau_wau/gaps


def test_dau_wau_hand_case(spark):
    import datetime

    import __spark_entry__  # noqa: F401  (query tested via its fixture shape)
    # replicate q_dau_wau's logic on a hand stream via the same operators
    D = datetime.datetime
    rows = [
        (1, D(2024, 1, 1)), (2, D(2024, 1, 1)),
        (1, D(2024, 1, 2)),
        (3, D(2024, 1, 9)),  # > 7 days later: window resets
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp")
    du = (
        ev.select(
            F.col("user_id").alias("u"),
            F.datediff(F.to_date("ts"), F.lit("1995-01-01").cast("date")).alias("dn"),
            F.to_date("ts").cast("string").alias("day"),
        ).distinct()
    )
    days = du.select("dn", "day").distinct()
    dau = du.groupBy("dn").agg(F.countDistinct("u").alias("dau"))
    spread = du.select("u", F.explode(F.sequence(F.col("dn"), F.col("dn") + 6)).alias("dn"))
    wau = (
        spread.join(days.select("dn"), on="dn", how="leftsemi")
        .groupBy("dn").agg(F.countDistinct("u").alias("wau"))
    )
    out = {r.day: (r.dau, r.wau) for r in days.join(dau, "dn").join(wau, "dn").collect()}
    assert out == {
        "2024-01-01": (2, 2),        # day 1: users {1,2}
        "2024-01-02": (1, 2),        # trailing 7d still {1,2}
        "2024-01-09": (1, 1),        # day 2 user set aged out (7d window)
    }


def test_purchase_gaps_python_replay(spark):
    import os

    sf = "/root/testdata/sf0.001"
    if not os.path.isdir(sf):
        pytest.skip("testdata not present")
    import duckdb

    import __spark_entry__ as em

    got = {r.stat: r.value for r in em.queries()["purchase_gaps"](spark, sf).collect()}
    con = duckdb.connect()
    rows = con.sql(
        f"SELECT user_id, epoch_us(ts) AS us, event_id "
        f"FROM '{sf}/events.parquet' WHERE event_type = 'purchase' "
        f"ORDER BY user_id, us, event_id"
    ).fetchall()
    gaps = []
    prev = {}
    for u, us, _ in rows:
        if u in prev:
            gaps.append(us - prev[u])
        prev[u] = us
    gaps.sort()
    n = len(gaps)
    assert got["n_gaps"] == n
    assert got["max_us"] == max(gaps)
    assert got["p50"] == gaps[(50 * n + 99) // 100 - 1]
    assert got["p90"] == gaps[(90 * n + 99) // 100 - 1]


# ------------------------------------------------------------- greedy_coverage


def test_greedy_coverage_python_replay(spark):
    import hashlib

    from combblas_spark.functions.sampling import greedy_coverage

    rows = set()
    for i in range(300):
        h = hashlib.md5(f"gc|{i}".encode()).hexdigest()
        rows.add((int(h[:4], 16) % 20, f"s{int(h[4:10], 16) % 60}"))
    df = spark.createDataFrame(sorted(rows), "id long, item string")
    got = [
        (r.round, r.id, r.gain, r.covered_total)
        for r in sorted(
            greedy_coverage(df, k=4).collect(), key=lambda r: r.round
        )
    ]
    # pure-python greedy replay
    members = {}
    for i, it in rows:
        members.setdefault(i, set()).add(it)
    covered = set()
    want = []
    for r in range(1, 5):
        best = None
        for i, its in sorted(members.items()):
            g = len(its - covered)
            if g == 0:
                continue
            if best is None or (g, -i) > (best[1], -best[0]):
                best = (i, g)
        if best is None:
            break
        covered |= members[best[0]]
        want.append((r, best[0], best[1], len(covered)))
    assert got == want


def test_greedy_coverage_stops_when_covered(spark):
    from combblas_spark.functions.sampling import greedy_coverage

    df = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "b")], "id long, item string"
    )
    out = greedy_coverage(df, k=5).collect()
    # doc 1 covers everything in round 1; doc 2 adds 0 -> absent; stop
    assert len(out) == 1
    assert (out[0].round, out[0].id, out[0].gain, out[0].covered_total) == (
        1, 1, 2, 2,
    )
