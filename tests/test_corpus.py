"""Corpus ingestion tests — the sha256 per-row invariant and the
vertex/edge build (ReadGeneralizedTuples analog)."""

import hashlib
from collections import Counter, defaultdict

import pyspark.sql.functions as F

from combblas_spark.algorithms.cc import cc_fastsv, canonical_labels
from combblas_spark.sources.corpus import (
    synth_repo_files,
    build_vertices,
    build_edges_cooccurrence,
    assert_no_id_collisions,
)
from tests.util import collect_vec


def test_sha256_per_row_invariant(spark):
    files = synth_repo_files(spark, n_repos=4, files_per_repo=8)
    rows = files.collect()
    verts = build_vertices(files, dense=True)
    got = {r["key"]: r["sha"] for r in verts.collect()}
    for r in rows:
        key = f"{r['repo']}/{r['path']}"
        assert got[key] == hashlib.sha256(r["content"].encode()).hexdigest()


def test_dense_ids_contiguous(spark):
    files = synth_repo_files(spark, n_repos=4, files_per_repo=8)
    verts = build_vertices(files, dense=True)
    ids = sorted(r["id"] for r in verts.collect())
    assert ids == list(range(32))


def test_hash_ids_no_collision(spark):
    files = synth_repo_files(spark, n_repos=8, files_per_repo=16)
    verts = build_vertices(files, dense=False)
    assert_no_id_collisions(verts)
    assert verts.count() == 128


def test_cooccurrence_components_equal_repos(spark):
    # small repos -> cliques; force the hub/star path with a low threshold
    files = synth_repo_files(spark, n_repos=4, files_per_repo=8)
    verts = build_vertices(files, dense=True)
    clique_edges = build_edges_cooccurrence(files, verts, hub_split=2, all_pairs_max=64)
    star_edges = build_edges_cooccurrence(files, verts, hub_split=2, all_pairs_max=3)
    for edges in (clique_edges, star_edges):
        labels = collect_vec(canonical_labels(cc_fastsv(spark, edges)))
        assert len(set(labels.values())) == 4  # one component per repo
    # directed edges: s(s-1) per clique repo, 2(s-1) per hub-split repo
    n_clique, n_star = clique_edges.count(), star_edges.count()
    assert n_clique == 4 * 8 * 7
    assert n_star == 4 * 2 * (8 - 1)
    assert n_star < n_clique


FILES_SCHEMA = "repo string, path string, commit string, lang string, content string"
HUB_SPLIT, ALL_PAIRS_MAX = 3, 4


def _hand_corpus(spark):
    """Two clique repos (one lists a file twice), a repo above
    ALL_PAIRS_MAX, a single-file repo and a row with a null repo; vertex
    ids are scattered so no anchor follows from key order."""
    repo_paths = (
        [("alpha", f"a{i}.py") for i in range(3)]
        + [("alpha", "a0.py")]
        + [("beta", f"b{i}.c") for i in range(4)]
        + [("hub", f"h{i}.go") for i in range(9)]
        + [("solo", "only.rs"), (None, "orphan.py")]
    )
    files = spark.createDataFrame(
        [(r, p, "c0", p.rsplit(".", 1)[1], f"{r}:{p}") for r, p in repo_paths],
        FILES_SCHEMA,
    )
    keys = sorted({p if r is None else f"{r}/{p}" for r, p in repo_paths})
    ids = {k: (i * 37 + 11) % 101 for i, k in enumerate(keys)}
    vertices = spark.createDataFrame(
        [(ids[k], k, "") for k in keys], "id long, key string, sha string"
    )
    return repo_paths, ids, files, vertices


def _cooccurrence_oracle(repo_paths, ids, salt, all_pairs_max):
    """Pure-python build_edges_cooccurrence: clique pairs, star edges to the
    per-(repo, salt) min-id anchor, the sorted anchor chain, then dedup
    count, loop removal and symmetrize."""
    by_repo = defaultdict(list)
    for r, p in repo_paths:
        if r is not None:  # a null repo joins no per-repo size
            by_repo[r].append(ids[f"{r}/{p}"])
    pairs = []
    for members in by_repo.values():
        if len(members) <= all_pairs_max:
            pairs += [(a, b) for a in members for b in members if a < b]
            continue
        anchors = {}
        for v in members:
            anchors[salt[v]] = min(anchors.get(salt[v], v), v)
        pairs += [
            (min(v, anchors[salt[v]]), max(v, anchors[salt[v]]))
            for v in members
            if v != anchors[salt[v]]
        ]
        chain = sorted(anchors.values())
        pairs += list(zip(chain, chain[1:]))
    dedup = {e: n for e, n in Counter(pairs).items() if e[0] != e[1]}
    out = Counter()
    for (a, b), n in dedup.items():
        out[(a, b)] += n
        out[(b, a)] += n
    return {(a, b, float(w)) for (a, b), w in out.items()}


def test_cooccurrence_matches_python_oracle(spark):
    repo_paths, ids, files, vertices = _hand_corpus(spark)
    hub = [ids[f"hub/{p}"] for r, p in repo_paths if r == "hub"]
    salt = {
        r["id"]: r["salt"]
        for r in spark.createDataFrame([(v,) for v in hub], "id long")
        .select("id", F.pmod(F.xxhash64("id"), F.lit(HUB_SPLIT)).alias("salt"))
        .collect()
    }
    assert len(set(salt.values())) >= 2  # the anchor chain has a link
    want = _cooccurrence_oracle(repo_paths, ids, salt, ALL_PAIRS_MAX)
    got = build_edges_cooccurrence(
        files, vertices, hub_split=HUB_SPLIT, all_pairs_max=ALL_PAIRS_MAX
    ).collect()
    assert len(got) == len(want)
    assert {(r["src"], r["dst"], r["w"]) for r in got} == want
    assert any(w == 2.0 for _, _, w in want)  # the listed-twice file


def test_cooccurrence_job_budget(spark):
    """With the vertex table cached (as an ingest holds it), one call
    materializes the file-vertex table and the pair union once each: at
    most 24 Spark jobs (19 measured). Re-deriving them in every plan branch
    took 57."""
    _, _, files, vertices = _hand_corpus(spark)
    v = vertices.persist()
    v.count()
    sc = spark.sparkContext
    group = "test-cooccurrence-job-budget"
    sc.setJobGroup(group, "build_edges_cooccurrence job budget")
    try:
        build_edges_cooccurrence(
            files, v, hub_split=HUB_SPLIT, all_pairs_max=ALL_PAIRS_MAX
        ).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        v.unpersist()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= 24, len(jobs)


def test_cooccurrence_empty_and_single_file_repos(spark):
    empty = spark.createDataFrame([], FILES_SCHEMA)
    singles = synth_repo_files(spark, n_repos=5, files_per_repo=1)
    for files in (empty, singles):
        edges = build_edges_cooccurrence(files, build_vertices(files, dense=True))
        assert edges.columns == ["src", "dst", "w"]
        assert edges.count() == 0
