"""Incremental graph kernels (CC, PageRank) + Matrix Market / vector / JSONL IO tests."""

import pyspark.sql.functions as F

from combblas_spark.sources.fixtures import sevenvertex, SEVENVERTEX
from combblas_spark.sources.matrix_market import read_mm, write_mm
from combblas_spark.streaming.incremental import IncrementalCC
from combblas_spark.operators.transform import symmetrize
from combblas_spark.algorithms.cc import cc_minlabel
from tests.util import collect_vec, union_find_components


def test_mm_roundtrip(spark, tmp_path):
    a = sevenvertex(spark)
    path = str(tmp_path / "seven.mm")
    write_mm(a, path)
    back = read_mm(spark, path)
    got = sorted((r["src"], r["dst"], r["w"]) for r in back.collect())
    assert got == sorted(SEVENVERTEX)


def test_mm_symmetric_banner(spark, tmp_path):
    p = str(tmp_path / "sym.mtx")
    with open(p, "w") as f:
        f.write(
            "%%MatrixMarket matrix coordinate real symmetric\n"
            "% comment line\n"
            "3 3 3\n"
            "1 1 5.0\n"
            "2 1 1.5\n"
            "3 2 2.5\n"
        )
    m = read_mm(spark, p)
    got = sorted((r["src"], r["dst"], r["w"]) for r in m.collect())
    assert got == [
        (0, 0, 5.0), (0, 1, 1.5), (1, 0, 1.5), (1, 2, 2.5), (2, 1, 2.5),
    ]


def test_mm_pattern_banner(spark, tmp_path):
    p = str(tmp_path / "pat.mtx")
    with open(p, "w") as f:
        f.write(
            "%%MatrixMarket matrix coordinate pattern general\n"
            "2 2 2\n"
            "1 2\n"
            "2 1\n"
        )
    m = read_mm(spark, p)
    got = sorted((r["src"], r["dst"], r["w"]) for r in m.collect())
    assert got == [(0, 1, 1.0), (1, 0, 1.0)]


def test_incremental_cc_matches_batch(spark, tmp_path):
    edges = symmetrize(sevenvertex(spark)).select("src", "dst")
    rows = edges.collect()
    # three arbitrary batches
    batches = [rows[:6], rows[6:14], rows[14:]]
    inc = IncrementalCC(spark, str(tmp_path / "inc_cc"))
    for i, b in enumerate(batches):
        bdf = spark.createDataFrame(b, "src long, dst long")
        inc.process_batch(bdf, i)
    got = collect_vec(inc.labels())
    full = collect_vec(cc_minlabel(spark, symmetrize(sevenvertex(spark))))
    assert got == full


def test_vec_text_roundtrip(spark, tmp_path):
    """FullyDistVec::ParallelRead/Write analog (FullyDistVec.h:96)."""
    from combblas_spark.sources.vectors import read_vec, write_vec

    vec = spark.createDataFrame(
        [(0, 1.5), (3, -2.0), (7, 0.25)], "id long, val double"
    )
    p = str(tmp_path / "vec_txt")
    write_vec(vec, p, one_based=True)
    back = {r["id"]: r["val"] for r in read_vec(spark, p, one_based=True).collect()}
    assert back == {0: 1.5, 3: -2.0, 7: 0.25}


def test_write_clusters_roundtrip(spark, tmp_path):
    """WriteMCLClusters analog (WriteMCLClusters.h:44-120): one line per
    cluster, members space-separated; name-keyed via the vertex table."""
    from combblas_spark.sources.clusters import read_clusters, write_clusters

    labels = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 2), (3, 2), (4, 4)], "id long, val long"
    )
    verts = spark.createDataFrame(
        [(i, f"v{i:02d}") for i in range(5)], "id long, key string"
    )
    p = str(tmp_path / "clusters")
    write_clusters(labels, p, vertices=verts)
    import glob

    [f] = glob.glob(p + "/part-*")
    lines = [ln.strip() for ln in open(f) if ln.strip()]
    assert lines == ["v00 v01", "v02 v03", "v04"]

    back = read_clusters(spark, p)
    got = {(r["member"], r["cluster_key"]) for r in back.collect()}
    assert got == {
        ("v00", "v00"), ("v01", "v00"),
        ("v02", "v02"), ("v03", "v02"),
        ("v04", "v04"),
    }

    # id-keyed overload (no vertex table)
    p2 = str(tmp_path / "clusters_ids")
    write_clusters(labels, p2)
    [f2] = glob.glob(p2 + "/part-*")
    assert [ln.strip() for ln in open(f2) if ln.strip()] == ["0 1", "2 3", "4"]


def test_incremental_pagerank_matches_batch(spark, tmp_path):
    """Incremental PageRank: after every batch, the warm-started power
    iteration re-converges to the SAME fixed point as a cold batch run on
    the accumulated edges; the warm start from an already-converged vector
    re-converges immediately (the incremental win)."""
    from combblas_spark.algorithms.pagerank import pagerank
    from combblas_spark.streaming.incremental import IncrementalPageRank

    edges = symmetrize(sevenvertex(spark)).select(
        "src", "dst", F.lit(1.0).alias("w")
    )
    rows = edges.collect()
    batches = [rows[:8], rows[8:]]
    inc = IncrementalPageRank(spark, str(tmp_path / "inc_pr"), tol=1e-12)
    for i, b in enumerate(batches):
        inc.process_batch(spark.createDataFrame(b, "src long, dst long, w double"), i)
    got = {r["id"]: r["val"] for r in inc.ranks().collect()}
    full = {
        r["id"]: r["val"]
        for r in pagerank(spark, edges, tol=1e-12, max_iter=200).collect()
    }
    assert set(got) == set(full)
    assert all(abs(got[k] - full[k]) < 1e-9 for k in full)
    # warm start from the converged vector on unchanged edges: one more
    # process_batch with an ALREADY-SEEN edge leaves the ranks fixed
    inc.process_batch(
        spark.createDataFrame(rows[:1], "src long, dst long, w double"), 99
    )
    got2 = {r["id"]: r["val"] for r in inc.ranks().collect()}
    # the duplicate edge doubles that pair's weight: ranks move, but stay
    # normalized and close; re-run the batch oracle on the doubled table
    dup = rows + rows[:1]
    full2 = {
        r["id"]: r["val"]
        for r in pagerank(
            spark,
            spark.createDataFrame(dup, "src long, dst long, w double"),
            tol=1e-12,
            max_iter=200,
        ).collect()
    }
    assert all(abs(got2[k] - full2[k]) < 1e-9 for k in full2)
    assert abs(sum(got2.values()) - 1.0) < 1e-9


# ------------------------------------------------------------- JSONL ingest

DOC_SCHEMA = "doc_id long, text string, score double, tags array<string>"


def _doc_schema():
    import pyspark.sql.types as T

    return T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("score", T.DoubleType()),
            T.StructField("tags", T.ArrayType(T.StringType())),
        ]
    )


def test_jsonl_roundtrip(spark, tmp_path):
    from combblas_spark.sources.jsonl import read_jsonl, write_jsonl

    rows = [
        (1, 'quoted "text" with\nnewline', 0.5, ["a", "b"]),
        (2, None, -1.25, []),
        (3, "unicode é中", 0.0, None),
    ]
    df = spark.createDataFrame(rows, DOC_SCHEMA)
    p = str(tmp_path / "docs_jsonl")
    write_jsonl(df, p)
    good, quar = read_jsonl(spark, p, _doc_schema())
    assert quar.count() == 0
    got = sorted(
        (r["doc_id"], r["text"], r["score"], r["tags"]) for r in good.collect()
    )
    assert got == sorted(rows)


def test_jsonl_quarantine_split(spark, tmp_path):
    """Malformed + type-drifted lines land verbatim in quarantine; valid
    lines with MISSING fields are good rows with nulls (schema drift in
    the lenient direction), not quarantine."""
    from combblas_spark.sources.jsonl import read_jsonl

    lines = [
        '{"doc_id": 1, "text": "ok", "score": 1.0, "tags": ["x"]}',
        '{"doc_id": 2, "text": "truncated", "score":',          # broken JSON
        '{"doc_id": "not a number", "text": "drift", "score": 0}',  # type drift
        '{"doc_id": 4}',                                        # missing fields
        "not json at all",
    ]
    p = tmp_path / "mixed.jsonl"
    p.write_text("\n".join(lines) + "\n", encoding="utf-8")
    good, quar = read_jsonl(spark, str(p), _doc_schema())
    got_good = {r["doc_id"]: r for r in good.collect()}
    assert set(got_good) == {1, 4}
    assert got_good[4]["text"] is None and got_good[4]["tags"] is None
    got_bad = sorted(r["line"] for r in quar.collect())
    assert got_bad == sorted([lines[1], lines[2], lines[4]])


def test_jsonl_modes_and_validation(spark, tmp_path):
    import pytest

    from combblas_spark.sources.jsonl import read_jsonl

    p = tmp_path / "bad.jsonl"
    p.write_text('{"doc_id": 1, "text": "ok"}\nnope\n', encoding="utf-8")
    good, quar = read_jsonl(spark, str(p), _doc_schema(), mode="DROPMALFORMED")
    assert quar.count() == 0
    assert [r["doc_id"] for r in good.collect()] == [1]
    good_ff, _ = read_jsonl(spark, str(p), _doc_schema(), mode="FAILFAST")
    with pytest.raises(Exception, match="(?i)malformed|FAILFAST"):
        good_ff.collect()
    with pytest.raises(ValueError, match="mode"):
        read_jsonl(spark, str(p), _doc_schema(), mode="STRICT")
    import pyspark.sql.types as T

    clash = T.StructType([T.StructField("_corrupt_record", T.StringType())])
    with pytest.raises(ValueError, match="_corrupt_record"):
        read_jsonl(spark, str(p), clash)
