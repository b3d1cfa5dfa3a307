"""Physical-plan shape assertions — the 100-TB properties the SURVEY
promises, checked against Spark's actual plans rather than trusted:

- parquet scans prune columns and push filters (Catalyst reaches the scan)
- top-k executes as TakeOrderedAndProject, never a full global sort
- LSH candidate generation contains no cartesian product (the capped
  bucket join is the whole point); brute-force cosine rerank is the ONE
  deliberate cartesian and stays flagged as such
- spmv(broadcast_x=True) really broadcasts (BroadcastHashJoin), so the
  frontier side never shuffles the edge table
"""

import os

import pyspark.sql.functions as F
import pytest

SF = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF), reason="testdata not present"
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_parquet_scan_prunes_and_pushes(spark):
    df = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .filter(F.col("doc_id") < 10)
        .select("doc_id")
    )
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,10)]" in plan
    # projection reaches the scan: text/lang/source/n_chars never read
    rs = plan[plan.index("ReadSchema") :].splitlines()[0]
    assert "doc_id" in rs and "text" not in rs and "n_chars" not in rs


def test_graph_build_scans_two_columns(spark):
    from combblas_spark.sources.graphs import part_supplier_graph

    plan = _plan(part_supplier_graph(spark, SF))
    rs = plan[plan.index("ReadSchema") :].splitlines()[0]
    assert "l_partkey" in rs and "l_suppkey" in rs
    assert "l_quantity" not in rs and "l_comment" not in rs


def test_topk_is_take_ordered_not_global_sort(spark):
    from combblas_spark.functions.text import bpe_pair_counts

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(bpe_pair_counts(docs, top_k=100))
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan.lower()


def test_lsh_has_no_cartesian(spark):
    from combblas_spark.functions.dedup import (
        shingles,
        minhash_signatures,
        lsh_candidate_pairs,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    pairs = lsh_candidate_pairs(
        minhash_signatures(shingles(docs), num_hashes=4), bands=2, rows_per_band=2
    )
    assert "CartesianProduct" not in _plan(pairs)


def test_cosine_rerank_is_the_one_deliberate_cartesian(spark):
    from combblas_spark.functions.similarity import cosine_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    ).limit(4)
    plan = _optimized(cosine_topk(emb, q, k=3))
    assert "Join Cross" in plan or "CartesianProduct" in _plan(
        cosine_topk(emb, q, k=3)
    )


def test_spmv_broadcasts_the_vector(spark):
    from combblas_spark.operators.multiply import spmv
    from combblas_spark.core.semiring import PLUS_TIMES
    from combblas_spark.sources.graphs import part_supplier_graph

    e = part_supplier_graph(spark, SF)
    x = e.select(F.col("src").alias("id")).distinct().select(
        "id", F.lit(1.0).alias("val")
    )
    plan = _plan(spmv(e, x, PLUS_TIMES, broadcast_x=True))
    assert "BroadcastHashJoin" in plan
    # and the aggregation is partial-then-final (map-side combine)
    assert plan.count("HashAggregate") >= 2


def _adaptive_nodes(df) -> list:
    """Operator names of ``df``'s executed (adaptive) plan, entering each
    query stage and stopping at a cached relation's scan — a cached
    layout's own build plan is not part of the query."""
    names = []

    def walk(p):
        name = p.nodeName()
        if name == "AdaptiveSparkPlan":
            return walk(p.executedPlan())
        names.append(name)
        if name == "InMemoryTableScan":
            return
        if name.endswith("QueryStage"):
            return walk(p.plan())
        kids = p.children()
        for i in range(kids.size()):
            walk(kids.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return names


@pytest.mark.parametrize("kernel", ["pagerank", "cc_minlabel", "label_propagation"])
def test_superstep_is_one_broadcast_and_no_exchange(spark, kernel):
    """In broadcast mode a PageRank, CC or LP superstep over its cached
    self-row layout broadcasts exactly one thing, the vector, and shuffles
    nothing: the new vector, the old one and the pick all come out of one
    aggregate on the layout's dst clustering."""
    from combblas_spark.algorithms import cc_minlabel, label_propagation, pagerank
    from combblas_spark.operators.transform import symmetrize
    from combblas_spark.plans.superstep import SuperstepRunner
    from combblas_spark.sources.fixtures import weighted_digraph

    class Recorder(SuperstepRunner):
        frames: list = []

        def _cut(self, df, eager):
            self.frames.append(df)
            return super()._cut(df, eager)

    run = {
        "pagerank": lambda r: pagerank(spark, g, num_iters=2, runner=r),
        "cc_minlabel": lambda r: cc_minlabel(spark, g, runner=r),
        "label_propagation": lambda r: label_propagation(spark, g, num_iters=2, runner=r),
    }[kernel]
    g = symmetrize(weighted_digraph(spark, n=64, avg_deg=4, seed=3)).persist()
    g.count()
    try:
        r = Recorder(spark)
        r.frames = []
        run(r).count()
        nodes = _adaptive_nodes(r.frames[-1])  # the last superstep's cut
    finally:
        g.unpersist()
    assert "InMemoryTableScan" in nodes, nodes
    assert nodes.count("BroadcastExchange") == 1, nodes
    assert "Exchange" not in nodes, nodes


def test_bucketed_join_is_exchange_free(spark, tmp_path):
    """Two tables bucketed+sorted on the join key: the equi-join plan must
    contain NO Exchange and NO Sort on either side — the co-located join
    that makes iterative work affordable at 100 TB (the static-distribution
    analog of the reference's 2D block layout)."""
    from combblas_spark.sources.bucketed import write_bucketed, read_bucketed
    from combblas_spark.sources.graphs import part_supplier_graph

    e = part_supplier_graph(spark, SF)
    deg = e.groupBy("src").count()
    write_bucketed(e, "tp_edges_b", str(tmp_path / "e"), ["src"], n_buckets=8)
    write_bucketed(deg, "tp_deg_b", str(tmp_path / "d"), ["src"], n_buckets=8)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = read_bucketed(spark, "tp_edges_b").join(
            read_bucketed(spark, "tp_deg_b"), on="src"
        )
        plan = _plan(j)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        assert j.count() == e.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS tp_edges_b")
        spark.sql("DROP TABLE IF EXISTS tp_deg_b")


def test_bucketed_aggregation_is_exchange_free(spark, tmp_path):
    """groupBy on the bucket key of a bucketed table: one HashAggregate
    pair, zero Exchange — map-side-only aggregation."""
    from combblas_spark.sources.bucketed import write_bucketed, read_bucketed
    from combblas_spark.sources.graphs import part_supplier_graph

    e = part_supplier_graph(spark, SF)
    write_bucketed(e, "tp_edges_b2", str(tmp_path / "e2"), ["dst"], n_buckets=8)
    try:
        agg = read_bucketed(spark, "tp_edges_b2").groupBy("dst").count()
        plan = _plan(agg)
        assert "Exchange" not in plan
    finally:
        spark.sql("DROP TABLE IF EXISTS tp_edges_b2")


def test_spmm_single_join_single_shuffle_for_all_columns(spark):
    """SpMM's whole point: k vectors ride ONE join + ONE aggregation pair.
    The plan must contain exactly one join and no per-column extra
    Exchange beyond the single groupBy shuffle."""
    from combblas_spark.operators.multiply import spmm
    from combblas_spark.core.semiring import PLUS_TIMES
    from combblas_spark.sources.graphs import part_supplier_graph

    e = part_supplier_graph(spark, SF)
    x = (
        e.select(F.col("src").alias("id"))
        .distinct()
        .select(
            "id",
            (F.col("id") % 7).cast("double").alias("x0"),
            (F.col("id") % 5).cast("double").alias("x1"),
            (F.col("id") % 3).cast("double").alias("x2"),
        )
    )
    plan = _plan(spmm(e, x, PLUS_TIMES))
    n_joins = sum(plan.count(j) for j in
                  ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin"))
    assert n_joins == 1
    assert plan.count("HashAggregate") >= 2  # partial + final, all 3 columns


def test_kron_is_broadcast_nested_loop_by_design(spark):
    """Kron IS a cross join of nonzero lists — assert it broadcasts the
    small side (never a shuffle cartesian) and stays flagged deliberate."""
    from combblas_spark.operators.multiply import kron
    from combblas_spark.sources.graphs import nation_clique_graph

    a = nation_clique_graph(spark, SF)
    plan = _plan(kron(a, a, 25, 25))
    assert "BroadcastNestedLoopJoin" in plan or "CartesianProduct" in plan
    assert "BroadcastNestedLoopJoin" in plan  # small side broadcast, big side never moves


def test_adamic_adar_has_no_cartesian(spark):
    """The wedge self-join is keyed on the center z — a cartesian would
    mean the key got lost."""
    from combblas_spark.algorithms.linkpred import adamic_adar
    from combblas_spark.sources.graphs import events_digraph

    plan = _plan(adamic_adar(events_digraph(spark, SF), k=50, max_degree=64))
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan  # top-k, not a global sort


def test_degree_histogram_is_two_hash_aggs_no_join(spark):
    from combblas_spark.operators.reduce import degree_histogram
    from combblas_spark.sources.graphs import part_supplier_graph

    plan = _plan(degree_histogram(part_supplier_graph(spark, SF)))
    assert plan.count("HashAggregate") >= 4  # partial+final per level
    for j in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert j not in plan


def test_triangle_centrality_single_wedge_enumeration(spark):
    """The wedge join runs exactly once: every downstream consumer (t(v),
    edge flag, total T) reads the persisted per-edge support table
    (InMemoryTableScan), never a second wedge join; and no cartesian."""
    from combblas_spark.algorithms.clustering import triangle_centrality
    from combblas_spark.sources.graphs import events_digraph

    df = triangle_centrality(events_digraph(spark, SF))
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "InMemoryTableScan" in plan
    spark.catalog.clearCache()


def test_coarsen_has_no_cartesian_and_prunes_scan(spark):
    from combblas_spark.algorithms.coarsen import coarsen
    from combblas_spark.sources.graphs import events_digraph

    plan = _plan(coarsen(events_digraph(spark, SF)))
    assert "CartesianProduct" not in plan
    rs = plan[plan.index("ReadSchema") :].splitlines()[0]
    assert "user_id" in rs and "payload" not in rs


def test_salsa_output_plan_is_truncated_and_join_clean(spark):
    """SALSA's iterations run eagerly inside the call (lineage cut per
    superstep), so the OUTPUT plan must be shallow: the densify joins read
    checkpointed RDD scans (Scan ExistingRDD) — not a 2·num_iters-deep
    join chain — and there is no cartesian anywhere."""
    from combblas_spark.algorithms.salsa import salsa
    from combblas_spark.sources.graphs import events_digraph

    df = salsa(spark, events_digraph(spark, SF), num_iters=2)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert plan.count("Scan ExistingRDD") >= 2  # truncated hub + auth
    spark.catalog.clearCache()


def test_prefix_join_has_no_cartesian(spark):
    """Prefix-filter similarity join must candidate-generate through the
    bucket-capped prefix equi-join — never an all-pairs product."""
    from combblas_spark.functions.dedup import prefix_jaccard_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(prefix_jaccard_pairs(docs, tau_num=1, tau_den=2))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_winnow_join_has_no_cartesian(spark):
    """Winnowing clone pairs must pair-generate through the df-capped
    fingerprint equi-join — never an all-pairs product; selection windows
    are per-document running frames, not whole-partition sorts."""
    from combblas_spark.functions.dedup import winnow_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(winnow_pairs(docs))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    spark.catalog.clearCache()


def test_motifs_wedge_join_shape(spark):
    """Triad census: the wedge stage and both closures are equi-joins (no
    cartesian anywhere); the only nested-loop join is the deliberate
    1-row x 1-row scalar combine at the very top."""
    from combblas_spark.algorithms.motifs import triad_motifs
    from combblas_spark.sources.graphs import events_digraph

    df = triad_motifs(events_digraph(spark, SF), max_degree=256)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    # scalar combine: exactly the two top-level 1-row joins may be BNLJ
    assert plan.count("BroadcastNestedLoopJoin") <= 2
    spark.catalog.clearCache()


def test_negative_sample_has_no_cartesian(spark):
    """Proposals join the permutation on the RANK key and reject real
    edges via an anti-join — never an all-pairs product."""
    from combblas_spark.algorithms.walks import negative_sample
    from combblas_spark.sources.graphs import part_supplier_graph

    df = negative_sample(spark, part_supplier_graph(spark, SF), k=2, proposals=4)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the edge-rejection is a real anti-join in the physical plan
    assert "LeftAnti" in plan


def test_node2vec_step_joins_are_equi(spark):
    """Every node2vec step is two equi-joins (neighbor expansion + the
    distance-1 probe) — no cartesian anywhere in the final plan."""
    from combblas_spark.algorithms.walks import node2vec_walks
    from combblas_spark.sources.graphs import part_supplier_graph

    e = part_supplier_graph(spark, SF)
    seeds = e.select(F.col("src").alias("id")).distinct().filter(F.col("id") < 5)
    plan = _plan(node2vec_walks(spark, e, seeds, length=2))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bm25_is_window_topk_no_cartesian(spark):
    """BM25 joins on term/id keys, broadcasts the one-row corpus scalars,
    and ranks with a per-doc window — no product joins, and the only
    cross join is the broadcast scalar row."""
    from combblas_spark.functions.text import bm25_topk

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(bm25_topk(docs, k=5))
    assert "CartesianProduct" not in plan
    # the scalar row rides a broadcast nested loop by design (1 row);
    # the term/doc joins must be hash joins
    assert "HashJoin" in plan and "Window" in plan


def test_simrank_iteration_is_hash_join_shaped(spark):
    from combblas_spark.algorithms.simrank import simrank
    from combblas_spark.sources.graphs import events_digraph

    plan = _plan(simrank(spark, events_digraph(spark, SF), num_iters=1))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_chunk_docs_is_narrow(spark):
    """Chunking is per-row arithmetic + one explode — the physical plan
    must carry NO Exchange at all beyond the scan (embarrassingly
    parallel at any corpus size)."""
    from combblas_spark.functions.sampling import chunk_docs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(chunk_docs(docs, window=8, stride=5))
    assert "Exchange" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_bigram_xent_is_hash_join_shaped(spark):
    """Bigram LM scoring: map-side-combinable aggregations joined on the
    bigram-type keys — no cartesian, no window, and the bigrams come from
    zip_with (no position self-join doubling the exploded table)."""
    from combblas_spark.functions.text import bigram_xent

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(bigram_xent(docs))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" not in plan


def test_pmi_topk_is_take_ordered(spark):
    """The global PMI top-k runs over the AGGREGATED pair table as a
    sort-limit (TakeOrderedAndProject), never a full sort of raw pairs;
    the one-row total rides a broadcast."""
    from combblas_spark.functions.text import pmi_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(pmi_pairs(docs, k=10, min_count=2))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    # only the 1-row total may ride a nested-loop broadcast
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_funnel_no_window_no_cartesian(spark):
    """The funnel is per-step (filtered scan + min-agg + user_id join):
    no global Window, no cartesian, and the event_type step predicate is
    pushed to the parquet scan."""
    from combblas_spark.functions.sessions import funnel

    ev = spark.read.parquet(f"{SF}/events.parquet")
    plan = _plan(funnel(ev, ["view", "click", "purchase"], window_seconds=86400))
    assert "CartesianProduct" not in plan and "Window" not in plan
    assert "EqualTo(event_type,view)" in plan  # predicate reached the scan


def test_retention_no_window_two_column_scan(spark):
    """Retention reads only (user_id, ts) and never opens a Window —
    cohorting is a min-agg, activity is a join + count-distinct."""
    from combblas_spark.functions.sessions import retention

    ev = spark.read.parquet(f"{SF}/events.parquet")
    plan = _plan(retention(ev))
    assert "Window" not in plan and "CartesianProduct" not in plan
    rs = plan[plan.index("ReadSchema") :].splitlines()[0]
    assert "user_id" in rs and "ts" in rs
    assert "props" not in rs and "event_type" not in rs


def test_exact_percentiles_no_cartesian_broadcast_lookup(spark):
    """Percentile lookup is a broadcast join of ~|pcts| target ranks —
    never a cartesian, never a single-partition global window."""
    from combblas_spark.operators.kselect import exact_percentiles

    ev = spark.read.parquet(f"{SF}/events.parquet")
    plan = _plan(exact_percentiles(ev, "value", [25, 50, 75], "event_id"))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" not in plan
    # no Window anywhere: ranks come from the sample sort + offsets
    assert "Window" not in plan


def test_grouped_percentiles_pruned_scan_no_window(spark):
    from combblas_spark.operators.kselect import grouped_percentiles

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    import pyspark.sql.functions as _F

    d = docs.select(
        "source", _F.length("text").cast("long").alias("n_chars"), "doc_id"
    )
    plan = _plan(grouped_percentiles(d, "source", "n_chars", [50], "doc_id"))
    # no per-group Window, no cartesian: ranks come from the checkpointed
    # sample sort (the plan reads the pinned RDD, hence no parquet scan to
    # assert ReadSchema on), targets broadcast-join back
    assert "Window" not in plan and "CartesianProduct" not in plan


def test_louvain_round_is_hash_join_shaped(spark):
    """A Louvain move round must stay equi-join + agg + ONE argmax window:
    a cartesian means a join key was lost, a second window means the
    argmax degenerated into a global sort somewhere."""
    from combblas_spark.algorithms.louvain import louvain_round
    from combblas_spark.sources.graphs import part_supplier_graph

    e = part_supplier_graph(spark, SF).select("src", "dst")
    deg = e.groupBy(F.col("dst").alias("id")).agg(
        F.count(F.lit(1)).cast("long").alias("k")
    )
    asg = deg.select("id", F.col("id").alias("comm"))
    plan = _plan(louvain_round(e, asg, deg, 4242))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("- Window [") == 1  # the operator node, once


def test_densest_output_is_truncated_no_cartesian(spark):
    """The peel runs eagerly (counts per round); the returned profile is
    a tiny createDataFrame and members a truncated vertex scan — neither
    may drag a join chain or cartesian behind it."""
    from combblas_spark.algorithms.densest import densest_subgraph
    from combblas_spark.sources.graphs import preferential_graph

    prof, members = densest_subgraph(spark, preferential_graph(spark, SF))
    for df in (prof, members):
        plan = _plan(df)
        assert "CartesianProduct" not in plan
    assert "Scan ExistingRDD" in _plan(members)  # truncated snapshot
    spark.catalog.clearCache()


def test_redirect_doubling_round_is_equi_join(spark):
    """One pointer-doubling round = one self equi-join on the mapping key;
    a cartesian or nested-loop means the f(f(u)) substitution lost its
    key."""
    from combblas_spark.algorithms.redirects import resolve_redirects
    from combblas_spark.sources.graphs import redirect_table

    out = resolve_redirects(spark, redirect_table(spark, SF), max_doublings=2)
    plan = _plan(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # doubling state is truncated per round (fresh LogicalRDD leaves)
    assert "Scan ExistingRDD" in plan


def test_hll_registers_no_window_no_join_before_agg(spark):
    """The register build must be a pure two-level aggregation — any
    window or pre-agg join breaks the word-count scale shape (the only
    join is the final audit join of exact counts onto the register agg)."""
    from combblas_spark.functions.sketch import hll_distinct

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(hll_distinct(docs, "lang", F.col("text")))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 4  # partial+final, both levels


def test_anchor_topk_salted_no_cartesian(spark):
    from combblas_spark.functions.text import anchor_text_index, anchored_links

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(anchor_text_index(anchored_links(docs), k=3))
    assert "CartesianProduct" not in plan
    # the ONE nested-loop allowed is the designed 1-row doc-count scalar
    # broadcast inside the anchored_links fixture (BuildRight, Cross on a
    # single aggregated row) — anything more means an all-pairs slipped in
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    assert plan.count("- Window [") == 2  # local salted top-k + global


def test_span_dedup_single_gram_join(spark):
    """ExactSubstr audit: gram hashing must be join-free (one HOF
    projection), dup detection exactly one equi-join on the gram hash,
    coverage one window."""
    from combblas_spark.functions.dedup import span_dedup_stats

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(span_dedup_stats(docs, span=5))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("- Window [") == 1


def test_url_canon_is_narrow_single_scan(spark):
    """Canonicalization is a pure projection: no join, no exchange, no
    window — one scan, one project."""
    import __spark_entry__ as em

    plan = _plan(em.q_url_canon(spark, SF))
    for op in ("Join", "Exchange", "Window", "CartesianProduct"):
        assert op not in plan


def test_edge_delta_is_one_aggregate_no_join(spark):
    """The snapshot diff must be the union-and-bit-sum plan — any join
    node means it regressed to the full-outer-join shape."""
    from combblas_spark.operators.delta import delta_stats
    from combblas_spark.sources.graphs import crawl_snapshots

    e_old, e_new = crawl_snapshots(spark, SF)
    plan = _plan(delta_stats(e_old, e_new))
    assert "Join" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 4  # partial+final at both levels


def test_bloom_build_pure_aggregate_register_join_broadcast(spark):
    """The register build must be one partial+final bit_or aggregate with
    NO join and NO distinct shuffle (insertion is idempotent); the audit's
    register lookup must be a broadcast join, never shuffled."""
    from combblas_spark.functions.sketch import bloom_audit, bloom_build

    o = spark.read.parquet(f"{SF}/orders.parquet")
    members = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey"
    )
    build_plan = _plan(bloom_build(members, F.col("o_orderkey")))
    assert "Join" not in build_plan
    assert build_plan.count("HashAggregate") >= 2
    audit_plan = _plan(
        bloom_audit(members, o, "o_orderkey", "o_orderkey", "o_orderpriority")
    )
    assert "CartesianProduct" not in audit_plan
    assert "BroadcastHashJoin" in audit_plan


def test_containment_prefix_join_no_cartesian(spark):
    """The asymmetric prefix filter must stay an equi-join on the shingle
    key — a cartesian means the candidate generation collapsed to
    all-pairs."""
    from combblas_spark.functions.dedup import containment_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    plan = _plan(containment_pairs(docs, tau_num=9, tau_den=10))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    spark.catalog.clearCache()


def test_robots_rules_broadcast_frontier_never_shuffled(spark):
    """The robots match join must broadcast the rule side (rules are
    O(hosts x tens), the frontier is the crawl): BroadcastHashJoin only —
    a SortMergeJoin or cartesian means the frontier shuffled for a table
    a thousandth its size."""
    from combblas_spark.functions.robots import (
        crawl_frontier,
        robots_decision,
        robots_rules,
    )

    plan = _plan(
        robots_decision(crawl_frontier(spark, SF), robots_rules(spark))
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_link_farm_degree_tables_broadcast(spark):
    """Link-farm lift joins O(hosts) degree tables and a 1-row total onto
    the host-pair table: all three must broadcast — a SortMergeJoin here
    means the pair table shuffled for inputs orders smaller than itself."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.q_linkfarm(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_mirror_resemblance_no_cartesian(spark):
    """Host-set resemblance must stay band-bucket joined — a cartesian
    means candidate generation degenerated to all host pairs."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.q_mirror_hosts(spark, SF))
    assert "CartesianProduct" not in plan


def test_conjunctive_topk_take_ordered(spark):
    """Conjunctive retrieval's global top-k must execute as
    TakeOrderedAndProject, never a full sort."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.q_conjunctive(spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_fuzzy_pairs_signature_equi_join_no_cartesian(spark):
    """SymSpell blocking must candidate-join on the signature key — a
    cartesian here would be the all-pairs plan the pigeonhole exists to
    avoid."""
    from combblas_spark.functions.dedup import fuzzy_pairs

    df = spark.createDataFrame(
        [(k, f"w{k % 9}x") for k in range(50)], "key long, s string"
    )
    plan = _plan(fuzzy_pairs(df))
    assert "Cartesian" not in plan and "NestedLoop" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan \
        or "BroadcastHashJoin" in plan


def test_reservoir_sample_is_take_ordered_not_global_sort(spark):
    """A-ES selection must plan as TakeOrderedAndProject (per-partition
    heap + k-row reduce), never a global Sort + Limit."""
    from combblas_spark.functions.sampling import reservoir_sample

    df = spark.createDataFrame(
        [(k, k % 5 + 1) for k in range(200)], "key long, w long"
    )
    plan = _plan(reservoir_sample(df, 20, "w"))
    assert "TakeOrderedAndProject" in plan


def test_trap_signals_single_aggregate_no_join(spark):
    """Per-URL signals are pure Columns; the host rollup is ONE
    two-level hash aggregate — no join, no window, no explode."""
    from combblas_spark.functions.urls import trap_signals

    df = spark.createDataFrame(
        [("h.com", "/a/b/c")], "host string, path string"
    )
    plan = _plan(trap_signals(df))
    assert "Join" not in plan and "Window" not in plan
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_llr_margins_broadcast_onto_pair_counts(spark):
    """The per-type margin table and the 1-row total must broadcast —
    the only shuffles are the distinct and the k11 pair aggregate."""
    from combblas_spark.functions.sessions import llr_pairs

    df = spark.createDataFrame(
        [(u, f"t{u % 4}") for u in range(40)],
        "user_id long, event_type string",
    )
    plan = _plan(llr_pairs(df))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "Cartesian" not in plan or "BroadcastNestedLoopJoin" in plan


def test_kmv_jaccard_bottomk_salted_two_phase(spark):
    """The bottom-k reuses the salted two-phase kselect: two Window
    row_number passes (salted local, then global) and no cartesian on
    the member side (the only nested-loop is the tiny group-pair
    broadcast)."""
    from combblas_spark.functions.sketch import kmv_jaccard

    df = spark.createDataFrame(
        [("g" + str(m % 3), m) for m in range(60)],
        "grp string, member long",
    )
    plan = _plan(kmv_jaccard(df, k=8))
    assert plan.count("Window") >= 2
    assert "CartesianProduct" not in plan


def test_skew_join_salts_the_join_key(spark):
    """The physical join must key on (k, _salt) — the whole point is
    that the hot key's rows land in n_salt different tasks."""
    from combblas_spark.operators.skew import skew_join

    fact = spark.createDataFrame(
        [(1, i, i) for i in range(50)], "k long, rid long, v long"
    )
    dim = spark.createDataFrame([(1, "a")], "k long, name string")
    plan = _plan(skew_join(fact, dim, key="k", salt_col="rid", n_salt=8))
    joins = [ln for ln in plan.splitlines() if "Join" in ln]
    assert joins and all("_salt" in ln for ln in joins)


def test_locality_audit_no_single_task_window(spark):
    """Consecutive pairs come from the range-partitioned global-rank
    sample sort — the plan must contain NO Window at all (a global
    Window.orderBy would bottleneck one task at scale)."""
    from combblas_spark.operators.layout import locality_audit

    pts = spark.createDataFrame(
        [(x % 16, x // 16) for x in range(64)], "x long, y long"
    )
    assert "Window" not in _plan(locality_audit(pts, bits=4))


def test_cdc_apply_single_shuffle_window(spark):
    """The merge is one key-partitioned window over the unioned log —
    exactly one Window operator, no joins."""
    from combblas_spark.functions.cdc import cdc_apply

    snap = spark.createDataFrame([(1, 10)], "key long, vm long")
    ch = spark.createDataFrame(
        [(1, 1, "u", 11)], "key long, version long, op string, vm long"
    )
    plan = _plan(cdc_apply(snap, ch))
    assert plan.count("Window [") == 1 and "Join" not in plan
    # Spark pushes the rank-1 limit below the shuffle (WindowGroupLimit
    # partial+final) — the map-side combine of the merge, keep it
    assert plan.count("WindowGroupLimit") >= 2


def test_ship_priority_topk_is_take_ordered(spark):
    """The Q3-shaped top-10 must plan as TakeOrderedAndProject over the
    aggregate — never a global sort of all order revenues."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.q_ship_priority(spark, SF))
    assert "TakeOrderedAndProject" in plan
