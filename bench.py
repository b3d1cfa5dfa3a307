"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

GTEPS / two-parallelism scaling evidence lives in scripts/bench_scaling.py
(writes BENCH/BASELINE.md); this file is the per-round regression signal.
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql import SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod  # noqa: E402

HEADLINE = [
    "edges_build_ps",
    "degree_ps",
    "spmv_plus_times_ps",
    "spgemm_nation",
    "triangles_nation",
    "pagerank_ps",
    "cc_ps",
    "bfs_ps",
    "labelprop_ps",
    # the 100-TB vector-exchange plans (plans/grid.py): regressions here
    # track the scale path, not only the broadcast path
    "pagerank_grid_ps",
    "cc_grid_ps",
    "labelprop_grid_ps",
    "sssp_ps",
    # matching family (augmenting-phase + locally-dominant rounds)
    "max_matching_ps",
    "wmatch_ps",
    "kselect_ps",
    "dedup_exact",
    "minhash",
    "lsh_pairs",
    "cosine_topk",
    "betwcent_star",
    "mis_ps",
    "matching_ps",
    "ann_topk",
    "mutual_nn",
    "sq8_topk",
    "rp_distortion",
    "event_rollup",
    "simhash_docs",
    # training-data pipeline: end-to-end keep-one-per-cluster dedup,
    # repetition quality signals, tokenizer-training pair scan
    "dedup_clusters",
    "repetition_stats",
    "pii_scan",
    "bpe_pair_counts",
    "kcore_ps",
    "louvain_ps",
    "densest_pref",
    "hits_ps",
    "ktruss_ev",
    "scc_ev",
    "bowtie_ev",
    "decontaminate",
    # r4 kernels that previously missed the regression signal
    "ppr_ps",
    "walks_ps",
    "walk_pairs",
    "neighbor_sample_ps",
    "pack_sequences",
    "simhash_pairs",
    # round-5 additions
    "clustering_coeff",
    "sessionize",
    "kmv_distinct",
    "dup_ngrams",
    # round-5 second wave (kron/graph_stats/degree_hist are sub-second
    # fixed-size or O(log V) outputs — not regression-informative)
    "spmm_ps",
    "adamic_adar_ev",
    "tfidf_topk",
    "msbfs_ps",
    "edge_jaccard_ev",
    "butterflies_ps",
    "hop_hist_ps",
    "conductance_ps",
    "importance_sample",
    "coreness_ps",
    "cocite_ev",
    "pseudo_diameter_ps",
    # round-5 third wave (rich_club_ev is a 6-row fixed-size output —
    # not regression-informative, like kron/graph_stats above)
    "unigram_xent",
    "tri_centrality_ev",
    "coarsen_ev",
    "salsa_ev",
    "backbone_ev",
    "source_dups",
    "wl_colors_ps",
    "zipf_stats",
    "vocab_growth",
    "sweep_cut_ps",
    # round-5 final wave
    "katz_ev",
    "prefix_pairs",
    "msf_ps",
    "anf_ps",
    "span_contam",
    "motifs_ev",
    "winnow_pairs",
    "eigc_ps",
    # round-5 continuation session (props_stats is a 5-row fixed-size
    # output — not regression-informative, like kron/graph_stats above)
    "temporal_reach_ev",
    "cliques4_ev",
    "quotient_ps",
    "cms_heavy",
    "temporal_wedges_ev",
    "asof_ev",
    "incident_events",
    "simrank_ev",
    "spam_mass_ev",
    "bm25_topk",
    "neg_sample_ev",
    "node2vec_ps",
    "bpe_merges",
    "bigram_xent",
    "chunk_docs",
    "pmi_pairs",
    "knn_purity",
    "ann_recall",
    "gini_ps",
    "bipartite_ps",
    "bipartite_ev",
    "funnel_steps",
    "retention",
    "event_transitions",
    "value_percentiles",
    "len_percentiles",
    "len_robust",
    # round-5 closing session
    "redirect_resolve",
    "rewrite_links",
    "hll_distinct",
    "gap_audit_ps",
    "anchor_topk",
    "url_canon",
    "dedup_spans",
    "host_graph",
    "ppr_batch_ps",
    "crawl_delta",
    "bloom_audit",
    "hostrank",
    "containment",
    "robots_audit",
    "linkfarm",
    "mirror_hosts",
    "recrawl",
    "boilerplate",
    "conjunctive",
    "phrase_search",
    "cc_trace",
    "hist_quantiles",
    "fetch_schedule",
    "ic_cascade",
    "bursts",
    "kwic",
    "crawl_budget",
    "split_leakage",
    "proximity",
    "level_schedule",
    "fuzzy_pairs",
    "reservoir_sample",
    "path_count",
    "trap_hosts",
    "llr_pairs",
    "kmv_jaccard",
    "percolation",
    "rank_drift",
    "doulion",
    "widest_ps",
    "attack",
    "overlap_events",
    "grouped_reservoir",
    "skew_join",
    "zorder",
    "cdc_merge",
    "reliability_ps",
    "condensation",
    "hll_rollup",
    "split_heal",
    "bot_users",
    "record_link",
    "reshard",
    "pricing_summary",
    "ship_priority",
    "local_volume",
    "waterfill",
    "ab_test",
    "textrank",
    "value_outliers",
    "fk_audit",
    "profile_table",
    "key_audit",
    "benford",
    "spatial_pairs",
    "reciprocity",
    "assortativity",
    "topo_order",
    "promo_share",
    "big_orders",
    "cust_returns",
    "clique_comm",
    "hll_setops",
    "streaks",
    "scd2",
    "corr_matrix",
    "quantile_norm",
    "ewma_drift",
    "basket_pairs",
    "embed_clusters",
    "label_spread",
    "dedup_agreement",
    "chi2_events",
    "cheapest_supplier",
    "top_orders_per_cust",
    "monthly_growth",
    "event_trigrams",
    "cusum",
    "golden_record",
    "small_qty_revenue",
    "order_cube",
    "status_pivot",
    "mdm_golden",
    "skew_audit",
    "attribution",
    "fof_recs",
    "dau_wau",
    "purchase_gaps",
    "coverage_seeds",
    # landmark_dist omitted: fixed 276-row output composing two msbfs
    # runs — the batched-fringe shape it exercises is already the
    # msbfs_ps row; its ~35s would be pure superstep-overhead re-count
]


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    spark = make_session(cpus)
    spark.sparkContext.setLogLevel("ERROR")

    qs = entrymod.queries()

    # JIT warmup: run a cheap iterative kernel at the smallest SF so the
    # first timed query doesn't absorb whole-stage-codegen compilation
    # (~20-30s of C2 work measured on a cold JVM).
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir):
        for wname in ("pagerank_ps", "dedup_exact"):
            try:
                qs[wname](spark, warm_dir).count()
            except Exception as exc:  # warmup must never fail the bench
                print(f"# warmup {wname} skipped: {exc}", file=sys.stderr)
        spark.catalog.clearCache()
    times = {}
    total = 0.0
    # Two timed passes per query, min reported: this VM shows one-sided
    # multi-10s CPU-steal stalls (a kernel measured 4s warm can read 50s
    # in a single pass); min-of-2 is the same one-sided-noise estimator
    # scripts/bench_scaling.py uses (stall-trimmed median there).
    for name in HEADLINE:
        best, rows = None, 0
        for _pass in range(2):
            t0 = time.time()
            df = qs[name](spark, sf_dir)
            rows = df.count()  # materialize the full result
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
            spark.catalog.clearCache()  # queries persist intermediates;
            # drop them so later queries aren't squeezed by earlier caches
        times[name] = round(best, 3)
        total += best
        print(f"# {name}: {best:.2f}s rows={rows}", file=sys.stderr)

    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    print(
        json.dumps(
            {
                "metric": "headline_query_seconds",
                "value": round(total, 3),
                "unit": "sec",
                "queries": times,
                "sf": float(sf) if sf else None,
            }
        )
    )
    spark.stop()


def driver_memory(cap_gb: int) -> str:
    """Driver heap: half of physical memory (MemTotal), capped at ``cap_gb``,
    so the JVM also starts on small hosts."""
    mem_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(cap_gb * 1024, mem_mb // 2)}m"


def make_session(cpus: str) -> SparkSession:
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("combblas-spark-bench")
        .config("spark.sql.shuffle.partitions", str(max(32, int(cpus))))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.driver.memory", driver_memory(20))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )


if __name__ == "__main__":
    main()
