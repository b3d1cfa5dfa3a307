from combblas_spark.algorithms.pagerank import pagerank  # noqa: F401
from combblas_spark.algorithms.cc import cc_minlabel, cc_fastsv, cc_lacc, canonical_labels  # noqa: F401
from combblas_spark.algorithms.bfs import bfs, msbfs, bfs_validate, single_child_frontier  # noqa: F401
from combblas_spark.algorithms.triangles import triangle_count, triangles_per_edge  # noqa: F401
from combblas_spark.algorithms.clustering import (  # noqa: F401
    clustering_coefficient,
    per_vertex_triangles,
    transitivity,
    edge_jaccard,
    triangle_centrality,
)
from combblas_spark.algorithms.stats import graph_stats, harmonic_centrality, rich_club, knn_curve  # noqa: F401
from combblas_spark.algorithms.linkpred import adamic_adar  # noqa: F401
from combblas_spark.algorithms.coloring import jp_coloring  # noqa: F401
from combblas_spark.algorithms.butterflies import butterfly_count  # noqa: F401
from combblas_spark.algorithms.coarsen import coarsen, heavy_edge_matching  # noqa: F401
from combblas_spark.algorithms.salsa import salsa  # noqa: F401
from combblas_spark.algorithms.backbone import disparity_backbone  # noqa: F401
from combblas_spark.algorithms.wl import wl_refine  # noqa: F401
from combblas_spark.algorithms.localcluster import sweep_cut  # noqa: F401
from combblas_spark.algorithms.labelprop import label_propagation, mcl  # noqa: F401
from combblas_spark.algorithms.sssp import sssp  # noqa: F401
from combblas_spark.algorithms.betweenness import betweenness  # noqa: F401
from combblas_spark.algorithms.mis import mis_luby  # noqa: F401
from combblas_spark.algorithms.matching import (  # noqa: F401
    maximal_matching,
    maximum_matching,
    approx_weight_matching,
)
from combblas_spark.algorithms.filtered import filtered_bfs  # noqa: F401
from combblas_spark.algorithms.kcore import kcore  # noqa: F401
from combblas_spark.algorithms.ktruss import ktruss  # noqa: F401
from combblas_spark.algorithms.hits import hits  # noqa: F401
from combblas_spark.algorithms.katz import katz  # noqa: F401
from combblas_spark.algorithms.msf import boruvka_msf  # noqa: F401
from combblas_spark.algorithms.anf import anf  # noqa: F401
from combblas_spark.algorithms.scc import scc, bowtie  # noqa: F401
from combblas_spark.algorithms.walks import random_walks, neighbor_sample  # noqa: F401
from combblas_spark.algorithms.ktips import k_tips  # noqa: F401
from combblas_spark.algorithms.ordering import (  # noqa: F401
    rcm_order,
    pseudo_peripheral_source,
    md_order_blocked,
)
from combblas_spark.algorithms.incremental_mcl import (  # noqa: F401
    incremental_mcl,
    cluster_summary,
    prep_inc_mat,
)
from combblas_spark.algorithms.motifs import triad_motifs  # noqa: F401
from combblas_spark.algorithms.eigencentrality import eigenvector_centrality  # noqa: F401
from combblas_spark.algorithms.densest import densest_subgraph  # noqa: F401
from combblas_spark.algorithms.louvain import louvain_moves  # noqa: F401
