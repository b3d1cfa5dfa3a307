from combblas_spark.operators.multiply import spmv, spmm, spgemm, square, galerkin, kron  # noqa: F401
from combblas_spark.operators.ewise import (  # noqa: F401
    ewise_mult,
    ewise_apply,
    set_difference,
    ewise_apply_vec,
)
from combblas_spark.operators.reduce import (  # noqa: F401
    reduce_dim,
    masked_reduce,
    degree_histogram,
    bandwidth,
    profile,
)
from combblas_spark.operators.transform import (  # noqa: F401
    transpose,
    symmetrize,
    remove_loops,
    dimapply,
    apply_values,
    prune,
    prune_rc,
    prune_column,
    prune_column_by_index,
)
from combblas_spark.operators.kselect import kselect, prune_recovery_select  # noqa: F401
from combblas_spark.operators.indexing import (  # noqa: F401
    subsref,
    vec_gather,
    vec_assign,
    vec_set,
    vec_sort,
    randperm,
    relabel_edges,
    permute_edges,
    vec_min_element,
    induced_subgraphs,
    block_split,
    concatenate,
    iota,
    invert,
    uniq,
)
