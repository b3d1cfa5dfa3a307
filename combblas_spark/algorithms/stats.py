"""Global graph-structure summary: reciprocity and degree assortativity.

Reference semantics: the reference reports whole-graph structural scalars
as reductions over the distributed triple store (load imbalance
/root/reference/include/CombBLAS/SpParMat.cpp:761-770, bandwidth/profile
SpParMat.cpp:1742+); the web-graph literature's two standard link-structure
scalars — edge reciprocity and Newman's degree assortativity — are the same
shape: per-edge expressions reduced by one global aggregate.

Definitions (computed exactly, no sampling):
* reciprocity   = |{(s,d) in E : (d,s) in E}| / |E| over the directed
  simple loop-free edge set E.
* assortativity = Pearson correlation of (deg(u), deg(v)) over the
  directed incidences of the UNDIRECTED simple support (each unordered
  edge counted once in each direction, the standard symmetric estimator),
  with deg = distinct-neighbor degree.

Scale design (100 TB): degree is one hash aggregation; attaching deg to
both edge endpoints is two shuffle hash joins keyed on vertex id (the
degree table is O(V) — never broadcast); reciprocity is one self-join of
E on the reversed key; everything then collapses through a single
map-side-combinable global aggregate to ONE row. No windows, no UDFs,
no driver-side iteration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
import pyspark.sql.functions as F


def graph_stats(edges: DataFrame) -> DataFrame:
    """One-row structural summary of a directed edge table (src, dst[, w]).

    -> (n_vertices BIGINT, n_edges BIGINT, reciprocity, assortativity)
    with the two ratios rounded to 6 decimals (oracle-portable). n_edges
    counts the directed simple loop-free edges; assortativity is NULL-safe:
    a degree-regular graph (zero variance) yields 0.0.
    """
    e = (
        edges.filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    # reciprocity: semi-join E against its own reverse
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    n_recip = e.join(rev, ["src", "dst"], "leftsemi").select(
        F.count(F.lit(1)).alias("n_recip")
    )
    n_edges = e.select(F.count(F.lit(1)).alias("n_edges"))

    # undirected support, both directions, distinct-neighbor degree
    und = e.select(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    ).distinct()
    sym = und.unionByName(und.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = sym.groupBy(F.col("a").alias("id")).agg(
        F.count(F.lit(1)).cast("double").alias("deg")
    )
    # attach degree to both endpoints of every directed incidence
    dx = deg.select(F.col("id").alias("a"), F.col("deg").alias("deg_a"))
    dy = deg.select(F.col("id").alias("b"), F.col("deg").alias("deg_b"))
    inc = sym.join(dx, "a").join(dy, "b")
    mom = inc.agg(
        F.count(F.lit(1)).cast("double").alias("m"),
        F.sum("deg_a").alias("sx"),
        F.sum("deg_b").alias("sy"),
        F.sum(F.col("deg_a") * F.col("deg_b")).alias("sxy"),
        F.sum(F.col("deg_a") * F.col("deg_a")).alias("sxx"),
        F.sum(F.col("deg_b") * F.col("deg_b")).alias("syy"),
    )
    nv = deg.agg(F.count(F.lit(1)).cast("long").alias("n_vertices"))

    cov = F.col("sxy") / F.col("m") - (F.col("sx") / F.col("m")) * (
        F.col("sy") / F.col("m")
    )
    # plain multiplies, not **2: POWER(x, 2) is not guaranteed bit-identical
    # to x*x across engines, and the oracle squares by multiplication
    vx = F.col("sxx") / F.col("m") - (F.col("sx") / F.col("m")) * (
        F.col("sx") / F.col("m")
    )
    vy = F.col("syy") / F.col("m") - (F.col("sy") / F.col("m")) * (
        F.col("sy") / F.col("m")
    )
    return (
        mom.crossJoin(nv)
        .crossJoin(n_edges)
        .crossJoin(n_recip)
        .select(
            F.col("n_vertices"),
            F.col("n_edges").cast("long").alias("n_edges"),
            F.round(
                F.col("n_recip") / F.col("n_edges").cast("double"), 6
            ).alias("reciprocity"),
            F.round(
                F.when(vx * vy > 0, cov / F.sqrt(vx * vy)).otherwise(F.lit(0.0)),
                6,
            ).alias("assortativity"),
        )
    )


def harmonic_centrality(
    spark, edges: DataFrame, roots: list[int], max_iter: int = 24
) -> DataFrame:
    """Sampled harmonic centrality: h(v) = sum over sources s of
    1/d(s, v) — the standard k-source estimator, computed from ONE batched
    multi-source BFS (algorithms/bfs.msbfs, the BetwCent batched-fringe
    shape) instead of k traversals.

    -> (id, n_sources BIGINT, harmonic) over vertices reached by at least
    one source (the source itself contributes nothing at distance 0);
    harmonic rounded to 6. Scaling the source sample trades accuracy for
    cost linearly — the 100-TB pattern for centrality screening.
    """
    from combblas_spark.algorithms.bfs import msbfs

    depths = msbfs(spark, edges, roots=roots, max_iter=max_iter)
    return (
        depths.filter(F.col("depth") > 0)
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sources"),
            F.round(F.sum(1.0 / F.col("depth")), 6).alias("harmonic"),
        )
    )


def modularity(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Newman modularity of a vertex partition over a SYMMETRIC weighted
    edge table (each undirected edge present in both directions, the shape
    the graph builders emit):

        Q = sum over communities c of [ w_in(c)/2m - (d(c)/2m)^2 ]

    with 2m = total symmetric edge weight, w_in(c) the symmetric
    intra-community weight and d(c) the community's weighted degree —
    the standard partition-quality score for label-propagation/MCL output.

    ``labels`` is (id, val = community). -> one row
    (n_communities BIGINT, modularity ROUND 6).

    Scale shape: two O(V)-keyed hash joins to attach labels to edge
    endpoints, two map-side-combinable aggregations to (community) keys —
    the community table is orders smaller than V — and a one-row final
    aggregate. No windows, no UDFs, no collect.
    """
    lab_s = labels.select(F.col("id").alias("src"), F.col("val").alias("c_src"))
    lab_d = labels.select(F.col("id").alias("dst"), F.col("val").alias("c_dst"))
    two_m = edges.agg(F.sum("w").alias("m2"))
    w_in = (
        edges.join(lab_s, "src")
        .join(lab_d, "dst")
        .filter(F.col("c_src") == F.col("c_dst"))
        .groupBy(F.col("c_src").alias("c"))
        .agg(F.sum("w").alias("w_in"))
    )
    d_c = (
        edges.groupBy("src")
        .agg(F.sum("w").alias("wd"))
        .join(lab_s, "src")
        .groupBy(F.col("c_src").alias("c"))
        .agg(F.sum("wd").alias("d_c"))
    )
    term = F.coalesce(F.col("w_in"), F.lit(0.0)) / F.col("m2") - (
        F.col("d_c") / F.col("m2")
    ) * (F.col("d_c") / F.col("m2"))
    return (
        d_c.join(w_in, "c", "left")
        .crossJoin(F.broadcast(two_m))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_communities"),
            F.round(F.sum(term), 6).alias("modularity"),
        )
    )


def pseudo_diameter(
    spark, edges: DataFrame, start: int | None = None, max_iter: int = 24
) -> DataFrame:
    """Double-sweep diameter lower bound — the classic two-BFS heuristic
    (and the standard way to pick a peripheral start vertex for RCM-style
    orderings): BFS from ``start`` (default: the minimum vertex id),
    take the farthest vertex (ties broken by min id, deterministic),
    BFS again from there, report that sweep's eccentricity.

    -> one row (start BIGINT, peripheral BIGINT, antipode BIGINT,
    pseudo_diameter BIGINT): peripheral = sweep-1 argmax, antipode =
    sweep-2 argmax, pseudo_diameter = sweep-2 max depth (a lower bound
    on, and on web-like graphs usually equal to, the true diameter).

    Scale shape: exactly two direction-optimized BFS traversals
    (algorithms/bfs.bfs — size-gated broadcasts, lineage cut per
    superstep) plus two one-row driver collects for the argmax handoff.
    """
    from combblas_spark.algorithms.bfs import bfs

    if start is None:
        start = int(edges.agg(F.min("src")).collect()[0][0])
    d1 = bfs(spark, edges, root=start, max_iter=max_iter)
    far = d1.orderBy(F.desc("depth"), F.asc("id")).limit(1).collect()[0]
    peripheral = int(far["id"])
    d2 = bfs(spark, edges, root=peripheral, max_iter=max_iter)
    return (
        d2.orderBy(F.desc("depth"), F.asc("id"))
        .limit(1)
        .select(
            F.lit(start).cast("long").alias("start"),
            F.lit(peripheral).cast("long").alias("peripheral"),
            F.col("id").cast("long").alias("antipode"),
            F.col("depth").cast("long").alias("pseudo_diameter"),
        )
    )


def conductance(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Per-community conductance over a SYMMETRIC weighted edge table —
    the cut-quality complement to modularity():

        phi(c) = cut(c) / min(vol(c), 2m - vol(c))

    with vol(c) = sum of w over edges whose src is in c (the weighted
    community volume on the symmetric table), cut(c) = sum of w over
    edges leaving c (src in c, dst not), and 2m the total symmetric
    weight. A whole-graph community has min(vol, 2m - vol) = 0 and is
    reported as phi = 0.0 (no cut exists by definition).

    ``labels`` is (id, val = community). -> one row per community
    (c, n_members BIGINT, vol BIGINT, cut BIGINT, conductance ROUND 6).
    Edge weights are integer-valued counts in this engine, so the sums
    are exact and the BIGINT casts / the ratio are engine-portable.

    Scale shape: identical to modularity() — two O(V)-keyed hash joins
    to attach labels to edge endpoints, map-side-combinable aggregation
    to the (community) key, a broadcast one-row total. No windows, no
    UDFs, no collect.
    """
    lab_s = labels.select(F.col("id").alias("src"), F.col("val").alias("c_src"))
    lab_d = labels.select(F.col("id").alias("dst"), F.col("val").alias("c_dst"))
    per = (
        edges.join(lab_s, "src")
        .join(lab_d, "dst")
        .groupBy(F.col("c_src").alias("c"))
        .agg(
            F.sum("w").alias("vol"),
            F.sum(
                F.when(F.col("c_src") != F.col("c_dst"), F.col("w")).otherwise(
                    F.lit(0.0)
                )
            ).alias("cut"),
        )
    )
    mem = labels.groupBy(F.col("val").alias("c")).agg(
        F.count(F.lit(1)).cast("long").alias("n_members")
    )
    two_m = edges.agg(F.sum("w").alias("m2"))
    denom = F.least(F.col("vol"), F.col("m2") - F.col("vol"))
    return (
        per.join(mem, "c")
        .crossJoin(F.broadcast(two_m))
        .select(
            "c",
            "n_members",
            F.col("vol").cast("long").alias("vol"),
            F.col("cut").cast("long").alias("cut"),
            F.round(
                F.when(denom > 0, F.col("cut") / denom).otherwise(F.lit(0.0)), 6
            ).alias("conductance"),
        )
    )


def distance_histogram(
    spark, edges: DataFrame, roots: list[int], max_iter: int = 24
) -> DataFrame:
    """Hop-count distribution + effective diameter from a k-source sample —
    the Graph500 kernel-2 output analysis / web-graph "effective diameter"
    report (reference: the reference validates BFS levels as a distance
    table per run, /root/reference/Applications/TopDownBFS.cpp:442-449; the
    multi-source batching is the BetwCent batched-fringe shape).

    All k sources advance through ONE batched msbfs (one edge probe per
    level regardless of k), then the (source, vertex) min-distance pairs
    collapse to a per-depth histogram. Effective diameter is the standard
    p90 rule — the smallest depth d with cum(d) >= 0.9 * total — computed
    INTEGER-exactly as 10*cum >= 9*total (no float threshold, so the same
    depth wins in every engine).

    -> (depth BIGINT, n_pairs BIGINT, cum_frac DOUBLE round 6,
    eff_diameter BIGINT), one row per depth >= 1. Scale shape: the
    histogram is O(diameter) rows, so the cumulative window and the
    broadcast one-row total are driver-trivial no matter the graph size;
    the sampled-source design keeps cost k * O(E) total like harmonic
    centrality.
    """
    from pyspark.sql import Window

    from combblas_spark.algorithms.bfs import msbfs

    depths = msbfs(spark, edges, roots=roots, max_iter=max_iter)
    hist = (
        depths.filter(F.col("depth") > 0)
        .groupBy(F.col("depth").cast("long").alias("depth"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )
    # O(diameter) rows: a single-partition ordered window is fine here.
    w = Window.orderBy("depth").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.withColumn("cum", F.sum("n_pairs").over(w))
    total = cum.agg(F.max("cum").alias("total"))
    joined = cum.crossJoin(F.broadcast(total))
    eff = (
        joined.filter(F.lit(10) * F.col("cum") >= F.lit(9) * F.col("total"))
        .agg(F.min("depth").alias("eff_diameter"))
    )
    return joined.select(
        "depth",
        "n_pairs",
        F.round(F.col("cum") / F.col("total"), 6).alias("cum_frac"),
    ).crossJoin(F.broadcast(eff))


def component_histogram(labels: DataFrame) -> DataFrame:
    """Log2-bucket histogram of component sizes — the standard web-graph
    connectivity report (one giant component + a power-law tail) computed
    from any (id, val = component label) table, e.g. cc_minlabel output.

    -> (bucket BIGINT, n_components BIGINT, min_size BIGINT,
    max_size BIGINT, n_vertices BIGINT) with bucket = bit_length(size)-1
    (integer-exact at power-of-two boundaries, same bin() trick as
    degree_histogram). Output is O(log V) rows; two map-side-combinable
    aggregations.
    """
    sizes = labels.groupBy("val").agg(
        F.count(F.lit(1)).cast("long").alias("size")
    )
    return (
        sizes.select(
            (F.length(F.bin(F.col("size"))) - 1).cast("long").alias("bucket"),
            "size",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_components"),
            F.min("size").alias("min_size"),
            F.max("size").alias("max_size"),
            F.sum("size").cast("long").alias("n_vertices"),
        )
    )


def rich_club(edges: DataFrame, ks: list[int] = (1, 2, 4, 8, 16, 32)) -> DataFrame:
    """Rich-club coefficient profile (Zhou & Mondragon 2004) of the
    undirected simple support of ``edges``: for each degree threshold k,
    phi(k) = 2*E_k / (N_k*(N_k-1)) where N_k = vertices with degree > k and
    E_k = edges with BOTH endpoints in that set — do the hubs of the link
    graph wire to each other more densely than chance? The standard
    web/citation-graph structure report alongside assortativity
    (graph_stats) and the degree histogram.

    -> one row per k: (k BIGINT, n_rich BIGINT, e_rich BIGINT, phi
    ROUND(.,6)); phi = 0.0 when N_k < 2. Thresholds are a fixed small
    list, not data-dependent.

    Scale shape (100 TB): degree is one hash aggregation; each edge picks
    up its endpoint degrees via two O(V)-keyed hash joins; the per-k
    membership tests are conditional-sum columns over ONE pass of the edge
    and vertex tables (the k list is a constant ~6-entry explode, not a
    join) — everything map-side combinable, no windows, no UDFs.
    """
    ks = sorted(set(int(k) for k in ks))
    und = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
    )
    sym = und.unionByName(und.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = sym.groupBy(F.col("a").alias("id")).agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    kdf = F.explode(F.array(*[F.lit(k).cast("long") for k in ks])).alias("k")
    nk = (
        deg.select("deg", kdf)
        .filter(F.col("deg") > F.col("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("long").alias("n_rich"))
    )
    da = deg.select(F.col("id").alias("a"), F.col("deg").alias("d_a"))
    db = deg.select(F.col("id").alias("b"), F.col("deg").alias("d_b"))
    ek = (
        und.join(da, "a")
        .join(db, "b")
        .select(F.least("d_a", "d_b").alias("dmin"), kdf)
        .filter(F.col("dmin") > F.col("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("long").alias("e_rich"))
    )
    base = edges.sparkSession.createDataFrame(
        [(int(k),) for k in ks], "k long"
    )
    return (
        base.join(nk, "k", "left")
        .join(ek, "k", "left")
        .select(
            "k",
            F.coalesce(F.col("n_rich"), F.lit(0).cast("long")).alias("n_rich"),
            F.coalesce(F.col("e_rich"), F.lit(0).cast("long")).alias("e_rich"),
            F.round(
                F.when(
                    F.coalesce(F.col("n_rich"), F.lit(0)) >= 2,
                    2.0
                    * F.coalesce(F.col("e_rich"), F.lit(0))
                    / (
                        F.col("n_rich")
                        * (F.col("n_rich") - F.lit(1)).cast("double")
                    ),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("phi"),
        )
    )


def knn_curve(edges: DataFrame) -> DataFrame:
    """Average-nearest-neighbor-degree curve knn(k) — the degree-mixing
    PROFILE behind graph_stats' single assortativity scalar (Pastor-
    Satorras/Vazquez/Vespignani 2001): for vertices bucketed by degree,
    the mean over incident edges of the other endpoint's degree. Rising
    knn(k) = assortative hubs-with-hubs wiring; falling = the
    disassortative hub-periphery shape typical of web graphs.

    -> one row per occupied log2 degree bucket: (bucket BIGINT = floor
    log2(deg), n_vertices BIGINT, avg_deg ROUND(.,6), avg_nbr_deg
    ROUND(.,6)). Bucketing keeps the output O(log V) at any scale and the
    integer-log2 uses the bit-length trick (LENGTH(bin(x))-1), never
    float log2 (CLAUDE.md portability note).

    Scale shape: degree is one hash agg over the symmetrized support; the
    per-incidence neighbor degree attaches by two O(V)-keyed hash joins
    (same joins graph_stats already makes); two final aggs. No windows,
    no UDFs.
    """
    und = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
    )
    sym = und.unionByName(und.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = sym.groupBy(F.col("a").alias("id")).agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    da = deg.select(F.col("id").alias("a"), F.col("deg").alias("d_a"))
    db = deg.select(F.col("id").alias("b"), F.col("deg").alias("d_b"))
    inc = sym.join(da, "a").join(db, "b")
    # per-vertex mean neighbor degree first, then bucket-average of that
    # (the standard knn(k) estimator: average over vertices, not edges)
    pv = inc.groupBy("a", "d_a").agg(F.avg("d_b").alias("knn_v"))
    bucket = (F.length(F.bin(F.col("d_a"))) - 1).cast("long")
    return (
        pv.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vertices"),
            F.round(F.avg(F.col("d_a").cast("double")), 6).alias("avg_deg"),
            F.round(F.avg("knn_v"), 6).alias("avg_nbr_deg"),
        )
    )


def degree_gini(edges: DataFrame) -> DataFrame:
    """Gini coefficient of the degree distribution — the standard
    inequality scalar for web-graph skew (0 = regular graph, ->1 = a few
    hubs own all the edges); the single number behind the degree_hist /
    rich_club profiles that capacity planning (partition sizing, salting
    thresholds) keys off.

    Over the undirected simple support with distinct-neighbor degrees
    d_1 <= d_2 <= ... <= d_n (ties broken by vertex id):
    gini = (2 * SUM(i * d_i) - (n+1) * SUM(d)) / (n * SUM(d)).
    Both sums are EXACT BIGINTs, so the final double is engine-identical.

    -> one row (n_vertices BIGINT, sum_deg BIGINT, gini ROUND(.,6)).

    Scale shape (100 TB): degree is one hash aggregation; the global rank
    uses the parallel sample sort + per-partition offsets idiom
    (operators/indexing._global_ranks — NO single-task window); the rest
    is one map-side-combinable aggregate to one row.
    """
    from combblas_spark.operators.indexing import _global_ranks

    e = edges.filter(F.col("src") != F.col("dst"))
    und = e.select(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    ).distinct()
    sym = und.unionByName(
        und.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    deg = sym.groupBy(F.col("a").alias("id")).agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    ranked = _global_ranks(deg, [F.col("deg").asc(), F.col("id").asc()])
    mom = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("deg").cast("long").alias("sd"),
        # rank is 0-based -> i = rank + 1
        F.sum((F.col("rank") + 1) * F.col("deg")).cast("long").alias("sid"),
    )
    return mom.select(
        F.col("n").alias("n_vertices"),
        F.col("sd").alias("sum_deg"),
        F.round(
            F.when(
                (F.col("n") > 0) & (F.col("sd") > 0),
                (2.0 * F.col("sid") - (F.col("n") + 1.0) * F.col("sd"))
                / (F.col("n").cast("double") * F.col("sd")),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("gini"),
    )


def gap_encoding_audit(edges: DataFrame) -> DataFrame:
    """WebGraph-style compressibility audit of the adjacency structure.

    Boldi & Vigna's WebGraph framework compresses a link graph by storing
    each sorted adjacency list as gamma-coded GAPS (dst_i - dst_{i-1});
    locality in the id assignment is what makes web graphs compress to
    2-3 bits/link. This audit measures exactly that, per log2-out-degree
    bucket: total gap-coded bits vs raw id bits, so an id-renumbering
    pass (e.g. operators/indexing.rcm_order / RenameVertices) can be
    judged by a number. All integer arithmetic — bit lengths via the
    LENGTH(bin(x)) trick shared with the oracle.

    Per bucket: n_srcs, n_edges, gap_bits (first dst costs bitlen(dst+1),
    each subsequent sorted dst costs bitlen(gap)), raw_bits
    (sum of bitlen(dst+1)).

    Scale shape: one distinct, one lag-window partitioned by src — the
    partition IS the adjacency list, the same unit WebGraph encodes
    sequentially; its size is bounded by max out-degree (a 10^8-degree
    hub is one task — acceptable for an offline audit; the production
    encode would range-split the dst space and stitch boundary gaps) —
    then two map-side-combinable aggregations.
    """
    e = edges.select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
    ).distinct()
    w = Window.partitionBy("src").orderBy("dst")
    costed = e.withColumn("prev", F.lag("dst").over(w)).select(
        "src",
        F.when(
            F.col("prev").isNull(), F.expr("LENGTH(bin(dst + 1))")
        )
        .otherwise(F.expr("LENGTH(bin(dst - prev))"))
        .cast("long")
        .alias("bits"),
        F.expr("LENGTH(bin(dst + 1))").cast("long").alias("raw"),
    )
    per_src = costed.groupBy("src").agg(
        F.count(F.lit(1)).alias("deg"),
        F.sum("bits").alias("gap_bits"),
        F.sum("raw").alias("raw_bits"),
    )
    return (
        per_src.withColumn(
            "deg_bucket", F.expr("LENGTH(bin(deg)) - 1").cast("long")
        )
        .groupBy("deg_bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_srcs"),
            F.sum("deg").cast("long").alias("n_edges"),
            F.sum("gap_bits").cast("long").alias("gap_bits"),
            F.sum("raw_bits").cast("long").alias("raw_bits"),
        )
    )


def percolation_profile(
    spark,
    edges: DataFrame,
    levels=(25, 120, 400),
    salt: str = "rb",
    max_iter: int = 60,
) -> DataFrame:
    """Bond-percolation robustness curve: retain each undirected edge
    independently with probability p/1000 (a replayable md5-60bit coin
    on the canonical (min,max) endpoint pair, so both directions live
    or die together and the draw is engine/partitioning-invariant),
    then measure what survives — edges kept, vertices touched, giant-
    component size and component count via the converged min-label CC
    kernel. The classic attack/resilience audit for a link graph
    (Albert-Jeong-Barabasi style random-failure curve): how much of
    the crawl's connectivity survives losing (1 - p/1000) of its
    links, e.g. dead links between snapshots or a partial fetch.

    Scale shape: the canonical edge set is computed once and cached;
    each level is one pure-Column filter (no resampling pass) feeding
    the standard CC superstep kernel, and the per-level summary is a
    two-stage aggregate (component sizes, then one row) — the curve
    costs |levels| CC runs on graphs that are strict subsets of the
    input. Returns one exact-int64 row per level:
    (p_permille, n_edges, n_vertices, gcc_size, n_components).
    """
    from combblas_spark.algorithms.cc import cc_minlabel
    from combblas_spark.functions.dedup import md5_60bit

    if not levels:
        raise ValueError("percolation_profile: levels must be non-empty")
    und = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
    )
    und = und.withColumn(
        "_coin",
        md5_60bit(
            F.concat_ws(
                "|",
                F.lit(salt),
                F.col("a").cast("string"),
                F.col("b").cast("string"),
            )
        )
        % 1000,
    )
    und.persist()
    und.count()  # materialize before the threads fork so no level re-runs it
    try:
        def one_level(p):
            # levels are independent CC runs — overlap them so one level's
            # superstep tail back-fills the others' idle cores (guide §2.6
            # concurrent-jobs pattern); job descriptions are thread-local
            spark.sparkContext.setJobDescription(f"percolation:p={p}")
            keep = und.filter(F.col("_coin") < F.lit(int(p)))
            e = (
                keep.select(F.col("a").alias("src"), F.col("b").alias("dst"))
                .unionByName(
                    keep.select(
                        F.col("b").alias("src"), F.col("a").alias("dst")
                    )
                )
                .withColumn("w", F.lit(1.0))
            )
            lab = cc_minlabel(spark, e, max_iter=max_iter)
            comp = lab.groupBy("val").agg(
                F.count(F.lit(1)).cast("long").alias("sz")
            )
            summary = comp.agg(
                F.max("sz").cast("long").alias("gcc_size"),
                F.count(F.lit(1)).cast("long").alias("n_components"),
                F.sum("sz").cast("long").alias("n_vertices"),
            )
            n_e = keep.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
            return n_e.crossJoin(summary).select(
                F.lit(int(p)).cast("long").alias("p_permille"),
                "n_edges",
                "n_vertices",
                "gcc_size",
                "n_components",
            )

        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(len(levels), 3)) as pool:
            rows = list(pool.map(one_level, levels))
        out = rows[0]
        for r in rows[1:]:
            out = out.unionByName(r)
        return out
    finally:
        und.unpersist()


def rank_correlation(
    a: DataFrame,
    b: DataFrame,
    k: int = 100,
    score_col: str = "val",
) -> DataFrame:
    """Ranking-drift audit between two scorings of the same id universe
    — the regression gate every ranker change ships through: Spearman
    rho over the full order plus top-k member overlap. Ranks are taken
    on the TOTAL order (ROUND(score, 6) DESC, id ASC) — the repo-wide
    rounded-score rule — so tie handling is deterministic and engine-
    portable (tie-broken Spearman, not the averaged-rank variant; with
    64-bit scores ties are rare and the audit is about drift, not the
    textbook statistic).

    Scale shape: each ranking gets its global rank from the range-
    partitioned sample sort (_global_ranks — no single-task window),
    one equi-join on id aligns them, and everything collapses through
    ONE map-side-combinable aggregate to a single row: n, sum of
    squared rank displacements (exact int64), top-k overlap (exact),
    and rho = 1 - 6*sum_d2/(n(n^2-1)) rounded at 6. Ids present in
    only one ranking are dropped by the inner join (compare rankings
    over the same universe; the n column discloses the overlap size).
    """
    from combblas_spark.operators.indexing import _global_ranks

    def ranked(df, name):
        r = _global_ranks(
            df.select("id", F.round(score_col, 6).alias("_s")),
            [F.col("_s").desc(), F.col("id").asc()],
        )
        return r.select("id", (F.col("rank") + 1).alias(name))

    j = ranked(a, "ra").join(ranked(b, "rb"), "id")
    d = F.col("ra") - F.col("rb")
    agg = j.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(d * d).cast("long").alias("sum_d2"),
        F.sum(
            ((F.col("ra") <= k) & (F.col("rb") <= k)).cast("long")
        ).cast("long").alias("topk_overlap"),
    )
    n = F.col("n").cast("double")
    rho = F.lit(1.0) - F.lit(6.0) * F.col("sum_d2").cast("double") / (
        n * (n * n - F.lit(1.0))
    )
    return agg.select(
        "n", "sum_d2", "topk_overlap",
        (F.round(rho, 6) + F.lit(0.0)).alias("spearman"),
    )


def attack_profile(
    spark,
    edges: DataFrame,
    levels=(0, 5, 25),
    max_iter: int = 60,
) -> DataFrame:
    """Targeted-attack robustness curve — the hub-removal companion to
    :func:`percolation_profile` (Albert-Jeong-Barabasi: scale-free
    graphs shrug off random failure but shatter under targeted hub
    removal): for each n in ``levels``, delete the n highest-degree
    vertices of the undirected simple support (distinct-neighbor
    degree, ties broken by id ascending — a deterministic total order)
    and measure what survives with the converged min-label CC kernel.

    Scale shape: the canonical edge set and the degree table are
    computed once; the top-n hub set is a TakeOrderedAndProject (n is
    small by definition of the audit) broadcast into two anti-joins;
    each level then runs the standard CC supersteps on a strict
    subgraph. One exact-int64 row per level, zero-coalesced so a total
    collapse (every edge incident to a removed hub) reads
    (n_removed, 0, 0, 0, 0) rather than nulls:
    (n_removed, n_edges, n_vertices, gcc_size, n_components).
    """
    from combblas_spark.algorithms.cc import cc_minlabel

    if not levels:
        raise ValueError("attack_profile: levels must be non-empty")
    und = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
    )
    und.persist()
    und.count()  # materialize before the threads fork so no level re-runs it
    try:
        deg = (
            und.select(F.col("a").alias("id"))
            .unionByName(und.select(F.col("b").alias("id")))
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("deg"))
        )

        def one_level(n):
            # independent CC runs per level — overlap them (guide §2.6);
            # job descriptions are thread-local
            spark.sparkContext.setJobDescription(f"attack:n={n}")
            hubs = F.broadcast(
                deg.orderBy(F.col("deg").desc(), F.col("id").asc())
                .limit(int(n))
                .select("id")
            )
            keep = und.join(
                hubs, on=F.col("a") == F.col("id"), how="left_anti"
            ).join(hubs, on=F.col("b") == F.col("id"), how="left_anti")
            e = (
                keep.select(F.col("a").alias("src"), F.col("b").alias("dst"))
                .unionByName(
                    keep.select(
                        F.col("b").alias("src"), F.col("a").alias("dst")
                    )
                )
                .withColumn("w", F.lit(1.0))
            )
            lab = cc_minlabel(spark, e, max_iter=max_iter)
            comp = lab.groupBy("val").agg(
                F.count(F.lit(1)).cast("long").alias("sz")
            )
            summary = comp.agg(
                F.coalesce(F.max("sz"), F.lit(0))
                .cast("long")
                .alias("gcc_size"),
                F.count(F.lit(1)).cast("long").alias("n_components"),
                F.coalesce(F.sum("sz"), F.lit(0))
                .cast("long")
                .alias("n_vertices"),
            )
            n_e = keep.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
            return n_e.crossJoin(summary).select(
                F.lit(int(n)).cast("long").alias("n_removed"),
                "n_edges",
                "n_vertices",
                "gcc_size",
                "n_components",
            )

        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(len(levels), 3)) as pool:
            rows = list(pool.map(one_level, levels))
        out = rows[0]
        for r in rows[1:]:
            out = out.unionByName(r)
        return out
    finally:
        und.unpersist()


def reciprocity(edges: DataFrame) -> DataFrame:
    """Edge reciprocity of a DIRECTED graph (Newman): the fraction of
    directed edges whose reverse edge also exists.

    One row ``(n_edges, n_recip, reciprocity)`` — exact BIGINT counts
    and the 6-decimal ratio. Scale shape: one self-join on the
    (src, dst) key (hash join, never all-pairs) + one aggregate; the
    edge table is assumed deduplicated and loop-free (build_graph's
    contract). Semantic anchor: the reference's A .* A^T elementwise
    mask (/root/reference/include/CombBLAS/ParFriends.h EWiseMult) —
    here the mask IS the reverse-orientation join.
    """
    d = edges.select("src", "dst")
    rev = d.select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    ).withColumn("_r", F.lit(1))
    flag = d.join(rev, on=["src", "dst"], how="left")
    return flag.agg(
        F.count(F.lit(1)).cast("long").alias("n_edges"),
        F.sum(F.coalesce(F.col("_r"), F.lit(0))).cast("long").alias("n_recip"),
        F.round(
            F.sum(F.coalesce(F.col("_r"), F.lit(0))).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("reciprocity"),
    )


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002, Phys Rev Lett
    89:208701) over a SYMMETRIC edge table: the Pearson correlation of
    (deg(src), deg(dst)) across directed edge slots.

    One row ``(m, s_jk, s_j, s_k, s_jj, s_kk, r)``: the five sums are
    EXACT BIGINTs (the whole correlation reduced to integer
    arithmetic; overflow envelope m * s_jk < 2^63 holds to ~1e9-edge
    graphs at web-hub degrees ~1e4) and r is assembled from them in
    one final double expression, sqrt(a)*sqrt(b) with both factors
    correctly rounded so the ROUND(.,6) is engine-portable. Scale
    shape: one degree aggregate + two hash joins of the degree table
    onto the edge list + one aggregate — no windows, no all-pairs.
    """
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("_d"))
    j = (
        edges.select("src", "dst")
        .join(deg.select(F.col("src"), F.col("_d").alias("_dj")), on="src")
        .join(
            deg.select(
                F.col("src").alias("dst"), F.col("_d").alias("_dk")
            ),
            on="dst",
        )
    )
    sums = j.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum(F.col("_dj") * F.col("_dk")).cast("long").alias("s_jk"),
        F.sum("_dj").cast("long").alias("s_j"),
        F.sum("_dk").cast("long").alias("s_k"),
        F.sum(F.col("_dj") * F.col("_dj")).cast("long").alias("s_jj"),
        F.sum(F.col("_dk") * F.col("_dk")).cast("long").alias("s_kk"),
    )
    md = F.col("m").cast("double")
    num = (md * F.col("s_jk").cast("double")
           - F.col("s_j").cast("double") * F.col("s_k").cast("double"))
    va = (md * F.col("s_jj").cast("double")
          - F.col("s_j").cast("double") * F.col("s_j").cast("double"))
    vb = (md * F.col("s_kk").cast("double")
          - F.col("s_k").cast("double") * F.col("s_k").cast("double"))
    return sums.select(
        "m", "s_jk", "s_j", "s_k", "s_jj", "s_kk",
        F.round(num / (F.sqrt(va) * F.sqrt(vb)), 6).alias("r"),
    )
