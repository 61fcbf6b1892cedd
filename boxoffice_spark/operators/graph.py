"""Iterative graph operator: connected components over a pair list.

The missing last step of every near-dup pipeline: pair generators
(t_simhash_hamming_pairs, t_minhash_lsh_pairs, t_chunk_dup_pairs) emit
EDGES, but a dedup decision needs CLUSTERS — "keep one doc per connected
component". Transitive closure is inherently iterative, the one shape in
this engine Catalyst cannot express in a single plan; the idiomatic
Spark answer is a driver-side loop of DataFrame steps (the same structure
GraphX/GraphFrames use internally), NOT a collect()-and-compute fallback:
each iteration is a few distributed shuffles, the driver only sees a
single convergence count.

Cost model at scale: the large-star/small-star kernel rewrites the edge
list itself, so rounds = O(log^2 n) regardless of component diameter —
near-dup clusters are usually shallow, but boilerplate bridges and crawl
loops chain them into long paths, where label propagation would need
O(diameter) rounds. `max_iters` bounds the worst case. `localCheckpoint`
every round truncates the lineage so plan size stays O(1) per iteration
instead of O(iterations).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from boxoffice_spark.functions.numeric import ratio6w


def _canonical(e: DataFrame) -> DataFrame:
    """Orient every edge (big, small), dropping self-loops + duplicates."""
    return (
        e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def connected_components(
    pairs: DataFrame, src: str, dst: str, max_iters: int = 30
) -> DataFrame:
    """(node, cluster_id) for every node in ``pairs``, where cluster_id is
    the smallest node id reachable through the undirected pair graph —
    a deterministic canonical representative per component. Raises if
    ``max_iters`` rounds aren't enough.

    Two-phase LARGE-STAR / SMALL-STAR algorithm (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14). Min-label
    propagation converges in O(diameter) rounds: a 10^6-node chain
    (pathological crawl graphs, long citation threads) needs 10^6
    shuffling rounds. Large-star/small-star rewrites the EDGE LIST itself
    each round — large-star hangs every node's larger neighbors onto the
    minimum of its neighborhood, small-star does the same for smaller
    neighbors — provably converging in O(log^2 n) rounds regardless of
    diameter, with total work O(|E|) per round. At fixpoint the edge list
    IS the answer: a star forest where every node points at its
    component's minimum.

    Each round: two self-aggregating joins (groupBy u + join back on u —
    the second join reuses the groupBy's hash partitioning, so one shuffle
    of E per star step), then an exact symmetric-difference convergence
    check. ``localCheckpoint`` truncates lineage per round.

    Equality with a union-find reference and the DuckDB recursive-CTE
    oracle is tested (tests/test_graph.py, t_dedup_clusters), including a
    200-node chain that converges well inside the default budget."""
    # checkpoint the raw pair list first: nodes and _canonical below each
    # reference it twice — without the cut the upstream pair-generation
    # join would be evaluated four times across the two materializations
    raw = pairs.select(F.col(src).alias("u"), F.col(dst).alias("v")).localCheckpoint()
    # canonicalization drops self-loops; remember every mentioned node so
    # singletons still come back self-labeled
    nodes = (
        raw.select(F.col("u").alias("node"))
        .union(raw.select(F.col("v").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    e = _canonical(raw).localCheckpoint()

    def _with_singletons(labels: DataFrame) -> DataFrame:
        lone = nodes.join(labels, "node", "left_anti")
        return labels.union(lone.select("node", F.col("node").alias("cluster_id")))

    if not e.head(1):
        return _with_singletons(
            e.select(F.col("u").alias("node"), F.col("v").alias("cluster_id"))
        )

    for _ in range(max_iters):
        # -- large-star: for each u, m = min(N(u) ∪ {u}); emit (v, m) for
        # every STRICTLY LARGER neighbor v. Output is canonical already
        # (v > u >= m).
        und = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        lmins = (
            und.groupBy("u")
            .agg(F.min("v").alias("_mv"))
            .select("u", F.least(F.col("_mv"), F.col("u")).alias("m"))
        )
        large = (
            und.filter(F.col("v") > F.col("u"))
            .join(lmins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # -- small-star on the canonical orientation (all v < u): m =
        # min(N<(u) ∪ {u}) = min neighbor; emit (v, m) for the smaller
        # neighbors plus (u, m).
        smins = large.groupBy("u").agg(F.min("v").alias("m"))
        small = _canonical(
            large.join(smins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(smins.select("u", F.col("m").alias("v")))
        ).localCheckpoint()
        # exact convergence: edge sets identical (symmetric difference
        # empty) — a count/hash shortcut could false-converge
        changed = (
            small.exceptAll(e).count() + e.exceptAll(small).count()
        )
        e = small
        if changed == 0:
            roots = e.select(F.col("v").alias("node")).distinct().join(
                e.select(F.col("u").alias("node")), "node", "left_anti"
            )
            return _with_singletons(
                e.select(
                    F.col("u").alias("node"), F.col("v").alias("cluster_id")
                ).union(roots.select("node", F.col("node").alias("cluster_id")))
            )
    raise RuntimeError(f"connected_components did not converge in {max_iters} iterations")


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iters: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list — importance
    weighting for curation (rank sources/domains by co-occurrence
    authority; the harmonic-centrality idea behind Common Crawl's domain
    ranking, as a Spark loop).

    Same driver-loop-of-DataFrames structure as connected_components: per
    round, contributions rank/out_degree flow along edges and re-aggregate
    per destination — one join + one shuffle per iteration, partial-agg
    friendly, lineage truncated per round. FIXED iterations (not
    convergence-tested) so the result is a deterministic function of the
    graph: contribution sums go through decimal (functions/numeric.dsum)
    making every rank bit-reproducible across partitionings — the same
    rule that lets an unrolled chained-CTE DuckDB oracle match
    cell-for-cell. Nodes without in-edges hold the teleport floor
    (1-d)/N; dangling nodes (no out-edges) leak mass — acceptable for
    ranking use; add a dangling-redistribution term if mass conservation
    matters.
    """
    from boxoffice_spark.functions.numeric import funits

    e = (
        edges.select(F.col(src).alias("_src"), F.col(dst).alias("_dst"))
        .distinct()
        .localCheckpoint()
    )
    nodes = (
        e.select(F.col("_src").alias("node"))
        .union(e.select("_dst"))
        .distinct()
        .localCheckpoint()
    )
    n = nodes.count()
    if n == 0:
        # empty edge list → empty ranking (not ZeroDivisionError on 1/n)
        return nodes.select("node", F.lit(0.0).alias("rank"))
    out_deg = e.groupBy("_src").agg(F.count("*").alias("_deg")).localCheckpoint()
    base = (1.0 - damping) / n
    ranks = nodes.select("node", F.lit(1.0 / n).alias("rank"))
    for _ in range(n_iters):
        # r10 legacy conversion: each contribution quantizes to 1e-18
        # integer units via funits (pinned floor-implemented rounding —
        # the old decimal(27,18) cast of the rank/deg double was the
        # refuted build-surface class) and sums exactly in DECIMAL(38,0);
        # one IEEE division recovers the double. Note (ADVICE r10):
        # rank/deg can approach 1.0, where abs(x)*1e18 exceeds funits'
        # 2^53 exactness bound — the quantization there is DETERMINISTIC
        # (identical IEEE ops on both engines, sweep-verified green), not
        # exact HALF_UP; only the SUM of the quantized units is exact.
        contrib = (
            e.join(out_deg, "_src")
            .join(ranks.withColumnRenamed("node", "_src"), "_src")
            .select(
                F.col("_dst").alias("node"),
                funits(F.col("rank") / F.col("_deg"), 18).alias("_cu"),
            )
        )
        inflow = contrib.groupBy("node").agg(
            (
                F.lit(base)
                + F.lit(damping)
                * (
                    F.sum(F.col("_cu").cast("decimal(38,0)")).cast("double")
                    / 1e18
                )
            ).alias("rank")
        )
        # eager=False: lineage still truncates, but the iteration work
        # executes inside the CALLER's action (bench-honest), not at
        # construction time; the chain is sequential so each round still
        # materializes exactly once.
        ranks = (
            nodes.join(inflow, "node", "left")
            .select("node", F.coalesce("rank", F.lit(base)).alias("rank"))
            .localCheckpoint(eager=False)
        )
    return ranks


def incremental_components(
    standing: DataFrame, new_edges: DataFrame, src: str, dst: str
) -> DataFrame:
    """Incrementally maintain a connected-components labeling: merge a
    batch of new edges into ``standing`` (node, cluster_id) WITHOUT
    re-running components over the full pair graph — the daily-ingest
    reality of dedup clustering at 100 TB, where the standing graph is
    the whole corpus and the batch touches a sliver of it.

    Quotient-graph algebra: a components labeling is a contraction that
    preserves connectivity, so merging new edges only requires components
    of the SUPER-GRAPH whose nodes are (old cluster labels + unseen new
    nodes) and whose edges are the new edges mapped through the standing
    labels. That graph has one node per AFFECTED label — orders of
    magnitude smaller than the corpus — and min-id components over it
    yield exactly the labels a full recompute over (old edges + new
    edges) would (min label of a merged component = min node id across
    its members, since every standing label is already its component's
    min). Unaffected standing labels pass through untouched.

    Scale shape: two label-lookup joins keyed on the (small) new-edge
    endpoint set, the iterative part runs on the super-graph only, and
    the final remap is ONE join of ``standing`` against the relabel
    table — affected-clusters-sized, so the planner broadcasts it in the
    steady state and falls back to a shuffle join on a bootstrap merge
    (empty standing), where it is batch-sized. The standing labeling is
    only ever probed and remapped — never re-traversed. Exactness vs the
    full recompute is oracle-checked (t_incremental_dedup_clusters) and
    unit-tested.
    """
    e = new_edges.select(F.col(src).alias("_a"), F.col(dst).alias("_b"))
    la = standing.select(F.col("node").alias("_a"), F.col("cluster_id").alias("_la"))
    lb = standing.select(F.col("node").alias("_b"), F.col("cluster_id").alias("_lb"))
    # checkpoint before the isEmpty probe: the two label-lookup joins
    # would otherwise run twice (once for the probe, once inside the
    # components call / remap plans)
    super_edges = (
        e.join(la, "_a", "left")
        .join(lb, "_b", "left")
        .select(
            F.coalesce("_la", F.col("_a")).alias("sa"),
            F.coalesce("_lb", F.col("_b")).alias("sb"),
        )
        .filter(F.col("sa") != F.col("sb"))
        .distinct()
        .localCheckpoint()
    )
    # nodes first seen in this batch: initial label = own id (remapped
    # below exactly like a standing label)
    fresh = (
        e.select(F.col("_a").alias("node"))
        .union(e.select(F.col("_b").alias("node")))
        .distinct()
        .join(standing.select("node"), "node", "left_anti")
        .select("node", F.col("node").alias("cluster_id"))
    )
    if super_edges.isEmpty():
        # nothing merges: standing labels survive; batch-only nodes (all
        # their pairs were intra-component or self-loops) label themselves
        return standing.unionByName(fresh)

    # the super-graph is usually shallow, but a batch can chain many
    # standing clusters (A-B, B-C, ... through shared near-dups) — observed
    # at sf1, where the bootstrap merge IS the whole pair graph; the star
    # kernel's O(log^2 n) rounds hold regardless of depth.
    relabel = connected_components(super_edges, "sa", "sb").select(
        F.col("node").alias("_old_label"), F.col("cluster_id").alias("_new_label")
    )
    # remap rows whose label merged; labels not in the super-graph pass
    # through. No broadcast hint: relabel is affected-clusters-sized —
    # usually tiny, but unbounded on a bootstrap merge (empty standing) —
    # so the planner/AQE picks broadcast only when it actually fits.
    return standing.unionByName(fresh).join(
        relabel,
        F.col("cluster_id") == relabel._old_label,
        "left",
    ).select(
        "node",
        F.coalesce("_new_label", F.col("cluster_id")).alias("cluster_id"),
    )


def triangle_stats(
    edges: DataFrame, src: str = "u", dst: str = "v", _scope: str = "triangle_stats"
) -> DataFrame:
    """Exact triangle census of an undirected graph — one row:
    (n_nodes, n_edges, n_wedges, n_triangles, global_clustering), where
    global_clustering = 3 * triangles / wedges (transitivity).

    ``edges`` must be the canonical undirected edge set: one row per
    edge with src < dst, no self-loops (the caller dedups; see
    g_triangle_census for the co-occurrence edge builder).

    Physical strategy is the degree-ordered orientation of Suri &
    Vassilvitskii, "Counting triangles and the curse of the last
    reducer" (WWW 2011): orient every edge from the endpoint with the
    smaller (degree, id) to the larger, then count each triangle at its
    unique source edge. A naive wedge enumeration explodes at hub nodes
    (a degree-d node owns d²/2 wedges — the "last reducer" that kills
    the job at 100× scale); orientation bounds every node's out-degree
    by O(sqrt(m)), independent of hub size.

    All joins are equi-joins on node keys (AQE-splittable); degree is one
    partial-aggregated groupBy; no driver-side iteration — a single
    Catalyst plan. The oracle's simple 3-way self-join form (id-ordered,
    no orientation) is equivalent because each triangle has exactly one
    id-ordered edge listing; orientation only changes where triangles
    are counted, never which triangles exist.

    Orientation key (r11 optimization): the (degree, id) order is packed
    into ONE BIGINT — ``least(d, 2^22) * 2^40 + id`` — instead of a
    ``struct(d, id)``: a primitive long compare codegens to a single
    instruction where the struct path goes through the interpreted
    row-comparator. Correctness needs only a strict total order
    consistent across both orientation uses — capping the degree
    component at 2^22 keeps the pack inside 63 bits and only reorders
    nodes ABOVE the cap among themselves (ties fall to id, still
    injective), which changes where triangles are COUNTED, never which
    triangles exist. Ids must fit 40 bits; that is asserted per node with
    a loud ``raise_error`` (the a_cramers_v guard pattern) rather than
    silently wrapping — on an id space past 2^40, widen the pack split or
    revert to the struct key.

    Counting tail (r11 optimization): instead of MATERIALIZING every
    wedge as a join row (o1 ⋈ o2 on the low end, ~sum C(outdeg,2) rows —
    41 M at sf0.1 — then a semi-join against the closing edges), the
    out-adjacency is grouped into one array per node and each oriented
    edge (s, t) counts ``size(array_intersect(N+(s), N+(t)))`` — the
    classic edge-iterator formulation. Equivalent: in the orientation
    DAG every triangle has a unique source x and sink z (x->y, x->z,
    y->z), and w ∈ N+(s) ∩ N+(t) iff (s, t, w) is exactly that triangle
    listed at its source edge (s=x, t=y, w=z) — counted once, nowhere
    else. Volume drops from O(sum outdeg²) JOIN ROWS to O(|E|) rows
    carrying O(outdeg)-sized arrays (the intersect itself still touches
    sum outdeg² elements, but as tight per-row set probes, not join
    machinery — interleaved A/B at sf0.1, same session, identical
    1,884,488 triangles: wedge-join 3.65 s vs intersect 1.83 s min; the
    struct-keyed r10 form read 4.34 s). At 100 TB the same shift is what
    keeps the census alive: a hub's C(outdeg,2) wedge rows become one
    outdeg-long array row, and the two adjacency joins stay equi-joins
    on node ids (AQE-splittable).
    """
    from boxoffice_spark.functions.caching import scoped_persist

    # ``e`` feeds deg, n_edges and the orientation join; without the persist
    # the caller's edge-builder (join + distinct at g_triangle_census) is
    # re-evaluated once per consumer (the round-3 self-join lesson: exchange
    # reuse needs byte-identical canonical subplans and AQE routinely breaks
    # it). Bounded: one live handle per scope (scoped_persist).
    e = scoped_persist(
        edges.select(F.col(src).alias("_u"), F.col(dst).alias("_v")),
        f"{_scope}.e",
    )
    deg = (
        e.select(F.col("_u").alias("_n"))
        .unionAll(e.select(F.col("_v").alias("_n")))
        .groupBy("_n")
        .agg(F.count("*").alias("_d"))
    )
    n_nodes = deg.select(F.count("*").alias("n_nodes"))
    n_edges = e.select(F.count("*").alias("n_edges"))
    # wedges (paths of length 2, open or closed) = sum_n C(deg, 2)
    n_wedges = deg.select(
        F.sum(F.expr("_d * (_d - 1) / 2")).cast("long").alias("n_wedges")
    )
    # orient by (degree, id), packed into one guarded BIGINT (docstring)
    _key = F.when(
        (F.col("_n") >= 0) & (F.col("_n") < F.lit(1 << 40)),
        F.least(F.col("_d"), F.lit(1 << 22)) * F.lit(1 << 40) + F.col("_n"),
    ).otherwise(
        F.raise_error(
            F.lit(
                "triangle_stats: node id outside [0, 2^40) — the packed "
                "orientation key would wrap; widen the pack split or use "
                "a struct(d, id) key for this id space"
            )
        )
    )
    du = deg.select(F.col("_n").alias("_u"), _key.alias("_ku"))
    dv = deg.select(F.col("_n").alias("_v"), _key.alias("_kv"))
    # ``oriented`` feeds TWO consumers (the adjacency-array build and the
    # per-edge intersect probe); persisting it cuts the census to one
    # evaluation of the degree joins (the round-4 lesson: exchange reuse
    # needs byte-identical canonical subplans and AQE routinely breaks it).
    oriented = scoped_persist(
        e.join(du, "_u")
        .join(dv, "_v")
        .select(
            F.when(F.col("_ku") < F.col("_kv"), F.col("_u")).otherwise(F.col("_v")).alias("_s"),
            F.when(F.col("_ku") < F.col("_kv"), F.col("_v")).otherwise(F.col("_u")).alias("_t"),
        ),
        f"{_scope}.oriented",
    )
    # out-adjacency as one array per node: bounded by the orientation's
    # O(sqrt(m)) out-degree — the same bound the former wedge join relied
    # on, but paid as ONE array row instead of C(outdeg,2) wedge rows.
    # No sort: array_intersect's size is order-independent.
    adj = oriented.groupBy("_s").agg(F.collect_list("_t").alias("_nb"))
    a_u = adj.select(F.col("_s").alias("_ju"), F.col("_nb").alias("_nbu"))
    a_v = adj.select(F.col("_s").alias("_jv"), F.col("_nb").alias("_nbv"))
    # inner joins: an edge whose endpoint has no out-neighbors closes no
    # triangle and contributes 0 either way
    n_tri = (
        oriented.join(a_u, oriented["_s"] == a_u["_ju"])
        .join(a_v, oriented["_t"] == a_v["_jv"])
        .select(F.size(F.array_intersect("_nbu", "_nbv")).alias("_ct"))
        # coalesce: sum over zero edges is NULL where the former wedge
        # count(*) was 0 — a triangle-free/empty graph must stay 0
        .agg(F.coalesce(F.sum("_ct"), F.lit(0)).cast("long").alias("n_triangles"))
    )
    return (
        n_nodes.crossJoin(n_edges)
        .crossJoin(n_wedges)
        .crossJoin(n_tri)
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            # r10 legacy conversion: exact integer ratio via ratio6w's
            # 128-bit HALF_UP (3*triangles can exceed ratio6's BIGINT
            # headroom at corpus scale; round(double, 6) is build surface).
            ratio6w("3 * n_triangles", "n_wedges").alias(
                "global_clustering"
            ),
        )
    )


def triangle_count_doulion(
    edges: DataFrame,
    p: float = 0.25,
    seed: int = 42,
    src: str = "u",
    dst: str = "v",
) -> DataFrame:
    """Approximate triangle count by deterministic edge sparsification —
    Tsourakakis et al., "DOULION: Counting Triangles in Massive Graphs
    with a Coin" (KDD 2009): keep each edge independently with
    probability ``p``, run the EXACT census on the sparsified graph
    (same degree-ordered orientation — triangle_stats), and scale the
    sampled count by 1/p³ (a triangle survives iff all three edges do).
    Unbiased; variance shrinks as p³·T grows, so at 100 TB even p=0.1
    leaves millions of sampled triangles and a sub-percent relative
    error, while the wedge join runs on ~p·|E| edges (wedge volume drops
    ~p², the quadratic term that dominates the exact census).

    The "coin" here is a hash, not a RNG: an edge is kept iff
    xxhash64(u, v, seed) lands in the keep range. Same input -> same
    sample -> same estimate, so the estimator is reproducible across
    runs, resumable, and testable (tests/test_graph_ops.py asserts
    relative error vs the exact census). Rows-only by construction (SQL
    has no xxhash64); the EXACT tier (triangle_stats) carries the
    DuckDB oracle.

    One row: (p, n_edges_sampled, n_triangles_sampled, est_triangles).
    """
    if not 0.0 < p <= 1.0:
        raise ValueError(f"triangle_count_doulion: p must be in (0, 1], got {p}")
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    # deterministic coin: uniform in [0, 2^63) via abs(xxhash64), with an
    # explicit h >= 0 lower bound — abs(Long.MIN_VALUE) stays negative in
    # two's complement, and without the bound that one pathological hash
    # (probability 2^-64 per edge) would always pass the <= threshold test
    h = F.abs(F.xxhash64(F.col("u"), F.col("v"), F.lit(seed)))
    keep = (h >= F.lit(0)) & (
        h
        <= F.lit(min(int(p * float(2**63)), 2**63 - 1) - 1 if p < 1.0 else 2**63 - 1)
    )
    sampled = e.filter(keep)
    stats = triangle_stats(sampled, "u", "v", _scope="triangle_stats.doulion")
    return stats.select(
        F.lit(float(p)).alias("p"),
        F.col("n_edges").alias("n_edges_sampled"),
        F.col("n_triangles").alias("n_triangles_sampled"),
        F.round(F.col("n_triangles") / F.lit(float(p) ** 3), 2).alias(
            "est_triangles"
        ),
    )


def link_prediction_scores(
    edges: DataFrame,
    src: str = "u",
    dst: str = "v",
    max_center_degree: int = 64,
    k: int = 30,
) -> DataFrame:
    """Neighborhood-overlap link prediction over an undirected graph:
    for every NON-adjacent pair with at least one common neighbor, the
    common-neighbor count and the Resource-Allocation index
    (Zhou/Lü/Zhang 2009: sum over common neighbors w of 1/deg(w) — the
    down-weighted variant that beats raw CN on real graphs), top-``k``
    pairs. ``edges`` must be canonical (src < dst, distinct).

    RA instead of Adamic-Adar (1/ln deg) deliberately: 1/deg is a single
    IEEE division — bit-identical across engines — while ln is libm-
    dependent, so RA keeps the query cell-exact against the DuckDB
    oracle with no rounding hedge.

    Scale shape: wedge generation from a center node w emits deg(w)²
    pairs — the same last-reducer blowup triangle_stats orients away.
    Orientation doesn't apply here (a wedge must be counted at its
    center, wherever that center ranks), so the bound is
    ``max_center_degree``: hub centers are excluded from wedge
    generation, which is also the right SEMANTIC call — a neighbor
    shared via a hub carries RA weight 1/deg ≈ 0 and CN counts via hubs
    are pure popularity noise (the reason AA/RA exist). The cap is
    mirrored exactly in the oracle, so the checked path and the scale
    path are the same plan. Total wedge rows ≤ cap × |edges at centers|.

    Top-k is orderBy().limit() — TakeOrderedAndProject, per-partition
    heaps, no global sort; the (cn, ra, u, v) sort key is a total order,
    so the k-set is deterministic.

    Wedge generation (r11 optimization): the capped centers' adjacency
    rows are grouped into one SORTED ARRAY per center (bounded by
    ``max_center_degree``, so collect_list is safe at any corpus scale)
    and the ordered pairs are exploded map-side from the array, instead
    of the former a1-join-a2 self-join on the center key. Same pair set
    (sorted distinct neighbors, _pa < _pb by construction), one exchange
    of the capped adjacency instead of a two-sided self-join shuffle +
    broadcast — measured at sf0.1 the post-edge-build path dropped
    4.03 s -> 2.53 s with identical output.
    """
    from boxoffice_spark.functions.caching import scoped_persist
    from boxoffice_spark.functions.numeric import fround, units_div

    e = scoped_persist(
        edges.select(F.col(src).alias("_u"), F.col(dst).alias("_v")),
        "link_prediction.e",
    )
    adj = e.select(F.col("_u").alias("_c"), F.col("_v").alias("_x")).unionAll(
        e.select(F.col("_v").alias("_c"), F.col("_u").alias("_x"))
    )
    deg = adj.groupBy("_c").agg(F.count("*").alias("_d"))
    centers = deg.filter(F.col("_d") <= max_center_degree)
    # r10 legacy conversion: 1/d quantizes to EXACT 1e-15 integer units
    # (units_div's BIGINT HALF_UP) so the RA sum is an exact integer —
    # no decimal cast of an off-grid double anywhere; the display cell
    # pins its 12dp grid via fround. The per-pair term COUNT is the
    # number of shared sub-cap centers (max_center_degree does NOT bound
    # it), so the sum runs through DECIMAL(38,0) — exact far past the
    # ~9.2e3-term BIGINT wrap point of 1e15-unit terms, mirroring the
    # oracle's HUGEINT accumulation (ADVICE r10 fix).
    arr = (
        adj.join(centers, "_c")
        .groupBy("_c")
        .agg(
            F.sort_array(F.collect_list("_x")).alias("_xs"),
            F.first("_d").alias("_d"),
        )
    )
    # ordered neighbor pairs, exploded from the (<= cap)-sized array:
    # _pa < _pb holds because _xs is sorted and its members are distinct
    # (one adjacency row per canonical edge endpoint)
    pairs = arr.select(
        units_div("1", "_d", 15).alias("_inv_u"),
        F.explode(
            F.expr(
                "flatten(transform(_xs, (x, i) -> "
                "transform(slice(_xs, i + 2, size(_xs) - i - 1), "
                "y -> struct(x as _pa, y as _pb))))"
            )
        ).alias("_pr"),
    )
    scores = (
        pairs.select("_pr._pa", "_pr._pb", "_inv_u")
        .groupBy("_pa", "_pb")
        .agg(
            F.count("*").alias("common_neighbors"),
            fround(
                F.sum(F.col("_inv_u").cast("decimal(38,0)")).cast("double")
                / 1e15,
                12,
            ).alias("ra_score"),
        )
    )
    non_adjacent = scores.join(
        e,
        (scores._pa == e._u) & (scores._pb == e._v),
        "left_anti",
    )
    return (
        non_adjacent.select(
            F.col("_pa").alias("node_a"),
            F.col("_pb").alias("node_b"),
            "common_neighbors",
            "ra_score",
        )
        .orderBy(
            F.desc("common_neighbors"), F.desc("ra_score"), "node_a", "node_b"
        )
        .limit(k)
    )
