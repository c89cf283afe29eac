"""Stage 3 — transitive clustering: connected components via the
alternating large-star / small-star algorithm (Kiveris et al., "CC in
MapReduce and Beyond"), expressed entirely as DataFrame groupBy/join
rounds.

The reference never materializes transitive clusters — its
mention-mention stage stops at pairwise affinity scores
(dataset.py:335-388); the north rule mandates the closure.

Node ids are strings; min() is lexicographic. The pipeline exploits
this: entity nodes are prefixed "e|" and mention nodes "m|", so any
component containing an entity roots at the (min) entity — cluster ids
pin to CUIs for free, and components with no entity root at a mention
id which the caller maps to NIL_<id>.

Scale notes:
- converges in O(log^2 n) rounds; ER match graphs are block-local so
  3-5 rounds in practice (the iteration count is returned for metrics).
- each round is one shuffle per star step on the node key; AQE handles
  residual skew; ``localCheckpoint`` after each round truncates lineage
  so plans don't grow with iteration count (standard Spark idiom for
  iterative algorithms).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F
from ..session import pin

# Star rounds before connected_components gives up. CC converges in
# O(log^2 n) rounds and block-local ER graphs take 3-5, so a run that
# has not reached its fixpoint by round 25 is a fault, not a big input.
MAX_ROUNDS = 25


def _canon(e: DataFrame) -> DataFrame:
    """Canonical undirected edge orientation (src < dst), dedup, no
    self-loops."""
    return (
        e.select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
    )


def _large_star(e: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to min(N(u) ∪ {u}).

    Partition-window min, not groupBy+join: the whole-partition
    aggregate over an unordered window is ONE exchange on the node key
    (plus a local sort) where the agg-then-self-join form pays the agg
    exchange AND the join exchange — at 10^12-edge scale the saved
    network pass per iteration compounds over the O(log^2) rounds."""
    nbrs = e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    w = Window.partitionBy("src")
    m = F.least(F.min("dst").over(w), F.col("src"))
    return (
        nbrs.withColumn("m", m)
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Orient edges larger->smaller; connect all smaller neighbors and
    u itself to the minimum. Same one-exchange window form as
    _large_star; the duplicate (u, m) rows the window emits (one per
    edge instead of one per u) are collapsed by the _canon dedup that
    follows every round anyway."""
    o = e.select(
        F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
    ).filter(F.col("u") != F.col("v"))
    j = o.withColumn("m", F.min("v").over(Window.partitionBy("u")))
    # both outputs from ONE window pass: a unionByName of two selects
    # over j would plan the window (and its exchange) twice
    return j.select(
        F.explode(
            F.array(
                F.struct(F.col("v").alias("src"), F.col("m").alias("dst")),
                F.struct(F.col("u").alias("src"), F.col("m").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")


def _digest(e: DataFrame) -> tuple[int, int]:
    # decimal sum: ANSI mode (Spark 4 default) would overflow a long sum
    row = e.agg(
        F.count("*").alias("c"),
        F.coalesce(
            F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")), F.lit(0)
        ).alias("h"),
    ).collect()[0]
    return int(row["c"]), int(row["h"])


def connected_components(
    edges: DataFrame,
    nodes: DataFrame | None = None,
) -> tuple[DataFrame, int]:
    """edges(src string, dst string) -> (assignments(node, cluster_id),
    iterations).

    ``nodes`` (single column ``node``) optionally adds isolated nodes,
    which become singleton clusters (cluster_id = node).

    Convergence is checked after every star round: a star round (3
    exchanges over the edge set) costs far more than a digest's
    O(1)-row driver action, so checking less often only adds rounds.
    A fixpoint not confirmed within :data:`MAX_ROUNDS` rounds raises
    ``RuntimeError``: the edge set at that point is not a star forest,
    so reading clusters off it would be wrong.
    """
    # lazy checkpoints: the digest action materializes the iteration's
    # edge set AND computes the convergence digest in one job
    e = pin(_canon(edges))
    prev = None
    for iters in range(1, MAX_ROUNDS + 1):
        e = pin(_canon(_small_star(_large_star(e))))
        d = _digest(e)
        if d == prev:
            break
        prev = d
    else:
        raise RuntimeError(
            f"connected_components: no fixpoint after {MAX_ROUNDS} star "
            "rounds (MAX_ROUNDS)"
        )
    # post-convergence the canonical edge set is a star forest with the
    # root (component minimum) on the src side: (root, member)
    assign = (
        e.select(F.col("dst").alias("node"), F.col("src").alias("cluster_id"))
        .unionByName(e.select(F.col("src").alias("node"), F.col("src").alias("cluster_id")))
        .groupBy("node")
        .agg(F.min("cluster_id").alias("cluster_id"))
    )
    if nodes is not None:
        singles = nodes.select("node").join(assign.select("node"), "node", "left_anti")
        assign = assign.unionByName(
            singles.select("node", F.col("node").alias("cluster_id"))
        )
    return assign, iters


def merge_into_clusters(
    assignments: DataFrame,
    new_edges: DataFrame,
    new_nodes: DataFrame | None = None,
) -> tuple[DataFrame, int]:
    """Incremental CC maintenance: fold a SNAPSHOT of new match edges
    (and optionally new isolated nodes) into persisted ``assignments``
    (node, cluster_id) without re-clustering the corpus — the ER-side
    analogue of ``incremental_dedup``/``dedup_media_batch``. Exactly
    equivalent to ``connected_components`` over (old edges ∪ new
    edges): each existing cluster_id is by construction the min node
    of its component, so contracting every new-edge endpoint to its
    current cluster representative (new nodes represent themselves)
    and running CC over the CONTRACTED graph yields the merged
    component minima; folding that root map back is a pure relabel.

    Scale shape: the contracted graph is O(|new edges|) regardless of
    corpus size, so the iterative CC runs on snapshot-sized data, and
    EVERY touch of the corpus-sized state is map-only: one broadcast
    semi-join probe pulls the snapshot-touched rows out of
    ``assignments`` (the state never sits on the un-broadcastable side
    of an outer/anti join), and the corpus-side relabel is ONE
    broadcast-hash join on cluster_id over the assignments scan (the
    root map holds only AFFECTED clusters; with assignments in an
    Iceberg table the same map drives a MERGE that rewrites only
    matching rows). Intra-cluster new edges contract to self-loops and
    cost nothing.

    Returns (updated assignments incl. new nodes, contracted-CC
    iterations).
    """
    e = _canon(new_edges)
    ends = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    probe = (
        ends
        if new_nodes is None
        else ends.unionByName(new_nodes.select("node")).distinct()
    )
    # ONE map-side scan of the corpus state: the snapshot-touched rows.
    # probe is snapshot-sized, so the semi-join broadcasts it and the
    # state is only SCANNED; `hit` is snapshot-sized from here on and
    # materialized once (lazy localCheckpoint) for its three consumers.
    hit = pin(
        assignments.join(F.broadcast(probe), "node", "left_semi")
    )
    hit_nodes = hit.select("node")
    rep = ends.join(F.broadcast(hit), "node", "left").select(
        "node", F.coalesce("cluster_id", F.col("node")).alias("rep")
    )
    contracted = (
        e.join(rep.select(F.col("node").alias("src"), F.col("rep").alias("sr")), "src")
        .join(rep.select(F.col("node").alias("dst"), F.col("rep").alias("dr")), "dst")
        .select(F.col("sr").alias("src"), F.col("dr").alias("dst"))
    )
    merged, iters = connected_components(contracted)
    # (old cluster root -> merged component root), affected clusters only
    remap = merged.select(
        F.col("node").alias("__old"), F.col("cluster_id").alias("__new")
    )
    updated = assignments.join(
        F.broadcast(remap), assignments["cluster_id"] == F.col("__old"), "left"
    ).select(
        "node", F.coalesce("__new", F.col("cluster_id")).alias("cluster_id")
    )
    # x in assignments <=> x in hit for every x in probe (= ends and
    # new_nodes), so every membership test below runs against the
    # snapshot-sized `hit`/`ends`, never the corpus-sized frames
    arriving = rep.join(F.broadcast(hit_nodes), "node", "left_anti").join(
        F.broadcast(remap), rep["rep"] == F.col("__old"), "left"
    ).select("node", F.coalesce("__new", F.col("rep")).alias("cluster_id"))
    updated = updated.unionByName(arriving)
    if new_nodes is not None:
        # updated's node set is assignments.nodes ∪ ends
        singles = (
            new_nodes.select("node")
            .join(F.broadcast(ends), "node", "left_anti")
            .join(F.broadcast(hit_nodes), "node", "left_anti")
        )
        updated = updated.unionByName(
            singles.select("node", F.col("node").alias("cluster_id"))
        )
    return updated, iters


def retract_from_clusters(
    assignments: DataFrame,
    edges: DataFrame,
    retracted: DataFrame,
) -> tuple[DataFrame, int]:
    """The dual of :func:`merge_into_clusters`: remove ``retracted``
    match edges and SPLIT only the clusters they touch — the state
    update a clerical-review "not a match" verdict
    (fs_linkage.clerical_review_queue) actually requires. Exactly
    equivalent to ``connected_components(edges \\ retracted,
    nodes=assignments.nodes)`` under the state invariant that
    ``assignments`` is the CC closure of ``edges`` (every edge is
    intra-cluster) — deletion, unlike insertion, cannot be folded on a
    contracted graph (removing a bridge needs the cluster's OTHER
    edges to decide whether the component stays connected), so the
    affected clusters are re-clustered from their surviving edges and
    everything else is untouched.

    Inputs: ``assignments`` (node, cluster_id) corpus-sized state;
    ``edges`` (src, dst) the persisted surviving match-edge table
    (corpus-sized — an ER deployment keeps it, it is stage-2's scored
    output above threshold); ``retracted`` (src, dst) the review batch
    (small). Retractions of non-existent edges are safe no-ops.

    Scale shape — every corpus-sized touch is a scan + broadcast join:
      1. affected clusters: ONE broadcast-semi probe of ``assignments``
         by the retracted endpoints, then the distinct cluster ids
         (review-batch-sized both).
      2. affected membership: ONE broadcast-semi scan of
         ``assignments`` on cluster_id — proportional to the affected
         clusters' total size, the problem's intrinsic cost.
      3. affected edges: ONE broadcast-semi scan of ``edges`` on src
         (canonical intra-cluster edges have both endpoints in the
         cluster, so src membership suffices); retracted rows drop via
         a broadcast anti-join on (src, dst).
      4. re-cluster: iterative CC over the affected SUBGRAPH only, with
         the affected nodes passed as ``nodes=`` so members that end up
         edgeless become singletons.
      5. splice: untouched rows survive a broadcast ANTI scan of
         ``assignments`` on cluster_id; the re-clustered rows union in.
    New cluster ids are again component minima, so the global
    min-node scheme (and the "e|" entity-pinning convention) survives.

    Returns (updated assignments, CC iterations on the subgraph).
    """
    r = pin(_canon(retracted))
    r_ends = (
        r.select(F.col("src").alias("node"))
        .unionByName(r.select(F.col("dst").alias("node")))
        .distinct()
    )
    aff = pin(
        assignments.join(F.broadcast(r_ends), "node", "left_semi")
        .select("cluster_id")
        .distinct()
    )
    members = assignments.join(F.broadcast(aff), "cluster_id", "left_semi")
    aff_nodes = pin(members.select("node"))
    sub = (
        _canon(edges)
        .join(aff_nodes.withColumnRenamed("node", "src"), "src", "left_semi")
        .join(F.broadcast(r), ["src", "dst"], "left_anti")
    )
    relinked, iters = connected_components(sub, nodes=aff_nodes)
    # the key-column join puts cluster_id first: restore the state's
    # canonical (node, cluster_id) order so positional consumers
    # (createDataFrame with a DDL schema, parquet appends) stay sound
    kept = assignments.join(F.broadcast(aff), "cluster_id", "left_anti").select(
        "node", "cluster_id"
    )
    return kept.unionByName(relinked), iters


def cluster_size_histogram(assignments: DataFrame) -> DataFrame:
    """Cluster-size histogram over a (node, cluster_id) assignment —
    the shape report an ER run publishes per snapshot (mega-cluster
    detection: a runaway transitive closure shows up here first,
    long before downstream joins melt down).

    Output: (cluster_size, n_clusters), singletons included when the
    assignment includes them (connected_components with ``nodes=``
    assigns every node). Two cascaded map-side-partial groupBys; the
    second's domain is the number of DISTINCT sizes — tiny at any
    scale.
    """
    sizes = assignments.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count("*").cast("bigint").alias("n_clusters"))
        .select(F.col("cluster_size").cast("bigint").alias("cluster_size"), "n_clusters")
    )


def edge_triangle_support(edges: DataFrame) -> DataFrame:
    """Per-edge triangle support over an undirected match graph ->
    (src, dst, support) with src < dst canonical and ``support`` = the
    number of triangles the edge participates in. support = 0 marks a
    *bridge-like* edge: the match survives on one pairwise score that
    no third record corroborates — the signature of the chain merges
    that pollute transitive closures (see match_graph_diagnostics).

    Degree-oriented wedge join (the distributed triangle count of Suri
    & Vassilvitskii, WWW'11): every edge is directed from its lower
    (degree, id) endpoint to the higher, so a triangle {x,y,z} ordered
    by (degree, id) is generated exactly once — as the wedge
    (x→y, x→z) closed by the directed edge y→z. Under this orientation
    out-degree is O(sqrt(m)) even at a hub vertex, so wedge volume is
    Σ d_out(v)^2 ≤ m^{3/2} worst case and block-local in practice —
    never the d(hub)^2 blow-up an id-ordered orientation suffers when
    a mega-block's hub lands on the low side. Cost: one degree
    aggregate, one wedge self-join, one closing join, one support
    groupBy — all key-partitioned, nothing driver-side. ``support`` is
    exact.
    """
    e = pin(_canon(edges))
    deg = (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    ed = e.join(
        deg.select(F.col("node").alias("src"), F.col("deg").alias("ds")), "src"
    ).join(deg.select(F.col("node").alias("dst"), F.col("deg").alias("dd")), "dst")
    # direct lower (deg, id) -> higher; carry the head's order key so
    # wedge endpoints can be compared without a global rank pass
    lo_first = F.struct(F.col("ds"), F.col("src")) < F.struct(F.col("dd"), F.col("dst"))
    o = pin(ed.select(
        F.when(lo_first, F.col("src")).otherwise(F.col("dst")).alias("u"),
        F.when(lo_first, F.col("dst")).otherwise(F.col("src")).alias("v"),
        F.when(lo_first, F.struct(F.col("dd").alias("d"), F.col("dst").alias("n")))
        .otherwise(F.struct(F.col("ds").alias("d"), F.col("src").alias("n")))
        .alias("vkey"),
    ))
    w1 = o.select("u", F.col("v").alias("y"), F.col("vkey").alias("ykey"))
    w2 = o.select("u", F.col("v").alias("z"), F.col("vkey").alias("zkey"))
    wedges = (
        w1.join(w2, "u")
        .filter(F.col("ykey") < F.col("zkey"))
        .select("u", "y", "z")
    )
    tri = wedges.join(
        o.select(F.col("u").alias("y"), F.col("v").alias("z")), ["y", "z"]
    )
    tri_edges = tri.select(
        F.explode(
            F.array(
                F.struct(F.least("u", "y").alias("src"), F.greatest("u", "y").alias("dst")),
                F.struct(F.least("u", "z").alias("src"), F.greatest("u", "z").alias("dst")),
                F.struct(F.least("y", "z").alias("src"), F.greatest("y", "z").alias("dst")),
            )
        ).alias("t")
    ).select("t.src", "t.dst")
    supp = tri_edges.groupBy("src", "dst").agg(F.count("*").alias("support"))
    return e.join(supp, ["src", "dst"], "left").select(
        "src", "dst", F.coalesce("support", F.lit(0)).cast("bigint").alias("support")
    )


def match_graph_diagnostics(edges: DataFrame, assignments: DataFrame) -> DataFrame:
    """Per-cluster shape QA for a transitive closure — the label-free
    audit a curation run publishes before ACCEPTING a clustering:
    for every cluster with at least one edge ->
    (cluster_id, n_nodes, n_edges, n_triangles, n_bridge_edges,
    density). A cluster whose edges are mostly bridges
    (n_bridge_edges ≈ n_edges, n_triangles = 0) was assembled by
    uncorroborated pairwise chains — exactly the merges a reviewer
    should see first (complements the label-dependent cluster_impurity
    and cluster_eval queries, which need gold ids this one doesn't).
    density = 2E / (n(n-1)); a near-clique duplicates cluster reads
    ~1.0, a chain ~2/n.

    Cost on top of edge_triangle_support: one join of per-edge support
    to the src endpoint's cluster id (src and dst share a cluster by
    construction of CC — one shuffle on the node key, no broadcast
    assumption since assignments is corpus-sized) and two map-side-
    partial groupBys.
    """
    supp = edge_triangle_support(edges)
    lab = assignments.select(F.col("node").alias("src"), "cluster_id")
    per_edge = supp.join(lab, "src")
    agg = per_edge.groupBy("cluster_id").agg(
        F.count("*").cast("bigint").alias("n_edges"),
        (F.sum("support") / 3).cast("bigint").alias("n_triangles"),
        F.sum(F.when(F.col("support") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_bridge_edges"),
    )
    sizes = assignments.groupBy("cluster_id").agg(
        F.count("*").cast("bigint").alias("n_nodes")
    )
    return agg.join(sizes, "cluster_id").select(
        "cluster_id",
        "n_nodes",
        "n_edges",
        "n_triangles",
        "n_bridge_edges",
        F.round(
            2.0 * F.col("n_edges") / (F.col("n_nodes") * (F.col("n_nodes") - 1)), 6
        ).alias("density"),
    )


def closure_sensitivity(
    scored_edges: DataFrame, thresholds: list[float]
) -> list[tuple[float, int, int, int, int]]:
    """Threshold-sensitivity sweep for the transitive closure — the
    knob-tuning report an ER run publishes before fixing its match
    threshold: for each candidate threshold t (descending) ->
    (threshold, n_edges, n_nodes, n_clusters, max_cluster_size) over
    the closure of edges with score >= t. A sharp jump in
    max_cluster_size between adjacent thresholds is the mega-cluster
    cliff; the chosen t should sit above it.

    Input: (src, dst, score). Returns plain rows (the report is
    O(|thresholds|) — the caller turns it into a DataFrame; see
    q_closure_sensitivity).

    ONE full CC runs, at the strictest threshold only. Each lower
    threshold admits its score band [t, prev_t) and folds it into the
    previous assignment via merge_into_clusters — contracted-graph CC
    over O(band) edges, with every corpus-state touch map-only — so
    sweeping k thresholds costs one closure plus k-1 snapshot folds,
    not k closures. Per-threshold edge counts come from one
    conditional-sum pass over the scored edges; each fold ends in one
    O(1)-row digest (same driver-barrier budget as the CC loop
    itself).
    """
    if not thresholds:
        raise ValueError("thresholds must be non-empty")
    ts = sorted(set(float(t) for t in thresholds), reverse=True)
    # _canon would drop the score column, so canonicalize inline:
    # undirected orientation, no self-loops, duplicate pairs collapse
    # to their best score, everything below min(ts) pruned up front
    e = pin(
        scored_edges.select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
            F.col("score").cast("double").alias("score"),
        )
        .filter((F.col("src") != F.col("dst")) & (F.col("score") >= min(ts)))
        .groupBy("src", "dst")
        .agg(F.max("score").alias("score"))
    )
    # per-threshold admitted-edge counts: ONE pass, k conditional sums
    counts = e.agg(
        *[
            F.sum(F.when(F.col("score") >= t, 1).otherwise(0))
            .cast("bigint")
            .alias(f"c{i}")
            for i, t in enumerate(ts)
        ]
    ).collect()[0]
    out: list[tuple[float, int, int, int, int]] = []
    assign = None
    prev_t = None
    for i, t in enumerate(ts):
        if assign is None:
            band = e.filter(F.col("score") >= t).select("src", "dst")
            assign, _ = connected_components(band)
        else:
            band = e.filter(
                (F.col("score") >= t) & (F.col("score") < prev_t)
            ).select("src", "dst")
            assign, _ = merge_into_clusters(assign, band)
        assign = pin(assign)
        stats = (
            assign.groupBy("cluster_id")
            .agg(F.count("*").alias("sz"))
            .agg(
                F.count("*").cast("bigint").alias("n_clusters"),
                F.coalesce(F.sum("sz"), F.lit(0)).cast("bigint").alias("n_nodes"),
                F.coalesce(F.max("sz"), F.lit(0)).cast("bigint").alias("mx"),
            )
            .collect()[0]
        )
        out.append(
            (t, int(counts[f"c{i}"]), int(stats["n_nodes"]), int(stats["n_clusters"]), int(stats["mx"]))
        )
        prev_t = t
    return out
