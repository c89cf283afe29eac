"""Post-scoring assignment constraints: 1:1 unique-mapping matching
and bridge-edge cluster repair.

The reference assigns every mention its argmax entity independently
(dataset.py:335-388 stops at per-mention top-1 affinity), which
permits unbounded many-to-one collisions; production record linkage
between two deduplicated sources (a feed vs a master table) enforces
an exclusivity constraint instead — each left record matches at most
one right record and vice versa. ``one_to_one_match`` is that
constraint as a distributed operator; ``repair_bridged_clusters``
closes the loop on the match-graph QA family by turning the
bridge-edge *diagnostic* (``edge_triangle_support``) into the
corresponding *repair transform*.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..session import pin
from .clustering import connected_components, edge_triangle_support


def one_to_one_match(
    scored_pairs: DataFrame,
    left_col: str = "left_id",
    right_col: str = "right_id",
    score_col: str = "score",
    max_rounds: int = 8,
) -> tuple[DataFrame, int]:
    """Unique-mapping 1:1 assignment over scored candidate pairs ->
    (matches(left_id, right_id, score, round), rounds_run).

    Locally-dominant parallel greedy matching (Preis '99 / the
    "unique mapping clustering" of JedAI): each round keeps every
    pair that is simultaneously its left record's best AND its right
    record's best candidate (ties broken by the partner id, so the
    edge order is total and both engines of a differential test agree
    bit-for-bit), removes the matched records from the pool, and
    repeats. Under a strict total edge order the fixpoint equals the
    sequential greedy matching — a 1/2-approximation of the
    max-weight assignment — without any global sort or driver-side
    pass.

    Scale shape: each round is two window shuffles (one per side key;
    rank-1 rows are cut by WindowGroupLimit before the sort spills)
    plus two anti-joins keyed the same way, all snapshot-local; the
    pool SHRINKS every round (any pool-max edge is locally dominant,
    so progress is guaranteed) and rounds are capped — pairs still
    ambiguous after ``max_rounds`` are dropped, the documented residue
    of chain-shaped ties. One O(1) digest per round.
    """
    if max_rounds < 1:
        raise ValueError(f"max_rounds must be >= 1, got {max_rounds}")
    pool = pin(
        scored_pairs.select(
            F.col(left_col).cast("string").alias("left_id"),
            F.col(right_col).cast("string").alias("right_id"),
            F.col(score_col).cast("double").alias("score"),
        )
        .groupBy("left_id", "right_id")
        .agg(F.max("score").alias("score"))
    )
    wl = Window.partitionBy("left_id").orderBy(F.desc("score"), F.asc("right_id"))
    wr = Window.partitionBy("right_id").orderBy(F.desc("score"), F.asc("left_id"))
    matched: list[DataFrame] = []
    rounds = 0
    for rounds in range(1, max_rounds + 1):
        mutual = pin(
            pool.withColumn("rl", F.row_number().over(wl))
            .withColumn("rr", F.row_number().over(wr))
            .filter((F.col("rl") == 1) & (F.col("rr") == 1))
            .select("left_id", "right_id", "score", F.lit(rounds).alias("round"))
        )
        if mutual.limit(1).count() == 0:
            rounds -= 1
            break
        matched.append(mutual)
        pool = pin(
            pool.join(mutual.select("left_id"), "left_id", "left_anti")
            .join(mutual.select("right_id"), "right_id", "left_anti")
            .select("left_id", "right_id", "score")
        )
    if not matched:
        out = pool.sparkSession.createDataFrame(
            [], "left_id string, right_id string, score double, round int"
        )
        return out, 0
    out = matched[0]
    for m in matched[1:]:
        out = out.unionByName(m)
    return out, rounds


def stable_cluster_ids(
    old_assign: DataFrame,
    new_assign: DataFrame,
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
    max_rounds: int = 8,
    fresh_prefix: str = "new:",
) -> DataFrame:
    """Cross-snapshot entity-id stitching: relabel a fresh clustering
    with the PREVIOUS snapshot's cluster ids wherever membership
    overlap identifies the same real-world entity, so downstream
    consumers (golden records, review queues, foreign keys into the
    entity table) keep stable ids across re-runs ->
    (id_col, stable_id, is_fresh).

    CC cluster ids are min-member labels (operators/clustering.py), so
    any membership change — one document added to a corpus — can
    relabel every cluster downstream of it even though the entities
    didn't change. Stitching is a 1:1 assignment problem over the
    overlap graph: each new cluster should inherit the old id it shares
    the most members with, but an old id must be reused at most ONCE
    (when a cluster splits, both halves overlap the old id — handing it
    to both would silently merge them back downstream). That is exactly
    ``one_to_one_match`` with score = overlap count, run not on the
    corpus but on the (new, old) overlap CELLS frame, which is
    cluster-count-sized. Ties (an even split) break deterministically
    by partner id. New clusters that win no old id get a fresh
    namespaced id (``fresh_prefix`` + new cluster id) and
    ``is_fresh = true``; old ids whose entities vanished simply retire.
    NULL cluster ids on either side become namespaced per-item
    singletons (never NULL output, never a cross-item merge); an item
    unassigned in BOTH snapshots therefore keeps a stable singleton id.

    Scale shape: one equi-join of the two assignment scans on the item
    id + one map-side-partial groupBy to the cells frame (the only
    corpus-sized shuffles); the matching rounds and the final relabel
    join run on cluster-count-sized frames (broadcastable).
    """
    # NULL cluster ids (e.g. assignments built by an outer join) are
    # namespaced per-item singletons, the evaluation.py convention: a
    # NULL must neither match anything across snapshots nor propagate a
    # NULL stable_id into downstream keys
    def _sel(df: DataFrame):
        return df.select(
            F.col(id_col).cast("string").alias("_id"),
            F.coalesce(
                F.col(cluster_col).cast("string"),
                F.concat(
                    F.lit("\x00singleton:"), F.col(id_col).cast("string")
                ),
            ).alias("_c"),
        )

    old = _sel(old_assign).withColumnRenamed("_c", "_old")
    new = _sel(new_assign).withColumnRenamed("_c", "_new")
    cells = (
        new.join(old, "_id")
        .groupBy("_new", "_old")
        .agg(F.count("*").cast("double").alias("overlap"))
    )
    matches, _ = one_to_one_match(
        cells,
        left_col="_new",
        right_col="_old",
        score_col="overlap",
        max_rounds=max_rounds,
    )
    mapping = matches.select(
        F.col("left_id").alias("_new"), F.col("right_id").alias("_stable")
    )
    return (
        new.join(mapping, "_new", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce(
                F.col("_stable"), F.concat(F.lit(fresh_prefix), F.col("_new"))
            ).alias("stable_id"),
            F.col("_stable").isNull().alias("is_fresh"),
        )
    )


def stitch_churn_stats(
    old_assign: DataFrame,
    new_assign: DataFrame,
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """One-row churn report between two assignment snapshots sharing an
    id namespace (i.e. the new side already relabeled by
    :func:`stable_cluster_ids`) — the per-run monitoring number an ER
    deployment alerts on (a re-cluster that reassigns 40% of items is a
    regression, not drift):

      n_old/n_new items, n_common (in both), n_moved (common items
      whose cluster id changed), item_churn = n_moved / n_common;
      entity-level: n_entities_old/new, n_retired (old ids gone),
      n_fresh (new ids not in old).

    Scale shape: ONE full-outer join on the item id (fingerprint-only
    projections) + one scalar aggregate; entity counts re-aggregate the
    cluster-id sets from the same joined frame. No pair work.
    """
    o = old_assign.select(
        F.col(id_col).cast("string").alias("_id"),
        F.col(cluster_col).cast("string").alias("_old"),
    )
    nw = new_assign.select(
        F.col(id_col).cast("string").alias("_id"),
        F.col(cluster_col).cast("string").alias("_new"),
    )
    j = o.join(nw, "_id", "full_outer")
    common = F.col("_old").isNotNull() & F.col("_new").isNotNull()
    agg = j.agg(
        F.sum(F.col("_old").isNotNull().cast("long")).alias("n_old"),
        F.sum(F.col("_new").isNotNull().cast("long")).alias("n_new"),
        F.sum(common.cast("long")).alias("n_common"),
        F.sum((common & (F.col("_old") != F.col("_new"))).cast("long")).alias(
            "n_moved"
        ),
        F.count_distinct(F.col("_old")).alias("n_entities_old"),
        F.count_distinct(F.col("_new")).alias("n_entities_new"),
    )
    # retired = old entity ids no row carries in new; fresh = new ids
    # never used in old — anti-joins over the DISTINCT id sets
    # (cluster-count-sized, broadcastable)
    old_ids = o.select(F.col("_old").alias("_c")).distinct()
    new_ids = nw.select(F.col("_new").alias("_c")).distinct()
    n_retired = old_ids.join(new_ids, "_c", "left_anti").count()
    n_fresh = new_ids.join(old_ids, "_c", "left_anti").count()
    out = agg.select(
        "n_old",
        "n_new",
        "n_common",
        "n_moved",
        F.round(
            F.when(F.col("n_common") > 0, F.col("n_moved") / F.col("n_common"))
            .otherwise(F.lit(0.0)),
            6,
        ).alias("item_churn"),
        "n_entities_old",
        "n_entities_new",
    )
    return out.withColumn("n_retired", F.lit(n_retired).cast("bigint")).withColumn(
        "n_fresh", F.lit(n_fresh).cast("bigint")
    )


def repair_bridged_clusters(
    scored_edges: DataFrame,
    min_bridge_score: float = 0.95,
) -> tuple[DataFrame, int]:
    """Split chain-merged clusters: drop every match edge that is both
    UNCORROBORATED (in no triangle — no third record confirms the pair)
    and WEAK (score < ``min_bridge_score``),
    then re-close -> (assignments(node, cluster_id), cc_iterations).

    This is the repair transform behind the ``match_graph_diagnostics``
    audit: transitive closure turns one borderline pairwise score into
    an unbounded merge (the A~B~C chain where A and C share nothing),
    and the bridge edges that audit flags are exactly the ones this
    operator severs. Near-certain pairs survive on score alone, so
    genuine duplicate pairs (score ~1.0) are never split even though a
    pair, alone, can have no triangle.

    Every node incident to ANY input edge keeps a row in the output —
    nodes that lose all their edges become singleton clusters — so the
    result is a full re-labelable assignment, not a fragment.

    Cost on top of ``edge_triangle_support`` (degree-oriented wedge
    join, see there): one join to re-attach scores and the contracted
    re-closure, which runs on the kept-edge set only.
    """
    e = pin(
        scored_edges.select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
            F.col("score").cast("double").alias("score"),
        )
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.max("score").alias("score"))
    )
    supp = edge_triangle_support(e.select("src", "dst"))
    kept = (
        e.join(supp, ["src", "dst"])
        .filter(
            (F.col("support") >= 1)
            | (F.col("score") >= F.lit(float(min_bridge_score)))
        )
        .select("src", "dst")
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    return connected_components(kept, nodes=nodes)
