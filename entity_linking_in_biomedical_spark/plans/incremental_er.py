"""Incremental entity resolution over arriving document snapshots.

The batch pipeline (``plans/pipeline.run_pipeline``) re-derives the
whole match graph per run. At 10^12-document scale a corpus is not
re-linked when a crawl snapshot lands — the snapshot is linked in
isolation (O(snapshot × entities) work: mentions, blocking, scoring,
and clustering all touch only the arriving documents plus the static
entity dictionary) and its match DECISIONS are folded into the
persisted cluster assignments with
``operators/clustering.merge_into_clusters`` (contracted-graph CC +
one broadcast relabel — no corpus shuffle).

Semantics: the merged clustering is the transitive closure of BOTH
runs' match edges. Surfaces are nodes ("s|<norm>"), so a surface seen
in an earlier snapshot unifies with its re-occurrence automatically
(identical node id); entity-pinned roots ("e|<cui>" < "m|", "s|")
compose across snapshots by the same lexicographic-min rule the batch
clustering uses. Mention→entity decisions are per-surface against the
STATIC dictionary, hence split-invariant: linking a corpus in K
snapshots yields the same me-edges as one batch run. The
mention↔mention channel across snapshots — NEAR-dup NIL surface pairs
whose two members arrive in different snapshots (exact re-occurrences
unify for free: same node) — is recovered by the optional
``surface_index`` (:func:`build_surface_index`): a durable (norm, bk,
linked) blocking-key index over the corpus's DISTINCT surfaces, probed
per snapshot with the batch mm channel's own candidate-cap/scoring/
attach-to-best rule (see :func:`_cross_snapshot_edges` for the one
bounded deviation from batch single-best semantics). Without the index
those pairs are the documented approximation; with it, every
batch-scored cross-snapshot pair is considered. On the shipped synthetic corpus the snapshot composition
reproduces the full-batch golden exactly even index-less
(tests/test_incremental_er.py, and the ``er_incremental`` driver query
hash-matches the same frozen golden as ``er_synthetic``); the index
test plants a cross-snapshot NIL near-dup pair and shows index-less
divergence vs with-index batch equality.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.blocking import surface_blocking_keys
from ..operators.clustering import merge_into_clusters
from ..operators.scoring import score_pairs
from ..session import pin
from .pipeline import (
    PipelineConfig,
    best_partner_edges,
    cap_partners,
    drop_hot_keys,
    relabel_mentions,  # re-exported: callers import it from this module
    run_pipeline,
)


def build_surface_index(assignments: DataFrame) -> DataFrame:
    """(norm, bk, linked) for every surface node in persisted
    assignments — the durable blocking-key index that recovers
    cross-snapshot mention-mention pairs (the one approximation of
    index-less :func:`link_snapshot`). Size is keys-per-surface short
    rows per DISTINCT corpus surface — independent of document count —
    so it broadcasts for most dictionaries and otherwise persists
    bucketed on ``bk`` (the join key of every snapshot probe). Rebuild
    from the merged assignments after each fold, or append the
    snapshot's own keys (same union+distinct idiom as the dedup
    indexes).

    ``linked`` marks membership in an entity-rooted CLUSTER — derivable
    from assignments alone, but slightly wider than the batch attach
    rule's has-own-me-link test: a surface that reached an entity
    cluster via mm attachment is also excluded as a future partner.
    The deviation only suppresses extra transitivity INTO entity
    clusters (such a partner's cluster is already pinned); NIL–NIL
    recovery, the gap the index exists to close, is unaffected."""
    surf = assignments.filter(F.col("node").startswith("s|")).select(
        F.expr("substring(node, 3)").alias("norm"),
        F.col("cluster_id").startswith("e|").alias("linked"),
    )
    return surface_blocking_keys(surf).join(surf, "norm")


def _cross_snapshot_edges(
    spark: SparkSession,
    snap_assignments: DataFrame,
    surface_index: DataFrame,
    embeddings: DataFrame | None,
    cfg: PipelineConfig,
    idf: dict[str, float],
    surface_keys: DataFrame,
) -> DataFrame:
    """s|—s| edges pairing the snapshot's UNLINKED surfaces with
    unlinked surfaces from EARLIER snapshots that share a blocking key:
    the batch mm channel's hot-key cap, partner cap, Arrow-batched
    scoring and attach-to-single-best-partner rule (plans/pipeline.py),
    with the prior corpus side served by the index instead of a corpus
    scan. ``idf`` and ``surface_keys`` are the snapshot run's fitted
    IDF table and (norm, bk) keying frame. Decisions are monotonic:
    earlier surfaces' attachments stand, and each NEW surface attaches
    to its single best CROSS partner (threshold-gated) on top of
    whatever internal attachment the snapshot's own clustering made —
    so a new surface can carry up to TWO attachment edges where the
    batch run's single-best rule emits one. Both are individually above
    mm_threshold, so the deviation can only merge clusters the batch
    scorer itself rated as matches (bounded extra transitivity, never a
    missed pair); exact single-best-over-the-union semantics would
    require re-deciding the snapshot's internal attachments during the
    fold. The planted-pair test (one candidate partner) is exact."""
    new_unlinked = snap_assignments.filter(
        F.col("node").startswith("s|")
        & ~F.col("cluster_id").startswith("e|")
    ).select(F.expr("substring(node, 3)").alias("norm"))
    # keying is a pure per-norm projection, so the snapshot run's
    # already-materialized (norm, bk) frame restricted to the unlinked
    # surfaces is identical to re-keying them. The index is only ever
    # SCANNED map-side, never shuffled per arrival: prune it to the
    # snapshot's band keys first (broadcast semi-join — keeps every
    # index row of a probed key, so the hot-key frequencies below are
    # identical to full-index counts), then cap
    new_keys = pin(surface_keys.join(new_unlinked, "norm", "left_semi"))
    old = (
        surface_index.filter(~F.col("linked"))
        .select(F.col("norm").alias("b_norm"), "bk")
        .join(F.broadcast(new_keys.select("bk").distinct()), "bk", "left_semi")
    )
    old = drop_hot_keys(old, cfg.max_key_freq)
    pairs = pin(
        F.broadcast(new_keys).join(old, "bk")
        .filter(F.col("norm") != F.col("b_norm"))
        .select(F.col("norm").alias("a_norm"), "b_norm")
        .dropDuplicates(["a_norm", "b_norm"])
    )
    pairs = cap_partners(pairs, cfg.mm_pair_cap)
    if embeddings is not None:
        # embeddings may be dictionary-scale: prune to the pair keys
        # (broadcast semi) so the left join's right side is
        # snapshot-sized and itself broadcastable — no embedding shuffle
        for key, out in (("a_norm", "a_emb"), ("b_norm", "b_emb")):
            e = embeddings.select(
                F.col("norm").alias(key), F.col("embedding").alias(out)
            ).join(F.broadcast(pairs.select(key).distinct()), key, "left_semi")
            pairs = pairs.join(F.broadcast(e), key, "left")
    scored = score_pairs(
        spark,
        pairs,
        idf,
        cfg.scoring,
        a_emb="a_emb" if embeddings is not None else None,
        b_emb="b_emb" if embeddings is not None else None,
    )
    return best_partner_edges(
        scored.filter(F.col("score") >= cfg.mm_threshold), "a_norm", "b_norm"
    )


def assignments_to_edges(assignments: DataFrame) -> DataFrame:
    """Star edges (cluster_id -> node) of a clustering — the minimal
    edge set whose CC reproduces it. Singletons emit no edge."""
    return assignments.filter(F.col("node") != F.col("cluster_id")).select(
        F.col("cluster_id").alias("src"), F.col("node").alias("dst")
    )


def link_snapshot(
    spark: SparkSession,
    new_documents: DataFrame,
    entities: DataFrame,
    prior_assignments: DataFrame | None,
    embeddings: DataFrame | None = None,
    abbr_map: DataFrame | None = None,
    cfg: PipelineConfig = PipelineConfig(),
    out_dir: str | None = None,
    surface_index: DataFrame | None = None,
) -> dict:
    """Link an arriving snapshot and merge into ``prior_assignments``
    (node, cluster_id; None or empty for the first snapshot).

    Runs the full three-stage pipeline on the SNAPSHOT only (resumable
    via ``out_dir`` exactly like a batch run — use a fresh directory
    per snapshot), converts its clustering to star edges plus singleton
    nodes, and folds both into the persisted assignments. Returns the
    pipeline's result dict with ``assignments`` replaced by the MERGED
    corpus-level assignments, ``mention_clusters`` relabeled to the
    merged cluster ids, and ``merge_iterations`` added.
    """
    res = run_pipeline(
        spark,
        new_documents,
        entities,
        embeddings=embeddings,
        abbr_map=abbr_map,
        cfg=cfg,
        out_dir=out_dir,
    )
    snap = res["assignments"].select("node", "cluster_id")
    if prior_assignments is None:
        prior_assignments = snap.limit(0)
    edges = assignments_to_edges(snap)
    if surface_index is not None:
        edges = edges.unionByName(
            _cross_snapshot_edges(
                spark, snap, surface_index, embeddings, cfg,
                idf=res["idf"], surface_keys=res["surface_keys"],
            )
        )
    merged, iters = merge_into_clusters(
        prior_assignments,
        edges,
        new_nodes=snap.select("node"),
    )
    res["assignments"] = merged
    res["merge_iterations"] = iters
    res["mention_clusters"] = relabel_mentions(
        res["mentions"], merged, snapshot_scale=True
    )
    return res

