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

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..operators.blocking import entity_names, surface_blocking_keys
from ..operators.clustering import merge_into_clusters
from ..operators.scoring import fit_idf, score_pairs
from .pipeline import PipelineConfig, run_pipeline
from ..session import pin


def build_surface_index(
    assignments: DataFrame, cfg: PipelineConfig = PipelineConfig()
) -> DataFrame:
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
    keys = surface_blocking_keys(
        surf,
        ns=cfg.block_ngrams,
        num_hashes=cfg.num_hashes,
        bands=cfg.bands,
        del_max_len=cfg.del_max_len,
        lsh_min_len=cfg.lsh_min_len,
        del2_max_len=cfg.del2_max_len,
        word_num_hashes=cfg.word_num_hashes,
    )
    return keys.join(surf, "norm")


def _cross_snapshot_edges(
    spark: SparkSession,
    mentions: DataFrame,
    snap_assignments: DataFrame,
    entities: DataFrame,
    surface_index: DataFrame,
    embeddings: DataFrame | None,
    cfg: PipelineConfig,
    idf=None,
    surface_keys: DataFrame | None = None,
) -> DataFrame:
    """s|—s| edges pairing the snapshot's UNLINKED surfaces with
    unlinked surfaces from EARLIER snapshots that share a blocking key:
    the same candidate generation, hot-key cap, deterministic partner
    cap, Arrow-batched scoring, and attach-to-single-best-partner rule
    as the batch mm channel (plans/pipeline.py compute_mm /
    compute_assign), with the prior corpus side served by the index
    instead of a corpus scan. Decisions are monotonic: earlier
    surfaces' attachments stand, and each NEW surface attaches to its
    single best CROSS partner (threshold-gated) on top of whatever
    internal attachment the snapshot's own clustering made — so a new
    surface can carry up to TWO attachment edges where the batch run's
    single-best rule emits one. Both are individually above
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
    # surfaces is identical to re-keying them — reuse it when the caller
    # has one (link_snapshot always does) instead of paying the most
    # expensive projection of the job a second time per arrival
    if surface_keys is not None:
        new_keys = surface_keys.join(new_unlinked, "norm", "left_semi")
    else:
        new_keys = surface_blocking_keys(
            mentions.join(new_unlinked, "norm", "left_semi"),
            ns=cfg.block_ngrams,
            num_hashes=cfg.num_hashes,
            bands=cfg.bands,
            del_max_len=cfg.del_max_len,
            lsh_min_len=cfg.lsh_min_len,
            del2_max_len=cfg.del2_max_len,
            word_num_hashes=cfg.word_num_hashes,
        )
    # the index is only ever SCANNED map-side, never shuffled per
    # arrival: prune it to the snapshot's band keys first (broadcast
    # semi-join — keeps every index row of a probed key, so the hot-key
    # frequencies below are identical to full-index counts), then cap
    new_keys = pin(new_keys)
    old = (
        surface_index.filter(~F.col("linked"))
        .select(F.col("norm").alias("b_norm"), "bk")
        .join(F.broadcast(new_keys.select("bk").distinct()), "bk", "left_semi")
    )
    # hot-key cap on the index side (same skew control as blocking)
    hot = (
        old.groupBy("bk")
        .agg(F.count("*").alias("kf"))
        .filter(F.col("kf") > cfg.max_key_freq)
        .select("bk")
    )
    old = old.join(F.broadcast(hot), "bk", "left_anti")
    pairs = pin(
        F.broadcast(new_keys).join(old, "bk")
        .filter(F.col("norm") != F.col("b_norm"))
        .select(F.col("norm").alias("a_norm"), "b_norm")
        .dropDuplicates(["a_norm", "b_norm"])
    )
    w_cap = Window.partitionBy("a_norm").orderBy(F.md5("b_norm"), F.col("b_norm"))
    pairs = (
        pairs.withColumn("rk", F.row_number().over(w_cap))
        .filter(F.col("rk") <= cfg.mm_pair_cap)
        .drop("rk")
    )
    if embeddings is not None:
        # embeddings may be dictionary-scale: prune to the pair keys
        # (broadcast semi) so the left join's right side is
        # snapshot-sized and itself broadcastable — no embedding shuffle
        for key, out in (("a_norm", "a_emb"), ("b_norm", "b_emb")):
            e = embeddings.select(
                F.col("norm").alias(key), F.col("embedding").alias(out)
            ).join(F.broadcast(pairs.select(key).distinct()), key, "left_semi")
            pairs = pairs.join(F.broadcast(e), key, "left")
    if idf is None:
        # same fit the batch pipeline runs — callers composing with
        # run_pipeline pass its fitted table to skip the duplicate job
        idf = fit_idf(
            entity_names(entities), ngram=cfg.ngram, vocab_cap=cfg.scoring.vocab_cap
        )
    scored = score_pairs(
        spark,
        pairs,
        idf,
        cfg.scoring,
        a_emb="a_emb" if embeddings is not None else None,
        b_emb="b_emb" if embeddings is not None else None,
    )
    w_top = Window.partitionBy("a_norm").orderBy(F.desc("score"), F.asc("b_norm"))
    return (
        scored.filter(F.col("score") >= cfg.mm_threshold)
        .withColumn("rk", F.row_number().over(w_top))
        .filter(F.col("rk") == 1)
        .select(
            F.concat(F.lit("s|"), "a_norm").alias("src"),
            F.concat(F.lit("s|"), "b_norm").alias("dst"),
        )
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
                spark, res["mentions"], snap, entities, surface_index,
                embeddings, cfg,
                idf=res.get("idf"), surface_keys=res.get("surface_keys"),
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


def relabel_mentions(
    mentions: DataFrame,
    assignments: DataFrame,
    snapshot_scale: bool = False,
) -> DataFrame:
    """(doc_id, span_seq, surface, norm, cluster_id) under corpus-level
    ``assignments`` — the same e|->CUI / NIL_<root> mapping the batch
    pipeline applies (plans/pipeline.py), against the merged state.

    ``snapshot_scale=True`` declares that ``mentions`` is snapshot-sized
    while ``assignments`` is corpus-sized (the link_snapshot fold): the
    surface map is first semi-join-pruned by a BROADCAST of the
    snapshot's distinct norms — a map-side scan of the corpus state
    instead of shuffling all of it — and the pruned (snapshot-sized)
    map is broadcast into the label join, so the relabel moves zero
    corpus-sized bytes. Leave False when ``mentions`` itself is
    corpus-scale (its norm set would not fit a broadcast)."""
    surf = assignments.filter(F.col("node").startswith("s|")).select(
        F.expr("substring(node, 3)").alias("norm"),
        F.when(
            F.col("cluster_id").startswith("e|"),
            F.expr("substring(cluster_id, 3)"),
        )
        .otherwise(F.concat(F.lit("NIL_"), F.expr("substring(cluster_id, 3)")))
        .alias("cluster_id"),
    )
    if snapshot_scale:
        keys = mentions.select("norm").distinct()
        surf = F.broadcast(surf.join(F.broadcast(keys), "norm", "left_semi"))
    return mentions.join(surf, "norm", "left").select(
        "doc_id", "span_seq", "surface", "norm", "cluster_id"
    )
