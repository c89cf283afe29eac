"""End-to-end entity-resolution pipeline (the north star's three-stage
DataFrame job): blocking -> pairwise scoring -> transitive clustering.

Graph design (the core scale decision): clustering runs over **distinct
normalized surfaces**, not mention occurrences. Nodes are
``e|<cui>`` (entities) and ``s|<norm>`` (surface forms); every mention
deterministically attaches to its surface node by an equi-join at the
end. At web scale |distinct surfaces| is orders of magnitude below
|mentions| (Zipf), so the pair-scoring and CC stages never touch the
full corpus — only the final attach join does, and that is a plain
hash/sort-merge equi-join Catalyst handles with AQE.

Because "e|" < "s|" lexicographically and cluster ids are component
minima, any component containing an entity automatically roots at the
smallest CUI — mention-entity matches pin clusters to CUIs with no
extra pass; entity-free components become NIL clusters.

Span-sequence invariant: ``documents.spans`` is never rewritten; the
output attaches a *separate* ``span_clusters`` column, so the invariant
holds structurally (SURVEY.md §1.3).
"""

from __future__ import annotations

from collections import namedtuple

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..operators.blocking import (
    MAX_KEY_FREQ,
    block_candidates,
    entity_names,
    surface_blocking_keys,
)
from ..operators.clustering import connected_components
from ..operators.mentions import extract_mentions
from ..operators.scoring import THRESHOLD, fit_idf, score_pairs
from ..operators.skew import cap_per_key, drop_hot_keys
from ..session import pin
from .resume import StageStore, stage_signature

# The mention-mention rule (the snapshot fold's cross-snapshot probe
# reads the same two values)
MM_THRESHOLD = 0.7  # mention-mention edges need more evidence than THRESHOLD
MM_PAIR_CAP = 20  # max scored mention-mention partners per surface


class PipelineConfig:
    """Read-only view of ``THRESHOLD`` and ``MM_THRESHOLD``. Nothing in
    the package reads it; it exists because the benchmark harness reads
    ``PipelineConfig().scoring.threshold`` and ``.mm_threshold``."""

    __slots__ = ()
    scoring = namedtuple("Scoring", "threshold")(THRESHOLD)
    mm_threshold = MM_THRESHOLD


# ---- match rules shared by the batch run and the snapshot fold ----


def best_partner_edges(pairs: DataFrame, node: str, partner: str) -> DataFrame:
    """One ``s|node -> s|partner`` edge per ``node``: its best-scoring
    partner, ties to the smaller norm. ``pairs`` holds only the pairs
    that may attach (threshold-gated, unlinked nodes)."""
    w = Window.partitionBy(node).orderBy(F.desc("score"), F.asc(partner))
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            F.concat(F.lit("s|"), node).alias("src"),
            F.concat(F.lit("s|"), partner).alias("dst"),
        )
    )


def relabel_mentions(
    mentions: DataFrame,
    assignments: DataFrame,
    snapshot_scale: bool = False,
) -> DataFrame:
    """(doc_id, span_seq, surface, norm, cluster_id) under
    ``assignments``: an entity-rooted surface takes its CUI, any other
    surface ``NIL_<root norm>``.

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


# the columns run_pipeline reads from each input
_REQUIRED_COLUMNS = {
    "documents": ("doc_id", "spans"),
    "entities": ("cui", "synonyms"),
    "embeddings": ("norm", "embedding"),
    "abbr_map": ("doc_id", "abbr", "long_form"),
    "split_ids": ("doc_id",),
}


def _check_columns(inputs: dict[str, DataFrame | None]) -> None:
    """Fail on a missing input column before any job is submitted
    (``df.columns`` only analyzes the plan), instead of as an analysis
    error deep inside a stage."""
    for name, df in inputs.items():
        if df is None:
            continue
        missing = [c for c in _REQUIRED_COLUMNS[name] if c not in df.columns]
        if missing:
            raise ValueError(
                f"run_pipeline input {name!r} is missing required column(s) "
                f"{', '.join(map(repr, missing))}; it has {df.columns}"
            )


def _embedding_rows(embeddings: DataFrame) -> int:
    """Row count of the embeddings lookup, from one aggregate that also
    checks the vectors: ragged lengths (a zero-length vector among full
    ones included) or a NaN/±inf component raise a ``ValueError`` here
    instead of giving a null or NaN ``dot`` later. This is the run's one
    embeddings job; the input fingerprint and the broadcast gate both
    read its count. A null vector is allowed (its pairs score with the
    neutral dot)."""
    v = F.col("embedding")
    size = F.when(v.isNotNull(), F.size(v))
    finite = F.forall(v, lambda x: ~F.isnan(x) & (F.abs(x) != float("inf")))
    row = embeddings.agg(
        F.count("*").alias("rows"),
        F.min(size).alias("min_dim"),
        F.max(size).alias("max_dim"),
        F.min_by("norm", size).alias("shortest"),
        F.max_by("norm", size).alias("longest"),
        F.min(F.when(~finite, F.col("norm"))).alias("non_finite"),
    ).collect()[0]
    if row["min_dim"] != row["max_dim"]:
        raise ValueError(
            f"embeddings are ragged: vector lengths range from {row['min_dim']} "
            f"(norm {row['shortest']!r}) to {row['max_dim']} (norm "
            f"{row['longest']!r}); every vector must have the same length"
        )
    if row["non_finite"] is not None:
        raise ValueError(
            f"embeddings hold a NaN or infinite component (norm "
            f"{row['non_finite']!r}); every component must be finite"
        )
    return row["rows"]


def _input_fingerprint(df: DataFrame, rows: int | None = None) -> list:
    """Stable identity fingerprint of a pipeline input for stage
    signatures. semanticHash covers source paths + transformations, but
    a (local)checkpoint-backed frame analyzes to a LogicalRDD whose
    hash embeds the RDD id — different on EVERY run — which would make
    all signatures unique and silently defeat snapshot resume. For
    those frames fall back to (schema md5, row count): weaker (a
    content change preserving both goes unnoticed — same caveat as an
    in-place file change under an unchanged path) but stable across
    runs. ``rows``, when given, is the frame's already-taken count."""
    import hashlib

    plan = df._jdf.queryExecution().analyzed().toString()  # type: ignore[operator]
    if "LogicalRDD" in plan or "ExistingRDD" in plan:
        schema_md5 = hashlib.md5(df.schema.json().encode()).hexdigest()
        return ["schema", schema_md5, "rows", df.count() if rows is None else rows]
    return [df.semanticHash()]


def run_pipeline(
    spark: SparkSession,
    documents: DataFrame,
    entities: DataFrame,
    embeddings: DataFrame | None = None,
    abbr_map: DataFrame | None = None,
    split_ids: DataFrame | None = None,
    out_dir: str | None = None,
) -> dict:
    """Returns dict with DataFrames: mentions, candidates, me_scores,
    mm_scores, assignments, mention_clusters, linked_documents — plus
    'metrics' (list) and 'cc_iterations' (int).

    The match rules are fixed: the blocking key set and caps
    (``operators/blocking.py``), the scoring logistic and ``THRESHOLD``
    (``operators/scoring.py``), and ``MM_THRESHOLD``/``MM_PAIR_CAP``
    here.
    ``embeddings``: optional (norm string, embedding array<float>)
    lookup used for the dense dot-product feature. Its vectors must all
    have one length and finite components, or a ``ValueError`` names
    the problem (see :func:`_embedding_rows`).
    ``out_dir``: when set, each stage commits a Parquet snapshot +
    manifest there and re-runs resume from the last committed stage
    whose inputs are unchanged. It is a filesystem path visible to the
    driver and every executor (a ``scheme://`` URI is rejected, see
    :class:`StageStore`).
    A missing required input column raises a ``ValueError`` naming the
    input and the column (see ``_REQUIRED_COLUMNS``).
    """
    _check_columns(
        {
            "documents": documents,
            "entities": entities,
            "embeddings": embeddings,
            "abbr_map": abbr_map,
            "split_ids": split_ids,
        }
    )
    store = StageStore(spark, out_dir)
    emb_rows = None if embeddings is None else _embedding_rows(embeddings)
    p: dict = {}
    # input-identity fingerprints (semanticHash of each source plan:
    # covers paths + upstream transformations) fold into every stage
    # signature, so a re-run against different inputs into the same
    # out_dir recomputes instead of serving stale snapshots. Signatures
    # are only consulted when snapshots persist, so skip the (possibly
    # count-bearing) fingerprints entirely when out_dir is None.
    if out_dir is not None:
        p["input_fp"] = [
            _input_fingerprint(df, emb_rows if df is embeddings else None)
            for df in (documents, entities, embeddings, abbr_map, split_ids)
            if df is not None
        ]

    if split_ids is not None:
        # P1 split semi-join (the reference's PMID split-list filter,
        # medmention_preprocess.py:34-35)
        documents = documents.join(
            split_ids.select("doc_id"), "doc_id", "left_semi"
        )
        p["split"] = True

    # ---- stage 1: mentions -------------------------------------------
    sig_mentions = stage_signature("mentions", p, [])
    mentions = store.get_or_compute(
        "mentions",
        sig_mentions,
        lambda: extract_mentions(documents, abbr_map),
    )

    # pin the synonym frame once (lazy): entity_names ends in a
    # dropDuplicates exchange and is consumed by fit_idf (count + agg),
    # blocking (keys + top-k representative) and both scoring stages —
    # without the barrier each consumer re-ran the explode + dedup
    names = pin(entity_names(entities))

    # the surface keying frame is shared by blocking (stage 2) and the
    # mention-mention channel (stage 3b) — one keying pass for the job.
    # Single evaluation is STRUCTURAL, not best-effort: the lazy
    # localCheckpoint inside surface_blocking_keys truncates the lineage
    # to one shared RDD at construction, so this lambda closing over it
    # and compute_mm's three references (hot cap + both self-join sides)
    # all plan as Scan ExistingRDD — verified by
    # test_plans.py::test_surface_keys_shared_frame_single_evaluated
    surf_keys = surface_blocking_keys(mentions)

    # ---- stage 2: blocking -------------------------------------------
    sig_cands = stage_signature("candidates", p, [sig_mentions])
    cands = store.get_or_compute(
        "candidates",
        sig_cands,
        lambda: block_candidates(mentions, names, surface_keys=surf_keys),
    )

    # ---- stage 3: pairwise scoring -----------------------------------
    idf = fit_idf(names)

    # Attach-join strategy for the embedding lookup (guide §3.1:
    # broadcast the side that fits, decided by size, not by hope): the
    # checkpointed lookup hides its statistics from the planner, so
    # without the hint every attach was a sort-merge join that shuffled
    # the pair frame. The embeddings check's row count gates the hint; at
    # corpus scale (per-surface embeddings) the count exceeds the cap and
    # the joins stay shuffled — identical results either way.
    emb_bcast = emb_rows is not None and emb_rows <= 200_000

    def _emb_side(key: str, out: str) -> DataFrame:
        e = embeddings.select(F.col("norm").alias(key), F.col("embedding").alias(out))
        return F.broadcast(e) if emb_bcast else e

    def with_emb(df: DataFrame, key: str, out: str) -> DataFrame:
        if embeddings is None:
            return df
        return df.join(_emb_side(key, out), key, "left")

    def compute_me() -> DataFrame:
        # mention-surface × entity-synonym pairs within candidate blocks;
        # per (surface, cui) keep the best-scoring synonym (the reference
        # scores mention vs dictionary description, dataset.py:128,461).
        # Embeddings attach BEFORE the cui join — to the candidate frame
        # (one row per surface×cui) and the synonym frame — instead of
        # to the exploded pair frame: the pair set is ~4x larger than
        # the candidate set and the old second with_emb join reshuffled
        # every pair already carrying its 256-byte a_emb payload (guide
        # §8: decide placement on small rows, never let a later join
        # re-shuffle the payload). The join tree re-associated this way
        # produces the identical tuples.
        c = cands.select("norm", "cui", "block_key")
        n = names.select("cui", F.col("norm").alias("e_norm"))
        c = with_emb(c, "norm", "a_emb")
        if embeddings is not None:
            n = n.join(_emb_side("e_norm", "b_emb"), "e_norm", "left")
        pairs = c.join(n, "cui").select(
            F.col("norm").alias("a_norm"),
            F.col("e_norm").alias("b_norm"),
            "cui",
            "block_key",
            *(["a_emb", "b_emb"] if embeddings is not None else []),
        )
        scored = score_pairs(pairs, idf)
        return scored.groupBy("a_norm", "cui").agg(
            F.max("score").alias("score"), F.min("block_key").alias("block_key")
        )

    sig_me = stage_signature("me_scores", p, [sig_cands])
    me_scores = store.get_or_compute("me_scores", sig_me, compute_me)

    def compute_mm() -> DataFrame:
        # mention-mention channel: distinct surface pairs sharing a
        # blocking key (J6/J7 semantics at inference: same block ≙ same
        # doc/cui grouping in the reference). Needed so NIL surface
        # variants cluster together without an entity bridge.
        # Reuses the stage-2 keying frame (surf_keys) — the identical
        # blocking_keys explode was previously derived twice per job.
        b = drop_hot_keys(surf_keys, "bk", MAX_KEY_FREQ)
        pairs = (
            b.alias("x")
            .join(b.alias("y"), "bk")
            .filter(F.col("x.norm") < F.col("y.norm"))
            .select(
                F.col("x.norm").alias("a_norm"),
                F.col("y.norm").alias("b_norm"),
                F.col("bk").alias("block_key"),
            )
            .dropDuplicates(["a_norm", "b_norm"])
        )
        # at most MM_PAIR_CAP partners per surface: bounds the scoring
        # fan-out on hot surfaces
        pairs = cap_per_key(pairs, "a_norm", "b_norm", MM_PAIR_CAP)
        pairs = with_emb(pairs, "a_norm", "a_emb")
        pairs = with_emb(pairs, "b_norm", "b_emb")
        scored = score_pairs(pairs, idf)
        return scored.select("a_norm", "b_norm", "block_key", "score")

    sig_mm = stage_signature("mm_scores", p, [sig_mentions])
    mm_scores = store.get_or_compute("mm_scores", sig_mm, compute_mm)

    # ---- stage 4: transitive clustering ------------------------------
    def compute_assign() -> DataFrame:
        # Entity linking is argmax over candidates (the reference scores
        # candidates and takes the top, dataset.py:448-450 + batch top-k):
        # each surface links to at most ONE entity — linking to every
        # entity above threshold would transitively merge entities that
        # merely share a similar surface.
        w_me = Window.partitionBy("a_norm").orderBy(F.desc("score"), F.asc("cui"))
        me_top1 = (
            me_scores.filter(F.col("score") >= THRESHOLD)
            .withColumn("rk", F.row_number().over(w_me))
            .filter(F.col("rk") == 1)
            .drop("rk")
        )
        me_edges = me_top1.select(
            F.concat(F.lit("s|"), "a_norm").alias("src"),
            F.concat(F.lit("e|"), "cui").alias("dst"),
        )
        linked = me_top1.select("a_norm").withColumnRenamed("a_norm", "norm")

        # mention-mention attachment: only surfaces with NO entity link
        # attach, and each to its single best partner — an unlinked
        # surface must never become a bridge that merges two entities.
        both_dirs = mm_scores.filter(F.col("score") >= MM_THRESHOLD).select(
            F.col("a_norm").alias("s_norm"), F.col("b_norm").alias("p_norm"), "score"
        ).unionByName(
            mm_scores.filter(F.col("score") >= MM_THRESHOLD).select(
                F.col("b_norm").alias("s_norm"), F.col("a_norm").alias("p_norm"), "score"
            )
        )
        unlinked_pairs = both_dirs.join(
            linked.withColumnRenamed("norm", "s_norm"), "s_norm", "left_anti"
        )
        mm_edges = best_partner_edges(unlinked_pairs, "s_norm", "p_norm")
        all_surface_nodes = mentions.select(
            F.concat(F.lit("s|"), "norm").alias("node")
        ).distinct()
        assign, iters = connected_components(
            me_edges.unionByName(mm_edges), nodes=all_surface_nodes
        )
        return assign.withColumn("cc_iterations", F.lit(iters))

    sig_assign = stage_signature("assignments", p, [sig_me, sig_mm])
    assignments = store.get_or_compute("assignments", sig_assign, compute_assign)
    cc_iterations = (
        assignments.select(F.max("cc_iterations")).collect()[0][0]
        if "cc_iterations" in assignments.columns
        else -1
    )

    # ---- attach clusters back to mentions and documents ---------------
    mention_clusters = relabel_mentions(mentions, assignments)

    per_doc = mention_clusters.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(F.struct("span_seq", "cluster_id"))).alias(
            "span_clusters"
        )
    )
    linked_documents = documents.join(per_doc, "doc_id", "left")

    return {
        "mentions": mentions,
        "candidates": cands,
        "me_scores": me_scores,
        "mm_scores": mm_scores,
        "assignments": assignments,
        "mention_clusters": mention_clusters,
        "linked_documents": linked_documents,
        "metrics": store.metrics,
        "cc_iterations": cc_iterations,
        # intermediates downstream composers reuse instead of recomputing:
        # the materialized-once surface keying frame (lazy — costs nothing
        # unless consumed) and the fitted driver-side IDF table. The
        # incremental fold's index probe needs exactly these two
        # (plans/incremental_er._cross_snapshot_edges).
        "surface_keys": surf_keys,
        "idf": idf,
    }
