"""Incremental ER (plans/incremental_er.py): linking a corpus in
snapshots composes to the batch result on the synthetic corpus, and
the merged state keeps its invariants across snapshot folds."""

from __future__ import annotations

from pyspark.sql import functions as F

from entity_linking_in_biomedical_spark.plans.incremental_er import (
    link_snapshot,
    relabel_mentions,
)
from entity_linking_in_biomedical_spark.plans.pipeline import run_pipeline
from entity_linking_in_biomedical_spark.sources.synthetic import synth_corpus


def _mc(df):
    return {
        (r["doc_id"], r["span_seq"]): r["cluster_id"] for r in df.collect()
    }


def test_two_snapshots_match_full_batch(spark):
    """Parity-split the synthetic corpus, link snapshot A then fold
    snapshot B in: every mention's merged cluster label equals the
    full-batch run's."""
    corpus = synth_corpus(n_docs=36, n_entities=18, seed=7)
    docs, ents, _, abbr, _ = corpus.to_spark(spark)
    emb = corpus.embeddings_df(spark)
    full = _mc(
        run_pipeline(spark, docs, ents, embeddings=emb, abbr_map=abbr)[
            "mention_clusters"
        ]
    )

    half = F.abs(F.hash("doc_id")) % 2 == 0
    r1 = link_snapshot(
        spark, docs.filter(half), ents, None, embeddings=emb, abbr_map=abbr
    )
    state = r1["assignments"].localCheckpoint()
    r2 = link_snapshot(
        spark, docs.filter(~half), ents, state, embeddings=emb, abbr_map=abbr
    )
    merged = r2["assignments"].localCheckpoint()

    inc = _mc(relabel_mentions(r1["mentions"], merged))
    inc.update(_mc(relabel_mentions(r2["mentions"], merged)))
    assert inc == full
    assert r2["merge_iterations"] >= 1

    # state invariants: one row per node, re-occurring surfaces not
    # duplicated by the fold
    rows = merged.groupBy("node").count().filter(F.col("count") > 1).count()
    assert rows == 0
    # every snapshot node is present in the merged state
    n_nodes = (
        r1["assignments"]
        .select("node")
        .unionByName(r2["assignments"].select("node"))
        .distinct()
        .count()
    )
    assert merged.count() >= n_nodes


def test_first_snapshot_none_equals_batch(spark):
    """prior_assignments=None: the first snapshot's merged state IS the
    batch clustering of that snapshot."""
    corpus = synth_corpus(n_docs=12, n_entities=6, seed=3)
    docs, ents, _, abbr, _ = corpus.to_spark(spark)
    res = link_snapshot(spark, docs, ents, None, abbr_map=abbr)
    batch = run_pipeline(spark, docs, ents, abbr_map=abbr)
    got = {
        r["node"]: r["cluster_id"] for r in res["assignments"].collect()
    }
    want = {
        r["node"]: r["cluster_id"]
        for r in batch["assignments"].select("node", "cluster_id").collect()
    }
    assert got == want
    assert _mc(res["mention_clusters"]) == _mc(batch["mention_clusters"])


def _doc(doc_id, *mentions):
    # offsets spaced so the overlap sweep (W7) keeps every mention
    spans = [("mention", m, None, i * 100) for i, m in enumerate(mentions)]
    return (doc_id, spans)


_DOC_SCHEMA = (
    "doc_id string, spans array<struct<"
    "kind:string, text:string, media_ref:string, offset:int>>"
)


def test_surface_index_recovers_cross_snapshot_nil_pairs(spark):
    """A NIL near-dup surface pair split across snapshots: index-less
    folding leaves them in separate clusters (the documented
    approximation); folding with build_surface_index pairs them and
    reproduces the batch run over the union exactly."""
    from entity_linking_in_biomedical_spark.plans.incremental_er import (
        build_surface_index,
    )

    ents = spark.createDataFrame(
        [("C1", "T047", ["aspirin", "acetylsalicylic acid"])],
        "cui string, sem_type string, synonyms array<string>",
    )
    a = "zatrovine alphacomplex"
    b = "zatrovine alphacomplexes"
    docs_a = spark.createDataFrame([_doc("d1", a, "aspirin")], _DOC_SCHEMA)
    docs_b = spark.createDataFrame([_doc("d2", b)], _DOC_SCHEMA)

    # fixture sanity: the BATCH run over the union pairs the variants
    batch = run_pipeline(spark, docs_a.unionByName(docs_b), ents)
    batch_mc = _mc(batch["mention_clusters"])
    assert batch_mc[("d1", 0)] == batch_mc[("d2", 0)]
    assert batch_mc[("d1", 1)] == "C1"

    r1 = link_snapshot(spark, docs_a, ents, None)
    state = r1["assignments"].localCheckpoint()

    # index-less: the cross-snapshot near-dup pair is NOT recovered
    r2_no = link_snapshot(spark, docs_b, ents, state)
    no_idx = _mc(relabel_mentions(r1["mentions"], r2_no["assignments"]))
    no_idx.update(_mc(relabel_mentions(r2_no["mentions"], r2_no["assignments"])))
    assert no_idx[("d1", 0)] != no_idx[("d2", 0)]

    # with the surface index: equal to the batch run, label for label
    idx = build_surface_index(state).localCheckpoint()
    assert {r["linked"] for r in idx.collect()} == {True, False}
    r2 = link_snapshot(spark, docs_b, ents, state, surface_index=idx)
    merged = r2["assignments"].localCheckpoint()
    got = _mc(relabel_mentions(r1["mentions"], merged))
    got.update(_mc(relabel_mentions(r2["mentions"], merged)))
    assert got == batch_mc


def test_snapshot_composition_ground_truth_f1(spark, corpus):
    """North rule, incremental face: linking the labeled corpus in TWO
    snapshots and folding reaches the same pairwise F1 >= 0.99 bar the
    batch pipeline meets (test_pipeline.test_ground_truth_f1)."""
    from tests.test_pipeline import pairwise_f1

    docs, ents, _, abbr, _ = corpus.to_spark(spark)
    emb = corpus.embeddings_df(spark)
    half = F.abs(F.hash("doc_id")) % 2 == 0
    r1 = link_snapshot(
        spark, docs.filter(half), ents, None, embeddings=emb, abbr_map=abbr
    )
    state = r1["assignments"].localCheckpoint()
    r2 = link_snapshot(
        spark, docs.filter(~half), ents, state, embeddings=emb, abbr_map=abbr
    )
    merged = r2["assignments"].localCheckpoint()
    got = _mc(relabel_mentions(r1["mentions"], merged))
    got.update(_mc(relabel_mentions(r2["mentions"], merged)))
    gold = {
        (l["doc_id"], l["span_seq"]): l["cluster_id"]
        for l in corpus.labels
        if (l["doc_id"], l["span_seq"]) in got
    }
    f1 = pairwise_f1(got, gold)
    assert f1 >= 0.99, f"incremental pairwise F1 {f1:.4f} < 0.99"


def test_snapshot_scale_relabel_is_shuffle_free(spark):
    """snapshot_scale=True must plan the relabel as broadcast joins
    only: the corpus-sized surface map is semi-join-pruned by a
    broadcast of the snapshot's norms (map-side scan, no corpus
    shuffle) and the pruned map is broadcast into the label join."""
    from io import StringIO
    from contextlib import redirect_stdout

    mentions = spark.createDataFrame(
        [("d1", 0, "Aspirin", "aspirin"), ("d1", 1, "ASA", "asa")],
        "doc_id string, span_seq int, surface string, norm string",
    )
    assignments = spark.createDataFrame(
        [("s|aspirin", "e|C1"), ("s|asa", "s|asa"), ("s|other", "s|a")],
        "node string, cluster_id string",
    )
    out = relabel_mentions(mentions, assignments, snapshot_scale=True)
    buf = StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2  # semi prune + label join
    # values identical to the default (unhinted) relabel
    got = {(r["doc_id"], r["span_seq"]): r["cluster_id"] for r in out.collect()}
    want = {
        (r["doc_id"], r["span_seq"]): r["cluster_id"]
        for r in relabel_mentions(mentions, assignments).collect()
    }
    assert got == want == {("d1", 0): "C1", ("d1", 1): "NIL_asa"}


def test_surface_index_keys_match_batch_keying(spark):
    """The durable surface index holds the same (norm, bk) set as the
    batch keying frame of the same surfaces."""
    from entity_linking_in_biomedical_spark.operators.blocking import (
        surface_blocking_keys,
    )
    from entity_linking_in_biomedical_spark.plans.incremental_er import (
        build_surface_index,
    )

    assignments = spark.createDataFrame(
        [
            ("s|smith syndrome", "e|C1"),
            ("s|smyth syndrome", "e|C1"),
            ("s|aspirin", "s|aspirin"),
            ("e|C1", "e|C1"),
        ],
        "node string, cluster_id string",
    )
    surf = assignments.filter(F.col("node").startswith("s|")).select(
        F.expr("substring(node, 3)").alias("norm")
    )
    want = {tuple(r) for r in surface_blocking_keys(surf).collect()}
    got = {(r["norm"], r["bk"]) for r in build_surface_index(assignments).collect()}
    assert got == want
    assert {n for n, _ in got} == {"smith syndrome", "smyth syndrome", "aspirin"}
