"""Deployment entry point: the north rule's ``spark-submit --py-files``
surface.

Local run::

    python -m entity_linking_in_biomedical_spark run \
        --documents docs.parquet --entities ents.parquet \
        --out /data/er_out --stage-dir /data/er_stages

Cluster run (the package zipped and shipped to executors; the driver
script is the thin ``run_el.py`` at the repo root)::

    zip -r elspark.zip entity_linking_in_biomedical_spark
    spark-submit --py-files elspark.zip run_el.py run \
        --documents hdfs://.../docs.parquet --entities hdfs://.../ents.parquet \
        --out hdfs://.../er_out --stage-dir /shared/er_stages

Under spark-submit no ``--master`` flag is passed: the session is
adopted from the submit-time conf (``getOrCreate``) and only the
engine-required settings (``session.ENGINE_CONF``: AQE, Arrow, block
compression) are layered on. ``--stage-dir``
makes every stage commit a snapshot + manifest so a killed run resumes
from its last committed stage. The stage dir is a filesystem path
visible to the driver and every executor (a shared mount on a cluster);
a ``scheme://`` URI is rejected.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import DataFrame, SparkSession


def _session(master: str | None) -> SparkSession:
    from .session import engine_builder, get_spark

    if master:
        return get_spark("el-spark", master=master)
    # spark-submit path: adopt the submitted conf, layer required opts
    return engine_builder("el-spark").getOrCreate()


def _read_er_inputs(
    spark: SparkSession, args: argparse.Namespace
) -> tuple[DataFrame, DataFrame, DataFrame | None, DataFrame | None]:
    """(documents, entities, embeddings, abbr_map) from the ER commands'
    Parquet paths; flat documents are wrapped into span sequences."""
    from .sources.loaders import wrap_flat_documents

    docs = spark.read.parquet(args.documents)
    if "spans" not in docs.columns:
        docs = wrap_flat_documents(docs)
    ents = spark.read.parquet(args.entities)
    emb = spark.read.parquet(args.embeddings) if args.embeddings else None
    abbr = spark.read.parquet(args.abbr) if args.abbr else None
    return docs, ents, emb, abbr


def _cmd_run(args: argparse.Namespace) -> int:
    from .plans.pipeline import run_pipeline

    spark = _session(args.master)
    docs, ents, emb, abbr = _read_er_inputs(spark, args)
    res = run_pipeline(
        spark,
        docs,
        ents,
        embeddings=emb,
        abbr_map=abbr,
        out_dir=args.stage_dir,
    )
    res["linked_documents"].write.mode("overwrite").parquet(args.out)
    metrics = {
        "cc_iterations": res.get("cc_iterations"),
        "stages": res.get("metrics"),
    }
    print(json.dumps(metrics, default=str))
    return 0


def _cmd_link_snapshot(args: argparse.Namespace) -> int:
    """Incremental ER over an arriving snapshot: link the snapshot's
    documents in isolation, fold into the persisted assignments state,
    write the merged state + the snapshot's relabeled mentions. First
    snapshot: omit ``--state``. ``--state-out`` must differ from
    ``--state`` (write-then-swap is the caller's atomicity contract,
    or point both at an Iceberg table and MERGE)."""
    from .plans.incremental_er import build_surface_index, link_snapshot

    spark = _session(args.master)
    docs, ents, emb, abbr = _read_er_inputs(spark, args)
    prior = spark.read.parquet(args.state) if args.state else None
    idx = (
        build_surface_index(prior)
        if (args.surface_index and prior is not None)
        else None
    )
    res = link_snapshot(
        spark,
        docs,
        ents,
        prior,
        embeddings=emb,
        abbr_map=abbr,
        out_dir=args.stage_dir,
        surface_index=idx,
    )
    res["assignments"].write.mode("overwrite").parquet(args.state_out)
    res["mention_clusters"].write.mode("overwrite").parquet(args.out)
    print(
        json.dumps(
            {
                "merge_iterations": res.get("merge_iterations"),
                "cc_iterations": res.get("cc_iterations"),
                "state_out": args.state_out,
            },
            default=str,
        )
    )
    return 0


def _cmd_preprocess(args: argparse.Namespace) -> int:
    from .plans.preprocess import pubtator_to_context

    spark = _session(args.master)
    res = pubtator_to_context(spark, args.corpus, out_dir=args.out)
    n = res["context"].count()
    print(json.dumps({"sentences": n, "out": args.out}))
    return 0


def _cmd_lm_score(args: argparse.Namespace) -> int:
    from .operators.lm import fit_bigram_lm, load_bigram_lm, score_bigram_nll

    spark = _session(args.master)
    docs = spark.read.parquet(args.documents)
    if args.model:
        lm = load_bigram_lm(spark, args.model)
    else:
        lm = fit_bigram_lm(docs, vocab_cap=args.vocab_cap, alpha=args.alpha)
        if args.save_model:
            lm.save(args.save_model)
    scored = score_bigram_nll(docs, lm, broadcast_model=args.broadcast_model)
    scored.write.mode("overwrite").parquet(args.out)
    print(json.dumps({"out": args.out, "model": args.model or args.save_model}))
    return 0


def _cmd_dsir_score(args: argparse.Namespace) -> int:
    from .operators.sampling import dsir_fit, dsir_score

    spark = _session(args.master)
    docs = spark.read.parquet(args.documents)
    if args.model:
        model = spark.read.parquet(args.model)
    else:
        model = dsir_fit(docs, args.target_col, alpha=args.alpha)
        if args.save_model:
            model.write.mode("overwrite").parquet(args.save_model)
            model = spark.read.parquet(args.save_model)
    dsir_score(docs, model).write.mode("overwrite").parquet(args.out)
    print(json.dumps({"out": args.out, "model": args.model or args.save_model}))
    return 0


def _cmd_bpe_fit(args: argparse.Namespace) -> int:
    from .operators.bpe import bpe_encode_pieces, bpe_fit

    spark = _session(args.master)
    docs = spark.read.parquet(args.documents)
    merges = bpe_fit(docs, merges=args.merges)
    spark.createDataFrame(
        merges, "rank int, pair string, merged string, pair_count long"
    ).coalesce(1).write.mode("overwrite").parquet(args.save_merges)
    if args.pieces_out:
        bpe_encode_pieces(docs, merges).write.mode("overwrite").parquet(
            args.pieces_out
        )
    print(json.dumps({"merges": len(merges), "save_merges": args.save_merges}))
    return 0


def _cmd_curate(args: argparse.Namespace) -> int:
    from .plans.curate import CurateConfig, curate_corpus

    spark = _session(args.master)
    docs = spark.read.parquet(args.documents)
    test = spark.read.parquet(args.test_set) if args.test_set else None
    cfg = CurateConfig(
        url_col=args.url_col,
        domain_quality_floor=args.domain_quality_floor,
        c4=args.c4,
        line_dedup=args.line_dedup,
        langs=tuple(args.langs.split(",")) if args.langs else (),
        min_quality=args.min_quality,
        near_dup=not args.no_near_dup,
        max_avg_nll=args.max_avg_nll,
        ppl_keep=tuple(args.ppl_keep.split(",")) if args.ppl_keep else None,
    )
    res = curate_corpus(docs, test=test, cfg=cfg)
    if args.shard_size:
        # size-budgeted output shards + manifest instead of a flat table
        from pyspark.sql import functions as F

        from .operators.sharding import contiguous_shards, write_shards

        sharded = contiguous_shards(
            res["clean"].withColumn("__sz", F.length("text").cast("long")),
            args.shard_size,
            "__sz",
        )
        # __sz rides into the output (per-doc size is loader-useful
        # metadata and the manifest aggregate needs it)
        manifest = write_shards(sharded, args.out, "__sz")
        print(
            json.dumps(
                {"out": args.out, "funnel": res["funnel"], "shards": len(manifest)}
            )
        )
        return 0
    res["clean"].write.mode("overwrite").parquet(args.out)
    print(json.dumps({"out": args.out, "funnel": res["funnel"]}))
    return 0


def _cmd_evaluate(args: argparse.Namespace) -> int:
    """One JSON line with the report card; optionally the impurity
    report as parquet — the post-run quality gate a linkage deployment
    wires into its job DAG."""
    from .operators.evaluation import cluster_impurity_report, cluster_pair_metrics

    spark = _session(args.master)
    assign = spark.read.parquet(args.assignments)
    card = cluster_pair_metrics(
        assign, args.id_col, args.pred_col, args.gold_col
    ).collect()[0]
    if args.impurity_out:
        cluster_impurity_report(
            assign, args.id_col, args.pred_col, args.gold_col, top_k=args.top_k
        ).write.mode("overwrite").parquet(args.impurity_out)
    print(json.dumps({**card.asDict(), "impurity_out": args.impurity_out}))
    return 0


def _cmd_calibrate(args: argparse.Namespace) -> int:
    """Fit the decision layer on labeled scored pairs: Platt-calibrated
    match probability (one JSON line with the fitted {bias, s}) and,
    optionally, the threshold P/R/F1 curve parquet — the two artifacts
    a deployment reads to place its link / possible-link / non-link
    cutoffs before wiring review_queue."""
    from .operators.evaluation import platt_calibrate, threshold_curve

    spark = _session(args.master)
    scored = spark.read.parquet(args.scored)
    model = platt_calibrate(
        scored, args.score_col, args.label_col, iters=args.iters, lr=args.lr
    )
    out = {"model": model, "curve_out": args.curve_out}
    if args.curve_out:
        if args.curve_points < 1:
            raise SystemExit(
                f"--curve-points must be >= 1, got {args.curve_points}"
            )
        ts = [i / args.curve_points for i in range(args.curve_points + 1)]
        threshold_curve(
            scored, ts, args.score_col, args.label_col
        ).write.mode("overwrite").parquet(args.curve_out)
    print(json.dumps(out))
    return 0


def _cmd_stitch(args: argparse.Namespace) -> int:
    """Relabel a fresh clustering with the previous snapshot's entity
    ids by maximal-overlap 1:1 matching (operators/matching.
    stable_cluster_ids) — run after any re-clustering so downstream
    keys stay stable. Prints a one-line summary; writes (id, cluster)
    parquet with inherited ids (fresh clusters namespaced)."""
    from .operators.matching import stable_cluster_ids
    from .session import pin

    spark = _session(args.master)
    old = spark.read.parquet(args.old)
    new = spark.read.parquet(args.new)
    out = pin(
        stable_cluster_ids(old, new, id_col=args.id_col, cluster_col=args.cluster_col),
        eager=True,
    )
    n_fresh = out.filter("is_fresh").count()
    (
        out.selectExpr(
            f"{args.id_col}", f"stable_id as {args.cluster_col}"
        ).write.mode("overwrite").parquet(args.out)
    )
    print(
        json.dumps(
            {"out": args.out, "n_items": out.count(), "n_fresh_items": n_fresh}
        )
    )
    return 0


def _cmd_apply_reviews(args: argparse.Namespace) -> int:
    """Fold a batch of clerical-review verdicts into the persisted ER
    state — the write-back half of the review loop whose read half is
    the ``review_queue`` export (fs_linkage.clerical_review_queue).
    Reviews parquet: (src, dst, verdict) with verdict 'match' /
    'not_match'. Accepted pairs merge via merge_into_clusters
    (snapshot-sized contracted CC); rejected pairs split via
    retract_from_clusters (affected clusters re-clustered from the
    surviving edge table). When a pair carries BOTH verdicts the
    rejection wins (it is applied second). Writes the updated
    assignments AND the updated edge table ((edges ∪ accepts) \\
    rejects) — the edge table is what future retractions re-cluster
    from, so it must stay in lockstep with the assignments.
    ``--state-out``/``--edges-out`` must differ from the inputs
    (write-then-swap, same atomicity contract as link-snapshot)."""
    from pyspark.sql import functions as F

    from .operators.clustering import merge_into_clusters, retract_from_clusters

    spark = _session(args.master)
    state = spark.read.parquet(args.state)
    edges = spark.read.parquet(args.edges)
    reviews = spark.read.parquet(args.reviews)
    verdicts = {
        r["verdict"] for r in reviews.select("verdict").distinct().collect()
    }
    unknown = verdicts - {"match", "not_match"}
    if unknown:
        raise SystemExit(f"unknown review verdicts: {sorted(unknown)!r}")
    # canonical (least, greatest) orientation at the boundary: a
    # verdict submitted as (b, a) must still hit stored edge (a, b),
    # and the edge table must stay dedup-able by plain (src, dst)
    def canon(df):
        return df.select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
        ).filter(F.col("src") != F.col("dst"))

    edges = canon(edges)
    accepts = canon(reviews.filter(F.col("verdict") == "match"))
    rejects = canon(reviews.filter(F.col("verdict") == "not_match"))
    n_acc, n_rej = accepts.count(), rejects.count()
    merge_iters = retract_iters = 0
    new_edges = edges
    if n_acc:
        state, merge_iters = merge_into_clusters(state, accepts)
        new_edges = new_edges.unionByName(accepts).dropDuplicates(["src", "dst"])
    if n_rej:
        state, retract_iters = retract_from_clusters(state, new_edges, rejects)
        new_edges = new_edges.join(rejects, ["src", "dst"], "left_anti")
    state.write.mode("overwrite").parquet(args.state_out)
    new_edges.write.mode("overwrite").parquet(args.edges_out)
    print(
        json.dumps(
            {
                "accepted": n_acc,
                "rejected": n_rej,
                "merge_iterations": merge_iters,
                "retract_iterations": retract_iters,
                "state_out": args.state_out,
                "edges_out": args.edges_out,
            }
        )
    )
    return 0


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(prog="entity_linking_in_biomedical_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    run = sub.add_parser("run", help="three-stage ER pipeline over parquet inputs")
    run.add_argument("--documents", required=True, help="parquet: span-shaped or flat (auto-wrapped)")
    run.add_argument("--entities", required=True, help="parquet: (cui, sem_type, synonyms)")
    run.add_argument("--embeddings", help="parquet: (norm, embedding) dense lookup")
    run.add_argument("--abbr", help="parquet: abbreviation map")
    run.add_argument("--out", required=True, help="output parquet for linked_documents")
    run.add_argument("--stage-dir", help="stage store for resumable commits: a filesystem path visible to the driver and every executor")
    run.add_argument("--master", help="Spark master (omit under spark-submit)")
    run.set_defaults(fn=_cmd_run)

    lm = sub.add_parser(
        "lm-score",
        help="perplexity-filter scoring: fit (or load) a bigram LM, score docs",
    )
    lm.add_argument("--documents", required=True, help="parquet: (doc_id, text, ...)")
    lm.add_argument("--out", required=True, help="output parquet: (doc_id, n_bigrams, oov_ratio, avg_nll)")
    lm.add_argument("--model", help="load a saved BigramLM instead of fitting")
    lm.add_argument("--save-model", help="save the fitted model here (durable artifact)")
    lm.add_argument("--vocab-cap", type=int, default=50_000)
    lm.add_argument("--alpha", type=float, default=0.5)
    lm.add_argument("--broadcast-model", action="store_true",
                    help="broadcast the model frames (shuffle-free scoring)")
    lm.add_argument("--master", help="Spark master (omit under spark-submit)")
    lm.set_defaults(fn=_cmd_lm_score)

    ds = sub.add_parser(
        "dsir-score",
        help="DSIR target-likeness scoring: fit (or load) the bucket "
        "log-ratio model, score docs",
    )
    ds.add_argument("--documents", required=True, help="parquet: (doc_id, text, ...)")
    ds.add_argument("--out", required=True, help="output parquet: (doc_id, n_grams, weight)")
    ds.add_argument("--model", help="load a saved dsir_fit model table instead of fitting")
    ds.add_argument("--target-col", default="is_target",
                    help="boolean column marking target-corpus docs (fit path)")
    ds.add_argument("--save-model", help="save the fitted model table here")
    ds.add_argument("--alpha", type=float, default=1.0)
    ds.add_argument("--master", help="Spark master (omit under spark-submit)")
    ds.set_defaults(fn=_cmd_dsir_score)

    bp = sub.add_parser(
        "bpe-fit",
        help="learn BPE merges over the corpus; optionally write per-doc piece counts",
    )
    bp.add_argument("--documents", required=True, help="parquet: (doc_id, text, ...)")
    bp.add_argument("--merges", type=int, default=32)
    bp.add_argument("--save-merges", required=True, help="output parquet merge table")
    bp.add_argument("--pieces-out", help="also write (doc_id, n_tokens, n_pieces) here")
    bp.add_argument("--master", help="Spark master (omit under spark-submit)")
    bp.set_defaults(fn=_cmd_bpe_fit)

    cu = sub.add_parser(
        "curate",
        help="end-to-end curation: lang/quality gates, exact + near-dup "
        "dedup, optional LM perplexity gate and decontamination",
    )
    cu.add_argument("--documents", required=True, help="parquet: (doc_id, text, lang, ...)")
    cu.add_argument("--out", required=True, help="output parquet: the cleaned corpus")
    cu.add_argument("--url-col", help="enable URL-level dedup first, on this column")
    cu.add_argument(
        "--domain-quality-floor",
        type=float,
        help="with --url-col: drop whole domains whose mean quality_score "
        "falls below this floor (>=3 docs of evidence)",
    )
    cu.add_argument(
        "--c4",
        action="store_true",
        help="C4 line/page cleaning gate (rewrites text) before doc-level gates",
    )
    cu.add_argument(
        "--line-dedup",
        action="store_true",
        help="corpus-wide keep-first duplicate-line removal (rewrites text)",
    )
    cu.add_argument("--langs", default="en", help="comma list; empty string skips the gate")
    cu.add_argument("--min-quality", type=float, default=0.3)
    cu.add_argument("--no-near-dup", action="store_true")
    cu.add_argument("--max-avg-nll", type=float, help="enable the LM gate at this threshold")
    cu.add_argument(
        "--ppl-keep",
        help="CCNet relative LM gate: comma list of tertile buckets to"
        " keep (head,middle,tail), e.g. 'head,middle'",
    )
    cu.add_argument("--test-set", help="parquet (test_id, text): decontaminate against it")
    cu.add_argument(
        "--shard-size",
        type=int,
        help="write size-budgeted output shards (chars per shard) + _MANIFEST.json "
        "instead of one flat table",
    )
    cu.add_argument("--master", help="Spark master (omit under spark-submit)")
    cu.set_defaults(fn=_cmd_curate)

    ls = sub.add_parser(
        "link-snapshot",
        help="incremental ER: link an arriving document snapshot and fold "
        "it into the persisted cluster-assignments state",
    )
    ls.add_argument("--documents", required=True, help="parquet: the SNAPSHOT's documents")
    ls.add_argument("--entities", required=True, help="parquet: (cui, sem_type, synonyms)")
    ls.add_argument("--embeddings", help="parquet: (norm, embedding) dense lookup")
    ls.add_argument("--abbr", help="parquet: abbreviation map")
    ls.add_argument("--state", help="parquet: prior assignments (omit for the first snapshot)")
    ls.add_argument("--state-out", required=True, help="output parquet for the MERGED assignments (must differ from --state)")
    ls.add_argument("--out", required=True, help="output parquet: the snapshot's mentions relabeled to merged cluster ids")
    ls.add_argument("--surface-index", action="store_true",
                    help="probe a blocking-key index over the prior state to recover cross-snapshot near-dup NIL pairs")
    ls.add_argument("--stage-dir", help="stage store for the snapshot's pipeline run (use a fresh dir per snapshot)")
    ls.add_argument("--master", help="Spark master (omit under spark-submit)")
    ls.set_defaults(fn=_cmd_link_snapshot)

    pre = sub.add_parser("preprocess", help="PubTator corpus -> .context/.txt layout")
    pre.add_argument("--corpus", required=True, help="PubTator corpus file")
    pre.add_argument("--out", required=True, help="output directory")
    pre.add_argument("--master", help="Spark master (omit under spark-submit)")
    pre.set_defaults(fn=_cmd_preprocess)

    ev = sub.add_parser(
        "evaluate",
        help="clustering report card (pair/B-cubed/ARI/NMI) + impurity report",
    )
    ev.add_argument(
        "--assignments",
        required=True,
        help="parquet with one row per item: id + pred + gold cluster columns",
    )
    ev.add_argument("--id-col", default="doc_id")
    ev.add_argument("--pred-col", default="pred")
    ev.add_argument("--gold-col", default="gold")
    ev.add_argument(
        "--impurity-out",
        help="optional parquet for the top-k over-merge offender report",
    )
    ev.add_argument("--top-k", type=int, default=20)
    ev.add_argument("--master", help="Spark master (omit under spark-submit)")
    ev.set_defaults(fn=_cmd_evaluate)

    ca = sub.add_parser(
        "calibrate",
        help="Platt score calibration + optional threshold P/R/F1 curve",
    )
    ca.add_argument(
        "--scored",
        required=True,
        help="parquet of labeled scored pairs (score + boolean label columns)",
    )
    ca.add_argument("--score-col", default="score")
    ca.add_argument("--label-col", default="label")
    ca.add_argument("--iters", type=int, default=8)
    ca.add_argument("--lr", type=float, default=1.0)
    ca.add_argument("--curve-out", help="optional parquet for the threshold curve")
    ca.add_argument(
        "--curve-points",
        type=int,
        default=20,
        help="curve granularity: thresholds i/N for i in 0..N",
    )
    ca.add_argument("--master", help="Spark master (omit under spark-submit)")
    ca.set_defaults(fn=_cmd_calibrate)

    st = sub.add_parser(
        "stitch",
        help="stable entity ids: relabel a re-clustering from the prior snapshot",
    )
    st.add_argument("--old", required=True, help="prior assignments parquet")
    st.add_argument("--new", required=True, help="fresh clustering parquet")
    st.add_argument("--out", required=True, help="output assignments parquet")
    st.add_argument("--id-col", default="doc_id")
    st.add_argument("--cluster-col", default="cluster_id")
    st.add_argument("--master", help="Spark master (omit under spark-submit)")
    st.set_defaults(fn=_cmd_stitch)

    ar = sub.add_parser(
        "apply-reviews",
        help="fold clerical-review verdicts into the ER state: accepted "
        "pairs merge clusters, rejected pairs split them",
    )
    ar.add_argument("--state", required=True, help="parquet: (node, cluster_id) assignments")
    ar.add_argument("--edges", required=True, help="parquet: (src, dst) surviving match-edge table")
    ar.add_argument("--reviews", required=True, help="parquet: (src, dst, verdict) with verdict match|not_match")
    ar.add_argument("--state-out", required=True, help="output parquet for the updated assignments (must differ from --state)")
    ar.add_argument("--edges-out", required=True, help="output parquet for the updated edge table (must differ from --edges)")
    ar.add_argument("--master", help="Spark master (omit under spark-submit)")
    ar.set_defaults(fn=_cmd_apply_reviews)
    return ap


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
