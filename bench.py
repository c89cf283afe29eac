#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line.

The headline number is the end-to-end three-stage ER pipeline
(blocking -> scoring -> clustering) over a synthetic corpus scaled to
the sf level, reported as documents/sec, plus per-query seconds for the
operator suite over the driver tables. Run with SPARK_GRAFT_CPUS=8 and
=32 on the same input to measure scaling efficiency (BENCH/BASELINE.md).
"""

from __future__ import annotations

import json
import os
import sys
import time

import pandas  # noqa: F401  (pandas_udf type-hint resolution needs the module-level name)

from pyspark.sql import functions as F


def force(df) -> int:
    """Fully execute a DataFrame (noop sink — no driver collect)."""
    df.write.format("noop").mode("overwrite").save()
    return 0


def _probe_loop(n: int) -> int:
    # module-level so multiprocessing can pickle it
    s = 0
    for i in range(n):
        s += i * i
    return s


def _membw_probe() -> float:
    """Memory-bandwidth probe in GB/s: 64 MiB copied twice (256 MB
    moved). The round-5 session measured this collapsing from ~15 GB/s
    to **0.03 GB/s** (500x) while the CPU loop stayed healthy — host
    memory overcommit, and the single variable that explains the
    inflated-stage ER draws. Bounded size so a degraded window costs
    ~10 s here, not minutes."""
    import numpy as np

    buf = np.zeros(2**23)  # 64 MiB of float64
    t0 = time.time()
    for _ in range(2):
        buf = buf.copy()
    return round(2 * 2 * (2**23 * 8) / (time.time() - t0) / 1e9, 2)


def _host_probe(cpus: int) -> dict[str, float]:
    """Fixed-work CPU calibration recorded alongside every bench draw,
    so a reader can normalize wall numbers across host windows: this
    shared box degrades up to ~4x under invisible co-tenant pressure
    (BENCH/BASELINE.md, round-5 A/B — the round-4 binary itself drew
    4.7x its record in a bad window). Quiet-window reference values
    on this box: probe_1t 0.7-1.2 s, probe_mt within ~1.5x of
    probe_1t; a probe_1t far above that marks a degraded window."""
    import multiprocessing as mp
    import time

    t0 = time.time()
    _probe_loop(10_000_000)
    t1 = time.time()
    with mp.Pool(cpus) as pool:
        pool.map(_probe_loop, [10_000_000] * cpus)
    t2 = time.time()
    return {
        "probe_1t_sec": round(t1 - t0, 3),
        "probe_mt_sec": round(t2 - t1, 3),
        "probe_membw_gbps": _membw_probe(),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 32))
    host_probe = _host_probe(cpus)
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = 0.1

    from entity_linking_in_biomedical_spark.session import get_spark

    master = os.environ.get("SPARK_GRAFT_MASTER") or f"local[{cpus}]"
    spark = get_spark("el-spark-bench", master=master)

    import __spark_entry__ as E

    timings: dict[str, float] = {}

    # Min-of-K repeats for the headline + heaviest queries: this host
    # shows ~2x multi-tenant wall-clock variance between identical runs
    # (BENCH/BASELINE.md), so a single draw is not comparable across
    # rounds — the per-query MIN is the only stable estimator. Light
    # sub-second queries stay single-shot (their noise is absolute ms).
    repeats = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "2")))
    # er_pipeline and preprocess also run min-of-`repeats`, via their
    # own inline loops below (they thread results/stage metrics out of
    # the winning run, which run() doesn't model)
    heavy = {
        "cc_incremental",
        "cc_retract",
        "cluster_sizes",
        "match_graph_qa",
        "closure_sensitivity",
        "lm_nll",
        "ngram_jaccard",
        "doc_clusters_cc",
        "dedup_clusters",
        "repetition",
        "embedding_dedup",
        "contamination",
        "dup_passages",
        "dedup_passages_apply",
        "meta_blocking",
        "review_queue",
        "fs_em_levels",
    }

    # per-query repeat counts recorded in the output JSON so readers can
    # tell which entries are min-of-K (noise-resistant) vs single-draw
    repeats_map: dict[str, int] = {}
    # one failing suite query must not lose the whole draw: the driver
    # records only this process's single JSON line, so failures are
    # captured per-query and the run continues (errors key emitted only
    # when non-empty; the failed query is simply absent from `queries`)
    errors: dict[str, str] = {}

    def run(name: str, thunk) -> None:
        best = None
        k = repeats if name in heavy else 1
        repeats_map[name] = k
        for _ in range(k):
            t0 = time.time()
            try:
                force(thunk())
            except Exception as e:  # noqa: BLE001 — record and move on
                errors[name] = repr(e)[:500]
                print(f"  {name}: FAILED {e!r}", file=sys.stderr)
                return
            sec = time.time() - t0
            best = sec if best is None else min(best, sec)
        timings[name] = round(best, 3)
        print(f"  {name}: {timings[name]:.2f}s", file=sys.stderr)

    # ---- headline: full ER pipeline on a corpus scaled to sf ----------
    from entity_linking_in_biomedical_spark.plans.pipeline import run_pipeline
    from entity_linking_in_biomedical_spark.sources.synthetic import synth_corpus

    # 200k*sf: at sf0.1 the 20k-doc corpus puts fixed costs (IDF fit, CC
    # digest rounds, Python-worker spin-up) well under half the run, so
    # the docs/s number reflects engine throughput, not setup
    n_docs = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", 0)) or max(200, int(200000 * sf))
    # dictionary capped at 37.5k entities: the synthetic 2-3-word name
    # space holds ~60k distinct norms, and beyond the cap extra corpus
    # docs re-use the dictionary (Zipf-hotter surfaces — the realistic
    # shape for corpus >> dictionary anyway). Cap introduced after the
    # r3 600k-doc run (cap epoch: commit a49db02); env-tunable so
    # pre-cap large-corpus configurations stay reproducible.
    entity_cap = int(os.environ.get("SPARK_GRAFT_BENCH_ENTITY_CAP", 37_500))
    n_entities = max(100, min(n_docs // 4, entity_cap))
    corpus = synth_corpus(n_docs=n_docs, n_entities=n_entities, seed=42)
    docs, ents, _, abbr, _ = corpus.to_spark(spark)
    emb = corpus.embeddings_df(spark)
    docs = docs.repartition(cpus).localCheckpoint(eager=True)  # exclude gen cost
    ents = ents.localCheckpoint(eager=True)
    emb = emb.localCheckpoint(eager=True)

    # warm the executor pool: spawn + import all Python UDF workers and
    # JIT the first codegen stages before the clock starts (a long-lived
    # cluster runs warm; cold-start is a deploy cost, not throughput)
    @F.pandas_udf("long")
    def _warm(x: pandas.Series) -> pandas.Series:
        return x

    spark.range(cpus * 10000, numPartitions=cpus).select(
        F.sum(_warm(F.col("id")))
    ).collect()

    # ...and JIT-compile the pipeline's generated code: run the full
    # pipeline once on a small slice. Spark's codegen cache is keyed on
    # generated source, so the big run reuses the compiled classes.
    # Without this, the FIRST heavy stage runs interpreted while every
    # executor JVM's C2 threads compile the same classes — measured on
    # this host at 8 executors: 351s aggregate task CPU cold vs 6s warm
    # for the identical 131MB stage input, i.e. the stage wall time
    # *grew* with executor count purely from compile contention.
    # repartition the slice across every executor: the codegen cache is
    # per-JVM, so the warm tasks must land on ALL of them
    warm_docs = docs.limit(2000).repartition(cpus).localCheckpoint(eager=True)
    warm_res = run_pipeline(spark, warm_docs, ents, embeddings=emb, abbr_map=abbr)
    force(warm_res["linked_documents"])

    # per-stage attribution comes from the traced run report
    # (perfbench/run.py --trace 1), not from this timed run
    er_sec = None
    for _ in range(repeats):
        t0 = time.time()
        res = run_pipeline(spark, docs, ents, embeddings=emb, abbr_map=abbr)
        force(res["linked_documents"])
        sec = time.time() - t0
        er_sec = sec if er_sec is None else min(er_sec, sec)
    timings["er_pipeline"] = round(er_sec, 3)
    repeats_map["er_pipeline"] = repeats
    docs_per_sec = round(n_docs / er_sec, 2)
    print(f"  er_pipeline: {er_sec:.2f}s ({docs_per_sec} docs/s)", file=sys.stderr)

    # ---- preprocess plan (E1): PubTator corpus -> context/mentions ----
    # (the reference's #1 entry point, medmention_preprocess.py). Corpus
    # generation + file write are deploy-time costs and run untimed; the
    # timed part is the Spark plan (parse -> split -> per-doc IOB2 block
    # kernel -> explode). The per-doc .context/.txt file sink is the
    # reference's layout, not the throughput path, so it is not timed.
    if not os.environ.get("SPARK_GRAFT_BENCH_ONLY_ER"):
        import tempfile

        from entity_linking_in_biomedical_spark.plans.preprocess import (
            pubtator_to_context,
        )
        from entity_linking_in_biomedical_spark.sources.synthetic import (
            synth_pubtator_lines,
        )

        n_pre = max(200, int(100000 * sf))
        pt_path = os.path.join(tempfile.gettempdir(), f"bench_pubtator_{n_pre}.txt")
        if not os.path.exists(pt_path):
            with open(pt_path, "w", encoding="utf-8") as f:
                f.write("\n".join(synth_pubtator_lines(n_docs=n_pre, n_entities=500)))
        pre_sec = None
        for _ in range(repeats):
            t0 = time.time()
            pre = pubtator_to_context(spark, pt_path)
            force(pre["context"])
            force(pre["mentions"])
            sec = time.time() - t0
            pre_sec = sec if pre_sec is None else min(pre_sec, sec)
        timings["preprocess"] = round(pre_sec, 3)
        repeats_map["preprocess"] = repeats
        pre_docs_per_sec = round(n_pre / pre_sec, 2)
        print(
            f"  preprocess: {pre_sec:.2f}s ({pre_docs_per_sec} docs/s, {n_pre} docs)",
            file=sys.stderr,
        )

    # ---- operator suite over the driver tables ------------------------
    if os.environ.get("SPARK_GRAFT_BENCH_ONLY_ER"):
        print(
            json.dumps(
                {
                    "metric": "er_docs_per_sec",
                    "value": docs_per_sec,
                    "unit": "docs/sec",
                    "queries": timings,
                    "sf": sf,
                    "cpus": cpus,
                    "er_corpus_docs": n_docs,
                    "bench_repeats": repeats,
                    "repeats": repeats_map,
                    **host_probe,
                    "probe_membw_gbps_post": _membw_probe(),
                }
            )
        )
        spark.stop()
        return

    qs = E.queries()
    for name in (
        "pricing_summary",
        "semi_join_split",
        "topk_per_group",
        "self_join_pairs",
        "exact_dedup",
        "fingerprint_dedup",
        "minhash_dedup",
        "incremental_dedup",
        "dup_passages",
        "dedup_passages_apply",
        "c4_clean",
        "line_dedup",
        "line_dedup_incremental",
        "domain_filter",
        "perplexity_buckets",
        "ngram_jaccard",
        "doc_clusters_cc",
        "dedup_clusters",
        "dedup_keep_best",
        "simhash_dedup",
        "lang_id",
        "token_count",
        "lm_nll",
        "pack_sequences",
        "pack_interleaved",
        "chunk_docs",
        "quality_score",
        "doc_fingerprint",
        "pii_redact",
        "repetition",
        "contamination",
        "decontaminate",
        "scrub_contamination",
        "scrub_interleaved",
        "scrub_stream",
        "stratified_sample",
        "token_budget_sample",
        "temperature_mixture",
        "dsir_sample",
        "quality_classifier",
        "length_quantiles",
        "url_canonicalize",
        "url_dedup",
        "hash_split",
        "shard_plan",
        "corpus_stats",
        "url_stats",
        "vocab_drift",
        "filter_funnel",
        "kmeans_clusters",
        "semantic_dedup",
        "bpe_merges",
        "bpe_encode",
        "ann_brute_force",
        "ann_lsh",
        "ann_ivf",
        "embedding_dedup",
        "media_features",
        "cc_incremental",
        "cc_retract",
        "media_dedup",
        "media_dedup_incremental",
        "curate_interleaved",
        "asof_attribution",
        "sessionize",
        "range_join_pairs",
        "event_funnel",
        "cluster_sizes",
        "match_graph_qa",
        "closure_sensitivity",
        "blocking_stats",
        "snb_blocking",
        "snapshot_diff",
        "cluster_eval",
        "blocking_quality",
        "meta_blocking",
        "fs_em_weights",
        "fs_em_levels",
        "fs_tf_adjust",
        "review_queue",
        "cluster_impurity",
        "golden_records",
        "golden_refresh",
        "repair_clusters",
        "one_to_one",
        "jw_pairs",
        "monge_elkan",
        "stable_ids",
        "id_churn",
        "interleaved_stats",
        "threshold_curve",
        "calibrated_scores",
        "phonetic_blocking",
    ):
        run(name, lambda n=name: qs[n](spark, sf_dir))

    total = round(sum(timings.values()), 3)
    # re-probe memory bandwidth AFTER the suite: the degraded windows on
    # this host shift mid-run (BENCH/BASELINE.md), so a pre/post bracket
    # tells the reader whether the window held for the whole draw
    membw_post = _membw_probe()
    print(
        json.dumps(
            {
                "metric": "total_bench_sec",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "cpus": cpus,
                "er_docs_per_sec": docs_per_sec,
                "er_corpus_docs": n_docs,
                "preprocess_docs_per_sec": pre_docs_per_sec,
                "preprocess_corpus_docs": n_pre,
                "bench_repeats": repeats,
                "repeats": repeats_map,
                **({"errors": errors} if errors else {}),
                **host_probe,
                "probe_membw_gbps_post": membw_post,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
