"""Physical-plan shape checks: the optimizations we rely on at 100 TB
must be visible in explain() output at any scale."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def plan_of(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_parquet_filter_pushdown_and_pruning(spark):
    df = (
        spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        .filter(F.col("l_quantity") > 30)
        .select("l_orderkey", "l_quantity")
    )
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity" in plan
    # column pruning: only the two projected columns reach the scan
    schema_line = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" in schema_line and "l_quantity" in schema_line
    assert "l_comment" not in schema_line and "l_shipdate" not in schema_line


def test_whole_stage_codegen_on_scan_filter(spark):
    """Codegen stages appear as '*'-starred nodes; AQE hides them in the
    unexecuted plan, so turn it off for the assertion."""
    old = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        df = (
            spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
            .filter(F.col("o_totalprice") > 100)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = plan_of(df)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)
    assert "* HashAggregate" in plan and "* Filter" in plan
    # map-side combine before the shuffle
    assert "partial_count" in plan


def test_broadcast_join_for_small_side(spark):
    big = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    small = spark.read.parquet("/root/testdata/sf0.001/region.parquet")
    df = big.join(
        F.broadcast(small.select(F.col("r_regionkey").alias("l_suppkey"))), "l_suppkey"
    )
    assert "BroadcastHashJoin" in plan_of(df)


def test_semi_join_strategy(spark):
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    df = orders.join(
        cust.select(F.col("c_custkey").alias("o_custkey")), "o_custkey", "left_semi"
    )
    assert "LeftSemi" in plan_of(df)


def test_topk_window_group_limit(spark):
    """row_number()<=k must compile to WindowGroupLimit (per-partition
    top-k short-circuit, Spark 3.5+) — the physical property that makes
    the blocking top-k cap cheap."""
    from pyspark.sql import Window

    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"))
    df = orders.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 3)
    assert "WindowGroupLimit" in plan_of(df)


def test_blocking_has_no_cartesian(spark, corpus):
    """The blocking stage must never degenerate into a cross join."""
    from entity_linking_in_biomedical_spark.operators.blocking import (
        block_candidates,
        entity_names,
        surface_blocking_keys,
    )
    from entity_linking_in_biomedical_spark.operators.mentions import extract_mentions

    docs, ents, *_ = corpus.to_spark(spark)
    cands = block_candidates(
        surface_blocking_keys(extract_mentions(docs)), entity_names(ents)
    )
    plan = plan_of(cands)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_scoring_single_python_boundary(spark, corpus):
    """Exactly one Arrow/Python eval per scored pair row (the jw+cos
    UDF) — Levenshtein, dot product and the logistic stay JVM-side."""
    from entity_linking_in_biomedical_spark.operators.scoring import score_pairs

    import re

    pairs = spark.createDataFrame([("abc", "abd")], "a_norm string, b_norm string")
    scored = score_pairs(pairs, {})
    plan = plan_of(scored)
    # exactly one Arrow eval node (detail headers are unique per node),
    # and never the row-at-a-time BatchEvalPython
    assert len(re.findall(r"\(\d+\) ArrowEvalPython", plan)) == 1
    assert "BatchEvalPython" not in plan


def test_round4_queries_stay_jvm_side(spark):
    """The round-4 LLM-pipeline queries (dup_passages, filter_funnel,
    url_stats, vocab_drift) are pure column-expression plans: zero
    Python/Arrow boundaries, column-pruned scans, and map-side partial
    aggregation before every shuffle."""
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as E

    qs = E.queries()
    sf = "/root/testdata/sf0.001"
    for name in ("dup_passages", "filter_funnel", "url_stats", "vocab_drift"):
        plan = plan_of(qs[name](spark, sf))
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, name
        # the documents scan reads only what the query projects — never
        # the unused source/n_chars payload columns (dup_passages'
        # scan hides behind its localCheckpoint barrier, so the
        # pruning check applies only where a scan is visible)
        schema_lines = [l for l in plan.splitlines() if "ReadSchema" in l]
        assert schema_lines or "ExistingRDD" in plan or "LogicalRDD" in plan, name
        assert all("source" not in l for l in schema_lines), name
        assert "partial" in plan, name


def test_filter_funnel_single_scan_single_aggregate(spark):
    """All five funnel gates fold into ONE scan + ONE global aggregate
    (five conditional sums), not five passes over the corpus."""
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as E

    plan = plan_of(E.queries()["filter_funnel"](spark, "/root/testdata/sf0.001"))
    # exactly one scan node in the plan tree (formatted output repeats
    # each node once in the tree and once in the detail section, so
    # count tree lines, not substring occurrences). The input reads
    # through the r6 spread barrier (_ts), so the one scan may surface
    # as the barrier's ExistingRDD instead of the raw parquet scan —
    # either way there must be exactly one.
    tree_scans = [
        l
        for l in plan.splitlines()
        if ("Scan parquet" in l or "Scan ExistingRDD" in l) and "+-" in l
    ]
    assert len(tree_scans) == 1


def test_surface_keys_shared_frame_single_evaluated(spark, corpus):
    """The surf_keys frame shared by the blocking join (stage 2) and the
    mention-mention self-join (stage 3b) must be computed ONCE per job:
    surface_blocking_keys ends in a lazy localCheckpoint, which truncates
    the lineage to a shared RDD at construction time — so every consumer
    plans as 'Scan ExistingRDD' and the keying projection (md5 minhash
    explode, the stage's most expensive expression) structurally cannot
    be re-derived by the candidates stage, the mm hot-key cap, or either
    side of the mm self-join."""
    from entity_linking_in_biomedical_spark.operators.blocking import (
        surface_blocking_keys,
    )
    from entity_linking_in_biomedical_spark.operators.mentions import extract_mentions

    docs, *_ = corpus.to_spark(spark)
    surf_keys = surface_blocking_keys(extract_mentions(docs))

    # the frame itself: lineage already truncated, no explode/md5 left
    own = plan_of(surf_keys)
    assert "ExistingRDD" in own
    assert "explode" not in own.lower() and "md5" not in own.lower()

    # an mm-shaped consumer (hot-key cap + self-join on bk): both sides
    # and the cap read the checkpointed RDD, nothing re-keys
    hot = surf_keys.groupBy("bk").count().filter(F.col("count") > 64).select("bk")
    pairs = (
        surf_keys.join(F.broadcast(hot), "bk", "left_anti")
        .alias("x")
        .join(surf_keys.alias("y"), "bk")
        .filter(F.col("x.norm") < F.col("y.norm"))
    )
    consumer = plan_of(pairs)
    assert "ExistingRDD" in consumer
    assert "explode" not in consumer.lower() and "md5" not in consumer.lower()


def test_lm_vocab_joins_broadcast_and_jvm_only(spark):
    """The LM fit/score plan must keep both vocab maps broadcast (never
    a shuffle join against the exploded token stream), stay entirely
    JVM-side (no Python UDF boundary), and partial-aggregate the
    per-doc bigram counts map-side before the one wide shuffle."""
    from entity_linking_in_biomedical_spark.operators.lm import bigram_lm_nll

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = plan_of(bigram_lm_nll(docs, vocab_cap=20, alpha=0.5))
    assert "BroadcastHashJoin" in plan
    assert "partial_count" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the exploded pair stream must never reach a sort-merge join: the
    # only SortMergeJoin-eligible joins are model-sized (w1,w2 keys)
    gen = plan.count("Generate")  # one explode per doc_bigram_counts call
    assert gen >= 1


def test_pack_sequences_no_global_single_partition_window(spark):
    """The prefix sum must be two-level: the only non-bucketed window
    runs over per-bucket totals (O(n_buckets) rows), never the doc
    stream. Detectable in the plan: every Window over the full doc
    frame has a partition spec; the unpartitioned one sits above the
    tiny aggregate."""
    from entity_linking_in_biomedical_spark.operators.packing import pack_sequences

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    df = pack_sequences(docs, 256, bucket_size=100)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan  # bucket offsets re-attach map-side
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the full-stream window is partitioned by bucket
    assert "partitionspec=[__bkt" in plan.replace(" ", "").lower() or "__bkt" in plan


def test_temperature_mixture_broadcasts_stats(spark):
    from entity_linking_in_biomedical_spark.operators.sampling import (
        temperature_mixture_sample,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    df = temperature_mixture_sample(
        docs.select("doc_id", "lang", "n_chars"), 10_000, "n_chars"
    )
    plan = plan_of(df)
    # corpus side joins the tiny rates frame broadcast; no sort-merge
    # join against the full scan, no Python boundary
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_word_ngrams_tokenizer_not_inlined_per_element(spark):
    """Regression guard for the lambda-CSE defect: the let-bound form
    carries exactly ONE tokenizer regexp in the expression tree; the
    quadratic inline form carries a second copy inside the per-element
    lambda (re-evaluated per gram)."""
    from entity_linking_in_biomedical_spark.operators.contamination import (
        word_ngrams,
    )

    df = spark.createDataFrame([("a b c d e",)], "t string")
    analyzed = (
        df.select(word_ngrams(F.col("t"), 3).alias("g"))
        ._jdf.queryExecution()
        .analyzed()
        .toString()
    )
    assert analyzed.count("[^a-z0-9]+") == 1


def test_lm_nll_scan_count_bounded(spark):
    """Regression guard for the 24-scan lazy LM plan: with model
    materialization the self-scoring query's executed plan re-reads the
    corpus at most twice (vocab fit runs as its own jobs at fit time;
    remaining scans: the score pass + at most one more)."""
    from entity_linking_in_biomedical_spark.operators.lm import bigram_lm_nll

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = (
        bigram_lm_nll(docs, vocab_cap=20, alpha=0.5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    scans = plan.count("FileScan") + plan.count("Scan parquet")
    assert scans <= 2, f"LM self-score plan re-derives the corpus: {scans} scans"


def test_round5_new_ops_stay_jvm_side_and_partial_agg(spark, monkeypatch):
    """DSIR weighting, the LR feature/gradient pass, and the k-means
    E-step/M-step are pure column-expression plans: zero Python/Arrow
    boundaries, broadcast for the model-sized side, map-side partial
    aggregation before every shuffle."""
    from entity_linking_in_biomedical_spark.operators import sampling
    from entity_linking_in_biomedical_spark.operators.classifier import (
        quality_features,
    )
    from entity_linking_in_biomedical_spark.operators.kmeans import kmeans_assign
    from entity_linking_in_biomedical_spark.operators.sampling import dsir_weights

    docs = spark.createDataFrame(
        [(i, f"some text {i}", i % 3 == 0) for i in range(30)],
        "doc_id int, text string, is_tgt boolean",
    )
    # dsir_weights pins its featurized frame; without the barrier the
    # plan shows the featurize aggregate the barrier would hide
    monkeypatch.setattr(sampling, "pin", lambda df: df)
    w = dsir_weights(docs, "is_tgt")
    monkeypatch.undo()
    plan = plan_of(w)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "partial" in plan  # featurize + weight groupBys combine map-side
    assert "BroadcastExchange" in plan  # <=256-row log-ratio table

    feats = quality_features(docs, carry=("is_tgt",))
    plan = plan_of(feats)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan

    emb = spark.createDataFrame(
        [(i, [float(i % 5), float(i % 7)]) for i in range(40)],
        "vec_id int, embedding array<float>",
    )
    out = kmeans_assign(emb, k=2, iters=1)
    plan = plan_of(out)
    # E-step: plan-literal centroids, no join/UDF — the final frame is
    # a bare project over the checkpointed base
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "Join" not in plan

    from entity_linking_in_biomedical_spark.operators.bpe import (
        _pair_counts,
        _padded_chars,
        word_freq,
    )

    words = word_freq(docs).select(
        "freq", _padded_chars(F.col("word")).alias("seq")
    )
    plan = plan_of(_pair_counts(words))
    # one fit round: pure column expressions, map-side partial combine
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "partial" in plan


def test_evaluation_family_plan_shape(spark):
    """cluster_pair_metrics: ONE corpus-wide shuffle (to the (pred,
    gold) cells) — cluster sizes re-aggregate the cells frame, never
    the scan; the only nested-loop joins are the 1-row scalar attaches
    (a cross join against a single aggregate row IS the right plan).
    meta_block_prune: no cartesian/BNLJ anywhere, map-side partial
    aggregation on the CBS groupBy. All JVM-side, zero Python."""
    from entity_linking_in_biomedical_spark.operators.evaluation import (
        cluster_pair_metrics,
    )
    from entity_linking_in_biomedical_spark.operators.meta_blocking import (
        meta_block_prune,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    assign = docs.select(
        "doc_id",
        (F.col("doc_id") % 5).cast("string").alias("pred"),
        (F.col("doc_id") % 7).cast("string").alias("gold"),
    )
    plan = plan_of(cluster_pair_metrics(assign))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "partial" in plan.lower()
    # single evaluation of the corpus aggregation is STRUCTURAL: the
    # cells frame is a lazy localCheckpoint, so the downstream plan
    # contains ZERO parquet scans — the corpus feeds only the one
    # checkpointed (pred, gold) aggregation, computed once for all
    # five consumers.
    assert "Scan parquet" not in plan

    blocks = spark.createDataFrame(
        [(str(i), f"k{i % 9}") for i in range(60)], "doc_id string, bk string"
    )
    plan = plan_of(meta_block_prune(blocks, top_k=2))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "partial" in plan.lower()


def test_chunk_documents_zero_shuffle_plan(spark):
    """chunk_documents is documented as entirely row-local: the plan
    must contain no Exchange (the orderBy in the gate query is the
    presentation sort, not part of the operator)."""
    from entity_linking_in_biomedical_spark.operators.packing import chunk_documents

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = plan_of(chunk_documents(df, chunk_tokens=32, stride=24))
    assert "Exchange" not in plan
    # only doc_id and text reach the scan
    schema_line = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "doc_id" in schema_line and "text" in schema_line


def test_threshold_curve_single_scan_single_aggregate(spark):
    """The whole P/R/F1 curve is ONE scan + ONE global aggregate (2k+1
    conditional sums) + a k-row stack — never a per-threshold pass and
    never a sort of the score column."""
    from entity_linking_in_biomedical_spark.operators.evaluation import (
        threshold_curve,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    scored = docs.select(
        (F.col("n_chars") / 1000).alias("score"),
        (F.col("lang") == "en").alias("label"),
    )
    plan = plan_of(threshold_curve(scored, [0.1 * i for i in range(10)]))
    tree_scans = [
        l for l in plan.splitlines() if "Scan parquet" in l and "+-" in l
    ]
    assert len(tree_scans) == 1
    # no corpus-side hash shuffle and no window/score-sort (the only
    # Sort/range exchange in the plan orders the k-row curve itself);
    # the scan feeds ONE global aggregate via its single-partition
    # exchange, map-side partial
    assert "Exchange hashpartitioning" not in plan
    assert "Window" not in plan
    assert "partial" in plan.lower()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_golden_refresh_prunes_untouched_members_via_broadcast_semi(spark):
    """refresh_golden_records: the recompute side reaches the groupBy
    only through a BROADCAST semi-join on the touched set — untouched
    members are dropped map-side, never shuffled — and the carried side
    is a broadcast anti-join over the golden table."""
    from entity_linking_in_biomedical_spark.operators.survivorship import (
        golden_records,
        refresh_golden_records,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    recs = docs.select(
        (F.col("doc_id") % 10).cast("string").alias("cluster_id"),
        F.col("n_chars").cast("double").alias("bal"),
    )
    rules = {"best_bal": ("max", "bal")}
    old = golden_records(recs, rules)
    touched = spark.createDataFrame([("3",), ("4",)], "cluster_id string")
    plan = plan_of(refresh_golden_records(recs, old, touched, rules))
    assert "BroadcastHashJoin" in plan
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
