"""End-to-end pipeline tests: oracle equality, ground-truth F1,
span-sequence invariant, determinism across parallelism levels.
"""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from entity_linking_in_biomedical_spark.plans.pipeline import run_pipeline
from tests.oracle_impl import fit_idf_py, run_oracle


@pytest.fixture(scope="module")
def pipeline_result(spark, corpus):
    docs, ents, labels, abbr, split = corpus.to_spark(spark)
    emb = corpus.embeddings_df(spark)
    return run_pipeline(spark, docs, ents, embeddings=emb, abbr_map=abbr)


def clusters_from_spark(pipeline_result) -> dict:
    rows = pipeline_result["mention_clusters"].collect()
    return {(r["doc_id"], r["span_seq"]): r["cluster_id"] for r in rows}


def pairwise_f1(pred: dict, gold: dict) -> float:
    keys = sorted(set(pred) & set(gold))
    tp = fp = fn = 0
    for a, b in itertools.combinations(keys, 2):
        p = pred[a] == pred[b]
        g = gold[a] == gold[b]
        tp += p and g
        fp += p and not g
        fn += g and not p
    if tp == 0:
        return 0.0
    prec = tp / (tp + fp)
    rec = tp / (tp + fn)
    return 2 * prec * rec / (prec + rec)


def test_matches_pandas_oracle_exactly(spark, corpus, pipeline_result):
    """The Spark pipeline and the single-node oracle implement the same
    math — the clustering partitions must be identical (F1 == 1.0)."""
    got = clusters_from_spark(pipeline_result)
    want = run_oracle(corpus)
    assert set(got) == set(want), "surviving mention sets differ"
    mismatches = {k: (got[k], want[k]) for k in want if got[k] != want[k]}
    assert not mismatches, f"{len(mismatches)} cluster mismatches, e.g. {list(mismatches.items())[:5]}"


def test_ground_truth_f1(spark, corpus, pipeline_result):
    """North rule: pairwise F1 >= 0.99 on labeled pairs (surviving,
    linkable mentions)."""
    got = clusters_from_spark(pipeline_result)
    gold = {
        (l["doc_id"], l["span_seq"]): l["cluster_id"]
        for l in corpus.labels
        if (l["doc_id"], l["span_seq"]) in got
    }
    f1 = pairwise_f1(got, gold)
    assert f1 >= 0.99, f"pairwise F1 {f1:.4f} < 0.99"


def test_span_sequence_invariant(spark, corpus, pipeline_result):
    """Per-row invariant: output (kind, text, media_ref, order) sequence
    equals the input for every doc_id."""
    docs, *_ = corpus.to_spark(spark)
    out = pipeline_result["linked_documents"]
    seq = lambda df: df.select(
        "doc_id",
        F.transform("spans", lambda s: F.struct(s["kind"], s["text"], s["media_ref"])).alias("sq"),
    )
    diff = seq(out).exceptAll(seq(docs))
    assert diff.count() == 0
    assert out.count() == docs.count()


def test_nil_mentions_get_nil_clusters(pipeline_result):
    rows = pipeline_result["mention_clusters"].filter(
        F.col("norm").startswith("zz")
    ).collect()
    assert rows, "synthetic corpus should contain NIL mentions"
    assert all(r["cluster_id"].startswith("NIL_") for r in rows)


def test_cluster_is_partition(pipeline_result):
    """No mention in two clusters; every surviving mention has one."""
    mc = pipeline_result["mention_clusters"]
    assert mc.filter(F.col("cluster_id").isNull()).count() == 0
    assert (
        mc.groupBy("doc_id", "span_seq").count().filter(F.col("count") > 1).count() == 0
    )


def test_determinism_across_parallelism(spark, corpus):
    """Same clusters at different shuffle-partition counts (local[2]-vs-
    local[8] analogue within one session)."""
    docs, ents, _, abbr, _ = corpus.to_spark(spark)
    emb = corpus.embeddings_df(spark)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "2")
        r2 = clusters_from_spark(run_pipeline(spark, docs, ents, embeddings=emb, abbr_map=abbr))
        spark.conf.set("spark.sql.shuffle.partitions", "13")
        r13 = clusters_from_spark(run_pipeline(spark, docs, ents, embeddings=emb, abbr_map=abbr))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert r2 == r13


def test_fit_idf_cap_keeps_most_frequent_grams(spark, corpus, monkeypatch):
    """With the vocabulary over the cap, fit_idf keeps the cap's most
    frequent grams (ties by gram), as the oracle's rule does."""
    import entity_linking_in_biomedical_spark.operators.scoring as S
    from entity_linking_in_biomedical_spark.operators.blocking import entity_names

    _, ents, *_ = corpus.to_spark(spark)
    names = entity_names(ents)
    norms = [r["norm"] for r in names.collect()]
    full = fit_idf_py(norms, 3, 10**9)
    assert len(full) > 50  # the cap binds
    monkeypatch.setattr(S, "VOCAB_CAP", 50)
    got = S.fit_idf(names)
    assert got == fit_idf_py(norms, 3, 50)
    assert len(got) == 50


def test_scoring_ngram_sizes_idf_fit_and_cosine(spark, corpus, monkeypatch):
    """One gram size, ``scoring.NGRAM``, drives both the IDF fit and the
    cosine lookup: under NGRAM=2 the fitted vocabulary holds only grams
    of <= 2 chars, and the cos feature and the mention-mention scores
    equal the oracle's 2-gram ones (a 3-gram fit would make every 2-gram
    lookup fall back to idf 1.0)."""
    import entity_linking_in_biomedical_spark.operators.scoring as S
    from entity_linking_in_biomedical_spark.functions.strings import tfidf_cosine
    from entity_linking_in_biomedical_spark.operators.blocking import entity_names
    from tests.oracle_impl import score

    monkeypatch.setattr(S, "NGRAM", 2)
    docs, ents, _, abbr, _ = corpus.to_spark(spark)
    res = run_pipeline(spark, docs, ents, abbr_map=abbr)
    idf = res["idf"]
    assert idf and max(map(len, idf)) <= 2
    norms = [r["norm"] for r in entity_names(ents).collect()]
    want_idf = fit_idf_py(norms, 2, S.VOCAB_CAP)
    assert idf == pytest.approx(want_idf)

    mm = res["mm_scores"].select("a_norm", "b_norm", F.col("score").alias("mm_score"))
    rows = S.score_pairs(mm, idf).collect()
    assert rows
    for r in rows:
        a, b = r["a_norm"], r["b_norm"]
        assert r["cos"] == pytest.approx(tfidf_cosine(a, b, want_idf, n=2), abs=1e-9)
        assert r["mm_score"] == pytest.approx(score(a, b, want_idf, {}), abs=1e-9)


@pytest.mark.parametrize(
    "name, column",
    [
        ("documents", "spans"),
        ("entities", "synonyms"),
        ("embeddings", "embedding"),
        ("abbr_map", "long_form"),
        ("split_ids", "doc_id"),
    ],
)
def test_missing_input_column_fails_before_any_job(spark, corpus, name, column):
    """A required input column that is absent raises one ValueError
    naming the input and the column, before any Spark job runs."""
    docs, ents, _, abbr, split = corpus.to_spark(spark)
    inputs = {
        "documents": docs,
        "entities": ents,
        "embeddings": corpus.embeddings_df(spark),
        "abbr_map": abbr,
        "split_ids": split,
    }
    inputs[name] = inputs[name].withColumnRenamed(column, column + "_x")
    before = spark.sparkContext._jsc.sc().dagScheduler().nextJobId()
    with pytest.raises(ValueError, match=f"input '{name}' is missing required column.*'{column}'"):
        run_pipeline(spark, **inputs)
    assert spark.sparkContext._jsc.sc().dagScheduler().nextJobId() == before


@pytest.mark.parametrize(
    "bad, problem",
    [
        ("longer", "ragged"),
        ("empty", "ragged"),
        ("nan", "NaN or infinite"),
        ("inf", "NaN or infinite"),
        ("-inf", "NaN or infinite"),
        ("null-norm", "null or empty norm"),
        ("empty-norm", "null or empty norm"),
    ],
)
def test_bad_embeddings_fail_at_the_boundary(spark, corpus, bad, problem):
    """One vector of another length (a zero-length one included), a
    non-finite component, or a vector keyed by a null or empty norm
    raises one ValueError naming the problem (and the bad vector's
    norm), instead of a null or NaN dot feature or a lookup row no
    surface can match."""
    docs, ents, _, abbr, _ = corpus.to_spark(spark)
    emb = corpus.embeddings_df(spark)
    vec = list(emb.first()["embedding"])
    bad_vec = {
        "longer": vec + [0.0],
        "empty": [],
        "nan": [float("nan")] + vec[1:],
        "inf": vec[:-1] + [float("inf")],
        "-inf": [float("-inf")] + vec[1:],
    }.get(bad, vec)
    norm = {"null-norm": None, "empty-norm": ""}.get(bad, "zz bad vector")
    match = problem if norm != "zz bad vector" else f"{problem}.*'zz bad vector'"
    emb = emb.unionByName(spark.createDataFrame([(norm, bad_vec)], emb.schema))
    with pytest.raises(ValueError, match=match):
        run_pipeline(spark, docs, ents, embeddings=emb, abbr_map=abbr)


@pytest.mark.parametrize("threshold, hinted", [(None, True), ("-1", False)])
def test_embedding_broadcast_follows_the_session_threshold(
    spark, corpus, monkeypatch, threshold, hinted
):
    """The me/mm embedding joins carry a broadcast hint exactly when the
    lookup's vectors (rows × length × 8 bytes) fit the session's
    spark.sql.autoBroadcastJoinThreshold; -1 (broadcast off) leaves
    them unhinted."""
    import entity_linking_in_biomedical_spark.plans.pipeline as P

    class Stop(Exception):
        pass

    def stop(*args, **kwargs):
        raise Stop

    def emb_hints(df):
        # a broadcast hint directly over the a_emb/b_emb projection of
        # the lookup (other broadcasts, e.g. the hot-key cap, don't count)
        lines = df._jdf.queryExecution().analyzed().toString().splitlines()
        return sum(
            "ResolvedHint (strategy=broadcast)" in a and "_emb#" in b
            for a, b in zip(lines, lines[1:])
        )

    docs, ents, _, abbr, _ = corpus.to_spark(spark)
    emb = corpus.embeddings_df(spark)
    seen, orig_score = [], P.score_pairs
    monkeypatch.setattr(
        P, "score_pairs", lambda pairs, idf: seen.append(pairs) or orig_score(pairs, idf)
    )
    # both scoring stages are planned before clustering: stop there
    monkeypatch.setattr(P, "connected_components", stop)
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    try:
        if threshold is not None:
            spark.conf.set(key, threshold)
        with pytest.raises(Stop):
            run_pipeline(spark, docs, ents, embeddings=emb, abbr_map=abbr)
    finally:
        spark.conf.set(key, old)
    assert len(seen) == 2  # me pairs, mm pairs
    assert [emb_hints(df) for df in seen] == ([2, 2] if hinted else [0, 0])


@pytest.mark.parametrize("persist", [False, True])
def test_embedding_check_is_the_runs_one_embeddings_job(
    spark, corpus, tmp_path, monkeypatch, persist
):
    """The embeddings check costs what the row count it replaces did:
    it submits as many jobs as ``count()``, run_pipeline takes it once,
    with or without a stage store, and never counts the embeddings
    frame itself (the fingerprint and the broadcast gate read the
    check's count)."""
    from pyspark.sql import DataFrame

    import entity_linking_in_biomedical_spark.plans.pipeline as P

    docs, ents, _, abbr, _ = corpus.to_spark(spark)
    emb = corpus.embeddings_df(spark)
    dag = spark.sparkContext._jsc.sc().dagScheduler()

    def jobs(fn):
        before = dag.nextJobId()
        fn()
        return dag.nextJobId() - before

    assert jobs(lambda: P._embedding_rows(emb)) == jobs(emb.count)

    checks, counted = [], []
    orig_rows, orig_count = P._embedding_rows, DataFrame.count
    monkeypatch.setattr(P, "_embedding_rows", lambda df: checks.append(df) or orig_rows(df))
    monkeypatch.setattr(DataFrame, "count", lambda df: counted.append(df) or orig_count(df))
    out_dir = str(tmp_path / "run") if persist else None
    run_pipeline(spark, docs, ents, embeddings=emb, abbr_map=abbr, out_dir=out_dir)
    assert len(checks) == 1 and checks[0] is emb
    assert not any(df is emb for df in counted)
