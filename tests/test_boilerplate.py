"""Unit tests for the crawl-cleaning operators (operators/boilerplate.py):
C4 line/page heuristics and CCNet-style keep-first line dedup."""

from __future__ import annotations

from pyspark.sql import functions as F

from entity_linking_in_biomedical_spark.operators.boilerplate import (
    c4_apply,
    c4_clean,
    line_dedup,
    line_dedup_apply,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id string, text string")


GOOD_PAGE = "\n".join(
    [
        "the experiment produced stable results.",
        "menu",  # < 3 words -> dropped
        "we repeated the measurement five times!",
        "read more",  # no terminal punctuation -> dropped
        "does the effect hold at scale?",
        'the reviewer said "it does."',
        "enable javascript to continue reading.",  # javascript -> dropped
        "   the conclusion is therefore well supported.   ",  # trimmed, kept
        "finally we archive the raw data for later audits.",
    ]
)
GOOD_KEPT = "\n".join(
    [
        "the experiment produced stable results.",
        "we repeated the measurement five times!",
        "does the effect hold at scale?",
        'the reviewer said "it does."',
        "the conclusion is therefore well supported.",
        "finally we archive the raw data for later audits.",
    ]
)


def test_c4_clean_line_and_page_rules(spark):
    rows = [
        ("a", GOOD_PAGE),
        # lorem ipsum anywhere on the ORIGINAL page drops it even if
        # the kept lines alone would survive
        ("b", GOOD_PAGE + "\nlorem ipsum dolor sit amet."),
        # curly brace (template/code residue) drops the page
        ("c", GOOD_PAGE + "\nif (x) { return; }"),
        # fewer than 5 sentences in the retained text drops the page
        ("d", "one good sentence survives the line rules here."),
        ("e", ""),
    ]
    out = c4_clean(_docs(spark, rows)).orderBy("doc_id").collect()
    assert [r["doc_id"] for r in out] == ["a"]
    r = out[0]
    assert r["cleaned_text"] == GOOD_KEPT
    assert r["n_lines"] == 9
    assert r["n_kept_lines"] == 6
    # one sentence-terminal mark [.!?] per kept line (the quote-final
    # line's mark sits inside the quotes)
    assert r["n_sentences"] == 6


def test_c4_clean_blocked_phrases_param(spark):
    rows = [("a", GOOD_PAGE), ("b", GOOD_PAGE + "\nBUY NOW and win big prizes.")]
    out = c4_clean(_docs(spark, rows), blocked_phrases=("buy now",)).collect()
    assert [r["doc_id"] for r in out] == ["a"]


def _plan(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_c4_clean_is_scan_only(spark):
    plan = _plan(c4_clean(_docs(spark, [("a", GOOD_PAGE)])))
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_line_dedup_keep_first_global(spark):
    nav = "share this page on social media"
    rows = [
        ("a", f"{nav}\nunique first body line.\n\n{nav}"),  # in-doc repeat dropped
        ("b", f"{nav}\nanother unique body line."),
        ("c", "totally distinct document text."),
    ]
    out = {
        r["doc_id"]: r
        for r in line_dedup(_docs(spark, rows)).collect()
    }
    assert set(out) == {"a", "b", "c"}
    # doc a holds the global first occurrence (min (doc_id, pos));
    # its second, in-doc occurrence is dropped; the blank line stays
    assert out["a"]["cleaned_text"] == f"{nav}\nunique first body line.\n"
    assert out["a"]["n_lines"] == 4 and out["a"]["n_dropped"] == 1
    assert out["b"]["cleaned_text"] == "another unique body line."
    assert out["b"]["n_dropped"] == 1
    assert out["c"]["cleaned_text"] == "totally distinct document text."
    assert out["c"]["n_dropped"] == 0


def test_line_dedup_trim_normalized_match(spark):
    # the duplicate key is the TRIMMED line, but kept text preserves
    # the original spelling of the surviving first occurrence
    rows = [("a", "  padded line  \nbody a."), ("b", "padded line\nbody b.")]
    out = {r["doc_id"]: r for r in line_dedup(_docs(spark, rows)).collect()}
    assert out["a"]["cleaned_text"] == "  padded line  \nbody a."
    assert out["b"]["cleaned_text"] == "body b."


def test_c4_apply_preserves_schema_and_matches_stats_face(spark):
    rows = [("a", GOOD_PAGE, "en"), ("b", GOOD_PAGE + "\nlorem ipsum x.", "fr")]
    docs = spark.createDataFrame(rows, "doc_id string, text string, lang string")
    out = c4_apply(docs).collect()
    assert [r["doc_id"] for r in out] == ["a"]
    assert out[0]["lang"] == "en"  # extra columns ride through
    stats = c4_clean(docs).collect()
    assert out[0]["text"] == stats[0]["cleaned_text"] == GOOD_KEPT


def test_line_dedup_apply_preserves_schema_and_matches_stats_face(spark):
    nav = "share this page on social media"
    rows = [("a", f"{nav}\nbody a.", 1), ("b", f"{nav}\nbody b.", 2)]
    docs = spark.createDataFrame(rows, "doc_id string, text string, extra int")
    out = {r["doc_id"]: r for r in line_dedup_apply(docs).collect()}
    stats = {r["doc_id"]: r for r in line_dedup(docs).collect()}
    assert set(out) == {"a", "b"}
    for d in ("a", "b"):
        assert out[d]["text"] == stats[d]["cleaned_text"]
        assert out[d]["extra"] == {"a": 1, "b": 2}[d]
    assert out["a"]["text"] == f"{nav}\nbody a."
    assert out["b"]["text"] == "body b."


def test_curate_composes_line_gates(spark):
    from entity_linking_in_biomedical_spark.plans.curate import (
        CurateConfig,
        curate_corpus,
    )

    nav = "share this page on all your social media accounts now!"
    body = [
        "the study of distributed data processing systems shows throughput.",
        "careful partitioning and shuffle planning remain the keys to scale.",
        "we measured the effect across a dozen representative workloads.",
        "the results replicate across three independent cluster topologies.",
        "we therefore recommend the bucketed layout for iterative joins.",
    ]
    rows = [
        ("1", "\n".join([nav] + body + ["menu"]), "en"),
        ("2", "\n".join([nav] + [s.replace("the", "a") for s in body]), "en"),
        ("3", "lorem ipsum dolor sit amet.\n" + "\n".join(body), "en"),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string, lang string")
    res = curate_corpus(
        docs,
        cfg=CurateConfig(c4=True, line_dedup=True, near_dup=False, min_quality=0.0),
    )
    gates = [g for g, _ in res["funnel"]]
    assert gates[:3] == ["input", "c4", "line_dedup"]
    out = {r["doc_id"]: r["text"] for r in res["clean"].collect()}
    # doc 3 died at the c4 page gate (lorem ipsum); the nav line is a
    # kept C4 line (ends in '!', >=3 words) but line_dedup keeps only
    # doc 1's copy; 'menu' died at the C4 line rule
    assert set(out) == {"1", "2"}
    assert out["1"] == "\n".join([nav] + body)
    assert out["2"] == "\n".join(s.replace("the", "a") for s in body)


def test_dedup_lines_batch_matches_unified_run(spark):
    """With corpus keys ordering before batch keys, the index path must
    reproduce the one-shot global keep-first projected to the batch."""
    from entity_linking_in_biomedical_spark.operators.boilerplate import (
        build_line_index,
        dedup_lines_batch,
    )

    nav = "share this page on social media"
    footer = "copyright footer all rights reserved"
    corpus = _docs(
        spark,
        [("a", f"{nav}\ncorpus body one.\n{footer}"), ("b", f"{nav}\ncorpus body two.")],
    )
    batch = _docs(
        spark,
        [
            ("x", f"{nav}\nfresh batch body.\n{footer}"),  # both indexed lines drop
            ("y", "fresh repeated line\nbatch tail y."),
            ("z", "fresh repeated line\nbatch tail z."),  # keep-first within batch
        ],
    )
    index = build_line_index(corpus)
    got = {
        r["doc_id"]: r["text"] for r in dedup_lines_batch(batch, index).collect()
    }
    unified = line_dedup_apply(corpus.unionByName(batch))
    want = {
        r["doc_id"]: r["text"]
        for r in unified.join(batch.select("doc_id"), "doc_id", "semi").collect()
    }
    assert got == want
    assert got["x"] == "fresh batch body."
    assert got["y"] == "fresh repeated line\nbatch tail y."
    assert got["z"] == "batch tail z."


def test_dedup_lines_batch_arrival_precedence(spark):
    """The corpus copy wins even when the batch doc's id would sort
    first — arrival order, not global id order."""
    from entity_linking_in_biomedical_spark.operators.boilerplate import (
        build_line_index,
        dedup_lines_batch,
    )

    corpus = _docs(spark, [("z9", "the shared boilerplate line\ncorpus z9 body.")])
    batch = _docs(spark, [("a1", "the shared boilerplate line\nbatch a1 body.")])
    got = dedup_lines_batch(batch, build_line_index(corpus)).collect()
    assert got[0]["text"] == "batch a1 body."


def test_dedup_lines_batch_index_never_shuffles(spark):
    """Arrival-path discipline: the persisted index side must reach
    every join as a scan/broadcast, never through a shuffle exchange
    keyed per batch (broadcast semi probe + broadcast build)."""
    from entity_linking_in_biomedical_spark.operators.boilerplate import (
        build_line_index,
        dedup_lines_batch,
    )

    corpus = _docs(spark, [("a", "x.\ny.")])
    batch = _docs(spark, [("b", "x.\nzz.")])
    df = dedup_lines_batch(batch, build_line_index(corpus))
    plan = _plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "EvalPython" not in plan


def test_line_dedup_shuffle_budget(spark):
    # exactly the two intended shuffles: the line-hash groupBy and the
    # doc_id fold-back (join side may resolve broadcast at this size,
    # so bound the count rather than pin the join strategy)
    df = line_dedup(_docs(spark, [("a", "x.\ny."), ("b", "x.\nz.")]))
    plan = _plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "EvalPython" not in plan
