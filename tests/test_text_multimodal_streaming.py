"""Text-analytics column functions and media-feature plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from entity_linking_in_biomedical_spark.functions.text_metrics import (
    dup_2gram_ratio,
    dup_token_ratio,
    fingerprint,
    lang_id,
    pii_count,
    pii_redact,
    quality_score,
    simhash64,
    token_count,
    tokens,
    top_token_ratio,
)
from entity_linking_in_biomedical_spark.operators.multimodal import (
    extract_media_features,
    fake_decoder,
    sample_frames,
)


def test_tokens_and_count(spark):
    df = spark.createDataFrame([("The cat, sat!  twice",), ("",)], "t string")
    got = df.select(tokens("t").alias("tk"), token_count("t").alias("n")).collect()
    assert got[0]["tk"] == ["the", "cat", "sat", "twice"] and got[0]["n"] == 4
    assert got[1]["n"] == 0


def test_bpe_token_count_known_values(spark):
    from entity_linking_in_biomedical_spark.functions.text_metrics import (
        bpe_token_count,
    )

    cases = [
        # don / 't / ' stop' -> 3 (contraction splits; whitespace folds
        # into the following piece)
        ("don't stop", 3),
        # Hello / , / ' world' / ! / ' 123' -> 5 (punct + digit runs count)
        ("Hello, world! 123", 5),
        ("", 0),
        # accented letters stay inside one \p{L}+ run
        ("naïve café", 2),
    ]
    df = spark.createDataFrame([(t,) for t, _ in cases], "t string")
    got = [r[0] for r in df.select(bpe_token_count("t")).collect()]
    assert got == [n for _, n in cases]


def test_bpe_token_count_duckdb_twin_agrees(spark):
    """The Java-regex Spark expression and the RE2 DuckDB twin must
    count identically — the correctness gate depends on it."""
    import duckdb

    from entity_linking_in_biomedical_spark.functions.text_metrics import (
        bpe_token_count,
        bpe_token_count_sql,
    )

    texts = [
        "don't you'll we're I've he'd I'm y'all''",
        "mixed   spacing\tand\nnewlines... -- #tags @ats 3.14e-2",
        "naïve café über niño 北京 数字123abc",
        "'leading apostrophe 'quoted' trailing'",
        "",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    got = [r[0] for r in df.select(bpe_token_count("t")).collect()]
    con = duckdb.connect()
    want = [
        con.execute(f"select {bpe_token_count_sql('?::varchar')}", [t]).fetchone()[0]
        for t in texts
    ]
    assert got == want


def test_lang_id(spark):
    df = spark.createDataFrame(
        [
            ("the quick fox is in the yard and the dog is with it",),
            ("el perro y el gato se fueron de la casa en la noche",),
            ("xq zv plk brrr nnn",),
        ],
        "t string",
    )
    got = [r[0] for r in df.select(lang_id("t")).collect()]
    assert got == ["en", "es", "und"]


def test_quality_score_monotone(spark):
    good = "The study results indicate that the treatment is effective for " * 5
    df = spark.createDataFrame([(good,), ("x!!!",)], "t string")
    got = [r[0] for r in df.select(quality_score("t")).collect()]
    assert got[0] > got[1]
    assert 0.0 <= got[1] <= got[0] <= 1.0


def test_fingerprint_order_insensitive(spark):
    df = spark.createDataFrame([("b a c",), ("C; b, a",), ("a b d",)], "t string")
    got = [r[0] for r in df.select(fingerprint("t")).collect()]
    assert got[0] == got[1] != got[2]


def test_simhash_similar_docs_close(spark):
    a = "one two three four five six seven eight"
    df = spark.createDataFrame([(a,), (a.replace("eight", "nine"),)], "t string")
    got = [r[0] for r in df.select(simhash64("t")).collect()]
    assert bin(got[0] ^ got[1]).count("1") <= 20


def test_pii_redact(spark):
    df = spark.createDataFrame(
        [
            (
                "Mail a.b+c@sub.example.org, call 555-123-4567, "
                "host 192.168.0.1, ssn 987-65-4321.",
            ),
            ("no pii here, version 1.2 build 34",),
        ],
        "t string",
    )
    got = df.select(
        pii_redact("t").alias("red"),
        pii_count("t", "email").alias("ne"),
        pii_count("t", "phone").alias("np"),
        pii_count("t", "ipv4").alias("ni"),
        pii_count("t", "ssn").alias("ns"),
    ).collect()
    assert got[0]["red"] == (
        "Mail <EMAIL>, call <PHONE>, host <IPV4>, ssn <SSN>."
    )
    assert (got[0]["ne"], got[0]["np"], got[0]["ni"], got[0]["ns"]) == (1, 1, 1, 1)
    # "1.2" / "34" must not trip the digit patterns
    assert got[1]["red"] == "no pii here, version 1.2 build 34"
    assert (got[1]["ne"], got[1]["np"], got[1]["ni"], got[1]["ns"]) == (0, 0, 0, 0)


def test_pii_redact_cc_and_phone_forms(spark):
    df = spark.createDataFrame(
        [
            # dash / bare credit-card forms + paren-phone forms
            ("card 4111-1111-1111-0042 paid",),
            ("bare 4111111111110042 paid",),
            ("call (212) 555-0147 or (212) 555 0147 or 212-555-0147",),
            # SSN must not be eaten by the card or phone rules
            ("ssn 987-65-4321 only",),
            # space-separated digit runs in scientific prose must SURVIVE
            # (year series / measurement triples are not cards/phones)
            ("years 1999 2000 2001 2002 and sizes 100 200 3000",),
        ],
        "t string",
    )
    got = df.select(
        pii_redact("t").alias("red"),
        pii_count("t", "cc").alias("nc"),
        pii_count("t", "phone_paren").alias("npp"),
        pii_count("t", "phone").alias("np"),
        pii_count("t", "ssn").alias("ns"),
    ).collect()
    assert got[0]["red"] == "card <CC> paid" and got[0]["nc"] == 1
    assert got[1]["red"] == "bare <CC> paid" and got[1]["nc"] == 1
    assert got[2]["red"] == "call <PHONE> or <PHONE> or <PHONE>"
    assert (got[2]["npp"], got[2]["np"]) == (2, 1)
    assert got[3]["red"] == "ssn <SSN> only"
    assert (got[3]["nc"], got[3]["np"], got[3]["ns"]) == (0, 0, 1)
    assert got[4]["red"] == "years 1999 2000 2001 2002 and sizes 100 200 3000"
    assert (got[4]["nc"], got[4]["npp"], got[4]["np"]) == (0, 0, 0)


def test_pii_cc_false_positive_classes_survive(spark):
    """Non-card 16-digit runs must survive redaction: bare identifiers
    outside the 2-6 IIN range (sequence accessions, sample IDs) and
    mixed-separator digit runs. In-range forms must still redact."""
    df = spark.createDataFrame(
        [
            # bare 16-digit accession starting with 1: NOT a card IIN
            ("run 1000000123456789 archived",),
            # bare 16-digit id starting with 9: NOT a card IIN
            ("sample 9876543210987654 stored",),
            # mixed separators: not a consistent card form
            ("odd 4111-11111111-1111 run",),
            # in-range dashed and bare forms still redact
            ("mc 5500-0000-0000-0004 and visa 4111111111110042",),
        ],
        "t string",
    )
    got = df.select(
        pii_redact("t").alias("red"), pii_count("t", "cc").alias("nc")
    ).collect()
    assert got[0]["red"] == "run 1000000123456789 archived" and got[0]["nc"] == 0
    assert got[1]["red"] == "sample 9876543210987654 stored" and got[1]["nc"] == 0
    assert got[2]["red"] == "odd 4111-11111111-1111 run" and got[2]["nc"] == 0
    assert got[3]["red"] == "mc <CC> and visa <CC>" and got[3]["nc"] == 2


def test_repetition_metrics(spark):
    df = spark.createDataFrame(
        [
            ("a a a a",),  # one token repeated
            ("a b c d",),  # all distinct
            ("a b a b a b",),  # repeated bigram
            ("",),
            ("solo",),
        ],
        "t string",
    )
    got = df.select(
        dup_token_ratio("t").alias("d1"),
        top_token_ratio("t").alias("tt"),
        dup_2gram_ratio("t").alias("d2"),
    ).collect()
    assert got[0]["d1"] == 0.75 and got[0]["tt"] == 1.0 and got[0]["d2"] == pytest.approx(2 / 3)
    assert got[1]["d1"] == 0.0 and got[1]["tt"] == 0.25 and got[1]["d2"] == 0.0
    # "a b a b a b": 6 tokens, 2 distinct; 5 bigrams, 2 distinct
    assert got[2]["d1"] == pytest.approx(2 / 3)
    assert got[2]["d2"] == pytest.approx(0.6)
    assert got[3]["d1"] == 0.0 and got[3]["tt"] == 0.0 and got[3]["d2"] == 0.0
    assert got[4]["d1"] == 0.0 and got[4]["tt"] == 1.0 and got[4]["d2"] == 0.0


def test_top_token_ratio_adversarial_doc_bounded(spark):
    """A ~100k-token doc with ~50k distinct tokens: the old O(u·n)
    per-distinct filter formulation was ~5·10^9 comparisons in one
    codegen cell; the sorted-run scan completes in seconds and stays
    exact (most common token planted with a known count)."""
    import time

    words = [f"w{i}" for i in range(50_000)] + ["hot"] * 50_000
    # deterministic interleave, no shuffle needed for the metric
    text = " ".join(words)
    df = spark.createDataFrame([(text,)], "t string")
    t0 = time.time()
    got = df.select(top_token_ratio("t").alias("tt")).collect()[0]["tt"]
    # smoke threshold only (host-speed dependent): the old O(u·n) form
    # effectively never returned on this input, so any completion well
    # under an O(u·n) timescale plus the exactness assert distinguishes
    # the implementations; generous bound to avoid flaking on loaded CI
    assert time.time() - t0 < 300
    assert got == pytest.approx(0.5)


def test_media_features_plumbing(spark, corpus):
    docs, *_ = corpus.to_spark(spark)
    feats = extract_media_features(docs)
    rows = feats.collect()
    assert rows, "synthetic corpus has media spans"
    n_media = docs.select(
        F.explode("spans").alias("s")
    ).filter("s.kind = 'media'").count()
    assert len(rows) == n_media
    r = rows[0]
    assert r["media_ref"].startswith("img://")
    assert len(r["feature"]) == 8 and r["width"] >= 64
    # determinism: decode derives only from the ref
    again = {(x["doc_id"], x["span_seq"]): x["feature"] for x in feats.collect()}
    assert again[(r["doc_id"], r["span_seq"])] == r["feature"]


def test_sample_frames(spark, corpus):
    docs, *_ = corpus.to_spark(spark)
    feats = extract_media_features(docs)
    frames = sample_frames(feats, k=3).collect()
    assert frames
    by_span = {}
    for f in frames:
        by_span.setdefault((f["doc_id"], f["span_seq"]), []).append(f["frame_idx"])
    n_frames = {
        (r["doc_id"], r["span_seq"]): r["n_frames"] for r in feats.collect()
    }
    for key, idxs in by_span.items():
        n = n_frames[key]
        idxs = sorted(idxs)
        assert len(idxs) == min(3, n)  # k evenly spaced, capped at n_frames
        assert len(set(idxs)) == len(idxs) and all(0 <= i < n for i in idxs)
        assert idxs[0] == 0
    # per-frame features are deterministic functions of (ref, frame_idx)
    f0 = frames[0]
    expect = fake_decoder(f"{f0['media_ref']}#{f0['frame_idx']}", None)["feature"]
    assert [round(x, 5) for x in f0["frame_feature"]] == [
        round(x, 5) for x in expect
    ]


def test_sample_frames_zero_frames(spark):
    """A media span whose decoder reports n_frames=0 (still image /
    failed decode) must emit no frame rows rather than dividing by
    zero under ANSI mode."""
    feats = spark.createDataFrame(
        [("d1", 1, "img://x", 10, 10, 0, [0.1]), ("d2", 1, "img://y", 10, 10, 2, [0.2])],
        "doc_id string, span_seq int, media_ref string, width int, height int, n_frames int, feature array<float>",
    )
    got = sample_frames(feats, k=3).collect()
    assert {r["doc_id"] for r in got} == {"d2"}
    assert len(got) == 2  # min(k, n_frames) frames for d2


def test_word_ngrams_short_doc_and_contamination(spark):
    """word_ngrams must return [] (not wrap-around grams — Spark's
    sequence(1,0) counts DOWN) for docs shorter than n, and the
    contamination join must recover a planted overlap exactly once per
    (corpus, test) pair."""
    from entity_linking_in_biomedical_spark.operators.contamination import (
        ngram_contamination,
        word_ngrams,
    )

    docs = spark.createDataFrame(
        [
            ("c1", "alpha beta gamma delta epsilon zeta"),
            ("c2", "one two"),  # shorter than n
            ("c3", "beta gamma delta epsilon zeta eta theta"),
        ],
        "doc_id string, text string",
    )
    short = docs.filter("doc_id = 'c2'").select(word_ngrams("text", 3).alias("g"))
    assert short.collect()[0]["g"] == []
    test = spark.createDataFrame(
        # shares the 4-gram window 'beta gamma delta epsilon' +
        # 'gamma delta epsilon zeta' with BOTH c1 and c3
        [("t1", "beta gamma delta epsilon zeta")],
        "test_id string, text string",
    )
    got = {
        (r["doc_id"], r["test_id"]): (r["n_overlap"], r["contamination"])
        for r in ngram_contamination(docs, test, n=4, min_overlap=2).collect()
    }
    # t1 has 2 distinct 4-grams; both occur in c1 and in c3
    assert got == {("c1", "t1"): (2, 1.0), ("c3", "t1"): (2, 1.0)}


def test_scrub_contamination_exact_spans(spark):
    """Span-level decontamination must remove exactly the collision
    window ± margin and nothing else, count surviving pieces, and leave
    clean docs byte-identical (GPT-3 Appendix C semantics at token
    granularity)."""
    from entity_linking_in_biomedical_spark.operators.contamination import (
        scrub_contamination,
    )

    docs = spark.createDataFrame(
        [
            # collision 'c d e' at pos 3 covers tokens 3-5; margin 1
            # widens to 2-6 -> kept {1, 7..10}, two pieces
            ("d1", "a b c d e f g h i j"),
            # no collision: untouched, one piece
            ("d2", "k l m n o p"),
            # the whole doc IS the colliding gram (+margin clamps at the
            # edges): everything removed, zero pieces
            ("d3", "c d e"),
            # collision at pos 1 ('c d e') and pos 6 ('c d f'? no — only
            # 'c d e' matches): margin reaches right into token 4
            ("d4", "c d e z c d f"),
        ],
        "doc_id string, text string",
    )
    test = spark.createDataFrame(
        [("t1", "x c d e y")], "test_id string, text string"
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_removed"], r["n_pieces"], r["cleaned_text"])
        for r in scrub_contamination(docs, test, n=3, margin=1).collect()
    }
    assert got["d1"] == (10, 5, 2, "a g h i j")
    assert got["d2"] == (6, 0, 1, "k l m n o p")
    assert got["d3"] == (3, 3, 0, "")
    # d4: windows of t1 at n=3 are {'x c d', 'c d e', 'd e y'}; only
    # 'c d e' occurs (pos 1). margin 1 -> drop 1..4, keep 5..7
    assert got["d4"] == (7, 4, 1, "c d f")


def test_scrub_contamination_margin_zero_and_agreement(spark):
    """margin=0 removes exactly the gram tokens; a doc flagged by the
    detection operator always loses >= n tokens here (consistency
    between detect and scrub)."""
    from entity_linking_in_biomedical_spark.operators.contamination import (
        ngram_contamination,
        scrub_contamination,
    )

    docs = spark.createDataFrame(
        [("d1", "p q r s t u"), ("d2", "u v w x y z")],
        "doc_id string, text string",
    )
    test = spark.createDataFrame([("t1", "q r s")], "test_id string, text string")
    got = {
        r["doc_id"]: (r["n_removed"], r["cleaned_text"])
        for r in scrub_contamination(docs, test, n=3, margin=0).collect()
    }
    assert got["d1"] == (3, "p t u")
    assert got["d2"] == (0, "u v w x y z")
    flagged = {
        r["doc_id"]
        for r in ngram_contamination(docs, test, n=3, min_overlap=1).collect()
    }
    assert flagged == {d for d, (rm, _) in got.items() if rm >= 3}


def test_scrub_interleaved_span_semantics(spark):
    """The interleaved scrub must (a) scrub each text span
    independently (grams never cross a media boundary), (b) pass media
    spans through byte-identical, (c) drop fully-scrubbed text spans
    while preserving the order of the survivors, (d) keep untouched
    text spans byte-identical (no token-rejoin normalization), and
    (e) keep originally-empty text spans."""
    from entity_linking_in_biomedical_spark.operators.contamination import (
        scrub_interleaved,
    )

    schema = (
        "doc_id string, spans array<struct<"
        "kind:string,text:string,media_ref:string,offset:int>>"
    )
    docs = spark.createDataFrame(
        [
            # both text spans contaminated around 'c d e'
            ("d1", [("text", "a b c d e f", None, 0),
                    ("media", None, "img://1", 1),
                    ("text", "c d e g h", None, 2)]),
            # clean doc: text must survive byte-identical, INCLUDING the
            # double space the tokenizer would otherwise normalize away
            ("d2", [("text", "x y  z", None, 0)]),
            # text span fully scrubbed -> dropped; media survives
            ("d3", [("text", "c d e", None, 0),
                    ("media", None, "img://3", 1)]),
            ("d4", [("media", None, "img://4", 0)]),
            ("d5", [("text", "", None, 0)]),
            # the gram 'e f c' exists ACROSS span texts of d6 but in
            # neither span alone: nothing may be scrubbed
            ("d6", [("text", "d e f", None, 0),
                    ("media", None, "img://6", 1),
                    ("text", "c d x", None, 2)]),
        ],
        schema,
    )
    test = spark.createDataFrame(
        [("t1", "q c d e q"), ("t2", "p e f c p")],
        "test_id string, text string",
    )
    got = {
        r["doc_id"]: (
            r["n_spans_before"],
            r["n_spans_after"],
            r["n_removed_tokens"],
            [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]],
        )
        for r in scrub_interleaved(docs, test, n=3, margin=1).collect()
    }
    assert got["d1"] == (3, 3, 9, [("text", "a", None, 0),
                                   ("media", None, "img://1", 1),
                                   ("text", "h", None, 2)])
    assert got["d2"] == (1, 1, 0, [("text", "x y  z", None, 0)])
    assert got["d3"] == (2, 1, 3, [("media", None, "img://3", 1)])
    assert got["d4"] == (1, 1, 0, [("media", None, "img://4", 0)])
    assert got["d5"] == (1, 1, 0, [("text", "", None, 0)])
    assert got["d6"] == (3, 3, 0, [("text", "d e f", None, 0),
                                   ("media", None, "img://6", 1),
                                   ("text", "c d x", None, 2)])


def test_drop_duplicate_media_keep_first_and_order(spark):
    from entity_linking_in_biomedical_spark.operators.multimodal import (
        drop_duplicate_media,
    )

    def m(ref):
        return ("media", None, ref, 1)

    t = ("text", "words", None, 0)
    schema = (
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>"
    )
    docs = spark.createDataFrame(
        [
            # d1: within-doc duplicate of img://a (pos 1 wins over pos 3)
            ("d1", [t, m("img://a"), m("img://b"), m("img://a")]),
            # d2: cross-doc duplicate of img://a and b; keeps only its own
            ("d2", [m("img://a"), t, m("img://c"), m("img://b")]),
            # d3: null refs are never deduped
            ("d3", [m(None), m(None), t]),
        ],
        schema,
    )
    got = {r["doc_id"]: r["spans"] for r in drop_duplicate_media(docs).collect()}
    refs = lambda spans: [s["media_ref"] for s in spans if s["kind"] == "media"]
    kinds = lambda spans: [s["kind"] for s in spans]
    assert refs(got["d1"]) == ["img://a", "img://b"]
    assert kinds(got["d1"]) == ["text", "media", "media"]  # order preserved
    assert refs(got["d2"]) == ["img://c"]
    assert kinds(got["d2"]) == ["text", "media"]
    assert refs(got["d3"]) == [None, None]  # untouched
    assert kinds(got["d3"]) == ["media", "media", "text"]


def test_drop_duplicate_media_partition_invariance(spark, corpus):
    from entity_linking_in_biomedical_spark.operators.multimodal import (
        drop_duplicate_media,
    )

    docs, *_ = corpus.to_spark(spark)
    a = drop_duplicate_media(docs).collect()
    b = drop_duplicate_media(docs.repartition(13)).collect()
    key = lambda rows: sorted((r["doc_id"], tuple(map(tuple, r["spans"]))) for r in rows)
    assert key(a) == key(b)
    # total media spans never increase, text spans never change
    n_text = lambda rows: sum(
        1 for r in rows for s in r["spans"] if s["kind"] == "text"
    )
    assert n_text(a) == n_text(docs.collect())


_SPAN_SCHEMA = (
    "doc_id string, spans array<struct<kind:string,text:string,"
    "media_ref:string,offset:int>>"
)


def _mspan(ref):
    return ("media", None, ref, 1)


def _tspan(s="words"):
    return ("text", s, None, 0)


def test_dedup_media_batch_vs_index_and_within_batch(spark):
    from entity_linking_in_biomedical_spark.operators.multimodal import (
        build_media_index,
        dedup_media_batch,
    )

    corpus = spark.createDataFrame(
        [("c1", [_tspan(), _mspan("img://old"), _mspan("img://held")])],
        _SPAN_SCHEMA,
    )
    index = build_media_index(corpus)
    assert sorted(r["media_ref"] for r in index.collect()) == [
        "img://held", "img://old",
    ]
    batch = spark.createDataFrame(
        [
            # b1: indexed ref dropped; fresh ref kept (first occurrence)
            ("b1", [_mspan("img://old"), _tspan(), _mspan("img://new")]),
            # b2: batch-internal dup of img://new dropped (b1 pos 2 is
            # first by (doc_id,pos)); own fresh ref kept; null survives
            ("b2", [_mspan("img://new"), _mspan(None), _mspan("img://b2")]),
        ],
        _SPAN_SCHEMA,
    )
    got = {
        r["doc_id"]: [
            (s["kind"], s["media_ref"]) for s in r["spans"]
        ]
        for r in dedup_media_batch(batch, index).collect()
    }
    assert got["b1"] == [("text", None), ("media", "img://new")]
    assert got["b2"] == [("media", None), ("media", "img://b2")]


def test_dedup_media_batch_rerun_after_absorb_is_stable(spark):
    """Absorbing a cleaned batch then re-deduping the CLEAN batch
    against the grown index must not drop its own keepers' refs from
    other docs only (keepers themselves are by definition the only
    holders post-clean, so a re-run drops everything indexed —
    documents arriving twice are fully stripped, the cross-snapshot
    keep-first contract)."""
    from entity_linking_in_biomedical_spark.operators.multimodal import (
        build_media_index,
        dedup_media_batch,
    )

    index = build_media_index(
        spark.createDataFrame([("c", [_mspan("img://a")])], _SPAN_SCHEMA)
    )
    batch = spark.createDataFrame(
        [("b", [_mspan("img://a"), _mspan("img://b"), _tspan()])], _SPAN_SCHEMA
    )
    clean = dedup_media_batch(batch, index)
    grown = index.unionByName(build_media_index(clean)).distinct()
    assert sorted(r["media_ref"] for r in grown.collect()) == [
        "img://a", "img://b",
    ]
    # the same raw batch re-arriving (recrawl) now loses BOTH refs
    re_run = {
        r["doc_id"]: [s["kind"] for s in r["spans"]]
        for r in dedup_media_batch(batch, grown).collect()
    }
    assert re_run["b"] == ["text"]


def test_dedup_media_batch_matches_corpus_operator(spark, corpus):
    """Empty index => dedup_media_batch IS drop_duplicate_media (the
    batch-internal rule is the corpus rule)."""
    from entity_linking_in_biomedical_spark.operators.multimodal import (
        build_media_index,
        dedup_media_batch,
        drop_duplicate_media,
    )

    docs, *_ = corpus.to_spark(spark)
    empty = build_media_index(docs.limit(0))
    key = lambda rows: sorted(
        (r["doc_id"], tuple(map(tuple, r["spans"]))) for r in rows
    )
    assert key(dedup_media_batch(docs, empty).collect()) == key(
        drop_duplicate_media(docs).collect()
    )


def test_scrub_null_edges(spark):
    """NULL text must behave as an empty doc in every scrub form
    (F.size(NULL) = -1 would otherwise poison the counts), a NULL-kind
    span must pass through the interleaved scrub untouched rather than
    vanish, and a NULL spans array must count as empty."""
    from entity_linking_in_biomedical_spark.operators.contamination import (
        scrub_contamination,
        scrub_interleaved,
        scrub_stream,
    )

    docs = spark.createDataFrame(
        [("d1", None), ("d2", "p q r s t")], "doc_id string, text string"
    )
    test = spark.createDataFrame([("t1", "q r s")], "test_id string, text string")
    for op in (scrub_contamination, scrub_stream):
        got = {
            r["doc_id"]: (r["n_tokens"], r["n_removed"], r["n_pieces"], r["cleaned_text"])
            for r in op(docs, test, n=3, margin=0).collect()
        }
        assert got["d1"] == (0, 0, 0, ""), op.__name__
        assert got["d2"] == (5, 3, 2, "p t"), op.__name__

    schema = (
        "doc_id string, spans array<struct<"
        "kind:string,text:string,media_ref:string,offset:int>>"
    )
    idocs = spark.createDataFrame(
        [
            ("d1", [(None, None, "blob://x", 0), ("text", "q r s tail", None, 1)]),
            ("d2", [("text", None, None, 0)]),   # NULL text span
            ("d3", None),                          # NULL spans array
        ],
        schema,
    )
    got = {
        r["doc_id"]: (
            r["n_spans_before"], r["n_spans_after"], r["n_removed_tokens"],
            [(s["kind"], s["text"], s["media_ref"]) for s in r["spans"]],
        )
        for r in scrub_interleaved(idocs, test, n=3, margin=0).collect()
    }
    # the NULL-kind span survives byte-identical, in order
    assert got["d1"] == (2, 2, 3, [(None, None, "blob://x"),
                                   ("text", "tail", None)])
    # a NULL-text span is an empty text unit: kept, byte-identical
    assert got["d2"] == (1, 1, 0, [("text", None, None)])
    assert got["d3"] == (0, 0, 0, [])


def test_curate_interleaved_scrub_keeps_empty_span_docs(spark):
    """A doc that ARRIVED with an empty span array must survive the
    interleaved scrub gate (it has nothing to decontaminate) — only
    docs the scrub itself reduced to zero spans drop."""
    from entity_linking_in_biomedical_spark.plans.curate import (
        CurateConfig,
        curate_interleaved,
    )

    schema = (
        "doc_id string, spans array<struct<"
        "kind:string,text:string,media_ref:string,offset:int>>"
    )
    docs = spark.createDataFrame(
        [
            ("d1", [("text", "hello there world", None, 0)]),
            ("d2", []),
            ("d3", [("text", "q r s", None, 0)]),  # fully scrubbed -> drop
        ],
        schema,
    )
    test = spark.createDataFrame([("t1", "q r s")], "test_id string, text string")
    cfg = CurateConfig(
        langs=(), min_quality=None, near_dup=False,
        decontam_scrub=True, decontam_ngram=3,
    )
    res = curate_interleaved(docs, test=test, cfg=cfg, media_dedup=False)
    kept = sorted(r["doc_id"] for r in res["clean"].collect())
    assert kept == ["d1", "d2"]
    assert res["funnel"][-1] == ("decontam_scrub", 2)


def test_interleaved_profile_per_doc_and_rollup(spark):
    from entity_linking_in_biomedical_spark.operators.multimodal import (
        interleaved_profile,
    )

    def span(kind, text=None, ref=None, off=0):
        return (kind, text, ref, off)

    rows = [
        ("a", "s1", [span("text", text="hello"), span("media", ref="m1", off=1)]),
        ("b", "s1", [span("text", text="xy")]),
        ("c", "s2", []),  # zero spans -> media_frac 0.0, not NULL
    ]
    docs = spark.createDataFrame(
        rows,
        "doc_id string, source string, spans array<struct<"
        "kind:string,text:string,media_ref:string,offset:int>>",
    )
    got = {r["source"]: r for r in interleaved_profile(docs, "source").collect()}
    s1 = got["s1"]
    assert (s1["n_docs"], s1["n_spans"], s1["n_media"], s1["text_chars"]) == (2, 3, 1, 7)
    assert s1["avg_media_frac"] == 0.25  # mean(1/2, 0)
    s2 = got["s2"]
    assert (s2["n_spans"], s2["avg_media_frac"]) == (0, 0.0)
    # ungrouped corpus rollup: one row
    total = interleaved_profile(docs).collect()
    assert len(total) == 1 and total[0]["n_docs"] == 3
