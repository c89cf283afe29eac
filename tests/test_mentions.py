"""Overlap-dedup sweep (W7) + mention extraction + abbreviation join (J4)
+ span stats (A5)."""

from __future__ import annotations

from entity_linking_in_biomedical_spark.operators.mentions import (
    _sweep,
    extract_mentions,
    mention_stats,
)


def span(kind, text, offset, media=None):
    return {"kind": kind, "text": text, "media_ref": media, "offset": offset}


class TestSweep:
    def test_no_overlap(self):
        spans = [span("mention", "abc", 0), span("text", "filler", 4), span("mention", "def", 11)]
        assert _sweep(spans) == [0, 2]

    def test_same_start_keeps_longer(self):
        # reference: same start -> longer mention wins (medmention_preprocess.py:62-66)
        spans = [span("mention", "abc", 0), span("mention", "abcdef", 0)]
        assert _sweep(spans) == [1]

    def test_later_overlap_keeps_first(self):
        # next.start < prev.end but different start -> first wins
        spans = [span("mention", "abcdef", 0), span("mention", "cde", 2)]
        assert _sweep(spans) == [0]

    def test_nested_chain(self):
        spans = [
            span("mention", "abcdefgh", 0),
            span("mention", "bcd", 1),
            span("mention", "xyz", 9),
        ]
        assert _sweep(spans) == [0, 2]

    def test_media_and_text_ignored(self):
        spans = [span("media", "", 0, "img://x"), span("mention", "abc", 1)]
        assert _sweep(spans) == [1]


class TestExtract:
    def test_extraction_and_norm(self, spark):
        docs = spark.createDataFrame(
            [
                (
                    "D1",
                    [
                        ("text", "intro", None, 0),
                        ("mention", "Breast Cancer!", None, 6),
                        ("media", "", "img://D1/2", 21),
                        ("mention", "BRCA1", None, 22),
                    ],
                )
            ],
            "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
        )
        got = extract_mentions(docs).orderBy("span_seq").collect()
        assert [(r["span_seq"], r["norm"]) for r in got] == [
            (1, "breast cancer"),
            (3, "brca1"),
        ]

    def test_abbr_expansion(self, spark):
        docs = spark.createDataFrame(
            [("D1", [("mention", "EGFR", None, 0)])],
            "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
        )
        abbr = spark.createDataFrame(
            [("D1", "EGFR", "epidermal growth factor receptor")],
            "doc_id string, abbr string, long_form string",
        )
        got = extract_mentions(docs, abbr).collect()
        assert got[0]["norm"] == "epidermal growth factor receptor"

    def test_overlap_dropped_in_spark(self, spark):
        docs = spark.createDataFrame(
            [
                (
                    "D1",
                    [
                        ("mention", "abcdef", None, 0),
                        ("mention", "cde", None, 2),
                    ],
                )
            ],
            "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
        )
        got = extract_mentions(docs).collect()
        assert [r["span_seq"] for r in got] == [0]


def test_mention_stats(spark):
    docs = spark.createDataFrame(
        [
            (
                "D1",
                [
                    ("text", "BRCA1 mutations cause cancer", None, 0),
                    ("mention", "BRCA1", None, 0),
                    ("mention", "cancer", None, 22),
                    ("media", "", "img://D1/3", 29),
                ],
            )
        ],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    r = mention_stats(docs).collect()[0]
    assert (r["n_mentions"], r["n_media"], r["n_text"], r["n_spans"]) == (2, 1, 1, 4)
