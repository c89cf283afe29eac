"""Mention extraction from interleaved span documents.

Stage 0 of the pipeline: documents(doc_id, spans) -> mentions
(doc_id, span_seq, surface, norm). The documents table itself is never
rewritten — the span-sequence invariant (north rule) is structurally
guaranteed because only *derived* DataFrames are produced; cluster ids
are joined back as a separate column at the end.

Covers reference operators:
- W7 overlap-dedup sweep (medmention_preprocess.py:43-92, core 59-70):
  spans in document order; while next.start < prev.end: same start ->
  keep the longer; else keep the first. Sequential per-document logic
  over an intra-row array -> Arrow pandas UDF (one Python call per
  ~10k-doc batch), not a shuffle.
- J4 abbreviation expansion (medmention_preprocess.py:124-181): the
  reference splices the long form into the raw text and recomputes every
  downstream char offset; operating on structured spans, the equivalent
  is a broadcast join abbr_map -> surface rewrite, offsets untouched.
- P6 lowercase normalization (candidate_generator.py:60,70).
- S7 mention scan in document order (``span_seq`` preserves order,
  medmention_preprocess.py:281-294).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, functions as F

from ..functions.normalize import norm_key


def _sweep_triples(ms: list[tuple[int, int, int]]) -> list[int]:
    """Core sweep over (start, end, span_seq) mention triples.

    Reference semantics (medmention_preprocess.py:59-70): walk mentions
    ordered by (start, seq); if the next mention starts before the
    previous kept one ends: same start -> keep the longer one, else
    keep the first (drop the later)."""
    ms.sort(key=lambda t: (t[0], t[2]))
    kept: list[tuple[int, int, int]] = []
    for start, end, i in ms:
        if kept and start < kept[-1][1]:
            pstart, pend, pi = kept[-1]
            if start == pstart and end > pend:
                kept[-1] = (start, end, i)  # same start: longer wins
            # else: keep first -> drop current
        else:
            kept.append((start, end, i))
    return sorted(i for _, _, i in kept)


def _sweep(spans) -> list[int]:
    """Overlap-dedup sweep over one document's full span array; returns
    the span indices (positions in the array) of *surviving* mention
    spans. This dict-shaped form is the single-node oracle twin
    (tests/oracle_impl.py, tools/gen_er_golden.py)."""
    return _sweep_triples(
        [
            (s["offset"], s["offset"] + len(s["text"] or ""), i)
            for i, s in enumerate(spans)
            if s["kind"] == "mention"
        ]
    )


def surviving_span_seqs(col):
    """Arrow-vectorized wrapper around the per-doc sweep. Built lazily —
    pandas_udf registration needs an active SparkSession.

    The sweep needs only (is_mention, offset, length) per span, so the
    span array is slimmed JVM-side with ``transform`` before it crosses
    the Arrow boundary — never ship the document text to Python to
    compute three ints. (Measured on an 8-executor cluster at 150k
    docs: shipping full spans made this the one stage whose wall time
    GREW with executor count — 6s -> 30-90s — because 32 concurrent
    Python workers first-touching full-text Arrow buffers saturate the
    host's memory controllers; the slim payload removes ~95% of the
    transferred bytes.)"""
    slim = F.transform(
        col if not isinstance(col, str) else F.col(col),
        lambda s: F.struct(
            (s["kind"] == F.lit("mention")).alias("m"),
            s["offset"].alias("o"),
            F.length(F.coalesce(s["text"], F.lit(""))).alias("l"),
        ),
    )

    @F.pandas_udf("array<int>")
    def _udf(spans: pd.Series) -> pd.Series:
        return spans.apply(
            lambda sp: _sweep_triples(
                [(s["o"], s["o"] + s["l"], i) for i, s in enumerate(sp) if s["m"]]
            )
        )

    return _udf(slim)


def extract_mentions(documents: DataFrame, abbr_map: DataFrame | None = None) -> DataFrame:
    """documents -> mentions(doc_id, span_seq, surface, norm).

    Shape: one narrow projection + posexplode; the only Python boundary
    is the overlap sweep (array-in/array-out per row). ``mention_id``
    is (doc_id, span_seq) — never the surface string (the reference
    keys candidates by deduped lowercase surface and silently collides
    distinct mentions, candidate_generator.py:75-80,110-111)."""
    exploded = (
        documents.withColumn("keep", surviving_span_seqs("spans"))
        .select("doc_id", "keep", F.posexplode("spans").alias("span_seq", "span"))
        .filter(
            (F.col("span.kind") == "mention") & F.array_contains("keep", F.col("span_seq"))
        )
        .select("doc_id", "span_seq", F.col("span.text").alias("surface"))
    )
    if abbr_map is not None:
        # Ab3P short-form -> long-form rewrite; the map is tiny (per-doc
        # abbreviation pairs) so broadcast, never shuffle the corpus.
        exploded = (
            exploded.join(
                F.broadcast(abbr_map.withColumnRenamed("abbr", "surface")),
                ["doc_id", "surface"],
                "left",
            )
            .withColumn("surface", F.coalesce("long_form", "surface"))
            .drop("long_form")
        )
    return exploded.withColumn("norm", norm_key("surface")).filter(F.col("norm") != "")


def mention_stats(documents: DataFrame) -> DataFrame:
    """A5: mention/media/text span counts per doc — pure JVM column
    aggregates over the span array (no explode, no shuffle)."""
    def n_of(kind: str):
        return F.size(F.filter("spans", lambda s: s["kind"] == kind))

    return documents.select(
        "doc_id",
        n_of("mention").alias("n_mentions"),
        n_of("media").alias("n_media"),
        n_of("text").alias("n_text"),
        F.size("spans").alias("n_spans"),
    )
