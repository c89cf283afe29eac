"""End-to-end corpus curation: the composed transform a 100 TB
training-data run actually executes, wiring this repo's gates in the
standard order (CCNet/RefinedWeb/GPT-3 appendix C):

    [optional URL-level dedup first] -> [optional C4 line/page
    cleaning] -> [optional corpus-wide keep-first line dedup] ->
    language filter -> heuristic quality gate -> exact dedup
    (keep-first) -> near-dup canonicalization (MinHash/LSH + connected
    components) -> LM perplexity gate (bigram LM fit on the survivors;
    absolute max-avg-nll threshold and/or CCNet's relative
    head/middle/tail bucket keep) -> test-set decontamination

The two optional line-granularity gates REWRITE text before any
doc-level signal is computed (operators/boilerplate.py).

Every gate is one of the individually-oracled operators; this module
adds only the composition, the keep-first exact rule, and the funnel
accounting. The running frame is lazily localCheckpointed after each
gate, so the per-gate funnel counts materialize each stage once and
downstream gates reuse the blocks — k gates cost ~k passes, not k^2.

Scale notes: the language/quality gates are codegen'd scan filters
(the funnel's cheapest cuts first, shrinking everything downstream);
exact dedup is one hash shuffle; near-dup is the bucketed LSH + CC
transform; the LM gate is model-sized state; decontamination
broadcasts the test side. Nothing in the composition adds a shuffle
beyond its component operators'.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window, functions as F

from ..functions.text_metrics import quality_score
from ..session import pin


@dataclass
class CurateConfig:
    url_col: str | None = None  # set to enable URL-level dedup FIRST
    domain_quality_floor: float | None = None  # drop whole low-quality domains
    domain_min_docs: int = 3  # evidence floor for condemning a domain
    c4: bool = False  # C4 line/page cleaning (rewrites text) after URL dedup
    c4_blocked: tuple[str, ...] = ()  # extra page-drop phrases for the C4 gate
    line_dedup: bool = False  # corpus-wide keep-first line dedup (rewrites text)
    langs: tuple[str, ...] = ("en",)  # empty tuple skips the gate
    min_quality: float = 0.3
    near_dup: bool = True
    jaccard_threshold: float = 0.7
    max_avg_nll: float | None = None  # None skips the LM gate
    ppl_keep: tuple[str, ...] | None = None  # CCNet buckets kept, e.g. ("head","middle")
    ppl_exact: bool = True  # exact tertiles; False = approx_percentile sketch
    lm_vocab_cap: int = 50_000
    lm_alpha: float = 0.5
    decontam_ngram: int = 13
    decontam_min_overlap: int = 1
    # GPT-3 Appendix C scrub mode: instead of dropping every flagged
    # doc whole, remove only collision-covered tokens (± margin) and
    # drop a doc only when the scrub shatters it into more than
    # max_pieces surviving runs (or removes it entirely). Scrubbed
    # docs' text is rewritten in the tokenizer's normalized form
    # (lowercased, punctuation stripped) — the same normalization every
    # gate signal already computes on; untouched docs keep their
    # original bytes. The gate runs LAST, so no downstream signal sees
    # the normalized text.
    decontam_scrub: bool = False
    decontam_margin: int = 0
    decontam_max_pieces: int = 2


def curate_corpus(
    docs: DataFrame,
    test: DataFrame | None = None,
    cfg: CurateConfig = CurateConfig(),
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
) -> dict:
    """Returns {"clean": cleaned corpus DataFrame (input columns),
    "funnel": [(gate, rows_surviving), ...] — input first, then one
    entry per gate actually applied}."""
    cur = docs
    funnel: list[tuple[str, int]] = [("input", cur.count())]

    def gate(name: str, frame: DataFrame) -> DataFrame:
        frame = pin(frame)
        funnel.append((name, frame.count()))
        return frame

    if cfg.url_col:
        # URL dedup runs FIRST (RefinedWeb order): recrawl duplicates
        # share a URL, and this one short-key shuffle is far cheaper
        # than anything content-based downstream
        from ..operators.dedup import drop_url_duplicates

        cur = gate(
            "url_dedup", drop_url_duplicates(cur, url_col=cfg.url_col, id_col=id_col)
        )

    if cfg.url_col and cfg.domain_quality_floor is not None:
        # domain-level filtering (RefinedWeb 'bad neighborhoods'):
        # whole low-average-quality domains drop before per-doc gates —
        # one map-side-partial domain rollup + one short-key anti-join
        from ..operators.domain_filter import drop_bad_domains

        cur = gate(
            "domain_filter",
            drop_bad_domains(
                cur,
                url_col=cfg.url_col,
                text_col=text_col,
                min_avg_quality=cfg.domain_quality_floor,
                min_docs=cfg.domain_min_docs,
            ),
        )

    # the two LINE-granularity gates run before any doc-level gate:
    # they REWRITE text (C4 strips junk lines and drops junk pages;
    # line dedup strips repeated nav/footer chrome keep-first), so
    # every downstream signal — quality, content hash, minhash, LM
    # perplexity, contamination n-grams — sees the cleaned text
    if cfg.c4:
        from ..operators.boilerplate import c4_apply

        cur = gate(
            "c4", c4_apply(cur, text_col=text_col, blocked_phrases=cfg.c4_blocked)
        )

    if cfg.line_dedup:
        from ..operators.boilerplate import line_dedup_apply

        cur = gate(
            "line_dedup", line_dedup_apply(cur, id_col=id_col, text_col=text_col)
        )

    if cfg.langs:
        cur = gate("lang", cur.filter(F.col(lang_col).isin(*cfg.langs)))

    if cfg.min_quality is not None:
        cur = gate(
            "quality",
            cur.filter(quality_score(text_col) >= F.lit(float(cfg.min_quality))),
        )

    # exact dedup, keep-first by id within each content hash — one
    # shuffle on the hash (the cheapest bulk-duplicate cut)
    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(
        F.col(id_col).cast("string")
    )
    cur = gate(
        "exact_dedup",
        cur.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn"),
    )

    if cfg.near_dup:
        from ..operators.dedup import drop_near_duplicates

        cur = gate(
            "near_dup",
            drop_near_duplicates(
                cur,
                id_col=id_col,
                text_col=text_col,
                jaccard_threshold=cfg.jaccard_threshold,
            ),
        )

    if cfg.max_avg_nll is not None:
        from ..operators.lm import fit_bigram_lm, score_bigram_nll

        lm = fit_bigram_lm(cur, vocab_cap=cfg.lm_vocab_cap, alpha=cfg.lm_alpha)
        bad = (
            score_bigram_nll(cur, lm, id_col=id_col, text_col=text_col)
            .filter(F.col("avg_nll") > F.lit(float(cfg.max_avg_nll)))
            .select(id_col)
        )
        cur = gate("lm_nll", cur.join(bad, id_col, "left_anti"))

    if cfg.ppl_keep:
        # CCNet's RELATIVE gate (Wenzek et al. 2020 §4.4): bucket the
        # survivors at the avg_nll tertiles and keep only the named
        # buckets — unlike max_avg_nll this needs no absolute
        # threshold, so it transfers across corpora. Fit-on-survivors
        # like the absolute gate; one semi-join on the id
        from ..operators.lm import perplexity_buckets

        bad = (
            perplexity_buckets(
                cur,
                id_col=id_col,
                text_col=text_col,
                exact=cfg.ppl_exact,
                vocab_cap=cfg.lm_vocab_cap,
                alpha=cfg.lm_alpha,
            )
            .filter(~F.col("bucket").isin(*cfg.ppl_keep))
            .select(id_col)
        )
        # docs below the scorer's 2-bigram domain are never flagged and
        # pass through ungated, matching the absolute gate's stance
        cur = gate("ppl_bucket", cur.join(bad, id_col, "left_anti"))

    if test is not None and cfg.decontam_scrub:
        from ..operators.contamination import scrub_contamination

        scr = scrub_contamination(
            cur,
            test,
            n=cfg.decontam_ngram,
            margin=cfg.decontam_margin,
            id_col=id_col,
            text_col=text_col,
        ).select(
            F.col("doc_id").alias("__sid"), "n_removed", "n_pieces", "cleaned_text"
        )
        # scrub emits exactly one row per input doc, so an inner join
        # loses nothing
        joined = cur.join(scr, F.col(id_col).cast("string") == F.col("__sid"))
        # keep: untouched docs (original bytes), or scrubbed docs whose
        # surviving runs fit the pieces budget (n_pieces >= 1 excludes
        # fully-removed docs)
        kept = joined.filter(
            (F.col("n_removed") == 0)
            | (
                (F.col("n_pieces") >= 1)
                & (F.col("n_pieces") <= cfg.decontam_max_pieces)
            )
        )
        cur = gate(
            "decontam_scrub",
            kept.withColumn(
                text_col,
                F.when(F.col("n_removed") == 0, F.col(text_col)).otherwise(
                    F.col("cleaned_text")
                ),
            ).drop("__sid", "n_removed", "n_pieces", "cleaned_text"),
        )
    elif test is not None:
        from ..operators.contamination import decontaminate

        cur = gate(
            "decontaminate",
            decontaminate(
                cur,
                test,
                n=cfg.decontam_ngram,
                min_overlap=cfg.decontam_min_overlap,
                id_col=id_col,
                text_col=text_col,
            ),
        )

    return {"clean": cur, "funnel": funnel}


# ---- interleaved (span-shaped) front-end -----------------------------------

SPAN_TEXT_SEP = " "


def spans_text(spans_col: str = "spans") -> "F.Column":
    """Ordered concatenation of a document's kind='text' span texts —
    the projection every text gate runs on for INTERLEAVED documents
    (FIXTURES.md §1 span shape). Array order IS span order (the
    engine's span-sequence invariant), so no sort is needed; media
    spans contribute nothing. Pure row-local column expression."""
    return F.concat_ws(
        SPAN_TEXT_SEP,
        F.transform(
            F.filter(spans_col, lambda s: s["kind"] == F.lit("text")),
            lambda s: s["text"],
        ),
    )


def curate_interleaved(
    docs: DataFrame,
    test: DataFrame | None = None,
    cfg: CurateConfig = CurateConfig(),
    id_col: str = "doc_id",
    spans_col: str = "spans",
    media_dedup: bool = True,
) -> dict:
    """:func:`curate_corpus` over INTERLEAVED documents
    (doc_id, spans array<struct<kind,text,media_ref,offset>>): the
    composition a multimodal training-data run executes.

        media-asset keep-first dedup (span rewrite, not a doc gate)
        -> project text = ordered concat of text spans
        -> derive lang via the heuristic lang_id (span docs carry no
           lang column)
        -> every text gate of curate_corpus on the (id, text, lang)
           projection
        -> survivors semi-joined back to the SPAN shape
        -> [cfg.decontam_scrub + test]: span-aware decontamination
           LAST, in span shape (scrub_interleaved) — text spans lose
           only collision-covered tokens, media spans and span order
           pass through byte-identical, and a doc drops only when the
           scrub leaves it with zero spans. Whole-doc decontamination
           (the default gate) is excluded from the projected funnel in
           this mode so a flagged doc's clean spans survive.

    The text gates run on a 3-column projection, NOT the span frame:
    curate_corpus lazily checkpoints after each gate, and carrying
    media-bearing span arrays through k checkpoints would replicate
    the heavy payload k times. One id-keyed semi-join at the end
    re-attaches spans — ids-only through the funnel, payload scanned
    twice total (once for the rewrite/projection, once to emit).

    Returns {"clean": span-shaped survivors (media-deduped spans,
    relative span order preserved), "funnel": curate_corpus's doc-count
    funnel, "media_spans": (spans_before, spans_after) — the span-level
    effect of the media gate, kept out of the doc-count funnel}.
    """
    from ..functions.text_metrics import lang_id
    from ..operators.multimodal import drop_duplicate_media

    cur = docs
    media_spans = None
    if media_dedup:
        before = docs.select(F.sum(F.size(spans_col))).first()[0] or 0
        cur = pin(drop_duplicate_media(cur))
        after = cur.select(F.sum(F.size(spans_col))).first()[0] or 0
        media_spans = (int(before), int(after))

    proj = cur.select(
        F.col(id_col),
        spans_text(spans_col).alias("__text"),
    ).withColumn("__lang", lang_id("__text"))

    span_scrub = test is not None and cfg.decontam_scrub
    out = curate_corpus(
        proj,
        test=None if span_scrub else test,
        cfg=cfg,
        id_col=id_col,
        text_col="__text",
        lang_col="__lang",
    )
    clean = cur.join(out["clean"].select(id_col), id_col, "semi")
    funnel = out["funnel"]
    if span_scrub:
        from ..operators.contamination import scrub_interleaved

        scrubbed = scrub_interleaved(
            clean,
            test,
            n=cfg.decontam_ngram,
            margin=cfg.decontam_margin,
            id_col=id_col,
            spans_col=spans_col,
        )
        # doc-drop rule in span shape: only a doc the scrub left with
        # ZERO spans drops (the per-span pieces budget has no doc-level
        # meaning here — media interruptions already segment the doc).
        # The scrubbed span arrays replace the originals via an id join
        # so every other input column (and the id's type) is preserved.
        # (n_spans_before == 0 keeps docs that ARRIVED with an empty
        # span array — every other gate passes them through, so the
        # scrub gate must not claim them as decontamination losses)
        surv = scrubbed.filter(
            (F.col("n_spans_after") > 0) | (F.col("n_spans_before") == 0)
        ).select(
            F.col("doc_id").alias("__sid"), F.col(spans_col).alias("__newspans")
        )
        clean = pin(
            clean.drop(spans_col)
            .join(surv, F.col(id_col).cast("string") == F.col("__sid"))
            .withColumnRenamed("__newspans", spans_col)
            .drop("__sid")
        )
        funnel = funnel + [("decontam_scrub", clean.count())]
    return {"clean": clean, "funnel": funnel, "media_spans": media_spans}
