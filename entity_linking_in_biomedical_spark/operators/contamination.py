"""Train/test contamination detection: word n-gram overlap between a
(small) evaluation set and the (huge) training corpus — the standard
decontamination pass an LLM training-data pipeline runs before a corpus
ships (the GPT-3/PaLM 13-gram rule).

Scale shape: the test side is tiny (benchmarks are thousands of docs);
its distinct gram set is built once and **broadcast**, so the corpus
side — the 100 TB table — is a single scan + explode + map-side hash
join + partial-aggregated groupBy. No corpus-side shuffle happens
before the aggregation, and that aggregation's key space is bounded by
|contaminated pairs|, not |corpus grams|. Grams travel as xxhash64
longs, not strings, so the broadcast and the join keys stay 8 bytes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.lambdas import let_bound
from ..functions.text_metrics import tokens
from ..session import pin


def word_ngrams(col, n: int):
    """Distinct word n-grams of a text column as an array<string>.
    Pure column expression (sequence + slice + concat_ws). Documents
    with fewer than n tokens yield an empty array — guarded explicitly
    because Spark's sequence(1, 0) counts DOWN ([1, 0]), it is not
    empty.

    The token array is let-bound (functions.lambdas.let_bound): an
    inline tokens(col) inside the gram lambda would re-run the regexp
    tokenizer once PER GRAM — O(tokens^2) per document."""

    def grams(toks):
        m = F.size(toks) - (n - 1)
        return F.when(
            m >= 1,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), m),
                    lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
                )
            ),
        ).otherwise(F.array().cast("array<string>"))

    return let_bound(tokens(col), grams)


def ngram_contamination(
    corpus: DataFrame,
    test: DataFrame,
    n: int = 13,
    min_overlap: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    test_id_col: str = "test_id",
) -> DataFrame:
    """Flag (corpus doc, test doc) pairs sharing >= min_overlap distinct
    word n-grams.

    Returns (doc_id, test_id, n_overlap, contamination) where
    contamination = n_overlap / |test doc's distinct grams| in [0, 1].

    The test side is assumed broadcastable (eval sets are); each side's
    grams are de-duplicated per document BEFORE the join so a repeated
    phrase cannot double-count, and grams are joined as xxhash64 longs.
    """
    # word_ngrams de-duplicates per document (array_distinct before the
    # explode), so neither side needs a .distinct() — the corpus side
    # reaches the join with zero shuffles
    t_grams = test.select(
        F.col(test_id_col),
        F.explode(word_ngrams(F.col(text_col), n)).alias("gram"),
    ).select(test_id_col, F.xxhash64("gram").alias("g"))
    t_sizes = t_grams.groupBy(test_id_col).agg(F.count("*").alias("n_test_grams"))
    c_grams = corpus.select(
        F.col(id_col), F.explode(word_ngrams(F.col(text_col), n)).alias("gram")
    ).select(id_col, F.xxhash64("gram").alias("g"))
    overlaps = (
        c_grams.join(F.broadcast(t_grams), "g")
        .groupBy(id_col, test_id_col)
        .agg(F.count("*").alias("n_overlap"))
        .filter(F.col("n_overlap") >= min_overlap)
    )
    return overlaps.join(F.broadcast(t_sizes), test_id_col).select(
        id_col,
        test_id_col,
        "n_overlap",
        F.round(F.col("n_overlap") / F.col("n_test_grams"), 6).alias("contamination"),
    )


def decontaminate(
    corpus: DataFrame,
    test: DataFrame,
    n: int = 13,
    min_overlap: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    test_id_col: str = "test_id",
) -> DataFrame:
    """The removal transform over :func:`ngram_contamination`: the
    corpus minus every document flagged against ANY test doc — what a
    decontamination pass actually ships (GPT-3 appendix C drops the
    overlapping training documents, not just reports them).

    One left-anti join on doc id against the flagged set; the flag
    computation keeps the batch operator's shape (test grams broadcast,
    zero corpus-side pre-join shuffles), so the whole transform is a
    single corpus scan + map-side join + the bounded flag aggregation.
    """
    flagged = ngram_contamination(
        corpus,
        test,
        n=n,
        min_overlap=min_overlap,
        id_col=id_col,
        text_col=text_col,
        test_id_col=test_id_col,
    ).select(id_col).distinct()
    return corpus.join(flagged, id_col, "left_anti")


def scrub_contamination(
    corpus: DataFrame,
    test: DataFrame,
    n: int = 13,
    margin: int = 0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Span-level decontamination (GPT-3 Appendix C at token
    granularity): instead of dropping every flagged document whole
    (:func:`decontaminate`), remove only the tokens covered by a
    test-set n-gram collision, padded by ``margin`` tokens on each side
    (the paper's 200-character buffer, expressed in tokens), and
    re-join the survivors in order.

    -> (doc_id, n_tokens, n_removed, n_pieces, cleaned_text), one row
    per input doc. ``n_pieces`` counts the contiguous surviving runs —
    the paper discards docs split into 3+ pieces, which this frame
    makes a one-filter follow-up (``F.col("n_pieces") <= 2``).

    Scale shape at 10^12 docs: the test side's distinct gram hashes
    broadcast as xxhash64 longs (same budget as the detection op); the
    corpus side is ONE scan + window posexplode + map-side LEFT SEMI
    join — zero corpus-side shuffles before the rebuild. Only COLLIDING
    windows expand into drop positions, so the cost beyond detection is
    proportional to the contamination found, not the corpus size. The
    reassembly tail is shared with the passage-dedup transform
    (operators/dedup.py::rebuild_minus_positions) — only docs with a
    collision pay its explode + reassembly shuffle; clean docs stream
    through as a row-local projection.
    """
    from .dedup import rebuild_minus_positions

    t_hashes = _test_gram_hashes(test, text_col, n)
    base = pin(corpus.select(
        F.col(id_col).cast("string").alias("doc_id"), tokens(text_col).alias("toks")
    ))
    drops = _collision_drops(base, F.broadcast(t_hashes), n, margin, ["doc_id"])
    return rebuild_minus_positions(base, drops)


def _test_gram_hashes(test: DataFrame, text_col: str, n: int) -> DataFrame:
    """Distinct xxhash64 longs of the test set's word n-grams — the
    broadcast side every scrub variant joins against."""
    return (
        test.select(F.explode(word_ngrams(F.col(text_col), n)).alias("gram"))
        .select(F.xxhash64("gram").alias("g"))
        .distinct()
    )


def window_hashes(toks, n: int):
    """xxhash64 longs of every n-token window of ``toks``, in position
    order (empty when the unit is shorter than n — guarded explicitly
    because Spark's sequence(1, 0) counts DOWN). Shared by the
    shuffling and row-local scrub forms so their gram hashing can never
    drift apart."""
    m = F.size(toks) - (n - 1)
    return F.when(
        m >= 1,
        F.transform(
            F.sequence(F.lit(1), m),
            lambda i: F.xxhash64(F.concat_ws(" ", F.slice(toks, i, n))),
        ),
    ).otherwise(F.array().cast("array<bigint>"))


def _collision_drops(base, t_hashes, n: int, margin: int, keys: list) -> DataFrame:
    """(*keys, toks) -> (*keys, ti) token positions covered by a
    test-gram collision ± margin. Window hashes stream through a
    posexplode + LEFT SEMI join — only colliding windows expand into
    positions. Positions past the unit end (pos + n - 1 + margin >
    n_tokens) are tolerated by the rebuild tail's anti-join — no clamp
    join needed."""
    wdf = base.select(
        *keys, F.posexplode(window_hashes(F.col("toks"), n)).alias("p", "g")
    ).select(
        *keys, (F.col("p") + 1).alias("pos"), "g"
    )
    hits = wdf.join(t_hashes, "g", "left_semi")
    return hits.select(
        *keys,
        F.explode(
            F.sequence(
                F.greatest(F.col("pos") - margin, F.lit(1)),
                F.col("pos") + (n - 1) + margin,
            )
        ).alias("ti"),
    ).dropDuplicates(keys + ["ti"])


def scrub_interleaved(
    docs: DataFrame,
    test: DataFrame,
    n: int = 13,
    margin: int = 0,
    id_col: str = "doc_id",
    spans_col: str = "spans",
) -> DataFrame:
    """:func:`scrub_contamination` over INTERLEAVED documents
    (doc_id, spans array<struct<kind,text,media_ref,offset>>) — the
    span-aware decontamination a multimodal curation run executes:

    - media spans pass through untouched (kind, media_ref, offset
      byte-identical);
    - each TEXT span is scrubbed independently: the n-gram stream
      BREAKS at media boundaries — a gram spelled across an image
      interruption is not contiguous text in the source document, so
      collisions are detected within a span, never across spans;
    - a text span whose tokens are all removed is DROPPED from the
      array; survivors keep their original relative order and their
      original ``offset`` (provenance: position in the source doc);
    - an untouched text span keeps its ORIGINAL text byte-identically
      (the token re-join only rewrites spans that actually lost
      tokens), so clean documents round-trip exactly.

    -> (doc_id, spans, n_spans_before, n_spans_after, n_removed_tokens)
    — one row per input doc; a fully-contaminated doc survives as an
    empty span array (callers decide whether to drop it).

    Scale shape: identical to the flat scrub — broadcast gram longs,
    one span explode + map-side semi-join, drop expansion proportional
    to contamination found, ONE groupBy(doc, span) rebuild + ONE
    groupBy(doc) re-assembly; the media side never leaves the JVM and
    never carries through the token shuffle.
    """
    from .dedup import rebuild_minus_positions

    t_hashes = _test_gram_hashes(test, "text", n)
    ex = pin(docs.select(
        F.col(id_col).cast("string").alias("doc_id"),
        F.posexplode(spans_col).alias("si", "sp"),
    ))
    txt = pin(ex.filter(F.col("sp.kind") == "text").select(
        "doc_id",
        "si",
        F.col("sp.text").alias("orig_text"),
        F.col("sp.offset").alias("offset"),
        tokens(F.col("sp.text")).alias("toks"),
    ))
    keys = ["doc_id", "si"]
    drops = _collision_drops(txt, F.broadcast(t_hashes), n, margin, keys)
    scr = rebuild_minus_positions(txt.select(*keys, "toks"), drops, tuple(keys))
    out_txt = (
        scr.join(txt.select(*keys, "orig_text", "offset"), keys)
        # drop rule: had tokens, lost them all. Originally-empty text
        # spans (n_tokens = 0) survive byte-identical like clean ones.
        .filter((F.col("n_tokens") == 0) | (F.col("n_removed") < F.col("n_tokens")))
        .select(
            *keys,
            "n_removed",
            F.struct(
                F.lit("text").alias("kind"),
                F.when(F.col("n_removed") == 0, F.col("orig_text"))
                .otherwise(F.col("cleaned_text"))
                .alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                F.col("offset").alias("offset"),
            ).alias("newsp"),
        )
    )
    # null-safe: a span whose kind is NULL must pass through like any
    # non-text span, not vanish (kind != 'text' is null-rejecting)
    media = ex.filter(~F.col("sp.kind").eqNullSafe("text")).select(
        *keys, F.lit(0).alias("n_removed"), F.col("sp").alias("newsp")
    )
    surv = out_txt.unionByName(media)
    reassembled = surv.groupBy("doc_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("si", "newsp"))),
            lambda x: x["newsp"],
        ).alias("spans"),
        F.count("*").alias("n_spans_after"),
    )
    removed = scr.groupBy("doc_id").agg(F.sum("n_removed").alias("n_removed_tokens"))
    base_stats = docs.select(
        F.col(id_col).cast("string").alias("doc_id"),
        # NULL spans arrays count as empty (F.size(NULL) is -1 or NULL
        # depending on spark.sql.legacy.sizeOfNull)
        F.when(F.col(spans_col).isNull(), F.lit(0))
        .otherwise(F.size(spans_col))
        .cast("long")
        .alias("n_spans_before"),
    )
    return (
        base_stats.join(reassembled, "doc_id", "left")
        .join(removed, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("spans", F.array().cast(reassembled.schema["spans"].dataType)).alias("spans"),
            "n_spans_before",
            F.coalesce("n_spans_after", F.lit(0)).cast("long").alias("n_spans_after"),
            F.coalesce("n_removed_tokens", F.lit(0)).cast("long").alias("n_removed_tokens"),
        )
    )


# Broadcast budget for scrub_stream's cross-join: total distinct
# test-side gram hashes (8 bytes each + array overhead). 10M longs is
# ~100 MB broadcast — near the practical executor-memory ceiling; real
# eval sets (thousands of docs × hundreds of grams) sit 100-1000× below.
MAX_BROADCAST_GRAMS = 10_000_000


def _guard_gram_broadcast(test: DataFrame, text_col: str, n: int) -> None:
    """Broadcast budget for :func:`scrub_stream`: the static test side is
    counted ONCE at stream-construction time (one tiny batch job), and a
    total distinct-gram count above :data:`MAX_BROADCAST_GRAMS` raises
    ``ValueError`` naming the batch operator to run per micro-batch
    instead — rather than silently OOMing executors mid-stream."""
    total_grams = (
        test.select(F.size(word_ngrams(F.col(text_col), n)).alias("n_grams"))
        .agg(F.sum("n_grams").alias("total"))
        .collect()[0]["total"]
        or 0
    )
    if total_grams > MAX_BROADCAST_GRAMS:
        raise ValueError(
            f"scrub_stream: test side has {total_grams} distinct grams "
            f"(> MAX_BROADCAST_GRAMS={MAX_BROADCAST_GRAMS}); the "
            "broadcast-cross-join form would risk executor OOM. Run the "
            "shuffling batch operator scrub_contamination per micro-batch "
            "(writeStream.foreachBatch(lambda df, i: sink(scrub_contamination("
            "df, test, ...), i)))."
        )


def scrub_stream(
    stream_docs: DataFrame,
    test: DataFrame,
    n: int = 13,
    margin: int = 0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Online span-level decontamination: :func:`scrub_contamination`
    re-expressed as a PURE row-local column pipeline against ONE
    broadcast array of test gram hashes — zero corpus-side shuffles and
    no state, so it runs identically on a static frame or a readStream
    (append mode, any trigger; same output schema and exact value
    agreement with the batch scrub, asserted in tests).

    Per-row cost: O(n_tokens · n) window hashing + ONE
    ``array_intersect`` against the broadcast set — which is O(G) per
    row (Spark rebuilds the contains-set per invocation), G = total
    distinct test grams. Only the position scans after the intersect
    are proportional to contamination found. That O(G)-per-row term is
    the price of statelessness: it is the right trade on MICRO-BATCHES
    against eval-set-sized gram sets (the regime this operator exists
    for), but on a corpus at rest the batch operator amortizes the gram
    set across all rows via the hash join and is ~5× faster (measured
    2.3 s vs 11.6 s at sf0.1/18.5k grams) — use :func:`scrub_contamination`
    there. The test side's distinct grams are capped at
    :data:`MAX_BROADCAST_GRAMS`; the shuffling batch operator per
    micro-batch (:func:`scrub_contamination` under ``foreachBatch``)
    remains the path for oversized eval sets.
    """
    from ..functions.lambdas import let_bound

    _guard_gram_broadcast(test, text_col, n)
    tg = _test_gram_hashes(test, text_col, n).agg(
        F.array_sort(F.collect_list("g")).alias("t_grams")
    )
    j = stream_docs.select(
        F.col(id_col).cast("string").alias("doc_id"), F.col(text_col)
    ).crossJoin(F.broadcast(tg))

    # Every stage is let-bound: Catalyst's projection collapse inlines a
    # withColumn expression into EVERY reference, and a reference inside
    # a higher-order lambda re-evaluates it once PER ELEMENT — the
    # window-hash array referenced per position would make this
    # O(n_tokens^2 * n). Measured 155 s -> ~2 s at sf0.01 on this exact
    # pipeline (functions/lambdas.py documents the trap).
    def with_toks(toks):
        nt = F.size(toks)
        wh_e = window_hashes(toks, n)

        def with_wh(wh):
            def with_coll(coll):
                hit_e = F.when(
                    F.size(wh) >= 1,
                    F.filter(
                        F.sequence(F.lit(1), F.size(wh)),
                        lambda p: F.array_contains(coll, F.element_at(wh, p)),
                    ),
                ).otherwise(F.array().cast("array<int>"))

                def with_hits(hits):
                    drop_e = F.array_distinct(
                        F.flatten(
                            F.transform(
                                hits,
                                lambda p: F.sequence(
                                    F.greatest(p - margin, F.lit(1)),
                                    F.least(p + (n - 1) + margin, nt),
                                ),
                            )
                        )
                    )

                    def with_drops(drops):
                        kept_e = F.when(
                            nt >= 1,
                            F.filter(
                                F.sequence(F.lit(1), nt),
                                lambda t: ~F.array_contains(drops, t),
                            ),
                        ).otherwise(F.array().cast("array<int>"))

                        def with_kept(kept):
                            ksz = F.size(kept)
                            from .dedup import piece_runs

                            pieces = F.when(ksz == 0, F.lit(0)).otherwise(
                                piece_runs(kept, ksz)
                            )
                            return F.struct(
                                nt.alias("n_tokens"),
                                (nt - ksz).alias("n_removed"),
                                pieces.alias("n_pieces"),
                                F.concat_ws(
                                    " ",
                                    F.transform(
                                        kept, lambda t: F.element_at(toks, t)
                                    ),
                                ).alias("cleaned_text"),
                            )

                        return let_bound(kept_e, with_kept)

                    return let_bound(drop_e, with_drops)

                return let_bound(hit_e, with_hits)

            return let_bound(F.array_intersect(wh, F.col("t_grams")), with_coll)

        return let_bound(wh_e, with_wh)

    # explode of a singleton array: a Generate node is NOT collapsed
    # into the downstream projection, so the chain evaluates ONCE and
    # the four field extractions read a bound attribute. A plain struct
    # column would be re-inlined per field (SimplifyExtractValueOps)
    # and then deduplicated again only by codegen-level subexpression
    # elimination — measured equal on this host, but the Generate makes
    # single evaluation structural instead of optimizer-dependent
    res = j.select(
        "doc_id",
        # NULL text behaves as an empty doc (F.size(NULL) = -1 would
        # otherwise poison n_tokens/n_removed)
        F.explode(
            F.array(
                let_bound(
                    F.coalesce(tokens(text_col), F.array().cast("array<string>")),
                    with_toks,
                )
            )
        ).alias("r"),
    )
    return res.select(
        "doc_id",
        F.col("r.n_tokens").alias("n_tokens"),
        F.col("r.n_removed").alias("n_removed"),
        F.col("r.n_pieces").alias("n_pieces"),
        F.col("r.cleaned_text").alias("cleaned_text"),
    )
