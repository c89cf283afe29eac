"""Multimodal (media-span) processing plumbing.

Media spans (kind='media') ride through the ER pipeline untouched; this
module is the training-data path that would decode and featurize them.
The container has no image/audio libraries, so the decode kernel is a
deterministic fake gated behind ``decoder=``; everything Spark-side —
schema, Arrow batch shape, partitioning — is real and tested. A real
deployment drops in a decoder callable (e.g. PIL/torchvision) without
touching the dataflow.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F
from ..session import pin

MEDIA_FEATURES_SCHEMA = (
    "doc_id string, span_seq int, media_ref string, "
    "width int, height int, n_frames int, feature array<float>"
)


def fake_decoder(media_ref: str, payload: bytes | None) -> dict:
    """Deterministic stand-in for an image/video decode: derives fake
    dimensions and a 8-d feature from the md5 of the ref. A real decoder
    returns the same dict shape from actual bytes."""
    import hashlib

    h = hashlib.md5((media_ref or "").encode()).digest()
    return {
        "width": 64 + h[0],
        "height": 64 + h[1],
        "n_frames": 1 + h[2] % 8,
        "feature": [b / 255.0 for b in h[3:11]],
    }


def extract_media_features(
    documents: DataFrame,
    decoder: Callable[[str, bytes | None], dict] = fake_decoder,
    payload_col: str | None = None,
) -> DataFrame:
    """documents(doc_id, spans) -> one feature row per media span.

    Plumbing shape: posexplode (JVM) -> mapInPandas over (doc_id,
    span_seq, media_ref[, payload]) — the decode kernel sees Arrow
    batches, never row-at-a-time Python. Opaque media payloads would be
    a ``binary`` column carried alongside (``payload_col``)."""
    media = documents.select(
        "doc_id", F.posexplode("spans").alias("span_seq", "span")
    ).filter(F.col("span.kind") == "media").select(
        "doc_id",
        "span_seq",
        F.col("span.media_ref").alias("media_ref"),
        *([F.col(payload_col).alias("payload")] if payload_col else []),
    )

    has_payload = payload_col is not None

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                decoder(ref, (pdf["payload"].iloc[i] if has_payload else None))
                for i, ref in enumerate(pdf["media_ref"])
            ]
            out = pd.DataFrame(feats)
            out.insert(0, "media_ref", pdf["media_ref"].values)
            out.insert(0, "span_seq", pdf["span_seq"].values)
            out.insert(0, "doc_id", pdf["doc_id"].values)
            yield out[["doc_id", "span_seq", "media_ref", "width", "height", "n_frames", "feature"]]

    return media.mapInPandas(decode_batches, MEDIA_FEATURES_SCHEMA)


FRAME_SAMPLE_SCHEMA = (
    "doc_id string, span_seq int, media_ref string, "
    "frame_idx int, frame_feature array<float>"
)


def sample_frames(
    media_features: DataFrame,
    k: int = 3,
    decoder: Callable[[str, bytes | None], dict] = fake_decoder,
) -> DataFrame:
    """Deterministic frame sampling for video media: given the feature
    rows from :func:`extract_media_features`, emit up to ``k`` frames
    per media span at evenly spaced indices over [0, n_frames), each
    with a per-frame feature (decoder called with ``ref#<frame_idx>`` —
    a real decoder seeks to the frame and featurizes it; the fake twin
    keeps everything deterministic).

    Index selection is pure JVM (sequence + transform); only the
    per-frame featurize crosses to Python, batched."""
    # zero-frame media (still image / failed decode from a real decoder)
    # emits no rows — without this, sequence(0, -1) yields [0, -1] and
    # the index division by least(n_frames, k)=0 throws under ANSI mode
    frames = media_features.filter(F.col("n_frames") > 0).select(
        "doc_id",
        "span_seq",
        "media_ref",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.least(F.col("n_frames"), F.lit(k)) - 1),
                # evenly spaced: floor(i * n_frames / min(k, n_frames))
                lambda i: F.floor(
                    (i * F.col("n_frames"))
                    / F.least(F.col("n_frames"), F.lit(k))
                ).cast("int"),
            )
        ).alias("frame_idx"),
    )

    def featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                decoder(f"{ref}#{idx}", None)["feature"]
                for ref, idx in zip(pdf["media_ref"], pdf["frame_idx"])
            ]
            out = pdf[["doc_id", "span_seq", "media_ref", "frame_idx"]].copy()
            out["frame_feature"] = feats
            yield out

    return frames.mapInPandas(featurize, FRAME_SAMPLE_SCHEMA)


def drop_duplicate_media(documents: DataFrame) -> DataFrame:
    """Corpus-wide media-asset dedup over INTERLEAVED documents: the
    same ``media_ref`` appearing in several spans (across documents or
    within one) keeps only its FIRST occurrence — smallest
    (doc_id, span position) under the span struct's own ordering — and
    every other media span carrying that ref is dropped from its
    document's span array. Text spans are untouched and the RELATIVE
    ORDER of all surviving spans is preserved (the engine's
    span-sequence invariant; asserted in tests). NULL media_refs are
    never deduped — no identity to collide on.

    Why this exists: an image/video reused across crawled pages is the
    multimodal analogue of boilerplate text; training pipelines dedup
    assets by identity/content hash BEFORE paying decode cost. With
    content-hashed refs (media_ref = hash of bytes) this is exact
    content dedup; with URL refs it is identity dedup.

    Scale shape: only MEDIA spans explode (a small fraction of spans);
    one map-side-partial groupBy(media_ref) picks keepers, losers fold
    back to one array<int> of drop positions per affected document, and
    the span-array rewrite is a row-local higher-order filter — no
    shuffle of text payloads, no UDF. Documents with no duplicated
    media pass through the left join unchanged."""
    media = _media_spans(documents)
    keeper = media.groupBy(F.col("s.media_ref").alias("__ref")).agg(
        F.min(
            F.struct(F.col("doc_id").alias("d"), F.col("pos").alias("p"))
        ).alias("k"),
        F.count(F.lit(1)).alias("__n"),
    )
    # only refs that actually collide produce drop work
    drops = (
        media.join(
            # only collided refs join back; AQE sizes the join strategy
            # (usually a tiny fraction of distinct refs -> broadcast)
            keeper.filter(F.col("__n") > 1),
            media["s.media_ref"] == F.col("__ref"),
        )
        .filter(
            ~((F.col("doc_id") == F.col("k.d")) & (F.col("pos") == F.col("k.p")))
        )
        .groupBy("doc_id")
        .agg(F.collect_set("pos").alias("__drop"))
    )
    return _drop_span_positions(documents, drops)


def _media_spans(documents: DataFrame) -> DataFrame:
    """(doc_id, pos, s) — one row per NON-NULL-ref media span. Only
    media spans explode; text payloads never leave their row."""
    return documents.select(
        "doc_id", F.posexplode("spans").alias("pos", "s")
    ).filter((F.col("s.kind") == "media") & F.col("s.media_ref").isNotNull())


def _drop_span_positions(documents: DataFrame, drops: DataFrame) -> DataFrame:
    """Rewrite span arrays dropping the positions in ``drops``
    (doc_id, __drop array<int>): one left join + a row-local
    higher-order filter preserving relative span order. Documents
    absent from ``drops`` pass through unchanged."""
    other_cols = [c for c in documents.columns if c != "spans"]
    return documents.join(drops, "doc_id", "left").select(
        *other_cols,
        F.filter(
            "spans",
            lambda s, i: F.coalesce(
                ~F.array_contains(F.col("__drop"), i), F.lit(True)
            ),
        ).alias("spans"),
    )


def build_media_index(documents: DataFrame) -> DataFrame:
    """(media_ref string) — the distinct media identities already in
    the curated corpus: the durable artifact incremental media dedup
    checks arriving snapshots against, one short row per distinct
    asset regardless of corpus size (the media analogue of
    incremental_dedup.build_dedup_index). One scan + one
    map-side-partial distinct; persist it as Parquet.
    After absorbing a cleaned batch, append
    ``build_media_index(clean_batch)`` (union + distinct, or a MERGE
    on an Iceberg index table)."""
    return (
        _media_spans(documents)
        .select(F.col("s.media_ref").alias("media_ref"))
        .distinct()
    )


def dedup_media_batch(batch: DataFrame, index: DataFrame) -> DataFrame:
    """Incremental form of :func:`drop_duplicate_media`: dedup an
    ARRIVING batch of interleaved documents against a persisted
    :func:`build_media_index` — O(batch + touched index partitions),
    never an O(corpus) re-dedup. A media span is dropped iff its ref is
    already INDEXED (the asset is stored; keep-first across snapshots)
    or an earlier (doc_id, pos) span in THIS batch carries the same
    fresh ref (keep-first within the batch, exactly the corpus
    operator's rule). Text spans untouched, relative span order
    preserved, NULL refs never deduped.

    Scale shape: ONE media-span explode; category (a) drops are a
    semi-join against the short index; keep-first runs only over the
    anti-join remainder (fresh refs); both fold back to one
    drop-position array per affected doc and the rewrite is the shared
    row-local filter."""
    media = pin(_media_spans(batch))
    # prune the corpus-sized index to the batch's refs first (broadcast
    # semi-join = map-side index scan, snapshot-sized result), then run
    # both membership tests against the broadcast pruned set — the
    # index is never shuffled and the batch never exchanges either
    # (same discipline as flag_against_index / merge_into_clusters)
    iref = pin(
        index.select(F.col("media_ref").alias("__iref"))
        .join(
            F.broadcast(
                media.select(media["s.media_ref"].alias("__iref")).distinct()
            ),
            "__iref",
            "left_semi",
        )
    )
    on = media["s.media_ref"] == F.col("__iref")
    indexed = media.join(F.broadcast(iref), on, "semi").select("doc_id", "pos")
    fresh = media.join(F.broadcast(iref), on, "anti")
    keeper = fresh.groupBy(F.col("s.media_ref").alias("__ref")).agg(
        F.min(
            F.struct(F.col("doc_id").alias("d"), F.col("pos").alias("p"))
        ).alias("k"),
        F.count(F.lit(1)).alias("__n"),
    )
    batch_dups = (
        fresh.join(
            keeper.filter(F.col("__n") > 1),
            fresh["s.media_ref"] == F.col("__ref"),
        )
        .filter(
            ~((F.col("doc_id") == F.col("k.d")) & (F.col("pos") == F.col("k.p")))
        )
        .select("doc_id", "pos")
    )
    drops = (
        indexed.unionByName(batch_dups)
        .groupBy("doc_id")
        .agg(F.collect_set("pos").alias("__drop"))
    )
    return _drop_span_positions(batch, drops)


def interleaved_profile(
    documents: DataFrame, group_col: str | None = None
) -> DataFrame:
    """Span-shape profile of an interleaved corpus (the driver
    input_hint table: ``spans array<struct<kind,text,media_ref,
    offset>>``) — the operational numbers a multimodal curation run
    reads before sizing itself: how many docs, spans, media assets,
    text characters, and what fraction of spans is media.

    Per-doc metrics are ONE row-local higher-order aggregate over the
    span array (zero shuffles); with ``group_col`` the corpus rollup
    adds ONE map-side-partial groupBy. Media fraction is averaged over
    docs (mean of per-doc fractions, 6 decimals), not pooled — the
    per-doc form is the one that spots a subpopulation of media-only
    docs that a pooled ratio hides. Docs with zero spans count 0.0.
    """
    n_spans = F.size("spans")
    n_media = F.size(F.filter("spans", lambda s: s["kind"] == "media"))
    text_chars = F.aggregate(
        F.filter("spans", lambda s: s["kind"] != "media"),
        F.lit(0).cast("long"),
        lambda acc, s: acc + F.coalesce(F.length(s["text"]), F.lit(0)),
    )
    per_doc = documents.select(
        *([F.col(group_col)] if group_col else []),
        n_spans.cast("long").alias("n_spans"),
        n_media.cast("long").alias("n_media"),
        text_chars.alias("text_chars"),
        F.when(n_spans > 0, n_media.cast("double") / n_spans)
        .otherwise(F.lit(0.0))
        .alias("media_frac"),
    )
    keys = [group_col] if group_col else []
    return per_doc.groupBy(*keys).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_spans").cast("long").alias("n_spans"),
        F.sum("n_media").cast("long").alias("n_media"),
        F.sum("text_chars").cast("long").alias("text_chars"),
        F.round(F.avg("media_frac"), 6).alias("avg_media_frac"),
    )
