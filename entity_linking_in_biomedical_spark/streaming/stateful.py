"""Custom stateful streaming operators (applyInPandasWithState).

The batch dedup family (operators/dedup.py) answers "which documents in
this corpus are duplicates"; a continuously-ingesting pipeline needs the
online form — "is THIS arriving document a duplicate of anything seen so
far" — which requires keyed state that outlives a micro-batch. That is
exactly what ``applyInPandasWithState`` provides: state is partitioned
by key (content hash), persisted in the checkpoint, and restored across
restarts, so the operator scales horizontally (each executor holds the
state shards for its keys) and survives failure/resume like every other
stage in the engine.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

DEDUP_OUTPUT_SCHEMA = "text_hash string, doc_id string, is_duplicate boolean"
DEDUP_STATE_SCHEMA = "seen bigint"


def streaming_exact_dedup(
    stream_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Streaming exact dedup: every arriving document is emitted with
    ``is_duplicate`` = whether any earlier document (in this or ANY
    previous micro-batch, across restarts) had the same content hash.

    State per key is one bigint (documents seen), so state size is
    O(distinct hashes) — the minimum any online exact dedup can hold.
    Within a micro-batch, arrival order is made deterministic by doc_id
    so results are reproducible under repartitioning."""
    hashed = stream_docs.select(
        F.col(id_col).cast("string").alias("doc_id"),
        F.md5(F.col(text_col)).alias("text_hash"),
    )

    def mark_duplicates(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (seen,) = state.get if state.exists else (0,)
        # a key's micro-batch group may arrive as SEVERAL Arrow chunks;
        # sorting per chunk would make "which doc is first" depend on
        # chunk boundaries, so accumulate the group and sort once —
        # group size is the duplicates of ONE hash in one micro-batch,
        # so materializing it is bounded and the doc_id order (hence
        # is_duplicate assignment) is reproducible under repartitioning
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True).sort_values("doc_id")
            yield pd.DataFrame(
                {
                    "text_hash": key[0],
                    "doc_id": pdf["doc_id"].values,
                    # duplicate iff anything with this hash came before it
                    "is_duplicate": (seen + pd.RangeIndex(len(pdf)).values) > 0,
                }
            )
            seen += len(pdf)
        state.update((seen,))

    return hashed.groupBy("text_hash").applyInPandasWithState(
        mark_duplicates,
        outputStructType=DEDUP_OUTPUT_SCHEMA,
        stateStructType=DEDUP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


MINHASH_OUTPUT_SCHEMA = (
    "band_key string, doc_id string, is_duplicate boolean, matched_id string"
)
MINHASH_STATE_SCHEMA = "first_id string, seen bigint"


def streaming_minhash_dedup(
    stream_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
) -> DataFrame:
    """Online twin of minhash_near_duplicates: every arriving document
    is emitted once per LSH band with ``is_duplicate`` = whether any
    EARLIER document (this or any previous micro-batch, across
    restarts) landed in the same band bucket, and ``matched_id`` = the
    bucket's first-ever document (the online candidate edge). A doc is
    a near-duplicate iff ANY of its bands collides — roll up with
    ``minhash_doc_flags`` (batch) or a downstream ``foreachBatch``.

    Same signature machinery and default banding (16 hashes x 8 bands
    of 2 rows) as the batch operator, so online and offline candidate
    sets agree. State per band key is (first_id, seen) — O(1) per
    distinct bucket regardless of bucket population (no pair join here,
    so the batch max_bucket skew cap is unnecessary: output is one row
    per (doc, band), never O(bucket^2)).

    Streaming-safe banding: with_band_keys' localCheckpoint barrier is
    illegal on a streaming plan, so the signature is materialized
    behind an explode(array(...)) Generate node instead — projections
    don't collapse through a generator, so the md5-per-shingle pass
    runs once, not once per band."""
    from ..functions.ngrams import lsh_band_keys, minhash_signature
    from ..functions.text_metrics import tokens
    from ..operators.dedup import _word_shingles

    toks = stream_docs.select(
        F.col(id_col).cast("string").alias("doc_id"),
        tokens(text_col).alias("toks"),
    )
    sh = toks.select(
        "doc_id", F.array_distinct(_word_shingles(F.col("toks"), shingle_k)).alias("shingles")
    )
    sigged = sh.select(
        "doc_id",
        F.explode(F.array(minhash_signature(F.col("shingles"), num_hashes))).alias("_sig"),
    )
    banded = sigged.select(
        "doc_id",
        F.explode(lsh_band_keys(F.col("_sig"), bands, num_hashes // bands)).alias(
            "band_key"
        ),
    )

    def mark(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        first_id, seen = state.get if state.exists else (None, 0)
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True).sort_values("doc_id")
            if first_id is None:
                first_id = str(pdf["doc_id"].iloc[0])
            order = pd.RangeIndex(len(pdf)).values
            is_dup = (seen + order) > 0
            yield pd.DataFrame(
                {
                    "band_key": key[0],
                    "doc_id": pdf["doc_id"].values,
                    "is_duplicate": is_dup,
                    # the bucket's first doc is its own match target: None
                    "matched_id": [first_id if d else None for d in is_dup],
                }
            )
            seen += len(pdf)
        state.update((first_id, seen))

    return banded.groupBy("band_key").applyInPandasWithState(
        mark,
        outputStructType=MINHASH_OUTPUT_SCHEMA,
        stateStructType=MINHASH_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def minhash_doc_flags(band_rows: DataFrame) -> DataFrame:
    """Per-doc roll-up of streaming_minhash_dedup output (run on the
    accumulated sink or inside foreachBatch): (doc_id, is_duplicate,
    matched_ids) — duplicate iff any band collided."""
    return band_rows.groupBy("doc_id").agg(
        F.max("is_duplicate").alias("is_duplicate"),
        F.sort_array(
            F.array_distinct(
                F.filter(F.collect_list("matched_id"), lambda m: m.isNotNull())
            )
        ).alias("matched_ids"),
    )
