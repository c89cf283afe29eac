"""Incremental deduplication: dedup an ARRIVING batch against a
persisted index of the already-curated corpus — without rescanning it.

A 100 TB curation run is not a one-shot job: new crawl snapshots land
daily, and re-running corpus-wide dedup (`operators/dedup.py`) over
accumulated petabytes per snapshot is O(corpus) work for O(batch) new
data. The standard production shape (Lee et al. 2022 §5 "streaming"
note; CCNet's per-snapshot layout) is instead:

1. keep a DEDUP INDEX of the surviving corpus — per doc, an exact
   content hash plus a MinHash signature (`build_dedup_index`). The
   index is ~200 bytes/doc regardless of document size (16 longs + one
   md5 hex + the id), i.e. ~2 TB for 10^10 docs: a Parquet table
   (a StageStore stage, say), never a broadcast;
2. per arriving batch, flag batch docs that duplicate an INDEXED doc
   (`flag_against_index`) — one broadcast-or-shuffle hash join for the
   exact channel and one band-key join for the near channel, both
   O(batch + touched-index-partitions), never O(corpus) recompute;
3. append the survivors' index rows (`build_dedup_index(clean_batch)`
   unioned / inserted into the index table) and write the survivors.

Near-dup detection uses SIGNATURE-estimated Jaccard (fraction of
agreeing minhash components), not exact shingle-set Jaccard: storing
shingle sets in the index would make it O(document) wide again, and at
16 hashes the estimate's resolution (1/16) is adequate for the 0.7+
threshold regime near-dup gates run at. Batch-internal duplicates are
deliberately out of scope — compose `operators/dedup.py` over the
batch first (those operators see the whole batch at once); this module
handles the batch-vs-corpus axis.

Scale shape:
- the index is read, never scanned-and-recomputed: the exact channel
  joins on `text_hash` with the batch side broadcast (the index is
  scanned map-side, never shuffled), the near channel
  band-explodes the STORED signatures (16 cheap arithmetic keys/doc,
  no re-tokenization of indexed text, which is not even stored);
- hot band buckets (boilerplate) are capped on the index side with the
  same anti-join guard as every LSH self-join here (`max_bucket`) —
  one degenerate bucket would otherwise be O(bucket × batch) pairs;
- everything is JVM-side Column expressions (md5/minhash machinery
  from functions/ngrams.py, shared with the corpus dedup operators and
  their DuckDB twins, so the driver oracle replays flags exactly).

Replaces nothing in the reference (single-shot torch pipeline,
candidate_generator.py recomputes blocking per run); this is the
operator family the 10^12-doc regime adds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.ngrams import lsh_band_keys, minhash_signature
from ..functions.text_metrics import tokens
from ..session import pin
from .dedup import (
    MINHASH_DEDUP_BANDS,
    MINHASH_DEDUP_MAX_BUCKET,
    MINHASH_DEDUP_NUM_HASHES,
    _word_shingles,
)
from .skew import drop_hot_keys


def build_dedup_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    num_hashes: int = MINHASH_DEDUP_NUM_HASHES,
) -> DataFrame:
    """(doc_id string, text_hash string, sig array<long>) — one index
    row per document; the durable artifact. One corpus scan, no
    shuffle. Persist it as Parquet (a StageStore stage, say)."""
    return (
        docs.select(
            F.col(id_col).cast("string").alias("doc_id"),
            F.md5(F.col(text_col)).alias("text_hash"),
            tokens(text_col).alias("__toks"),
        )
        # tokens/shingles materialize as separate projection steps so
        # the regexp/slice work is not re-run per lambda element
        # (functions/lambdas.py CSE rule, same staging as _shingled)
        .select(
            "doc_id",
            "text_hash",
            F.array_distinct(_word_shingles(F.col("__toks"), shingle_k)).alias(
                "__sh"
            ),
        )
        .select(
            "doc_id",
            "text_hash",
            minhash_signature(F.col("__sh"), num_hashes).alias("sig"),
        )
    )


def _banded(index_like: DataFrame, bands: int, num_hashes: int) -> DataFrame:
    """(doc_id, bk) from stored signatures — no re-tokenization."""
    rows = num_hashes // bands
    return index_like.select(
        "doc_id", F.explode(lsh_band_keys(F.col("sig"), bands, rows)).alias("bk")
    )


def flag_against_index(
    batch: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    num_hashes: int = MINHASH_DEDUP_NUM_HASHES,
    bands: int = MINHASH_DEDUP_BANDS,
    est_jaccard_threshold: float = 0.7,
    max_bucket: int = MINHASH_DEDUP_MAX_BUCKET,
) -> DataFrame:
    """Flag batch docs duplicating an INDEXED doc: one row per flagged
    batch doc — (doc_id, dup_of, kind, score) with kind 'exact'
    (content-hash equality, score 1.0; wins over near) or 'near'
    (LSH band collision + signature-estimated Jaccard >= threshold),
    ``dup_of`` = the lexicographically smallest matching index doc_id
    (a deterministic representative, same tiebreak as the corpus
    operators' sorted doc_id lists). Index rows whose doc_id equals the
    batch doc's are ignored (re-running a batch already appended to the
    index must not flag every doc against itself)."""
    if num_hashes % bands:
        raise ValueError(f"bands must divide num_hashes ({num_hashes}/{bands})")
    bidx = pin(build_dedup_index(
        batch, id_col=id_col, text_col=text_col, shingle_k=shingle_k,
        num_hashes=num_hashes,
    ))

    # The batch side of every index join is BROADCAST-hinted and the
    # index side is pre-pruned by broadcast semi-joins on the batch's
    # own keys: the corpus-sized index is only ever SCANNED map-side,
    # never shuffled per arrival (same discipline as
    # operators/clustering.merge_into_clusters).
    exact = (
        F.broadcast(bidx.alias("b"))
        .join(index.alias("i"), "text_hash")
        .filter(F.col("b.doc_id") != F.col("i.doc_id"))
        .groupBy(F.col("b.doc_id").alias("doc_id"))
        .agg(F.min(F.col("i.doc_id")).alias("dup_of"))
        .select("doc_id", "dup_of", F.lit("exact").alias("kind"), F.lit(1.0).alias("score"))
    )

    bkeys = pin(_banded(bidx, bands, num_hashes))
    # prune the banded index to the batch's band keys BEFORE the
    # hot-bucket count: the semi-join keeps every index row of a probed
    # key, so per-key counts (and the cap's effect) are identical to
    # counting over the full index — without the full-index explode +
    # shuffle the count used to pay per batch
    ib = _banded(index, bands, num_hashes).join(
        F.broadcast(bkeys.select("bk").distinct()), "bk", "left_semi"
    )
    ib = drop_hot_keys(ib, "bk", max_bucket)
    # materialized once: consumed as both the est left side and the
    # broadcast probe that prunes the index's signature re-attach
    cand = pin(
        F.broadcast(bkeys.alias("b"))
        .join(ib.alias("i"), "bk")
        .filter(F.col("b.doc_id") != F.col("i.doc_id"))
        .select(
            F.col("b.doc_id").alias("doc_id"), F.col("i.doc_id").alias("i_id")
        )
        .dropDuplicates(["doc_id", "i_id"])
    )
    # est jaccard = fraction of agreeing signature components; sigs
    # re-attach by id AFTER the id-only pair dedup (the corpus minhash
    # operator's measured ordering: don't shuffle arrays per band hit)
    est = (
        cand.join(
            F.broadcast(bidx.select(F.col("doc_id"), F.col("sig").alias("b_sig"))),
            "doc_id",
        )
        .join(
            F.broadcast(
                index.select(F.col("doc_id").alias("i_id"), F.col("sig").alias("i_sig"))
                .join(F.broadcast(cand.select("i_id").distinct()), "i_id", "left_semi")
            ),
            "i_id",
        )
        .withColumn(
            "score",
            F.round(
                F.size(
                    F.filter(
                        F.zip_with("b_sig", "i_sig", lambda x, y: x == y),
                        lambda v: v,
                    )
                )
                / F.lit(float(num_hashes)),
                6,
            ),
        )
        .filter(F.col("score") >= est_jaccard_threshold)
        # representative = best score, smallest index id on ties: one
        # map-side-partial min over (-score, id) structs (lexicographic
        # struct order), not a window — no per-group sort state
        .groupBy("doc_id")
        .agg(
            F.min(
                F.struct((-F.col("score")).alias("s"), F.col("i_id").alias("d"))
            ).alias("m")
        )
        .select(
            "doc_id",
            F.col("m.d").alias("dup_of"),
            F.lit("near").alias("kind"),
            (-F.col("m.s")).alias("score"),
        )
    )
    # exact wins: a batch doc byte-identical to an indexed doc is one
    # 'exact' row, not one of each
    near = est.join(F.broadcast(exact.select("doc_id")), "doc_id", "left_anti")
    return exact.unionByName(near)
