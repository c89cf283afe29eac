"""Flat-document adapter.

The test tables ship a *flat* documents table (doc_id bigint, text, lang,
source, n_chars — TESTDATA.md); the engine's authoritative shape is the
spans array (FIXTURES.md §1). ``wrap_flat_documents`` adapts flat text
to the span shape as a single kind='text' span, so every operator has
one input contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def wrap_flat_documents(flat: DataFrame) -> DataFrame:
    """(doc_id, text, ...) -> (doc_id string, spans array<struct<...>>)."""
    return flat.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.array(
            F.struct(
                F.lit("text").alias("kind"),
                F.col("text").alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                F.lit(0).alias("offset"),
            )
        ).alias("spans"),
    )
