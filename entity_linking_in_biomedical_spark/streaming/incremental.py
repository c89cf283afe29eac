"""Structured-Streaming front-end for incremental entity linking.

The reference is strictly batch (SURVEY.md §2.8); this is the engine's
extension for continuously-arriving documents: a stateless
stream-static join pipeline that links each micro-batch's mentions
against the (static, broadcast) entity dictionary via the exact
norm-key channel, and hands each micro-batch to ``foreachBatch`` when
the full LSH+scoring+CC pipeline is wanted (iterative CC cannot run
inside a streaming query plan).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..operators.blocking import entity_names
from ..operators.mentions import extract_mentions


def link_stream_exact(stream_docs: DataFrame, entities: DataFrame) -> DataFrame:
    """Streaming documents(doc_id, spans) -> linked mentions via the
    exact surface channel. Stateless (no watermark needed): explode +
    stream-static broadcast join, so it runs with any trigger and scales
    linearly with input rate. Mentions are the batch pipeline's
    (``extract_mentions``), so a mention with an empty norm is dropped."""
    mentions = extract_mentions(stream_docs)
    names = entity_names(entities).select("norm", "cui")
    return mentions.join(F.broadcast(names), "norm", "left").select(
        "doc_id", "span_seq", "surface", "norm", "cui"
    )
