"""The reference's preprocessing entry point as one Spark plan:
PubTator corpus -> per-document `.context` / `.txt` artifacts
(medmention_preprocess.py end-to-end: load+split filter 7-40, overlap
dedup 43-92, sentence split + IOB2 blocks 226-270, file sinks 272-294).

Faithful parts (exact semantics, verified against the shipped
st21pv artifacts' tagging):
- per-mention sentence blocks: in mention m's block, ONLY m's first
  token is B:cui(m); a token strictly inside ANY mention s gets
  I:cui(s) (so other mentions' FIRST tokens stay O — observable in
  data/processed/st21pv/train/25763772.context blocks 1-2);
- mentions crossing a sentence boundary are dropped (P4);
- overlap-dedup sweep (W7) before tagging;
- `.txt` lines CUI||surface in document order, `.context` blocks in
  mention order.

Injectable part: the reference tokenizes/sentence-splits with stanza
(a neural model, medmention_preprocess.py imports stanza) — not
reproducible deterministically and not present in this container. Both
are injectable callables with deterministic regex defaults that match
the corpus conventions (punctuation split off, internal dots kept:
'0.06' one token, '(' its own token). For byte parity with the shipped
files plug in plans/stanza_like.py: its rule+lexicon tokenizer and
sentencizer reproduce 2,689 of the 3,514 shipped st21pv docs
byte-exactly (the regex defaults: 708) — see that module's docstring
for the residual classes that genuinely need the neural model.
"""

from __future__ import annotations

import re
from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.mentions import _sweep
from ..sources.context_files import write_context, write_mention_txt
from ..sources.pubtator import read_pubtator
from ..session import pin

# words/numbers keep internal dots ("0.06", "p.Tyr263Cys"); any other
# non-space char is its own token — matches the shipped corpus style
_TOKEN_RE = re.compile(r"[A-Za-z0-9]+(?:\.[A-Za-z0-9]+)*|\S")
# sentence break: terminal punctuation, whitespace, then an upper/digit
_SENT_RE = re.compile(r"(?<=[.!?])\s+(?=[A-Z0-9])")


def regex_tokenizer(text: str) -> list[tuple[str, int]]:
    """(token, char_start) pairs."""
    return [(m.group(0), m.start()) for m in _TOKEN_RE.finditer(text or "")]


def regex_sentencizer(text: str) -> list[tuple[str, int]]:
    """(sentence_text, char_start) pairs."""
    out, start = [], 0
    for m in _SENT_RE.finditer(text or ""):
        seg = text[start : m.start()]
        if seg.strip():
            out.append((seg, start))
        start = m.end()
    seg = (text or "")[start:]
    if seg.strip():
        out.append((seg, start))
    return out


BLOCKS_SCHEMA = (
    "struct<"
    "blocks: array<struct<sent_seq:int, tokens: array<struct<token:string, tag:string>>>>, "
    "mentions: array<struct<span_seq:int, cui:string, surface:string>>"
    ">"
)


def _doc_blocks(
    spans,
    cuis,
    tokenizer: Callable[[str], list[tuple[str, int]]],
    sentencizer: Callable[[str], list[tuple[str, int]]],
) -> dict:
    keep = set(_sweep(spans))
    mentions = []  # (begin, end, cui, surface) in document order
    mi = -1
    for i, s in enumerate(spans):
        if s["kind"] != "mention":
            continue
        mi += 1
        if i in keep:
            surf = s["text"] or ""
            cui = cuis[mi] if cuis is not None and mi < len(cuis) else ""
            mentions.append((s["offset"], s["offset"] + len(surf), cui, surf))
    # sentences with absolute bases, across every text span
    sentences = []  # (abs_base, sent_text)
    for s in spans:
        if s["kind"] == "text" and s["text"]:
            for seg, rel in sentencizer(s["text"]):
                sentences.append((s["offset"] + rel, seg))
    tok_sents = [
        [(tok, base + rel) for tok, rel in tokenizer(txt)] for base, txt in sentences
    ]
    # resolve first: a mention survives iff one sentence contains it
    # (P4) AND its begin offset is a token boundary (a begin inside a
    # token — e.g. 'Tyr263Cys' within 'p.Tyr263Cys' under a coarser
    # tokenizer — would otherwise emit a block with no B tag at all).
    # Tagging below then iterates ONLY survivors, so a dropped mention
    # never leaves stray I tags referencing a CUI absent from every
    # artifact.
    resolved = []  # (mb, me, cui, surf, containing_tokens)
    for mb, me, cui, surf in mentions:
        containing = None
        for (base, txt), toks in zip(sentences, tok_sents):
            if base <= mb and me <= base + len(txt):
                containing = toks
                break
        if containing is None:
            continue  # crosses a sentence boundary -> dropped (P4)
        if not any(start == mb for _, start in containing):
            continue  # begin not on a token boundary -> dropped
        resolved.append((mb, me, cui, surf, containing))

    blocks, out_mentions = [], []
    for seq, (mb, me, cui, surf, containing) in enumerate(resolved):
        tokens = []
        for tok, start in containing:
            if start == mb:
                tag = f"B:{cui}"  # only the CURRENT mention gets B
            else:
                tag = "O"
                for ob, oe, ocui, _, _ in resolved:
                    if ob < start < oe:  # strictly inside ANY survivor
                        tag = f"I:{ocui}"
                        break
            tokens.append({"token": tok, "tag": tag})
        blocks.append({"sent_seq": seq, "tokens": tokens})
        out_mentions.append({"span_seq": seq, "cui": cui, "surface": surf})
    return {"blocks": blocks, "mentions": out_mentions}


def pubtator_to_context(
    spark: SparkSession,
    corpus_path: str,
    out_dir: str | None = None,
    split_path: str | None = None,
    tokenizer: Callable[[str], list[tuple[str, int]]] = regex_tokenizer,
    sentencizer: Callable[[str], list[tuple[str, int]]] = regex_sentencizer,
) -> dict:
    """PubTator corpus -> {'context': (doc_id, sent_seq, tokens),
    'mentions': (doc_id, span_seq, cui, surface)}; when ``out_dir`` is
    set, also writes <doc_id>.context / <doc_id>.txt files there.

    One Arrow boundary: the per-document block builder (sweep +
    sentence containment + tagging are intra-row logic over one doc's
    spans). Everything around it — corpus parse, split semi-join,
    explode, render, sink — is JVM-side."""
    docs = read_pubtator(spark, corpus_path)
    if split_path is not None:
        ids = (
            spark.read.text(split_path)
            .select(F.trim("value").alias("doc_id"))
            .filter(F.length("doc_id") > 0)
        )
        docs = docs.join(F.broadcast(ids), "doc_id", "semi")

    @F.pandas_udf(BLOCKS_SCHEMA)
    def _udf(spans: pd.Series, cuis: pd.Series) -> pd.DataFrame:
        # struct return type -> a DataFrame whose columns are the fields
        recs = [
            _doc_blocks(sp, cu, tokenizer, sentencizer)
            for sp, cu in zip(spans, cuis)
        ]
        return pd.DataFrame(
            {
                "blocks": [r["blocks"] for r in recs],
                "mentions": [r["mentions"] for r in recs],
            }
        )

    # two sinks below: compute the UDF once
    res = pin(docs.select("doc_id", _udf("spans", "mention_cuis").alias("r")))
    ctx = res.select("doc_id", F.explode("r.blocks").alias("b")).select(
        "doc_id",
        F.col("b.sent_seq").alias("sent_seq"),
        F.col("b.tokens").alias("tokens"),
    )
    mentions = res.select("doc_id", F.explode("r.mentions").alias("m")).select(
        "doc_id",
        F.col("m.span_seq").alias("span_seq"),
        F.col("m.cui").alias("cui"),
        F.col("m.surface").alias("surface"),
    )
    if out_dir is not None:
        write_context(ctx, out_dir)
        write_mention_txt(mentions, out_dir)
    return {"context": ctx, "mentions": mentions}
