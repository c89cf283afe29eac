"""Distributed BPE merge learning: the "train the tokenizer on the
corpus" step of an LLM data pipeline (Sennrich et al. 2016), as
DataFrame ops. Learns the top-``merges`` byte-pair merges by weighted
adjacent-symbol frequency over the corpus vocabulary.

Scale shape (the 100 TB story):

- the CORPUS is scanned exactly once (token explode -> one map-side-
  partial groupBy building the (word, freq) vocabulary); every merge
  round then runs over the localCheckpointed WORD table — vocabulary-
  sized, orders of magnitude smaller than the corpus, the same
  reduction the reference BPE algorithm makes;
- each round is: one codegen'd pair-explode + ONE map-side-partial
  groupBy(pair) + a 1-row TakeOrdered collect (the O(1) driver digest
  pattern), then a pure regexp projection applying the merge. k merges
  = k vocabulary-table jobs, zero corpus re-reads;
- the merge rule is engine-replayable: symbol sequences live as
  space-padded strings, and applying pair (a, b) means merging every
  left-to-right non-overlapping ' a b ' occurrence. Spark implements
  it as ONE replace-all with zero-width lookaround boundaries
  ('(?<= )a b(?= )') so adjacent matches don't consume each other's
  boundary space; the DuckDB twin (RE2 has no lookbehind) iterates
  first-occurrence-only replaces to a fixpoint via a recursive CTE —
  provably the same result, because a merge never creates a new
  occurrence of the same round's pair (the merged symbol is strictly
  longer than either side), so both strategies consume the identical
  leftmost non-overlapping match set.
- pair statistics count ALL adjacencies (overlapping included), the
  classic algorithm's counting rule; ties break (count desc, pair asc).

Determinism: counts are exact integer sums; selection is a total
order; no floats anywhere — assignments are partition-invariant and
the oracle twin reproduces the merge table bit-for-bit.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, functions as F

from ..functions.text_metrics import tokens
from ..session import pin

_SYMBOL_RE = re.compile(r"^[a-z0-9]+$")


def word_freq(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq) over the tokenized corpus — the single corpus scan."""
    return (
        docs.select(F.explode(tokens(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _padded_chars(word: Column) -> Column:
    """'abc' -> ' a b c ' (space-padded symbol sequence)."""
    return F.concat(F.lit(" "), F.regexp_replace(word, "(.)", "$1 "))


def _pair_counts(words: DataFrame) -> DataFrame:
    """(pair, cnt): freq-weighted adjacent-symbol counts, overlapping
    adjacencies included (the classic counting rule)."""
    syms = F.split(F.trim(F.col("seq")), " ")
    pairs = (
        words.select("freq", syms.alias("__s"))
        .select(
            "freq",
            F.explode(
                F.when(
                    F.size("__s") >= 2,
                    F.transform(
                        F.sequence(F.lit(1), F.size("__s") - 1),
                        lambda i: F.concat_ws(
                            " ",
                            F.element_at("__s", i),
                            F.element_at("__s", i + 1),
                        ),
                    ),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("pair"),
        )
    )
    return pairs.groupBy("pair").agg(F.sum("freq").alias("cnt"))


def apply_merge(seq: Column, a: str, b: str) -> Column:
    """Merge every left-to-right non-overlapping ' a b ' in one
    replace-all: lookaround boundaries keep adjacent matches from
    consuming each other's shared space."""
    for s in (a, b):
        if not _SYMBOL_RE.match(s.replace(" ", "")):
            raise ValueError(f"symbol {s!r} outside the tokenizer alphabet")
    return F.regexp_replace(
        seq, f"(?<= ){a} {b}(?= )", a + b
    )


def bpe_fit(
    docs: DataFrame,
    merges: int = 3,
    text_col: str = "text",
) -> list[tuple[int, str, str, int]]:
    """Learn the top-``merges`` merges: returns
    [(rank, pair, merged, pair_count), ...] with rank starting at 1.
    Raises if the vocabulary runs out of adjacent pairs first (a
    corpus-too-small condition, not a runtime state to paper over)."""
    if merges < 1:
        raise ValueError(f"merges must be >= 1, got {merges}")
    words = pin(
        word_freq(docs, text_col)
        .select("freq", _padded_chars(F.col("word")).alias("seq"))
    )
    out: list[tuple[int, str, str, int]] = []
    for rank in range(1, merges + 1):
        best = (
            _pair_counts(words)
            .orderBy(F.col("cnt").desc(), F.col("pair"))
            .limit(1)
            .collect()
        )
        if not best:
            raise ValueError(
                f"vocabulary exhausted after {rank - 1} merges (asked {merges})"
            )
        pair, cnt = best[0]["pair"], int(best[0]["cnt"])
        a, b = pair.split(" ")
        out.append((rank, pair, a + b, cnt))
        # re-checkpoint per round: without it, round r's count job would
        # replay all r-1 prior merge projections from the base (O(k^2)
        # regexp work across a long fit); with it each round is one
        # projection over materialized blocks
        words = pin(words.select(
            "freq", apply_merge(F.col("seq"), a, b).alias("seq")
        ))
    return out


def bpe_encode_pieces(
    docs: DataFrame,
    merges: list[tuple[int, str, str, int]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Tokenize the corpus with a fitted merge table: per document, the
    whitespace token count and the BPE piece count after applying every
    merge in rank order — the "how many tokens will training actually
    see" number a data pipeline budgets with.

    Scale shape: merges apply to the DISTINCT-WORD table (one chained
    lookaround projection per merge, vocabulary-sized work), then one
    join keyed on word re-attaches piece counts to the per-doc word
    counts and one map-side-partial groupBy sums them. The corpus is
    exploded once; no per-document merge work. All-integer — the
    DuckDB twin replays it exactly.

    Documents with zero tokens drop out (no words to encode)."""
    doc_words = (
        docs.select(F.col(id_col), F.explode(tokens(text_col)).alias("word"))
        .groupBy(id_col, "word")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    pieces = doc_words.select("word").distinct().select(
        "word", _padded_chars(F.col("word")).alias("seq")
    )
    for _, pair, _merged, _cnt in sorted(merges):
        a, b = pair.split(" ")
        pieces = pieces.select(
            "word", apply_merge(F.col("seq"), a, b).alias("seq")
        )
    pieces = pieces.select(
        "word", F.size(F.split(F.trim("seq"), " ")).alias("__p")
    )
    return (
        doc_words.join(pieces, "word")
        .groupBy(id_col)
        .agg(
            F.sum("k").cast("long").alias("n_tokens"),
            F.sum(F.col("k") * F.col("__p")).cast("long").alias("n_pieces"),
        )
    )
