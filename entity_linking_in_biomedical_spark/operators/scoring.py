"""Stage 2 — batched pairwise scoring inside blocks.

Replaces the reference's BERT cross-encoder forward passes
(affinity_models.py:41-42,75-76; pair assembly dataset.py:122-136)
with the north star's feature set:

    jw       Jaro-Winkler            (Arrow pandas UDF, no built-in)
    lev_sim  1 - Levenshtein/maxlen  (JVM built-in F.levenshtein)
    cos      TF-IDF char-n-gram cosine, IDF fit on entity names
             (Arrow pandas UDF + broadcast IDF dict — the Spark
             analogue of candidate_generator.py:75-87's vectorizer fit)
    dot      dense-embedding dot product (JVM zip_with/aggregate)

combined by a fixed calibrated logistic:  score = sigmoid(w·f + b).
The Python boundary is exactly one iterator pandas UDF per pair batch
(Arrow transfer, float32 internals — the reference keeps float32 too,
candidate_generator.py:36,42).
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Iterator, Tuple

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.strings import jaro_winkler_batch, pack_vocab, tfidf_cosine_batch


@dataclass(frozen=True)
class ScoringConfig:
    """Calibrated logistic weights over (jw, lev_sim, cos, dot)."""

    w_jw: float = 3.0
    w_lev: float = 2.0
    w_cos: float = 3.0
    w_dot: float = 5.0
    bias: float = -6.5
    threshold: float = 0.5
    ngram: int = 3
    vocab_cap: int = 400_000  # reference's max_features (candidate_generator.py:24)


def fit_idf(names: DataFrame, ngram: int = 3, vocab_cap: int = 400_000) -> dict[str, float]:
    """Fit char-n-gram document frequencies over the entity-name corpus
    (A8). Distributed agg, tiny result (vocab-capped) collected to the
    driver for broadcast into the scoring UDF. idf = ln((N+1)/(df+1))+1
    (sklearn smooth_idf, matching the reference's vectorizer)."""
    from ..functions.ngrams import char_ngrams

    n_docs = names.count()
    # one aggregate, ordered and capped on the way out: the aggregate
    # holds each gram once, so the per-task top-k heaps together hold at
    # most the vocabulary, and no probe or re-collect is needed when the
    # cap does not bind (char-3-gram vocab over entity names is ~50k;
    # the 400k cap matches the reference's max_features)
    df = (
        names.select("norm", F.explode(F.array_distinct(char_ngrams("norm", ngram))).alias("g"))
        .groupBy("g")
        .agg(F.count("*").alias("df"))
        .orderBy(F.desc("df"), F.asc("g"))
        .limit(vocab_cap)
        .collect()
    )
    return {r["g"]: math.log((n_docs + 1) / (r["df"] + 1)) + 1.0 for r in df}


def score_pairs(
    spark: SparkSession,
    pairs: DataFrame,
    idf: dict[str, float],
    cfg: ScoringConfig = ScoringConfig(),
    a_col: str = "a_norm",
    b_col: str = "b_norm",
    a_emb: str | None = None,
    b_emb: str | None = None,
) -> DataFrame:
    """pairs -> pairs + (jw, lev_sim, cos, dot, score).

    Embedding columns are optional ``array<float>`` (assumed
    L2-normalized); when absent the dot feature contributes the neutral
    value 0.5 (so the calibration doesn't shift)."""
    idf_bc = spark.sparkContext.broadcast(idf)
    ngram = cfg.ngram

    @F.pandas_udf("struct<jw: double, cos: double>")
    def _jw_cos(batches: Iterator[Tuple[pd.Series, pd.Series]]) -> Iterator[pd.DataFrame]:
        # the packed vocabulary is built once per task, before its first
        # Arrow batch (pack_vocab over 400k grams is ~0.1s — not
        # per-batch work); the kernels are fully vectorized numpy over
        # the whole batch — no per-row Python (see functions/strings.py
        # batch kernels; equality with the scalar reference is
        # unit-tested)
        vocab_codes, vocab_idf = pack_vocab(idf_bc.value)
        for a, b in batches:
            xs = ["" if x is None else x for x in a.tolist()]
            ys = ["" if y is None else y for y in b.tolist()]
            yield pd.DataFrame(
                {
                    "jw": jaro_winkler_batch(xs, ys),
                    "cos": tfidf_cosine_batch(xs, ys, vocab_codes, vocab_idf, n=ngram),
                }
            )

    # Compute the dot FIRST and drop the vector columns immediately:
    # a 64-dim double pair is ~1 KB/row, and everything downstream
    # (Arrow eval, groupBy shuffles, checkpoints) would otherwise carry
    # it — measured as the dominant shuffle volume of the scoring stage.
    if a_emb and b_emb:
        from ..functions.vectors import dot_product

        dot = F.coalesce(dot_product(a_emb, b_emb), F.lit(0.5))
        dot = F.when(F.col(a_emb).isNull() | F.col(b_emb).isNull(), 0.5).otherwise(dot)
        pairs = pairs.withColumn("dot", dot).drop(a_emb, b_emb)
    else:
        pairs = pairs.withColumn("dot", F.lit(0.5))
    out = pairs.withColumn("_f", _jw_cos(F.col(a_col), F.col(b_col)))
    out = out.withColumn(
        "lev_sim",
        1.0
        - F.levenshtein(a_col, b_col)
        / F.greatest(F.length(a_col), F.length(b_col), F.lit(1)),
    )
    out = (
        out.withColumn("jw", F.col("_f.jw"))
        .withColumn("cos", F.col("_f.cos"))
        .drop("_f")
    )
    z = (
        cfg.w_jw * F.col("jw")
        + cfg.w_lev * F.col("lev_sim")
        + cfg.w_cos * F.col("cos")
        + cfg.w_dot * F.col("dot")
        + F.lit(cfg.bias)
    )
    return out.withColumn("score", F.lit(1.0) / (F.lit(1.0) + F.exp(-z)))
