"""Corpus n-gram language-model scoring: fit add-alpha-smoothed bigram
counts on a (huge) corpus, score each document's average negative log
likelihood — the CCNet/Wikipedia-LM "perplexity filter" every LLM
training-data pipeline runs to rank web text by fluency (Wenzek et al.,
CCNet, 2020). The reference repo has no equivalent; this is part of the
training-data operator family the brief asks for beyond SURVEY §2.

Scale shape (the 100 TB story):

- The model is **bounded by construction**: the vocabulary is capped at
  ``vocab_cap`` types (top-by-frequency, deterministic count-desc /
  token-asc tie-break) and every other token maps to ``<unk>``, so the
  bigram table is at most ``vocab_cap^2`` rows in theory and O(corpus
  distinct bigrams) in practice — a *model-sized* table, independent of
  corpus row count growth once saturated.
- Fitting is explode → two **broadcast** vocab joins (the vocab is
  ≤ vocab_cap rows, always map-side) → ONE map-side-partial groupBy on
  (doc, w1, w2). Global bigram / context counts are second-level
  aggregations OVER that per-doc aggregate (classic two-level
  aggregation), so the wide exploded data is shuffled once.
- Scoring joins the per-doc bigram counts against the model on
  (w1, w2) — a shuffle join keyed by the model's bounded key space.
  When the model fits in memory (vocab_cap^2 bounded, usually a few
  hundred MB) pass ``broadcast_model=True`` to make the whole scoring
  pass shuffle-free after the per-doc aggregate.
- Per-document sums are **order-independent**: each bigram's
  contribution is quantized to decimal(38,9) before summation, so the
  aggregate is exact integer arithmetic and the result does not depend
  on partial-aggregation order (the same trick pricing_summary uses for
  its decimal sums). The DuckDB oracle twin replays the identical
  quantization.

Documents with fewer than 2 tokens have no bigrams and drop out of the
scored output (callers left-join the scores back if they need them).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, functions as F

from ..functions.text_metrics import tokens
from ..session import pin

UNK = "<unk>"


def _bigram_structs(toks: Column) -> Column:
    """array<struct<w1r,w2r>> of adjacent token pairs (raw, pre-vocab).
    Guarded on size >= 2 because sequence(1, 0) counts DOWN, not empty."""
    return F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.struct(
                F.element_at(toks, i).alias("w1r"),
                F.element_at(toks, i + 1).alias("w2r"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1r:string,w2r:string>>"))


def doc_bigram_counts(
    docs: DataFrame,
    vocab: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, w1, w2, k): per-document counts of vocab-mapped adjacent
    token pairs. Explode + two broadcast vocab joins + one groupBy —
    the single wide shuffle of both fit and score paths."""
    # tokenize into a projected column FIRST: referencing tokens(col)
    # directly inside _bigram_structs would re-inline the regexp
    # tokenizer into every element_at of the lambda (Catalyst does not
    # CSE across lambda bodies), turning the explode O(tokens^2) per
    # doc — measured 9.3 s vs 3.5 s at sf0.1 for the explode alone
    pairs = (
        docs.select(F.col(id_col), tokens(text_col).alias("__toks"))
        .select(id_col, F.explode(_bigram_structs(F.col("__toks"))).alias("bg"))
        .select(id_col, F.col("bg.w1r").alias("w1r"), F.col("bg.w2r").alias("w2r"))
    )
    v1 = F.broadcast(vocab.select(F.col("w").alias("__v1")))
    v2 = F.broadcast(vocab.select(F.col("w").alias("__v2")))
    return (
        pairs.join(v1, pairs["w1r"] == v1["__v1"], "left")
        .join(v2, pairs["w2r"] == v2["__v2"], "left")
        .select(
            id_col,
            F.coalesce("__v1", F.lit(UNK)).alias("w1"),
            F.coalesce("__v2", F.lit(UNK)).alias("w2"),
        )
        .groupBy(id_col, "w1", "w2")
        .agg(F.count(F.lit(1)).alias("k"))
    )


@dataclass
class BigramLM:
    """A fitted model: all components are (small) DataFrames so the
    model itself is a distributed artifact. For anything longer-lived
    than one job (cross-run reuse, long-running streams, clusters with
    executor churn) persist it with :meth:`save`/:func:`load_bigram_lm`
    — localCheckpoint blocks (the in-job materialization fit uses) are
    NOT failure-tolerant."""

    vocab: DataFrame  # (w) — capped type inventory, no <unk>
    bigrams: DataFrame  # (w1, w2, cb) — global pair counts
    contexts: DataFrame  # (w1, cu) — global context (left-token) counts
    vsize: DataFrame  # single row (v_size) — distinct mapped types
    alpha: float

    _PARTS = ("vocab", "bigrams", "contexts", "vsize")

    def save(self, out_dir: str) -> None:
        """Write the model as four parquet tables + params.json — the
        durable production artifact (readable by any engine)."""
        import json
        import os

        for part in self._PARTS:
            getattr(self, part).write.mode("overwrite").parquet(
                os.path.join(out_dir, part)
            )
        spark = self.vocab.sparkSession
        params = json.dumps({"alpha": self.alpha})
        spark.createDataFrame([(params,)], "params string").coalesce(1).write.mode(
            "overwrite"
        ).text(os.path.join(out_dir, "params"))


def load_bigram_lm(spark, out_dir: str) -> "BigramLM":
    """Load a :meth:`BigramLM.save` artifact."""
    import json
    import os

    params = json.loads(
        spark.read.text(os.path.join(out_dir, "params")).collect()[0][0]
    )
    frames = {
        part: spark.read.parquet(os.path.join(out_dir, part))
        for part in BigramLM._PARTS
    }
    return BigramLM(alpha=float(params["alpha"]), **frames)


def fit_bigram_lm(
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_cap: int = 50_000,
    alpha: float = 0.5,
) -> BigramLM:
    """Count-based fit; one pass for the vocab, one for the bigrams.

    Vocabulary = top ``vocab_cap`` tokens by occurrence count
    (count desc, token asc — fully deterministic), computed with a
    distributed top-K (per-partition heads merged), never a global sort
    of the token table.

    The model frames are eagerly localCheckpointed. They are MODEL-sized
    (vocab ≤ vocab_cap rows, bigrams O(distinct pairs), bounded by
    vocab_cap², independent of corpus row growth once saturated);
    without materialization every downstream
    consumer re-derives the full corpus scan — the lazy self-scoring
    plan was measured at 24 parquet scans / 0 reused exchanges;
    materializing cuts fit+score to one scan per pass. CAVEAT:
    localCheckpoint blocks live on executors and are lost on executor
    failure/decommission — it is a within-job optimization only. For a
    durable model (cross-run reuse, long-lived streams, clusters with
    dynamic allocation) write :meth:`BigramLM.save` and reload with
    :func:`load_bigram_lm`."""
    tok = corpus.select(F.explode(tokens(text_col)).alias("w"))
    vocab = (
        tok.groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("w"))
        .limit(vocab_cap)
        .select("w")
    )
    vocab = pin(vocab, eager=True)
    bg = doc_bigram_counts(corpus, vocab, id_col=id_col, text_col=text_col)
    bigrams = bg.groupBy("w1", "w2").agg(F.sum("k").alias("cb"))
    bigrams = pin(bigrams, eager=True)
    contexts = bigrams.groupBy("w1").agg(F.sum("cb").alias("cu"))
    # V = distinct mapped types over bigram-participating tokens; every
    # token of a >=2-token doc participates (first as w1, last as w2),
    # so this is the distinct-type count of the scored corpus incl. any
    # <unk> — the smoothing denominator both engines must agree on.
    vsize = (
        bigrams.select(F.explode(F.array("w1", "w2")).alias("w"))
        .agg(F.countDistinct("w").alias("v_size"))
    )
    contexts = pin(contexts, eager=True)
    vsize = pin(vsize, eager=True)
    return BigramLM(vocab=vocab, bigrams=bigrams, contexts=contexts, vsize=vsize, alpha=alpha)


def score_bigram_nll(
    docs: DataFrame,
    lm: BigramLM,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_model: bool = False,
) -> DataFrame:
    """(id, n_bigrams, oov_ratio, avg_nll) per document with >= 2
    tokens, under the fitted model with add-alpha smoothing:

        p(w2 | w1) = (c(w1 w2) + alpha) / (c(w1 ·) + alpha * V)
        avg_nll    = mean over the doc's bigram occurrences of -ln p

    (perplexity = e^avg_nll; the monotone nll is reported so the
    cross-engine hash check never rides on exp's last ulp). Bigrams or
    contexts unseen at fit time (scoring a held-out corpus) contribute
    count 0, exactly the smoothed-model semantics.

    Each occurrence's contribution k * (-ln p) is rounded to 9 decimals
    and summed as decimal(38,9) — exact, order-free — then averaged.
    """
    bg = doc_bigram_counts(docs, lm.vocab, id_col=id_col, text_col=text_col)
    model_b = lm.bigrams
    model_c = lm.contexts
    if broadcast_model:
        model_b, model_c = F.broadcast(model_b), F.broadcast(model_c)
    a = float(lm.alpha)
    nll = F.log(F.coalesce(F.col("cu"), F.lit(0)) + a * F.col("v_size")) - F.log(
        F.coalesce(F.col("cb"), F.lit(0)) + a
    )
    is_unk = lambda c: F.when(F.col(c) == UNK, F.lit(1)).otherwise(F.lit(0))  # noqa: E731
    return (
        bg.join(model_b, ["w1", "w2"], "left")
        .join(model_c, ["w1"], "left")
        .crossJoin(F.broadcast(lm.vsize))
        .withColumn(
            "contrib",
            (F.col("k") * F.round(nll, 9)).cast("decimal(38,9)"),
        )
        .groupBy(id_col)
        .agg(
            F.sum("k").cast("bigint").alias("n_bigrams"),
            F.round(
                F.sum((is_unk("w1") + is_unk("w2")) * F.col("k"))
                / (2.0 * F.sum("k")),
                6,
            ).alias("oov_ratio"),
            F.round(F.sum("contrib").cast("double") / F.sum("k"), 6).alias("avg_nll"),
        )
    )


def bigram_lm_nll(
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_cap: int = 50_000,
    alpha: float = 0.5,
    broadcast_model: bool = False,
) -> DataFrame:
    """Fit on ``corpus`` and score the same corpus — the self-scoring
    perplexity-filter pass: the fit materializes the model frames
    (see fit_bigram_lm), then scoring re-derives the per-doc bigram
    counts in its own single corpus pass — two passes total."""
    lm = fit_bigram_lm(
        corpus, id_col=id_col, text_col=text_col, vocab_cap=vocab_cap, alpha=alpha
    )
    return score_bigram_nll(
        corpus, lm, id_col=id_col, text_col=text_col, broadcast_model=broadcast_model
    )


def perplexity_buckets(
    docs: DataFrame,
    lm: "BigramLM | None" = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    by: str | None = None,
    cuts: tuple[float, float] = (1.0 / 3.0, 2.0 / 3.0),
    exact: bool = True,
    accuracy: int = 10_000,
    vocab_cap: int = 50_000,
    alpha: float = 0.5,
    broadcast_model: bool = False,
) -> DataFrame:
    """CCNet's head/middle/tail partition (Wenzek et al. 2020 §4.4):
    per-doc ``avg_nll`` under the bigram LM (``lm``, or self-fit when
    None), bucketed by the per-``by``-group (or global) ``avg_nll``
    quantiles at ``cuts`` — 'head' when avg_nll <= q1 (LOWEST
    perplexity, the cleanest slice), 'middle' when <= q2, else 'tail'.
    CCNet trains on head(+middle) and discards or down-weights tail.

    -> (id, [by], avg_nll, bucket), one row per >=2-token doc (the
    scoring operator's domain).

    ``exact=True`` uses Spark's sort-based exact ``percentile`` —
    linear interpolation, bit-identical to DuckDB ``quantile_cont``
    (the length_quantiles cross-engine contract), which is what the
    driver oracle checks; ``exact=False`` swaps in the
    Greenwald-Khanna ``approx_percentile`` sketch — bounded aggregate
    state, the 10^12-doc path (CCNet itself computes cutoffs on a
    sample). Either way the cut frame is one short row per group,
    broadcast back onto the scores — the doc-level frame shuffles only
    for the scoring aggregate itself.
    """
    scored = (
        bigram_lm_nll(
            docs,
            id_col=id_col,
            text_col=text_col,
            vocab_cap=vocab_cap,
            alpha=alpha,
            broadcast_model=broadcast_model,
        )
        if lm is None
        else score_bigram_nll(
            docs, lm, id_col=id_col, text_col=text_col, broadcast_model=broadcast_model
        )
    ).select(id_col, "avg_nll")
    if by:
        scored = scored.join(docs.select(id_col, by), id_col)
    parr = "array(" + ",".join(repr(float(c)) for c in cuts) + ")"
    fn = "percentile" if exact else "approx_percentile"
    acc = "" if exact else f", {int(accuracy)}"
    q = F.expr(f"{fn}(avg_nll, {parr}{acc})").alias("qs")
    if by:
        qf = scored.groupBy(by).agg(q)
        joined = scored.join(F.broadcast(qf), by)
    else:
        joined = scored.crossJoin(F.broadcast(scored.groupBy().agg(q)))
    bucket = (
        F.when(F.col("avg_nll") <= F.element_at("qs", 1), F.lit("head"))
        .when(F.col("avg_nll") <= F.element_at("qs", 2), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    keep = [id_col] + ([by] if by else [])
    return joined.select(*keep, "avg_nll", bucket.alias("bucket"))
