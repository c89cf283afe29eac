"""Deterministic corpus sampling: the domain/language mixture and
train/val/test split steps of a training-data pipeline.

Membership is a pure function of (seed, key) — the first 12 hex chars
of ``md5(seed || ':' || key)`` compared against a rate-derived hex
threshold — NOT Spark's ``sample()``/``randomSplit()``, whose draws
depend on partition layout and task retries. At 100 TB this matters
three ways:

- one codegen'd filter on the scan, no shuffle, no RNG state;
- a resumed/retried run (or a different engine replaying the rule —
  the DuckDB oracle does) selects byte-identical rows;
- fixed-width lowercase-hex string comparison equals numeric
  comparison, so the rule is expressible in any engine with md5().

The mixture itself (per-stratum keep rates) is the knob a curation run
turns to hit a target domain/language composition (the Pile/DoReMi
reweighting step); the split operator is the standard leakage-safe
doc-level train/val/test assignment.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from ..session import pin

# 12 hex chars = 48 bits of the md5: rate granularity 2^-48 (~3.6e-15),
# far below any meaningful sampling-rate precision, while staying well
# inside exact float/int arithmetic for the threshold computation.
HEX_W = 16**12


def rate_threshold(rate: float) -> str:
    """Lowercase 12-hex threshold t such that P[hash12 < t] == rate
    (up to 2^-48). Caller handles rate<=0 / rate>=1 short-circuits."""
    if not 0.0 < rate < 1.0:
        raise ValueError(f"rate must be in (0,1) for a threshold, got {rate}")
    return format(int(rate * HEX_W), "012x")


def _hash12(key: Column, seed: str) -> Column:
    return F.substring(
        F.md5(F.concat_ws(":", F.lit(seed), key.cast("string"))), 1, 12
    )


def hash_bernoulli(key: Column, rate: float, seed: str = "") -> Column:
    """Boolean keep-predicate: deterministic Bernoulli(rate) on the key."""
    if rate <= 0.0:
        return F.lit(False)
    if rate >= 1.0:
        return F.lit(True)
    return _hash12(key, seed) < F.lit(rate_threshold(rate))


def stratified_sample(
    df: DataFrame,
    rates: dict[str, float],
    stratum_col: str = "lang",
    key_col: str = "doc_id",
    seed: str = "mix",
) -> DataFrame:
    """Per-stratum deterministic Bernoulli sample — rows of strata not
    named in ``rates`` are dropped (the mixture is explicit: an unlisted
    domain silently kept at rate 1.0 would corrupt the composition).
    Plans as a single codegen'd CASE filter on the scan."""
    pred: Column = F.lit(False)
    s = F.col(stratum_col)
    for stratum, rate in rates.items():
        pred = F.when(s == stratum, hash_bernoulli(F.col(key_col), rate, seed)).otherwise(pred)
    return df.filter(pred)


def token_budget_sample(
    df: DataFrame,
    budgets: dict[str, int],
    size_col: str,
    stratum_col: str = "lang",
    key_col: str = "doc_id",
    seed: str = "budget",
) -> DataFrame:
    """Fill a per-stratum SIZE budget (tokens/bytes/chars) instead of a
    rate: docs are taken in deterministic md5 order within each stratum
    until the running total reaches the stratum's budget — how a
    mixture is actually specified when the target is "N tokens of
    domain X", not a fraction. A doc is kept iff the budget was not
    already exhausted when its turn came (so totals overshoot by at
    most one doc, never undershoot while docs remain); strata not named
    in ``budgets`` are dropped.

    Shape: one shuffle (the per-stratum window) — the unavoidable cost
    of an order-dependent cumulative rule; the hash order makes the
    result independent of partitioning/retries. Skew note: each
    stratum is one window partition, so stratum cardinality ~ executor
    memory is the binding constraint; for web-scale strata (billions of
    docs in 'en') pre-filter with :func:`stratified_sample` at a rate
    that brings the expected size near the budget, then budget-cut the
    small remainder exactly.
    """
    from pyspark.sql import Window

    h = _hash12(F.col(key_col), seed)
    w = (
        Window.partitionBy(stratum_col)
        .orderBy(h, F.col(key_col).cast("string"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    spent_before = F.coalesce(F.sum(size_col).over(w), F.lit(0))
    budget = F.lit(None).cast("long")
    s = F.col(stratum_col)
    for stratum, b in budgets.items():
        budget = F.when(s == stratum, F.lit(int(b))).otherwise(budget)
    return (
        df.withColumn("__spent", spent_before)
        .withColumn("__budget", budget)
        .filter(F.col("__budget").isNotNull() & (F.col("__spent") < F.col("__budget")))
        .drop("__spent", "__budget")
    )


def hash_split(
    df: DataFrame,
    fractions: dict[str, float],
    key_col: str = "doc_id",
    seed: str = "split",
    out_col: str = "split",
) -> DataFrame:
    """Deterministic doc-level train/val/test assignment: the hash line
    [0,1) is cut at the cumulative fractions, in the dict's order; the
    last named split absorbs any remainder so every row is assigned.
    Doc-level hashing (not row/shard-level) is what prevents split
    leakage of near-identical rows derived from one document."""
    total = sum(fractions.values())
    if not 0.999 <= total <= 1.001:
        raise ValueError(f"split fractions must sum to 1, got {total}")
    h = _hash12(F.col(key_col), seed)
    names = list(fractions)
    expr: Column = F.lit(names[-1])  # remainder -> last split
    cum = 0.0
    # build the CASE from the last boundary backwards so earlier splits
    # take precedence: when h < t1 then s1 when h < t2 then s2 ... else last
    boundaries: list[tuple[str, str]] = []
    for name in names[:-1]:
        cum += fractions[name]
        boundaries.append((name, rate_threshold(min(cum, 1.0 - 2**-48))))
    for name, thr in reversed(boundaries):
        expr = F.when(h < F.lit(thr), F.lit(name)).otherwise(expr)
    return df.withColumn(out_col, expr)


def temperature_mixture_sample(
    df: DataFrame,
    budget: int,
    size_col: str,
    stratum_col: str = "lang",
    key_col: str = "doc_id",
    tau: float = 0.5,
    seed: str = "temp",
) -> DataFrame:
    """Temperature-based mixture resampling (the multilingual-corpus
    reweighting rule of mC4/XLM-R, tau in (0, 1]): stratum d with n_d
    total size units gets target share q_d = n_d^tau / sum_e n_e^tau of
    a ``budget``-unit corpus, i.e. per-doc keep rate

        r_d = min(1, budget * q_d / n_d)

    — tau < 1 flattens the mixture toward uniform (upsampling-by-
    keeping-more of small strata is impossible in a filter, so rates
    cap at 1 and the realized total undershoots the budget when a small
    stratum saturates; the cap is the standard behavior).

    Fully distributed — NO driver-side collect of the stratum stats:
    the per-stratum totals are a tiny aggregate, the normalizer is a
    1-row frame, both are **broadcast** back, and membership is the
    same deterministic md5-threshold rule as :func:`stratified_sample`
    (retry/partition/engine independent; the DuckDB oracle replays it
    bit-for-bit). One scan-side shuffle total (the stratum aggregate);
    the corpus-side filter is a broadcast join + codegen'd comparison.
    """
    if not 0.0 < tau <= 1.0:
        raise ValueError(f"tau must be in (0,1], got {tau}")
    nd = df.groupBy(stratum_col).agg(F.sum(size_col).cast("double").alias("__n"))
    z = nd.agg(F.sum(F.pow("__n", F.lit(float(tau)))).alias("__z"))
    rates = nd.crossJoin(F.broadcast(z)).select(
        stratum_col,
        F.least(
            F.lit(1.0),
            F.lit(float(budget)) * F.pow("__n", F.lit(float(tau))) / F.col("__z") / F.col("__n"),
        ).alias("__r"),
    )
    # floor(r * 16^12) as a 12-hex threshold; r == 1.0 short-circuits
    # (its threshold would be 13 hex chars and lexicographically tiny)
    thr = F.lower(
        F.lpad(F.hex(F.floor(F.col("__r") * F.lit(float(HEX_W)))), 12, "0")
    )
    return (
        df.join(F.broadcast(rates), stratum_col)
        .filter((F.col("__r") >= 1.0) | (_hash12(F.col(key_col), seed) < thr))
        .drop("__r")
    )


# ---------------------------------------------------------------------------
# DSIR importance resampling (Xie et al. 2023, "Data Selection for
# Language Models via Importance Resampling"): select pool documents
# whose hashed-n-gram distribution looks like a small TARGET corpus.
# The quality-targeted counterpart of the mixture samplers above —
# instead of naming keep-rates per stratum, you name a target corpus
# and the weights fall out of two bag-of-hashed-grams unigram models.
#
# Scale shape (the 100 TB story):
# - features are md5-hex-prefix buckets of word unigrams + adjacent
#   bigrams — the bucket space is FIXED (16^bucket_hex, default 256),
#   so both fitted "models" are <=B-row tables regardless of corpus
#   size, always broadcast;
# - one wide shuffle total for featurization (explode -> map-side
#   partial groupBy on (doc, bucket), <=B groups per doc); the
#   per-bucket target/pool totals are second-level aggregates OVER
#   that per-doc frame (two-level aggregation, lm.py's shape);
# - per-doc weights are one more bounded groupBy; selection is
#   orderBy(...).limit(n) -> TakeOrderedAndProject, a per-partition
#   top-n + driver merge, never a global sort;
# - weights are order-independent: each bucket's log-ratio is rounded
#   to 9 decimals and each contribution summed as decimal(38,9)
#   (exact integer arithmetic — the lm_nll idiom), so results don't
#   depend on partition layout and a DuckDB twin replays them
#   bit-for-bit.
#
# The paper's sampled-without-replacement variant adds Gumbel noise to
# the log-weights before the top-n cut; with the deterministic-hash
# uniform u = (int(hash12)+0.5)/16^12 that is g = -ln(-ln(u)), a pure
# column expression — but hex->bigint differs enough across engines
# that the oracle twin would need engine-specific glue, so the shipped
# (and oracled) selector is the paper's other standard mode:
# deterministic top-n by weight.
# ---------------------------------------------------------------------------

DSIR_BUCKET_HEX = 2  # 16^2 = 256 hashed feature buckets


def _log_ratio(
    ct: Column,
    cq: Column,
    t_tot: Column,
    q_tot: Column,
    alpha: float,
    b_total: float,
) -> Column:
    """round9(ln p_target(b) / p_pool(b)) under add-``alpha`` smoothing,
    written as the four separate ln() calls both engines reproduce."""
    return F.round(
        F.log(ct + F.lit(alpha))
        - F.log(t_tot + F.lit(alpha * b_total))
        - F.log(cq + F.lit(alpha))
        + F.log(q_tot + F.lit(alpha * b_total)),
        9,
    )


def _gram_buckets(toks: Column, bucket_hex: int) -> Column:
    """array<string>: the md5-hex-prefix feature bucket of every word
    unigram and adjacent bigram, with multiplicity. ``toks`` MUST be a
    projected column reference, not an inline tokenizer expression —
    Catalyst does not CSE across lambda bodies (functions/lambdas.py),
    so an inline tokenizer would re-run per element."""
    uni = F.transform(toks, lambda t: F.substring(F.md5(t), 1, bucket_hex))
    # sequence(1, 0) counts DOWN, not empty — guard on size >= 2
    bi = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.substring(
                F.md5(
                    F.concat_ws(
                        " ", F.element_at(toks, i), F.element_at(toks, i + 1)
                    )
                ),
                1,
                bucket_hex,
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.concat(uni, bi)


def dsir_weights(
    df: DataFrame,
    target_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 1.0,
    bucket_hex: int = DSIR_BUCKET_HEX,
) -> DataFrame:
    """(id, n_grams, weight) for every POOL doc (``target_col`` false)
    with at least one token: weight = sum over gram occurrences of
    log p_target(bucket) / p_pool(bucket), both add-``alpha`` smoothed
    over the 16^bucket_hex bucket space. Higher = more target-like.

    The featurized per-doc frame is lazily localCheckpointed: it is
    referenced three times (target fit, pool fit, weighting), and
    without the barrier the explode+groupBy would run three times.
    """
    from ..functions.text_metrics import tokens

    b_total = float(16**bucket_hex)
    feat = (
        df.select(
            F.col(id_col),
            F.col(target_col).cast("boolean").alias("__t"),
            tokens(text_col).alias("__toks"),
        )
        .select(
            id_col,
            "__t",
            F.explode(_gram_buckets(F.col("__toks"), bucket_hex)).alias("b"),
        )
        .groupBy(id_col, "__t", "b")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    feat = pin(feat)
    tgt = feat.filter(F.col("__t")).groupBy("b").agg(F.sum("k").alias("ct"))
    pool = feat.filter(~F.col("__t"))
    poolb = pool.groupBy("b").agg(F.sum("k").alias("cq"))
    t_total = tgt.agg(
        F.coalesce(F.sum("ct"), F.lit(0)).cast("double").alias("__T")
    )
    q_total = poolb.agg(F.sum("cq").cast("double").alias("__Q"))
    # per-bucket log-ratio over POOL-observed buckets only (a bucket no
    # pool gram hashes into is never looked up); rounded to 9 decimals
    # so the decimal contributions below are engine-exact
    lr = (
        poolb.join(tgt, "b", "left")
        .crossJoin(F.broadcast(t_total))
        .crossJoin(F.broadcast(q_total))
        .select(
            "b",
            _log_ratio(
                F.coalesce(F.col("ct"), F.lit(0)),
                F.col("cq"),
                F.col("__T"),
                F.col("__Q"),
                alpha,
                b_total,
            ).alias("r"),
        )
    )
    return (
        pool.join(F.broadcast(lr), "b")
        .groupBy(id_col)
        .agg(
            F.sum((F.col("k") * F.col("r")).cast("decimal(38,9)")).alias("__w"),
            F.sum("k").cast("long").alias("n_grams"),
        )
        .select(
            id_col,
            "n_grams",
            F.round(F.col("__w").cast("double"), 6).alias("weight"),
        )
    )


def dsir_topk(
    df: DataFrame,
    target_col: str,
    n: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 1.0,
    bucket_hex: int = DSIR_BUCKET_HEX,
) -> DataFrame:
    """The selection step: the ``n`` most target-like pool docs, all
    their original columns plus (n_grams, weight). Deterministic total
    order (weight desc, id asc); plans as TakeOrderedAndProject."""
    w = dsir_weights(
        df,
        target_col,
        text_col=text_col,
        id_col=id_col,
        alpha=alpha,
        bucket_hex=bucket_hex,
    )
    return (
        df.join(w, id_col)
        .orderBy(F.col("weight").desc(), F.col(id_col))
        .limit(int(n))
    )


def dsir_fit(
    df: DataFrame,
    target_col: str,
    text_col: str = "text",
    alpha: float = 1.0,
    bucket_hex: int = DSIR_BUCKET_HEX,
) -> DataFrame:
    """The model-reuse form: fit the bucket log-ratio table ONCE on a
    corpus snapshot, then :func:`dsir_score` any frame (a new snapshot,
    a stream's micro-batches) against it. Returns exactly
    16^bucket_hex rows (b, r) — the FULL bucket space, so every later
    lookup hits (a bucket unseen in the fit pool gets the smoothed
    prior ratio) — a model-sized durable artifact like lm.BigramLM
    (persist with ``.write.parquet`` for cross-run reuse).

    One pass: explode -> ONE map-side-partial groupBy(bucket) with
    conditional target/pool sums; totals are 1-row broadcast frames.
    """
    from ..functions.text_metrics import tokens

    b_total = float(16**bucket_hex)
    counts = (
        df.select(
            F.col(target_col).cast("boolean").alias("__t"),
            tokens(text_col).alias("__toks"),
        )
        .select(
            "__t",
            F.explode(_gram_buckets(F.col("__toks"), bucket_hex)).alias("b"),
        )
        .groupBy("b")
        .agg(
            F.sum(F.when(F.col("__t"), 1).otherwise(0)).alias("ct"),
            F.sum(F.when(~F.col("__t"), 1).otherwise(0)).alias("cq"),
        )
    )
    spark = df.sparkSession
    all_buckets = spark.range(16**bucket_hex).select(
        F.lower(F.lpad(F.hex("id"), bucket_hex, "0")).alias("b")
    )
    totals = counts.agg(
        F.coalesce(F.sum("ct"), F.lit(0)).cast("double").alias("__T"),
        F.coalesce(F.sum("cq"), F.lit(0)).cast("double").alias("__Q"),
    )
    return (
        all_buckets.join(F.broadcast(counts), "b", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "b",
            _log_ratio(
                F.coalesce(F.col("ct"), F.lit(0)),
                F.coalesce(F.col("cq"), F.lit(0)),
                F.col("__T"),
                F.col("__Q"),
                alpha,
                b_total,
            ).alias("r"),
        )
    )


def dsir_score(
    df: DataFrame,
    model: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bucket_hex: int = DSIR_BUCKET_HEX,
) -> DataFrame:
    """(id, n_grams, weight) for every row of ``df`` with >=1 token,
    against a :func:`dsir_fit` model: explode -> map-side-partial
    per-doc bucket counts -> broadcast model join -> decimal-quantized
    per-doc sum. Same arithmetic as :func:`dsir_weights`, so scoring
    the fit corpus's own pool reproduces its weights exactly."""
    from ..functions.text_metrics import tokens

    docb = (
        df.select(F.col(id_col), tokens(text_col).alias("__toks"))
        .select(
            id_col,
            F.explode(_gram_buckets(F.col("__toks"), bucket_hex)).alias("b"),
        )
        .groupBy(id_col, "b")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    return (
        docb.join(F.broadcast(model), "b")
        .groupBy(id_col)
        .agg(
            F.sum((F.col("k") * F.col("r")).cast("decimal(38,9)")).alias("__w"),
            F.sum("k").cast("long").alias("n_grams"),
        )
        .select(
            id_col,
            "n_grams",
            F.round(F.col("__w").cast("double"), 6).alias("weight"),
        )
    )
