"""Clustering / blocking evaluation metrics for entity resolution.

The reference repo evaluates linking quality with per-mention accuracy
over labeled pairs (reference ``src/train.py`` eval loop; BASELINE's
north rule asks for pairwise F1 >= 0.99 on labeled mention-entity
pairs at shared blocking keys). A production ER system additionally
needs *clustering*-level evaluation — pairwise precision/recall/F1,
B-cubed (Bagga & Baldwin 1998; Amigo et al. 2009), ARI (Hubert &
Arabie 1985) and NMI — *blocking* evaluation — pair completeness and
reduction ratio (Christen 2012, "Data Matching", ch. 7) — and the
per-cluster impurity report behind a bad score. These are the standard
report cards a record-linkage run emits next to its output.

All metrics here are computed from cluster-SIZE aggregates only — the
candidate/true pair sets are never materialized, so the operators are
one-groupBy-deep and survive 10^12 rows:

  pairwise:  TP = sum over (pred, gold) cells of C(c, 2);
             P  = TP / sum over pred clusters of C(p, 2);
             R  = TP / sum over gold clusters of C(g, 2).
  B-cubed:   per-item precision = cell/pred_size, recall =
             cell/gold_size; corpus metric = mean over items, i.e.
             (1/N) * sum over cells of c * (c / size).

Shape at scale: one groupBy on (pred, gold), one on each of pred /
gold for sizes, two joins on cluster ids (cluster-count-sized frames,
orders of magnitude smaller than the corpus), one scalar aggregate.
No pair explosion anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from ..session import pin


def _singleton(id_col: str):
    # NULL-cluster fallback lives in its own namespace: coalescing to
    # the bare item id would merge a NULL-pred item whose id string
    # equals a real cluster id into that cluster.
    return F.concat(F.lit("\x00singleton:"), F.col(id_col).cast("string"))


def _pairs(n):
    # cast BEFORE the multiply: n*(n-1) in bigint wraps negative for
    # clusters above ~3e9 members (doubles lose exactness only past
    # 2^53 pairs, far beyond any meaningful metric)
    nd = n.cast("double")
    return nd * (nd - F.lit(1.0)) / F.lit(2.0)


def cluster_pair_metrics(
    assign: DataFrame,
    id_col: str = "doc_id",
    pred_col: str = "pred",
    gold_col: str = "gold",
) -> DataFrame:
    """One-row clustering report card: pairwise P/R/F1 + B-cubed
    P/R/F1 of a predicted clustering against a gold clustering.

    ``assign``: one row per item with its predicted and gold cluster
    ids. Items must appear exactly once (enforce upstream); NULL
    cluster ids are treated as singletons (namespaced by the item id so
    they can never collide with a real cluster id).

    -> (n_items, n_pred, n_gold, pair_precision, pair_recall, pair_f1,
        b3_precision, b3_recall, b3_f1, ari, nmi), doubles rounded to 6.

    ARI (Hubert & Arabie 1985) and NMI (arithmetic-mean normalization,
    natural log) come from the SAME aggregates: ARI from the three pair
    sums; NMI from sum c*ln(c/(p_n*g_n)) over cells plus sum s*ln(s)
    over each size table, using MI = (S1 + N ln N)/N and
    H = (N ln N - sum s ln s)/N — no additional corpus pass.
    """
    a = assign.select(
        F.col(id_col).cast("string").alias("_id"),
        F.coalesce(
            F.col(pred_col).cast("string"), _singleton(id_col)
        ).alias("_p"),
        F.coalesce(
            F.col(gold_col).cast("string"), _singleton(id_col)
        ).alias("_g"),
    )
    # ONE corpus-wide shuffle (to the (pred, gold) cells); cluster sizes
    # are re-aggregated from the cells frame, which is cluster-count-
    # sized, not corpus-sized. The lazy localCheckpoint makes single
    # evaluation STRUCTURAL (the surf_keys discipline,
    # plans/pipeline.py): cells' five consumers (sizes x2, join, both
    # scalar pair sums) all plan over the one materialized RDD instead
    # of re-running the corpus aggregation per consumer.
    cells = pin(
        a.groupBy("_p", "_g")
        .agg(F.count("*").alias("c"))
    )
    psz = cells.groupBy("_p").agg(F.sum("c").alias("p_n"))
    gsz = cells.groupBy("_g").agg(F.sum("c").alias("g_n"))
    j = cells.join(psz, "_p").join(gsz, "_g")
    agg = j.agg(
        F.sum("c").cast("bigint").alias("n_items"),
        F.countDistinct("_p").cast("bigint").alias("n_pred"),
        F.countDistinct("_g").cast("bigint").alias("n_gold"),
        F.sum(_pairs(F.col("c"))).alias("tp"),
        # each pred cluster's C(p,2) is replicated once per cell it
        # spans; divide by the number of cells sharing the cluster by
        # summing C(p,2)/cells_in_p — cheaper: sum over DISTINCT
        # clusters via the size frames below instead.
        F.sum(F.col("c") * F.col("c") / F.col("p_n")).alias("b3p_num"),
        F.sum(F.col("c") * F.col("c") / F.col("g_n")).alias("b3r_num"),
        # p_n * g_n as double: the bigint product wraps past ~3e9-member
        # clusters (same overflow class as _pairs)
        F.sum(
            F.col("c")
            * F.log(
                F.col("c")
                / (F.col("p_n").cast("double") * F.col("g_n").cast("double"))
            )
        ).alias("mi_s1"),
    )
    pred_pairs = psz.agg(
        F.sum(_pairs(F.col("p_n"))).alias("pred_pairs"),
        F.sum(F.col("p_n") * F.log("p_n")).alias("p_slns"),
    )
    gold_pairs = gsz.agg(
        F.sum(_pairs(F.col("g_n"))).alias("gold_pairs"),
        F.sum(F.col("g_n") * F.log("g_n")).alias("g_slns"),
    )
    out = agg.crossJoin(pred_pairs).crossJoin(gold_pairs)
    pp = F.when(F.col("pred_pairs") > 0, F.col("tp") / F.col("pred_pairs")).otherwise(
        F.lit(1.0)
    )
    pr = F.when(F.col("gold_pairs") > 0, F.col("tp") / F.col("gold_pairs")).otherwise(
        F.lit(1.0)
    )
    b3p = F.col("b3p_num") / F.col("n_items")
    b3r = F.col("b3r_num") / F.col("n_items")
    n = F.col("n_items").cast("double")
    all_pairs = n * (n - 1) / 2
    exp = F.col("pred_pairs") * F.col("gold_pairs") / all_pairs
    ari_den = (F.col("pred_pairs") + F.col("gold_pairs")) / 2 - exp
    ari = F.when(ari_den != 0, (F.col("tp") - exp) / ari_den).otherwise(F.lit(1.0))
    lnn = F.log(n)
    mi = (F.col("mi_s1") + n * lnn) / n
    hp = (n * lnn - F.col("p_slns")) / n
    hg = (n * lnn - F.col("g_slns")) / n
    nmi = F.when(hp + hg > 0, 2 * mi / (hp + hg)).otherwise(F.lit(1.0))
    return out.select(
        "n_items",
        "n_pred",
        "n_gold",
        F.round(pp, 6).alias("pair_precision"),
        F.round(pr, 6).alias("pair_recall"),
        F.round(
            F.when(pp + pr > 0, 2 * pp * pr / (pp + pr)).otherwise(F.lit(0.0)), 6
        ).alias("pair_f1"),
        F.round(b3p, 6).alias("b3_precision"),
        F.round(b3r, 6).alias("b3_recall"),
        F.round(
            F.when(b3p + b3r > 0, 2 * b3p * b3r / (b3p + b3r)).otherwise(F.lit(0.0)),
            6,
        ).alias("b3_f1"),
        F.round(ari, 6).alias("ari"),
        F.round(nmi, 6).alias("nmi"),
    )


def blocking_quality(
    cand_pairs: DataFrame,
    assign: DataFrame,
    id_col: str = "doc_id",
    gold_col: str = "gold",
    a_col: str = "a_id",
    b_col: str = "b_id",
) -> DataFrame:
    """One-row blocking report card against a gold clustering:

      pair_completeness  = |candidate pairs that are true matches|
                           / |true matched pairs|        (blocking recall)
      reduction_ratio    = 1 - |candidate pairs| / C(N, 2)
      pair_quality       = true candidates / |candidate pairs|
                           (blocking precision)

    ``cand_pairs``: (a_id, b_id) with a < b, deduplicated (the output
    shape of every blocking channel in this repo). True-pair counts
    come from gold cluster sizes (no gold-pair materialization); the
    true-candidate count is ONE equi-join of the candidate set against
    the item->gold map on each endpoint. Scale shape: two joins keyed
    on item id + one scalar aggregate.
    """
    g = assign.select(
        F.col(id_col).cast("string").alias("_id"),
        F.coalesce(
            F.col(gold_col).cast("string"), _singleton(id_col)
        ).alias("_g"),
    )
    n_items = g.agg(F.count("*").cast("double").alias("n")).select(
        "n", _pairs(F.col("n")).alias("all_pairs")
    )
    gold_pairs = (
        g.groupBy("_g")
        .agg(F.count("*").alias("n"))
        .agg(F.sum(_pairs(F.col("n"))).alias("gold_pairs"))
    )
    cp = cand_pairs.select(
        F.col(a_col).cast("string").alias("_a"), F.col(b_col).cast("string").alias("_b")
    )
    # LEFT joins so candidate pairs with an endpoint absent from the
    # assignment table still count toward cand_pairs/reduction_ratio
    # (they just can't be true matches); coalesce so an empty candidate
    # set reports completeness 0.0, not NULL.
    matched = (
        cp.join(
            g.select(F.col("_id").alias("_a"), F.col("_g").alias("_ga")), "_a", "left"
        )
        .join(
            g.select(F.col("_id").alias("_b"), F.col("_g").alias("_gb")), "_b", "left"
        )
        .agg(
            F.count("*").cast("double").alias("cand_pairs"),
            F.coalesce(
                F.sum((F.col("_ga") == F.col("_gb")).cast("double")), F.lit(0.0)
            ).alias("true_cand"),
        )
    )
    out = matched.crossJoin(gold_pairs).crossJoin(n_items)
    return out.select(
        F.col("cand_pairs").cast("bigint").alias("cand_pairs"),
        F.col("gold_pairs").cast("bigint").alias("gold_pairs"),
        F.round(
            F.when(F.col("gold_pairs") > 0, F.col("true_cand") / F.col("gold_pairs"))
            .otherwise(F.lit(1.0)),
            6,
        ).alias("pair_completeness"),
        F.round(F.lit(1.0) - F.col("cand_pairs") / F.col("all_pairs"), 6).alias(
            "reduction_ratio"
        ),
        F.round(
            F.when(F.col("cand_pairs") > 0, F.col("true_cand") / F.col("cand_pairs"))
            .otherwise(F.lit(0.0)),
            6,
        ).alias("pair_quality"),
    )


def threshold_curve(
    scored: DataFrame,
    thresholds: list[float],
    score_col: str = "score",
    label_col: str = "label",
) -> DataFrame:
    """Decision-threshold sweep over labeled scored pairs: one row per
    candidate threshold with (n_predicted, tp, fp, fn, precision,
    recall, f1) — the curve an ER deployment reads to pick its match
    cutoff (and the upper/lower bounds of the Fellegi-Sunter
    possible-link band that ``clerical_review_queue`` exports).

    Scale shape: the ENTIRE curve is ONE scalar aggregate over the pair
    frame — 2k+1 conditional sums evaluated in a single codegen'd scan,
    zero shuffles — followed by a k-row ``stack`` explode of the 1-row
    result. No per-threshold passes, no sort of the score column
    (contrast sklearn's roc_curve, which sorts all N scores); k is the
    caller's grid, so cost is independent of |pairs| beyond the scan.

    Conventions match ``cluster_pair_metrics``: precision of an empty
    prediction set is 1.0, recall with zero gold positives is 1.0, f1
    of (0, 0) is 0.0. Doubles rounded to 6.
    """
    if not thresholds:
        raise ValueError("thresholds must be non-empty")
    ts = sorted({float(t) for t in thresholds})
    s = F.col(score_col).cast("double")
    y = F.col(label_col).cast("boolean")
    aggs = [F.sum(y.cast("long")).alias("_pos")]
    for i, t in enumerate(ts):
        hit = s >= F.lit(t)
        aggs.append(F.sum(hit.cast("long")).alias(f"_n{i}"))
        aggs.append(F.sum((hit & y).cast("long")).alias(f"_tp{i}"))
    one = scored.agg(*aggs)
    stack_args = ", ".join(
        f"cast({t} as double), _n{i}, _tp{i}" for i, t in enumerate(ts)
    )
    rows = one.selectExpr(
        "_pos",
        f"stack({len(ts)}, {stack_args}) as (threshold, n_predicted, tp)",
    )
    # an empty input frame aggregates to one row of NULL sums: coalesce
    # so the curve degrades to all-zero counts instead of NULL metrics
    pos = F.coalesce(F.col("_pos"), F.lit(0)).cast("bigint")
    np_ = F.coalesce(F.col("n_predicted"), F.lit(0)).cast("bigint")
    tp = F.coalesce(F.col("tp"), F.lit(0)).cast("bigint")
    prec = F.when(np_ > 0, tp / np_).otherwise(F.lit(1.0))
    rec = F.when(pos > 0, tp / pos).otherwise(F.lit(1.0))
    return rows.select(
        F.col("threshold"),
        np_.alias("n_predicted"),
        tp.alias("tp"),
        (np_ - tp).alias("fp"),
        (pos - tp).alias("fn"),
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.round(
            F.when(prec + rec > 0, 2 * prec * rec / (prec + rec)).otherwise(F.lit(0.0)),
            6,
        ).alias("f1"),
    ).orderBy("threshold")


def platt_calibrate(
    scored: DataFrame,
    score_col: str = "score",
    label_col: str = "label",
    iters: int = 2,
    lr: float = 0.5,
) -> dict[str, float]:
    """Platt scaling (Platt 1999): fit p = sigmoid(a·score + b) on
    labeled scored pairs, turning a raw match score into the calibrated
    match PROBABILITY the three-way decision rule and the review queue
    actually want to threshold. The fit reuses classifier.lr_fit's
    deterministic full-batch GD — one map-side-partial decimal(38,9)
    aggregate per iteration, model = two plan literals — so the fitted
    (a, b) are partition-invariant and engine-replayable (the
    quality_classifier oracle idiom, with score as the single feature).
    Scores are rounded to 9 decimals before the fit so both engines
    feed identical doubles. Returns {"bias": b, "s": a}."""
    from .classifier import lr_fit

    feats = scored.select(
        F.round(F.col(score_col).cast("double"), 9).alias("s"),
        F.col(label_col).cast("int").alias("__y"),
    )
    return lr_fit(feats, "__y", feature_cols=("s",), iters=iters, lr=lr)


def apply_calibration(
    df: DataFrame,
    model: dict[str, float],
    score_col: str = "score",
    out_col: str = "p_match",
) -> DataFrame:
    """Append the calibrated probability sigmoid(a·score + b), rounded
    to 6 — classifier.lr_score over the 9-decimal-rounded score (one
    scoring expression in the codebase, so the engines' rounding and
    sigmoid cannot drift between the two fitters)."""
    from .classifier import lr_score

    scored = df.withColumn("s", F.round(F.col(score_col).cast("double"), 9))
    return lr_score(scored, model, ("s",), out_col).drop("s")


def cluster_impurity_report(
    assign: DataFrame,
    id_col: str = "doc_id",
    pred_col: str = "pred",
    gold_col: str = "gold",
    top_k: int = 20,
) -> DataFrame:
    """The debugging artifact behind a bad report card: the predicted
    clusters that lose the most pairwise precision, i.e. the over-merge
    offenders. For each pred cluster: its size, how many gold clusters
    it spans, the purity (largest gold cell / size), and the number of
    WRONG intra-cluster pairs it contributes (C(size,2) - sum over gold
    cells of C(cell,2)). Top-k by wrong pairs, deterministic tie-break
    on the cluster id.

    Same scale shape as the report card: one corpus shuffle to the
    (pred, gold) cells, then cluster-count-sized aggregation + one
    window-free ORDER/LIMIT on a top_k-sized result.
    """
    a = assign.select(
        F.coalesce(
            F.col(pred_col).cast("string"), _singleton(id_col)
        ).alias("_p"),
        F.coalesce(
            F.col(gold_col).cast("string"), _singleton(id_col)
        ).alias("_g"),
    )
    cells = a.groupBy("_p", "_g").agg(F.count("*").alias("c"))
    per = cells.groupBy("_p").agg(
        F.sum("c").cast("bigint").alias("size"),
        F.count("*").cast("bigint").alias("n_gold_spanned"),
        F.max("c").cast("bigint").alias("max_cell"),
        F.sum(_pairs(F.col("c"))).alias("good_pairs"),
    )
    wrong = (
        _pairs(F.col("size").cast("double")) - F.col("good_pairs")
    ).cast("bigint")
    return (
        per.select(
            F.col("_p").alias("pred_cluster"),
            "size",
            "n_gold_spanned",
            F.round(F.col("max_cell") / F.col("size"), 6).alias("purity"),
            wrong.alias("wrong_pairs"),
        )
        .filter(F.col("wrong_pairs") > 0)
        .orderBy(F.desc("wrong_pairs"), F.asc("pred_cluster"))
        .limit(top_k)
    )
