"""Unit tests for operators/evaluation.py, operators/meta_blocking.py
and operators/fs_linkage.py — hand-checkable fixtures with closed-form
expected metrics, plus invariants (perfect clustering scores 1.0
everywhere; EM posterior monotone in agreement count)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from entity_linking_in_biomedical_spark.operators.evaluation import (
    blocking_quality,
    cluster_pair_metrics,
)
from entity_linking_in_biomedical_spark.operators.fs_linkage import (
    em_fit,
    fellegi_sunter_weights,
    score_pairs,
)
from entity_linking_in_biomedical_spark.operators.meta_blocking import (
    meta_block_prune,
)


def _assign(spark, rows):
    return spark.createDataFrame(rows, "doc_id string, pred string, gold string")


def test_cluster_pair_metrics_hand_computed(spark):
    # gold: {a,b,c}, {d,e};  pred: {a,b}, {c,d}, {e}
    rows = [
        ("a", "p1", "g1"),
        ("b", "p1", "g1"),
        ("c", "p2", "g1"),
        ("d", "p2", "g2"),
        ("e", "p3", "g2"),
    ]
    r = cluster_pair_metrics(_assign(spark, rows)).collect()[0]
    # pred pairs: C(2,2)+C(2,2)=2; gold pairs: C(3,2)+C(2,2)=4; TP: {a,b}=1
    assert r["n_items"] == 5 and r["n_pred"] == 3 and r["n_gold"] == 2
    assert r["pair_precision"] == pytest.approx(1 / 2)
    assert r["pair_recall"] == pytest.approx(1 / 4)
    assert r["pair_f1"] == pytest.approx(2 * 0.5 * 0.25 / 0.75, abs=1e-6)
    # B3 precision per item: a,b: 2/2; c: 1/2; d: 1/2; e: 1/1 -> mean 4/5
    assert r["b3_precision"] == pytest.approx(4 / 5)
    # B3 recall per item: a,b: 2/3; c: 1/3; d: 1/2; e: 1/2 -> mean 8/3/5+... =
    rec = (2 / 3 + 2 / 3 + 1 / 3 + 1 / 2 + 1 / 2) / 5
    assert r["b3_recall"] == pytest.approx(rec, abs=1e-6)
    # ARI: tp=1, pred_pairs=2, gold_pairs=4, C(5,2)=10 -> exp=0.8
    assert r["ari"] == pytest.approx((1 - 0.8) / ((2 + 4) / 2 - 0.8), abs=1e-6)
    # NMI (natural log, arithmetic-mean normalization), from the cells
    cells = [(2, 2, 3), (1, 2, 3), (1, 2, 2), (1, 1, 2)]  # (c, p_n, g_n)
    n = 5
    mi = sum(c / n * math.log(c * n / (pn * gn)) for c, pn, gn in cells)
    hp = -sum(s / n * math.log(s / n) for s in (2, 2, 1))
    hg = -sum(s / n * math.log(s / n) for s in (3, 2))
    assert r["nmi"] == pytest.approx(2 * mi / (hp + hg), abs=1e-6)


def test_cluster_pair_metrics_perfect_and_null(spark):
    rows = [("a", "p1", "g1"), ("b", "p1", "g1"), ("c", None, None)]
    r = cluster_pair_metrics(_assign(spark, rows)).collect()[0]
    # NULL ids coalesce to the item id -> c is its own singleton in both
    assert r["pair_f1"] == 1.0 and r["b3_f1"] == 1.0
    assert r["ari"] == 1.0 and r["nmi"] == 1.0
    assert r["n_pred"] == r["n_gold"] == 2


def test_blocking_quality_hand_computed(spark):
    # gold clusters {a,b,c} + {d}; candidates (a,b),(a,d)
    assign = spark.createDataFrame(
        [("a", "g1"), ("b", "g1"), ("c", "g1"), ("d", "g2")],
        "doc_id string, gold string",
    )
    cand = spark.createDataFrame([("a", "b"), ("a", "d")], "a_id string, b_id string")
    r = blocking_quality(cand, assign, "doc_id", "gold").collect()[0]
    assert r["cand_pairs"] == 2 and r["gold_pairs"] == 3
    assert r["pair_completeness"] == pytest.approx(1 / 3)
    assert r["reduction_ratio"] == pytest.approx(1 - 2 / 6)
    assert r["pair_quality"] == pytest.approx(1 / 2)


def test_meta_block_prune_cbs_weights(spark):
    # a,b share 3 blocks; a,c share 1; block k4 is oversized -> purged
    rows = (
        [("a", k) for k in ("k1", "k2", "k3", "k5")]
        + [("b", k) for k in ("k1", "k2", "k3")]
        + [("c", "k5"), ("c", "k1")]
        + [(f"z{i}", "k4") for i in range(10)]
        + [("a", "k4"), ("b", "k4")]
    )
    blocks = spark.createDataFrame(rows, "doc_id string, bk string")
    out = meta_block_prune(blocks, max_block=5, min_common=2).collect()
    got = {(r["a_id"], r["b_id"]): r["common_blocks"] for r in out}
    # k4 (size 12 > 5) contributes nothing; (a,c) share k1,k5 -> kept at 2;
    # (b,c) share only k1 -> pruned by min_common=2
    assert got == {("a", "b"): 3, ("a", "c"): 2}


def test_meta_block_prune_top_k(spark):
    # star: hub h shares 2 blocks with each of 4 spokes; top_k=2 keeps the
    # lexicographically-first ties per node, but every spoke retains its own
    # edge to the hub (CNP keeps an edge if EITHER endpoint ranks it).
    rows = []
    for i, s in enumerate(["s1", "s2", "s3", "s4"]):
        rows += [("h", f"b{i}a"), ("h", f"b{i}b"), (s, f"b{i}a"), (s, f"b{i}b")]
    blocks = spark.createDataFrame(rows, "doc_id string, bk string")
    out = meta_block_prune(blocks, max_block=10, min_common=2, top_k=2).collect()
    pairs = {(r["a_id"], r["b_id"]) for r in out}
    assert pairs == {("h", "s1"), ("h", "s2"), ("h", "s3"), ("h", "s4")}


def test_cluster_pair_metrics_certifies_north_rule_on_pipeline(spark, corpus):
    """The distributed report card must agree with the local pairwise-F1
    twin (tests/test_pipeline.pairwise_f1) on REAL pipeline output, and
    certify the north rule (pairwise F1 >= 0.99) distributedly — the
    form that runs at corpus scale where itertools.combinations
    cannot."""
    from entity_linking_in_biomedical_spark.plans.pipeline import run_pipeline
    from tests.test_pipeline import clusters_from_spark, pairwise_f1

    docs, ents, labels, abbr, split = corpus.to_spark(spark)
    emb = corpus.embeddings_df(spark)
    result = run_pipeline(spark, docs, ents, embeddings=emb, abbr_map=abbr)
    got = clusters_from_spark(result)
    gold = {
        (l["doc_id"], l["span_seq"]): l["cluster_id"]
        for l in corpus.labels
        if (l["doc_id"], l["span_seq"]) in got
    }
    keys = sorted(set(got) & set(gold))
    local_f1 = pairwise_f1(got, gold)
    assign = spark.createDataFrame(
        [(f"{d}:{s}", str(got[(d, s)]), str(gold[(d, s)])) for d, s in keys],
        "doc_id string, pred string, gold string",
    )
    r = cluster_pair_metrics(assign).collect()[0]
    assert r["pair_f1"] == pytest.approx(local_f1, abs=1e-6)
    assert r["pair_f1"] >= 0.99  # the north-rule contract, distributed form
    assert r["b3_f1"] >= 0.99


def test_em_fit_separates_planted_mixture():
    # two populations: matches agree on both fields 90% of the time,
    # non-matches 10% — EM must recover m >> u and a small lambda.
    counts = {
        (1, 1): 81 * 10 + 1 * 990,
        (1, 0): 9 * 10 + 9 * 990,
        (0, 1): 9 * 10 + 9 * 990,
        (0, 0): 1 * 10 + 81 * 990,
    }
    lam, m, u = em_fit(sorted((k, v) for k, v in counts.items()), iters=100)
    assert m[0] > 0.5 > 0.25 > u[0] and m[1] > 0.5 > 0.25 > u[1]
    assert lam < 0.5


def test_fellegi_sunter_weights_monotone(spark):
    import random

    rng = random.Random(7)
    rows = []
    for _ in range(200):  # matches
        rows.append((int(rng.random() < 0.9), int(rng.random() < 0.85)))
    for _ in range(2000):  # non-matches
        rows.append((int(rng.random() < 0.1), int(rng.random() < 0.15)))
    pairs = spark.createDataFrame(rows, "g1 int, g2 int")
    w = fellegi_sunter_weights(pairs, ["g1", "g2"], iters=50)
    byp = {(r["g1"], r["g2"]): r for r in w.collect()}
    assert byp[(1, 1)]["match_weight"] > byp[(1, 0)]["match_weight"]
    assert byp[(0, 1)]["match_weight"] > byp[(0, 0)]["match_weight"]
    assert byp[(1, 1)]["match_prob"] > 0.5 > byp[(0, 0)]["match_prob"]
    assert sum(r["n_pairs"] for r in byp.values()) == 2200
    # score_pairs attaches the same numbers via broadcast join
    scored = score_pairs(pairs, w, ["g1", "g2"])
    row = scored.filter((F.col("g1") == 1) & (F.col("g2") == 1)).first()
    assert row["match_weight"] == byp[(1, 1)]["match_weight"]
    # weight is the log2 LR of the fitted params (spot-check identity)
    r11 = byp[(1, 1)]
    assert not math.isnan(r11["match_weight"])


def test_em_fit_levels_monotone_weights(spark):
    """On a planted two-population mixture with graded agreement, the
    fitted match weight must be monotone in the agreement level of each
    field, and the level form must reduce to the binary form's shape
    when every field has 2 levels."""
    import random

    from entity_linking_in_biomedical_spark.operators.fs_linkage import (
        fellegi_sunter_weights_levels,
    )

    rng = random.Random(11)
    rows = []
    for _ in range(300):  # matches: mostly level 2
        r = rng.random()
        rows.append((2 if r < 0.7 else (1 if r < 0.9 else 0), 1))
    for _ in range(3000):  # non-matches: mostly level 0
        r = rng.random()
        rows.append((0 if r < 0.7 else (1 if r < 0.9 else 2), 0))
    pairs = spark.createDataFrame(rows, "l1 int, g2 int")
    w = fellegi_sunter_weights_levels(
        pairs, ["l1", "g2"], n_levels=[3, 2], iters=60
    )
    byp = {(r["l1"], r["g2"]): r["match_weight"] for r in w.collect()}
    # weight monotone in l1 at fixed g2
    for g2 in (0, 1):
        trip = [byp.get((l, g2)) for l in (0, 1, 2)]
        present = [t for t in trip if t is not None]
        assert present == sorted(present), f"not monotone at g2={g2}: {trip}"
    assert sum(r["n_pairs"] for r in w.collect()) == 3300


def test_tf_adjustment_rewards_rare_values(spark):
    """Agreeing on a rare value must gain weight; on a common value it
    must lose it (relative to the field-average u): delta =
    log2(u_k / tf(value))."""
    from entity_linking_in_biomedical_spark.operators.fs_linkage import (
        term_frequencies,
        tf_adjusted_weight,
    )

    items = spark.createDataFrame(
        [(i, "smith" if i < 90 else "zubrzycki") for i in range(100)],
        "id int, surname string",
    )
    tf = term_frequencies(items, "surname")
    got = {r["value"]: r["tf"] for r in tf.collect()}
    assert got == {"smith": pytest.approx(0.9), "zubrzycki": pytest.approx(0.1)}

    pairs = spark.createDataFrame(
        [(1, "smith", 2.0), (1, "zubrzycki", 2.0), (0, "smith", -1.0)],
        "g int, surname string, match_weight double",
    )
    out = tf_adjusted_weight(pairs, tf, "g", "surname", u_k=0.5)
    rows = {(r["g"], r["surname"]): r["match_weight_tf"] for r in out.collect()}
    assert rows[(1, "zubrzycki")] == pytest.approx(2.0 + math.log2(0.5 / 0.1))
    assert rows[(1, "smith")] == pytest.approx(2.0 + math.log2(0.5 / 0.9))
    assert rows[(1, "zubrzycki")] > rows[(1, "smith")]
    # disagreeing pairs untouched
    assert rows[(0, "smith")] == -1.0


def test_clerical_review_queue_band_and_determinism(spark):
    """Band filter is exclusive, ordering is most-uncertain-first with
    id tie-breaks, and the cap is deterministic across partitionings."""
    from entity_linking_in_biomedical_spark.operators.fs_linkage import (
        clerical_review_queue,
    )

    rows = [
        ("a", 0.95),  # above band -> auto-link
        ("b", 0.05),  # below band -> auto-nonlink
        ("c", 0.52),
        ("d", 0.48),
        ("e", 0.30),
        ("f", 0.52),
    ]
    pairs = spark.createDataFrame(rows, "pid string, match_prob double")
    q = clerical_review_queue(
        pairs, low=0.1, high=0.9, cap=3, order_cols=("pid",)
    ).collect()
    assert [r["pid"] for r in q] == ["c", "d", "f"]  # |p-0.5| ties by pid
    q2 = clerical_review_queue(
        pairs.repartition(7), low=0.1, high=0.9, cap=3, order_cols=("pid",)
    ).collect()
    assert [r["pid"] for r in q2] == ["c", "d", "f"]


def test_cluster_impurity_report(spark):
    """Over-merged pred cluster surfaces with the right wrong-pair
    count; pure clusters are absent."""
    from entity_linking_in_biomedical_spark.operators.evaluation import (
        cluster_impurity_report,
    )

    rows = (
        [(f"x{i}", "big", "g1") for i in range(3)]
        + [(f"y{i}", "big", "g2") for i in range(2)]
        + [("z0", "pure", "g3"), ("z1", "pure", "g3")]
    )
    out = cluster_impurity_report(_assign(spark, rows)).collect()
    assert len(out) == 1  # 'pure' contributes no wrong pairs
    r = out[0]
    # big: size 5 -> C(5,2)=10 pairs; good = C(3,2)+C(2,2)=4 -> wrong 6
    assert r["pred_cluster"] == "big" and r["size"] == 5
    assert r["n_gold_spanned"] == 2 and r["wrong_pairs"] == 6
    assert r["purity"] == pytest.approx(3 / 5)


def test_em_fit_degenerate_single_pattern_no_nan():
    """A one-pattern table (every pair identical) must not NaN out:
    the starved side's parameters freeze instead of dividing 0/0."""
    from entity_linking_in_biomedical_spark.operators.fs_linkage import (
        em_fit,
        em_fit_levels,
    )

    lam, m, u = em_fit([((1, 1), 100)], iters=50)
    assert all(not math.isnan(x) for x in [lam] + m + u)
    lam2, m2, u2 = em_fit_levels([((2, 1), 100)], n_levels=[3, 2], iters=50)
    flat = [lam2] + [x for v in m2 for x in v] + [x for v in u2 for x in v]
    assert all(not math.isnan(x) for x in flat)


def _pure_card(pairs):
    """Pure-python twin of cluster_pair_metrics for differential
    property testing."""
    from collections import Counter

    n = len(pairs)
    cells = Counter(pairs)
    psz = Counter(p for p, _ in pairs)
    gsz = Counter(g for _, g in pairs)
    c2 = lambda x: x * (x - 1) / 2  # noqa: E731
    tp = sum(c2(c) for c in cells.values())
    pred_pairs = sum(c2(c) for c in psz.values())
    gold_pairs = sum(c2(c) for c in gsz.values())
    pp = tp / pred_pairs if pred_pairs else 1.0
    pr = tp / gold_pairs if gold_pairs else 1.0
    b3p = sum(c * c / psz[p] for (p, _), c in cells.items()) / n
    b3r = sum(c * c / gsz[g] for (_, g), c in cells.items()) / n
    exp = pred_pairs * gold_pairs / c2(n) if n > 1 else 0.0
    den = (pred_pairs + gold_pairs) / 2 - exp
    ari = (tp - exp) / den if den else 1.0
    mi = sum(
        c / n * math.log(c * n / (psz[p] * gsz[g])) for (p, g), c in cells.items()
    )
    hp = -sum(c / n * math.log(c / n) for c in psz.values())
    hg = -sum(c / n * math.log(c / n) for c in gsz.values())
    nmi = 2 * mi / (hp + hg) if hp + hg > 0 else 1.0
    return dict(
        pair_precision=pp, pair_recall=pr, b3_precision=b3p, b3_recall=b3r,
        ari=ari, nmi=nmi,
    )


def test_cluster_metrics_differential_random(spark):
    """Differential property test vs the pure-python twin on seeded
    random partitions, plus the pred/gold swap symmetry (precision and
    recall exchange; ARI/NMI invariant)."""
    import random

    rng = random.Random(3)
    for trial in range(6):
        n = rng.randint(2, 40)
        pairs = [
            (f"p{rng.randint(0, 5)}", f"g{rng.randint(0, 5)}") for _ in range(n)
        ]
        want = _pure_card(pairs)
        assign = spark.createDataFrame(
            [(str(i), p, g) for i, (p, g) in enumerate(pairs)],
            "doc_id string, pred string, gold string",
        )
        got = cluster_pair_metrics(assign).collect()[0]
        for k, v in want.items():
            assert got[k] == pytest.approx(v, abs=2e-6), (trial, k, pairs)
        swapped = cluster_pair_metrics(
            assign.select("doc_id", F.col("gold").alias("pred"), F.col("pred").alias("gold"))
        ).collect()[0]
        assert swapped["pair_precision"] == got["pair_recall"]
        assert swapped["b3_precision"] == got["b3_recall"]
        assert swapped["ari"] == got["ari"] and swapped["nmi"] == got["nmi"]


def test_fs_weights_empty_pairs_and_blocking_quality_missing_endpoints(spark):
    """Review-hardening contracts: an empty candidate frame returns an
    empty calibration table (and em_fit raises a clean ValueError);
    blocking_quality counts candidate pairs with endpoints missing from
    the assignment table (left joins) and reports 0.0 completeness on
    an empty candidate set, never NULL."""
    from entity_linking_in_biomedical_spark.operators.fs_linkage import (
        fellegi_sunter_weights,
        fellegi_sunter_weights_levels,
    )

    empty = spark.createDataFrame([], "g1 int, g2 int")
    assert fellegi_sunter_weights(empty, ["g1", "g2"]).count() == 0
    assert (
        fellegi_sunter_weights_levels(empty, ["g1", "g2"], n_levels=[2, 2]).count()
        == 0
    )
    with pytest.raises(ValueError, match="empty pattern table"):
        em_fit([])

    assign = spark.createDataFrame(
        [("a", "g1"), ("b", "g1")], "doc_id string, gold string"
    )
    # (a, zzz): endpoint zzz unlabeled -> still a candidate pair
    cand = spark.createDataFrame(
        [("a", "b"), ("a", "zzz")], "a_id string, b_id string"
    )
    r = blocking_quality(cand, assign, "doc_id", "gold").collect()[0]
    assert r["cand_pairs"] == 2  # not silently dropped to 1
    assert r["pair_quality"] == pytest.approx(1 / 2)
    r0 = blocking_quality(
        spark.createDataFrame([], "a_id string, b_id string"), assign
    ).collect()[0]
    assert r0["pair_completeness"] == 0.0 and r0["pair_quality"] == 0.0


def test_cluster_metrics_null_id_namespace_no_collision(spark):
    """A NULL-pred item whose id equals a real cluster id must stay a
    singleton, not merge into that cluster."""
    # item id '42' with NULL pred, while a real cluster id '42' exists
    rows = [("a", "42", "g1"), ("b", "42", "g1"), ("42", None, "g1")]
    r = cluster_pair_metrics(_assign(spark, rows)).collect()[0]
    assert r["n_pred"] == 2  # cluster '42' (a,b) + the NULL singleton


def test_threshold_curve_hand_computed(spark):
    from entity_linking_in_biomedical_spark.operators.evaluation import (
        threshold_curve,
    )

    # 3 positives, 2 negatives at known scores
    rows = [
        (0.9, True),
        (0.8, False),
        (0.7, True),
        (0.4, True),
        (0.1, False),
    ]
    df = spark.createDataFrame(rows, "score double, label boolean")
    got = {
        r["threshold"]: r
        for r in threshold_curve(df, [0.0, 0.5, 0.75, 0.95]).collect()
    }
    assert got[0.0]["n_predicted"] == 5 and got[0.0]["recall"] == 1.0
    assert got[0.0]["precision"] == 0.6
    r5 = got[0.5]
    assert (r5["tp"], r5["fp"], r5["fn"]) == (2, 1, 1)
    assert r5["precision"] == pytest.approx(2 / 3, abs=1e-6)
    assert r5["recall"] == pytest.approx(2 / 3, abs=1e-6)
    assert r5["f1"] == pytest.approx(2 / 3, abs=1e-6)
    r75 = got[0.75]
    assert (r75["tp"], r75["fp"]) == (1, 1) and r75["precision"] == 0.5
    # empty prediction set: precision degrades to 1.0 by convention
    r95 = got[0.95]
    assert r95["n_predicted"] == 0 and r95["precision"] == 1.0 and r95["recall"] == 0.0
    # recall is monotone non-increasing in the threshold
    ts = sorted(got)
    assert all(
        got[a]["recall"] >= got[b]["recall"] for a, b in zip(ts, ts[1:])
    )


def test_threshold_curve_empty_and_no_positives(spark):
    from entity_linking_in_biomedical_spark.operators.evaluation import (
        threshold_curve,
    )

    empty = spark.createDataFrame([], "score double, label boolean")
    rows = threshold_curve(empty, [0.5]).collect()
    assert len(rows) == 1
    assert rows[0]["tp"] == 0 and rows[0]["precision"] == 1.0 and rows[0]["recall"] == 1.0
    negs = spark.createDataFrame([(0.9, False)], "score double, label boolean")
    r = threshold_curve(negs, [0.5]).collect()[0]
    # zero gold positives: recall 1.0 by convention, precision 0/1 real
    assert r["recall"] == 1.0 and r["precision"] == 0.0 and r["fp"] == 1

    with pytest.raises(ValueError):
        threshold_curve(negs, [])


def test_platt_calibration_monotone_and_separating(spark):
    from entity_linking_in_biomedical_spark.operators.evaluation import (
        apply_calibration,
        platt_calibrate,
    )

    # well-separated labels: high scores positive, low negative
    rows = [(0.9, True), (0.85, True), (0.8, True), (0.2, False), (0.15, False), (0.1, False)]
    df = spark.createDataFrame(rows, "score double, label boolean")
    model = platt_calibrate(df, iters=8, lr=1.0)
    assert set(model) == {"bias", "s"}
    assert model["s"] > 0  # calibrated p increases with the raw score
    out = {
        r["score"]: r["p_match"]
        for r in apply_calibration(df, model).collect()
    }
    # monotone in score, and the fitted direction separates the classes
    ss = sorted(out)
    assert all(out[a] <= out[b] for a, b in zip(ss, ss[1:]))
    assert out[0.9] > out[0.1]
    # partition-invariance of the decimal-GD fit
    model2 = platt_calibrate(df.repartition(7), iters=8, lr=1.0)
    assert model2 == model
