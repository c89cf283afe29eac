"""Deterministic sampling / splitting operators (operators/sampling.py)
and the near-dup cluster + decontamination corpus transforms."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from entity_linking_in_biomedical_spark.operators.sampling import (
    hash_bernoulli,
    hash_split,
    rate_threshold,
    stratified_sample,
)


def test_rate_threshold_monotone_and_bounds():
    assert rate_threshold(0.5) == "800000000000"
    assert rate_threshold(0.25) < rate_threshold(0.5) < rate_threshold(0.9)
    assert len(rate_threshold(0.001)) == 12
    for bad in (0.0, 1.0, -0.1, 1.5):
        with pytest.raises(ValueError):
            rate_threshold(bad)


def test_stratified_sample_deterministic_and_exact(spark):
    docs = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 3 == 0, "en")
        .when(F.col("id") % 3 == 1, "es")
        .otherwise("fr")
        .alias("lang"),
    )
    rates = {"en": 0.5, "es": 1.0}  # fr unlisted -> dropped entirely
    s1 = stratified_sample(docs, rates)
    s2 = stratified_sample(docs, rates)
    ids1 = sorted(r["doc_id"] for r in s1.collect())
    ids2 = sorted(r["doc_id"] for r in s2.collect())
    assert ids1 == ids2, "membership must be a pure function of the key"

    by_lang = {r["lang"]: r["n"] for r in s1.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert "fr" not in by_lang
    assert by_lang["es"] == 667  # rate 1.0 keeps every es row
    # rate 0.5 over 667 en rows: binomial, expect ~334 +/- 5 sigma
    assert 250 <= by_lang.get("en", 0) <= 420

    # rate 0 drops the stratum completely
    none = stratified_sample(docs, {"en": 0.0})
    assert none.count() == 0


def test_hash_bernoulli_rate_accuracy(spark):
    df = spark.range(20000)
    kept = df.filter(hash_bernoulli(F.col("id"), 0.1, seed="t")).count()
    assert 1700 <= kept <= 2300  # 2000 expected, +/- ~7 sigma


def test_token_budget_sample_cut_rule(spark):
    """Budget semantics: docs taken in md5 order per stratum until the
    running total reaches the budget — kept iff budget not exhausted
    BEFORE the doc (overshoot at most one doc); unlisted strata drop;
    deterministic across calls."""
    from entity_linking_in_biomedical_spark.operators.sampling import (
        _hash12,
        token_budget_sample,
    )

    docs = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "en").otherwise("fr").alias("lang"),
        (F.col("id") % 7 + 1).alias("sz"),
    )
    budget = 40
    out = token_budget_sample(docs, {"en": budget}, size_col="sz").collect()
    assert all(r["lang"] == "en" for r in out)

    # replay the rule driver-side: sort en docs by (hash12, key), take
    # while spent-before < budget
    en = docs.filter("lang = 'en'").select(
        "doc_id", "sz", _hash12(F.col("doc_id"), "budget").alias("h")
    ).collect()
    en.sort(key=lambda r: (r["h"], str(r["doc_id"])))
    want, spent = set(), 0
    for r in en:
        if spent < budget:
            want.add(r["doc_id"])
        spent += r["sz"]
    assert {r["doc_id"] for r in out} == want
    total = sum(r["sz"] for r in out)
    assert total >= budget  # never undershoots while docs remain
    assert total < budget + 7  # overshoot bounded by one doc's size

    again = {r["doc_id"] for r in token_budget_sample(docs, {"en": budget}, size_col="sz").collect()}
    assert again == want


def test_hash_split_partition_properties(spark):
    docs = spark.range(5000).select(F.col("id").alias("doc_id"))
    out = hash_split(docs, {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    # total coverage, no row unassigned
    assert sum(counts.values()) == 5000
    assert set(counts) == {"train", "val", "test"}
    assert 3800 <= counts["train"] <= 4200
    assert 380 <= counts["val"] <= 620 and 380 <= counts["test"] <= 620

    # deterministic: identical assignment on re-run
    again = {r["doc_id"]: r["split"] for r in hash_split(docs, {"train": 0.8, "val": 0.1, "test": 0.1}).collect()}
    first = {r["doc_id"]: r["split"] for r in out.collect()}
    assert first == again

    with pytest.raises(ValueError, match="sum to 1"):
        hash_split(docs, {"train": 0.5, "val": 0.1})


def test_sampling_plans_stay_jvm_side(spark):
    """Both operators must plan as a single codegen'd filter/project on
    the scan: no Python eval, no shuffle, no extra scan."""
    import contextlib
    import io

    docs = spark.range(100).select(
        F.col("id").alias("doc_id"), F.lit("en").alias("lang")
    )
    for df in (
        stratified_sample(docs, {"en": 0.5}),
        hash_split(docs, {"train": 0.9, "test": 0.1}),
    ):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        assert "EvalPython" not in plan
        assert "Exchange" not in plan


def test_near_dup_clusters_transitive_chain(spark):
    """A~B and B~C (but A,C still similar enough here) must land in ONE
    cluster with the min id canonical; unrelated docs stay singletons;
    drop_near_duplicates keeps exactly the canonicals."""
    from entity_linking_in_biomedical_spark.operators.dedup import (
        drop_near_duplicates,
        near_dup_clusters,
    )

    base = " ".join(f"tok{i}" for i in range(40))
    variant1 = base.replace("tok7", "changed7")
    variant2 = base.replace("tok7", "changed7").replace("tok13", "changed13")
    rows = [
        (1, base),
        (2, variant1),
        (3, variant2),
        (4, " ".join(f"other{i}" for i in range(40))),
        (5, "completely different tiny doc"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {
        r["doc_id"]: (r["dup_cluster_id"], r["is_canonical"], r["cluster_size"])
        for r in near_dup_clusters(docs, jaccard_threshold=0.5).collect()
    }
    assert len(out) == 5, "one row per input doc"
    assert out["1"] == ("1", True, 3)
    assert out["2"] == ("1", False, 3)
    assert out["3"] == ("1", False, 3)
    assert out["4"] == ("4", True, 1)
    assert out["5"] == ("5", True, 1)

    survivors = sorted(
        r["doc_id"] for r in drop_near_duplicates(docs, jaccard_threshold=0.5).collect()
    )
    assert survivors == [1, 4, 5]


def test_decontaminate_removes_flagged_docs(spark):
    from entity_linking_in_biomedical_spark.operators.contamination import (
        decontaminate,
        ngram_contamination,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    corpus = spark.createDataFrame(
        [
            ("c1", f"prefix {base} suffix"),
            ("c2", "unrelated content having zero overlapping grams whatsoever"),
            ("c3", f"{base} again"),
        ],
        "doc_id string, text string",
    )
    test = spark.createDataFrame([("e1", base)], "test_id string, text string")

    flagged = {
        r["doc_id"] for r in ngram_contamination(corpus, test, n=8).collect()
    }
    assert flagged, "planted overlap must flag"
    clean = {r["doc_id"] for r in decontaminate(corpus, test, n=8).collect()}
    assert clean == {"c1", "c2", "c3"} - flagged


def test_temperature_mixture_sample_matches_reference(spark):
    """The md5-threshold membership under temperature-derived rates
    must agree row-for-row with a Python replay of the same rule."""
    import hashlib

    from entity_linking_in_biomedical_spark.operators.sampling import (
        HEX_W,
        temperature_mixture_sample,
    )

    rows = [
        (i, ("en" if i % 10 < 7 else "fr" if i % 10 < 9 else "zh"), (i % 50) + 10)
        for i in range(3000)
    ]
    df = spark.createDataFrame(rows, "doc_id int, lang string, n_chars int")
    tau, budget, seed = 0.5, 30_000, "temp"
    got = sorted(
        r["doc_id"] for r in temperature_mixture_sample(
            df, budget, "n_chars", tau=tau, seed=seed
        ).collect()
    )

    nd: dict[str, float] = {}
    for _, lang, n in rows:
        nd[lang] = nd.get(lang, 0.0) + n
    z = sum(n**tau for n in nd.values())
    rates = {d: min(1.0, budget * (n**tau) / z / n) for d, n in nd.items()}
    want = []
    for i, lang, _ in rows:
        r = rates[lang]
        if r >= 1.0:
            want.append(i)
            continue
        thr = format(int(r * HEX_W), "012x")
        h = hashlib.md5(f"{seed}:{i}".encode()).hexdigest()[:12]
        if h < thr:
            want.append(i)
    assert got == sorted(want)
    # temperature flattening: the small stratum keeps a larger fraction
    assert rates["zh"] > rates["en"]


def test_temperature_mixture_sample_saturates_small_stratum(spark):
    from entity_linking_in_biomedical_spark.operators.sampling import (
        temperature_mixture_sample,
    )

    rows = [(i, "big" if i < 990 else "tiny", 100) for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id int, lang string, n_chars int")
    # tau=0.2 + a budget close to the corpus: tiny stratum rate caps
    # at 1.0 (keep all), big stratum is genuinely subsampled
    out = temperature_mixture_sample(df, 60_000, "n_chars", tau=0.2)
    by = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert by["tiny"] == 10
    assert 0 < by["big"] < 990

    with pytest.raises(ValueError):
        temperature_mixture_sample(df, 1000, "n_chars", tau=0.0)


# ---- DSIR importance resampling --------------------------------------------


def _dsir_reference(rows, target_langs, alpha=1.0, n_buckets=256):
    """Pure-python replay of dsir_weights for a tiny corpus:
    rows = [(doc_id, lang, text)]."""
    import hashlib
    import math
    import re

    def toks(text):
        return [t for t in re.sub(r"[^a-z0-9]+", " ", text.lower()).split() if t]

    def buckets(text):
        ts = toks(text)
        grams = ts + [f"{a} {b}" for a, b in zip(ts, ts[1:])]
        return [hashlib.md5(g.encode()).hexdigest()[:2] for g in grams]

    ct: dict[str, int] = {}
    cq: dict[str, int] = {}
    per_doc: dict[int, dict[str, int]] = {}
    for doc_id, lang, text in rows:
        bs = buckets(text)
        side = ct if lang in target_langs else cq
        for b in bs:
            side[b] = side.get(b, 0) + 1
        if lang not in target_langs:
            d = per_doc.setdefault(doc_id, {})
            for b in bs:
                d[b] = d.get(b, 0) + 1
    t_tot, q_tot = sum(ct.values()), sum(cq.values())
    out = {}
    for doc_id, d in per_doc.items():
        if not d:
            continue
        w = 0.0
        for b, k in d.items():
            r = round(
                math.log(ct.get(b, 0) + alpha)
                - math.log(t_tot + alpha * n_buckets)
                - math.log(cq[b] + alpha)
                + math.log(q_tot + alpha * n_buckets),
                9,
            )
            w += k * r
        out[doc_id] = (sum(d.values()), round(w, 6))
    return out


_DSIR_ROWS = [
    (1, "tgt", "quantum flux capacitor aligns the quantum flux"),
    (2, "tgt", "flux capacitor quantum resonance"),
    (3, "pool", "quantum flux capacitor resonance aligns"),  # target-like
    (4, "pool", "banana smoothie recipe with oats and honey"),
    (5, "pool", "stock market closed higher on tuesday"),
    (6, "pool", ""),  # no tokens -> drops out of the weighted pool
]


def test_dsir_weights_match_reference_and_rank_target_like_doc(spark):
    from entity_linking_in_biomedical_spark.operators.sampling import (
        dsir_topk,
        dsir_weights,
    )

    df = spark.createDataFrame(_DSIR_ROWS, "doc_id int, lang string, text string").withColumn(
        "is_tgt", F.col("lang") == "tgt"
    )
    got = {
        r["doc_id"]: (r["n_grams"], r["weight"])
        for r in dsir_weights(df, "is_tgt").collect()
    }
    want = _dsir_reference([tuple(r) for r in _DSIR_ROWS], {"tgt"})
    assert set(got) == set(want) == {3, 4, 5}  # doc 6 has no grams
    for doc_id in want:
        assert got[doc_id][0] == want[doc_id][0]
        assert got[doc_id][1] == pytest.approx(want[doc_id][1], abs=1e-5)
    # the vocabulary-sharing doc outranks the off-topic ones
    assert got[3][1] > got[4][1] and got[3][1] > got[5][1]

    top = dsir_topk(df, "is_tgt", 1).collect()
    assert len(top) == 1 and top[0]["doc_id"] == 3


def test_dsir_weights_partition_invariant(spark):
    from entity_linking_in_biomedical_spark.operators.sampling import dsir_weights

    rows = [
        (i, "tgt" if i % 5 == 0 else "pool", f"token{i % 7} alpha beta{i % 3} gamma")
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "doc_id int, lang string, text string").withColumn(
        "is_tgt", F.col("lang") == "tgt"
    )
    a = sorted(map(tuple, dsir_weights(df, "is_tgt").collect()))
    b = sorted(map(tuple, dsir_weights(df.repartition(7), "is_tgt").collect()))
    # decimal(38,9)-quantized sums: bit-identical under any layout
    assert a == b


def test_dsir_fit_score_reproduces_weights(spark):
    from entity_linking_in_biomedical_spark.operators.sampling import (
        dsir_fit,
        dsir_score,
        dsir_weights,
    )

    df = spark.createDataFrame(_DSIR_ROWS, "doc_id int, lang string, text string").withColumn(
        "is_tgt", F.col("lang") == "tgt"
    )
    model = dsir_fit(df, "is_tgt")
    rows = model.collect()
    assert len(rows) == 256  # FULL bucket space: unseen buckets score too
    assert all(r["r"] is not None for r in rows)

    # scoring the fit corpus's own pool == the one-shot weighting
    pool = df.filter(~F.col("is_tgt"))
    want = sorted(map(tuple, dsir_weights(df, "is_tgt").collect()))
    got = sorted(map(tuple, dsir_score(pool, model).collect()))
    assert got == want


def test_near_dup_clusters_keep_best_quality(spark):
    """quality_col= switches the survivor to the HIGHEST-quality
    cluster member (tie -> min doc id); cluster ids and membership are
    unchanged from the keep-min form; singletons stay canonical."""
    from entity_linking_in_biomedical_spark.operators.dedup import (
        drop_near_duplicates,
        near_dup_clusters,
    )

    base = " ".join(f"tok{i}" for i in range(40))
    variant = base.replace("tok7", "changed7")
    rows = [
        # doc 1 is the min id but the WORST copy; doc 3 is the best
        (1, base, 0.2),
        (2, variant, 0.5),
        (3, variant, 0.9),
        (4, "completely different tiny doc", 0.1),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string, q double")
    out = {
        r["doc_id"]: (r["dup_cluster_id"], r["is_canonical"], r["cluster_size"])
        for r in near_dup_clusters(
            docs, jaccard_threshold=0.5, quality_col="q"
        ).collect()
    }
    assert len(out) == 4
    assert out["1"] == ("1", False, 3), "min id loses: it is the worst copy"
    assert out["2"] == ("1", False, 3)
    assert out["3"] == ("1", True, 3), "highest quality survives"
    assert out["4"] == ("4", True, 1)

    survivors = sorted(
        r["doc_id"]
        for r in drop_near_duplicates(
            docs, jaccard_threshold=0.5, quality_col="q"
        ).collect()
    )
    assert survivors == [3, 4]


def test_near_dup_clusters_keep_best_tie_breaks_min_id(spark):
    from entity_linking_in_biomedical_spark.operators.dedup import near_dup_clusters

    base = " ".join(f"tok{i}" for i in range(40))
    variant = base.replace("tok7", "changed7")
    docs = spark.createDataFrame(
        [(7, base, 0.5), (2, variant, 0.5)], "doc_id bigint, text string, q double"
    )
    out = {
        r["doc_id"]: r["is_canonical"]
        for r in near_dup_clusters(
            docs, jaccard_threshold=0.5, quality_col="q"
        ).collect()
    }
    assert out == {"2": True, "7": False}, "equal quality -> min STRING id wins"
