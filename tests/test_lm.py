"""Bigram-LM perplexity-filter scoring (operators/lm.py) vs a pure
Python reference implementation of the same smoothed model."""

from __future__ import annotations

import math
import re
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

import pytest

from entity_linking_in_biomedical_spark.operators.lm import (
    UNK,
    bigram_lm_nll,
    fit_bigram_lm,
    score_bigram_nll,
)

DOCS = [
    (1, "the cat sat on the mat"),
    (2, "the dog sat on the log"),
    (3, "the cat and the dog sat"),
    (4, "zyzzyva quokka axolotl the"),  # rare words -> <unk> under a small cap
    (5, "single"),  # < 2 tokens: must drop out of the scored output
    (6, ""),
]


def _toks(t: str) -> list[str]:
    return [w for w in re.sub(r"[^a-z0-9]+", " ", t.lower()).strip().split(" ") if w]


def _q9(x: float) -> Decimal:
    return Decimal(repr(x)).quantize(Decimal("1.000000000"), rounding=ROUND_HALF_UP)


def _reference(docs, vocab_cap, alpha):
    tokd = {i: _toks(t) for i, t in docs}
    uni = Counter(w for ts in tokd.values() for w in ts)
    vocab = set(
        w for w, _ in sorted(uni.items(), key=lambda kv: (-kv[1], kv[0]))[:vocab_cap]
    )
    mapped = {
        i: [w if w in vocab else UNK for w in ts] for i, ts in tokd.items() if len(ts) >= 2
    }
    bg = {i: Counter(zip(ts, ts[1:])) for i, ts in mapped.items()}
    cb: Counter = Counter()
    for c in bg.values():
        cb.update(c)
    cu: Counter = Counter()
    for (w1, _), n in cb.items():
        cu[w1] += n
    types = set()
    for w1, w2 in cb:
        types.update((w1, w2))
    v = len(types)
    out = {}
    for i, c in bg.items():
        n = sum(c.values())
        tot = Decimal(0)
        oov = 0
        for (w1, w2), k in c.items():
            nll = math.log(cu[w1] + alpha * v) - math.log(cb[(w1, w2)] + alpha)
            tot += _q9(k * float(_q9(nll)))
            oov += k * ((w1 == UNK) + (w2 == UNK))
        out[i] = (
            n,
            round(oov / (2.0 * n), 6),
            round(float(tot) / n, 6),
        )
    return out


@pytest.mark.parametrize("vocab_cap", [4, 100])
def test_bigram_lm_nll_matches_reference(spark, vocab_cap):
    df = spark.createDataFrame(DOCS, "doc_id int, text string")
    got = {
        r["doc_id"]: (r["n_bigrams"], r["oov_ratio"], r["avg_nll"])
        for r in bigram_lm_nll(df, vocab_cap=vocab_cap, alpha=0.5).collect()
    }
    want = _reference(DOCS, vocab_cap, 0.5)
    assert set(got) == set(want)  # short docs dropped
    for i in want:
        assert got[i][0] == want[i][0], i
        assert got[i][1] == pytest.approx(want[i][1], abs=1e-9), i
        assert got[i][2] == pytest.approx(want[i][2], abs=1e-9), i


def test_lm_held_out_scoring_uses_fitted_counts(spark):
    """Score a held-out doc with unseen bigrams/contexts: counts fall
    back to 0 (pure smoothing mass), and a fluent in-distribution doc
    scores lower nll than an out-of-distribution one."""
    train = spark.createDataFrame(DOCS[:4], "doc_id int, text string")
    lm = fit_bigram_lm(train, vocab_cap=100, alpha=0.5)
    held = spark.createDataFrame(
        [(10, "the cat sat on the mat"), (11, "mat log quokka dog zzz the")],
        "doc_id int, text string",
    )
    rows = {r["doc_id"]: r for r in score_bigram_nll(held, lm).collect()}
    assert rows[10]["avg_nll"] < rows[11]["avg_nll"]
    assert rows[10]["n_bigrams"] == 5 and rows[11]["n_bigrams"] == 5
    # broadcast_model path agrees exactly
    rows_b = {
        r["doc_id"]: r
        for r in score_bigram_nll(held, lm, broadcast_model=True).collect()
    }
    for i in rows:
        assert rows[i]["avg_nll"] == rows_b[i]["avg_nll"]


def test_lm_vocab_cap_binds_deterministically(spark):
    df = spark.createDataFrame(DOCS, "doc_id int, text string")
    lm = fit_bigram_lm(df, vocab_cap=3, alpha=0.5)
    vocab = sorted(r["w"] for r in lm.vocab.collect())
    # counts: the=8, sat=3, on=2, cat=2, dog=2, ... -> top3 by
    # (count desc, token asc) = the, sat, cat
    assert vocab == ["cat", "sat", "the"]
    assert lm.vsize.collect()[0]["v_size"] == 4  # 3 vocab types + <unk>


def test_lm_save_load_roundtrip(spark, tmp_path):
    """The durable model artifact: save -> load -> identical scores
    (the failure-tolerant path for long-lived streams/clusters, vs the
    within-job localCheckpoint materialization)."""
    from entity_linking_in_biomedical_spark.operators.lm import load_bigram_lm

    train = spark.createDataFrame(DOCS[:4], "doc_id int, text string")
    lm = fit_bigram_lm(train, vocab_cap=5, alpha=0.5)
    out = str(tmp_path / "lm_model")
    lm.save(out)
    lm2 = load_bigram_lm(spark, out)
    assert lm2.alpha == 0.5
    held = spark.createDataFrame(
        [(10, "the cat sat on the mat"), (11, "mat log quokka dog zzz the")],
        "doc_id int, text string",
    )
    a = sorted(map(tuple, score_bigram_nll(held, lm).collect()))
    b = sorted(map(tuple, score_bigram_nll(held, lm2).collect()))
    assert a == b


def test_perplexity_buckets_global_terciles(spark):
    """Nine docs with three clearly separated nll regimes must split
    3/3/3 into head/middle/tail at the exact global terciles, head
    being the LOWEST-nll (cleanest) slice."""
    from entity_linking_in_biomedical_spark.operators.lm import perplexity_buckets

    rows = (
        # head: one massively repeated bigram -> high p, low nll
        [(f"h{i}", "alpha beta " * 30) for i in range(3)]
        # middle: a 4-cycle of medium-frequency bigrams
        + [(f"m{i}", "cc dd ee ff " * 8) for i in range(3)]
        # tail: per-doc singleton bigrams, all IN vocab (a large cap
        # keeps them out of <unk>, where shared unk-unk bigrams would
        # paradoxically look frequent) -> smoothed-floor p, high nll
        + [
            (f"t{i}", " ".join(f"tok{i}x{j}" for j in range(20)))
            for i in range(3)
        ]
    )
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    out = perplexity_buckets(docs, vocab_cap=200, alpha=0.5).collect()
    by_bucket = {}
    for r in out:
        by_bucket.setdefault(r["bucket"], set()).add(r["doc_id"])
    assert by_bucket["head"] == {"h0", "h1", "h2"}
    assert by_bucket["middle"] == {"m0", "m1", "m2"}
    assert by_bucket["tail"] == {"t0", "t1", "t2"}
    # head really is the low-nll end
    nll = {r["doc_id"]: r["avg_nll"] for r in out}
    assert max(nll[d] for d in by_bucket["head"]) <= min(
        nll[d] for d in by_bucket["tail"]
    )


def test_perplexity_buckets_per_group_cuts(spark):
    """With by=, each group gets its own tertiles: a doc that would be
    'tail' against the easy group's cuts is 'head' within its own
    hard group."""
    from entity_linking_in_biomedical_spark.operators.lm import perplexity_buckets

    easy = "the cat sat on the mat "
    rows = [(f"e{i}", easy * (i + 2), "en") for i in range(3)] + [
        (f"x{i}", " ".join(f"w{i}y{j}" for j in range(10 + i * 5)), "xx")
        for i in range(3)
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string, lang string")
    out = {
        r["doc_id"]: r["bucket"]
        for r in perplexity_buckets(docs, by="lang", vocab_cap=50).collect()
    }
    # every group contains a head: cuts are per-group, not global
    assert any(out[f"e{i}"] == "head" for i in range(3))
    assert any(out[f"x{i}"] == "head" for i in range(3))


def test_perplexity_buckets_approx_mode_smoke(spark):
    """The sketch path (the 10^12-doc form) must produce the same
    buckets as exact on a well-separated distribution."""
    from entity_linking_in_biomedical_spark.operators.lm import perplexity_buckets

    rows = [(f"h{i}", "alpha beta " * 20) for i in range(4)] + [
        # in-vocab singleton bigrams (large cap — see the terciles test)
        (f"t{i}", " ".join(f"q{i}z{j}" for j in range(15)))
        for i in range(4)
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    for mode in (True, False):
        got = {
            r["doc_id"]: r["bucket"]
            for r in perplexity_buckets(docs, vocab_cap=200, exact=mode).collect()
        }
        # the sketch may place a degenerate two-value tertile boundary
        # on either side of the gap, so assert the stable property:
        # the clean docs are 'head', the soup docs are not
        assert all(got[f"h{i}"] == "head" for i in range(4))
        assert all(got[f"t{i}"] != "head" for i in range(4))
