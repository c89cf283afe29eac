"""Blocking channels: exact, deletion-neighborhood, LSH; hot-key cap;
per-surface top-k."""

from __future__ import annotations

from pyspark.sql import functions as F

from entity_linking_in_biomedical_spark.operators.blocking import (
    block_candidates,
    blocking_keys,
    deletion_keys,
    entity_names,
    surface_blocking_keys,
)


def keys_of(spark, s):
    df = spark.createDataFrame([(s,)], "norm string")
    return df.select(blocking_keys(F.col("norm")).alias("k")).collect()[0]["k"]


def test_exact_key_always_present(spark):
    ks = keys_of(spark, "melanoma")
    assert "x|melanoma" in ks


def test_deletion_keys_lev1_guarantee(spark):
    """Any lev-1 edit pair (substitution, deletion, insertion,
    transposition-ish) shares a d| key."""
    cases = [
        ("rb96", "rb6"),  # deletion
        ("rb96", "rb966"),  # insertion... rb966 del-1 -> rb96
        ("rb96", "rb97"),  # substitution (shares del of last char? rb9)
        ("abcde", "abdce"),  # adjacent transposition = 2 subs; del2 covers
    ]
    for a, b in cases:
        ka = set(keys_of(spark, a))
        kb = set(keys_of(spark, b))
        shared = {k for k in ka & kb if k.startswith("d|")}
        assert shared, f"{a} vs {b}: no shared deletion key"


def test_no_short_variant_keys(spark):
    ks = keys_of(spark, "ak34")
    assert all(len(k) - 2 >= 3 for k in ks if k.startswith("d|"))


def test_long_strings_skip_deletion_use_lsh(spark):
    s = "a" * 20
    ks = keys_of(spark, s)
    assert not any(k.startswith("d|") for k in ks)
    assert any(not k.startswith(("d|", "x|")) for k in ks)  # lsh bands


def test_short_strings_skip_lsh(spark):
    ks = keys_of(spark, "ab")
    assert all(k.startswith(("d|", "x|")) for k in ks)


def _mentions(spark, surfaces):
    return spark.createDataFrame(
        [("D1", i, s, s) for i, s in enumerate(surfaces)],
        "doc_id string, span_seq int, surface string, norm string",
    )


def _names(spark, pairs):
    return spark.createDataFrame(
        [(c, n, n) for c, n in pairs], "cui string, name string, norm string"
    )


def test_exact_and_typo_candidates(spark):
    mentions = _mentions(spark, ["melanoma", "melanona", "zzz999xx"])
    names = _names(spark, [("C1", "melanoma"), ("C2", "carcinoma")])
    got = block_candidates(surface_blocking_keys(mentions), names)
    pairs = {(r["norm"], r["cui"]) for r in got.collect()}
    assert ("melanoma", "C1") in pairs
    assert ("melanona", "C1") in pairs  # typo found via del/lsh channel
    assert not any(n == "zzz999xx" for n, _ in pairs)


def test_hot_key_cap_drops_mega_blocks(spark, monkeypatch):
    # 100 entities share the same norm -> the x| key is hot and dropped
    import entity_linking_in_biomedical_spark.operators.blocking as B

    monkeypatch.setattr(B, "MAX_KEY_FREQ", 50)
    mentions = _mentions(spark, ["shared name"])
    names = _names(spark, [(f"C{i}", "shared name") for i in range(100)])
    got = block_candidates(surface_blocking_keys(mentions), names)
    assert got.count() == 0


def test_top_k_cap(spark, monkeypatch):
    import entity_linking_in_biomedical_spark.operators.blocking as B

    monkeypatch.setattr(B, "TOP_K", 5)
    mentions = _mentions(spark, ["akx"])
    # 40 near-matching entities; TOP_K=5 keeps 5
    names = _names(spark, [(f"C{i:02d}", "ak" + chr(97 + i % 26)) for i in range(40)])
    got = block_candidates(surface_blocking_keys(mentions), names)
    assert got.filter(F.col("norm") == "akx").count() <= 5


def test_entity_names_explode_dedup(spark):
    ents = spark.createDataFrame(
        [("C1", "T", ["Breast Cancer", "breast cancer", "BC tumor"])],
        "cui string, sem_type string, synonyms array<string>",
    )
    got = entity_names(ents).collect()
    norms = sorted(r["norm"] for r in got)
    assert norms == ["bc tumor", "breast cancer"]  # case-dup collapsed


def test_word_channel_catches_token_reorder(spark):
    """Reordered multi-word synonyms share no useful char n-grams or
    deletion variants — only the word channel blocks them together."""
    from entity_linking_in_biomedical_spark.operators.blocking import blocking_keys

    df = spark.createDataFrame(
        [("egfr kinase inhibitor", "kinase egfr inhibitor")], "a string, b string"
    )
    row = df.select(
        blocking_keys(F.col("a")).alias("ka"), blocking_keys(F.col("b")).alias("kb")
    ).collect()[0]
    # pure reorderings are GUARANTEED a shared sorted-token key (char
    # LSH also usually collides here, but only probabilistically)
    shared_w = {k for k in set(row["ka"]) & set(row["kb"]) if k.startswith("w")}
    assert "w|egfr inhibitor kinase" in shared_w
    # token minhash keys shared too (identical token sets)
    assert any(k.startswith("w0|") for k in shared_w)
    # and the oracle twin produces the identical key sets
    from tests.oracle_impl import blocking_keys_py

    assert sorted(row["ka"]) == sorted(blocking_keys_py("egfr kinase inhibitor"))
    assert sorted(row["kb"]) == sorted(blocking_keys_py("kinase egfr inhibitor"))


def test_blocking_skew_invariant_guard(spark, corpus):
    """The explicit repartition('norm') inside block_candidates is safe
    from mega-partitions only while per-surface pre-dedup fan-out stays
    under blocking_skew_bound() (AQE cannot split an explicit
    repartition). skew_assert=True verifies it at run time; the bound
    must also hold for the post-dedup output a fortiori."""
    from entity_linking_in_biomedical_spark.operators.blocking import (
        blocking_skew_bound,
        max_candidates_per_surface,
    )
    from entity_linking_in_biomedical_spark.operators.mentions import (
        extract_mentions,
    )

    docs, ents, _, abbr, _ = corpus.to_spark(spark)
    mentions = extract_mentions(docs, abbr)
    names = entity_names(ents)
    cands = block_candidates(
        surface_blocking_keys(mentions), names, skew_assert=True
    )  # no raise
    assert max_candidates_per_surface(cands) <= blocking_skew_bound()


def test_blocking_skew_guard_trips_when_bound_shrinks(spark, corpus, monkeypatch):
    """Wiring check: if a future change broke the fan-out bound (e.g.
    removing the hot-key cap), the guard raises instead of silently
    shipping a skewed exchange."""
    import pytest

    import entity_linking_in_biomedical_spark.operators.blocking as B
    from entity_linking_in_biomedical_spark.operators.mentions import (
        extract_mentions,
    )

    docs, ents, _, abbr, _ = corpus.to_spark(spark)
    mentions = extract_mentions(docs, abbr)
    names = B.entity_names(ents)
    monkeypatch.setattr(B, "blocking_skew_bound", lambda *a, **k: 0)
    with pytest.raises(AssertionError, match="skew invariant"):
        B.block_candidates(B.surface_blocking_keys(mentions), names, skew_assert=True)


_RESTART_SCRIPT = """
from pyspark.sql import functions as F

from entity_linking_in_biomedical_spark.operators import blocking as B
from entity_linking_in_biomedical_spark.session import get_spark

NORMS = [("breast cancer",), ("brca1",), ("tumour necrosis factor alpha",)]


def keys(spark, expr):
    df = spark.createDataFrame(NORMS, "norm string")
    return sorted(
        (r.norm, r.bk)
        for r in df.select("norm", F.explode(expr).alias("bk")).collect()
    )


spark = get_spark("keys-memo-restart", master="local[2]")
expr = B.blocking_keys(F.col("norm"))
before = keys(spark, expr)
spark.stop()

spark = get_spark("keys-memo-restart", master="local[2]")
again = B.blocking_keys(F.col("norm"))
assert again is expr, "memo miss after restart"
assert keys(spark, again) == before
assert keys(spark, B._build_blocking_keys(F.col("norm"))) == before
spark.stop()
print("OK", len(before))
"""


def test_keys_memo_survives_session_restart():
    """The process-wide blocking-key memo stays valid across a
    SparkSession restart: after ``stop()`` and a fresh ``get_spark()``
    in the same process, the memoized Column is served again and keys
    the same rows as before and as a freshly built expression. Runs in
    a subprocess so the shared session fixture is not stopped."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=repo, EL_SPARK_DRIVER_MEM="1g")
    r = subprocess.run(
        [sys.executable, "-c", _RESTART_SCRIPT],
        capture_output=True, text=True, timeout=300, env=env, cwd=repo,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert r.stdout.strip().splitlines()[-1].startswith("OK ")
