"""Stage 1 — blocking / candidate generation (reference J1).

The reference brute-forces dense cosine between every mention TF-IDF
vector and every entity-name vector in 128-row batches, keeps top-128
per mention, and unions a char-gram pass with a word pass
(candidate_generator.py:89-127). That is O(|M|·|E|) — impossible at
10^12 docs. This module replaces it with four sub-quadratic channels,
all expressed as ONE explode + equi-join on a unified key array whose
shape is fixed by the module constants below (one key set for every
caller: batch run, snapshot surface index, oracle twin):

  exact "x|<norm>"       the normalized surface itself — the
                         high-precision channel (norm_key equality).
  del   "d|<variant>"    SymSpell-style deletion neighborhood: every
                         delete-one-char variant, for strings up to
                         ``DEL_MAX_LEN``. Joining both sides' variants
                         GUARANTEES recall for Levenshtein-1 edits (and
                         most lev-2) on short strings — the regime where
                         n-gram similarity collapses (a 1-char typo in a
                         4-char acronym shares almost no 2/3-grams).
                         Cost is O(len) keys per string, each a
                         near-unique long key -> tiny buckets.
  lsh   "l<j>|<minhash>" char-2/3-gram MinHash banded LSH for strings
                         >= ``LSH_MIN_LEN`` — the reference's char-gram
                         TF-IDF recall analogue for longer surfaces.
                         NOTE: 1-grams deliberately NOT in the gram set:
                         a min-hash over 1-grams is dominated by
                         whichever common letter hashes lowest, which
                         creates corpus-sized mega-buckets (measured:
                         8x slowdown + hot-cap recall loss).
  word  "w|", "w<k>|"    sorted-token and token-minhash keys for
                         reordered multi-word surfaces (word_keys).

Scale levers (all measured, SURVEY.md §4):
- blocking runs over **distinct normalized surfaces**, not mention
  occurrences: |distinct surfaces| << |mentions| at web scale (Zipf);
  results re-join to mentions by norm. (The reference dedups too —
  candidate_generator.py:75-77 — but buggily; see mentions.py.)
- hot-key cap: keys whose entity-side frequency exceeds
  ``MAX_KEY_FREQ`` are dropped before the join (the reference's
  max_df=0.1 analogue, candidate_generator.py:35). This bounds the
  worst-case join fan-out per key — the explicit skew control the
  north rule requires; AQE skew-join splitting covers the residual.
- per-surface candidate cap (``TOP_K``) via a window — the reference's
  top-128 (candidate_generator.py:89,107-109), applied on a cheap
  JVM-side proxy similarity so the expensive scoring stage sees bounded
  input.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from ..functions.ngrams import char_ngrams_multi, lsh_band_keys, minhash_signature
from ..functions.normalize import norm_key
from ..session import pin
from .skew import drop_hot_keys


def entity_names(entities: DataFrame) -> DataFrame:
    """entities(cui, sem_type, synonyms) -> (cui, name, norm), one row
    per synonym (dictionary scan S8, candidate_generator.py:65-73)."""
    return (
        entities.select("cui", F.explode("synonyms").alias("name"))
        .withColumn("norm", norm_key("name"))
        .filter(F.col("norm") != "")
        .dropDuplicates(["cui", "norm"])
    )


# The one blocking key set (each value is a measured choice, not a knob).
# LSH gram sizes: no 1-grams, a min-hash over 1-grams is dominated by
# common letters -> mega-buckets
GRAM_SIZES = (2, 3)
NUM_HASHES = 12  # char-gram minhashes per surface
BANDS = 12  # one 1-row band per minhash: collision prob per band = Jaccard
DEL_MAX_LEN = 12  # deletion-neighborhood channel bound
DEL2_MAX_LEN = 7  # delete-2 depth for very short strings
LSH_MIN_LEN = 5  # skip LSH for very short strings (deletion covers)
WORD_NUM_HASHES = 4  # word-token minhash channel
# The candidate caps, shared by the mention-entity join and the
# mention-mention self-join
MAX_KEY_FREQ = 64  # keys shared by more entities discriminate nothing
TOP_K = 32  # reference's hardest-negative count (dataset.py:103)


def deletion_keys(col: Column) -> Column:
    """'d|'-prefixed delete-one-char variants, plus delete-two variants
    for very short strings (SymSpell: both sides generating delete-<=k
    neighborhoods guarantees a shared key for any pair within edit
    distance 2k-ish; depth 2 is what rescues lev-2 typos on 4-7 char
    acronyms where n-grams carry no signal). Empty for long strings."""

    def del1(c: Column) -> Column:
        return F.transform(
            F.sequence(F.lit(1), F.length(c)),
            lambda i: F.concat(
                c.substr(F.lit(1), i - F.lit(1)),
                c.substr(i + F.lit(1), F.length(c)),
            ),
        )

    # delete-0 (the string itself) must be IN the d-namespace: an
    # insertion/deletion edit pair (s, s+char) shares a key only if s
    # appears as a d-key on both sides (classic SymSpell)
    d0 = F.when(F.length(col) <= DEL_MAX_LEN, F.array(col)).otherwise(
        F.array().cast("array<string>")
    )
    d1 = F.when(F.length(col) <= DEL_MAX_LEN, del1(col)).otherwise(
        F.array().cast("array<string>")
    )
    # delete-2 = delete-1 of every delete-1 variant (flattened)
    d2 = F.when(
        F.length(col).between(2, DEL2_MAX_LEN), F.flatten(F.transform(del1(col), del1))
    ).otherwise(F.array().cast("array<string>"))
    # variants under 3 chars match half the dictionary (e.g. "a4") —
    # pure fan-out with no discrimination; drop them (measured: they
    # were the bulk of a 100-candidates-per-surface blowup)
    usable = F.filter(F.concat(d0, d1, d2), lambda v: F.length(v) >= 3)
    return F.transform(usable, lambda v: F.concat(F.lit("d|"), v))


def word_keys(col: Column) -> Column:
    """Word-token channel (the reference's word-unigram TF-IDF pass,
    candidate_generator.py:38-44,114-125): multi-word surfaces whose
    tokens reorder ("x kinase inhibitor" vs "inhibitor kinase x") share
    almost no char n-grams, so the char channels miss them.

    Two key families, both namespaced 'w':
      w|<sorted tokens>   exact sorted-token key (>=2 tokens) — catches
                          pure reorderings for free;
      w<k>|<minhash_k>    token-set minhash, 1-row bands (>=3 tokens) —
                          catches reorder + drop/add of a token
                          (collision prob per band = token Jaccard).
    """
    empty = F.array().cast("array<string>")
    toks = F.split(col, " ")
    sorted_key = F.when(
        F.size(toks) >= 2,
        F.array(F.concat(F.lit("w|"), F.concat_ws(" ", F.array_sort(toks)))),
    ).otherwise(empty)
    sig = minhash_signature(toks, WORD_NUM_HASHES)
    mh = F.when(
        F.size(toks) >= 3,
        F.transform(
            sig,
            lambda v, j: F.concat(F.lit("w"), j.cast("string"), F.lit("|"), v.cast("string")),
        ),
    ).otherwise(empty)
    return F.concat(sorted_key, mh)


# Memo of built key expressions. Constructing the unified key array is
# ~0.3 s of pure py4j round-trips (hundreds of Column calls), paid per
# keying frame per job before this cache. Unresolved Column expressions
# are immutable and DataFrame-independent, so one built tree serves
# every caller that passes the same input expression (keyed by its
# canonical repr); the package keys one column, ``norm``.
_KEYS_MEMO: dict = {}


def blocking_keys(col: Column) -> Column:
    key = repr(col)
    if key not in _KEYS_MEMO:
        _KEYS_MEMO[key] = _build_blocking_keys(col)
    return _KEYS_MEMO[key]


def _build_blocking_keys(col: Column) -> Column:
    """Unified blocking key array: exact + deletion-neighborhood + char
    LSH bands + word-token channel. Key namespaces cannot collide
    ('x|'/'d|'/'w|'/'w<k>|'/'l<j>|' prefixes)."""
    exact = F.array(F.concat(F.lit("x|"), col))
    dels = deletion_keys(col)
    lsh = F.when(
        F.length(col) >= LSH_MIN_LEN,
        lsh_band_keys(
            minhash_signature(char_ngrams_multi(col, GRAM_SIZES), NUM_HASHES),
            BANDS,
            NUM_HASHES // BANDS,
        ),
    ).otherwise(F.array().cast("array<string>"))
    words = word_keys(col)
    return F.array_distinct(F.concat(exact, dels, lsh, words))


def channel_of(bk: Column) -> Column:
    return (
        F.when(bk.startswith("x|"), F.lit("exact"))
        .when(bk.startswith("d|"), F.lit("del"))
        .when(bk.startswith("w"), F.lit("word"))
        .otherwise(F.lit("lsh"))
    )


def _with_keys(df: DataFrame) -> DataFrame:
    """``df`` with one row per blocking key ``bk`` of its ``norm``,
    materialized once (lazy localCheckpoint): the key expression (12
    md5 minhashes over multigrams) is the most expensive projection of
    the job and every keyed frame is consumed more than once."""
    # re-spread before the keying explode: a dedup exchange upstream
    # AQE-coalesces by BYTES (a few MB of norms fits one partition),
    # while the projection that follows is the job's most expensive
    # per-row work — measured running as a single task on 32 cores
    # (guide §2.5). One extra round-robin exchange of the pre-explode
    # frame (far smaller than the exploded key frame the next join
    # shuffles anyway) buys a fully-wide keying stage at every scale.
    df = df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    return pin(df.withColumn("bk", F.explode(blocking_keys(F.col("norm")))))


def surface_blocking_keys(mentions: DataFrame) -> DataFrame:
    """(norm, bk) for every distinct mention surface, materialized once
    and SHARED by the mention-entity blocking join and the
    mention-mention self-join (the keying pass is paid once)."""
    return _with_keys(mentions.select("norm").distinct())


def blocking_skew_bound() -> int:
    """Closed-form upper bound on pre-dedup candidate rows per surface
    — the invariant that makes the explicit ``repartition("norm")`` in
    :func:`block_candidates` safe. Each surface emits at most

      1 (exact) + 1 + DEL_MAX_LEN (delete-0/1) +
      DEL2_MAX_LEN·(DEL2_MAX_LEN−1) (delete-2, pre-distinct) +
      BANDS (LSH band keys) + 1 + WORD_NUM_HASHES (word channel)

    keys, and the hot-key cap drops every key matched by more than
    ``MAX_KEY_FREQ`` entities, so per-surface join fan-out ≤
    n_keys_max × MAX_KEY_FREQ. The explicit repartition is invisible
    to AQE skew splitting, so this bound — not AQE — is what prevents
    a mega-partition; raising ``MAX_KEY_FREQ`` scales the bound
    linearly, and :func:`block_candidates` (``skew_assert=True``)
    verifies the observed max against it at run time."""
    n_keys_max = (
        1
        + (1 + DEL_MAX_LEN)
        + DEL2_MAX_LEN * (DEL2_MAX_LEN - 1)
        + BANDS
        + (1 + WORD_NUM_HASHES)
    )
    return n_keys_max * MAX_KEY_FREQ


def max_candidates_per_surface(cands: DataFrame, norm_col: str = "norm") -> int:
    """Observed max candidate rows for any single surface (one
    aggregation, one scalar to the driver)."""
    row = (
        cands.groupBy(norm_col)
        .agg(F.count("*").alias("n"))
        .agg(F.max("n").alias("mx"))
        .collect()[0]
    )
    return int(row["mx"] or 0)


def block_candidates(
    surface_keys: DataFrame,
    names: DataFrame,
    skew_assert: bool = False,
) -> DataFrame:
    """surface_keys(norm, bk) × names(cui, norm) -> candidates
    (norm, cui, channel, block_key, has_exact).

    ``surface_keys`` is the mention side's keying frame from
    :func:`surface_blocking_keys`; the caller builds it because the
    mention-mention self-join consumes the same keying, so the
    expensive projection runs once for the whole job.

    ``block_key`` is a key both sides shared — the north rule's F1 is
    conditioned on pairs at shared blocking keys, so it is carried
    through to the output.
    """
    # the synonym frame arrives on the byte-coalesced tail of
    # entity_names' dedup exchange: _with_keys re-spreads it
    e_keys = _with_keys(names.select("cui", "norm")).dropDuplicates(["cui", "bk"])
    # hot-key cap (explicit skew control / max_df analogue); e_keys is
    # unique on (cui, bk), so its row count per key is the key's
    # distinct-entity count
    e_keys = drop_hot_keys(e_keys, "bk", MAX_KEY_FREQ)

    cands = (
        surface_keys.select(F.col("norm").alias("m_norm"), "bk")
        .join(e_keys.select("cui", "bk"), "bk")
        .select(
            F.col("m_norm").alias("norm"),
            "cui",
            channel_of(F.col("bk")).alias("channel"),
            F.col("bk").alias("block_key"),
        )
    )
    if skew_assert:
        # runtime guard for the invariant the explicit repartition
        # below depends on (one extra aggregation job — enable in
        # tests / canary runs, not the hot path)
        bound = blocking_skew_bound()
        observed = max_candidates_per_surface(cands)
        if observed > bound:
            raise AssertionError(
                f"blocking skew invariant violated: a surface has "
                f"{observed} pre-dedup candidates > bound {bound} "
                f"(n_keys_max × MAX_KEY_FREQ) — the explicit "
                f"repartition('norm') would host a mega-partition "
                f"invisible to AQE skew splitting"
            )
    # A6: dedup per (surface, entity) across channels; keep deterministic
    # representatives + an exact-channel flag for the proxy ranking.
    # One exchange for both stages: hash-partitioning on norm alone
    # satisfies the groupBy(norm, cui) clustering requirement (subset
    # rule) AND the top-k window's partitionBy(norm) below, so the
    # candidate set is shuffled once instead of twice (measured: the
    # blocking stage was the worst-scaling stage of the cluster bench,
    # and its extra exchange was pure shuffle-bandwidth cost).
    # INVARIANT: safe from mega-partitions (AQE cannot split an
    # explicit repartition) only because per-surface fan-out entering
    # this exchange is bounded by blocking_skew_bound() — the hot-key
    # cap upstream is load-bearing; see skew_assert above.
    cands = cands.repartition("norm")
    cands = cands.groupBy("norm", "cui").agg(
        F.min("channel").alias("channel"),
        F.min("block_key").alias("block_key"),
        F.max(F.col("channel") == "exact").alias("has_exact"),
    )

    # per-surface TOP_K cap (W1) on a cheap JVM-side proxy similarity
    rep = names.groupBy("cui").agg(F.min("norm").alias("e_norm"))
    cands = cands.join(rep, "cui", "left")
    proxy = F.when(F.col("has_exact"), F.lit(2.0)).otherwise(
        1.0
        - F.levenshtein("norm", "e_norm")
        / F.greatest(F.length("norm"), F.length("e_norm"), F.lit(1))
    )
    w = Window.partitionBy("norm").orderBy(F.desc("proxy"), F.asc("cui"))
    return (
        cands.withColumn("proxy", proxy)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .drop("rk", "proxy", "e_norm")
    )
