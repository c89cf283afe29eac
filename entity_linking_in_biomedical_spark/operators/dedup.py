"""Document deduplication operators for large-scale training-data
pipelines, layered on the same minhash machinery as ER blocking.

All candidate generation is sub-quadratic (hash-groupBy or LSH
band-join); verification (exact Jaccard / Hamming) runs only on
candidate pairs. Everything through candidate generation is JVM-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.ngrams import lsh_band_keys, minhash_signature, with_band_keys
from ..functions.text_metrics import fingerprint, simhash64, tokens
from ..session import pin
from .skew import drop_hot_keys

# Shared LSH parameters for minhash_near_duplicates — the DuckDB oracle
# (__spark_entry__._oracle_minhash_dedup) MUST band identically, or it
# verifies a different candidate set than the implementation.
MINHASH_DEDUP_NUM_HASHES = 16
MINHASH_DEDUP_BANDS = 8
MINHASH_DEDUP_MAX_BUCKET = 50

# Shared SimHash blocking parameters (implementation + DuckDB twin).
SIMHASH_MAX_HAMMING = 3
SIMHASH_BLOCK_BITS = 15
SIMHASH_N_BLOCKS = 4
SIMHASH_MAX_BUCKET = 50


def exact_duplicates(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup by content hash: (text_hash, dup_count, doc_ids).
    One shuffle on the hash; at 100 TB this is the cheapest first pass
    and typically removes the bulk of duplicates."""
    return (
        docs.select(F.col(id_col).cast("string").alias("doc_id"), F.md5(F.col(text_col)).alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.count("*").alias("dup_count"),
            F.sort_array(F.collect_list("doc_id")).alias("doc_ids"),
        )
        .filter(F.col("dup_count") > 1)
    )


def fingerprint_duplicates(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Token-set fingerprint dedup — catches reorderings/whitespace
    variants exact hashing misses."""
    return (
        docs.select(F.col(id_col).cast("string").alias("doc_id"), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(
            F.count("*").alias("dup_count"),
            F.sort_array(F.collect_list("doc_id")).alias("doc_ids"),
        )
        .filter(F.col("dup_count") > 1)
    )


def _word_shingles(toks: F.Column, k: int = 3) -> F.Column:
    """k-word shingles from a *materialized* token array column.

    IMPORTANT: ``toks`` must be a bound column (not the tokens(...)
    expression inline): expressions referenced inside a higher-order
    lambda are re-evaluated per array element, so an inline tokenizer
    here would re-run the regexp once per shingle — O(len^2) per doc
    (measured 4x slowdown on the dedup operators)."""
    n = F.size(toks)
    return F.when(n >= k, F.transform(
        F.sequence(F.lit(0), n - k),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)),
    )).otherwise(F.array(F.concat_ws(" ", toks)))


def _shingled(docs: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    """(doc_id string, shingles array<string>) with tokens materialized
    in a separate projection step."""
    return (
        docs.select(
            F.col(id_col).cast("string").alias("doc_id"),
            tokens(text_col).alias("toks"),
        )
        .select("doc_id", F.array_distinct(_word_shingles(F.col("toks"), k)).alias("shingles"))
    )


def minhash_near_duplicates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    num_hashes: int = MINHASH_DEDUP_NUM_HASHES,
    bands: int = MINHASH_DEDUP_BANDS,
    jaccard_threshold: float = 0.7,
    max_bucket: int = MINHASH_DEDUP_MAX_BUCKET,
) -> DataFrame:
    """MinHash+LSH near-dup pairs: shingle -> minhash -> band ->
    bucket-join -> exact shingle-set Jaccard verify.

    2-row bands (16 hashes / 8 bands): LSH S-curve threshold
    (1/8)^(1/2) ~= 0.35, i.e. >=95% catch probability at Jaccard 0.55+
    while sub-threshold pairs mostly never collide; the exact-Jaccard
    verify step removes the rest, so recall is the only LSH concern.
    ``max_bucket`` drops degenerate buckets (boilerplate/empty docs) —
    the skew control; at 100 TB a single boilerplate bucket would
    otherwise produce O(n^2) pairs.
    Returns (a_id, b_id, jaccard) with a_id < b_id, deduped across bands.
    """
    sh = pin(_shingled(docs, id_col, text_col, shingle_k))
    banded = pin(
        with_band_keys(sh, F.col("shingles"), num_hashes, bands)
        .select("doc_id", "bk")
    )
    banded = drop_hot_keys(banded, "bk", max_bucket)
    # id-only pair join + dedup FIRST; the shingle arrays re-attach
    # afterwards — shuffling two ~100-element string arrays per
    # candidate pair was the dominant cost of this operator (measured)
    pairs = (
        banded.alias("x")
        .join(banded.alias("y"), "bk")
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("a_id"), F.col("y.doc_id").alias("b_id"))
        .dropDuplicates(["a_id", "b_id"])
    )
    pairs = pairs.join(
        sh.select(F.col("doc_id").alias("a_id"), F.col("shingles").alias("a_sh")), "a_id"
    ).join(sh.select(F.col("doc_id").alias("b_id"), F.col("shingles").alias("b_sh")), "b_id")
    inter = F.size(F.array_intersect("a_sh", "b_sh"))
    union = F.size(F.array_union("a_sh", "b_sh"))
    return (
        pairs.withColumn("jaccard", inter / F.greatest(union, F.lit(1)))
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("a_id", "b_id", "jaccard")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """EXACT n-gram Jaccard near-dup via prefix filtering (the AllPairs/
    PPJoin family, Bayardo et al. WWW'07): order every document's
    shingle set by ascending global document frequency (ties by gram),
    keep only each doc's first ``|A| - ceil(t*|A|) + 1`` shingles (its
    *prefix*), and generate candidates from prefix-prefix gram joins.

    Correctness: J(A,B) >= t implies |A∩B| >= t*|A∪B| >= t*max(|A|,|B|),
    and two sets whose intersection is that large MUST collide inside
    both prefixes under any shared total order — so unlike a rare-gram
    heuristic this misses nothing. Efficiency: the df-ascending order
    puts the *rarest* grams in the prefix, so join fan-out per gram is
    minimal, and the length filter min >= ceil(t*max) prunes
    size-mismatched pairs using two ints before any array re-attaches
    (measured at sf0.1: 1.12M candidates -> ~30k for the same 256-pair
    answer). Deterministic (no hashing), so it doubles as the
    SQL-oracle-friendly dedup variant; the DuckDB twin verifies against
    the plain exact any-shared-gram join."""
    from pyspark.sql import Window

    t = jaccard_threshold
    sh = pin(_shingled(docs, id_col, text_col, shingle_k))
    # carry |shingles| through the explode (an int per row) instead of
    # re-attaching a sizes frame by doc_id later — one join/exchange
    # fewer (guide §2.4); document frequency as a whole-partition window
    # over g instead of groupBy+join — one exchange where the
    # agg-then-join form pays two (same rewrite as clustering's stars)
    inv = sh.select(
        "doc_id", F.size("shingles").alias("n"), F.explode("shingles").alias("g")
    )
    ranked = inv.withColumn(
        "df", F.count("*").over(Window.partitionBy("g"))
    ).withColumn(
        "rk",
        F.row_number().over(Window.partitionBy("doc_id").orderBy("df", "g")),
    )
    # Float-exact prefix/length bounds: the verify keeps a pair iff
    # float(inter/union) >= t, so every pre-filter must be a NECESSARY
    # condition of that under the SAME float division (a multiplication
    # form like `min >= t*max`, or a ceil over doubles, overshoots when
    # t*n lands on an exact integer — e.g. 0.07*100 = 7.0000000000000009
    # — and silently drops qualifying pairs). Division is monotone in
    # float, so float(min/max) >= float(inter/union) >= t and
    # float((n-rk+1)/n) >= float(o/n) for the minimum overlap o a
    # qualifying pair must carry — both filters below are safe.
    prefix0 = ranked.filter(
        (F.col("n") - F.col("rk") + 1) / F.col("n") >= F.lit(t)
    )
    # p = prefix length (max kept rank). The max-window reuses the
    # row_number window's doc_id partitioning — same stage, no exchange.
    prefix = (
        prefix0.withColumn("p", F.max("rk").over(Window.partitionBy("doc_id")))
        # df=1 grams occupy their prefix slot (the rank above counts
        # them — required) but can never produce a candidate pair, so
        # they are dead weight in the self-join; dropping them here is
        # candidate-set-preserving and typically halves the join input
        .filter(F.col("df") >= 2)
        .select("doc_id", "g", "n", "p")
    )
    # Candidate aggregation with the PPJoin-style suffix-count bound
    # (Xiao et al. VLDB'08 adapted to Jaccard): the same exchange that
    # previously only deduplicated (a,b) now counts c = |prefix(A) ∩
    # prefix(B)| for free, and c bounds the full intersection. Proof:
    # prefixes are rank-prefixes of one shared global gram order, so if
    # prefix(A)'s max gram <= prefix(B)'s max gram, every common gram
    # outside the shared-prefix set lies in A's suffix (a common gram in
    # B's suffix sorts above both prefix maxima, hence is in A's suffix
    # too; one in prefix(B)\prefix(A) is in A's suffix by definition) —
    # thus inter <= c + (na - pa), and symmetrically <= c + (nb - pb)
    # when the maxima order flips, so inter <= ub = c + max(na-pa,
    # nb-pb) always. Requiring float(ub/(na+nb-ub)) >= t (monotone
    # float division again; denominator >= min(na,nb) >= 1 since
    # ub <= max(na,nb)) is a necessary condition of the verify — at
    # t=0.5 it demands ~n/3 shared prefix grams, which cuts the verify
    # join's input (and its two shingle-array-carrying shuffles) by
    # orders of magnitude (measured at sf0.1: 310k candidates -> ~300
    # for the same 256-pair answer).
    cand = (
        prefix.alias("x")
        .join(prefix.alias("y"), "g")
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        # length filter: inter <= min and union >= max, so
        # float(min/max) >= float(inter/union); require it >= t
        .filter(
            F.least("x.n", "y.n") / F.greatest("x.n", "y.n") >= F.lit(t)
        )
        .groupBy(
            F.col("x.doc_id").alias("a_id"),
            F.col("y.doc_id").alias("b_id"),
            F.col("x.n").alias("na"),
            F.col("y.n").alias("nb"),
            F.col("x.p").alias("pa"),
            F.col("y.p").alias("pb"),
        )
        .agg(F.count("*").alias("c"))
    )
    ub = F.col("c") + F.greatest(
        F.col("na") - F.col("pa"), F.col("nb") - F.col("pb")
    )
    pairs = cand.filter(
        ub / (F.col("na") + F.col("nb") - ub) >= F.lit(t)
    ).select("a_id", "b_id")
    pairs = pairs.join(
        sh.select(F.col("doc_id").alias("a_id"), F.col("shingles").alias("a_sh")), "a_id"
    ).join(sh.select(F.col("doc_id").alias("b_id"), F.col("shingles").alias("b_sh")), "b_id")
    inter = F.size(F.array_intersect("a_sh", "b_sh"))
    union = F.size(F.array_union("a_sh", "b_sh"))
    return (
        pairs.withColumn("jaccard", inter / F.greatest(union, F.lit(1)))
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("a_id", "b_id", "jaccard")
    )


def simhash_near_duplicates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = SIMHASH_MAX_HAMMING,
    block_bits: int = SIMHASH_BLOCK_BITS,
    n_blocks: int = SIMHASH_N_BLOCKS,
    max_bucket: int = SIMHASH_MAX_BUCKET,
) -> DataFrame:
    """SimHash near-dup: 60-bit token simhash, candidates share one of
    ``n_blocks`` bit-blocks, then Hamming verify via bit_count(xor).

    Recall guarantee is pigeonhole: with ``max_hamming < n_blocks``
    every qualifying pair shares at least one exact block, so the
    blocking is lossless for the advertised threshold *except* for
    blocks dropped by ``max_bucket`` — the explicit skew cap (a
    degenerate block, e.g. all-zero simhashes of empty docs, would be
    O(bucket^2) pairs at scale). Block keys are decimal (not hex) so the
    DuckDB oracle reproduces them with plain bigint arithmetic.
    (SimHash suits long documents with tiny relative edits; short-doc
    token swaps move many bits — use minhash_near_duplicates there.)"""
    # materialize the simhash before fanning out into block keys: the
    # block projection references `sh` n_blocks+1 times and Catalyst's
    # projection collapse would re-evaluate the aggregate per reference
    h = pin(docs.select(
        F.col(id_col).cast("string").alias("doc_id"), simhash64(text_col).alias("sh")
    ))
    blocked = pin(h.select(
        "doc_id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.concat(
                        F.lit(f"{b}:"),
                        F.shiftright(F.col("sh"), b * block_bits)
                        .bitwiseAND(F.lit((1 << block_bits) - 1))
                        .cast("string"),
                    )
                    for b in range(n_blocks)
                ]
            )
        ).alias("blk"),
    ))
    blocked = drop_hot_keys(blocked, "blk", max_bucket)
    pairs = (
        blocked.alias("x")
        .join(blocked.alias("y"), "blk")
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("a_id"),
            F.col("y.doc_id").alias("b_id"),
            F.col("x.sh").alias("a_sh"),
            F.col("y.sh").alias("b_sh"),
        )
        .dropDuplicates(["a_id", "b_id"])
    )
    hamming = F.bit_count(F.col("a_sh").bitwiseXOR(F.col("b_sh"))).cast("int")
    return (
        pairs.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("a_id", "b_id", "hamming")
    )


def embedding_near_duplicates(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cosine_threshold: float = 0.95,
    n_tables: int = 8,
    bits: int = 8,
    max_bucket: int = 50,
) -> DataFrame:
    """Embedding-cosine near-dup via banded multi-table SRP-LSH
    (deterministic md5-seeded hyperplanes — no RNG), cosine verify on
    candidate pairs.

    Recall at the 0.95 threshold: per-bit collision p = 1 - theta/pi
    ~= 0.90, so one 8-bit table catches ~0.43 of qualifying pairs and
    8 tables catch ~0.99. ``max_bucket`` drops degenerate buckets
    (zero / constant vectors) — same skew rule as the text dedups; the
    id-only pair join runs before vectors re-attach (shuffle carries
    strings, not 64-dim arrays)."""
    from ..functions.vectors import cosine_sim
    from .similarity import srp_table_keys_udf

    base = pin(embeddings.select(
        F.col(id_col).cast("string").alias("vec_id"), F.col(vec_col).alias("v")
    ))
    b = pin(base.select(
        "vec_id",
        F.explode(srp_table_keys_udf(F.col("v"), n_tables, bits)).alias("bkt"),
    ))
    b = drop_hot_keys(b, "bkt", max_bucket)
    pairs = (
        b.alias("x")
        .join(b.alias("y"), "bkt")
        .filter(F.col("x.vec_id") < F.col("y.vec_id"))
        .select(F.col("x.vec_id").alias("a_id"), F.col("y.vec_id").alias("b_id"))
        .dropDuplicates(["a_id", "b_id"])
    )
    pairs = pairs.join(
        base.select(F.col("vec_id").alias("a_id"), F.col("v").alias("a_v")), "a_id"
    ).join(base.select(F.col("vec_id").alias("b_id"), F.col("v").alias("b_v")), "b_id")
    return (
        pairs.withColumn("cosine", cosine_sim("a_v", "b_v"))
        .filter(F.col("cosine") >= cosine_threshold)
        .select("a_id", "b_id", F.round("cosine", 6).alias("cosine"))
    )


def remove_duplicate_passages(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window_k: int = 8,
) -> DataFrame:
    """The passage-removal corpus transform (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better" —
    ExactSubstr at k-token-window granularity): every k-token window
    that occurs more than once in the corpus keeps exactly its FIRST
    occurrence (global min (doc_id, pos) for that window hash) and
    every token covered by any other occurrence is dropped; surviving
    tokens are re-joined in order. Doc-level dedup misses boilerplate
    shared across otherwise-distinct documents — this is the transform
    a training-data curation run actually executes.

    -> (doc_id, n_tokens, n_removed, cleaned_text), one row per input
    doc (docs shorter than ``window_k`` tokens pass through intact).

    Shape at 10^12 docs — linear end to end, no pair explosion:
      1. window explode: ~one row per token (same as the profiling op);
      2. duplicated-window detection + global first occurrence: ONE
         map-side-partial groupBy on the window hash (count + min
         struct(doc_id, pos) in the same aggregate);
      3. removal flags: an equi-join back on the hash (only hashes with
         count >= 2 survive the broadcast-eligible right side filter);
      4. covered-token positions: a k-wide sequence explode over
         *removed occurrences only*, then distinct per (doc, position);
      5. rebuild (shared tail, rebuild_minus_positions below): docs
         with at least one removed position are isolated by a semi-join
         and ONLY THEY pay the token explode + LEFT ANTI join +
         groupBy(doc_id) reassembly; untouched docs stream through as a
         row-local projection — the one shuffle is proportional to the
         duplication found, not the corpus.
    Positions are 1-based on both engines; the keep-first rule orders
    (doc_id string asc, pos asc) identically in Spark's struct
    comparison and the DuckDB twin's ROW_NUMBER, so the surviving text
    is byte-reproducible cross-engine.
    """
    k = window_k
    toks_e = tokens(text_col)
    base = pin(docs.select(
        F.col(id_col).cast("string").alias("doc_id"), toks_e.alias("toks")
    ))
    n = F.size("toks")
    windows = F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - k + 1),
            lambda i: F.md5(F.concat_ws(" ", F.slice(F.col("toks"), i, k))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    wdf = base.select(
        "doc_id", F.posexplode(windows).alias("p", "w")
    ).select("doc_id", (F.col("p") + 1).alias("pos"), "w")
    firsts = (
        wdf.groupBy("w")
        .agg(F.count("*").alias("c"), F.min(F.struct("doc_id", "pos")).alias("first"))
        .filter(F.col("c") >= 2)
        .select("w", "first")
    )
    removals = wdf.join(firsts, "w").filter(
        ~(
            (F.col("doc_id") == F.col("first.doc_id"))
            & (F.col("pos") == F.col("first.pos"))
        )
    )
    drops = removals.select(
        "doc_id", F.explode(F.sequence(F.col("pos"), F.col("pos") + k - 1)).alias("ti")
    ).dropDuplicates(["doc_id", "ti"])
    return rebuild_minus_positions(base, drops).drop("n_pieces")


def rebuild_minus_positions(
    base: DataFrame, drops: DataFrame, key_cols: tuple[str, ...] = ("doc_id",)
) -> DataFrame:
    """Shared reassembly tail for token-position removal transforms
    (passage dedup above; span-level decontamination in
    operators/contamination.py): given ``base`` (*key_cols, toks) and
    ``drops`` (*key_cols, ti — 1-based token positions to remove;
    indices past the end of a unit are tolerated and ignored), re-join
    the surviving tokens in order. ``key_cols`` names the unit being
    rewritten — a whole document by default, a (doc, span-index) pair
    for the interleaved scrub.

    -> (*key_cols, n_tokens, n_removed, n_pieces, cleaned_text) — one
    row per input unit. ``n_pieces`` counts the contiguous surviving
    runs (GPT-3 Appendix C's "split into pieces" statistic: 1 for an
    untouched unit, 0 for a fully-removed or empty one).

    Cost is proportional to the removal found, not the corpus: units
    with at least one drop position are isolated by a semi-join on the
    keys and ONLY THEY pay the token explode + LEFT ANTI join + one
    groupBy(keys) reassembly; untouched units stream through as a pure
    projection (their token re-join is row-local). The piece count
    reads off the already-sorted position array (adjacent-gap scan),
    no extra aggregate or window.
    """
    keys = list(key_cols)
    # NULL toks (a NULL text column upstream) must behave as an empty
    # unit — without this, F.size(NULL) = -1 poisons n_tokens/n_removed
    base = base.select(
        *keys, F.coalesce("toks", F.array().cast("array<string>")).alias("toks")
    )
    # drops feeds three consumers (semi, anti, kept anti-join); its
    # lineage re-runs the caller's window-collision detection, so pin
    # the (removal-proportional, small) frame once
    drops = pin(drops)
    touched_keys = drops.select(*keys).distinct()
    touched = base.join(touched_keys, keys, "left_semi")
    untouched = base.join(touched_keys, keys, "left_anti")
    tokrows = touched.select(*keys, F.posexplode("toks").alias("p", "tok")).select(
        *keys, (F.col("p") + 1).alias("ti"), "tok"
    )
    kept = tokrows.join(drops, keys + ["ti"], "left_anti")
    arr = kept.groupBy(*keys).agg(
        F.array_sort(F.collect_list(F.struct("ti", "tok"))).alias("arr")
    )
    tis = F.transform("arr", lambda x: x["ti"])
    sz = F.size("arr")
    rebuilt = arr.select(
        *keys,
        sz.alias("n_kept"),
        piece_runs(tis, sz).alias("n_pieces"),
        F.concat_ws(" ", F.transform("arr", lambda x: x["tok"])).alias("cleaned_text"),
    )
    touched_out = touched.select(*keys, F.size("toks").alias("n_tokens")).join(
        rebuilt, keys, "left"
    ).select(
        *keys,
        "n_tokens",
        (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0))).alias("n_removed"),
        F.coalesce("n_pieces", F.lit(0)).alias("n_pieces"),
        F.coalesce("cleaned_text", F.lit("")).alias("cleaned_text"),
    )
    nt = F.size("toks")
    untouched_out = untouched.select(
        *keys,
        nt.alias("n_tokens"),
        F.lit(0).alias("n_removed"),
        F.when(nt >= 1, F.lit(1)).otherwise(F.lit(0)).alias("n_pieces"),
        F.concat_ws(" ", F.col("toks")).alias("cleaned_text"),
    )
    return touched_out.unionByName(untouched_out)


def piece_runs(tis, sz):
    """Contiguous-run count of a SORTED 1-based position array (GPT-3
    Appendix C's "pieces"): 1 + the number of adjacent gaps != 1.
    ``tis`` must be non-empty (callers guard the empty case to 0)."""
    return F.lit(1) + F.size(
        F.filter(
            F.zip_with(
                F.slice(tis, 2, sz - 1),
                F.slice(tis, 1, sz - 1),
                lambda nxt, cur: nxt - cur,
            ),
            lambda d: d != 1,
        )
    )


def duplicate_passage_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window_k: int = 8,
) -> DataFrame:
    """Substring-level duplication profile (the Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better" family,
    at window rather than suffix-array granularity): for every doc,
    the fraction of its k-token windows that occur MORE THAN ONCE in
    the corpus (across docs or repeated within one doc), and the
    longest run of consecutive duplicated windows — a run of r windows
    is a duplicated passage of r+k-1 tokens.

    -> (doc_id, n_windows, n_dup_windows, dup_ratio, max_dup_run).

    Shape at 10^12 docs: the window explode is the operator family's
    standard linear cost (~one row per token); duplicated-window
    detection is ONE groupBy on the window hash (map-side partial);
    the flag-back is a semi-join on the same hash; run detection is a
    per-doc window function over only the duplicated positions (the
    classic pos - row_number() grouping trick), so its input is the
    duplicated subset, not the corpus. No caps needed — output is one
    row per document, and no pair explosion exists anywhere. Window
    hashes are md5 over the space-joined window so the DuckDB oracle
    reproduces them byte-for-byte."""
    from pyspark.sql import Window

    from ..functions.lambdas import let_bound

    def _windows(toks):
        # let-bound: an inline tokens(col) here would re-run the regexp
        # tokenizer once per window (the lambda-CSE defect; the sibling
        # removal transform pre-projects for the same reason)
        n = F.size(toks)
        return F.when(
            n >= window_k,
            F.transform(
                F.sequence(F.lit(1), n - window_k + 1),
                lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i, window_k))),
            ),
        ).otherwise(F.array().cast("array<string>"))

    base = pin(docs.select(
        F.col(id_col).cast("string").alias("doc_id"),
        let_bound(tokens(text_col), _windows).alias("ws"),
    ))
    wdf = base.select("doc_id", F.posexplode("ws").alias("pos", "w"))
    dup_w = (
        wdf.groupBy("w").agg(F.count("*").alias("c")).filter(F.col("c") >= 2)
    )
    dups = wdf.join(dup_w.select("w"), "w", "left_semi")
    run_id = F.col("pos") - F.row_number().over(
        Window.partitionBy("doc_id").orderBy("pos")
    )
    runs = (
        dups.withColumn("rid", run_id)
        .groupBy("doc_id", "rid")
        .agg(F.count("*").alias("run"))
    )
    per_doc = runs.groupBy("doc_id").agg(
        F.sum("run").alias("n_dup_windows"), F.max("run").alias("max_dup_run")
    )
    totals = base.select("doc_id", F.size("ws").alias("n_windows"))
    return (
        totals.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_windows",
            F.coalesce("n_dup_windows", F.lit(0)).alias("n_dup_windows"),
            F.round(
                F.coalesce("n_dup_windows", F.lit(0))
                / F.greatest("n_windows", F.lit(1)),
                6,
            ).alias("dup_ratio"),
            F.coalesce("max_dup_run", F.lit(0)).alias("max_dup_run"),
        )
    )


def near_dup_clusters(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    num_hashes: int = MINHASH_DEDUP_NUM_HASHES,
    bands: int = MINHASH_DEDUP_BANDS,
    jaccard_threshold: float = 0.7,
    max_bucket: int = MINHASH_DEDUP_MAX_BUCKET,
    quality_col: str | None = None,
) -> DataFrame:
    """Near-dup CLUSTERING + canonical selection: the corpus transform
    that follows pair detection in a curation run. MinHash/LSH pairs
    (:func:`minhash_near_duplicates`) -> transitive closure (connected
    components, operators/clustering.py window form) -> keep-min
    canonical per cluster. Pairwise flags alone under-remove: if A~B
    and B~C but A!~C, dropping one side of each pair can still keep
    two of {A,B,C}; the closure + one-canonical-per-cluster rule is
    what "dedup the corpus" actually means (Lee et al. 2022 §4 apply
    the same transitive grouping before removal).

    -> one row per INPUT doc: (doc_id string, dup_cluster_id string,
    is_canonical, cluster_size). Docs in no pair are their own
    singleton cluster. Filtering is_canonical gives the cleaned corpus.

    ``quality_col`` switches canonical selection from keep-min-id to
    KEEP-BEST: the cluster member with the highest ``quality_col``
    value survives (ties broken by ascending doc id, so the rule stays
    deterministic and engine-independent). This is what curation runs
    that score documents actually want — near-dup sets on the web are
    re-crawls and mirrors of mixed cleanliness, and keep-min throws
    away the good copy whenever a junk mirror happens to sort first.
    Cluster ids remain the min-label (membership is unaffected); only
    the survivor choice changes. Costs one extra join of (id, quality)
    onto the assignment frame plus one window over dup_cluster_id —
    both on the same short keys the base transform already shuffles.

    Scale shape: pair generation is the bucketed LSH op (capped
    buckets, id-only joins); CC runs on the pair graph only —
    |near-dup edges|, typically orders below |corpus| — with isolated
    docs attached by one anti-join, never entering the iteration.
    Cluster ids are lexicographic-min over the string doc ids
    (consistent across engines; numeric order is NOT implied).
    """
    pairs = minhash_near_duplicates(
        docs,
        id_col=id_col,
        text_col=text_col,
        shingle_k=shingle_k,
        num_hashes=num_hashes,
        bands=bands,
        jaccard_threshold=jaccard_threshold,
        max_bucket=max_bucket,
    )
    from .clustering import connected_components

    edges = pairs.select(
        F.col("a_id").cast("string").alias("src"),
        F.col("b_id").cast("string").alias("dst"),
    )
    nodes = docs.select(F.col(id_col).cast("string").alias("node"))
    assign, _ = connected_components(edges, nodes=nodes)
    sizes = assign.groupBy("cluster_id").agg(
        F.count("*").cast("bigint").alias("cluster_size")
    )
    out = assign.join(sizes, "cluster_id").select(
        F.col("node").alias("doc_id"),
        F.col("cluster_id").alias("dup_cluster_id"),
        (F.col("node") == F.col("cluster_id")).alias("is_canonical"),
        "cluster_size",
    )
    if quality_col is None:
        return out
    from pyspark.sql import Window

    q = docs.select(
        F.col(id_col).cast("string").alias("doc_id"),
        F.col(quality_col).alias("__q"),
    )
    w = Window.partitionBy("dup_cluster_id").orderBy(
        F.col("__q").desc(), F.col("doc_id").asc()
    )
    return (
        out.drop("is_canonical")
        .join(q, "doc_id")
        .withColumn("is_canonical", F.row_number().over(w) == 1)
        .select("doc_id", "dup_cluster_id", "is_canonical", "cluster_size")
    )


def drop_near_duplicates(docs: DataFrame, id_col: str = "doc_id", **kw) -> DataFrame:
    """Cleaned corpus: only each near-dup cluster's canonical doc
    survives over :func:`near_dup_clusters` — keep-min rule by
    default, keep-best when ``quality_col`` is passed through."""
    keep = (
        near_dup_clusters(docs, id_col=id_col, **kw)
        .filter("is_canonical")
        .select(F.col("doc_id").alias("__keep_id"))
    )
    return docs.join(
        keep, docs[id_col].cast("string") == F.col("__keep_id"), "left_semi"
    )


def drop_url_duplicates(
    docs: DataFrame, url_col: str = "url", id_col: str = "doc_id"
) -> DataFrame:
    """Keep ONE document per canonical URL (smallest id wins) — the
    URL-level dedup a web-corpus run does FIRST (RefinedWeb §3: most
    recrawl duplicates share a URL, and this cut is one shuffle on a
    short key, far cheaper than any content hash of the body).
    Canonicalization is functions/urls.py (tracking params, case,
    default ports), so 'the same page' collides across raw variants.
    One window shuffle on the canonical key. Docs with a NULL url are
    all kept, and they BYPASS the window entirely — routing every NULL
    into one window partition would be the worst possible skew at web
    scale (a large fraction of a raw crawl has no usable URL)."""
    from pyspark.sql import Window

    from ..functions.urls import canonical_url

    with_url = docs.filter(F.col(url_col).isNotNull())
    nulls = docs.filter(F.col(url_col).isNull())
    w = Window.partitionBy(canonical_url(url_col)).orderBy(F.col(id_col))
    kept = (
        with_url.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    return kept.unionByName(nulls)


def semantic_dedup(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 2,
    cosine_threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup
    with k-means as the blocking stage — exact cosine comparison runs
    only WITHIN each cluster, never across the corpus. Catches
    paraphrase-level duplicates that byte/shingle dedup (exact, minhash,
    simhash) cannot see, at a cost the cluster structure bounds.

    Rule: a row is dropped iff some SAME-CLUSTER row with a smaller id
    has cosine >= ``cosine_threshold`` to it. This is the released
    SemDeDup implementation's triu rule (dropped rows still suppress
    later ones); the one deviation is the priority ORDER — the paper
    ranks by similarity-to-centroid, here it is ascending id, the
    repo-wide keep-first rule (url/media/passage dedup), which is
    deterministic, tie-free, and engine-replayable. Cross-cluster
    duplicate pairs are NOT compared — that recall loss is the
    documented SemDeDup approximation, bought for the quadratic bound.

    -> (id, cluster, kept tinyint) for every input row.

    Shape at 100 TB:
    - k-means: ``iters`` corpus scans, E-step a codegen'd plan-literal
      expression, M-step one map-side-partial aggregate (operators/
      kmeans.py). No join, no UDF.
    - pair stage: ONE shuffle per side keyed on the cluster id; pairs
      are O(sum_c |c|^2), so size k ~ n / target_cluster_size (the
      paper uses ~11k clusters for 100M docs). ``max_cluster`` is the
      skew valve: clusters larger than it skip pairwise entirely (all
      their rows are KEPT — conservative for training data, identical
      rule to the LSH ``max_bucket`` drop), via a k-row broadcast join.
    - the dup-id set joins back id-only; vectors never ride a second
      shuffle.
    """
    from ..functions.vectors import cosine_sim
    from .kmeans import kmeans_fit, kmeans_score

    base = pin(embeddings.select(F.col(id_col), F.col(vec_col)))
    centroids = kmeans_fit(base, k=k, iters=iters, id_col=id_col, vec_col=vec_col)
    assigned = kmeans_score(base, centroids, vec_col=vec_col, out_col="__cl")
    pairable = assigned
    if max_cluster is not None:
        big = (
            assigned.groupBy("__cl")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > max_cluster)
        )
        pairable = assigned.join(
            F.broadcast(big.select("__cl")), "__cl", "left_anti"
        )
    left = pairable.select(
        F.col("__cl"), F.col(id_col).alias("__a"), F.col(vec_col).alias("__av")
    )
    right = pairable.select(
        F.col("__cl"), F.col(id_col).alias("__b"), F.col(vec_col).alias("__bv")
    )
    dup_ids = (
        left.join(right, "__cl")
        .filter(F.col("__a") < F.col("__b"))
        .filter(cosine_sim("__av", "__bv") >= cosine_threshold)
        .select(F.col("__b").alias(id_col))
        .dropDuplicates([id_col])
        .withColumn("__dup", F.lit(1))
    )
    return assigned.join(dup_ids, id_col, "left").select(
        id_col,
        F.col("__cl").alias("cluster"),
        F.when(F.col("__dup").isNotNull(), F.lit(0)).otherwise(F.lit(1)).alias("kept"),
    )
