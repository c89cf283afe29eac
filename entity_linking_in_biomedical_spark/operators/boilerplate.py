"""Crawl-cleaning operators: C4 line/page heuristics and CCNet-style
corpus-wide duplicate-line removal.

These are the earliest gates of a web-crawl training-data pipeline —
they run before quality scoring, LM perplexity, or any dedup family in
``operators/dedup.py``, and complement them at a different granularity:
``remove_duplicate_passages`` needs ``window_k`` consecutive tokens,
while navigation chrome ("share this page", cookie banners) is usually
a short single line repeated across millions of pages.

Each operator has two faces sharing one rule construction:
- the stats projection (``c4_clean`` / ``line_dedup``) — one row per
  doc with counts + cleaned text, the oracled driver-query surface;
- the schema-preserving gate (``c4_apply`` / ``line_dedup_apply``) —
  the caller's frame with ``text_col`` rewritten in place, the form
  ``plans/curate.curate_corpus`` composes.

All rules are deterministic pure functions of the input so the DuckDB
oracle twins in ``__spark_entry__.py`` replay them exactly.

Scale shape at 10^12 docs:
- the C4 rules are entirely row-local whole-stage-codegen column
  expressions — ZERO shuffles, one scan (plan-asserted in
  tests/test_boilerplate.py).
- line dedup pays exactly two shuffles: ONE map-side-partial groupBy
  on the 16-byte line hash (the corpus-wide duplicate detection a
  global rule cannot avoid) and ONE doc-keyed fold-back of drop
  positions; the rewrite itself is a row-local higher-order filter
  over the original rows — document payloads are never re-assembled
  from exploded parts (same discipline as
  ``operators/multimodal.drop_duplicate_media``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from ..session import pin

# C4 (Raffel et al. 2020, "Exploring the Limits of Transfer Learning
# with a Unified Text-to-Text Transformer", §2.2) line/page rules.
# The paper additionally drops pages containing words from a public
# blocklist; that list is corpus-policy, so it is a parameter here
# (default empty) rather than baked in.
C4_MIN_WORDS_PER_LINE = 3
C4_MIN_SENTENCES_PER_PAGE = 5
# terminal punctuation per the paper: period, exclamation mark,
# question mark, end quotation mark
C4_TERMINAL_RE = '[.!?"]$'
C4_SENTENCE_MARK_RE = "[.!?]"


def _c4_line_ok(t: Column) -> Column:
    """C4's per-line retention predicate over an already-trimmed line
    (the split array is trimmed once via ``transform`` before this
    filter, so no expression re-evaluates per reference — the
    lambda-CSE discipline of functions/lambdas.py)."""
    return (
        t.rlike(C4_TERMINAL_RE)
        & (F.size(F.split(t, r"\s+")) >= C4_MIN_WORDS_PER_LINE)
        & ~F.lower(t).contains("javascript")
    )


def _c4_frame(
    docs: DataFrame, text_col: str, blocked_phrases: tuple[str, ...]
) -> DataFrame:
    """Shared rule construction: the input frame with temp columns
    ``_kept`` (trimmed surviving lines), ``_cleaned`` (their join),
    ``n_lines``/``n_kept_lines``/``n_sentences``, filtered to
    SURVIVING pages. Both public faces project from this."""
    lines = F.split(F.col(text_col), "\n")
    # NOTE: must be a one-arg lambda — passing F.trim directly would
    # bind transform's optional (element, index) form to trim's
    # deprecated two-parameter signature and trim the wrong characters
    kept = F.filter(F.transform(lines, lambda l: F.trim(l)), _c4_line_ok)
    n_sentences = F.length(F.col("_cleaned")) - F.length(
        F.regexp_replace(F.col("_cleaned"), C4_SENTENCE_MARK_RE, "")
    )
    page_ok = (
        (F.col("n_sentences") >= C4_MIN_SENTENCES_PER_PAGE)
        & ~F.col("_lowered").contains("lorem ipsum")
        & ~F.col("_lowered").contains("{")
    )
    for phrase in blocked_phrases:
        page_ok = page_ok & ~F.col("_lowered").contains(phrase.lower())
    return (
        docs.withColumn("_kept", kept)
        .withColumn("_cleaned", F.array_join(F.col("_kept"), "\n"))
        .withColumn("_lowered", F.lower(F.col(text_col)))
        .withColumn("n_lines", F.size(lines))
        .withColumn("n_kept_lines", F.size(F.col("_kept")))
        .withColumn("n_sentences", n_sentences)
        .filter(page_ok)
    )


def c4_clean(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    blocked_phrases: tuple[str, ...] = (),
) -> DataFrame:
    """C4 cleaning (Raffel et al. 2020 §2.2): keep only lines that
    (trimmed) end in terminal punctuation, have >= 3 words, and do not
    mention "javascript"; then drop the whole page if the retained
    text has fewer than 5 sentences, or the ORIGINAL page contains
    "lorem ipsum", a curly brace ``{``, or any ``blocked_phrases``
    entry (case-insensitive).

    -> (doc_id, n_lines, n_kept_lines, n_sentences, cleaned_text), one
    row per SURVIVING page. Entirely row-local: one scan, zero
    shuffles, all whole-stage-codegen expressions.

    Sentence count follows the paper's spirit deterministically: the
    number of sentence-terminal marks ``[.!?]`` in the retained text
    (a kept line has >= 1 by construction, so pages with >= 5 kept
    declarative lines always survive the sentence rule).
    """
    return _c4_frame(docs, text_col, blocked_phrases).select(
        F.col(id_col).cast("string").alias("doc_id"),
        "n_lines",
        "n_kept_lines",
        "n_sentences",
        F.col("_cleaned").alias("cleaned_text"),
    )


def c4_apply(
    docs: DataFrame,
    text_col: str = "text",
    blocked_phrases: tuple[str, ...] = (),
) -> DataFrame:
    """Gate form of :func:`c4_clean` for pipeline composition
    (plans/curate.py): same rules, but returns the caller's frame —
    surviving pages only, with ``text_col`` replaced by the cleaned
    text and every other column untouched. Still zero shuffles."""
    out_cols = [
        F.col("_cleaned").alias(c) if c == text_col else F.col(c)
        for c in docs.columns
    ]
    return _c4_frame(docs, text_col, blocked_phrases).select(*out_cols)


def _line_occurrences(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(__ldk string doc key, pos int 0-based, h md5 of trimmed line)
    for every NON-EMPTY trimmed line — the short exploded frame every
    line rule runs on; document payloads stay behind."""
    return (
        docs.select(
            F.col(id_col).cast("string").alias("__ldk"),
            F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
        )
        .withColumn("_t", F.trim("line"))
        .filter(F.length("_t") > 0)
        .select("__ldk", "pos", F.md5("_t").alias("h"))
    )


def _keep_first_drops(occ: DataFrame) -> DataFrame:
    """Keep-first rule over an occurrence frame: -> (__ldk, pos) of
    every occurrence that is NOT its line's global first (min
    (__ldk, pos) per hash). ONE map-side-partial groupBy on the hash
    (count + min struct in the same aggregate)."""
    firsts = (
        occ.groupBy("h")
        .agg(F.count("*").alias("c"), F.min(F.struct("__ldk", "pos")).alias("first"))
        .filter(F.col("c") >= 2)
        .select("h", "first")
    )
    return (
        occ.join(firsts, "h")
        .filter(
            ~(
                (F.col("__ldk") == F.col("first.__ldk"))
                & (F.col("pos") == F.col("first.pos"))
            )
        )
        .select("__ldk", "pos")
    )


def _line_drop_positions(
    docs: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Shared keep-first rule: -> (__ldk string doc key, _drops
    array<int> of 0-based line positions to remove), one doc-keyed
    fold-back groupBy over :func:`_keep_first_drops`."""
    return (
        _keep_first_drops(_line_occurrences(docs, id_col, text_col))
        .groupBy("__ldk")
        .agg(F.collect_list("pos").alias("_drops"))
    )


def _rewrite_without_lines(lines_col: str, drops_col: str) -> Column:
    """Row-local rewrite: the lines array minus the dropped 0-based
    positions, re-joined — never re-assembled from exploded rows."""
    return F.array_join(
        F.filter(
            lines_col, lambda l, i: ~F.array_contains(F.col(drops_col), i)
        ),
        "\n",
    )


def line_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-wide duplicate-line removal, keep-first (the CCNet
    paragraph-hash dedup of Wenzek et al. 2020 at line granularity,
    also RefinedWeb's line-dedup stage): every non-empty line whose
    trimmed text occurs more than once in the corpus keeps exactly its
    FIRST occurrence — global min (doc_id, line_pos) for that line
    hash — and every other occurrence is dropped, including repeats
    within one document. Blank lines are document structure and are
    always kept.

    -> (doc_id, n_lines, n_dropped, cleaned_text), one row per input
    document.

    Shape at 10^12 docs: lines explode to ~one short row per line
    (payload stays behind); duplicate detection + global first
    occurrence is ONE map-side-partial groupBy on the md5 of the
    trimmed line (count + min struct in the same aggregate, exactly
    the ``remove_duplicate_passages`` discipline); drop positions fold
    back per doc as ONE array via a doc-keyed groupBy, and the rewrite
    is a row-local indexed ``filter`` over the original rows — the
    document text is never reassembled from exploded lines.
    """
    base = docs.select(
        F.col(id_col).cast("string").alias("__ldk"),
        F.split(F.col(text_col), "\n").alias("_lines"),
    )
    drops = _line_drop_positions(docs, id_col, text_col)
    return (
        base.join(drops, "__ldk", "left")
        .withColumn(
            "_dropped",
            F.coalesce(F.col("_drops"), F.array().cast("array<int>")),
        )
        .select(
            F.col("__ldk").alias("doc_id"),
            F.size("_lines").alias("n_lines"),
            F.size("_dropped").alias("n_dropped"),
            _rewrite_without_lines("_lines", "_dropped").alias("cleaned_text"),
        )
    )


def line_dedup_apply(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Gate form of :func:`line_dedup` for pipeline composition
    (plans/curate.py): the caller's frame with ``text_col`` rewritten
    in place (duplicate lines removed keep-first) and every other
    column untouched. Same two-shuffle shape; no rows are dropped —
    a page reduced to nothing keeps an empty text and is left for the
    downstream quality gate to cut."""
    drops = _line_drop_positions(docs, id_col, text_col)
    joined = (
        docs.withColumn("__ldk", F.col(id_col).cast("string"))
        .join(drops, "__ldk", "left")
        .withColumn(
            "_dropped",
            F.coalesce(F.col("_drops"), F.array().cast("array<int>")),
        )
        .withColumn("_lines", F.split(F.col(text_col), "\n"))
    )
    out_cols = [
        _rewrite_without_lines("_lines", "_dropped").alias(c)
        if c == text_col
        else F.col(c)
        for c in docs.columns
    ]
    return joined.select(*out_cols)


# ---- snapshot-lifecycle face (persisted line index) -------------------------


def build_line_index(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(line_hash string) — one row per DISTINCT non-empty trimmed
    line in the curated corpus: the durable artifact the arrival path
    probes. 32 hex chars per distinct line regardless of corpus size;
    one map-side-partial distinct at build time (amortized across
    every later snapshot). Persist as parquet/Iceberg; after a batch
    is deduped, append ``build_line_index(cleaned_batch)`` minus the
    existing rows (the cleaned batch's lines are by construction the
    corpus's new first occurrences)."""
    return (
        _line_occurrences(docs, id_col, text_col)
        .select(F.col("h").alias("line_hash"))
        .distinct()
    )


def dedup_lines_batch(
    batch: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """O(batch) arrival path of :func:`line_dedup`: rewrite an ARRIVING
    batch against a persisted :func:`build_line_index` without
    rescanning the corpus. A line whose hash is in the index drops ALL
    its batch occurrences (its keeper already lives in the corpus);
    fresh lines apply the batch-internal keep-first rule. Returns the
    batch's own columns with ``text_col`` rewritten.

    Precedence is ARRIVAL order (the production snapshot rule): the
    corpus's copy of a line always wins over the batch's, regardless
    of ids. When every corpus key sorts before every batch key this
    coincides exactly with :func:`line_dedup_apply` over the unioned
    corpus-then-batch projected to the batch rows (asserted in
    tests/test_boilerplate.py); with interleaved ids the one-shot
    global rule could instead crown a batch doc the keeper — an
    index-less re-run difference inherent to any keep-first index
    (same caveat as incremental_dedup's exact channel).

    Scale shape (the round's arrival-path discipline: persisted state
    is only ever SCANNED map-side, never shuffled per batch): the
    corpus-sized index is pruned by a broadcast semi-join on the
    batch's own distinct line hashes, and the surviving (batch-sized)
    hash set folds into the drop test as a broadcast build side; the
    keep-first aggregate runs only over fresh-line occurrences —
    O(batch) rows end to end.
    """
    occ = pin(_line_occurrences(batch, id_col, text_col))
    batch_keys = occ.select(F.col("h")).distinct()
    # indexed hashes that actually occur in this batch: map-side scan
    # of the index, batch-sized result
    touched = index.join(
        F.broadcast(batch_keys), index["line_hash"] == batch_keys["h"], "left_semi"
    ).select(F.col("line_hash").alias("h"))
    indexed_drops = occ.join(F.broadcast(touched), "h", "left_semi").select(
        "__ldk", "pos"
    )
    fresh = occ.join(F.broadcast(touched), "h", "left_anti")
    drops = (
        indexed_drops.unionByName(_keep_first_drops(fresh))
        .groupBy("__ldk")
        .agg(F.collect_list("pos").alias("_drops"))
    )
    joined = (
        batch.withColumn("__ldk", F.col(id_col).cast("string"))
        .join(drops, "__ldk", "left")
        .withColumn(
            "_dropped",
            F.coalesce(F.col("_drops"), F.array().cast("array<int>")),
        )
        .withColumn("_lines", F.split(F.col(text_col), "\n"))
    )
    out_cols = [
        _rewrite_without_lines("_lines", "_dropped").alias(c)
        if c == text_col
        else F.col(c)
        for c in batch.columns
    ]
    return joined.select(*out_cols)
