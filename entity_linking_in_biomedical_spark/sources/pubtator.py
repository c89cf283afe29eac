"""PubTator corpus scan (S1) and reference text-format scans (S2-S5).

The reference parses PubTator with a hand-rolled block loop
(preprocess/medmention_preprocess.py:7-41: title line ``PMID|t|...``,
abstract ``PMID|a|...``, annotation rows ``PMID\\tstart\\tend\\tsurface\\t
semtype\\tT:CUI``, blocks separated by blank lines). Here the same parse
is declarative: read lines, classify with regexp, group by PMID, and
assemble the spans array — distributes over any corpus size because the
groupBy key is the document id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F


def read_pubtator(spark: SparkSession, path: str) -> DataFrame:
    """Parse a PubTator file into the documents span shape.

    Output: doc_id string, spans array<struct<kind,text,media_ref,offset>>
    where span 0 is the title text, span 1 the abstract text, and each
    annotation becomes a kind='mention' span at its start offset (cui
    carried in ``mention_cuis`` alongside, since the authoritative span
    struct has no cui field).
    """
    # one pass: classify each line once, then one aggregate per PMID
    # that keeps only documents with a title line. The first projection
    # runs each regex and the split once per line; folded into the
    # second, they would re-run inside every CASE branch.
    v = F.col("value")
    text_re = r"^(\d+)\|([ta])\|(.*)$"
    lines = spark.read.text(path).select(
        F.regexp_extract(v, text_re, 1).alias("text_id"),
        F.regexp_extract(v, text_re, 2).alias("kind"),
        F.regexp_extract(v, text_re, 3).alias("body"),
        F.when(v.rlike(r"^\d+\t"), F.split(v, "\t")).alias("c"),
    )
    c, kind, body = F.col("c"), F.col("kind"), F.col("body")
    lines = lines.select(
        F.coalesce(c[0], "text_id").alias("doc_id"),
        F.when(kind == "t", body).alias("title"),
        F.when(kind == "a", body).alias("abstract"),
        # annotation projection (P5): cols 1:4 + split(col5, ':')[-1] ->
        # CUI (medmention_preprocess.py:30-32)
        F.when(
            c.isNotNull(),
            F.struct(
                c[1].cast("int").alias("begin"),
                c[2].cast("int").alias("end"),
                c[3].alias("surface"),
                F.element_at(F.split(c[5], ":"), -1).alias("cui"),
            ),
        ).alias("ann"),
    )
    per_doc = (
        lines.filter(F.col("doc_id") != "")
        .groupBy("doc_id")
        .agg(
            F.max("title").alias("title"),
            F.max("abstract").alias("abstract"),
            F.array_sort(F.collect_list("ann")).alias("anns"),
        )
        .filter(F.col("title").isNotNull())
    )
    return per_doc.select(
        "doc_id",
        F.concat(
            F.array(
                F.struct(
                    F.lit("text").alias("kind"),
                    F.col("title").alias("text"),
                    F.lit(None).cast("string").alias("media_ref"),
                    F.lit(0).alias("offset"),
                ),
                F.struct(
                    F.lit("text").alias("kind"),
                    F.coalesce(F.col("abstract"), F.lit("")).alias("text"),
                    F.lit(None).cast("string").alias("media_ref"),
                    (F.length("title") + F.lit(1)).alias("offset"),
                ),
            ),
            F.transform(
                "anns",
                lambda a: F.struct(
                    F.lit("mention").alias("kind"),
                    a["surface"].alias("text"),
                    F.lit(None).cast("string").alias("media_ref"),
                    a["begin"].alias("offset"),
                ),
            ),
        ).alias("spans"),
        F.transform("anns", lambda a: a["cui"]).alias("mention_cuis"),
    )


def read_mrconso(spark: SparkSession, path: str) -> DataFrame:
    """UMLS MRCONSO scan (S2): pipe-delimited, ENG filter, project
    (cui, name). Mirrors src/utils.py:6-24."""
    raw = spark.read.csv(path, sep="|", header=False)
    return (
        raw.filter(F.col("_c1") == "ENG")
        .select(F.col("_c0").alias("cui"), F.col("_c14").alias("name"))
        .dropDuplicates(["cui", "name"])
    )


def read_mrsty(spark: SparkSession, path: str) -> DataFrame:
    """UMLS MRSTY scan (S3): project (cui, sem_type), one row per cui
    (last-write-wins in the reference, src/utils.py:35-38 — here
    deterministic max)."""
    raw = spark.read.csv(path, sep="|", header=False)
    return (
        raw.select(F.col("_c0").alias("cui"), F.col("_c3").alias("sem_type"))
        .groupBy("cui")
        .agg(F.max("sem_type").alias("sem_type"))
    )


def build_entities(mrconso: DataFrame, mrsty: DataFrame) -> DataFrame:
    """Group-by CUI -> collect_set(synonyms) + semtype join (A1/A2 +
    umls_preprocess.py:56-62 dictionary sink shape)."""
    syn = mrconso.groupBy("cui").agg(
        F.array_sort(F.collect_set("name")).alias("synonyms")
    )
    return syn.join(mrsty, "cui", "left").select("cui", "sem_type", "synonyms")


def write_dictionary(entities: DataFrame, path: str) -> None:
    """K2 sink — the reference's ``dictionary.txt`` format
    (umls_preprocess.py:56-62): ``cui||semtype|syn1|syn2...``, lines
    joined by newline, no trailing newline. One artifact file, like the
    reference ships; rows stream through toLocalIterator (sorted by
    cui for determinism), so driver memory stays O(1) — the dictionary
    is a bounded dimension table, not corpus-scale data."""
    rows = (
        entities.select(
            F.concat_ws(
                "|",
                F.concat(F.col("cui"), F.lit("|")),  # cui|| before semtype
                F.coalesce(F.col("sem_type"), F.lit("")),
                F.concat_ws("|", F.col("synonyms")),
            ).alias("line"),
            "cui",
        )
        .orderBy("cui")
        .select("line")
    )
    with open(path, "w", encoding="utf-8") as f:
        first = True
        for r in rows.toLocalIterator():
            if not first:
                f.write("\n")
            f.write(r["line"])
            first = False


def read_dictionary(spark: SparkSession, path: str) -> DataFrame:
    """S8 scan of the reference's ``dictionary.txt``:
    (cui, sem_type, synonyms array<string>).

    The ``||`` split is limited to the FIRST separator — a synonym list
    that itself renders a ``||`` (empty first synonym after the sort)
    must not shift the parse. Empty synonym entries are artifacts of
    the format's trailing-| convention and are dropped (an empty-string
    synonym is unrepresentable in this format)."""
    return (
        spark.read.text(path)
        .filter(F.length(F.trim("value")) > 0)
        .select(
            F.split("value", r"\|\|", 2).getItem(0).alias("cui"),
            F.split(F.split("value", r"\|\|", 2).getItem(1), r"\|").alias("rest"),
        )
        .select(
            "cui",
            F.col("rest").getItem(0).alias("sem_type"),
            F.array_remove(
                F.slice("rest", 2, F.greatest(F.size("rest") - 1, F.lit(0))), ""
            ).alias("synonyms"),
        )
    )


def read_ab3p(spark: SparkSession, path: str) -> DataFrame:
    """Ab3P output scan (S4): ``doc`` header lines then
    ``  abbr|long|score`` rows (medmention_preprocess.py:109-122).

    Fill-forward of the doc header is two-level so no single-partition
    window exists: a per-input-split window carries the header within
    each split, and an O(#splits) carry-in frame (one row per split,
    broadcast back) covers rows that precede the first header of their
    split. Scales to arbitrarily large Ab3P files.

    Ordering notes: within one split, ``monotonically_increasing_id``
    follows byte offset. Across splits of the SAME file, Spark's
    size-descending split packing is a stable sort over equal-size
    chunks, so partition index (the id's high bits) still follows
    offset order; the undersized tail chunk sorts later but is also
    last by offset. Across DIFFERENT files no byte order exists, so the
    carry chain orders by (file name, split) — the standard
    lexicographic part-file convention.
    """
    from pyspark.sql import Window

    lines = (
        spark.read.text(path)
        .select(
            F.input_file_name().alias("fname"),
            F.monotonically_increasing_id().alias("ln"),
            "value",
        )
        .filter(F.length(F.trim("value")) > 0)
    )
    # high bits of monotonically_increasing_id = partition (split) index
    tagged = lines.select(
        "fname",
        "ln",
        F.shiftright("ln", 33).alias("blk"),
        "value",
        F.when(~F.col("value").startswith(" "), F.col("value")).alias("doc_hdr"),
    )
    w_in = (
        Window.partitionBy("fname", "blk")
        .orderBy("ln")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = tagged.withColumn("fill", F.last("doc_hdr", ignorenulls=True).over(w_in))
    # carry-in: the last header of any *earlier* split. One row per
    # input split, so the unpartitioned window is O(#splits), not O(rows).
    blk_last = (
        tagged.filter(F.col("doc_hdr").isNotNull())
        .groupBy("fname", "blk")
        .agg(F.max_by("doc_hdr", "ln").alias("blk_hdr"))
    )
    w_blk = Window.orderBy("fname", "blk").rowsBetween(
        Window.unboundedPreceding, -1
    )
    carry = (
        tagged.select("fname", "blk")
        .distinct()
        .join(blk_last, ["fname", "blk"], "left")
        .withColumn("carry", F.last("blk_hdr", ignorenulls=True).over(w_blk))
        .select("fname", "blk", "carry")
    )
    return (
        filled.join(F.broadcast(carry), ["fname", "blk"])
        .withColumn("doc_id", F.coalesce("fill", "carry"))
        .filter(F.col("doc_hdr").isNull())
        .select(
            "doc_id",
            F.trim(F.split("value", r"\|")[0]).alias("abbr"),
            F.split("value", r"\|")[1].alias("long_form"),
        )
    )
