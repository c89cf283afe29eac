"""Readers/writers for the reference's processed per-document artifacts
(S6 `.context` scan, S7 `.txt` mention scan, K1 sink):

  <pmid>.context   blank-line-separated sentence blocks of
                   ``token\\tTAG`` lines, TAG in {O, B:CUI, I:CUI};
                   one block per mention (only that mention B-tagged).
                   Written by medmention_preprocess.py:272-279, read by
                   dataset.py:59-67.
  <pmid>.txt       ``CUI||surface`` per line in document order, no
                   trailing newline. Written by
                   medmention_preprocess.py:281-294, read by
                   dataset.py:69-75.

Round-trips the actual files shipped under
/root/reference/data/processed/st21pv/ byte-for-byte (tests).

Scale notes: one-file-per-document is the reference's layout, not a
100 TB design — these readers exist so reference users can ingest their
existing artifacts, after which everything lives in Parquet/Iceberg.
``spark.read.text(wholetext=True)`` gives one row per file (fine for
the reference's ~4.4k docs; a 10^12-doc corpus would never be laid out
this way). Parsing is pure Column expressions; the writers render each
file's full content JVM-side and only the final open()/write() runs in
``foreachPartition`` (distributed, no driver collect).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from ..session import pin


def read_context(spark: SparkSession, path_glob: str) -> DataFrame:
    """`.context` files -> (doc_id, sent_seq, tokens array<struct<
    token string, tag string>>), one row per sentence block."""
    raw = (
        spark.read.text(path_glob, wholetext=True)
        .withColumn("doc_id", F.regexp_extract(F.input_file_name(), r"([^/]+)\.context$", 1))
    )
    blocks = raw.select(
        "doc_id",
        F.posexplode(
            F.filter(F.split("value", r"\n\n"), lambda b: F.trim(b) != "")
        ).alias("sent_seq", "block"),
    )
    return blocks.select(
        "doc_id",
        "sent_seq",
        F.transform(
            F.filter(F.split("block", r"\n"), lambda l: l != ""),
            lambda l: F.struct(
                F.split(l, r"\t").getItem(0).alias("token"),
                F.split(l, r"\t").getItem(1).alias("tag"),
            ),
        ).alias("tokens"),
    )


def read_mention_txt(spark: SparkSession, path_glob: str) -> DataFrame:
    """`.txt` mention files -> (doc_id, span_seq, cui, surface) in
    document order (span_seq = line number)."""
    raw = (
        spark.read.text(path_glob, wholetext=True)
        .withColumn("doc_id", F.regexp_extract(F.input_file_name(), r"([^/]+)\.txt$", 1))
    )
    lines = raw.select(
        "doc_id",
        F.posexplode(
            F.filter(F.split("value", r"\n"), lambda l: l != "")
        ).alias("span_seq", "line"),
    )
    return lines.select(
        "doc_id",
        "span_seq",
        F.split("line", r"\|\|").getItem(0).alias("cui"),
        # surfaces never contain '||' in the reference corpus, but keep
        # everything after the first separator to be safe
        F.expr("substring(line, instr(line, '||') + 2)").alias("surface"),
    )


def context_to_documents(ctx: DataFrame) -> DataFrame:
    """Context rows -> the engine's documents shape (doc_id, spans).

    Per sentence block: one kind='text' span holding the space-joined
    sentence, followed by one kind='mention' span per B:/I: tag run,
    with offsets into the reconstructed document text (sentences joined
    by '\\n'). The interleaving preserves document order, so
    extract_mentions() sees the same span_seq order as the `.txt` file.
    """
    sent = ctx.select(
        "doc_id",
        "sent_seq",
        F.concat_ws(" ", F.transform("tokens", lambda t: t["token"])).alias("text"),
        # per-token char start inside the sentence: cumulative lengths
        F.aggregate(
            F.slice(F.transform("tokens", lambda t: F.length(t["token"])), 1, F.greatest(F.size("tokens") - 1, F.lit(0))),
            F.array(F.lit(0)),
            lambda acc, ln: F.concat(acc, F.array(F.element_at(acc, -1) + ln + 1)),
        ).alias("tok_starts"),
        F.transform("tokens", lambda t: t["tag"]).alias("tags"),
        F.transform("tokens", lambda t: t["token"]).alias("toks"),
    )
    # mention = B-tagged token + following I-tagged tokens
    b_idx = F.filter(
        F.sequence(F.lit(0), F.size("tags") - 1),
        lambda i: F.get("tags", i).startswith("B:"),
    )
    run_end = lambda i: F.aggregate(  # noqa: E731 — first non-I index after i
        F.sequence(i + 1, F.size(F.col("tags"))),
        i + 1,
        lambda acc, j: F.when(
            (acc == j)
            & (j < F.size(F.col("tags")))
            & F.get(F.col("tags"), j).startswith("I:"),
            j + 1,
        ).otherwise(acc),
    )
    sent = sent.withColumn(
        "sent_mentions",
        F.transform(
            b_idx,
            lambda i: F.struct(
                F.concat_ws(
                    " ", F.slice(F.col("toks"), i + 1, run_end(i) - i)
                ).alias("text"),
                F.get("tok_starts", i).alias("start"),
                F.substring(F.get("tags", i), 3, 256).alias("cui"),
            ),
        ),
    )
    # document text = sentences joined by '\n'; per-sentence base offset
    doc = (
        sent.groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("sent_seq", "text", "sent_mentions"))
            ).alias("sents")
        )
        .withColumn(
            "bases",
            F.aggregate(
                F.slice(
                    F.transform("sents", lambda s: F.length(s["text"])),
                    1,
                    F.greatest(F.size("sents") - 1, F.lit(0)),
                ),
                F.array(F.lit(0)),
                lambda acc, ln: F.concat(acc, F.array(F.element_at(acc, -1) + ln + 1)),
            ),
        )
    )
    spans = F.flatten(
        F.transform(
            F.arrays_zip("sents", "bases"),
            lambda z: F.concat(
                F.array(
                    F.struct(
                        F.lit("text").alias("kind"),
                        z["sents"]["text"].alias("text"),
                        F.lit(None).cast("string").alias("media_ref"),
                        z["bases"].cast("int").alias("offset"),
                    )
                ),
                F.transform(
                    z["sents"]["sent_mentions"],
                    lambda m: F.struct(
                        F.lit("mention").alias("kind"),
                        m["text"].alias("text"),
                        F.concat(F.lit("cui://"), m["cui"]).alias("media_ref"),
                        (z["bases"] + m["start"]).cast("int").alias("offset"),
                    ),
                ),
            ),
        )
    )
    # plan barrier: without it Catalyst's projection collapse feeds the
    # raw nested-lambda expression (as an ExpressionProxy) straight into
    # downstream pandas UDFs, which Python eval rejects (INTERNAL_ERROR)
    return pin(doc.select("doc_id", spans.alias("spans")))


def render_context(ctx: DataFrame) -> DataFrame:
    """(doc_id, content) — the exact byte content of each `.context`
    file (per-sentence ``token\\tTAG`` lines, blank line after every
    block, trailing blank line included)."""
    return (
        ctx.groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("sent_seq", "tokens"))).alias("sents"))
        .select(
            "doc_id",
            F.concat_ws(
                "",
                F.transform(
                    "sents",
                    lambda s: F.concat(
                        F.concat_ws(
                            "\n",
                            F.transform(
                                s["tokens"],
                                lambda t: F.concat_ws("\t", t["token"], t["tag"]),
                            ),
                        ),
                        F.lit("\n\n"),
                    ),
                ),
            ).alias("content"),
        )
    )


def render_mention_txt(mentions: DataFrame) -> DataFrame:
    """(doc_id, content) — exact `.txt` bytes: CUI||surface lines joined
    by newline, no trailing newline."""
    return (
        mentions.groupBy("doc_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("span_seq", "cui", "surface"))).alias("ms")
        )
        .select(
            "doc_id",
            F.concat_ws(
                "\n",
                F.transform("ms", lambda m: F.concat(m["cui"], F.lit("||"), m["surface"])),
            ).alias("content"),
        )
    )


def _write_files(rendered: DataFrame, out_dir: str, suffix: str) -> None:
    """Write one <doc_id><suffix> file per row from the executors
    (foreachPartition — no driver collect; out_dir must be a path every
    executor can reach, which local/DFS mounts satisfy)."""
    os.makedirs(out_dir, exist_ok=True)

    def write_part(rows):
        for r in rows:
            with open(os.path.join(out_dir, f"{r['doc_id']}{suffix}"), "w", encoding="utf-8") as f:
                f.write(r["content"])

    rendered.foreachPartition(write_part)


def write_context(ctx: DataFrame, out_dir: str) -> None:
    _write_files(render_context(ctx), out_dir, ".context")


def write_mention_txt(mentions: DataFrame, out_dir: str) -> None:
    _write_files(render_mention_txt(mentions), out_dir, ".txt")


def read_all_mentions(spark: SparkSession, path: str) -> DataFrame:
    """`all_mention.txt` (corpus-wide flat mention file) ->
    (seq, doc_id, surface, cui), ``seq`` = file line number.

    Format per src/data/pre_processing.py:230-237 (writer) /
    src/utils.py:391-407 (reader): ``docid||surface||CUI`` per line,
    file ends with a newline (the reference reader drops the final
    empty split element). One corpus-wide file, so wholetext keeps the
    global line order losslessly; the reference corpus is ~350k lines —
    a 10^12-doc corpus would carry mentions in Parquet, not this."""
    raw = spark.read.text(path, wholetext=True)
    lines = raw.select(
        F.posexplode(
            F.filter(F.split("value", r"\n"), lambda l: l != "")
        ).alias("seq", "line")
    )
    return lines.select(
        "seq",
        F.split("line", r"\|\|").getItem(0).alias("doc_id"),
        F.split("line", r"\|\|").getItem(1).alias("surface"),
        F.split("line", r"\|\|").getItem(2).alias("cui"),
    )


def render_all_mentions(mentions: DataFrame) -> DataFrame:
    """One row (content) — exact `all_mention.txt` bytes:
    ``docid||surface||CUI`` lines in ``seq`` order, every line
    newline-terminated (reference writer emits '\\n' per row, so the
    file ends with a newline)."""
    return mentions.groupBy().agg(
        F.array_sort(
            F.collect_list(F.struct("seq", "doc_id", "surface", "cui"))
        ).alias("ms")
    ).select(
        F.concat_ws(
            "",
            F.transform(
                "ms",
                lambda m: F.concat(
                    m["doc_id"], F.lit("||"), m["surface"], F.lit("||"),
                    m["cui"], F.lit("\n"),
                ),
            ),
        ).alias("content")
    )


def write_all_mentions(mentions: DataFrame, out_path: str) -> None:
    """Sink for the reference's corpus-wide mention file (K1 family).
    Single file by definition, so the rendered row is written directly
    (content size = corpus mention lines — fine at reference scale,
    see read_all_mentions)."""
    content = render_all_mentions(mentions).first()["content"]
    os.makedirs(os.path.dirname(out_path) or ".", exist_ok=True)
    with open(out_path, "w", encoding="utf-8") as f:
        f.write(content)
