"""Streaming decontamination: the stateless stream-static scrub
(``scrub_stream``) agrees with its batch operator, and its broadcast
budget fails at construction time."""

from __future__ import annotations


def test_scrub_stream_matches_batch(spark, tmp_path):
    """The row-local streaming scrub must agree EXACTLY with the batch
    scrub operator (same tokenization, gram hashing, ±margin drop rule,
    piece counts, token re-join), running as a real streaming query."""
    from entity_linking_in_biomedical_spark.operators.contamination import (
        scrub_contamination,
        scrub_stream,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    corpus_rows = [
        ("c1", f"intro words {base} trailing text one"),
        ("c2", "totally different content with no shared grams at all here"),
        # two separated collisions with clean margins on both flanks and
        # in the middle -> the scrub splits c3 into >= 2 pieces
        ("c3", f"start here {base} one two three four five {base} ending now"),
        ("c4", base),                                   # fully scrubbed
        ("c5", ""),                                     # empty doc
    ]
    test_rows = [("eval1", base)]
    corpus = spark.createDataFrame(corpus_rows, "doc_id string, text string")
    test = spark.createDataFrame(test_rows, "test_id string, text string")

    def key(rows):
        return {
            r["doc_id"]: (
                r["n_tokens"], r["n_removed"], r["n_pieces"], r["cleaned_text"]
            )
            for r in rows
        }

    want = key(scrub_contamination(corpus, test, n=8, margin=1).collect())
    assert want["c4"][1] == want["c4"][0] > 0  # planted full scrub really bites
    assert want["c3"][2] >= 2                  # planted split really bites

    # static-frame path: same operator, no stream
    got_static = key(scrub_stream(corpus, test, n=8, margin=1).collect())
    assert got_static == want

    # real streaming path
    src = str(tmp_path / "scrub_src")
    corpus.write.parquet(src)
    stream = spark.readStream.schema(corpus.schema).parquet(src)
    q = (
        scrub_stream(stream, test, n=8, margin=1)
        .writeStream.format("memory")
        .queryName("scrub_stream_q")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = key(spark.sql("select * from scrub_stream_q").collect())
    assert got == want


def test_scrub_stream_broadcast_guard(spark, tmp_path, monkeypatch):
    """A test side whose distinct-gram total exceeds the broadcast
    budget must raise at stream-construction time (not OOM mid-stream),
    and the error must name the batch operator to run per
    micro-batch."""
    import pytest

    from entity_linking_in_biomedical_spark.operators import contamination
    from entity_linking_in_biomedical_spark.operators.contamination import (
        scrub_stream,
    )

    test = spark.createDataFrame(
        [("eval1", " ".join(f"w{i}" for i in range(40)))],
        "test_id string, text string",
    )
    src = str(tmp_path / "scrub_guard_src")
    spark.createDataFrame(
        [("c1", "some text")], "doc_id string, text string"
    ).write.parquet(src)
    stream = spark.readStream.schema("doc_id string, text string").parquet(src)

    # 40 tokens, n=8 -> 33 distinct grams: a budget of 33 passes, 32
    # trips the guard, which must name the SCRUB family's batch operator
    # (not the detection family's: different output contract)
    monkeypatch.setattr(contamination, "MAX_BROADCAST_GRAMS", 33)
    scrub_stream(stream, test, n=8)
    monkeypatch.setattr(contamination, "MAX_BROADCAST_GRAMS", 32)
    with pytest.raises(ValueError, match="scrub_contamination"):
        scrub_stream(stream, test, n=8)
