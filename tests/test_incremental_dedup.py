"""Incremental dedup: batch vs persisted index (operators/incremental_dedup)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from entity_linking_in_biomedical_spark.operators.incremental_dedup import (
    build_dedup_index,
    flag_against_index,
)

BASE = (
    "the quick brown fox jumps over the lazy dog near the quiet river "
    "while morning light settles on the water and birds call from the trees"
)
OTHER = (
    "completely different subject matter entirely about distributed "
    "database engines shuffling partitioned columnar data across executor "
    "nodes under adaptive query execution"
)


@pytest.fixture(scope="module")
def corpus_index(spark):
    docs = spark.createDataFrame(
        [
            ("c1", BASE),
            ("c2", OTHER),
            ("c3", "a third indexed document with its own private words only"),
        ],
        "doc_id string, text string",
    )
    return build_dedup_index(docs).localCheckpoint()


def test_index_schema_and_size(spark, corpus_index):
    rows = corpus_index.collect()
    assert {r["doc_id"] for r in rows} == {"c1", "c2", "c3"}
    for r in rows:
        assert len(r["text_hash"]) == 32
        assert len(r["sig"]) == 16


def _batch(spark):
    return spark.createDataFrame(
        [
            ("b1", BASE),  # exact copy of c1
            ("b2", BASE + " with one extra tail appended here"),  # near c1
            ("b3", "a genuinely novel document sharing no phrasing at all"),
            ("c2", OTHER),  # same id AND text as an index row (re-run)
        ],
        "doc_id string, text string",
    )


def test_flags_exact_near_and_rerun_safety(spark, corpus_index):
    flags = {
        r["doc_id"]: r
        for r in flag_against_index(
            _batch(spark), corpus_index, est_jaccard_threshold=0.5
        ).collect()
    }
    assert flags["b1"]["kind"] == "exact"
    assert flags["b1"]["dup_of"] == "c1"
    assert flags["b1"]["score"] == 1.0
    assert flags["b2"]["kind"] == "near"
    assert flags["b2"]["dup_of"] == "c1"
    assert 0.5 <= flags["b2"]["score"] <= 1.0
    assert "b3" not in flags  # novel
    # re-run safety: c2 matches only itself in the index -> not flagged
    assert "c2" not in flags


def test_exact_wins_over_near(spark, corpus_index):
    # b1 is byte-identical to c1, so it band-collides too; it must
    # surface as ONE exact row, never also a near row
    out = flag_against_index(
        _batch(spark), corpus_index, est_jaccard_threshold=0.5
    ).filter(F.col("doc_id") == "b1")
    rows = out.collect()
    assert len(rows) == 1 and rows[0]["kind"] == "exact"


def test_partition_invariance(spark, corpus_index):
    a = flag_against_index(_batch(spark), corpus_index, est_jaccard_threshold=0.5)
    b = flag_against_index(
        _batch(spark).repartition(7), corpus_index.repartition(5),
        est_jaccard_threshold=0.5,
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_near_rep_tiebreak_smallest_id(spark):
    # two identical indexed docs: the near representative must be the
    # lexicographically smallest id at the (equal) best score
    idx = build_dedup_index(
        spark.createDataFrame(
            [("z9", BASE), ("a1", BASE)], "doc_id string, text string"
        )
    )
    batch = spark.createDataFrame(
        [("n1", BASE + " tail words added")], "doc_id string, text string"
    )
    r = flag_against_index(batch, idx, est_jaccard_threshold=0.5).collect()
    assert len(r) == 1 and r[0]["dup_of"] == "a1" and r[0]["kind"] == "near"


def test_bands_must_divide(spark, corpus_index):
    with pytest.raises(ValueError):
        flag_against_index(_batch(spark), corpus_index, num_hashes=16, bands=5)


def test_plan_jvm_only_no_cartesian(spark, corpus_index):
    """The flag plan stays JVM-side (no Python/Arrow boundary) and
    sub-quadratic (no cartesian/nested-loop join): both channels are
    hash joins on text_hash / band key."""
    from tests.test_plans import plan_of

    plan = plan_of(
        flag_against_index(_batch(spark), corpus_index, est_jaccard_threshold=0.5)
    )
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the corpus-sized index is scanned map-side, never shuffled: every
    # index join is broadcast-built from the batch side (batch hints +
    # broadcast semi-join prunes of the index)
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
