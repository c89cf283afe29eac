"""Output sharding (operators/sharding)."""

from __future__ import annotations

import hashlib
import json
import os

import pytest
from pyspark.sql import functions as F

from entity_linking_in_biomedical_spark.operators.sharding import (
    contiguous_shards,
    shard_manifest,
    write_shards,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [(f"d{i:03d}", "x" * ((i * 37) % 400 + 10)) for i in range(120)]
    return spark.createDataFrame(rows, "doc_id string, text string").withColumn(
        "sz", F.length("text").cast("long")
    )


def _expected_contiguous(rows, shard_size, seed="shard"):
    """Brute-force replay: global cumsum in md5 order, integer div."""
    line = sorted(
        rows, key=lambda r: (hashlib.md5(f"{seed}:{r[0]}".encode()).hexdigest(), r[0])
    )
    out, cum = {}, 0
    for doc_id, sz in line:
        out[doc_id] = cum // shard_size
        cum += sz
    return out


def test_contiguous_shards_exact_packing(spark, docs):
    got = {
        r["doc_id"]: r["shard_id"]
        for r in contiguous_shards(docs, 3000, "sz").collect()
    }
    rows = [(r["doc_id"], r["sz"]) for r in docs.collect()]
    assert got == _expected_contiguous(rows, 3000)


def test_contiguous_shards_partition_invariance(spark, docs):
    a = contiguous_shards(docs, 3000, "sz").select("doc_id", "shard_id").collect()
    b = (
        contiguous_shards(docs.repartition(11), 3000, "sz")
        .select("doc_id", "shard_id")
        .collect()
    )
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_contiguous_shard_size_bounds(spark, docs):
    shard_size = 3000
    man = shard_manifest(
        contiguous_shards(docs, shard_size, "sz"), "sz"
    ).collect()
    max_doc = max(r["sz"] for r in docs.collect())
    # every shard except the last is cut within one doc of the budget
    for r in man[:-1]:
        assert shard_size - max_doc <= r["units"] < shard_size + max_doc
    assert sum(r["units"] for r in man) == sum(r["sz"] for r in docs.collect())
    assert [r["shard_id"] for r in man] == list(range(len(man)))  # no gaps


def test_write_shards_roundtrip(spark, docs, tmp_path):
    out = str(tmp_path / "out")
    sharded = contiguous_shards(docs, 6000, "sz")
    manifest = write_shards(sharded, out, "sz")
    with open(os.path.join(out, "_MANIFEST.json")) as f:
        assert json.load(f) == manifest
    back = spark.read.parquet(os.path.join(out, "shards"))
    assert back.count() == 120
    per_shard = {
        r["shard_id"]: r["n"]
        for r in back.groupBy("shard_id").agg(F.count("*").alias("n")).collect()
    }
    assert per_shard == {m["shard_id"]: m["n_docs"] for m in manifest}
    # one data file per shard (plus parquet footers/_SUCCESS at top level)
    for m in manifest:
        d = os.path.join(out, "shards", f"shard_id={m['shard_id']}")
        files = [f for f in os.listdir(d) if f.endswith(".parquet")]
        assert len(files) == 1


def test_validation(spark, docs):
    with pytest.raises(ValueError):
        contiguous_shards(docs, 0, "sz")
