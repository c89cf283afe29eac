"""Bucketed stage tables: the write-once-shuffle, join-forever-free
layout (sources/bucketed.py)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from entity_linking_in_biomedical_spark.sources.bucketed import (
    join_is_exchange_free,
    write_bucketed,
)


@pytest.fixture()
def bucketed_pair(spark, request):
    # managed tables in the session's default warehouse; drop (below)
    # deletes the files, so the fixture leaves nothing behind. Table
    # names carry a per-test hash so parallel runs against a shared
    # warehouse/metastore never collide.
    import hashlib

    tag = hashlib.md5(request.node.nodeid.encode()).hexdigest()[:10]
    ta, tb = f"bt_a_{tag}", f"bt_b_{tag}"
    a = spark.range(0, 500).select(
        F.concat(F.lit("s"), F.col("id")).alias("norm"),
        (F.col("id") * 2).alias("payload_a"),
    )
    b = spark.range(0, 500).select(
        F.concat(F.lit("s"), F.col("id")).alias("norm"),
        (F.col("id") * 3).alias("payload_b"),
    )
    write_bucketed(a, ta, ["norm"], n_buckets=8)
    write_bucketed(b, tb, ["norm"], n_buckets=8)
    yield spark.table(ta), spark.table(tb)
    spark.sql(f"drop table if exists {ta}")
    spark.sql(f"drop table if exists {tb}")


def test_bucketed_join_plans_without_exchange(spark, bucketed_pair):
    ra, rb = bucketed_pair
    # the layout property itself: equi-join on the bucket key shuffles
    # NEITHER side (the one-time write shuffle is amortized over every
    # downstream join at 100 TB)
    assert join_is_exchange_free(ra, rb, ["norm"])
    # and a non-bucketed copy of the same data does NOT get this
    plain = ra.select(F.col("norm"), F.col("payload_a")).localCheckpoint()
    assert not join_is_exchange_free(plain, rb, ["norm"])


def test_bucketed_join_values_match_plain_join(spark, bucketed_pair):
    ra, rb = bucketed_pair
    got = {
        (r["norm"], r["payload_a"], r["payload_b"])
        for r in ra.join(rb, "norm").collect()
    }
    assert len(got) == 500
    assert ("s7", 14, 21) in got


def test_bucketed_groupby_is_exchange_free(spark, bucketed_pair):
    ra, _ = bucketed_pair
    plan = (
        ra.groupBy("norm")
        .agg(F.sum("payload_a").alias("s"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
