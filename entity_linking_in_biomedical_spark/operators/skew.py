"""The two skew caps every keyed self-join in the package applies: the
ER blocking channels (plans/pipeline.py, plans/incremental_er.py), the
LSH dedups (dedup.py, incremental_dedup.py) and the ANN candidate joins
(similarity.py). One hot key is O(rows^2) pairs at 100 TB, so each join
either drops it or truncates it before the pair join."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def drop_hot_keys(keyed: DataFrame, key: str, max_count: int) -> DataFrame:
    """Drop the rows of every ``key`` value shared by more than
    ``max_count`` rows of ``keyed``: a key that common (a boilerplate
    bucket, a zero vector's hash, a stop-gram) discriminates nothing.
    The count aggregate is tiny (one row per hot key) and broadcast
    into a left-anti join."""
    hot = (
        keyed.groupBy(key).agg(F.count("*").alias("_kf"))
        .filter(F.col("_kf") > max_count)
        .select(key)
    )
    return keyed.join(F.broadcast(hot), key, "left_anti")


def cap_per_key(keyed: DataFrame, key: str, member: str, cap: int) -> DataFrame:
    """Keep at most ``cap`` rows per ``key``, the first by md5 of
    ``member`` (ties to ``member``): deterministic, so the pandas and
    DuckDB twins reproduce the choice. Unlike :func:`drop_hot_keys` it
    truncates a hot key instead of dropping it, so the key still serves
    ``cap`` candidates."""
    w = Window.partitionBy(key).orderBy(
        F.md5(F.col(member).cast("string")), F.col(member)
    )
    return (
        keyed.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= cap)
        .drop("_rk")
    )
