"""Bucketed stage tables: exchange-free repeated joins.

The ER pipeline joins on the same key over and over — ``norm`` ties
mentions ↔ candidates ↔ me_scores ↔ embeddings across stages, runs, and
incremental updates. At 100 TB every such join is a full shuffle of
both sides unless the storage layout already clusters the key. Spark's
answer is bucketing: ``bucketBy(n, key)`` + ``saveAsTable`` records the
hash-partitioning in the catalog, and every later equi-join or groupBy
on that key reads the buckets back with NO Exchange — the shuffle is
paid once at write time and amortized over every downstream job.

This module is the thin wrapper the stage sinks use:
:meth:`plans.resume.StageStore.commit` persists the pipeline's
``mentions``/``candidates``/``me_scores``/``mm_scores`` snapshots
through :func:`write_bucketed` (keyed on the surface ``norm`` those
stages re-join on), and resumed runs read them back bucketed via the
catalog — or, in a fresh session whose in-memory catalog lost the
table, via :func:`register_bucketed` over the manifest-recorded layout.
Bucketing requires the table catalog (``saveAsTable``; a path-based
``save`` has nowhere to record the layout) — the default
in-memory/derby catalog in tests, a Hive catalog in deployment.

Sizing: the stage store buckets at the session's shuffle width,
``spark.sql.shuffle.partitions`` (read once per store), so a cluster is
sized for its stage snapshots where its shuffles are already sized:
``get_spark`` sets max(2 x cores, 8), which is 8 buckets on local[4]
and 64 on local[32]. A fixed count wider than the shuffle width only
adds tasks: every commit writes one task per bucket, and every later
scan or join of the snapshot widens to the bucket count. At 10^12 docs
raise the shuffle width until buckets land 100-500 MB each. Both sides
of a co-located join must use the SAME bucket count (or an exact
multiple, with spark.sql.bucketing.coalesceBucketsInJoin.enabled); a
snapshot keeps the count its manifest records, so a run resumed at
another width re-attaches it as written.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F


def write_bucketed(
    df: DataFrame,
    table: str,
    keys: list[str],
    n_buckets: int = 32,
    sort: bool = True,
    path: str | None = None,
) -> None:
    """Persist ``df`` hash-bucketed by ``keys`` (and per-bucket sorted
    by them when ``sort`` — sorted buckets additionally drop the Sort
    from sort-merge joins). ``path`` makes the table external: data
    lands under ``path`` (the stage store's snapshot dir) while the
    layout is recorded in the catalog — dropping the catalog entry
    keeps the files, and :func:`register_bucketed` re-attaches them."""
    # One explicit shuffle INTO the bucket layout before the write:
    # bucketBy alone splits every input task's rows across all n_buckets
    # (tasks × buckets small files — a metadata bomb at 10^12 docs);
    # repartition uses the same Murmur3 hash as the bucket spec, so each
    # task then holds exactly one bucket → one file per bucket. This is
    # the single write-time shuffle the layout's amortization argument
    # budgets for.
    w = (
        df.repartition(n_buckets, *[F.col(k) for k in keys])
        .write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, *keys)
    )
    if sort:
        w = w.sortBy(*keys)
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)


def register_bucketed(
    spark: SparkSession,
    table: str,
    path: str,
    schema_ddl: str,
    keys: list[str],
    n_buckets: int,
    sort: bool = True,
) -> DataFrame:
    """Re-attach an existing bucketed Parquet directory to the catalog
    (a fresh session's in-memory catalog has lost the ``saveAsTable``
    entry, but the files — bucket ids are encoded in their names — and
    the manifest-recorded layout survive). Returns the bucketed frame."""
    cols = ", ".join(keys)
    sorted_clause = f"SORTED BY ({cols})" if sort else ""
    spark.sql(
        f"CREATE TABLE {table} ({schema_ddl}) USING parquet "
        f"CLUSTERED BY ({cols}) {sorted_clause} INTO {n_buckets} BUCKETS "
        f"LOCATION '{path}'"
    )
    return spark.table(table)


def join_is_exchange_free(a: DataFrame, b: DataFrame, on: list[str]) -> bool:
    """True iff the equi-join of two (bucketed) frames plans with no
    shuffle on either input — the property the layout buys. Broadcast
    is disabled for the probe so the planner must choose a co-located
    sort-merge join rather than hiding the question."""
    spark = a.sparkSession
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = a.join(b, on)._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    return "Exchange" not in plan
