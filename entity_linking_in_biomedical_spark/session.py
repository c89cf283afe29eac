"""SparkSession factory with scale-oriented defaults.

Local testing runs on local[N]; the conf choices below are the ones that
matter identically on a 1000-executor cluster: AQE (runtime re-plan,
skew-join splitting, dynamic coalesce), Arrow for every pandas UDF
boundary, and a shuffle-partition count sized to the parallelism level.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

# ---- engine-wide materialization policy -----------------------------------
# Every lineage barrier in the package goes through pin(), and every
# barrier stores its blocks at barrier_level(): serialized + lz4
# (MEMORY_AND_DISK is PySpark's serialized variant; spark.rdd.compress
# below turns on lz4 for serialized blocks). Barrier blocks are written
# once and re-read by every consumer stage, so their format is pure
# memory-bandwidth load, and serialized+compressed trades
# linearly-scaling CPU for non-scaling DRAM bandwidth — the same call
# Spark SQL's own cache makes (compressed columnar batches). Measured on
# a shared 32-vCPU VM (BENCH/ab_barrier_level.json, interleaved A/B at
# 20k docs on local[32] in a bandwidth-starved window): serialized won
# all three rounds, min-of-3 6.5% on the full ER pipeline, with a 14.5x
# smaller block footprint on long-typed data.


def barrier_level() -> StorageLevel:
    """Storage level of every lineage barrier :func:`pin` places."""
    return StorageLevel.MEMORY_AND_DISK


def pin(df: DataFrame, eager: bool = False) -> DataFrame:
    """Cut ``df``'s lineage behind a local checkpoint stored at
    :func:`barrier_level`, so every consumer plans as a scan of one
    existing RDD instead of re-running ``df``'s plan.

    Lazy by default: the first downstream action materializes the
    blocks. A narrow ``df`` runs no job here; under AQE, shuffle stages
    inside ``df`` do run here, because building the barrier's RDD plans
    the final stage. ``eager=True`` also materializes the blocks now
    (one more job), for callers that must not defer the work."""
    return df.localCheckpoint(eager=eager, storageLevel=barrier_level())


def sql_conf(spark: SparkSession):
    """The session's live ``SQLConf`` (a py4j handle). Its getters
    return typed values, e.g. ``autoBroadcastJoinThreshold()`` and
    ``filesMaxPartitionBytes()`` as byte counts, where ``spark.conf.get``
    returns the raw string with a unit suffix (``"10485760b"``)."""
    return spark._jsparkSession.sessionState().conf()


# Confs the engine relies on, whatever starts the session: get_spark
# sets them, and the CLI's spark-submit path layers them on the
# submitted conf (engine_builder).
ENGINE_CONF = {
    # AQE: runtime coalesce of tiny shuffle partitions, broadcast-join
    # conversion, and automatic skew-join splitting for the pair joins.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # AQE coalescing floor kept at the 1 MB default deliberately: a
    # 64 KB floor widens the compute-heavy consumers of small
    # shuffles (the entity-keying explode coalesces to ONE task,
    # the pair-scoring Arrow stage to six), but an interleaved A/B
    # on the full ER pipeline measured the extra small tasks as a
    # net 1.4-1.6x LOSS on this memory-bandwidth-starved host
    # (OPTIMIZATION_r06.md); override per-run when profiling via
    # EL_SPARK_EXTRA_CONF.
    # Arrow on for every pandas UDF / toPandas boundary.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # lz4 for serialized storage blocks — the barrier policy above
    # stores barriers serialized, and compressed blocks halve the
    # DRAM traffic their re-reads cost (no effect on deserialized
    # storage or on shuffle, which compresses independently).
    "spark.rdd.compress": "true",
}


def engine_builder(app_name: str) -> SparkSession.Builder:
    """A session builder carrying ``ENGINE_CONF``."""
    b = SparkSession.builder.appName(app_name)
    for k, v in ENGINE_CONF.items():
        b = b.config(k, v)
    return b


def get_spark(
    app_name: str = "el-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{cpus}]"
    # parallelism implied by the master string, e.g. local[8] -> 8
    n = cpus
    if master.startswith("local["):
        inner = master[len("local[") : -1]
        n = cpus if inner == "*" else int(inner)
    shuffle_partitions = shuffle_partitions or max(2 * n, 8)

    b = (
        engine_builder(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(n))
        # Deterministic timestamps in tests / oracle comparisons.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("EL_SPARK_DRIVER_MEM", "8g"))
    )
    # extra confs from the environment (JSON) — used by the standalone-
    # cluster scaling harness to pass executor sizing + py-files
    env_conf = os.environ.get("EL_SPARK_EXTRA_CONF")
    if env_conf:
        import json

        for k, v in json.loads(env_conf).items():
            b = b.config(k, str(v))
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
