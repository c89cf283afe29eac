"""Output sharding: pack the curated corpus into size-budgeted shards —
the last step of a training-data run, where the consumer is a data
loader that wants shards of roughly ``shard_size`` units (bytes /
tokens) each, deterministically reproducible across reruns.

Assignment rule, :func:`contiguous_shards` — exact size packing: docs
are laid on a deterministic global line (ordered by md5(seed:id), the
same partition-independent order the samplers use) and cut every
``shard_size`` units, so every shard's total lands in
[shard_size - max_doc, shard_size + max_doc). The required GLOBAL
prefix sum must not be a single-partition window at 100 TB — it is the
shared two-level distributed prefix sum (functions/prefix_sum.py, same
machinery as pack_sequences), with the md5 key's first two hex chars as
the 256 order-partitioning buckets; shard_id = global_cum_before div
shard_size (integer division — no float precision cliff at petabyte
prefix sums).

Deterministic by construction (hash order, integer sums), so the
DuckDB oracle replays it with a plain global window and agrees
bit-for-bit, and a rerun/retry emits identical shards.

:func:`shard_manifest` aggregates per-shard (docs, units) — the
sidecar a loader consumes; :func:`write_shards` writes one directory
per shard (parquet, partitionBy) plus the manifest as JSON.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, functions as F

from ..functions.prefix_sum import bucketed_prefix_sum

SHARD_BUCKETS_HEX = 2  # 16^2 = 256 order-partitioning buckets


def contiguous_shards(
    df: DataFrame,
    shard_size: int,
    size_col: str,
    id_col: str = "doc_id",
    seed: str = "shard",
    out_col: str = "shard_id",
) -> DataFrame:
    """Exact size-budget packing (see module docstring): appends
    ``out_col`` = global_cum_before div shard_size under the
    deterministic md5 order. Fully lazy — no driver job at call time.

    ``size_col`` must be a non-negative integral column (bytes, token
    counts); sizes are summed as longs — exact, order-free. The md5
    order key has no ties (it embeds the unique id), satisfying the
    prefix-sum helper's strict-order requirement."""
    if shard_size < 1:
        raise ValueError(f"shard_size must be >= 1, got {shard_size}")
    h = F.md5(F.concat_ws(":", F.lit(seed), F.col(id_col).cast("string")))
    sized = df.withColumn("__h", h).withColumn(
        "__b", F.substring(F.col("__h"), 1, SHARD_BUCKETS_HEX)
    )
    return (
        bucketed_prefix_sum(sized, "__b", ("__h",), size_col, "__cb")
        .withColumn(out_col, F.expr(f"__cb div {int(shard_size)}"))
        .drop("__h", "__b", "__cb")
    )


def shard_manifest(
    sharded: DataFrame, size_col: str, shard_col: str = "shard_id"
) -> DataFrame:
    """(shard_id, n_docs, units) — one map-side-partial aggregate."""
    return (
        sharded.groupBy(shard_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.col(size_col).cast("long")).alias("units"),
        )
        .orderBy(shard_col)
    )


def write_shards(
    sharded: DataFrame,
    out_dir: str,
    size_col: str,
    shard_col: str = "shard_id",
    mode: str = "error",
) -> list[dict]:
    """Write one parquet directory per shard (partitionBy, one file per
    shard via an in-partition repartition on the shard key) plus a
    ``_MANIFEST.json`` of per-shard (docs, units). Returns the manifest
    rows. The shuffle on the shard key is the writer's only exchange."""
    (
        sharded.repartition(F.col(shard_col))
        .write.mode(mode)
        .partitionBy(shard_col)
        .parquet(os.path.join(out_dir, "shards"))
    )
    manifest = [
        {"shard_id": int(r[shard_col]), "n_docs": int(r["n_docs"]), "units": int(r["units"])}
        for r in shard_manifest(sharded, size_col, shard_col).collect()
    ]
    tmp = os.path.join(out_dir, "_MANIFEST.json.tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1)
    os.replace(tmp, os.path.join(out_dir, "_MANIFEST.json"))
    return manifest
