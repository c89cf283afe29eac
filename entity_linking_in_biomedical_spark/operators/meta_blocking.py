"""Meta-blocking: turn a redundant block collection into a pruned
candidate-pair graph (Papadakis et al. 2014, "Meta-Blocking: Taking
Entity Resolution to the Next Level", TKDE).

Schema-agnostic blocking (token/shingle keys over interleaved text)
is deliberately redundant — the same pair co-occurs in many blocks.
Meta-blocking exploits that redundancy as SIGNAL: the number of
blocks two items share (CBS, common-blocks scheme) is an evidence
weight, and pruning low-weight edges removes the superfluous
comparisons that dominate a naive blocking join's cost. This is the
standard scale move between "generate blocks" and "score pairs" in a
10^12-doc ER run, complementing this repo's per-channel blocking
(operators/blocking.py) which caps buckets but does not aggregate
evidence ACROSS keys.

Stages (each one shuffle, no uncapped explosion):
  1. block purging: drop keys whose block exceeds ``max_block``
     (classic BLAST/block-purging; also what keeps stage 2 bounded);
  2. edge generation: within-block self-join (a < b), bounded by
     max_block^2 per key;
  3. CBS aggregation: ONE map-side-partial groupBy on (a, b) counting
     shared blocks;
  4. weight pruning: keep edges with >= ``min_common`` shared blocks
     (weight-edge pruning, WEP) and optionally each node's ``top_k``
     heaviest edges (cardinality-node pruning, CNP) via one window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F
from ..session import pin


def meta_block_prune(
    blocks: DataFrame,
    id_col: str = "doc_id",
    key_col: str = "bk",
    max_block: int = 50,
    min_common: int = 2,
    top_k: int | None = None,
) -> DataFrame:
    """``blocks``: long frame (item id, blocking key), one row per
    membership (duplicates ignored). -> (a_id, b_id, common_blocks)
    with a_id < b_id, weighted by the CBS count and pruned; CNP's top-k
    ranks by it."""
    # Lazy checkpoints make single evaluation structural (the surf_keys
    # discipline): without them the self-join's two sides each re-run
    # the caller's (often expensive) key derivation — e.g. a shingle
    # explode — and CNP's union re-runs the whole edge aggregation.
    b = pin(
        blocks.select(
            F.col(id_col).cast("string").alias("id"), F.col(key_col).alias("bk")
        )
        .dropDuplicates(["id", "bk"])
    )
    sizes = b.groupBy("bk").agg(F.count("*").alias("n"))
    kept = pin(b.join(
        sizes.filter((F.col("n") >= 2) & (F.col("n") <= max_block)).select("bk"),
        "bk",
    ))
    edges = (
        kept.alias("x")
        .join(kept.alias("y"), "bk")
        .filter(F.col("x.id") < F.col("y.id"))
        .select(F.col("x.id").alias("a_id"), F.col("y.id").alias("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.count("*").cast("bigint").alias("common_blocks"))
        .filter(F.col("common_blocks") >= min_common)
    )
    cols = ["a_id", "b_id", "common_blocks"]
    if top_k is not None:
        edges = pin(edges)
        # CNP: keep each node's top_k heaviest edges (an edge survives
        # if EITHER endpoint retains it — the standard redefined-CNP).
        per = edges.select(F.col("a_id").alias("node"), *cols).unionByName(
            edges.select(F.col("b_id").alias("node"), *cols)
        )
        w = Window.partitionBy("node").orderBy(
            F.desc("common_blocks"), F.asc("a_id"), F.asc("b_id")
        )
        edges = (
            per.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= top_k)
            .select(*cols)
            .dropDuplicates(["a_id", "b_id"])
        )
    return edges
