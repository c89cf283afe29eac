"""mean_pool (A9)."""

from __future__ import annotations

from pyspark.sql import functions as F

from entity_linking_in_biomedical_spark.functions.vectors import mean_pool


def test_mean_pool(spark):
    df = spark.createDataFrame(
        [([[1.0, 2.0], [3.0, 4.0]],), ([[5.0, 5.0]],)],
        "vs array<array<double>>",
    )
    got = [r[0] for r in df.select(mean_pool("vs")).collect()]
    assert got[0] == [2.0, 3.0]
    assert got[1] == [5.0, 5.0]


def test_mean_pool_groupwise(spark):
    """A9 in context: per-label mean embedding over the driver table."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(100)
    pooled = (
        emb.groupBy("label")
        .agg(F.collect_list("embedding").alias("vs"))
        .select("label", mean_pool(F.col("vs").cast("array<array<double>>")).alias("centroid"))
    )
    rows = pooled.collect()
    assert rows and all(len(r["centroid"]) == 64 for r in rows)

