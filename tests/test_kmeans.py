"""Distributed Lloyd k-means (operators/kmeans.py): deterministic
first-k init, decimal-quantized M-step — assignments partition-
invariant and matching a pure-python replay."""

from __future__ import annotations

import pytest

from entity_linking_in_biomedical_spark.operators.classifier import _round9
from entity_linking_in_biomedical_spark.operators.kmeans import (
    _self_dot,
    kmeans_assign,
)


def _py_kmeans(rows, k, iters):
    """rows = [(id, vec)] sorted any order; replay of kmeans_assign."""
    by_id = sorted(rows)
    cents = [[float(x) for x in v] for _, v in by_id[:k]]
    dim = len(cents[0])

    def assign(v):
        best = None
        for c, cent in enumerate(cents):
            d = 0.0
            for a, b in zip(v, cent):
                d += a * b
            score = _self_dot(cent) - 2.0 * d
            if best is None or score < best[0]:
                best = (score, c)
        return best[1]

    from decimal import Decimal

    for _ in range(iters):
        sums = [[Decimal(0)] * dim for _ in range(k)]
        ns = [0] * k
        # decimal-exact sums of 9-decimal contributions, mirroring the
        # engine's round(x, 9)::decimal(38,9) aggregation
        for _, v in rows:
            c = assign(v)
            ns[c] += 1
            for i, x in enumerate(v):
                sums[c][i] += Decimal(repr(_round9(float(x))))
        for c in range(k):
            if ns[c]:
                cents[c] = [
                    _round9(float(sums[c][i]) / ns[c]) for i in range(dim)
                ]
    return {i: assign(v) for i, v in rows}


_ROWS = [
    # two tight blobs in 3d + one outlier that must follow blob 2
    (1, [0.0, 0.1, 0.0]),
    (2, [5.0, 5.1, 5.0]),
    (3, [0.1, 0.0, 0.05]),
    (4, [0.05, 0.12, 0.01]),
    (5, [5.1, 5.0, 4.9]),
    (6, [4.9, 5.05, 5.1]),
    (7, [4.0, 4.5, 4.2]),
]


def test_kmeans_matches_python_replay_and_separates_blobs(spark):
    df = spark.createDataFrame(
        _ROWS, "vec_id int, embedding array<float>"
    )
    got = {
        r["vec_id"]: r["cluster"]
        for r in kmeans_assign(df, k=2, iters=2).collect()
    }
    # float32 round-trip: replay from the float32-exact values
    f32 = {r["vec_id"]: [float(x) for x in r["embedding"]] for r in df.collect()}
    want = _py_kmeans([(i, f32[i]) for i, _ in _ROWS], k=2, iters=2)
    assert got == want
    blob1 = {got[1], got[3], got[4]}
    blob2 = {got[2], got[5], got[6], got[7]}
    assert len(blob1) == 1 and len(blob2) == 1 and blob1 != blob2

    with pytest.raises(ValueError):
        kmeans_assign(df, k=0)


def test_kmeans_partition_invariant(spark):
    rows = [
        (i, [float((i * 7 + j * 3) % 11) / 11.0 for j in range(8)])
        for i in range(150)
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    a = sorted(map(tuple, kmeans_assign(df, k=4, iters=2).collect()))
    b = sorted(
        map(tuple, kmeans_assign(df.repartition(7), k=4, iters=2).collect())
    )
    assert a == b


def test_kmeans_rejects_empty_frame(spark):
    df = spark.createDataFrame([], "vec_id int, embedding array<float>")
    with pytest.raises(ValueError, match="empty"):
        kmeans_assign(df, k=2)


@pytest.mark.parametrize("bad", [float("nan"), float("inf")])
def test_kmeans_score_rejects_non_finite_centroid(spark, bad):
    """A NaN/inf centroid component fails up front with a message that
    names it, not later as a SQL parse error on a ``nanD`` literal."""
    from entity_linking_in_biomedical_spark.operators.kmeans import kmeans_score

    df = spark.createDataFrame(_ROWS, "vec_id int, embedding array<float>")
    with pytest.raises(ValueError, match="centroid 1 component 2 is (nan|inf)"):
        kmeans_score(df, [[0.0, 0.0, 0.0], [1.0, 1.0, bad]])


def test_kmeans_score_is_streaming_native(spark, tmp_path):
    """The fitted E-step is a pure plan-literal projection, so it
    composes directly onto streaming frames (like lr_score)."""
    from entity_linking_in_biomedical_spark.operators.kmeans import (
        kmeans_fit,
        kmeans_score,
    )

    df = spark.createDataFrame(_ROWS, "vec_id int, embedding array<float>")
    cents = kmeans_fit(df, k=2, iters=2)
    want = {
        r["vec_id"]: r["cluster"] for r in kmeans_score(df, cents).collect()
    }
    src = str(tmp_path / "km_src")
    df.write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    q = (
        kmeans_score(stream, cents)
        .writeStream.format("memory")
        .queryName("km_stream")
        .option("checkpointLocation", str(tmp_path / "km_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["vec_id"]: r["cluster"]
        for r in spark.sql("select vec_id, cluster from km_stream").collect()
    }
    assert got == want
