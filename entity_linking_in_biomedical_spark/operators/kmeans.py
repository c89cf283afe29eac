"""Fully distributed Lloyd k-means over an embedding column — the
corpus-level counterpart of similarity.fit_ivf_centroids (which trains
a coarse quantizer on a bounded driver-side SAMPLE, FAISS-style). Here
every E-step and M-step runs over ALL rows as DataFrame ops: the
topic-bucketing / domain-discovery clustering a curation pipeline runs
when the cluster structure itself is the product, not just an index.

Scale shape (the 100 TB story):

- E-step is a pure codegen'd column expression: the k centroids ride
  in the plan as literals (k * dim doubles), each distance is one
  in-order zip_with/aggregate fold, argmin is array_min over
  (score, cluster) structs. No join, no UDF, no shuffle. Plan size
  bounds k at a few hundred; for quantizer-scale k use
  similarity.ivf_assign_udf instead.
- M-step is ONE aggregate with map-side partial combine: dim decimal
  sums + a count per cluster, k*(dim+1) values per partition, then a
  k-row collect (the same O(1)-row driver digest as clustering.py's CC
  convergence check). ``iters`` rounds = ``iters`` scans — MLlib's own
  KMeans does exactly this per iteration.
- Determinism / oracle story: init is the first k vectors in id order
  (TakeOrderedAndProject), distances are the IEEE-identical left-fold
  both engines share (the ANN oracles already rely on
  list_dot_product == functions.vectors.dot_product bit-for-bit),
  per-element M-step contributions are rounded to 9 decimals and
  summed as decimal(38,9) (exact, order-free), and centroid updates
  are HALF_UP-rounded — so cluster assignments are partition-invariant
  and a DuckDB twin unrolling the same iterations reproduces them
  exactly. Ties in the argmin break to the lowest cluster id.
- Empty clusters keep their previous centroid (documented, replayed by
  the oracle's coalesce).

The fixed iteration count (no movement-threshold stop) keeps the job
count and the oracle replay corpus-independent, like classifier.lr_fit.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

from ..functions.vectors import _dbl
from .classifier import _round9
from ..session import pin


def _self_dot(cent: list[float]) -> float:
    """Left-fold sum of squares — the same in-order IEEE accumulation
    as list_dot_product / dot_product, NOT numpy pairwise summation."""
    s = 0.0
    for a in cent:
        s += a * a
    return s


def _sql_dbl(x: float, what: str) -> str:
    """Shortest round-trip SQL double literal: repr() emits the minimal
    decimal that parses back to the identical IEEE-754 double. NaN and
    inf have no literal form (repr gives ``nanD``/``infD``, which the
    SQL parser rejects), so they raise, naming ``what`` they were."""
    x = float(x)
    if not math.isfinite(x):
        raise ValueError(f"kmeans {what} is {x!r}; centroids must be finite")
    return f"{x!r}D"


def _assign_sql(vcol: str, centroids: list[list[float]]) -> str:
    """argmin_c ||x - c||^2 over an array<double> column named ``vcol``,
    as ONE SQL expression string. x.x is constant per row, so the score
    is c.c - 2 x.c; ties break to the lowest cluster id via
    lexicographic struct ordering. Same operator tree as the previous
    Column-builder form (zip_with product, left-fold aggregate from
    0.0D) — built as text because the per-Column py4j construction cost
    about 30 ms per call, ~0.7 s of pure driver time per E-step at
    k=8/dim=64, every iteration."""
    parts = []
    for c, cent in enumerate(centroids):
        arr = ",".join(
            _sql_dbl(a, f"centroid {c} component {i}") for i, a in enumerate(cent)
        )
        dot = (
            f"aggregate(zip_with({vcol}, array({arr}), (x, y) -> x * y), "
            f"0.0D, (acc, x) -> acc + x)"
        )
        cc = _sql_dbl(_self_dot(cent), f"centroid {c} squared norm")
        parts.append(f"named_struct('s', {cc} - 2.0D * {dot}, 'c', {c})")
    return f"array_min(array({','.join(parts)})).c"


def kmeans_fit(
    df: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """``iters`` full Lloyd rounds (assign + centroid update) from
    first-k-by-id init; returns the fitted centroids — a k×dim python
    list, the durable model artifact (json-serializable; ride it into
    :func:`kmeans_score` as plan literals)."""
    if k < 1 or iters < 1:
        raise ValueError(f"k and iters must be >= 1, got k={k} iters={iters}")
    base = pin(df.select(F.col(id_col), _dbl(vec_col).alias("__v")))
    init_rows = base.orderBy(id_col).limit(k).collect()
    centroids = [[float(x) for x in r["__v"]] for r in init_rows]
    if not centroids:
        raise ValueError("cannot cluster an empty frame")
    dim = len(centroids[0])

    for _ in range(iters):
        assigned = base.withColumn("__c", F.expr(_assign_sql("__v", centroids)))
        # M-step as posexplode + ONE (cluster, position) aggregate
        # instead of `dim` separate sum expressions: the wide form's
        # plan (dim round/element_at/cast/sum trees) cost more to
        # analyze + compile per iteration than the whole job's data
        # pass at any k*dim; this shape is also the DuckDB twin's.
        # Decimal sums are exact and order-free, so the per-(c, pos)
        # totals — and every downstream centroid — are bit-identical
        # to the wide form. Still one map-side-partial aggregate of
        # k*dim groups per round.
        rows = (
            assigned.select("__c", F.posexplode("__v").alias("__p", "__x"))
            .groupBy("__c", "__p")
            .agg(
                F.count(F.lit(1)).alias("__n"),
                F.sum(F.round("__x", 9).cast("decimal(38,9)")).alias("__s"),
            )
            .collect()
        )
        sums: dict[int, list] = {}
        ns: dict[int, float] = {}
        for r in rows:
            sums.setdefault(r["__c"], [None] * dim)[r["__p"]] = r["__s"]
            ns[r["__c"]] = float(r["__n"])
        for c, s in sums.items():
            # clusters absent from `sums` are empty and keep their
            # previous centroid
            centroids[c] = [_round9(float(x) / ns[c]) for x in s]
    return centroids


def kmeans_score(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    out_col: str = "cluster",
) -> DataFrame:
    """Append the nearest-centroid id — a pure row-local projection
    with the model as plan literals (no join/UDF/state), so it composes
    directly onto streaming frames the way lr_score does. The doubles
    view of the vector is staged under a scratch column so the E-step
    parses as one SQL expression (see _assign_sql)."""
    return (
        df.withColumn("__kmv", _dbl(vec_col))
        .withColumn(out_col, F.expr(_assign_sql("__kmv", centroids)))
        .drop("__kmv")
    )


def kmeans_assign(
    df: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "cluster",
) -> DataFrame:
    """(id, cluster) for every row: :func:`kmeans_fit` then one final
    assignment with the fitted centroids."""
    centroids = kmeans_fit(df, k=k, iters=iters, id_col=id_col, vec_col=vec_col)
    return kmeans_score(
        df.select(id_col, vec_col), centroids, vec_col=vec_col, out_col=out_col
    ).select(id_col, out_col)
