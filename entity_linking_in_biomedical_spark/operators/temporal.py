"""Temporal joins and event-sequence operators: as-of join, range
join, gap sessionization, and conversion funnels.

Spark has no native ASOF or interval join (Flink and DuckDB do), yet a
training-data/event pipeline needs both constantly: point-in-time
feature attachment ("the most recent profile snapshot before this
interaction"), attribution ("the view that preceded this purchase"),
and session/funnel rollups over user event streams. Each operator here
is the standard *distributed* formulation — one hash shuffle on the
key, per-partition sorts, zero range explosion — not a driver loop or
a cross join:

- ``asof_join``: the union-and-carry-forward trick. Tag right rows 0
  and left rows 1, union, sort per key by (ts, tag), and carry the
  last non-null right payload forward with ``last(ignorenulls=True)``
  over an unbounded-preceding window. Every left row then holds the
  most recent right row with ``right_ts <= left_ts`` (ties match, like
  DuckDB ``ASOF JOIN ... ON l.ts >= r.ts`` and pandas ``merge_asof``).
  Cost: ONE shuffle per side on the key + one per-partition sort —
  identical shape to a sort-merge join, with no pair blow-up even when
  a key has millions of rows on both sides.
- ``range_join``: bucketed interval join. For pairs with
  ``right_ts - left_ts`` in ``[lower, upper]``, bucket both sides by
  ``width = upper - lower`` epochs; each left row lands in at most 2
  buckets (sequence-explode), so the equi-join on (key, bucket) is
  linear in the true match count plus a bounded 2x probe factor —
  never the |L|x|R| of the naive theta join Catalyst would otherwise
  plan (BroadcastNestedLoop/cartesian).
- ``sessionize``: gap-based session ids via lag + running sum of
  boundary flags. One shuffle on the user key.
- ``funnel``: earliest strictly-ordered completion of an event-step
  sequence (view -> click -> purchase). One aggregate per step, every
  join key-partitioned on the user key; step frames shrink
  monotonically so later joins are broadcast-eligible under AQE.

Reference parity: the reference pipeline is corpus-shaped and has no
temporal operators; these cover the events/stream face of SURVEY.md
§2.8 (events table) the way dedup/sampling cover the documents face.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F


_EPOCH_NTZ = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"


def epoch_micros(c: Column | str) -> Column:
    """Microseconds since the epoch, timezone-free: identical for
    TIMESTAMP and TIMESTAMP_NTZ inputs (the parquet event tables are
    NTZ) and independent of ``spark.sql.session.timeZone`` — built-in
    ``unix_micros`` rejects NTZ and a plain cast would shift by the
    session zone. Wall-clock-difference semantics throughout."""
    c = F.col(c) if isinstance(c, str) else c
    return F.timestamp_diff("MICROSECOND", F.expr(_EPOCH_NTZ), c.cast("timestamp_ntz"))


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    payload: list[str],
    tolerance_us: int | None = None,
    suffix: str = "_right",
) -> DataFrame:
    """For each left row, attach the payload of the most recent right
    row with ``right[right_ts] <= left[left_ts]`` on the same ``key``
    (backward as-of; equal timestamps match).

    ``payload``: right-side columns to carry over (each emitted as
    ``<name><suffix>``); the matched right timestamp is always emitted
    as ``<right_ts><suffix>`` (epoch-equal to the matched row, null
    when no earlier right row exists). ``tolerance_us``: when set,
    matches older than this many microseconds are nulled out (pandas
    ``merge_asof(tolerance=...)`` semantics).

    Right rows must be unique per (key, right_ts) for the match to be
    well-defined — pre-aggregate the right side if needed (same
    contract as DuckDB ASOF JOIN, which picks an arbitrary row among
    ties).

    Implementation: union-and-carry-forward (see module docstring).
    The left schema passes through untouched; nulls fill the payload
    columns of unmatched rows.
    """
    if not payload:
        raise ValueError("payload must name at least one right-side column")
    ts = "_asof_ts"
    side = "_asof_side"
    carried = list(dict.fromkeys(payload + [right_ts]))  # dedupe, keep order
    out_name = {c: f"{c}{suffix}" for c in carried}

    r = right.select(
        F.col(key),
        F.col(right_ts).cast("timestamp_ntz").alias(ts),
        F.lit(0).alias(side),
        *[F.col(c).alias(out_name[c]) for c in carried],
        *[F.lit(None).alias(f"_l_{c}") for c in left.columns],
    )
    l = left.select(
        F.col(key),
        F.col(left_ts).cast("timestamp_ntz").alias(ts),
        F.lit(1).alias(side),
        *[F.lit(None).cast(right.schema[c].dataType).alias(out_name[c]) for c in carried],
        *[F.col(c).alias(f"_l_{c}") for c in left.columns],
    )
    # Equal timestamps: right (side 0) sorts before left (side 1), so a
    # right row AT the left timestamp is visible to the carry-forward —
    # the >= semantics of DuckDB ASOF and pandas merge_asof.
    w = (
        Window.partitionBy(key)
        .orderBy(F.col(ts).asc(), F.col(side).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    u = r.unionByName(l)
    for c in carried:
        u = u.withColumn(out_name[c], F.last(out_name[c], ignorenulls=True).over(w))
    u = u.filter(F.col(side) == 1)
    if tolerance_us is not None:
        fresh = epoch_micros(F.col(ts)) - epoch_micros(
            F.col(out_name[right_ts])
        ) <= F.lit(int(tolerance_us))
        for c in carried:
            u = u.withColumn(out_name[c], F.when(fresh, F.col(out_name[c])))
    return u.select(
        *[F.col(f"_l_{c}").alias(c) for c in left.columns],
        *[F.col(out_name[c]) for c in carried],
    )


def range_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    lower_us: int,
    upper_us: int,
) -> DataFrame:
    """All (left, right) pairs on the same ``key`` whose timestamp gap
    ``right_ts - left_ts`` lies in ``[lower_us, upper_us]``
    microseconds (inclusive both ends; ``lower_us`` may be negative
    for look-behind windows).

    Output: left columns as-is + right columns suffixed ``_r`` on name
    collisions.

    Implementation: time-bucket co-partitioning. With bucket width
    ``w = upper_us - lower_us`` (+1 for the degenerate point window),
    every qualifying right bucket for a left row is one of
    ``floor((lts+lower)/w)`` or ``floor((lts+upper)/w)`` — at most 2
    buckets regardless of data — so the left side explodes <=2x and
    the join is a plain equi-join on (key, bucket) with the exact
    predicate as a post-filter. Catalyst would plan the raw inequality
    join as BroadcastNestedLoop; this form shuffles both sides once on
    a composite hash key and scales linearly with the match count.
    """
    if upper_us < lower_us:
        raise ValueError("upper_us must be >= lower_us")
    w = max(upper_us - lower_us, 1)
    lts = epoch_micros(left_ts)
    rts = epoch_micros(right_ts)

    collide = (set(left.columns) & set(right.columns)) - {key}
    rname = {c: (f"{c}_r" if c in collide else c) for c in right.columns}

    lb = left.withColumn(
        "_bucket",
        F.explode(
            F.array_distinct(
                F.array(
                    F.floor((lts + F.lit(lower_us)) / F.lit(w)),
                    F.floor((lts + F.lit(upper_us)) / F.lit(w)),
                )
            )
        ),
    )
    rb = right.withColumn("_bucket", F.floor(rts / F.lit(w))).select(
        "_bucket", *[F.col(c).alias(rname[c]) for c in right.columns]
    )
    gap = epoch_micros(rname[right_ts]) - epoch_micros(left_ts)
    return (
        lb.join(rb, [key, "_bucket"])
        .filter((gap >= F.lit(lower_us)) & (gap <= F.lit(upper_us)))
        .drop("_bucket")
    )


def sessionize(
    events: DataFrame,
    key: str,
    ts: str,
    gap_us: int,
    order_tiebreak: str | None = None,
) -> DataFrame:
    """Assign gap-based session numbers: a new session starts when the
    time since the previous event of the same ``key`` exceeds
    ``gap_us`` microseconds. Adds ``session_seq`` (1-based per key, in
    time order) and ``session_id`` (``<key>#<seq>``).

    ``order_tiebreak``: extra column for a total order when timestamps
    can collide (recommended: the event's unique id).

    One shuffle on ``key``; boundary detection is lag + a running sum
    inside the sorted partition — no self-join, no collect.
    """
    order = [F.col(ts).asc()] + ([F.col(order_tiebreak).asc()] if order_tiebreak else [])
    w = Window.partitionBy(key).orderBy(*order)
    micros = epoch_micros(ts)
    prev = F.lag(micros).over(w)
    boundary = F.when(prev.isNull() | (micros - prev > F.lit(int(gap_us))), 1).otherwise(0)
    seq = F.sum(boundary).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return events.withColumn("session_seq", seq.cast("bigint")).withColumn(
        "session_id", F.concat_ws("#", F.col(key).cast("string"), F.col("session_seq"))
    )


def funnel(
    events: DataFrame,
    key: str,
    ts: str,
    type_col: str,
    steps: list[str],
) -> DataFrame:
    """Strict-order conversion funnel: for each ``key``, step i counts
    only if some event of ``steps[i]`` happened strictly after that
    key's earliest completion of step i-1 (the classic
    min-time-chaining formulation — earliest completion, not any
    subsequence).

    Output: one row per step — ``(step_idx, step, n_keys,
    conversion)`` where ``conversion`` is n_keys / step-1's n_keys
    rounded to 6 places (1.0 for the first step).

    Each step is one filtered aggregate on ``key`` plus one
    key-partitioned join against the (monotonically shrinking)
    previous stage frame — AQE turns the later joins into broadcasts
    as the frontier shrinks below the threshold. The whole funnel is
    ONE lazy plan (the per-step scalar aggregates are unioned, so a
    single action computes every step); the final conversion ratio is
    a window over the |steps|-row result — single-partition, but over
    a frame the size of the step list, not the data.
    """
    if not steps:
        raise ValueError("steps must be non-empty")
    tsc = F.col(ts).cast("timestamp_ntz")
    stage = (
        events.filter(F.col(type_col) == steps[0])
        .groupBy(key)
        .agg(F.min(tsc).alias("_t"))
    )
    stage_counts = [
        stage.agg(
            F.lit(1).alias("step_idx"),
            F.lit(steps[0]).alias("step"),
            F.count("*").cast("bigint").alias("n_keys"),
        )
    ]
    for i, s in enumerate(steps[1:], start=2):
        stage = (
            events.filter(F.col(type_col) == s)
            .select(F.col(key), tsc.alias("_ts"))
            .join(stage, key)
            .filter(F.col("_ts") > F.col("_t"))
            .groupBy(key)
            .agg(F.min("_ts").alias("_t"))
        )
        stage_counts.append(
            stage.agg(
                F.lit(i).alias("step_idx"),
                F.lit(s).alias("step"),
                F.count("*").cast("bigint").alias("n_keys"),
            )
        )
    # one union of |steps| scalar aggregates -> a single job computes
    # the whole funnel (stage frames chain lazily inside it); the
    # conversion ratio is a window over the |steps|-row result
    out = stage_counts[0]
    for sc in stage_counts[1:]:
        out = out.unionByName(sc)
    w = Window.orderBy("step_idx")
    prev = F.lag("n_keys").over(w)
    return out.withColumn(
        "conversion",
        F.round(
            F.when(prev.isNull(), F.lit(1.0))
            .when(prev == 0, F.lit(0.0))
            .otherwise(F.col("n_keys") / prev),
            6,
        ),
    )
