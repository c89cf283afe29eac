"""Driver contract for the spark-graft builder (PySpark target).

queries() exposes every SQL-expressible operator from SURVEY.md §2 over
the driver's parquet tables; oracle_sql() gives the DuckDB twin. The
md5-based MinHash/LSH machinery is hash-identical between Spark and
DuckDB, so even the LSH dedup and connected-components entries are
value-checked, not just row-counted.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from entity_linking_in_biomedical_spark.functions.normalize import NORM_KEY_SQL
from entity_linking_in_biomedical_spark.functions.text_metrics import (
    PII_PATTERNS,
    TOKENS_SQL,
    dup_2gram_ratio,
    dup_token_ratio,
    fingerprint,
    lang_id,
    pii_count,
    pii_redact,
    quality_score,
    token_count,
    top_token_ratio,
)
from entity_linking_in_biomedical_spark.operators.clustering import connected_components
from entity_linking_in_biomedical_spark.operators.dedup import (
    MINHASH_DEDUP_BANDS,
    MINHASH_DEDUP_MAX_BUCKET,
    MINHASH_DEDUP_NUM_HASHES,
    SIMHASH_BLOCK_BITS,
    SIMHASH_MAX_BUCKET,
    SIMHASH_MAX_HAMMING,
    SIMHASH_N_BLOCKS,
    embedding_near_duplicates,
    exact_duplicates,
    fingerprint_duplicates,
    minhash_near_duplicates,
    ngram_jaccard_pairs,
    simhash_near_duplicates,
)
from entity_linking_in_biomedical_spark.operators.incremental_dedup import (
    build_dedup_index,
    flag_against_index,
)
from entity_linking_in_biomedical_spark.operators.sharding import contiguous_shards
from entity_linking_in_biomedical_spark.operators.similarity import (
    brute_force_topk,
    ivf_recall_at_k,
    lsh_recall_at_k,
)
from entity_linking_in_biomedical_spark.session import pin, sql_conf


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _ts(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan with input-skew spread (optimization guide §2.5 "one huge
    unsplittable file"): the driver tables are single-row-group parquet
    files, so a query's scan stage runs as ONE task regardless of
    cluster size. For queries whose scan feeds heavy per-row compute
    (regex/md5/shingle kernels, pandas-UDF scoring, per-pair windows),
    an input smaller than one scan split (the session's
    ``spark.sql.files.maxPartitionBytes``) is spread round-robin across
    the cluster behind a lazy barrier (so branching consumers share one
    materialization); inputs big enough to split naturally — any
    real-scale table — pass through untouched, keeping the 100 TB plan
    identical with pruning/pushdown intact.

    Deliberately OPT-IN per query: an interleaved A/B over the whole
    suite (BENCH/ab_spread_sweep_r6.json, 3 reps per mode in one
    session) showed the spread wins 2-4x exactly where per-row work
    dominates and costs ~0.5-2 s where it doesn't (light multi-join
    queries lose their size-statistics-driven broadcasts behind the
    barrier), so only the measured winners read through this variant.
    Row placement cannot change results: every operator is
    partition-invariant (total-ordered windows, order-free combiners).
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.parquet(path)
    try:
        size = (
            sum(e.stat().st_size for e in os.scandir(path) if e.is_file())
            if os.path.isdir(path)
            else os.path.getsize(path)
        )
    except OSError:
        return df
    if size < sql_conf(spark).filesMaxPartitionBytes():
        df = pin(df.repartition(spark.sparkContext.defaultParallelism))
    return df


# ---------------------------------------------------------------------------
# shared SQL fragments (DuckDB twins of the Spark column helpers)
# ---------------------------------------------------------------------------

_TOKS = TOKENS_SQL.format(col="text")

# 3-word shingles over tokens, order-preserving distinct (DuckDB
# list_distinct does not preserve order, but every consumer below is
# order-insensitive: min-hash, set sizes)
_SHINGLES = (
    f"(with toks as (select {_TOKS} t) "
    f"select case when len(t) >= 3 then "
    f"[array_to_string(list_slice(t, i, i+2), ' ') for i in range(1, len(t)-1)] "
    f"else [array_to_string(t, ' ')] end from toks)"
)


def _duck_shingles(text_expr: str) -> str:
    toks = TOKENS_SQL.format(col=text_expr)
    return (
        f"(case when len({toks}) >= 3 then "
        f"list_distinct([array_to_string(list_slice({toks}, i, i+2), ' ') "
        f"for i in range(1, len({toks})-1)]) "
        f"else [array_to_string({toks}, ' ')] end)"
    )


def _duck_minhash_bands(shingles_expr: str, num_hashes: int, bands: int) -> str:
    """DuckDB twin of minhash_signature + lsh_band_keys over an
    arbitrary gram/shingle list expression."""
    from entity_linking_in_biomedical_spark.functions.ngrams import duckdb_band_keys_sql

    return duckdb_band_keys_sql(shingles_expr, num_hashes, bands)


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship on sf0.001: the engine's blocking->verify->transitive-
    clustering shape over the driver documents table — MinHash/LSH
    near-dup candidate pairs, exact-Jaccard verify, large-star/small-star
    connected components, cluster ids joined back to every doc."""
    sf = "/root/testdata/sf0.001"
    docs = _t(spark, sf, "documents")
    pairs = minhash_near_duplicates(docs, jaccard_threshold=0.5)
    edges = pairs.select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
    nodes = docs.select(F.col("doc_id").cast("string").alias("node"))
    assign, _ = connected_components(edges, nodes=nodes)
    return (
        assign.groupBy("cluster_id")
        .agg(F.count("*").cast("bigint").alias("cluster_size"))
        .orderBy(F.desc("cluster_size"), F.asc("cluster_id"))
    )


# ---- relational operators over the TPC-H-ish tables ----------------------


def q_pricing_summary(spark, sf_dir):
    """A-family aggregates (TPC-H Q1 shape): decimal sums for exact
    cross-engine equality."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2002-09-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(F.col("l_quantity").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("sum_base_price"),
            F.round(
                F.sum(
                    (
                        F.col("l_extendedprice").cast("decimal(18,2)")
                        * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)"))
                    ).cast("decimal(28,6)")
                ),
                2,
            )
            .cast("double")
            .alias("sum_disc_price"),
            F.count("*").cast("bigint").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


ORACLE_PRICING = """
select l_returnflag, l_linestatus,
  cast(round(sum(cast(l_quantity as decimal(18,2))), 2) as double) as sum_qty,
  cast(round(sum(cast(l_extendedprice as decimal(18,2))), 2) as double) as sum_base_price,
  cast(round(sum(cast(cast(l_extendedprice as decimal(18,2)) *
        (cast(1 as decimal(18,2)) - cast(l_discount as decimal(18,2))) as decimal(28,6))), 2) as double) as sum_disc_price,
  cast(count(*) as bigint) as count_order
from lineitem
where l_shipdate <= timestamp '2002-09-01'
group by l_returnflag, l_linestatus
order by l_returnflag, l_linestatus
"""


def q_semi_join_split(spark, sf_dir):
    """P1: semi-join — orders of BUILDING-segment customers (the
    reference's PMID split-list filter, medmention_preprocess.py:34-35)."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    return (
        orders.join(cust.select(F.col("c_custkey").alias("o_custkey")), "o_custkey", "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").cast("bigint").alias("n_orders"))
        .orderBy("o_orderpriority")
    )


ORACLE_SEMI = """
select o_orderpriority, cast(count(*) as bigint) as n_orders
from orders
where o_custkey in (select c_custkey from customer where c_mktsegment = 'BUILDING')
group by o_orderpriority order by o_orderpriority
"""


def q_anti_join(spark, sf_dir):
    """P7: anti-join — customers with no orders (gold-exclusion shape,
    dataset.py:102). Every customer in the generated tables has orders,
    so order-less customers are PLANTED in-query (mirror of the low
    custkeys with negated ids — o_custkey is always positive) to keep
    the oracle's hash check non-vacuous at any sf."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    planted = cust.filter(F.col("c_custkey") <= 5).select(
        (-F.col("c_custkey")).alias("c_custkey"), "c_nationkey"
    )
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.unionByName(planted)
        .join(
            orders.select(F.col("o_custkey").alias("c_custkey")), "c_custkey", "left_anti"
        )
        .groupBy("c_nationkey")
        .agg(F.count("*").cast("bigint").alias("n_custs"))
        .orderBy("c_nationkey")
    )


ORACLE_ANTI = """
with cust as (
  select c_custkey, c_nationkey from customer
  union all
  select -c_custkey, c_nationkey from customer where c_custkey <= 5
)
select c_nationkey, cast(count(*) as bigint) as n_custs
from cust where c_custkey not in (select o_custkey from orders)
group by c_nationkey order by c_nationkey
"""


def q_collect_set(spark, sf_dir):
    """A1: group-by + collect_set (UMLS synonym grouping,
    src/utils.py:14-23) — emitted as a sorted joined string so the value
    hash is representation-independent."""
    cust = _t(spark, sf_dir, "customer")
    return (
        cust.groupBy("c_nationkey")
        .agg(
            F.concat_ws(",", F.array_sort(F.collect_set("c_mktsegment"))).alias("segments"),
            F.count_distinct("c_mktsegment").cast("bigint").alias("n_segments"),
        )
        .orderBy("c_nationkey")
    )


ORACLE_COLLECT_SET = """
select c_nationkey,
  array_to_string(list_sort(list_distinct(list(c_mktsegment))), ',') as segments,
  cast(count(distinct c_mktsegment) as bigint) as n_segments
from customer group by c_nationkey order by c_nationkey
"""


def q_groupby_last(spark, sf_dir):
    """A2: deterministic last-write-wins per key (MRSTY semtype,
    src/utils.py:35-38 — modeled as max)."""
    sup = _t(spark, sf_dir, "supplier")
    return (
        sup.groupBy("s_nationkey")
        .agg(F.max("s_name").alias("last_name"), F.count("*").cast("bigint").alias("n"))
        .orderBy("s_nationkey")
    )


ORACLE_GROUPBY_LAST = """
select s_nationkey, max(s_name) as last_name, cast(count(*) as bigint) as n
from supplier group by s_nationkey order by s_nationkey
"""


def q_topk_per_group(spark, sf_dir):
    """W1: per-group top-k via row_number (the blocking top-128,
    candidate_generator.py:107-109)."""
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 200)
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            "o_custkey",
            "o_orderkey",
            F.round(F.col("o_totalprice").cast("decimal(18,2)"), 2).cast("double").alias("price"),
            F.col("rk").cast("int").alias("rk"),
        )
        .orderBy("o_custkey", "rk")
    )


ORACLE_TOPK = """
select o_custkey, o_orderkey,
       cast(round(cast(o_totalprice as decimal(18,2)), 2) as double) as price,
       cast(rk as int) as rk
from (
  select *, row_number() over (partition by o_custkey order by o_totalprice desc, o_orderkey asc) as rk
  from orders where o_custkey < 200
) where rk <= 3 order by o_custkey, rk
"""


def q_self_join_pairs(spark, sf_dir):
    """J6: within-group ordered pairs (same-doc mention pairs,
    dataset.py:245-250) — suppliers paired within a nation."""
    sup = _t(spark, sf_dir, "supplier")
    a, b = sup.alias("a"), sup.alias("b")
    return (
        a.join(b, (F.col("a.s_nationkey") == F.col("b.s_nationkey")) & (F.col("a.s_suppkey") < F.col("b.s_suppkey")))
        .groupBy(F.col("a.s_nationkey").alias("s_nationkey"))
        .agg(F.count("*").cast("bigint").alias("n_pairs"))
        .orderBy("s_nationkey")
    )


ORACLE_SELF_JOIN = """
select a.s_nationkey as s_nationkey, cast(count(*) as bigint) as n_pairs
from supplier a join supplier b
  on a.s_nationkey = b.s_nationkey and a.s_suppkey < b.s_suppkey
group by a.s_nationkey order by s_nationkey
"""


def q_union_dedup(spark, sf_dir):
    """A6/set-ops: union of two name channels + dedup (char+word
    candidate union, candidate_generator.py:111,124)."""
    cust = _t(spark, sf_dir, "customer").select(F.col("c_name").alias("name"))
    sup = _t(spark, sf_dir, "supplier").select(F.col("s_name").alias("name"))
    return (
        cust.unionByName(sup)
        .dropDuplicates(["name"])
        .select(F.substring("name", 1, 9).alias("prefix"))
        .groupBy("prefix")
        .agg(F.count("*").cast("bigint").alias("n"))
        .orderBy("prefix")
    )


ORACLE_UNION_DEDUP = """
select substr(name, 1, 9) as prefix, cast(count(*) as bigint) as n
from (select distinct name from (
  select c_name as name from customer union all select s_name as name from supplier))
group by prefix order by prefix
"""


def q_levenshtein(spark, sf_dir):
    """Scalar Levenshtein (scoring feature) over part-name pairs within
    a brand (bounded self-join)."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_partkey") < 300)
    a, b = part.alias("a"), part.alias("b")
    return (
        a.join(b, (F.col("a.p_brand") == F.col("b.p_brand")) & (F.col("a.p_partkey") < F.col("b.p_partkey")))
        .select(
            F.col("a.p_partkey").alias("a_key"),
            F.col("b.p_partkey").alias("b_key"),
            F.levenshtein(F.col("a.p_name"), F.col("b.p_name")).cast("int").alias("lev"),
        )
        .orderBy("a_key", "b_key")
    )


ORACLE_LEV = """
select a.p_partkey as a_key, b.p_partkey as b_key,
       cast(levenshtein(a.p_name, b.p_name) as int) as lev
from part a join part b on a.p_brand = b.p_brand and a.p_partkey < b.p_partkey
where a.p_partkey < 300 and b.p_partkey < 300
order by a_key, b_key
"""


def q_revenue_3way(spark, sf_dir):
    """Catalyst join-reordering showcase: customer ⋈ orders ⋈ lineitem,
    revenue per market segment (decimal-exact)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    rev = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)"))
    ).cast("decimal(28,6)")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            F.round(F.sum(rev), 2).cast("double").alias("revenue"),
            F.count("*").cast("bigint").alias("n_items"),
        )
        .orderBy("c_mktsegment")
    )


ORACLE_REVENUE_3WAY = """
select c_mktsegment,
  cast(round(sum(cast(cast(l_extendedprice as decimal(18,2)) *
      (cast(1 as decimal(18,2)) - cast(l_discount as decimal(18,2))) as decimal(28,6))), 2) as double) as revenue,
  cast(count(*) as bigint) as n_items
from lineitem join orders on l_orderkey = o_orderkey
              join customer on o_custkey = c_custkey
group by c_mktsegment order by c_mktsegment
"""


def q_events_hourly(spark, sf_dir):
    """Event-time tumbling-window rollup over the events table (the
    batch twin of the streaming path): hourly counts + decimal sums per
    event type."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
        )
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("sum_value"),
        )
        .orderBy("hour", "event_type")
    )


ORACLE_EVENTS_HOURLY = """
select strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') as hour, event_type,
       cast(count(*) as bigint) as n,
       cast(round(sum(cast(value as decimal(18,2))), 2) as double) as sum_value
from events group by 1, 2 order by hour, event_type
"""


_ASOF_TOL_US = 7_200_000_000  # 2h attribution window


def q_asof_attribution(spark, sf_dir):
    """Point-in-time attribution via the distributed as-of join
    (operators/temporal.py): each purchase event picks up the most
    recent prior view's value for the same user, nulled past a 2h
    tolerance (pandas merge_asof / DuckDB ASOF semantics — the oracle
    IS DuckDB's native ASOF JOIN, an independent implementation).
    Unmatched rows carry -1 sentinels so the value hash exercises the
    miss path too. One shuffle per side on user_id; no pair blow-up."""
    from entity_linking_in_biomedical_spark.operators.temporal import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("view_value"))
    )
    out = asof_join(
        purchases, views, "user_id", "ts", "ts", ["view_value"], tolerance_us=_ASOF_TOL_US
    )
    from entity_linking_in_biomedical_spark.operators.temporal import epoch_micros

    return out.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        epoch_micros("ts").alias("purchase_us"),
        F.coalesce(epoch_micros("ts_right"), F.lit(-1))
        .cast("bigint")
        .alias("view_us"),
        F.coalesce(F.round("view_value_right", 2), F.lit(-1.0))
        .cast("double")
        .alias("view_value"),
    ).orderBy("purchase_id")


ORACLE_ASOF_ATTRIBUTION = f"""
with p as (select event_id, user_id, ts from events where event_type = 'purchase'),
     v as (select user_id, ts, max(value) as view_value
           from events where event_type = 'view' group by 1, 2),
     a as (select p.event_id, p.user_id, p.ts as pts, v.ts as vts, v.view_value
           from p asof left join v on p.user_id = v.user_id and p.ts >= v.ts)
select event_id as purchase_id, user_id,
       epoch_us(pts) as purchase_us,
       cast(coalesce(case when epoch_us(pts) - epoch_us(vts) <= {_ASOF_TOL_US}
                          then epoch_us(vts) end, -1) as bigint) as view_us,
       cast(coalesce(case when epoch_us(pts) - epoch_us(vts) <= {_ASOF_TOL_US}
                          then round(view_value, 2) end, -1.0) as double) as view_value
from a order by purchase_id
"""


_SESSION_GAP_US = 1_800_000_000  # 30 min


def q_sessionize(spark, sf_dir):
    """Gap-based sessionization (operators/temporal.py): 30-minute
    inactivity splits a user's event stream into sessions; output is
    the per-session rollup. The oracle replays the lag+running-sum
    boundary rule as DuckDB window SQL."""
    from entity_linking_in_biomedical_spark.operators.temporal import (
        epoch_micros,
        sessionize,
    )

    ev = _t(spark, sf_dir, "events")
    s = sessionize(ev, "user_id", "ts", _SESSION_GAP_US, order_tiebreak="event_id")
    return (
        s.groupBy("user_id", "session_seq")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.min(epoch_micros("ts")).alias("start_us"),
            F.max(epoch_micros("ts")).alias("end_us"),
        )
        .orderBy("user_id", "session_seq")
    )


ORACLE_SESSIONIZE = f"""
with o as (
  select user_id, event_id, epoch_us(ts) as us,
         case when lag(epoch_us(ts)) over w is null
                or epoch_us(ts) - lag(epoch_us(ts)) over w > {_SESSION_GAP_US}
              then 1 else 0 end as b
  from events
  window w as (partition by user_id order by ts, event_id)
), s as (
  select user_id, us,
         sum(b) over (partition by user_id order by us, event_id
                      rows unbounded preceding) as session_seq
  from o
)
select user_id, cast(session_seq as bigint) as session_seq,
       cast(count(*) as bigint) as n_events,
       min(us) as start_us, max(us) as end_us
from s group by 1, 2 order by user_id, session_seq
"""


_RANGE_LO_US, _RANGE_HI_US = 1, 3_600_000_000  # purchase strictly after, within 1h


def q_range_join_pairs(spark, sf_dir):
    """Bucketed interval join (operators/temporal.py): click->purchase
    pairs for the same user where the purchase lands within (0s, 1h]
    of the click. The oracle is the naive inequality join; the Spark
    plan is the 2-bucket equi-join form (no BroadcastNestedLoop) —
    test_temporal.py asserts the plan shape."""
    from entity_linking_in_biomedical_spark.operators.temporal import (
        epoch_micros,
        range_join,
    )

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("pts")
    )
    out = range_join(clicks, purchases, "user_id", "ts", "pts", _RANGE_LO_US, _RANGE_HI_US)
    return out.select(
        "user_id",
        "click_id",
        "purchase_id",
        (epoch_micros("pts") - epoch_micros("ts")).alias("gap_us"),
    ).orderBy("click_id", "purchase_id")


ORACLE_RANGE_JOIN = f"""
with c as (select user_id, event_id as click_id, ts from events where event_type = 'click'),
     p as (select user_id, event_id as purchase_id, ts from events where event_type = 'purchase')
select c.user_id, c.click_id, p.purchase_id,
       epoch_us(p.ts) - epoch_us(c.ts) as gap_us
from c join p on c.user_id = p.user_id
 and epoch_us(p.ts) - epoch_us(c.ts) between {_RANGE_LO_US} and {_RANGE_HI_US}
order by click_id, purchase_id
"""


_FUNNEL_STEPS = ["signup", "view", "click", "purchase"]


def q_event_funnel(spark, sf_dir):
    """Strict-order conversion funnel (operators/temporal.py) over the
    events table: signup -> view -> click -> purchase, earliest-
    completion chaining. One lazy plan; per-step counts + step-over-
    step conversion."""
    from entity_linking_in_biomedical_spark.operators.temporal import funnel

    ev = _t(spark, sf_dir, "events")
    return funnel(ev, "user_id", "ts", "event_type", _FUNNEL_STEPS).orderBy("step_idx")


ORACLE_EVENT_FUNNEL = """
with s1 as (select user_id, min(ts) as t from events where event_type = 'signup' group by 1),
     s2 as (select e.user_id, min(e.ts) as t from events e join s1 using (user_id)
            where e.event_type = 'view' and e.ts > s1.t group by 1),
     s3 as (select e.user_id, min(e.ts) as t from events e join s2 using (user_id)
            where e.event_type = 'click' and e.ts > s2.t group by 1),
     s4 as (select e.user_id, min(e.ts) as t from events e join s3 using (user_id)
            where e.event_type = 'purchase' and e.ts > s3.t group by 1),
     c as (select 1 as step_idx, 'signup' as step, (select count(*) from s1) as n
           union all select 2, 'view', (select count(*) from s2)
           union all select 3, 'click', (select count(*) from s3)
           union all select 4, 'purchase', (select count(*) from s4))
select cast(step_idx as int) as step_idx, step, cast(n as bigint) as n_keys,
       cast(round(case when lag(n) over (order by step_idx) is null then 1.0
                       when lag(n) over (order by step_idx) = 0 then 0.0
                       else cast(n as double) / lag(n) over (order by step_idx) end,
                  6) as double) as conversion
from c order by step_idx
"""


def q_norm_key(spark, sf_dir):
    """P6: the blocking normalizer as a column function."""
    from entity_linking_in_biomedical_spark.functions.normalize import norm_key

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", norm_key(F.substring("text", 1, 40)).alias("norm")
    ).orderBy("doc_id")


ORACLE_NORM_KEY = f"""
select doc_id, {NORM_KEY_SQL.format(col="substr(text, 1, 40)")} as norm
from documents order by doc_id
"""


def q_cap_deterministic(spark, sf_dir):
    """W5: deterministic pseudo-random cap per group via md5 ordering
    (the reference's random 50-positive cap, dataset.py:238-241, made
    reproducible)."""
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    w = Window.partitionBy("o_custkey").orderBy(F.md5(F.col("o_orderkey").cast("string")))
    return (
        orders.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 2)
        .select("o_custkey", "o_orderkey")
        .orderBy("o_custkey", "o_orderkey")
    )


ORACLE_CAP = """
select o_custkey, o_orderkey from (
  select o_custkey, o_orderkey,
         row_number() over (partition by o_custkey order by md5(cast(o_orderkey as varchar))) as rk
  from orders where o_custkey < 100
) where rk <= 2 order by o_custkey, o_orderkey
"""


# ---- dedup / text analytics over documents --------------------------------


def q_exact_dedup(spark, sf_dir):
    """Exact content-hash dedup. The generated documents are all
    distinct, so byte-identical copies are PLANTED in-query (every 7th
    doc re-emitted under doc_id+1000000) — without them the hash check
    passes vacuously on an empty result."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    return exact_duplicates(docs.unionByName(planted)).select(
        "text_hash",
        F.col("dup_count").cast("bigint").alias("dup_count"),
        F.concat_ws(",", "doc_ids").alias("doc_ids"),
    ).orderBy("text_hash")


ORACLE_EXACT_DEDUP = """
with d as (
  select doc_id, text from documents
  union all
  select doc_id + 1000000, text from documents where doc_id % 7 = 0
)
select md5(text) as text_hash, cast(count(*) as bigint) as dup_count,
       array_to_string(list_sort(list(cast(doc_id as varchar))), ',') as doc_ids
from d group by md5(text) having count(*) > 1 order by text_hash
"""


def q_fingerprint_dedup(spark, sf_dir):
    return fingerprint_duplicates(_t(spark, sf_dir, "documents")).select(
        "fp",
        F.col("dup_count").cast("bigint").alias("dup_count"),
        F.concat_ws(",", "doc_ids").alias("doc_ids"),
    ).orderBy("fp")


ORACLE_FP_DEDUP = f"""
select md5(array_to_string(list_sort(list_distinct({_TOKS})), ' ')) as fp,
       cast(count(*) as bigint) as dup_count,
       array_to_string(list_sort(list(cast(doc_id as varchar))), ',') as doc_ids
from documents group by 1 having count(*) > 1 order by fp
"""


def q_minhash_dedup(spark, sf_dir):
    return minhash_near_duplicates(
        _t(spark, sf_dir, "documents"), jaccard_threshold=0.5
    ).select("a_id", "b_id", F.round("jaccard", 6).alias("jaccard")).orderBy("a_id", "b_id")


def _oracle_minhash_dedup(
    num_hashes=MINHASH_DEDUP_NUM_HASHES,
    bands=MINHASH_DEDUP_BANDS,
    max_bucket=MINHASH_DEDUP_MAX_BUCKET,
    thr=0.5,
) -> str:
    # bands MUST equal the implementation's banding (one shared constant)
    # or the oracle verifies a different LSH candidate set that only
    # coincidentally matches on far-above-threshold duplicates.
    sh = _duck_shingles("text")
    bands_expr = _duck_minhash_bands("shingles", num_hashes, bands)
    return f"""
with sh as (
  select cast(doc_id as varchar) as doc_id, {sh} as shingles from documents
),
banded as (
  select doc_id, shingles, unnest({bands_expr}) as bk from sh
),
ok as (
  select bk from banded group by bk having count(*) <= {max_bucket}
),
pairs as (
  select distinct x.doc_id as a_id, y.doc_id as b_id, x.shingles as a_sh, y.shingles as b_sh
  from (select banded.* from banded join ok using (bk)) x
  join (select banded.* from banded join ok using (bk)) y using (bk)
  where x.doc_id < y.doc_id
)
select a_id, b_id,
  round(cast(len(list_filter(a_sh, g -> list_contains(b_sh, g))) as double) /
        greatest(len(a_sh) + len(b_sh) - len(list_filter(a_sh, g -> list_contains(b_sh, g))), 1), 6) as jaccard
from pairs
where cast(len(list_filter(a_sh, g -> list_contains(b_sh, g))) as double) /
      greatest(len(a_sh) + len(b_sh) - len(list_filter(a_sh, g -> list_contains(b_sh, g))), 1) >= {thr}
order by a_id, b_id
"""


def q_shard_plan(spark, sf_dir):
    """Contiguous output sharding (operators/sharding.py): docs on the
    deterministic md5 line, cut every 50k chars; the distributed
    two-level prefix sum must agree with the oracle's single global
    window cumsum — the strongest possible check of the bucket-offset
    arithmetic."""
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.length("text").cast("long").alias("sz"),
    )
    return (
        contiguous_shards(docs, 50_000, "sz")
        .select("doc_id", "sz", "shard_id")
        .orderBy("doc_id")
    )


ORACLE_SHARD_PLAN = """
with d as (
  select cast(doc_id as varchar) as doc_id,
         cast(length(text) as bigint) as sz,
         md5('shard:' || cast(doc_id as varchar)) as h
  from documents
),
c as (
  select doc_id, sz,
         coalesce(sum(sz) over (
           order by h, doc_id
           rows between unbounded preceding and 1 preceding), 0) as cb
  from d
)
select doc_id, sz, cast(cb // 50000 as bigint) as shard_id from c order by doc_id
"""


def q_incremental_dedup(spark, sf_dir):
    """Incremental dedup (new snapshot vs persisted corpus index,
    operators/incremental_dedup.py): even-id docs form the INDEX,
    odd-id docs the arriving batch, with planted exact copies
    (id%10==0 re-emitted as id+1000000) and planted near copies
    (id%14==0, one appended tail phrase, as id+2000000) so both flag
    kinds are exercised non-vacuously. Scores are signature-estimated
    Jaccard — md5-minhash machinery the DuckDB twin replays exactly."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    idx_docs = docs.filter(F.col("doc_id") % 2 == 0)
    batch = (
        docs.filter(F.col("doc_id") % 2 == 1)
        .unionByName(
            docs.filter(F.col("doc_id") % 10 == 0).select(
                (F.col("doc_id") + 1000000).alias("doc_id"), "text"
            )
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 14 == 0).select(
                (F.col("doc_id") + 2000000).alias("doc_id"),
                F.concat(
                    F.col("text"), F.lit(" incremental near duplicate tail")
                ).alias("text"),
            )
        )
    )
    index = build_dedup_index(idx_docs)
    return flag_against_index(
        batch, index, est_jaccard_threshold=0.5
    ).orderBy("doc_id")


def _oracle_incremental_dedup(
    num_hashes=MINHASH_DEDUP_NUM_HASHES,
    bands=MINHASH_DEDUP_BANDS,
    max_bucket=MINHASH_DEDUP_MAX_BUCKET,
    thr=0.5,
) -> str:
    from entity_linking_in_biomedical_spark.functions.ngrams import (
        duckdb_minhash_sql,
    )

    sig = duckdb_minhash_sql(_duck_shingles("text"), num_hashes)
    rows = num_hashes // bands
    # band keys derived from the STORED signature column (rows>1 path of
    # lsh_band_keys): md5('b{j}:' || sig[2j+1] || '|' || sig[2j+2])
    band_parts = []
    for j in range(bands):
        elems = " || '|' || ".join(
            f"cast(sig[{j * rows + r + 1}] as varchar)" for r in range(rows)
        )
        band_parts.append(f"md5('b{j}:' || {elems})")
    bands_expr = "[" + ", ".join(band_parts) + "]"
    agree = (
        f"len([i for i in range(1, {num_hashes + 1}) "
        f"if b_sig[i] = i_sig[i]])"
    )
    return f"""
with idx as (
  select cast(doc_id as varchar) as doc_id, text from documents where doc_id % 2 = 0
),
batch as (
  select cast(doc_id as varchar) as doc_id, text from documents where doc_id % 2 = 1
  union all
  select cast(doc_id + 1000000 as varchar), text from documents where doc_id % 10 = 0
  union all
  select cast(doc_id + 2000000 as varchar), text || ' incremental near duplicate tail'
  from documents where doc_id % 14 = 0
),
isig as (select doc_id, md5(text) as text_hash, {sig} as sig from idx),
bsig as (select doc_id, md5(text) as text_hash, {sig} as sig from batch),
exact as (
  select b.doc_id, min(i.doc_id) as dup_of, 'exact' as kind, cast(1.0 as double) as score
  from bsig b join isig i using (text_hash)
  where b.doc_id <> i.doc_id
  group by b.doc_id
),
ibands as (select doc_id, sig, unnest({bands_expr}) as bk from isig),
ok as (select bk from ibands group by bk having count(*) <= {max_bucket}),
bbands as (select doc_id, sig, unnest({bands_expr}) as bk from bsig),
cand as (
  select distinct b.doc_id, i.doc_id as i_id, b.sig as b_sig, i.sig as i_sig
  from bbands b
  join (select ibands.* from ibands join ok using (bk)) i using (bk)
  where b.doc_id <> i.doc_id
),
scored as (
  select doc_id, i_id, round(cast({agree} as double) / {num_hashes}, 6) as score
  from cand
),
ranked as (
  select doc_id, i_id, score,
         row_number() over (partition by doc_id order by score desc, i_id) as rn
  from scored where score >= {thr}
)
select doc_id, dup_of, kind, score from exact
union all
select doc_id, i_id as dup_of, 'near' as kind, score
from ranked
where rn = 1 and doc_id not in (select doc_id from exact)
order by doc_id
"""


def q_ngram_jaccard(spark, sf_dir):
    return ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), jaccard_threshold=0.5
    ).select("a_id", "b_id", F.round("jaccard", 6).alias("jaccard")).orderBy("a_id", "b_id")


def _oracle_ngram_jaccard(thr=0.5, src="documents") -> str:
    """Twin is the PLAIN exact semantics (any-shared-gram candidates +
    exact verify) — deliberately NOT a transcription of the operator's
    prefix filter, so the oracle is a true differential check: a prefix
    bound bug that loses pairs shows up as a hash mismatch. ``src`` is
    the doc source expression (a table name or a parenthesized
    subquery with doc_id/text columns) so planting queries can reuse
    the twin."""
    sh = _duck_shingles("text")
    return f"""
with sh as (
  select cast(doc_id as varchar) as doc_id, {sh} as shingles from {src} as _src
),
inv as (select doc_id, unnest(shingles) as g from sh),
cand as (
  select distinct x.doc_id as a_id, y.doc_id as b_id
  from inv x join inv y using (g) where x.doc_id < y.doc_id
),
pairs as (
  select a_id, b_id, a.shingles as a_sh, b.shingles as b_sh
  from cand join sh a on a.doc_id = cand.a_id join sh b on b.doc_id = cand.b_id
)
select a_id, b_id,
  round(cast(len(list_filter(a_sh, g -> list_contains(b_sh, g))) as double) /
        greatest(len(a_sh) + len(b_sh) - len(list_filter(a_sh, g -> list_contains(b_sh, g))), 1), 6) as jaccard
from pairs
where cast(len(list_filter(a_sh, g -> list_contains(b_sh, g))) as double) /
      greatest(len(a_sh) + len(b_sh) - len(list_filter(a_sh, g -> list_contains(b_sh, g))), 1) >= {thr}
order by a_id, b_id
"""


def q_doc_clusters_cc(spark, sf_dir):
    """Transitive clustering (§2.10): connected components over the
    exact-jaccard near-dup graph. Oracle: recursive-CTE min-label
    propagation in DuckDB."""
    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, jaccard_threshold=0.5)
    edges = pairs.select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
    nodes = docs.select(F.col("doc_id").cast("string").alias("node"))
    assign, _ = connected_components(edges, nodes=nodes)
    return (
        assign.groupBy("cluster_id")
        .agg(
            F.count("*").cast("bigint").alias("cluster_size"),
            F.concat_ws(",", F.sort_array(F.collect_list("node"))).alias("members"),
        )
        .filter(F.col("cluster_size") > 1)
        .orderBy("cluster_id")
    )


def _oracle_doc_clusters(thr=0.5) -> str:
    inner = _oracle_ngram_jaccard(thr)
    return f"""
with recursive pairs as ({inner}),
und as (
  select a_id as a, b_id as b from pairs
  union all select b_id as a, a_id as b from pairs
),
cc(n, m) as (
  select a, a from und
  union
  select und.b, cc.m from cc join und on und.a = cc.n where cc.m < und.b
),
lbl as (select n, min(m) as cluster_id from cc group by n)
select cluster_id, cast(count(*) as bigint) as cluster_size,
       array_to_string(list_sort(list(n)), ',') as members
from lbl group by cluster_id having count(*) > 1 order by cluster_id
"""


def q_cluster_sizes(spark, sf_dir):
    """Cluster-size histogram (operators/clustering.
    cluster_size_histogram) over the same near-dup CC assignment as
    `doc_clusters_cc`, singletons included (the per-snapshot shape
    report that catches runaway mega-clusters). Oracle: the recursive-
    CTE CC + a size histogram, singleton count derived as
    |documents| - |paired nodes|."""
    from entity_linking_in_biomedical_spark.operators.clustering import (
        cluster_size_histogram,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, jaccard_threshold=0.5)
    edges = pairs.select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
    nodes = docs.select(F.col("doc_id").cast("string").alias("node"))
    assign, _ = connected_components(edges, nodes=nodes)
    return cluster_size_histogram(assign).orderBy("cluster_size")


def _oracle_cluster_sizes(thr=0.5) -> str:
    inner = _oracle_ngram_jaccard(thr)
    return f"""
with recursive pairs as ({inner}),
und as (
  select a_id as a, b_id as b from pairs
  union all select b_id as a, a_id as b from pairs
),
cc(n, m) as (
  select a, a from und
  union
  select und.b, cc.m from cc join und on und.a = cc.n where cc.m < und.b
),
lbl as (select n, min(m) as cluster_id from cc group by n),
sizes as (select cluster_id, count(*) as sz from lbl group by 1),
hist as (
  select sz, count(*) as n from sizes group by 1
  union all
  select 1, (select count(*) from documents) - (select count(*) from lbl)
)
select cast(sz as bigint) as cluster_size, cast(sum(n) as bigint) as n_clusters
from hist group by sz having sum(n) > 0 order by cluster_size
"""


_SENS_THRESHOLDS = [0.3, 0.5, 0.7]


def q_closure_sensitivity(spark, sf_dir):
    """Threshold-sensitivity report for the transitive closure
    (operators/clustering.closure_sensitivity): per candidate match
    threshold — edge/node/cluster counts + max cluster size of the
    closure at that threshold, the table that locates the mega-cluster
    cliff before a threshold is fixed. ONE full CC (strictest
    threshold) + contracted-graph folds of each lower score band via
    merge_into_clusters; the oracle replays each threshold naively
    with an independent recursive-CTE CC, so agreement also re-proves
    the incremental fold == full-recluster equivalence on real data.
    Scores are rounded to 6dp on BOTH engines before banding so the
    float boundary behavior is identical."""
    from entity_linking_in_biomedical_spark.operators.clustering import (
        closure_sensitivity,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, jaccard_threshold=min(_SENS_THRESHOLDS))
    scored = pairs.select(
        F.col("a_id").alias("src"),
        F.col("b_id").alias("dst"),
        F.round("jaccard", 6).alias("score"),
    )
    rows = closure_sensitivity(scored, _SENS_THRESHOLDS)
    return spark.createDataFrame(
        rows,
        "threshold double, n_edges bigint, n_nodes bigint, "
        "n_clusters bigint, max_cluster_size bigint",
    ).orderBy(F.desc("threshold"))


def _oracle_closure_sensitivity() -> str:
    inner = _oracle_ngram_jaccard(min(_SENS_THRESHOLDS))
    parts = []
    for i, t in enumerate(sorted(_SENS_THRESHOLDS, reverse=True)):
        parts.append(
            f"""
e{i} as (select a_id as a, b_id as b from pairs where jaccard >= {t}),
u{i} as (select a, b from e{i} union all select b as a, a as b from e{i}),
cc{i}(n, m) as (
  select a, a from u{i}
  union
  select u{i}.b, cc{i}.m from cc{i} join u{i} on u{i}.a = cc{i}.n where cc{i}.m < u{i}.b
),
l{i} as (select n, min(m) as c from cc{i} group by n),
s{i} as (
  select cast({t} as double) as threshold,
         cast((select count(*) from e{i}) as bigint) as n_edges,
         cast(coalesce(sum(cnt), 0) as bigint) as n_nodes,
         cast(count(*) as bigint) as n_clusters,
         cast(coalesce(max(cnt), 0) as bigint) as max_cluster_size
  from (select c, count(*) as cnt from l{i} group by c)
)"""
        )
    selects = " union all ".join(
        f"select * from s{i}" for i in range(len(_SENS_THRESHOLDS))
    )
    return (
        f"with recursive pairs as ({inner}),"
        + ",".join(parts)
        + f" {selects} order by threshold desc"
    )


_MATCH_QA_PLANT = [
    ("zzz_tri1", "zztr1 zztr2 zztr3 zztr4 zztr5"),
    ("zzz_tri2", "zztr1 zztr2 zztr3 zztr4 zztr5 zztr6"),
    ("zzz_tri3", "zztr1 zztr2 zztr3 zztr4 zztr5 zztr7"),
    ("zzz_cha1", "zzch1 zzch2 zzch3 zzch4 zzch5 zzch6"),
    ("zzz_cha2", "zzch2 zzch3 zzch4 zzch5 zzch6 zzch7"),
    ("zzz_cha3", "zzch3 zzch4 zzch5 zzch6 zzch7 zzch8"),
]


def q_match_graph_qa(spark, sf_dir):
    """Label-free transitive-closure audit (operators/clustering.
    match_graph_diagnostics over edge_triangle_support): per-cluster
    node/edge/triangle/bridge counts + density for the exact-jaccard
    near-dup match graph — the shape report that flags chain merges
    (clusters held together by uncorroborated bridge edges) before a
    closure is accepted. The generated corpus yields mostly size-2
    clusters with no triangles, so both phenomena are PLANTED
    in-query: a mutually-similar trio (1 triangle, 0 bridges) and an
    A~B~C chain with jaccard(A,C) < threshold (0 triangles, 2 bridge
    edges). Planted tokens are unique, so neither structure can pair
    with real docs. Oracle: naive id-ordered triangle join + the
    recursive-CTE CC twin."""
    from entity_linking_in_biomedical_spark.operators.clustering import (
        match_graph_diagnostics,
    )

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    planted = spark.createDataFrame(_MATCH_QA_PLANT, "doc_id string, text string")
    pairs = ngram_jaccard_pairs(docs.unionByName(planted), jaccard_threshold=0.5)
    edges = pairs.select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
    assign, _ = connected_components(edges)
    return match_graph_diagnostics(edges, assign).orderBy("cluster_id")


def _oracle_match_graph_qa(thr=0.5) -> str:
    plant_rows = ", ".join(f"('{i}', '{t}')" for i, t in _MATCH_QA_PLANT)
    src = f"""(
  select cast(doc_id as varchar) as doc_id, text from documents
  union all
  select * from (values {plant_rows}) v(doc_id, text)
)"""
    inner = _oracle_ngram_jaccard(thr, src=src)
    return f"""
with recursive pairs as ({inner}),
e as (select a_id as a, b_id as b from pairs),
tri as (
  select e1.a as x, e1.b as y, e2.b as z
  from e e1
  join e e2 on e2.a = e1.a and e2.b > e1.b
  join e e3 on e3.a = e1.b and e3.b = e2.b
),
te as (
  select x as a, y as b from tri
  union all select x as a, z as b from tri
  union all select y as a, z as b from tri
),
supp as (select a, b, count(*) as s from te group by a, b),
es as (
  select e.a, e.b, coalesce(supp.s, 0) as s
  from e left join supp on supp.a = e.a and supp.b = e.b
),
und as (select a, b from e union all select b as a, a as b from e),
cc(n, m) as (
  select a, a from und
  union
  select und.b, cc.m from cc join und on und.a = cc.n where cc.m < und.b
),
lbl as (select n, min(m) as cluster_id from cc group by n),
agg as (
  select lbl.cluster_id,
         cast(count(*) as bigint) as n_edges,
         cast(sum(s) / 3 as bigint) as n_triangles,
         cast(sum(case when s = 0 then 1 else 0 end) as bigint) as n_bridge_edges
  from es join lbl on lbl.n = es.a
  group by 1
),
sizes as (select cluster_id, cast(count(*) as bigint) as n_nodes from lbl group by 1)
select agg.cluster_id, sizes.n_nodes, agg.n_edges, agg.n_triangles,
       agg.n_bridge_edges,
       round(2.0 * agg.n_edges / (sizes.n_nodes * (sizes.n_nodes - 1)), 6) as density
from agg join sizes using (cluster_id)
order by cluster_id
"""


def q_repair_clusters(spark, sf_dir):
    """Bridge-edge cluster repair (operators/matching.
    repair_bridged_clusters): the transform behind the match_graph_qa
    audit — sever every match edge that is both uncorroborated
    (triangle support 0) and weak (score < 0.95), then re-close, so
    chain merges split while triangles and near-certain pairs (exact
    dups at jaccard ~1.0) survive. Same planted corpus as
    match_graph_qa: the low-jaccard A~B~C chain must shatter into
    singletons, the trio must stay one cluster. Oracle: naive triangle
    join + keep-rule replay + recursive-CTE CC seeded with ALL edge
    endpoints (dropped-edge nodes persist as singletons)."""
    from entity_linking_in_biomedical_spark.operators.matching import (
        repair_bridged_clusters,
    )

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    planted = spark.createDataFrame(_MATCH_QA_PLANT, "doc_id string, text string")
    pairs = ngram_jaccard_pairs(docs.unionByName(planted), jaccard_threshold=0.5)
    edges = pairs.select(
        F.col("a_id").alias("src"),
        F.col("b_id").alias("dst"),
        F.round("jaccard", 6).alias("score"),
    )
    assign, _ = repair_bridged_clusters(edges, min_bridge_score=0.95)
    return assign.orderBy("node")


def _oracle_repair_clusters(thr=0.5, bridge=0.95) -> str:
    plant_rows = ", ".join(f"('{i}', '{t}')" for i, t in _MATCH_QA_PLANT)
    src = f"""(
  select cast(doc_id as varchar) as doc_id, text from documents
  union all
  select * from (values {plant_rows}) v(doc_id, text)
)"""
    inner = _oracle_ngram_jaccard(thr, src=src)
    return f"""
with recursive pairs as ({inner}),
e as (
  select least(a_id, b_id) as a, greatest(a_id, b_id) as b,
         max(jaccard) as score
  from pairs where a_id <> b_id group by 1, 2
),
eb as (select a, b from e),
tri as (
  select e1.a as x, e1.b as y, e2.b as z
  from eb e1 join eb e2 on e2.a = e1.a and e2.b > e1.b
  join eb e3 on e3.a = e1.b and e3.b = e2.b
),
te as (
  select x as a, y as b from tri
  union all select x as a, z as b from tri
  union all select y as a, z as b from tri
),
supp as (select a, b, count(*) as s from te group by a, b),
kept as (
  select e.a, e.b from e
  left join supp on supp.a = e.a and supp.b = e.b
  where coalesce(supp.s, 0) >= 1 or e.score >= {bridge}
),
und as (select a, b from kept union all select b as a, a as b from kept),
nodes as (select a as n from e union select b as n from e),
cc(n, m) as (
  select n, n from nodes
  union
  select und.b, cc.m from cc join und on und.a = cc.n where cc.m < und.b
)
select n as node, min(m) as cluster_id from cc group by n order by node
"""


def q_one_to_one(spark, sf_dir):
    """Unique-mapping 1:1 assignment (operators/matching.
    one_to_one_match): the exclusivity constraint production linkage
    applies when matching a feed to a master table — the reference's
    per-mention argmax (dataset.py:335-388) permits many-to-one
    collisions; this enforces each-side-at-most-once via iterated
    locally-dominant (mutual-best) rounds, which under the total
    (score desc, partner id) order equals sequential greedy matching.
    Pairs: customer x supplier within a nation block, score =
    -levenshtein(lower names) (integer-exact cross-engine). Oracle:
    the same 6 mutual-best rounds unrolled as window-function CTEs."""
    from entity_linking_in_biomedical_spark.operators.matching import (
        one_to_one_match,
    )

    cust = _ts(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("string").alias("left_id"),
        F.lower(F.col("c_name")).alias("lname"),
        F.col("c_nationkey").alias("nk"),
    )
    supp = _ts(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").cast("string").alias("right_id"),
        F.lower(F.col("s_name")).alias("rname"),
        F.col("s_nationkey").alias("nk"),
    )
    pairs = cust.join(supp, "nk").select(
        "left_id",
        "right_id",
        (-F.levenshtein("lname", "rname")).cast("double").alias("score"),
    )
    m, _ = one_to_one_match(pairs, max_rounds=6)
    return m.orderBy("left_id")


def _mutual_best_ctes(rounds: int) -> tuple[list[str], str]:
    """CTE chain m1/r1..m{rounds}/r{rounds} unrolling the iterated
    locally-dominant (mutual-best) matching loop of
    operators/matching.one_to_one_match over a seed CTE named
    r0(l, r, score). Returns (ctes, union_sql) where union_sql selects
    (l, r, score, rnd) over every matched round — shared by the
    one_to_one and stable_ids oracles."""
    ctes: list[str] = []
    sel: list[str] = []
    for i in range(1, rounds + 1):
        ctes.append(
            f"""m{i} as (
  select l, r, score from (
    select l, r, score,
           row_number() over (partition by l order by score desc, r) as rl,
           row_number() over (partition by r order by score desc, l) as rr
    from r{i - 1}
  ) where rl = 1 and rr = 1
)"""
        )
        ctes.append(
            f"""r{i} as (
  select * from r{i - 1}
  where l not in (select l from m{i}) and r not in (select r from m{i})
)"""
        )
        sel.append(f"select l, r, score, cast({i} as integer) as rnd from m{i}")
    return ctes, " union all ".join(sel)


def _oracle_one_to_one(rounds=6) -> str:
    ctes = [
        """p0 as (
  select cast(c.c_custkey as varchar) as l, cast(s.s_suppkey as varchar) as r,
         -cast(levenshtein(lower(c.c_name), lower(s.s_name)) as double) as score
  from customer c join supplier s on c.c_nationkey = s.s_nationkey
)""",
        "r0 as (select l, r, max(score) as score from p0 group by l, r)",
    ]
    mctes, body = _mutual_best_ctes(rounds)
    ctes += mctes
    return (
        "with "
        + ",\n".join(ctes)
        + f"""
select l as left_id, r as right_id, score, rnd as "round"
from ({body}) order by left_id
"""
    )


def q_blocking_stats(spark, sf_dir):
    """Blocking-channel skew/pair-mass profile (operators/profiling.
    blocking_key_stats): the pre-flight numbers that predict a
    blocking join's shuffle cost — bucket count, max bucket,
    candidate-pair mass, skew ratio — for three channels over the
    documents table (exact norm key, 8-char norm prefix, sorted-token
    fingerprint). One map-side-partial groupBy + scalar aggregate per
    channel."""
    from entity_linking_in_biomedical_spark.functions.normalize import norm_key
    from entity_linking_in_biomedical_spark.operators.profiling import (
        blocking_key_stats,
    )

    from entity_linking_in_biomedical_spark.functions.phonetic import soundex

    docs = _t(spark, sf_dir, "documents")
    norm = norm_key(F.substring("text", 1, 40))
    first_tok = F.split(norm, " ")[0]
    out = (
        blocking_key_stats(docs, norm, "norm40")
        .unionByName(blocking_key_stats(docs, F.substring(norm, 1, 8), "prefix8"))
        .unionByName(blocking_key_stats(docs, fingerprint("text"), "fingerprint"))
        .unionByName(blocking_key_stats(docs, soundex(first_tok), "phonetic"))
    )
    return out.orderBy("channel")


_NORM40_SQL = NORM_KEY_SQL.format(col="substr(text, 1, 40)")


def _oracle_blocking_stats() -> str:
    from entity_linking_in_biomedical_spark.functions.phonetic import soundex_sql

    fp_sql = "md5(array_to_string(list_sort(list_distinct({toks})), ' '))".format(
        toks=_TOKS
    )
    chans = [
        ("fingerprint", fp_sql),
        ("norm40", _NORM40_SQL),
        ("prefix8", f"substr({_NORM40_SQL}, 1, 8)"),
        ("phonetic", soundex_sql(f"string_split({_NORM40_SQL}, ' ')[1]")),
    ]
    parts = []
    for name, expr in chans:
        parts.append(
            f"""
select '{name}' as channel,
       cast(count(*) as bigint) as n_keys,
       cast(sum(n) as bigint) as n_items,
       cast(max(n) as bigint) as max_bucket,
       cast(sum(n * (n - 1)) / 2 as bigint) as candidate_pairs,
       round(max(n) * count(*) / sum(n), 6) as skew
from (select {expr} as bk, count(*) as n from documents group by 1)
"""
        )
    return " union all ".join(parts) + " order by channel"


def q_snb_blocking(spark, sf_dir):
    """Multi-pass sorted-neighborhood blocking (operators/snb.py,
    Hernández-Stolfo): rank all docs by a normalized 40-char prefix
    key (pass 1) and by its reversal (pass 2), pair everything within
    a window of 4 ranks, canonicalize, and record which passes found
    each pair. The Spark side ranks with the distributed two-level
    prefix sum over a sampled range exchange; the oracle replays the
    NAIVE textbook form (one global row_number) — agreement proves
    the distributed rank is exactly the global sort rank."""
    from entity_linking_in_biomedical_spark.functions.normalize import norm_key
    from entity_linking_in_biomedical_spark.operators.snb import (
        multipass_sorted_neighborhood,
    )

    docs = _t(spark, sf_dir, "documents")
    key = norm_key(F.substring("text", 1, 40))
    out = multipass_sorted_neighborhood(
        docs,
        "doc_id",
        {"prefix": key, "reversed": F.reverse(key)},
        window=4,
    )
    return out.select(
        F.col("id_a").cast("bigint").alias("id_a"),
        F.col("id_b").cast("bigint").alias("id_b"),
        "passes",
    ).orderBy("id_a", "id_b")


ORACLE_SNB_BLOCKING = f"""
with k1 as (
  select doc_id as id, {_NORM40_SQL} as k from documents
  where {_NORM40_SQL} is not null and {_NORM40_SQL} <> ''
),
fwd as (select id, k, row_number() over (order by k, id) - 1 as rnk from k1),
rev as (select id, row_number() over (order by reverse(k), id) - 1 as rnk from k1),
p as (
  select a.id as ia, b.id as ib, 'prefix' as pass
  from fwd a join fwd b on b.rnk - a.rnk between 1 and 3
  union all
  select a.id, b.id, 'reversed'
  from rev a join rev b on b.rnk - a.rnk between 1 and 3
)
select cast(least(ia, ib) as bigint) as id_a,
       cast(greatest(ia, ib) as bigint) as id_b,
       string_agg(distinct pass, ',' order by pass) as passes
from p group by 1, 2 order by 1, 2
"""


def q_snapshot_diff(spark, sf_dir):
    """Snapshot diff (operators/diffing.diff_snapshots): added /
    removed / changed ids between the documents table and a second
    snapshot PLANTED in-query (every 13th doc dropped, every 10th
    survivor's text revised, every 17th re-added under a shifted id) —
    the change-feed derivation for sources without an Iceberg
    changelog. Full-outer join on the id carrying only md5
    fingerprints; unchanged rows drop out."""
    from entity_linking_in_biomedical_spark.operators.diffing import diff_snapshots

    docs = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    old = docs.select("doc_id", "text")
    kept = docs.filter(i % 13 != 0).select(
        "doc_id",
        F.when(i % 10 == 0, F.concat(F.col("text"), F.lit(" [rev2]")))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    added = docs.filter(i % 17 == 0).select(
        (i + 5_000_000).alias("doc_id"), "text"
    )
    new = kept.unionByName(added)
    return diff_snapshots(old, new, "doc_id", ["text"]).orderBy("id")


ORACLE_SNAPSHOT_DIFF = """
with old as (select doc_id as id, md5(text) as fp from documents),
new as (
  select doc_id as id,
         md5(case when doc_id % 10 = 0 then text || ' [rev2]' else text end) as fp
  from documents where doc_id % 13 <> 0
  union all
  select doc_id + 5000000 as id, md5(text) as fp from documents where doc_id % 17 = 0
),
j as (select coalesce(old.id, new.id) as id, old.fp as fo, new.fp as fn
      from old full outer join new on old.id = new.id)
select id, case when fo is null then 'added'
                when fn is null then 'removed'
                when fo <> fn then 'changed' end as change
from j where fo is null or fn is null or fo <> fn
order by id
"""


def q_cc_incremental(spark, sf_dir):
    """Incremental CC maintenance (operators/clustering.
    merge_into_clusters): a deterministic BASE match graph over the
    documents ids (chains at id%7 and id%9) is clustered with the full
    batch CC, then a SNAPSHOT of new edges — cluster-merging (id%13:
    id—id+7), new-node-attaching (id%31: id+3000000—id), and
    brand-new components (id%17: id+4000000—id+4000001) — is folded in
    via the contracted-graph merge. Oracle: one recursive-CTE CC over
    the UNION of both edge sets (the merge is provably equivalent to
    the full recompute). Output = non-singleton clusters."""
    from entity_linking_in_biomedical_spark.operators.clustering import (
        merge_into_clusters,
    )

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("id")
    )
    i = F.col("id")

    def _s(c):
        return c.cast("string")

    base = (
        docs.filter(i % 7 == 0)
        .select(_s(i).alias("src"), _s(i + 1).alias("dst"))
        .unionByName(
            docs.filter(i % 9 == 0).select(
                _s(i).alias("src"), _s(i + 2).alias("dst")
            )
        )
    )
    nodes = docs.select(_s(i).alias("node"))
    assign, _ = connected_components(base, nodes=nodes)
    new = (
        docs.filter(i % 13 == 0)
        .select(_s(i).alias("src"), _s(i + 7).alias("dst"))
        .unionByName(
            docs.filter(i % 31 == 0).select(
                _s(i + 3000000).alias("src"), _s(i).alias("dst")
            )
        )
        .unionByName(
            docs.filter(i % 17 == 0).select(
                _s(i + 4000000).alias("src"), _s(i + 4000001).alias("dst")
            )
        )
    )
    updated, _ = merge_into_clusters(assign, new)
    return (
        updated.groupBy("cluster_id")
        .agg(
            F.count("*").cast("bigint").alias("cluster_size"),
            F.concat_ws(",", F.sort_array(F.collect_list("node"))).alias(
                "members"
            ),
        )
        .filter(F.col("cluster_size") > 1)
        .orderBy("cluster_id")
    )


ORACLE_CC_INCREMENTAL = """
with recursive d as (select doc_id as id from documents),
e as (
  select cast(id as varchar) as a, cast(id + 1 as varchar) as b
  from d where id % 7 = 0
  union all
  select cast(id as varchar), cast(id + 2 as varchar) from d where id % 9 = 0
  union all
  select cast(id as varchar), cast(id + 7 as varchar) from d where id % 13 = 0
  union all
  select cast(id + 3000000 as varchar), cast(id as varchar)
  from d where id % 31 = 0
  union all
  select cast(id + 4000000 as varchar), cast(id + 4000001 as varchar)
  from d where id % 17 = 0
),
und as (select a, b from e union all select b, a from e),
cc(n, m) as (
  select a, a from und
  union
  select und.b, cc.m from cc join und on und.a = cc.n where cc.m < und.b
),
lbl as (select n, min(m) as cluster_id from cc group by n)
select cluster_id, cast(count(*) as bigint) as cluster_size,
       array_to_string(list_sort(list(n)), ',') as members
from lbl group by cluster_id having count(*) > 1 order by cluster_id
"""


def q_cc_retract(spark, sf_dir):
    """Retraction-driven cluster splitting (operators/clustering.
    retract_from_clusters — the state update a clerical-review 'not a
    match' verdict requires, the dual of cc_incremental's merge): the
    same deterministic BASE graph (chains at id%7: id—id+1 and id%9:
    id—id+2) is clustered with the full batch CC, then a review batch
    retracts every id%21 edge (id—id+1 — a REAL base edge, 21 = 3·7)
    plus id%25 phantom pairs (id—id+5, never a base edge — exercising
    the no-op path through a full affected-cluster re-cluster). Only
    the touched clusters re-cluster; the oracle is one recursive-CTE
    CC over (base minus retracted), so the hash check proves
    retract == full recompute. Output = non-singleton clusters."""
    from entity_linking_in_biomedical_spark.operators.clustering import (
        retract_from_clusters,
    )

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("id")
    )
    i = F.col("id")

    def _s(c):
        return c.cast("string")

    base = (
        docs.filter(i % 7 == 0)
        .select(_s(i).alias("src"), _s(i + 1).alias("dst"))
        .unionByName(
            docs.filter(i % 9 == 0).select(
                _s(i).alias("src"), _s(i + 2).alias("dst")
            )
        )
    )
    retracted = (
        docs.filter(i % 21 == 0)
        .select(_s(i).alias("src"), _s(i + 1).alias("dst"))
        .unionByName(
            docs.filter(i % 25 == 0).select(
                _s(i).alias("src"), _s(i + 5).alias("dst")
            )
        )
    )
    nodes = docs.select(_s(i).alias("node"))
    assign, _ = connected_components(base, nodes=nodes)
    updated, _ = retract_from_clusters(assign, base, retracted)
    return (
        updated.groupBy("cluster_id")
        .agg(
            F.count("*").cast("bigint").alias("cluster_size"),
            F.concat_ws(",", F.sort_array(F.collect_list("node"))).alias(
                "members"
            ),
        )
        .filter(F.col("cluster_size") > 1)
        .orderBy("cluster_id")
    )


ORACLE_CC_RETRACT = """
with recursive d as (select doc_id as id from documents),
e0 as (
  select cast(id as varchar) as a, cast(id + 1 as varchar) as b
  from d where id % 7 = 0
  union all
  select cast(id as varchar), cast(id + 2 as varchar) from d where id % 9 = 0
),
r as (
  select cast(id as varchar) as a, cast(id + 1 as varchar) as b
  from d where id % 21 = 0
  union all
  select cast(id as varchar), cast(id + 5 as varchar) from d where id % 25 = 0
),
e as (
  select a, b from e0
  where not exists (select 1 from r where r.a = e0.a and r.b = e0.b)
),
und as (select a, b from e union all select b, a from e),
cc(n, m) as (
  select a, a from und
  union
  select und.b, cc.m from cc join und on und.a = cc.n where cc.m < und.b
),
lbl as (select n, min(m) as cluster_id from cc group by n)
select cluster_id, cast(count(*) as bigint) as cluster_size,
       array_to_string(list_sort(list(n)), ',') as members
from lbl group by cluster_id having count(*) > 1 order by cluster_id
"""


def q_lang_id(spark, sf_dir):
    docs = _ts(spark, sf_dir, "documents")
    return (
        docs.select(lang_id("text").alias("lang_pred"))
        .groupBy("lang_pred")
        .agg(F.count("*").cast("bigint").alias("n"))
        .orderBy("lang_pred")
    )


_EN = "['the','and','of','to','in','is','a','that','for','with']"
_ES = "['el','la','de','que','y','en','los','del','se','las']"
# Shared DuckDB fragments over a `toks` (token list) column — the
# single source for every oracle that gates on language or quality, so
# the twins cannot drift apart (functions/text_metrics.py lang_id /
# quality_score are the Spark side of the same formulas).
_EN_RATIO = (
    f"case when len(toks) > 0 then cast(len(list_filter(toks, x -> "
    f"list_contains({_EN}, x))) as double) / len(toks) else 0.0 end"
)
_ES_RATIO = (
    f"case when len(toks) > 0 then cast(len(list_filter(toks, x -> "
    f"list_contains({_ES}, x))) as double) / len(toks) else 0.0 end"
)
# quality over (n_chars, alpha, toks) columns
_QUALITY_EXPR = f"""round(
    0.4 * (case when n_chars >= 200 then 1.0 when n_chars >= 50 then 0.5 else 0.0 end)
  + 0.4 * (case when n_chars > 0 then cast(alpha as double)/n_chars else 0.0 end)
  + 0.2 * least(({_EN_RATIO}) * 4, 1.0)
  , 6)"""

ORACLE_LANG_ID = f"""
with t as (
  select {_TOKS} as toks from documents
),
r as (
  select {_EN_RATIO} as en, {_ES_RATIO} as es from t
)
select case when en >= es and en > 0.02 then 'en'
            when es > en and es > 0.02 then 'es'
            else 'und' end as lang_pred,
       cast(count(*) as bigint) as n
from r group by 1 order by lang_pred
"""


def q_token_count(spark, sf_dir):
    """Both token-count modes the brief names: whitespace/punct words
    (tokens()) and BPE-ish pre-tokenizer pieces (the GPT-2-style regex
    — the unit LLM budgets are quoted in). Pure JVM expressions."""
    from entity_linking_in_biomedical_spark.functions.text_metrics import (
        bpe_token_count,
    )

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count("text").cast("bigint").alias("n_tokens"),
        bpe_token_count("text").cast("bigint").alias("n_bpe_pieces"),
    ).orderBy("doc_id")


def _oracle_token_count() -> str:
    from entity_linking_in_biomedical_spark.functions.text_metrics import (
        bpe_token_count_sql,
    )

    return f"""
select doc_id, cast(len({_TOKS}) as bigint) as n_tokens,
       cast({bpe_token_count_sql('text')} as bigint) as n_bpe_pieces
from documents order by doc_id
"""


ORACLE_TOKEN_COUNT = _oracle_token_count()


def q_quality(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", quality_score("text").alias("quality")).orderBy("doc_id")


ORACLE_QUALITY = f"""
with t as (
  select doc_id, length(text) as n_chars,
         length(regexp_replace(lower(text), '[^a-z]', '', 'g')) as alpha,
         {_TOKS} as toks
  from documents
)
select doc_id, {_QUALITY_EXPR} as quality
from t order by doc_id
"""


def q_doc_fingerprint(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint("text").alias("fp")).orderBy("doc_id")


ORACLE_DOC_FP = f"""
select doc_id, md5(array_to_string(list_sort(list_distinct({_TOKS})), ' ')) as fp
from documents order by doc_id
"""


def q_pii_redact(spark, sf_dir):
    """PII scrubbing pass (training-data hygiene): deterministic PII is
    planted into every 7th document (the synthetic corpus carries none),
    then counted per kind and redacted with typed placeholders — all
    sequential JVM regexp_replace, no UDF. The DuckDB twin plants the
    identical strings and runs the identical RE2-safe patterns, so the
    match counts AND the md5 of the redacted text are value-checked."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    d = F.col("doc_id").cast("string")
    planted = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(
            F.col("text"),
            F.lit(" Contact jane.doe+"),
            d,
            F.lit("@example.org or 555-867-530"),
            (F.col("doc_id") % 10).cast("string"),
            F.lit(", server 10.1.2."),
            (F.col("doc_id") % 255).cast("string"),
            F.lit(", ssn 123-45-6789, cell (212) 555 019"),
            (F.col("doc_id") % 10).cast("string"),
            F.lit(", card 4111-1111-1111-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit("."),
        ),
    ).otherwise(F.col("text"))
    t = docs.withColumn("t", planted)
    return t.select(
        "doc_id",
        pii_count("t", "email").cast("bigint").alias("n_email"),
        pii_count("t", "ssn").cast("bigint").alias("n_ssn"),
        pii_count("t", "cc").cast("bigint").alias("n_cc"),
        pii_count("t", "phone_paren").cast("bigint").alias("n_phone_paren"),
        pii_count("t", "phone").cast("bigint").alias("n_phone"),
        pii_count("t", "ipv4").cast("bigint").alias("n_ipv4"),
        F.md5(pii_redact("t")).alias("redacted_md5"),
    ).orderBy("doc_id")


def _oracle_pii_redact() -> str:
    pats = {k: p for k, p, _ in PII_PATTERNS}
    repl = {k: r for k, _, r in PII_PATTERNS}
    red = "t"
    for k, _, _ in PII_PATTERNS:
        red = f"regexp_replace({red}, '{pats[k]}', '{repl[k]}', 'g')"
    counts = ",\n       ".join(
        f"cast(len(regexp_extract_all(t, '{pats[k]}')) as bigint) as n_{k}"
        for k in ("email", "ssn", "cc", "phone_paren", "phone", "ipv4")
    )
    return f"""
with p as (
  select doc_id,
         case when doc_id % 7 = 0 then
           text || ' Contact jane.doe+' || cast(doc_id as varchar)
                || '@example.org or 555-867-530' || cast(doc_id % 10 as varchar)
                || ', server 10.1.2.' || cast(doc_id % 255 as varchar)
                || ', ssn 123-45-6789, cell (212) 555 019' || cast(doc_id % 10 as varchar)
                || ', card 4111-1111-1111-' || lpad(cast(doc_id % 10000 as varchar), 4, '0')
                || '.'
         else text end as t
  from documents
)
select doc_id,
       {counts},
       md5({red}) as redacted_md5
from p order by doc_id
"""


def q_repetition(spark, sf_dir):
    """Gopher-style repetition metrics per document: duplicate-token
    ratio, top-token frequency ratio, duplicate-2-gram ratio — the
    quality rules that gate a crawl before training. Pure column
    expressions (codegen, no shuffle beyond the scan)."""
    docs = _ts(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        dup_token_ratio("text").alias("dup_token_ratio"),
        top_token_ratio("text").alias("top_token_ratio"),
        dup_2gram_ratio("text").alias("dup_2gram_ratio"),
    ).orderBy("doc_id")


ORACLE_REPETITION = f"""
with t as (
  select doc_id, {_TOKS} as toks from documents
), g as (
  select doc_id, toks, len(toks) as n,
         case when len(toks) >= 2
              then list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
              else [] end as g2
  from t
)
select doc_id,
  case when n > 0 then round(1.0 - cast(len(list_distinct(toks)) as double) / n, 6) else 0.0 end as dup_token_ratio,
  case when n > 0 then round(cast(list_max(list_transform(list_distinct(toks),
         d -> len(list_filter(toks, x -> x = d)))) as double) / n, 6) else 0.0 end as top_token_ratio,
  case when n >= 2 then round(1.0 - cast(len(list_distinct(g2)) as double) / (n - 1), 6) else 0.0 end as dup_2gram_ratio
from g order by doc_id
"""


def q_corpus_stats(spark, sf_dir):
    """Per-language corpus profile — the describe-style pass a
    training-data pipeline runs before and after every filter stage:
    doc counts, token totals, exact interpolated token-count
    percentiles. One partial-aggregated groupBy over the scan (exact
    percentile keeps per-group values on one reducer — fine for a
    bounded language key space; the unbounded-key variant would switch
    to percentile_approx, which is what the skew rules require).
    Percentiles rounded to 4 decimals on both engines: interpolation is
    k/10-exact for integer token counts, so the only cross-engine
    delta is ~1e-15 float noise, far from any rounding boundary."""
    from entity_linking_in_biomedical_spark.functions.text_metrics import token_count

    t = _t(spark, sf_dir, "documents").select(
        "lang", token_count("text").cast("double").alias("tc")
    )
    return (
        t.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("tc").cast("long").alias("total_tokens"),
            F.round(F.avg("tc"), 4).alias("avg_tokens"),
            F.round(F.expr("percentile(tc, 0.5)"), 4).alias("p50_tokens"),
            F.round(F.expr("percentile(tc, 0.9)"), 4).alias("p90_tokens"),
            F.round(F.expr("percentile(tc, 0.99)"), 4).alias("p99_tokens"),
        )
        .orderBy("lang")
    )


ORACLE_CORPUS_STATS = f"""
with t as (
  select lang, cast(len({_TOKS}) as double) as tc from documents
)
select lang, count(*) as n_docs,
       cast(sum(tc) as bigint) as total_tokens,
       round(avg(tc), 4) as avg_tokens,
       round(quantile_cont(tc, 0.5), 4) as p50_tokens,
       round(quantile_cont(tc, 0.9), 4) as p90_tokens,
       round(quantile_cont(tc, 0.99), 4) as p99_tokens
from t group by lang order by lang
"""


def q_url_stats(spark, sf_dir):
    """URL extraction + per-domain profile — the crawl-curation pass
    that decides which domains to keep/throttle before training.
    Deterministic URLs are planted into every 5th document (the
    synthetic corpus carries none), extracted with a Java/RE2-common
    regex, reduced to domains, and aggregated. All JVM-side: one
    regexp_extract_all + explode + groupBy, no UDFs; at 100 TB the
    domain keyspace is the natural partition key and the aggregate is
    map-side partial."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    d = F.col("doc_id")
    planted = F.when(
        d % 5 == 0,
        F.concat(
            F.col("text"),
            F.lit(" see https://www.site"),
            (d % 20).cast("string"),
            F.lit(".example.org/page/"),
            d.cast("string"),
            F.lit(" and http://cdn"),
            (d % 7).cast("string"),
            F.lit(".assets.net/img"),
            d.cast("string"),
            F.lit(".jpg"),
        ),
    ).otherwise(F.col("text"))
    url_re = "https?://[A-Za-z0-9.-]+(/[A-Za-z0-9./_-]*)?"
    urls = (
        docs.withColumn("t", planted)
        .select(
            "doc_id",
            F.explode(
                F.expr(f"regexp_extract_all(t, '{url_re}', 0)")
            ).alias("url"),
        )
    )
    return (
        urls.select(
            "doc_id",
            F.regexp_extract("url", "https?://([A-Za-z0-9.-]+)", 1).alias("domain"),
        )
        .groupBy("domain")
        .agg(
            F.count("*").alias("n_urls"),
            F.count_distinct("doc_id").alias("n_docs"),
        )
        .orderBy("domain")
    )


ORACLE_URL_STATS = """
with p as (
  select doc_id,
         case when doc_id % 5 = 0 then
           text || ' see https://www.site' || cast(doc_id % 20 as varchar)
                || '.example.org/page/' || cast(doc_id as varchar)
                || ' and http://cdn' || cast(doc_id % 7 as varchar)
                || '.assets.net/img' || cast(doc_id as varchar) || '.jpg'
         else text end as t
  from documents
),
u as (
  select doc_id,
         unnest(regexp_extract_all(t, 'https?://[A-Za-z0-9.-]+(/[A-Za-z0-9./_-]*)?')) as url
  from p
)
select regexp_extract(url, 'https?://([A-Za-z0-9.-]+)', 1) as domain,
       cast(count(*) as bigint) as n_urls,
       cast(count(distinct doc_id) as bigint) as n_docs
from u group by 1 order by 1
"""


def q_vocab_drift(spark, sf_dir):
    """Vocabulary drift between two corpus snapshots (split by doc_id
    parity): tokens ranked per split by (count desc, token), top-100
    kept, inner-joined on token — the distribution-shift check run
    between crawl snapshots before mixing them into one training set.
    Fully deterministic (integer counts, total ranking order), so the
    oracle comparison is exact. Scale shape: one groupBy on (split,
    token) with map-side partials, a per-split window over 100 rows,
    and a tiny join."""
    from pyspark.sql import Window

    from entity_linking_in_biomedical_spark.functions.text_metrics import tokens

    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        (F.col("doc_id") % 2 == 0).alias("is_a"),
        F.explode(tokens(F.col("text"))).alias("tok"),
    )
    cnt = tok.groupBy("is_a", "tok").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("is_a").orderBy(F.desc("cnt"), F.asc("tok"))
    top = cnt.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 100)
    a = top.filter(F.col("is_a")).select(
        "tok",
        F.col("rk").cast("long").alias("rank_a"),
        F.col("cnt").cast("long").alias("cnt_a"),
    )
    b = top.filter(~F.col("is_a")).select(
        "tok",
        F.col("rk").cast("long").alias("rank_b"),
        F.col("cnt").cast("long").alias("cnt_b"),
    )
    return a.join(b, "tok").orderBy("tok")


ORACLE_VOCAB_DRIFT = f"""
with t as (
  select doc_id % 2 = 0 as is_a, unnest({_TOKS}) as tok from documents
),
c as (select is_a, tok, count(*) as cnt from t group by 1, 2),
r as (
  select is_a, tok, cnt,
         row_number() over (partition by is_a order by cnt desc, tok) as rk
  from c
)
select a.tok as tok,
       cast(a.rk as bigint) as rank_a, cast(a.cnt as bigint) as cnt_a,
       cast(b.rk as bigint) as rank_b, cast(b.cnt as bigint) as cnt_b
from (select * from r where is_a and rk <= 100) a
join (select * from r where not is_a and rk <= 100) b on a.tok = b.tok
order by tok
"""


def q_filter_funnel(spark, sf_dir):
    """Quality-filter funnel — the composition query every curation
    pipeline reports: how many documents survive each cumulative gate
    (language -> quality score -> repetition -> length). ONE scan, one
    tiny aggregate: the gates are plain column predicates summed as
    conditional counts, then unpivoted with stack(); nothing shuffles
    but five longs. Gate thresholds compare values rounded to 6
    decimals on both engines, so the DuckDB twin is exact."""
    from entity_linking_in_biomedical_spark.functions.text_metrics import (
        dup_token_ratio,
        lang_id,
        quality_score,
        token_count,
    )

    docs = _ts(spark, sf_dir, "documents")
    f1 = lang_id("text") == "en"
    f2 = quality_score("text") >= 0.5
    f3 = dup_token_ratio("text") <= 0.3
    f4 = token_count("text").between(10, 10000)
    agg = docs.agg(
        F.count("*").alias("n0"),
        F.sum(f1.cast("long")).alias("n1"),
        F.sum((f1 & f2).cast("long")).alias("n2"),
        F.sum((f1 & f2 & f3).cast("long")).alias("n3"),
        F.sum((f1 & f2 & f3 & f4).cast("long")).alias("n4"),
    )
    return agg.selectExpr(
        "stack(5,"
        " 0, 'all', n0,"
        " 1, 'lang_en', n1,"
        " 2, 'quality_ge_05', n2,"
        " 3, 'dup_le_03', n3,"
        " 4, 'len_10_10k', n4"
        ") as (stage, gate, n_docs)"
    ).orderBy("stage")


def _oracle_filter_funnel() -> str:
    return f"""
with t as (
  select length(text) as n_chars,
         length(regexp_replace(lower(text), '[^a-z]', '', 'g')) as alpha,
         {_TOKS} as toks
  from documents
),
g as (
  select len(toks) as n,
         {_EN_RATIO} as en,
         {_ES_RATIO} as es,
         {_QUALITY_EXPR} as quality,
         case when len(toks) > 0 then round(1.0 - cast(len(list_distinct(toks)) as double) / len(toks), 6) else 0.0 end as dup
  from t
),
fl as (
  select (en >= es and en > 0.02) as f1,
         quality >= 0.5 as f2,
         dup <= 0.3 as f3,
         n between 10 and 10000 as f4
  from g
),
a as (
  select count(*) as n0,
         sum(case when f1 then 1 else 0 end) as n1,
         sum(case when f1 and f2 then 1 else 0 end) as n2,
         sum(case when f1 and f2 and f3 then 1 else 0 end) as n3,
         sum(case when f1 and f2 and f3 and f4 then 1 else 0 end) as n4
  from fl
)
select * from (
  select 0 as stage, 'all' as gate, cast(n0 as bigint) as n_docs from a
  union all select 1, 'lang_en', cast(n1 as bigint) from a
  union all select 2, 'quality_ge_05', cast(n2 as bigint) from a
  union all select 3, 'dup_le_03', cast(n3 as bigint) from a
  union all select 4, 'len_10_10k', cast(n4 as bigint) from a
) order by stage
"""


def q_dup_passages(spark, sf_dir):
    """Substring-level duplication profile (operators/dedup.py::
    duplicate_passage_stats — the Lee-et-al-style duplicated-text
    fraction + longest duplicated run at 8-token-window granularity).
    A fixed 12-token passage is planted into every 9th document, so
    those docs are guaranteed a duplicated run of >= 5 windows on top
    of any organic small-vocabulary collisions; the DuckDB twin
    replays the identical md5-window pipeline."""
    from entity_linking_in_biomedical_spark.operators.dedup import (
        duplicate_passage_stats,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    planted = F.when(
        F.col("doc_id") % 9 == 0,
        F.concat(
            F.col("text"),
            F.lit(" the quick brown fox jumps over the lazy dog again and again"),
        ),
    ).otherwise(F.col("text"))
    out = duplicate_passage_stats(
        docs.withColumn("t", planted), text_col="t", window_k=8
    )
    return out.select(
        "doc_id",
        F.col("n_windows").cast("long").alias("n_windows"),
        F.col("n_dup_windows").cast("long").alias("n_dup_windows"),
        "dup_ratio",
        F.col("max_dup_run").cast("long").alias("max_dup_run"),
    ).orderBy("doc_id")


def _oracle_dup_passages() -> str:
    toks_t = TOKENS_SQL.format(col="t")
    return f"""
with p as (
  select cast(doc_id as varchar) as doc_id,
         case when doc_id % 9 = 0 then
           text || ' the quick brown fox jumps over the lazy dog again and again'
         else text end as t
  from documents
),
tk as (select doc_id, {toks_t} as toks from p),
w as (
  select doc_id, i as pos,
         md5(array_to_string(list_slice(toks, i, i + 7), ' ')) as w
  from tk, unnest(generate_series(1, len(toks) - 7)) as u(i)
),
dupw as (select w from w group by w having count(*) >= 2),
d as (select doc_id, pos from w join dupw using (w)),
r as (
  select doc_id,
         pos - row_number() over (partition by doc_id order by pos) as rid
  from d
),
runs as (select doc_id, rid, count(*) as run from r group by 1, 2),
agg as (
  select doc_id, sum(run) as ndw, max(run) as mdr from runs group by 1
),
tot as (select doc_id, greatest(len(toks) - 7, 0) as nw from tk)
select tot.doc_id,
       cast(tot.nw as bigint) as n_windows,
       cast(coalesce(agg.ndw, 0) as bigint) as n_dup_windows,
       round(cast(coalesce(agg.ndw, 0) as double) / greatest(tot.nw, 1), 6) as dup_ratio,
       cast(coalesce(agg.mdr, 0) as bigint) as max_dup_run
from tot left join agg on tot.doc_id = agg.doc_id
order by tot.doc_id
"""


def q_dedup_passages_apply(spark, sf_dir):
    """Passage-REMOVAL corpus transform (operators/dedup.py::
    remove_duplicate_passages — the Lee-et-al ExactSubstr-style rewrite
    the profiling query only measures): duplicated 8-token windows keep
    their global first occurrence (min (doc_id, pos)) and every token
    covered by any other occurrence is dropped. Same planted-boilerplate
    idiom as q_dup_passages so the transform has real passages to
    remove; the DuckDB twin replays the identical md5-window keep-first
    rule and must reproduce the surviving text byte-for-byte."""
    from entity_linking_in_biomedical_spark.operators.dedup import (
        remove_duplicate_passages,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    planted = F.when(
        F.col("doc_id") % 9 == 0,
        F.concat(
            F.col("text"),
            F.lit(" the quick brown fox jumps over the lazy dog again and again"),
        ),
    ).otherwise(F.col("text"))
    out = remove_duplicate_passages(
        docs.withColumn("t", planted), text_col="t", window_k=8
    )
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_removed").cast("long").alias("n_removed"),
        "cleaned_text",
    ).orderBy("doc_id")


def _oracle_dedup_passages_apply() -> str:
    toks_t = TOKENS_SQL.format(col="t")
    return f"""
with p as (
  select cast(doc_id as varchar) as doc_id,
         case when doc_id % 9 = 0 then
           text || ' the quick brown fox jumps over the lazy dog again and again'
         else text end as t
  from documents
),
tk as (select doc_id, {toks_t} as toks from p),
w as (
  select doc_id, i as pos,
         md5(array_to_string(list_slice(toks, i, i + 7), ' ')) as w
  from tk, unnest(generate_series(1, greatest(len(toks) - 7, 0))) as u(i)
),
fw as (
  select doc_id, pos,
         count(*) over (partition by w) as c,
         row_number() over (partition by w order by doc_id, pos) as rn
  from w
),
drops as (
  select distinct doc_id, ti
  from fw, unnest(generate_series(pos, pos + 7)) as g(ti)
  where c >= 2 and rn > 1
),
tokrows as (
  select doc_id, i as ti, toks[i] as tok
  from tk, unnest(generate_series(1, len(toks))) as u(i)
),
kept as (
  select tokrows.doc_id, ti, tok from tokrows
  anti join drops using (doc_id, ti)
),
re as (
  select doc_id, count(*) as n_kept,
         string_agg(tok, ' ' order by ti) as cleaned_text
  from kept group by doc_id
)
select tk.doc_id,
       cast(len(toks) as bigint) as n_tokens,
       cast(len(toks) - coalesce(re.n_kept, 0) as bigint) as n_removed,
       coalesce(re.cleaned_text, '') as cleaned_text
from tk left join re on tk.doc_id = re.doc_id
order by tk.doc_id
"""


def q_contamination(spark, sf_dir):
    """Train/test n-gram contamination check (the GPT-3/PaLM 13-gram
    decontamination rule, n=8 here so the short synthetic docs produce
    grams): every 7th document donates a 20-token window as a fake eval
    doc, and the operator must flag every corpus doc sharing >= 2
    distinct 8-grams with it — the donor doc at contamination 1.0
    guaranteed, plus any organic collisions in the small vocabulary.
    Test-side grams broadcast as xxhash64 longs; the corpus side is one
    scan + explode with ZERO pre-join shuffles (per-doc grams are
    already distinct)."""
    from entity_linking_in_biomedical_spark.functions.text_metrics import tokens
    from entity_linking_in_biomedical_spark.operators.contamination import (
        ngram_contamination,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    test = docs.filter((F.col("doc_id") % 7) == 0).select(
        F.concat(F.lit("t"), F.col("doc_id")).alias("test_id"),
        F.concat_ws(" ", F.slice(tokens("text"), 4, 20)).alias("text"),
    )
    return ngram_contamination(docs, test, n=8, min_overlap=2).orderBy(
        "doc_id", "test_id"
    )


# DuckDB twin: identical tokenization, window construction, per-doc
# distinct 8-grams, >= 2 overlap rule. Grams compare as exact strings
# here vs xxhash64 longs in Spark — agreement also certifies the hash
# join is collision-free on this data.
# shared CTE chain: planted test set -> per-side distinct 8-grams ->
# flagged (doc, test) overlaps; consumed by the detection oracle AND
# the removal-transform oracle below
_CONTAM_CTES = f"""tok as (
  select doc_id, {_TOKS} as l from documents
), t as (
  select 't' || cast(doc_id as varchar) as test_id,
         list_slice(l, 4, 23) as tl
  from tok where doc_id % 7 = 0
), tg as (
  select test_id,
         unnest(list_distinct([array_to_string(list_slice(tl, i, i + 7), ' ')
                for i in generate_series(1, greatest(len(tl) - 7, 0))])) as gram
  from t
), ts as (
  select test_id, count(*) as n_test_grams from tg group by test_id
), cg as (
  select doc_id,
         unnest(list_distinct([array_to_string(list_slice(l, i, i + 7), ' ')
                for i in generate_series(1, greatest(len(l) - 7, 0))])) as gram
  from tok
), ov as (
  select cg.doc_id, tg.test_id, count(*) as n_overlap
  from cg join tg using (gram)
  group by 1, 2 having count(*) >= 2
)"""

ORACLE_CONTAMINATION = f"""
with {_CONTAM_CTES}
select ov.doc_id, ov.test_id, n_overlap,
       round(cast(n_overlap as double) / n_test_grams, 6) as contamination
from ov join ts using (test_id)
order by doc_id, test_id
"""


def q_decontaminate(spark, sf_dir):
    """The removal transform over the contamination check: the corpus
    minus every doc flagged against the planted eval set (same test
    construction as `contamination`) — one left-anti join on doc id,
    corpus-side plan unchanged (test grams broadcast, single scan)."""
    from entity_linking_in_biomedical_spark.functions.text_metrics import tokens
    from entity_linking_in_biomedical_spark.operators.contamination import (
        decontaminate,
    )

    docs = _t(spark, sf_dir, "documents")
    test = docs.filter((F.col("doc_id") % 7) == 0).select(
        F.concat(F.lit("t"), F.col("doc_id")).alias("test_id"),
        F.concat_ws(" ", F.slice(tokens("text"), 4, 20)).alias("text"),
    )
    return (
        decontaminate(docs.select("doc_id", "text", "n_chars"), test, n=8, min_overlap=2)
        .select("doc_id", "n_chars")
        .orderBy("doc_id")
    )


ORACLE_DECONTAMINATE = f"""
with {_CONTAM_CTES}
select doc_id, n_chars from documents
where doc_id not in (select doc_id from ov)
order by doc_id
"""


def q_scrub_contamination(spark, sf_dir):
    """Span-LEVEL decontamination (operators/contamination.py::
    scrub_contamination — GPT-3 Appendix C at token granularity): the
    whole-doc drop (`decontaminate`) wastes every clean token of a
    flagged doc, so this transform removes only the tokens covered by a
    test-set 8-gram collision ± a 2-token margin and re-joins the
    survivors, reporting the piece count the paper's 3+-pieces discard
    rule reads. Same planted eval set as `contamination` (every 7th doc
    donates tokens 4..23), so every donor doc is guaranteed a scrubbed
    span; the DuckDB twin replays the identical window/margin/rebuild
    rule and must reproduce the surviving text byte-for-byte."""
    from entity_linking_in_biomedical_spark.functions.text_metrics import tokens
    from entity_linking_in_biomedical_spark.operators.contamination import (
        scrub_contamination,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    test = docs.filter((F.col("doc_id") % 7) == 0).select(
        F.concat(F.lit("t"), F.col("doc_id")).alias("test_id"),
        F.concat_ws(" ", F.slice(tokens("text"), 4, 20)).alias("text"),
    )
    out = scrub_contamination(docs, test, n=8, margin=2)
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_removed").cast("long").alias("n_removed"),
        F.col("n_pieces").cast("long").alias("n_pieces"),
        "cleaned_text",
    ).orderBy("doc_id")


def q_scrub_stream(spark, sf_dir):
    """The ROW-LOCAL scrub implementation (operators/contamination.py::
    scrub_stream — the zero-shuffle streaming face, which runs
    identically on a static frame): same planted eval set and
    parameters as `scrub_contamination`, same DuckDB twin. A green
    hash here value-checks the broadcast-array + higher-order-function
    pipeline independently of the explode/groupBy batch form."""
    from entity_linking_in_biomedical_spark.functions.text_metrics import tokens
    from entity_linking_in_biomedical_spark.operators.contamination import (
        scrub_stream,
    )

    docs = _ts(spark, sf_dir, "documents").select("doc_id", "text")
    test = docs.filter((F.col("doc_id") % 7) == 0).select(
        F.concat(F.lit("t"), F.col("doc_id")).alias("test_id"),
        F.concat_ws(" ", F.slice(tokens("text"), 4, 20)).alias("text"),
    )
    out = scrub_stream(docs, test, n=8, margin=2)
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_removed").cast("long").alias("n_removed"),
        F.col("n_pieces").cast("long").alias("n_pieces"),
        "cleaned_text",
    ).orderBy("doc_id")


def _oracle_scrub_contamination() -> str:
    # test grams compare as exact strings vs xxhash64 longs in Spark —
    # agreement also certifies the semi-join is collision-free here
    return f"""
with tok0 as (select doc_id, {_TOKS} as l from documents),
t as (select list_slice(l, 4, 23) as tl from tok0 where doc_id % 7 = 0),
tg as (
  select distinct array_to_string(list_slice(tl, i, i + 7), ' ') as gram
  from t, unnest(generate_series(1, greatest(len(tl) - 7, 0))) as u(i)
),
tok as (select cast(doc_id as varchar) as doc_id, l from tok0),
w as (
  select doc_id, i as pos,
         array_to_string(list_slice(l, i, i + 7), ' ') as gram
  from tok, unnest(generate_series(1, greatest(len(l) - 7, 0))) as u(i)
),
hits as (select doc_id, pos from w semi join tg using (gram)),
drops as (
  select distinct doc_id, ti
  from hits, unnest(generate_series(greatest(pos - 2, 1), pos + 7 + 2)) as g(ti)
),
tokrows as (
  select doc_id, i as ti, l[i] as tok
  from tok, unnest(generate_series(1, len(l))) as u(i)
),
kept as (
  select tokrows.doc_id, ti, tok from tokrows
  anti join drops using (doc_id, ti)
),
runs as (
  select doc_id, ti, tok,
         case when lag(ti) over (partition by doc_id order by ti) = ti - 1
              then 0 else 1 end as st
  from kept
),
re as (
  select doc_id, count(*) as n_kept, sum(st) as n_pieces,
         string_agg(tok, ' ' order by ti) as cleaned_text
  from runs group by doc_id
)
select tok.doc_id,
       cast(len(l) as bigint) as n_tokens,
       cast(len(l) - coalesce(re.n_kept, 0) as bigint) as n_removed,
       cast(coalesce(re.n_pieces, 0) as bigint) as n_pieces,
       coalesce(re.cleaned_text, '') as cleaned_text
from tok left join re on tok.doc_id = re.doc_id
order by tok.doc_id
"""


def q_scrub_interleaved(spark, sf_dir):
    """Span-aware decontamination over INTERLEAVED docs
    (operators/contamination.py::scrub_interleaved): each doc becomes
    [text(tokens 1-12), media img://m-(id%40), text(tokens 13..)], the
    planted eval set donates tokens 4..23 of every 7th doc, and the
    scrub must remove collision-covered tokens ± 2 per TEXT SPAN (the
    gram stream breaks at the media boundary), drop fully-scrubbed text
    spans, and pass media spans + span order through untouched. Output
    digests the full surviving span sequence (kind:payload in order) so
    the DuckDB twin value-checks the rebuilt arrays byte-for-byte."""
    from entity_linking_in_biomedical_spark.functions.text_metrics import tokens
    from entity_linking_in_biomedical_spark.operators.contamination import (
        scrub_interleaved,
    )

    base = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = tokens("text")
    d = F.col("doc_id")
    docs = base.select(
        d.cast("string").alias("doc_id"),
        F.array(
            F.struct(
                F.lit("text").alias("kind"),
                F.concat_ws(" ", F.slice(toks, 1, 12)).alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                F.lit(0).alias("offset"),
            ),
            F.struct(
                F.lit("media").alias("kind"),
                F.lit(None).cast("string").alias("text"),
                F.concat(F.lit("img://m-"), (d % 40).cast("string")).alias(
                    "media_ref"
                ),
                F.lit(1).alias("offset"),
            ),
            F.struct(
                F.lit("text").alias("kind"),
                F.concat_ws(
                    " ", F.slice(toks, 13, F.greatest(F.size(toks) - 12, F.lit(0)))
                ).alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                F.lit(2).alias("offset"),
            ),
        ).alias("spans"),
    )
    test = base.filter(d % 7 == 0).select(
        F.concat(F.lit("t"), d).alias("test_id"),
        F.concat_ws(" ", F.slice(tokens("text"), 4, 20)).alias("text"),
    )
    out = scrub_interleaved(docs, test, n=8, margin=2)
    return out.select(
        "doc_id",
        "n_spans_before",
        "n_spans_after",
        "n_removed_tokens",
        F.concat_ws(
            "|",
            F.transform(
                "spans",
                lambda s: F.concat_ws(
                    ":", s["kind"], F.coalesce(s["text"], s["media_ref"])
                ),
            ),
        ).alias("spans_digest"),
    ).orderBy("doc_id")


def _oracle_scrub_interleaved() -> str:
    return f"""
with tok0 as (select doc_id, {_TOKS} as l from documents),
t as (select list_slice(l, 4, 23) as tl from tok0 where doc_id % 7 = 0),
tg as (
  select distinct array_to_string(list_slice(tl, i, i + 7), ' ') as gram
  from t, unnest(generate_series(1, greatest(len(tl) - 7, 0))) as u(i)
),
spans as (
  select cast(doc_id as varchar) as doc_id, 0 as si,
         list_slice(l, 1, 12) as stoks from tok0
  union all
  select cast(doc_id as varchar), 2, list_slice(l, 13, len(l)) from tok0
),
w as (
  select doc_id, si, i as pos,
         array_to_string(list_slice(stoks, i, i + 7), ' ') as gram
  from spans, unnest(generate_series(1, greatest(len(stoks) - 7, 0))) as u(i)
),
hits as (select doc_id, si, pos from w semi join tg using (gram)),
drops as (
  select distinct doc_id, si, ti
  from hits, unnest(generate_series(greatest(pos - 2, 1), pos + 7 + 2)) as g(ti)
),
tokrows as (
  select doc_id, si, i as ti, stoks[i] as tok
  from spans, unnest(generate_series(1, len(stoks))) as u(i)
),
kept as (
  select tokrows.doc_id, tokrows.si, ti, tok from tokrows
  anti join drops using (doc_id, si, ti)
),
re as (
  select doc_id, si, count(*) as n_kept,
         string_agg(tok, ' ' order by ti) as txt
  from kept group by doc_id, si
),
sp2 as (
  select spans.doc_id, spans.si, len(stoks) as n_tok,
         coalesce(re.n_kept, 0) as n_kept, coalesce(re.txt, '') as txt
  from spans left join re using (doc_id, si)
),
surv_txt as (
  select doc_id, si, 'text:' || txt as piece
  from sp2 where n_tok = 0 or n_kept > 0
),
media as (
  select cast(doc_id as varchar) as doc_id, 1 as si,
         'media:img://m-' || cast(doc_id % 40 as varchar) as piece
  from tok0
),
allsp as (select * from surv_txt union all select * from media),
agg as (
  select doc_id, count(*) as n_spans_after,
         string_agg(piece, '|' order by si) as spans_digest
  from allsp group by doc_id
),
rm as (
  select doc_id, sum(n_tok - n_kept) as n_removed_tokens from sp2 group by doc_id
)
select s.doc_id,
       cast(3 as bigint) as n_spans_before,
       cast(coalesce(agg.n_spans_after, 0) as bigint) as n_spans_after,
       cast(coalesce(rm.n_removed_tokens, 0) as bigint) as n_removed_tokens,
       coalesce(agg.spans_digest, '') as spans_digest
from (select cast(doc_id as varchar) as doc_id from tok0) s
left join agg using (doc_id) left join rm using (doc_id)
order by s.doc_id
"""


def q_dedup_clusters(spark, sf_dir):
    """Near-dup clustering + canonical selection: MinHash/LSH pairs ->
    transitive closure -> keep-min canonical per cluster, one row per
    input doc. The transform that "dedup the corpus" actually means —
    pairwise flags under-remove on non-transitive chains. Oracle:
    the minhash-pair twin + recursive-CTE min-label closure over ALL
    docs (singletons label themselves)."""
    from entity_linking_in_biomedical_spark.operators.dedup import near_dup_clusters

    docs = _t(spark, sf_dir, "documents")
    return (
        near_dup_clusters(docs, jaccard_threshold=0.5)
        .select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            "dup_cluster_id",
            F.col("is_canonical").cast("bigint").alias("is_canonical"),
            "cluster_size",
        )
        .orderBy("doc_id")
    )


def _oracle_dedup_clusters(thr=0.5) -> str:
    inner = _oracle_minhash_dedup(thr=thr)
    return f"""
with recursive pairs as ({inner}),
und as (
  select a_id as a, b_id as b from pairs
  union all select b_id as a, a_id as b from pairs
),
cc(n, m) as (
  select a, a from und
  union
  select und.b, cc.m from cc join und on und.a = cc.n where cc.m < und.b
),
lbl as (select n, min(m) as cluster_id from cc group by n),
alln as (select cast(doc_id as varchar) as n from documents),
asg as (
  select alln.n, coalesce(lbl.cluster_id, alln.n) as cluster_id
  from alln left join lbl on lbl.n = alln.n
),
sizes as (
  select cluster_id, cast(count(*) as bigint) as cluster_size
  from asg group by cluster_id
)
select cast(asg.n as bigint) as doc_id, asg.cluster_id as dup_cluster_id,
       cast(asg.n = asg.cluster_id as bigint) as is_canonical,
       sizes.cluster_size
from asg join sizes using (cluster_id)
order by doc_id
"""


def q_dedup_keep_best(spark, sf_dir):
    """Quality-aware near-dup canonicalization (operators/dedup.py::
    near_dup_clusters quality_col=): same MinHash/LSH pairs -> CC
    closure as dedup_clusters, but each cluster's survivor is its
    HIGHEST-quality_score member (ties -> min doc_id) instead of the
    min id — web near-dup sets are re-crawls/mirrors of mixed
    cleanliness, and keep-min discards the good copy whenever a junk
    mirror sorts first. Oracle replays the closure plus the identical
    (q desc, id asc) argmax window; quality_score is 6-decimal-rounded
    on both engines so the ordering keys are bit-equal."""
    from entity_linking_in_biomedical_spark.functions.text_metrics import (
        quality_score,
    )
    from entity_linking_in_biomedical_spark.operators.dedup import near_dup_clusters

    docs = _t(spark, sf_dir, "documents").withColumn("__q", quality_score("text"))
    return (
        near_dup_clusters(docs, jaccard_threshold=0.5, quality_col="__q")
        .select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            "dup_cluster_id",
            F.col("is_canonical").cast("bigint").alias("is_canonical"),
            "cluster_size",
        )
        .orderBy("doc_id")
    )


def _oracle_dedup_keep_best(thr=0.5) -> str:
    inner = _oracle_minhash_dedup(thr=thr)
    return f"""
with recursive pairs as ({inner}),
und as (
  select a_id as a, b_id as b from pairs
  union all select b_id as a, a_id as b from pairs
),
cc(n, m) as (
  select a, a from und
  union
  select und.b, cc.m from cc join und on und.a = cc.n where cc.m < und.b
),
lbl as (select n, min(m) as cluster_id from cc group by n),
alln as (select cast(doc_id as varchar) as n from documents),
asg as (
  select alln.n, coalesce(lbl.cluster_id, alln.n) as cluster_id
  from alln left join lbl on lbl.n = alln.n
),
sizes as (
  select cluster_id, cast(count(*) as bigint) as cluster_size
  from asg group by cluster_id
),
feat as (
  select cast(doc_id as varchar) as n, length(text) as n_chars,
         length(regexp_replace(lower(text), '[^a-z]', '', 'g')) as alpha,
         {_TOKS} as toks
  from documents
),
q as (select n, {_QUALITY_EXPR} as q from feat),
ranked as (
  select asg.n, asg.cluster_id, sizes.cluster_size,
         row_number() over (partition by asg.cluster_id
                            order by q.q desc, asg.n asc) as rn
  from asg join sizes using (cluster_id) join q using (n)
)
select cast(n as bigint) as doc_id, cluster_id as dup_cluster_id,
       cast(rn = 1 as bigint) as is_canonical, cluster_size
from ranked
order by doc_id
"""


# mixture for the stratified-sample query: covers a fractional rate, a
# coarse rate, a keep-all stratum (predicate folds to true), a heavy
# down-sample, and an UNLISTED stratum (fr) that must be dropped
_MIX_RATES = {"en": 0.5, "es": 0.25, "de": 1.0, "zh": 0.1}
_MIX_SEED = "mix"
_SPLIT_FRACS = {"train": 0.8, "val": 0.1, "test": 0.1}
_SPLIT_SEED = "split"


def q_stratified_sample(spark, sf_dir):
    """Deterministic domain-mixture sampling (operators/sampling.py):
    per-stratum Bernoulli keep via md5 hex threshold — membership is a
    pure function of (seed, doc_id), so the DuckDB twin replaying the
    same md5 rule selects the identical rows."""
    from entity_linking_in_biomedical_spark.operators.sampling import (
        stratified_sample,
    )

    docs = _t(spark, sf_dir, "documents")
    return (
        stratified_sample(docs, _MIX_RATES, stratum_col="lang", seed=_MIX_SEED)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


def _oracle_stratified_sample() -> str:
    from entity_linking_in_biomedical_spark.operators.sampling import rate_threshold

    def clause(stratum: str, rate: float) -> str:
        if rate >= 1.0:
            return f"(lang = '{stratum}')"
        return (
            f"(lang = '{stratum}' and "
            f"substr(md5('{_MIX_SEED}:' || cast(doc_id as varchar)), 1, 12)"
            f" < '{rate_threshold(rate)}')"
        )

    preds = "\n   or ".join(clause(s, r) for s, r in _MIX_RATES.items())
    return f"""
select doc_id, lang from documents
where {preds}
order by doc_id
"""


_BUDGETS = {"en": 20000, "es": 8000, "de": 5000}  # n_chars budgets; fr/zh dropped
_BUDGET_SEED = "budget"


def q_token_budget_sample(spark, sf_dir):
    """Per-stratum SIZE-budget sampling (operators/sampling.py): docs
    taken in deterministic md5 order per language until the stratum's
    char budget is reached — the "N tokens of domain X" mixture form.
    One window shuffle; the oracle replays the identical cumulative
    rule."""
    from entity_linking_in_biomedical_spark.operators.sampling import (
        token_budget_sample,
    )

    docs = _t(spark, sf_dir, "documents")
    return (
        token_budget_sample(
            docs, _BUDGETS, size_col="n_chars", stratum_col="lang", seed=_BUDGET_SEED
        )
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    )


def _oracle_token_budget_sample() -> str:
    h = f"substr(md5('{_BUDGET_SEED}:' || cast(doc_id as varchar)), 1, 12)"
    preds = " or ".join(
        f"(lang = '{s}' and spent < {b})" for s, b in _BUDGETS.items()
    )
    return f"""
with ranked as (
  select doc_id, lang, n_chars,
         coalesce(sum(n_chars) over (
           partition by lang
           order by {h}, cast(doc_id as varchar)
           rows between unbounded preceding and 1 preceding), 0) as spent
  from documents
)
select doc_id, lang, n_chars from ranked
where {preds}
order by doc_id
"""


def q_hash_split(spark, sf_dir):
    """Deterministic doc-level train/val/test assignment: the md5 hash
    line cut at cumulative fractions — leakage-safe (all derivatives of
    a doc land in one split) and retry/engine-stable, unlike
    randomSplit whose draw depends on partition layout."""
    from entity_linking_in_biomedical_spark.operators.sampling import hash_split

    docs = _t(spark, sf_dir, "documents")
    return (
        hash_split(docs, _SPLIT_FRACS, seed=_SPLIT_SEED)
        .select("doc_id", "split")
        .orderBy("doc_id")
    )


def _oracle_hash_split() -> str:
    from entity_linking_in_biomedical_spark.operators.sampling import rate_threshold

    h = f"substr(md5('{_SPLIT_SEED}:' || cast(doc_id as varchar)), 1, 12)"
    names = list(_SPLIT_FRACS)
    whens, cum = [], 0.0
    for name in names[:-1]:
        cum += _SPLIT_FRACS[name]
        whens.append(f"when {h} < '{rate_threshold(cum)}' then '{name}'")
    case = "case " + " ".join(whens) + f" else '{names[-1]}' end"
    return f"""
select doc_id, {case} as split from documents
order by doc_id
"""


_DSIR_TARGET_LANG = "de"
_DSIR_TOPN = 40


def q_dsir_sample(spark, sf_dir):
    """DSIR importance resampling (operators/sampling.py, Xie et al.
    2023): treat the lang='de' docs as the target corpus, weight every
    other doc by the log-ratio of add-1-smoothed hashed-n-gram models
    (256 md5-prefix buckets over word uni+bigrams), keep the top 40.
    Weights are 9-decimal-quantized decimal(38,9) sums (order-free),
    so the DuckDB twin replays the selection bit-for-bit."""
    from entity_linking_in_biomedical_spark.operators.sampling import dsir_topk

    docs = _t(spark, sf_dir, "documents")
    docs = docs.withColumn("is_tgt", F.col("lang") == _DSIR_TARGET_LANG)
    return (
        dsir_topk(docs, "is_tgt", _DSIR_TOPN)
        .select("doc_id", "lang", "n_grams", "weight")
        .orderBy(F.col("weight").desc(), "doc_id")
    )


ORACLE_DSIR_SAMPLE = f"""
with base as (
  select doc_id, lang, (lang = '{_DSIR_TARGET_LANG}') as t, {_TOKS} as toks
  from documents
), uni as (
  select doc_id, t, substr(md5(w), 1, 2) as b from (
    select doc_id, t, unnest(toks) as w from base)
), bi as (
  select doc_id, t, substr(md5(w1 || ' ' || w2), 1, 2) as b from (
    select doc_id, t,
           unnest(toks[1:len(toks)-1]) as w1,
           unnest(toks[2:len(toks)]) as w2
    from base where len(toks) >= 2)
), g as (
  select * from uni union all select * from bi
), db as (
  select doc_id, t, b, count(*) as k from g group by doc_id, t, b
), tt as (
  select b, sum(k) as ct from db where t group by b
), qb as (
  select b, sum(k) as cq from db where not t group by b
), nt as (select cast(coalesce(sum(ct), 0) as double) as tot from tt),
   nq as (select cast(sum(cq) as double) as tot from qb),
lr as (
  select qb.b,
         round(ln(coalesce(tt.ct, 0) + 1.0) - ln(nt.tot + 256.0)
             - ln(qb.cq + 1.0) + ln(nq.tot + 256.0), 9) as r
  from qb left join tt using (b) cross join nt cross join nq
), w as (
  select db.doc_id,
         cast(sum(db.k) as bigint) as n_grams,
         round(cast(sum(cast(db.k * lr.r as decimal(38,9))) as double), 6)
           as weight
  from db join lr using (b) where not db.t
  group by db.doc_id
)
select w.doc_id, base.lang, w.n_grams, w.weight
from w join base using (doc_id)
order by w.weight desc, w.doc_id
limit {_DSIR_TOPN}
"""


def q_quality_classifier(spark, sf_dir):
    """Distributed quality-classifier fit (operators/classifier.py):
    2 full-batch GD iterations of logistic regression (lr=0.5) on three
    cheap text signals, label = (lang = 'en'). Each iteration is ONE
    map-side-partial aggregate; gradient contributions are 9-decimal
    decimal(38,9) sums, weight updates HALF_UP-rounded — so the DuckDB
    twin unrolling the same two iterations reproduces the weights
    bit-for-bit. Returns the fitted model as (feature, weight) rows."""
    from entity_linking_in_biomedical_spark.operators.classifier import (
        lr_fit,
        quality_features,
    )

    docs = _t(spark, sf_dir, "documents").withColumn(
        "y", F.col("lang") == "en"
    )
    feats = quality_features(docs, carry=("y",)).localCheckpoint(eager=False)
    model = lr_fit(feats, "y", iters=2, lr=0.5)
    return spark.createDataFrame(
        sorted(model.items()), "feature string, weight double"
    ).orderBy("feature")


_QC_FEATS_SQL = f"""
  select
    round(ln(1.0 + length(coalesce(text, ''))), 9) as x1,
    round(case when len(toks) > 0
          then cast(list_sum(list_transform(toks, t -> length(t))) as double)
               / len(toks)
          else 0.0 end, 9) as x2,
    round(case when length(coalesce(text, '')) > 0
          then cast(length(regexp_replace(lower(coalesce(text, '')),
                                          '[^a-z0-9]', '', 'g')) as double)
               / length(coalesce(text, ''))
          else 0.0 end, 9) as x3,
    cast(lang = 'en' as double) as y
  from (select text, lang, {_TOKS} as toks from documents)
"""


def _oracle_quality_classifier(lr: float = 0.5) -> str:
    # iteration 1 starts at w = 0, so sigmoid(z) == 0.5 exactly and the
    # error term needs no exp; iteration 2 uses the w1 weights inline
    def gsum(err: str, x: str) -> str:
        return f"cast(sum(cast(round(({err}) * {x}, 9) as decimal(38,9))) as double)"

    def gsum_b(err: str) -> str:
        return f"cast(sum(cast(round({err}, 9) as decimal(38,9))) as double)"

    err1 = "0.5 - y"
    z2 = "w1.b + w1.wx1 * x1 + w1.wx2 * x2 + w1.wx3 * x3"
    err2 = f"1.0 / (1.0 + exp(-({z2}))) - y"
    return f"""
with feats as ({_QC_FEATS_SQL}), g1 as (
  select {gsum(err1, "x1")} as gx1, {gsum(err1, "x2")} as gx2,
         {gsum(err1, "x3")} as gx3, {gsum_b(err1)} as gb,
         cast(count(*) as double) as n
  from feats
), w1 as (
  select round(0.0 - round({lr} * gx1 / n, 9), 9) as wx1,
         round(0.0 - round({lr} * gx2 / n, 9), 9) as wx2,
         round(0.0 - round({lr} * gx3 / n, 9), 9) as wx3,
         round(0.0 - round({lr} * gb / n, 9), 9) as b
  from g1
), g2 as (
  select {gsum(err2, "x1")} as gx1, {gsum(err2, "x2")} as gx2,
         {gsum(err2, "x3")} as gx3, {gsum_b(err2)} as gb,
         cast(count(*) as double) as n
  from feats cross join w1
), w2 as (
  select round(w1.wx1 - round({lr} * g2.gx1 / g2.n, 9), 9) as wx1,
         round(w1.wx2 - round({lr} * g2.gx2 / g2.n, 9), 9) as wx2,
         round(w1.wx3 - round({lr} * g2.gx3 / g2.n, 9), 9) as wx3,
         round(w1.b - round({lr} * g2.gb / g2.n, 9), 9) as b
  from w1 cross join g2
)
select 'bias' as feature, b as weight from w2
union all select 'x1', wx1 from w2
union all select 'x2', wx2 from w2
union all select 'x3', wx3 from w2
order by feature
"""


def q_kmeans_clusters(spark, sf_dir):
    """Fully distributed Lloyd k-means (operators/kmeans.py): k=8,
    2 assign+update rounds from first-k-by-id init, over the embeddings
    table. E-step is a codegen'd plan-literal expression, M-step one
    map-side-partial decimal aggregate; the DuckDB twin unrolls the
    identical iterations (same init, same IEEE fold, same 9-decimal
    quantization) and reproduces every assignment."""
    from entity_linking_in_biomedical_spark.operators.kmeans import kmeans_assign

    emb = _t(spark, sf_dir, "embeddings")
    return kmeans_assign(emb, k=8, iters=2).orderBy("vec_id")


def _kmeans_ctes(k: int, iters: int, source: str = "embeddings") -> str:
    """The unrolled-Lloyd CTE chain shared by the kmeans / semantic-dedup
    twins: ``e`` (doubles view of ``source``) -> ``cl0`` (first-k-by-id
    init) -> (a{i}, s{i}/cl{i})* -> ``afinal`` (vec_id, c). ``source``
    is any relation visible in the enclosing WITH with (vec_id,
    embedding) columns."""

    # score(x, c) = c.c - 2 x.c (x.x constant per row); argmin by
    # (score, cluster id) — identical tie-break to the struct array_min
    def a_cte(name: str, cl: str) -> str:
        return f"""{name} as (
  select vec_id, c from (
    select e.vec_id, cl.c,
           row_number() over (partition by e.vec_id order by
             list_dot_product(cl.cv, cl.cv)
               - 2.0 * list_dot_product(e.v, cl.cv), cl.c) as rn
    from e cross join {cl} cl) where rn = 1
)"""

    def m_cte(s: str, a: str, prev: str, nxt: str) -> str:
        return f"""{s} as (
  select {a}.c, x.pos,
         cast(sum(cast(round(x.val, 9) as decimal(38,9))) as double) as sm,
         count(*) as n
  from {a} join (
    select vec_id, unnest(v) as val, unnest(range(1, len(v) + 1)) as pos
    from e) x using (vec_id)
  group by {a}.c, x.pos
), {nxt} as (
  select p.c, coalesce(nc.cv, p.cv) as cv
  from {prev} p left join (
    select c, list(round(sm / n, 9) order by pos) as cv
    from {s} group by c) nc using (c)
)"""

    ctes = [
        "e as (select vec_id, list_transform(embedding, x -> cast(x as double))"
        f" as v from {source})",
        f"""cl0 as (
  select row_number() over (order by vec_id) - 1 as c, v as cv
  from (select * from e order by vec_id limit {k}))""",
    ]
    for i in range(iters):
        ctes.append(a_cte(f"a{i + 1}", f"cl{i}"))
        ctes.append(m_cte(f"s{i + 1}", f"a{i + 1}", f"cl{i}", f"cl{i + 1}"))
    ctes.append(a_cte("afinal", f"cl{iters}"))
    return ",\n".join(ctes)


def _oracle_kmeans_clusters(k: int = 8, iters: int = 2) -> str:
    return f"""
with {_kmeans_ctes(k, iters)}
select vec_id, cast(c as int) as cluster from afinal order by vec_id
"""


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup (operators/dedup.semantic_dedup): k-means blocking +
    intra-cluster cosine prune, keep-lowest-id. The driver embeddings
    are isotropic (no organic pairs at cosine >= 0.9), so the query
    plants exact copies of vectors 0..9 at vec_id + max(vec_id)+1 —
    identical vectors get the identical plan-literal k-means assignment
    (same cluster, guaranteed comparable) and the planted rows must
    come back kept=0. The DuckDB twin replays the same augmentation,
    the identical unrolled Lloyd iterations (shared _kmeans_ctes), and
    the same intra-cluster prune rule — full value check over every
    row's (cluster, kept)."""
    from entity_linking_in_biomedical_spark.operators.dedup import semantic_dedup

    emb = _ts(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    off = emb.agg(F.max("vec_id") + 1).first()[0]
    planted = emb.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + F.lit(off)).alias("vec_id"), "embedding"
    )
    return semantic_dedup(
        emb.unionByName(planted), k=8, iters=2, cosine_threshold=0.9
    ).orderBy("vec_id")


def _oracle_semantic_dedup(k: int = 8, iters: int = 2, tau: float = 0.9) -> str:
    # cosine mirrors functions/vectors.cosine_sim exactly: denom =
    # sqrt(a.a) * sqrt(b.b) first, dot/denom guarded by denom > 0 —
    # the IEEE-identical association the embedding_dedup twin already
    # certifies bit-for-bit against the Spark kernel.
    cos = (
        "case when sqrt(list_dot_product(ea.v, ea.v))"
        " * sqrt(list_dot_product(eb.v, eb.v)) > 0"
        " then list_dot_product(ea.v, eb.v)"
        " / (sqrt(list_dot_product(ea.v, ea.v))"
        " * sqrt(list_dot_product(eb.v, eb.v)))"
        " else 0.0 end"
    )
    return f"""
with aug as (
  select vec_id, embedding from embeddings
  union all
  select vec_id + (select max(vec_id) + 1 from embeddings) as vec_id, embedding
  from embeddings where vec_id < 10
),
{_kmeans_ctes(k, iters, source="aug")},
dups as (
  select distinct b.vec_id
  from afinal a join afinal b on a.c = b.c and a.vec_id < b.vec_id
  join e ea on ea.vec_id = a.vec_id
  join e eb on eb.vec_id = b.vec_id
  where {cos} >= {tau}
)
select f.vec_id, cast(f.c as int) as cluster,
       cast(case when d.vec_id is null then 1 else 0 end as int) as kept
from afinal f left join dups d using (vec_id)
order by f.vec_id
"""


def q_bpe_merges(spark, sf_dir):
    """Distributed BPE merge learning (operators/bpe.py): the top-3
    freq-weighted symbol merges over the documents vocabulary. Corpus
    scanned once into (word, freq); each round is one vocab-table
    aggregate + an O(1) driver digest. Pure integer statistics — the
    DuckDB twin (recursive-CTE leftmost merges, provably the same
    non-overlapping match set as Spark's lookaround replace-all)
    reproduces the merge table exactly."""
    from entity_linking_in_biomedical_spark.operators.bpe import bpe_fit

    docs = _t(spark, sf_dir, "documents")
    rows = bpe_fit(docs, merges=3)
    return spark.createDataFrame(
        rows, "rank int, pair string, merged string, pair_count long"
    ).orderBy("rank")


def _bpe_p_cte(p: str, s: str) -> str:
    return f"""{p} as (
  select w1 || ' ' || w2 as pair, cast(sum(freq) as bigint) as cnt from (
    select freq, unnest(l[1:len(l)-1]) as w1, unnest(l[2:len(l)]) as w2
    from (select freq, string_split(trim(seq), ' ') as l from {s})
    where len(l) >= 2)
  group by pair
)"""


def _bpe_merge_ctes(r: str, snext: str, sprev: str, b: str) -> str:
    return f"""{r} as (
  select word, freq, seq, 0 as it from {sprev}
  union all
  select {r}.word, {r}.freq,
         regexp_replace({r}.seq, ' ' || {b}.pair || ' ',
                        ' ' || replace({b}.pair, ' ', '') || ' '),
         it + 1
  from {r} cross join {b}
  where position(' ' || {b}.pair || ' ' in {r}.seq) > 0
), {snext} as (
  select word, freq, seq from (
    select *, row_number() over (partition by word order by it desc) as rn
    from {r}) where rn = 1
)"""


def _bpe_fit_ctes(merges: int, through_final_merge: bool) -> tuple[list, list]:
    """The shared fit CTE chain: returns (ctes, per-round final selects).
    With ``through_final_merge`` the chain also applies the LAST merge,
    leaving s{merges} holding the fully-merged word seqs (encode path)."""
    ctes = [
        f"""w0 as (
  select word, cast(count(*) as bigint) as freq
  from (select unnest({_TOKS}) as word from documents)
  group by word
), s0 as (
  select word, freq,
         ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') as seq
  from w0
)"""
    ]
    finals = []
    for i in range(1, merges + 1):
        ctes.append(_bpe_p_cte(f"p{i}", f"s{i - 1}"))
        ctes.append(
            f"b{i} as (select pair, cnt from p{i} order by cnt desc, pair limit 1)"
        )
        if i < merges or through_final_merge:
            ctes.append(_bpe_merge_ctes(f"r{i}", f"s{i}", f"s{i - 1}", f"b{i}"))
        finals.append(
            f"select {i} as rank, pair, replace(pair, ' ', '') as merged,"
            f" cnt as pair_count from b{i}"
        )
    return ctes, finals


def _oracle_bpe_merges(merges: int = 3) -> str:
    ctes, finals = _bpe_fit_ctes(merges, through_final_merge=False)
    joined = ",\n".join(ctes)
    unioned = "\nunion all ".join(finals)
    return f"""
with recursive {joined}
select cast(rank as int) as rank, pair, merged, pair_count
from ({unioned}) order by rank
"""


def q_bpe_encode(spark, sf_dir):
    """Tokenize the corpus with the fitted merge table
    (operators/bpe.py::bpe_encode_pieces): per doc, whitespace tokens
    and BPE pieces after the 3 learned merges — merges apply to the
    distinct-word table, one word-keyed join fans the piece counts
    back, all-integer so the DuckDB twin replays it exactly."""
    from entity_linking_in_biomedical_spark.operators.bpe import (
        bpe_encode_pieces,
        bpe_fit,
    )

    docs = _t(spark, sf_dir, "documents")
    merges = bpe_fit(docs, merges=3)
    return bpe_encode_pieces(docs, merges).orderBy("doc_id")


def _oracle_bpe_encode(merges: int = 3) -> str:
    ctes, _ = _bpe_fit_ctes(merges, through_final_merge=True)
    joined = ",\n".join(ctes)
    return f"""
with recursive {joined},
pieces as (
  select word, cast(len(string_split(trim(seq), ' ')) as bigint) as p
  from s{merges}
), dw as (
  select doc_id, word, cast(count(*) as bigint) as k
  from (select doc_id, unnest({_TOKS}) as word from documents)
  group by doc_id, word
)
select dw.doc_id,
       cast(sum(dw.k) as bigint) as n_tokens,
       cast(sum(dw.k * pieces.p) as bigint) as n_pieces
from dw join pieces using (word)
group by dw.doc_id order by dw.doc_id
"""


# ---- similarity search over embeddings ------------------------------------


def q_ann_brute_force(spark, sf_dir):
    emb = _ts(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    return brute_force_topk(queries, emb, k=5).orderBy("q_id", "rank")


# cast float[] -> double[] before any arithmetic so DuckDB matches the
# Spark double path bit-for-bit (list_cosine_similarity on float[] stays
# in float32 and diverges in the 7th decimal)
ORACLE_ANN = """
with q as (select vec_id, list_transform(embedding, x -> cast(x as double)) as v
           from embeddings where vec_id < 5),
     d as (select vec_id, list_transform(embedding, x -> cast(x as double)) as v
           from embeddings)
select q_id, vec_id, cosine, rank from (
  select q.vec_id as q_id, d.vec_id as vec_id,
         round(case when sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(d.v, d.v)) > 0
                    then list_dot_product(q.v, d.v) /
                         (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(d.v, d.v)))
                    else 0.0 end, 6) as cosine,
         row_number() over (partition by q.vec_id
                            order by (list_dot_product(q.v, d.v) /
                                      (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(d.v, d.v)))) desc,
                            d.vec_id asc) as rank
  from q cross join d
) where rank <= 5 order by q_id, rank
"""


def q_ann_lsh(spark, sf_dir):
    """Banded multi-table SRP-LSH ANN, checked as a *recall contract*:
    per query, emit whether the LSH index recovered >= 90% of the exact
    cosine top-k (computed in Spark by brute_force_topk). The oracle is
    the contract itself — every query must satisfy it — so the driver
    value-checks the approximate index without needing a SQL twin of
    the hyperplane arithmetic. Recall values themselves are
    deterministic (md5-seeded planes, no RNG)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    # Index sizing: the driver embeddings are ISOTROPIC random vectors
    # (true top-5 sit at cosine ~0.3, measured), so honest >=0.9 recall
    # needs wide probing — 16 tables x 4 bits x 2 probes. On real
    # clustered embeddings (neighbors at cosine >=0.8) the identical
    # machinery prunes to a tiny candidate fraction; the parameters are
    # the dial, the join shape is unchanged.
    rec = lsh_recall_at_k(queries, emb, k=5, n_tables=16, bits=4, multiprobe=2)
    return rec.select(
        "q_id",
        F.col("k").cast("int").alias("k"),
        (F.col("recall") >= 0.9).alias("recall_ok"),
    ).orderBy("q_id")


ORACLE_ANN_LSH = """
select vec_id as q_id, cast(5 as int) as k, true as recall_ok
from embeddings where vec_id < 5 order by q_id
"""


def q_ann_ivf(spark, sf_dir):
    """IVF (inverted-file) ANN, checked as a recall contract like
    q_ann_lsh. The driver embeddings are ISOTROPIC random vectors —
    IVF's documented worst case (no cluster structure for the coarse
    quantizer to exploit), so the contract here is recall >= 0.8 at
    nprobe=12/16 (75% scan). On clustered embeddings — the actual
    deployment regime — the same operator hits recall >= 0.9 scanning
    10% of the database (tests/test_dedup_similarity.py::
    test_ivf_recall_on_clustered_data). Fully deterministic: md5-ordered
    sample, first-k init, fixed Lloyd iterations."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    rec = ivf_recall_at_k(queries, emb, k=5, n_centroids=16, nprobe=12)
    return rec.select(
        "q_id",
        F.col("k").cast("int").alias("k"),
        (F.col("recall") >= 0.8).alias("recall_ok"),
    ).orderBy("q_id")


ORACLE_ANN_IVF = """
select vec_id as q_id, cast(5 as int) as k, true as recall_ok
from embeddings where vec_id < 5 order by q_id
"""


def q_embedding_dedup(spark, sf_dir):
    """Embedding-cosine near-dup (banded SRP-LSH + exact verify). The
    driver embeddings are isotropic (no organic pairs at cosine >= 0.9
    — verified by the brute-force oracle), so the query plants exact
    copies of vectors 0..9 at vec_id + max(vec_id)+1 inside the query
    (derived from the data, so ids stay unique at every sf); the DuckDB
    twin performs the identical augmentation and a full O(n^2) verify,
    so every planted pair must be recovered by the LSH index with the
    exact same cosine — a full-recall value check, not rows-only.
    Identical vectors share every SRP bucket deterministically, so
    recall on the planted pairs is exactly 1."""
    import math

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # plant above max(vec_id) so ids stay unique at every sf (a fixed
    # +10000 offset would collide once the table has >10k rows); the same
    # agg row carries the count for the bits sizing below
    off, n = emb.agg(F.max("vec_id") + 1, F.count("*")).first()
    planted = emb.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + F.lit(off)).alias("vec_id"), "embedding"
    )
    # the O(n^2) DuckDB twin does not model the max_bucket drop rule, so
    # the index must stay drop-free here: scale bits with table size so
    # a uniform SRP bucket holds ~12 rows << max_bucket=50 at every sf
    # (at 8 bits / 256 buckets, a >13k-row table would overflow EVERY
    # bucket and silently drop the planted pairs). Identical planted
    # vectors collide in all tables at any bits, so recall stays 1.
    bits = max(8, math.ceil(math.log2(max((n + 10) / 12, 1))))
    return embedding_near_duplicates(
        emb.unionByName(planted), cosine_threshold=0.9, bits=bits
    ).orderBy("a_id", "b_id")


# note a_id < b_id is a STRING comparison in the operator (ids are cast
# to string for the generic channel) — the twin compares varchar too
ORACLE_EMB_DEDUP = """
with aug as (
  select vec_id, embedding from embeddings
  union all
  select vec_id + (select max(vec_id) + 1 from embeddings) as vec_id, embedding
  from embeddings where vec_id < 10
), v as (
  select cast(vec_id as varchar) as id,
         list_transform(embedding, x -> cast(x as double)) as vv
  from aug
)
select a.id as a_id, b.id as b_id,
       round(list_dot_product(a.vv, b.vv) /
             (sqrt(list_dot_product(a.vv, a.vv)) * sqrt(list_dot_product(b.vv, b.vv))),
             6) as cosine
from v a join v b on a.id < b.id
where list_dot_product(a.vv, b.vv) /
      (sqrt(list_dot_product(a.vv, a.vv)) * sqrt(list_dot_product(b.vv, b.vv))) >= 0.9
order by a_id, b_id
"""


def _docs_with_media(spark, sf_dir):
    """documents table wrapped to the engine shape with one media span
    appended per document (media_ref = img://<doc_id>, span_seq = 1)."""
    from entity_linking_in_biomedical_spark.sources.loaders import (
        wrap_flat_documents,
    )

    return wrap_flat_documents(
        _t(spark, sf_dir, "documents").select("doc_id", "text")
    ).select(
        "doc_id",
        F.concat(
            "spans",
            F.array(
                F.struct(
                    F.lit("media").alias("kind"),
                    F.lit(None).cast("string").alias("text"),
                    F.concat(F.lit("img://"), F.col("doc_id")).alias("media_ref"),
                    F.lit(1).alias("offset"),
                )
            ),
        ).alias("spans"),
    )


def q_media_dedup(spark, sf_dir):
    """Span-level media-asset dedup over interleaved documents
    (operators/multimodal.drop_duplicate_media): every doc carries one
    text span + a SHARED media ref (img://shared-<doc_id mod 50> — ~10
    docs collide per ref) + a unique media ref; only the first
    (doc_id, pos) occurrence of each shared ref survives, span order
    preserved. Output = per-doc surviving span count + the media refs
    left, in order."""
    from entity_linking_in_biomedical_spark.operators.multimodal import (
        drop_duplicate_media,
    )

    d = F.col("doc_id")

    def _m(ref):
        return F.struct(
            F.lit("media").alias("kind"),
            F.lit(None).cast("string").alias("text"),
            ref.alias("media_ref"),
            F.lit(1).alias("offset"),
        )

    docs = _t(spark, sf_dir, "documents").select(
        d.cast("string").alias("doc_id"),
        F.array(
            F.struct(
                F.lit("text").alias("kind"),
                F.col("text").alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                F.lit(0).alias("offset"),
            ),
            _m(F.concat(F.lit("img://shared-"), (d % 50).cast("string"))),
            _m(F.concat(F.lit("img://uniq-"), d.cast("string"))),
        ).alias("spans"),
    )
    out = drop_duplicate_media(docs)
    return out.select(
        "doc_id",
        F.size("spans").cast("long").alias("n_spans"),
        F.concat_ws(
            ",",
            F.transform(
                F.filter("spans", lambda s: s["kind"] == "media"),
                lambda s: s["media_ref"],
            ),
        ).alias("media_csv"),
    ).orderBy("doc_id")


ORACLE_MEDIA_DEDUP = """
with d as (
  select cast(doc_id as varchar) as doc_id, doc_id % 50 as grp from documents
),
media as (
  select doc_id, 1 as pos, 'img://shared-' || cast(grp as varchar) as ref from d
  union all
  select doc_id, 2 as pos, 'img://uniq-' || doc_id as ref from d
),
flagged as (
  select doc_id, pos, ref,
         row_number() over (partition by ref order by doc_id, pos) as rn
  from media
),
kept as (select doc_id, pos, ref from flagged where rn = 1)
select d.doc_id,
       cast(1 + count(k.pos) as bigint) as n_spans,
       coalesce(string_agg(k.ref, ',' order by k.pos), '') as media_csv
from d left join kept k using (doc_id)
group by d.doc_id
order by doc_id
"""


def q_interleaved_stats(spark, sf_dir):
    """Span-shape corpus profile over the input_hint table
    (operators/multimodal.interleaved_profile): per source — docs,
    spans, media assets, text chars, mean per-doc media fraction.
    Spans planted per doc: one text span plus doc_id%3 media spans, so
    sources differ in media density non-vacuously. Per-doc metrics are
    one row-local higher-order aggregate (zero shuffles), rollup is one
    map-side-partial groupBy."""
    from entity_linking_in_biomedical_spark.operators.multimodal import (
        interleaved_profile,
    )

    d = F.col("doc_id")
    text_span = F.struct(
        F.lit("text").alias("kind"),
        F.col("text").alias("text"),
        F.lit(None).cast("string").alias("media_ref"),
        F.lit(0).alias("offset"),
    )
    # sequence(1, 0) DESCENDS to [1, 0] in Spark — guard the 0-media case
    seq = F.when(d % 3 > 0, F.sequence(F.lit(1), d % 3)).otherwise(
        F.array().cast("array<bigint>")
    )
    media_spans = F.transform(
        seq,
        lambda i: F.struct(
            F.lit("media").alias("kind"),
            F.lit(None).cast("string").alias("text"),
            F.concat(F.lit("img://"), d.cast("string"), F.lit("-"), i).alias(
                "media_ref"
            ),
            i.cast("int").alias("offset"),
        ),
    )
    docs = _t(spark, sf_dir, "documents").select(
        "source",
        F.concat(F.array(text_span), media_spans).alias("spans"),
    )
    return interleaved_profile(docs, group_col="source").orderBy("source")


ORACLE_INTERLEAVED_STATS = """
with d as (
  select source, length(text) as tc, doc_id % 3 as nm from documents
),
per as (
  select source, 1 + nm as n_spans, nm as n_media, tc as text_chars,
         cast(nm as double) / (1 + nm) as media_frac
  from d
)
select source, cast(count(*) as bigint) as n_docs,
       cast(sum(n_spans) as bigint) as n_spans,
       cast(sum(n_media) as bigint) as n_media,
       cast(sum(text_chars) as bigint) as text_chars,
       round(avg(media_frac), 6) as avg_media_frac
from per group by source order by source
"""


def q_media_dedup_incremental(spark, sf_dir):
    """Incremental media-asset dedup (operators/multimodal.
    dedup_media_batch): even-id docs form the persisted corpus whose
    build_media_index is the INDEX; odd-id docs are the arriving
    snapshot. Each batch doc carries one text span + an INDEXED ref
    (img://shared-<(id+1)%50> — even group, so always in the index:
    dropped via the index semi-join), a BATCH-shared fresh ref
    (img://batch-<id%30> — ~16 docs collide: keep-first by (doc_id,
    pos) within the snapshot), and a unique fresh ref (kept). Output =
    per-batch-doc surviving span count + surviving media refs in
    order, same projection as media_dedup."""
    from entity_linking_in_biomedical_spark.operators.multimodal import (
        build_media_index,
        dedup_media_batch,
    )

    d = F.col("doc_id")

    def _m(ref):
        return F.struct(
            F.lit("media").alias("kind"),
            F.lit(None).cast("string").alias("text"),
            ref.alias("media_ref"),
            F.lit(1).alias("offset"),
        )

    def _txt():
        return F.struct(
            F.lit("text").alias("kind"),
            F.col("text").alias("text"),
            F.lit(None).cast("string").alias("media_ref"),
            F.lit(0).alias("offset"),
        )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter(d % 2 == 0).select(
        d.cast("string").alias("doc_id"),
        F.array(
            _txt(),
            _m(F.concat(F.lit("img://shared-"), (d % 50).cast("string"))),
            _m(F.concat(F.lit("img://uniq-"), d.cast("string"))),
        ).alias("spans"),
    )
    batch = docs.filter(d % 2 == 1).select(
        d.cast("string").alias("doc_id"),
        F.array(
            _txt(),
            _m(
                F.concat(
                    F.lit("img://shared-"), ((d + 1) % 50).cast("string")
                )
            ),
            _m(F.concat(F.lit("img://batch-"), (d % 30).cast("string"))),
            _m(F.concat(F.lit("img://uniq-"), d.cast("string"))),
        ).alias("spans"),
    )
    out = dedup_media_batch(batch, build_media_index(corpus))
    return out.select(
        "doc_id",
        F.size("spans").cast("long").alias("n_spans"),
        F.concat_ws(
            ",",
            F.transform(
                F.filter("spans", lambda s: s["kind"] == "media"),
                lambda s: s["media_ref"],
            ),
        ).alias("media_csv"),
    ).orderBy("doc_id")


ORACLE_MEDIA_DEDUP_INCREMENTAL = """
with ev as (select doc_id from documents where doc_id % 2 = 0),
idx as (
  select distinct 'img://shared-' || cast(doc_id % 50 as varchar) as ref from ev
  union
  select 'img://uniq-' || cast(doc_id as varchar) from ev
),
od as (
  select cast(doc_id as varchar) as doc_id, doc_id as id
  from documents where doc_id % 2 = 1
),
media as (
  select doc_id, 1 as pos,
         'img://shared-' || cast((id + 1) % 50 as varchar) as ref from od
  union all
  select doc_id, 2, 'img://batch-' || cast(id % 30 as varchar) from od
  union all
  select doc_id, 3, 'img://uniq-' || cast(id as varchar) from od
),
fresh as (
  select m.* from media m
  where not exists (select 1 from idx i where i.ref = m.ref)
),
ranked as (
  select doc_id, pos, ref,
         row_number() over (partition by ref order by doc_id, pos) as rn
  from fresh
),
kept as (select doc_id, pos, ref from ranked where rn = 1)
select o.doc_id,
       cast(1 + count(k.pos) as bigint) as n_spans,
       coalesce(string_agg(k.ref, ',' order by k.pos), '') as media_csv
from od o left join kept k using (doc_id)
group by o.doc_id
order by doc_id
"""


def q_curate_interleaved(spark, sf_dir):
    """Composed multimodal curation (plans/curate.curate_interleaved):
    span-shaped docs (text span + shared media ref img://shared-<id%50>
    + unique media ref; every 7th doc re-emitted under doc_id+1000000 so
    the exact-dedup gate bites) -> media keep-first dedup -> lang 'en'
    gate -> quality>=0.3 gate -> exact keep-first on the PROJECTED text
    (concat of text spans) -> survivors back in span shape. Output =
    per-survivor span count + surviving media refs in order."""
    from entity_linking_in_biomedical_spark.plans.curate import (
        CurateConfig,
        curate_interleaved,
    )

    base = _t(spark, sf_dir, "documents").select("doc_id", "text")
    planted = base.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    flat = base.unionByName(planted)
    d = F.col("doc_id")

    def _m(ref):
        return F.struct(
            F.lit("media").alias("kind"),
            F.lit(None).cast("string").alias("text"),
            ref.alias("media_ref"),
            F.lit(1).alias("offset"),
        )

    docs = flat.select(
        d.cast("string").alias("doc_id"),
        F.array(
            F.struct(
                F.lit("text").alias("kind"),
                F.col("text").alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                F.lit(0).alias("offset"),
            ),
            _m(F.concat(F.lit("img://shared-"), (d % 50).cast("string"))),
            _m(F.concat(F.lit("img://uniq-"), d.cast("string"))),
        ).alias("spans"),
    )
    res = curate_interleaved(docs, cfg=CurateConfig(near_dup=False))
    return res["clean"].select(
        "doc_id",
        F.size("spans").cast("long").alias("n_spans"),
        F.concat_ws(
            ",",
            F.transform(
                F.filter("spans", lambda s: s["kind"] == "media"),
                lambda s: s["media_ref"],
            ),
        ).alias("media_csv"),
    ).orderBy("doc_id")


def _oracle_curate_interleaved() -> str:
    return f"""
with flat as (
  select cast(doc_id as varchar) as doc_id, doc_id % 50 as grp, text
  from documents
  union all
  select cast(doc_id + 1000000 as varchar), (doc_id + 1000000) % 50, text
  from documents where doc_id % 7 = 0
),
media as (
  select doc_id, 1 as pos, 'img://shared-' || cast(grp as varchar) as ref from flat
  union all
  select doc_id, 2 as pos, 'img://uniq-' || doc_id as ref from flat
),
kept_media as (
  select doc_id, pos, ref from (
    select doc_id, pos, ref,
           row_number() over (partition by ref order by doc_id, pos) as rn
    from media) where rn = 1
),
feat as (
  select doc_id, text, length(text) as n_chars,
         length(regexp_replace(lower(text), '[^a-z]', '', 'g')) as alpha,
         {_TOKS} as toks
  from flat
),
gated as (
  select doc_id, text from (
    select doc_id, text, {_EN_RATIO} as en, {_ES_RATIO} as es,
           {_QUALITY_EXPR} as q
    from feat)
  where en >= es and en > 0.02 and q >= 0.3
),
survivors as (
  select doc_id from (
    select doc_id,
           row_number() over (partition by md5(text) order by doc_id) as rn
    from gated) where rn = 1
)
select s.doc_id,
       cast(1 + count(k.pos) as bigint) as n_spans,
       coalesce(string_agg(k.ref, ',' order by k.pos), '') as media_csv
from survivors s left join kept_media k using (doc_id)
group by s.doc_id order by s.doc_id
"""


def q_media_features(spark, sf_dir):
    """Multimodal plumbing (S6-adjacent training-data path): attach one
    media span per document (media_ref = img://<doc_id>) and run the
    mapInPandas decode/featurize pipeline with the deterministic fake
    decoder (md5-derived dims + 8-d feature — the honest stand-in for
    the absent codec libraries; see operators/multimodal.py). The DuckDB
    twin reproduces the md5 byte arithmetic, so schema, batch plumbing,
    AND kernel values are all driver-checked."""
    from entity_linking_in_biomedical_spark.operators.multimodal import (
        extract_media_features,
    )

    feats = extract_media_features(_docs_with_media(spark, sf_dir))
    # the feature vector is projected to a comma-joined fixed-6-decimal
    # string: the driver's canonicalizer sorts result columns in pandas
    # and list values are unhashable, so both engines emit the same
    # sortable scalar (round-then-format keeps the doubles identical on
    # both sides, so the HALF_UP-vs-half-even printf difference can
    # never bite — the rounded value sits ~1e-10 from a 6-decimal point,
    # nowhere near the 5e-7 format midpoint)
    return feats.select(
        "doc_id",
        "span_seq",
        "media_ref",
        "width",
        "height",
        "n_frames",
        F.concat_ws(
            ",",
            F.transform(
                "feature",
                lambda x: F.format_string("%.6f", F.round(x.cast("double"), 6)),
            ),
        ).alias("feature_csv"),
    ).orderBy("doc_id")


def _oracle_media_features() -> str:
    """DuckDB twin of fake_decoder's md5 byte arithmetic."""

    def hexbyte(i: int) -> str:
        return (
            f"((strpos('0123456789abcdef', substr(h,{2 * i + 1},1))-1)*16 + "
            f"(strpos('0123456789abcdef', substr(h,{2 * i + 2},1))-1))"
        )

    feature = (
        "concat_ws(',', "
        + ", ".join(
            f"printf('%.6f', round(cast(cast({hexbyte(i)}/255.0 as float) as double), 6))"
            for i in range(3, 11)
        )
        + ")"
    )
    return f"""
with m as (
  select cast(doc_id as varchar) as doc_id,
         md5('img://' || cast(doc_id as varchar)) as h
  from documents
)
select doc_id, cast(1 as int) as span_seq,
       'img://' || doc_id as media_ref,
       cast(64 + {hexbyte(0)} as int) as width,
       cast(64 + {hexbyte(1)} as int) as height,
       cast(1 + {hexbyte(2)} % 8 as int) as n_frames,
       {feature} as feature_csv
from m order by doc_id
"""


def q_sample_frames(spark, sf_dir):
    """Video frame sampling over the media spans: up to k=3 evenly
    spaced frame indices per media span (index selection pure JVM —
    sequence/transform/explode), each frame featurized by the batched
    fake decoder on ``ref#<frame_idx>``. The DuckDB twin reproduces the
    index arithmetic (floor(i*n_frames/min(k,n_frames))) and the
    per-frame md5 feature bytes, so the whole explode+mapInPandas
    plumbing is value-checked."""
    from entity_linking_in_biomedical_spark.operators.multimodal import (
        extract_media_features,
        sample_frames,
    )

    frames = sample_frames(extract_media_features(_docs_with_media(spark, sf_dir)), k=3)
    return frames.select(
        "doc_id",
        "span_seq",
        "media_ref",
        "frame_idx",
        F.concat_ws(
            ",",
            F.transform(
                "frame_feature",
                lambda x: F.format_string("%.6f", F.round(x.cast("double"), 6)),
            ),
        ).alias("frame_feature_csv"),
    ).orderBy("doc_id", "frame_idx")


def _oracle_sample_frames(k: int = 3) -> str:
    """DuckDB twin of sample_frames over fake_decoder: n_frames from
    md5(media_ref) byte 2, frame indices floor(i*n_frames/min(k,n)),
    per-frame feature from md5(media_ref || '#' || idx) bytes 3..10."""

    def hexbyte(col: str, i: int) -> str:
        return (
            f"((strpos('0123456789abcdef', substr({col},{2 * i + 1},1))-1)*16 + "
            f"(strpos('0123456789abcdef', substr({col},{2 * i + 2},1))-1))"
        )

    feature = (
        "concat_ws(',', "
        + ", ".join(
            f"printf('%.6f', round(cast(cast({hexbyte('h2', i)}/255.0 as float) as double), 6))"
            for i in range(3, 11)
        )
        + ")"
    )
    return f"""
with m as (
  select cast(doc_id as varchar) as doc_id,
         'img://' || cast(doc_id as varchar) as media_ref,
         md5('img://' || cast(doc_id as varchar)) as h
  from documents
), mf as (
  select doc_id, media_ref,
         cast(1 + {hexbyte('h', 2)} % 8 as int) as n_frames
  from m
), fr as (
  select doc_id, media_ref, n_frames,
         cast(floor(cast(i * n_frames as double) / least(n_frames, {k})) as int)
           as frame_idx
  from (select *, unnest(generate_series(0, least(n_frames, {k}) - 1)) as i from mf)
), f2 as (
  select doc_id, media_ref, frame_idx,
         md5(media_ref || '#' || cast(frame_idx as varchar)) as h2
  from fr
)
select doc_id, cast(1 as int) as span_seq, media_ref, frame_idx,
       {feature} as frame_feature_csv
from f2 order by doc_id, frame_idx
"""


def q_simhash_dedup(spark, sf_dir):
    """SimHash near-dup pairs; DuckDB twin reproduces the md5 token
    hashing, the 60-bit vote fold, the decimal block keys, the bucket
    cap, and the Hamming verify bit-for-bit."""
    return simhash_near_duplicates(_ts(spark, sf_dir, "documents")).orderBy("a_id", "b_id")


def _oracle_simhash_dedup(
    max_hamming=SIMHASH_MAX_HAMMING,
    block_bits=SIMHASH_BLOCK_BITS,
    n_blocks=SIMHASH_N_BLOCKS,
    max_bucket=SIMHASH_MAX_BUCKET,
) -> str:
    """DuckDB twin of simhash_near_duplicates. The 60-bit simhash is
    generated programmatically: bit b is set iff more token hashes have
    bit b set than clear (ties -> clear, matching the Spark fold's
    vote > 0)."""
    toks = TOKENS_SQL.format(col="text")
    hs = f"list_transform({toks}, x -> ('0x' || substr(md5(x), 1, 15))::bigint)"
    bit_terms = " + ".join(
        f"(case when 2 * len(list_filter(hs, h -> (h >> {b}) & 1 = 1)) > len(hs) "
        f"then (1::bigint << {b}) else 0 end)"
        for b in range(60)
    )
    mask = (1 << block_bits) - 1
    blk_terms = ", ".join(
        f"'{b}:' || cast((sh >> {b * block_bits}) & {mask} as varchar)"
        for b in range(n_blocks)
    )
    return f"""
with h0 as (
  select cast(doc_id as varchar) as doc_id, {hs} as hs from documents
),
s as (select doc_id, ({bit_terms}) as sh from h0),
blocked as (select doc_id, sh, unnest([{blk_terms}]) as blk from s),
ok as (select blk from blocked group by blk having count(*) <= {max_bucket}),
b2 as (select blocked.* from blocked join ok using (blk)),
pairs as (
  select distinct x.doc_id as a_id, y.doc_id as b_id, x.sh as a_sh, y.sh as b_sh
  from b2 x join b2 y using (blk) where x.doc_id < y.doc_id
)
select a_id, b_id, cast(bit_count(xor(a_sh, b_sh)) as int) as hamming
from pairs where bit_count(xor(a_sh, b_sh)) <= {max_hamming}
order by a_id, b_id
"""


def q_semi_hard_negatives(spark, sf_dir):
    """W3 (batch_sampler.py:242-264): per customer, 'positive' orders
    are the URGENT ones; pick the semi-hard negative — the priciest
    non-urgent order strictly inside (best_pos - margin, best_pos) —
    falling back to the cheapest negative if any negative outprices the
    positive, else the priciest."""
    from entity_linking_in_biomedical_spark.operators.negatives import (
        semi_hard_negatives,
    )

    orders = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 500)
    pairs = orders.select(
        F.col("o_custkey").alias("anchor"),
        F.col("o_orderkey").alias("cand"),
        F.round(F.col("o_totalprice").cast("decimal(18,2)"), 2).cast("double").alias("score"),
        (F.col("o_orderpriority") == "1-URGENT").alias("is_pos"),
    )
    return (
        semi_hard_negatives(pairs, margin=20000.0)
        .select("anchor", "cand", "score", "kind")
        .orderBy("anchor")
    )


ORACLE_SEMI_HARD = """
with pairs as (
  select o_custkey as anchor, o_orderkey as cand,
         cast(round(cast(o_totalprice as decimal(18,2)), 2) as double) as score,
         (o_orderpriority = '1-URGENT') as is_pos
  from orders where o_custkey < 500
),
pos as (select anchor, max(score) as pos from pairs where is_pos group by anchor),
negs as (
  select p.anchor, p.cand, p.score, o.pos,
         (p.score < o.pos and p.score > o.pos - 20000.0) as in_band
  from pairs p join pos o using (anchor) where not p.is_pos
),
kinds as (
  select anchor, bool_or(in_band) as has_band, bool_or(score >= pos) as any_ge
  from negs group by anchor
),
eligible as (
  select n.anchor, n.cand, n.score,
         case when k.has_band then 'semi_hard'
              when k.any_ge then 'easiest' else 'hardest' end as kind
  from negs n join kinds k using (anchor)
  where n.in_band or not k.has_band
),
ranked as (
  select *, row_number() over (
    partition by anchor
    order by (case when kind = 'easiest' then score else -score end) asc, cand asc
  ) as rk
  from eligible
)
select anchor, cand, score, kind from ranked where rk = 1 order by anchor
"""


def q_er_synthetic(spark, sf_dir):
    """Full three-stage ER pipeline on the deterministic synthetic
    corpus (no external data; seeded) — value-checked against
    er_golden.py, the frozen output of the single-node pandas oracle
    (tests/oracle_impl.py — independent union-find implementation of
    the same math). tools/gen_er_golden.py regenerates the golden;
    tests/test_entry_oracle.py guards it against drift."""
    from entity_linking_in_biomedical_spark.plans.pipeline import run_pipeline
    from entity_linking_in_biomedical_spark.sources.synthetic import synth_corpus

    corpus = synth_corpus(n_docs=60, n_entities=30, seed=42)
    docs, ents, _, abbr, _ = corpus.to_spark(spark)
    emb = corpus.embeddings_df(spark)
    res = run_pipeline(spark, docs, ents, embeddings=emb, abbr_map=abbr)
    return res["mention_clusters"].orderBy("doc_id", "span_seq")


def q_er_incremental(spark, sf_dir):
    """Snapshot-composed ER (plans/incremental_er.link_snapshot): the
    SAME synthetic corpus as er_synthetic, linked in TWO snapshots
    (doc-hash parity split) with the second folded into the first's
    persisted assignments via the contracted-graph cluster merge — and
    relabeled against the merged state. Oracle: the identical frozen
    golden as er_synthetic, because mention→entity decisions are
    per-surface against the static dictionary (split-invariant) and
    the merged clustering is the transitive closure of both runs'
    edges; hash-equality here IS the incremental==batch proof on this
    corpus."""
    from entity_linking_in_biomedical_spark.plans.incremental_er import (
        link_snapshot,
        relabel_mentions,
    )
    from entity_linking_in_biomedical_spark.sources.synthetic import synth_corpus

    corpus = synth_corpus(n_docs=60, n_entities=30, seed=42)
    docs, ents, _, abbr, _ = corpus.to_spark(spark)
    emb = corpus.embeddings_df(spark)
    half = F.abs(F.hash("doc_id")) % 2 == 0
    r1 = link_snapshot(
        spark, docs.filter(half), ents, None, embeddings=emb, abbr_map=abbr
    )
    state = r1["assignments"].localCheckpoint()
    r2 = link_snapshot(
        spark, docs.filter(~half), ents, state, embeddings=emb, abbr_map=abbr
    )
    merged = r2["assignments"]
    return (
        relabel_mentions(r1["mentions"], merged)
        .unionByName(relabel_mentions(r2["mentions"], merged))
        .orderBy("doc_id", "span_seq")
    )


def _oracle_er_synthetic() -> str:
    """Golden-values twin of q_er_synthetic: the pandas oracle's
    clustering, frozen as a VALUES literal (see er_golden.py)."""
    from er_golden import ROWS

    def esc(s: str) -> str:
        return s.replace("'", "''")

    values = ",\n".join(
        f"('{esc(doc_id)}', {seq}, '{esc(surface)}', '{esc(norm)}', '{esc(cid)}')"
        for doc_id, seq, surface, norm, cid in ROWS
    )
    return (
        "select doc_id, cast(span_seq as int) as span_seq, surface, norm, cluster_id\n"
        f"from (values\n{values}\n) as t(doc_id, span_seq, surface, norm, cluster_id)\n"
        "order by doc_id, span_seq"
    )



def q_lm_nll(spark, sf_dir):
    """Bigram-LM perplexity filter (CCNet-style, Wenzek et al. 2020):
    fit add-0.5-smoothed bigram counts over documents with a
    20-type vocab cap (everything else -> <unk>; the synthetic table
    has 31 distinct tokens, so the cap genuinely binds and oov_ratio is
    non-vacuous), then score each
    >=2-token doc's average bigram negative log likelihood
    (perplexity = e^avg_nll). operators/lm.py; per-bigram
    contributions are decimal(38,9)-quantized so the per-doc sum is
    order-free and the DuckDB twin can replay it exactly."""
    from entity_linking_in_biomedical_spark.operators.lm import bigram_lm_nll

    docs = _t(spark, sf_dir, "documents")
    return bigram_lm_nll(docs, vocab_cap=20, alpha=0.5).orderBy("doc_id")


ORACLE_LM_NLL = f"""
with base as (
  select doc_id, {_TOKS} as toks from documents
), base2 as (
  select doc_id, toks from base where len(toks) >= 2
), tok as (
  select unnest(toks) as w from base
), vocab as (
  select w from (
    select w, count(*) as c from tok group by w order by c desc, w limit 20)
), pairs as (
  select doc_id,
         unnest(toks[1:len(toks)-1]) as w1r,
         unnest(toks[2:len(toks)]) as w2r
  from base2
), mapped as (
  select doc_id,
         case when w1r in (select w from vocab) then w1r else '<unk>' end as w1,
         case when w2r in (select w from vocab) then w2r else '<unk>' end as w2
  from pairs
), bg as (
  select doc_id, w1, w2, count(*) as k from mapped group by doc_id, w1, w2
), cb as (
  select w1, w2, sum(k) as cb from bg group by w1, w2
), cu as (
  select w1, sum(cb) as cu from cb group by w1
), v as (
  select count(distinct w) as v_size from (
    select w1 as w from cb union select w2 as w from cb)
), scored as (
  select bg.doc_id, bg.k, bg.w1, bg.w2,
         cast(bg.k * round(ln(cu.cu + 0.5 * v.v_size) - ln(cb.cb + 0.5), 9)
              as decimal(38,9)) as contrib
  from bg
  join cb using (w1, w2)
  join cu using (w1)
  cross join v
)
select doc_id,
  cast(sum(k) as bigint) as n_bigrams,
  round(sum(((case when w1 = '<unk>' then 1 else 0 end)
           + (case when w2 = '<unk>' then 1 else 0 end)) * k)
        / (2.0 * sum(k)), 6) as oov_ratio,
  round(cast(sum(contrib) as double) / sum(k), 6) as avg_nll
from scored group by doc_id order by doc_id
"""



def q_pack_sequences(spark, sf_dir):
    """GPT-style concat-and-chunk packing manifest at seq_len=256 over
    documents (operators/packing.py): which token-slice of which doc
    lands in which fixed-length training sequence. The Spark side runs
    the two-level distributed prefix sum (bucketed running sums +
    broadcast bucket offsets); the oracle replays the same layout with
    a single window cumsum — same manifest, different execution."""
    from entity_linking_in_biomedical_spark.operators.packing import pack_sequences

    docs = _t(spark, sf_dir, "documents")
    return pack_sequences(docs, 256, bucket_size=100).orderBy("seq_id", "doc_id")


ORACLE_PACK_SEQUENCES = f"""
with n as (
  select doc_id, cast(len({_TOKS}) as bigint) as L from documents
  where len({_TOKS}) > 0
), o as (
  select doc_id, L,
         coalesce(sum(L) over (order by doc_id
            rows between unbounded preceding and 1 preceding), 0) as o
  from n
), frag as (
  select doc_id, L, o, unnest(range(cast(o // 256 as bigint),
                               cast((o + L - 1) // 256 + 1 as bigint))) as seq_id
  from o
)
select cast(seq_id as bigint) as seq_id, doc_id,
  cast(greatest(o, seq_id * 256) - o as bigint) as frag_start,
  cast(least(o + L, (seq_id + 1) * 256) - greatest(o, seq_id * 256) as bigint)
    as frag_len
from frag order by seq_id, doc_id
"""


def q_chunk_docs(spark, sf_dir):
    """Per-document sliding-window chunking (operators/packing.py::
    chunk_documents) at chunk=32 / stride=24 (8-token overlap) — the
    embedding/retrieval-index chunk layout, where a fragment must never
    span two documents. Entirely row-local (tokenize -> integer
    n_chunks -> sequence() explode -> slice/array_join), ZERO shuffles.
    The oracle replays the identical integer window arithmetic over
    TOKENS_SQL and re-joins the same slices — chunk TEXT is compared
    byte-exact, not just counts."""
    from entity_linking_in_biomedical_spark.operators.packing import chunk_documents

    docs = _t(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk_tokens=32, stride=24).orderBy(
        "doc_id", "chunk_id"
    )


ORACLE_CHUNK_DOCS = f"""
with t as (
  select doc_id, {_TOKS} as tk from documents
), n as (
  select doc_id, tk, cast(len(tk) as bigint) as n from t where len(tk) > 0
), c as (
  select doc_id, tk, n,
         case when n <= 32 then 1
              else (n - 32 + 24 - 1) // 24 + 1 end as n_chunks
  from n
)
select doc_id, cast(i as int) as chunk_id, cast(n_chunks as int) as n_chunks,
       cast(least(32, n - i * 24) as bigint) as chunk_len,
       array_to_string(tk[i * 24 + 1 : i * 24 + least(32, n - i * 24)], ' ')
         as chunk_text
from c cross join unnest(range(0, n_chunks)) as u(i)
order by doc_id, chunk_id
"""


def q_pack_interleaved(spark, sf_dir):
    """Interleaved multimodal packing manifest (operators/packing.py::
    pack_interleaved): every document becomes the input_hint span shape
    (one text span + two media spans), each media span costs a fixed
    16-token placeholder budget, and the concat-and-chunk layout at
    seq_len=256 runs through the same two-level distributed prefix sum
    as pack_sequences. The oracle replays the span arithmetic (text
    token count + 2*16) with a single window cumsum."""
    from entity_linking_in_biomedical_spark.operators.packing import pack_interleaved

    base = _t(spark, sf_dir, "documents").select("doc_id", "text")
    d = F.col("doc_id")

    def _m(ref):
        return F.struct(
            F.lit("media").alias("kind"),
            F.lit(None).cast("string").alias("text"),
            ref.alias("media_ref"),
            F.lit(1).alias("offset"),
        )

    docs = base.select(
        "doc_id",
        F.array(
            F.struct(
                F.lit("text").alias("kind"),
                F.col("text").alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                F.lit(0).alias("offset"),
            ),
            _m(F.concat(F.lit("img://shared-"), (d % 50).cast("string"))),
            _m(F.concat(F.lit("img://uniq-"), d.cast("string"))),
        ).alias("spans"),
    )
    return pack_interleaved(
        docs, 256, media_token_budget=16, bucket_size=100
    ).orderBy("seq_id", "doc_id")


ORACLE_PACK_INTERLEAVED = f"""
with n as (
  select doc_id, cast(len({_TOKS}) as bigint) as t from documents
), lens as (
  select doc_id, t as n_text_tokens, cast(2 as bigint) as n_media,
         t + 32 as L
  from n
), o as (
  select doc_id, n_text_tokens, n_media, L,
         coalesce(sum(L) over (order by doc_id
            rows between unbounded preceding and 1 preceding), 0) as o
  from lens
), frag as (
  select doc_id, n_text_tokens, n_media, L, o,
         unnest(range(cast(o // 256 as bigint),
                      cast((o + L - 1) // 256 + 1 as bigint))) as seq_id
  from o
)
select cast(seq_id as bigint) as seq_id, doc_id,
  cast(greatest(o, seq_id * 256) - o as bigint) as frag_start,
  cast(least(o + L, (seq_id + 1) * 256) - greatest(o, seq_id * 256) as bigint)
    as frag_len,
  n_text_tokens, n_media
from frag order by seq_id, doc_id
"""



def q_temperature_mixture(spark, sf_dir):
    """Temperature-based mixture resampling (mC4/XLM-R rule, tau=0.5)
    of documents to an 80k-char budget over the lang strata
    (operators/sampling.py): per-stratum totals -> temperature shares
    -> capped keep rates -> deterministic md5-threshold membership.
    Fully distributed (tiny broadcast stats, no driver collect); the
    oracle replays the identical rule."""
    from entity_linking_in_biomedical_spark.operators.sampling import (
        temperature_mixture_sample,
    )

    docs = _t(spark, sf_dir, "documents")
    return temperature_mixture_sample(
        docs.select("doc_id", "lang", "n_chars"), 80_000, "n_chars", tau=0.5
    ).orderBy("doc_id")


ORACLE_TEMPERATURE_MIXTURE = """
with nd as (
  select lang, cast(sum(n_chars) as double) as n from documents group by lang
), z as (
  select sum(pow(n, 0.5)) as z from nd
), rates as (
  select lang, least(1.0, 80000.0 * pow(n, 0.5) / z.z / n) as r
  from nd cross join z
)
select d.doc_id, d.lang, d.n_chars
from documents d join rates using (lang)
where r >= 1.0
   or substring(md5('temp:' || cast(d.doc_id as varchar)), 1, 12)
      < lower(lpad(hex(cast(floor(r * 281474976710656.0) as bigint)), 12, '0'))
order by doc_id
"""



def q_length_quantiles(spark, sf_dir):
    """Per-language length-distribution profile: count, exact mean,
    and the exact interpolated quantile vector of n_chars
    (operators/profiling.py) — Spark's sort-based percentile is
    bit-identical to DuckDB's quantile_cont (verified here), so the
    profile is oracled exactly; the operator's approx_percentile mode
    is the bounded-state 100 TB path, contract-tested in pytest."""
    from entity_linking_in_biomedical_spark.operators.profiling import (
        DEFAULT_PROBS,
        length_quantiles,
    )

    docs = _t(spark, sf_dir, "documents")
    prof = length_quantiles(docs, "n_chars", by="lang")
    parr = F.array(*[F.lit(float(x)) for x in DEFAULT_PROBS])
    return (
        prof.select("lang", "n", "mean", F.posexplode("q").alias("i", "q_val"))
        .select(
            "lang",
            F.col("n").cast("bigint").alias("n"),
            "mean",
            F.element_at(parr, F.col("i") + 1).alias("p"),
            "q_val",
        )
        .orderBy("lang", "p")
    )


ORACLE_LENGTH_QUANTILES = """
with agg as (
  select lang, count(*) as n,
         round(cast(sum(n_chars) as double) / count(*), 6) as mean,
         quantile_cont(n_chars, [0.1,0.25,0.5,0.75,0.9,0.99]) as qs
  from documents group by lang
)
select lang, cast(n as bigint) as n, mean,
       unnest([0.1,0.25,0.5,0.75,0.9,0.99]) as p,
       unnest(qs) as q_val
from agg order by lang, p
"""



def q_url_canonicalize(spark, sf_dir):
    """URL canonicalization before dedup (functions/urls.py): two raw
    variants per doc — mixed-case host, default port, tracking params
    in different orders — must collapse to one canonical URL; the
    aggregate proves it (n_raw=2, n_variants=2 per canonical). The
    Spark expression and the DuckDB twin are generated from one step
    table, so the hash match certifies regex-step parity."""
    from entity_linking_in_biomedical_spark.functions.urls import canonical_url

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    raw1 = F.concat(
        F.lit("https://WWW.Shop"), (d % 10).cast("string"),
        F.lit(".example.COM:443/item/"), d.cast("string"),
        F.lit("?utm_source=feed&page=2#top"),
    )
    raw2 = F.concat(
        F.lit("https://www.shop"), (d % 10).cast("string"),
        F.lit(".example.com/item/"), d.cast("string"),
        F.lit("?page=2&utm_medium=rss"),
    )
    urls = docs.select(d, F.explode(F.array(raw1, raw2)).alias("url"))
    return (
        urls.select("doc_id", canonical_url("url").alias("canon"), "url")
        .groupBy("canon")
        .agg(
            F.count(F.lit(1)).alias("n_raw"),
            F.count_distinct("url").alias("n_variants"),
        )
        .orderBy("canon")
    )


def q_url_dedup(spark, sf_dir):
    """URL-level keep-first dedup (operators/dedup.drop_url_duplicates,
    the RefinedWeb first gate): doc pairs (2k, 2k+1) carry raw VARIANTS
    of one canonical URL (case/port/tracking-param differences), so the
    smaller id must win; every 9th doc has a NULL url and must survive
    via the skew-safe bypass."""
    from entity_linking_in_biomedical_spark.functions.urls import canonical_url
    from entity_linking_in_biomedical_spark.operators.dedup import (
        drop_url_duplicates,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    item = F.expr("doc_id div 2").cast("string")
    raw_even = F.concat(
        F.lit("https://WWW.Site.COM:443/page/"), item, F.lit("?utm_source=x&q=1")
    )
    raw_odd = F.concat(
        F.lit("https://www.site.com/page/"), item, F.lit("?q=1&utm_campaign=y")
    )
    with_urls = docs.select(
        "doc_id",
        F.when(d % 9 == 0, F.lit(None).cast("string"))
        .when(d % 2 == 0, raw_even)
        .otherwise(raw_odd)
        .alias("url"),
    )
    return (
        drop_url_duplicates(with_urls)
        .select("doc_id", canonical_url("url").alias("canon"))
        .orderBy("doc_id")
    )


def _oracle_url_dedup() -> str:
    from entity_linking_in_biomedical_spark.functions.urls import canonical_url_sql

    canon = canonical_url_sql("url")
    return f"""
with raw as (
  select doc_id,
    case when doc_id % 9 = 0 then null
         when doc_id % 2 = 0 then 'https://WWW.Site.COM:443/page/' ||
           cast(doc_id // 2 as varchar) || '?utm_source=x&q=1'
         else 'https://www.site.com/page/' ||
           cast(doc_id // 2 as varchar) || '?q=1&utm_campaign=y' end as url
  from documents
),
kept as (
  select doc_id, url,
         row_number() over (partition by {canon} order by doc_id) as rn
  from raw where url is not null
)
select doc_id, {canon} as canon from kept where rn = 1
union all
select doc_id, cast(null as varchar) as canon from raw where url is null
order by doc_id
"""


def _oracle_url_canonicalize() -> str:
    from entity_linking_in_biomedical_spark.functions.urls import canonical_url_sql

    canon = canonical_url_sql("url")
    return f"""
with raw as (
  select doc_id, unnest([
    'https://WWW.Shop' || cast(doc_id % 10 as varchar) ||
      '.example.COM:443/item/' || cast(doc_id as varchar) ||
      '?utm_source=feed&page=2#top',
    'https://www.shop' || cast(doc_id % 10 as varchar) ||
      '.example.com/item/' || cast(doc_id as varchar) ||
      '?page=2&utm_medium=rss'
  ]) as url
  from documents
)
select {canon} as canon,
       cast(count(*) as bigint) as n_raw,
       cast(count(distinct url) as bigint) as n_variants
from raw group by canon order by canon
"""


def q_c4_clean(spark, sf_dir):
    """C4 crawl cleaning (operators/boilerplate.py::c4_clean — Raffel
    et al. 2020 §2.2 line/page heuristics: terminal-punctuation lines
    with >= 3 words and no 'javascript'; pages need >= 5 sentences and
    no 'lorem ipsum' / '{'). The synthetic corpus is single-line word
    soup, so a deterministic multi-line page is constructed per doc
    with every rule's phenomenon planted on a doc_id modulus; the
    DuckDB twin rebuilds the identical pages and replays the rules."""
    from entity_linking_in_biomedical_spark.operators.boilerplate import c4_clean

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    body = F.concat_ws(
        "\n",
        F.concat(
            F.lit("the corpus line reads "),
            F.substring("text", 1, 40),
            F.lit(" and ends here."),
        ),
        F.lit("menu"),
        F.lit("the measurements remained stable across runs!"),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.lit("please enable javascript to proceed."),
        ).otherwise(F.lit("does the framework scale to large corpora?")),
        F.lit("we conclude that the method works."),
        F.lit("the archive retains all raw data for audit."),
        F.when(
            F.col("doc_id") % 11 == 0, F.lit("lorem ipsum dolor sit amet.")
        ).otherwise(F.lit("the final line closes the document.")),
        F.when(
            F.col("doc_id") % 13 == 0, F.lit("template { placeholder }")
        ).otherwise(F.lit("appendix follows.")),
    )
    t = F.when(
        F.col("doc_id") % 5 == 0,
        F.lit("only one good sentence lives here.\nmenu"),
    ).otherwise(body)
    out = c4_clean(docs.withColumn("t", t).select("doc_id", "t"), text_col="t")
    return out.select(
        "doc_id",
        F.col("n_lines").cast("long").alias("n_lines"),
        F.col("n_kept_lines").cast("long").alias("n_kept_lines"),
        F.col("n_sentences").cast("long").alias("n_sentences"),
        "cleaned_text",
    ).orderBy("doc_id")


ORACLE_C4_CLEAN = r"""
with p as (
  select cast(doc_id as varchar) as doc_id,
         case when doc_id % 5 = 0 then
           'only one good sentence lives here.' || chr(10) || 'menu'
         else
           'the corpus line reads ' || substr(text, 1, 40) || ' and ends here.'
           || chr(10) || 'menu'
           || chr(10) || 'the measurements remained stable across runs!'
           || chr(10) || case when doc_id % 7 = 0
                then 'please enable javascript to proceed.'
                else 'does the framework scale to large corpora?' end
           || chr(10) || 'we conclude that the method works.'
           || chr(10) || 'the archive retains all raw data for audit.'
           || chr(10) || case when doc_id % 11 = 0
                then 'lorem ipsum dolor sit amet.'
                else 'the final line closes the document.' end
           || chr(10) || case when doc_id % 13 = 0
                then 'template { placeholder }'
                else 'appendix follows.' end
         end as t
  from documents
),
k as (
  select doc_id, t,
         cast(len(string_split(t, chr(10))) as bigint) as n_lines,
         list_filter(
           list_transform(string_split(t, chr(10)), x -> trim(x)),
           x -> regexp_matches(x, '[.!?"]$')
                and len(string_split_regex(x, '\s+')) >= 3
                and not contains(lower(x), 'javascript')
         ) as kept
  from p
),
c as (
  select doc_id, t, n_lines,
         cast(len(kept) as bigint) as n_kept_lines,
         array_to_string(kept, chr(10)) as cleaned_text
  from k
),
s as (
  select *,
         cast(length(cleaned_text)
              - length(regexp_replace(cleaned_text, '[.!?]', '', 'g'))
              as bigint) as n_sentences
  from c
)
select doc_id, n_lines, n_kept_lines, n_sentences, cleaned_text
from s
where n_sentences >= 5
  and not contains(lower(t), 'lorem ipsum')
  and not contains(lower(t), '{')
order by doc_id
"""


def q_line_dedup(spark, sf_dir):
    """Corpus-wide keep-first duplicate-line removal (operators/
    boilerplate.py::line_dedup — CCNet paragraph-hash dedup at line
    granularity / RefinedWeb line dedup): every repeated trimmed line
    keeps only its global first occurrence (min (doc_id, pos)).
    Boilerplate nav/footer lines are planted across all docs (plus an
    every-other-doc newsletter line), so the transform has real chrome
    to strip; the DuckDB twin replays the identical md5 keep-first
    rule and must reproduce the surviving text byte-for-byte."""
    from entity_linking_in_biomedical_spark.operators.boilerplate import line_dedup

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    t = F.concat_ws(
        "\n",
        F.lit("share this page on social media now"),
        F.concat(F.lit("doc body says "), F.substring("text", 1, 60)),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.lit("subscribe to our newsletter today"),
        ).otherwise(
            F.concat(
                F.lit("the unique middle line of doc "),
                F.col("doc_id").cast("string"),
            )
        ),
        F.concat(F.lit("doc tail says "), F.substring("text", 61, 60)),
        F.lit("copyright footer all rights reserved"),
    )
    out = line_dedup(docs.withColumn("t", t).select("doc_id", "t"), text_col="t")
    return out.select(
        "doc_id",
        F.col("n_lines").cast("long").alias("n_lines"),
        F.col("n_dropped").cast("long").alias("n_dropped"),
        "cleaned_text",
    ).orderBy("doc_id")


ORACLE_LINE_DEDUP = r"""
with p as (
  select cast(doc_id as varchar) as doc_id,
         'share this page on social media now'
         || chr(10) || 'doc body says ' || substr(text, 1, 60)
         || chr(10) || case when doc_id % 2 = 0
              then 'subscribe to our newsletter today'
              else 'the unique middle line of doc ' || cast(doc_id as varchar) end
         || chr(10) || 'doc tail says ' || substr(text, 61, 60)
         || chr(10) || 'copyright footer all rights reserved' as t
  from documents
),
sl as (select doc_id, string_split(t, chr(10)) as ls from p),
lines as (
  select doc_id, cast(i - 1 as int) as pos, list_extract(ls, i) as line
  from sl, unnest(generate_series(1, len(ls))) as u(i)
),
occ as (
  select doc_id, pos, md5(trim(line)) as h
  from lines where length(trim(line)) > 0
),
rn as (
  select doc_id, pos,
         row_number() over (partition by h order by doc_id, pos) as rn,
         count(*) over (partition by h) as c
  from occ
),
drops as (select doc_id, pos from rn where c >= 2 and rn > 1),
kept as (
  select l.doc_id, l.pos, l.line
  from lines l anti join drops d
    on l.doc_id = d.doc_id and l.pos = d.pos
),
agg as (
  select doc_id, string_agg(line, chr(10) order by pos) as cleaned_text
  from kept group by doc_id
),
nd as (select doc_id, cast(count(*) as bigint) as n_dropped from drops group by doc_id)
select p.doc_id,
       cast(len(string_split(p.t, chr(10))) as bigint) as n_lines,
       coalesce(nd.n_dropped, 0) as n_dropped,
       coalesce(agg.cleaned_text, '') as cleaned_text
from p
left join nd on p.doc_id = nd.doc_id
left join agg on p.doc_id = agg.doc_id
order by p.doc_id
"""


def q_line_dedup_incremental(spark, sf_dir):
    """Snapshot-lifecycle face of line dedup (operators/boilerplate.py
    ::build_line_index + dedup_lines_batch): even-id docs are the
    curated corpus whose DISTINCT trimmed-line md5s form the persisted
    index; odd-id docs are the arriving batch. Indexed lines drop all
    batch occurrences (arrival precedence — the corpus keeper wins);
    fresh lines apply keep-first within the batch. Planted: two
    boilerplate lines shared corpus<->batch, one fresh line repeated
    across the whole batch, one unique line per doc. The DuckDB twin
    replays the identical index + keep-first rule and must reproduce
    the rewritten batch text byte-for-byte."""
    from entity_linking_in_biomedical_spark.operators.boilerplate import (
        build_line_index,
        dedup_lines_batch,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    t = F.concat_ws(
        "\n",
        F.lit("share this page on social media now"),
        F.concat(F.lit("doc body says "), F.substring("text", 1, 60)),
        F.when(
            F.col("doc_id") % 2 == 1,
            F.lit("fresh batch boilerplate line repeated"),
        ).otherwise(
            F.concat(
                F.lit("corpus only line for doc "),
                F.col("doc_id").cast("string"),
            )
        ),
        F.lit("copyright footer all rights reserved"),
    )
    framed = docs.withColumn("t", t).select("doc_id", "t")
    corpus = framed.filter(F.col("doc_id") % 2 == 0)
    batch = framed.filter(F.col("doc_id") % 2 == 1)
    index = build_line_index(corpus, text_col="t")
    out = dedup_lines_batch(batch, index, text_col="t")
    return out.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.col("t").alias("cleaned_text"),
    ).orderBy("doc_id")


ORACLE_LINE_DEDUP_INCREMENTAL = r"""
with p as (
  select doc_id as nid, cast(doc_id as varchar) as doc_id,
         'share this page on social media now'
         || chr(10) || 'doc body says ' || substr(text, 1, 60)
         || chr(10) || case when doc_id % 2 = 1
              then 'fresh batch boilerplate line repeated'
              else 'corpus only line for doc ' || cast(doc_id as varchar) end
         || chr(10) || 'copyright footer all rights reserved' as t
  from documents
),
csl as (select doc_id, string_split(t, chr(10)) as ls from p where nid % 2 = 0),
cidx as (
  select distinct md5(trim(list_extract(ls, i))) as h
  from csl, unnest(generate_series(1, len(ls))) as u(i)
  where length(trim(list_extract(ls, i))) > 0
),
bsl as (select doc_id, t, string_split(t, chr(10)) as ls from p where nid % 2 = 1),
blines as (
  select doc_id, cast(i - 1 as int) as pos, list_extract(ls, i) as line
  from bsl, unnest(generate_series(1, len(ls))) as u(i)
),
bocc as (
  select doc_id, pos, md5(trim(line)) as h
  from blines where length(trim(line)) > 0
),
indexed_drops as (
  select doc_id, pos from bocc where h in (select h from cidx)
),
fresh as (select * from bocc where h not in (select h from cidx)),
fresh_rn as (
  select doc_id, pos,
         row_number() over (partition by h order by doc_id, pos) as rn
  from fresh
),
drops as (
  select doc_id, pos from indexed_drops
  union all
  select doc_id, pos from fresh_rn where rn > 1
),
kept as (
  select l.doc_id, l.pos, l.line
  from blines l anti join drops d
    on l.doc_id = d.doc_id and l.pos = d.pos
),
agg as (
  select doc_id, string_agg(line, chr(10) order by pos) as cleaned_text
  from kept group by doc_id
)
select b.doc_id, coalesce(agg.cleaned_text, '') as cleaned_text
from bsl b left join agg on b.doc_id = agg.doc_id
order by b.doc_id
"""


def q_domain_filter(spark, sf_dir):
    """Domain-level quality gate (operators/domain_filter.py — the
    RefinedWeb-family 'drop bad neighborhoods wholesale' rule): per-doc
    quality_score rolls up to the URL's domain as an exact
    decimal(38,9) sum and a domain is condemned iff it has >= min_docs
    docs AND sum_quality < min_avg * n_docs (decimal/integer
    comparison, no float division in the decision). Ten planted
    domains by doc_id % 10; domains 0-2 carry junk pages, so their
    verdicts flip. The DuckDB twin replays quality, the decimal sum
    and the rule."""
    from entity_linking_in_biomedical_spark.operators.domain_filter import (
        flag_bad_domains,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    d = F.col("doc_id")
    framed = docs.select(
        "doc_id",
        F.concat(
            F.lit("https://www.site"),
            (d % 10).cast("string"),
            F.lit(".example.org/p/"),
            d.cast("string"),
        ).alias("url"),
        F.when(d % 10 < 3, F.lit("!!! ??? $$$")).otherwise(F.col("text")).alias("t"),
    )
    out = flag_bad_domains(framed, url_col="url", text_col="t", min_avg_quality=0.3, min_docs=3)
    return out.select("domain", "n_docs", "avg_quality", "kept").orderBy("domain")


ORACLE_DOMAIN_FILTER = f"""
with p as (
  select doc_id,
         'https://www.site' || cast(doc_id % 10 as varchar)
           || '.example.org/p/' || cast(doc_id as varchar) as url,
         case when doc_id % 10 < 3 then '!!! ??? $$$' else text end as t
  from documents
),
q as (
  select lower(regexp_extract(url, 'https?://([A-Za-z0-9.-]+)', 1)) as domain,
         length(t) as n_chars,
         length(regexp_replace(lower(t), '[^a-z]', '', 'g')) as alpha,
         {TOKENS_SQL.format(col="t")} as toks
  from p
),
s as (select domain, {_QUALITY_EXPR} as quality from q),
a as (
  select domain, cast(count(*) as bigint) as n_docs,
         sum(cast(quality as decimal(38,9))) as sq
  from s group by domain
)
select domain, n_docs,
       round(cast(sq as double) / n_docs, 6) as avg_quality,
       not (domain <> '' and n_docs >= 3
            and sq < cast('0.3' as decimal(38,9)) * n_docs) as kept
from a order by domain
"""


def q_perplexity_buckets(spark, sf_dir):
    """CCNet head/middle/tail partition (operators/lm.py::
    perplexity_buckets — Wenzek et al. 2020 §4.4): per-doc avg_nll
    under the same self-fit bigram LM as the lm_nll gate (vocab cap
    20, alpha 0.5), split at the GLOBAL exact avg_nll tertiles (Spark
    sort-based percentile, bit-identical to DuckDB quantile_cont —
    the length_quantiles cross-engine contract). head = cleanest
    third; CCNet trains on head(+middle)."""
    from entity_linking_in_biomedical_spark.operators.lm import perplexity_buckets

    docs = _t(spark, sf_dir, "documents")
    return perplexity_buckets(docs, vocab_cap=20, alpha=0.5).orderBy("doc_id")


ORACLE_PPL_BUCKETS = f"""
with nll as ({ORACLE_LM_NLL}),
q as (
  select quantile_cont(avg_nll,
           [0.3333333333333333, 0.6666666666666666]) as qs
  from nll
)
select doc_id, avg_nll,
       case when avg_nll <= qs[1] then 'head'
            when avg_nll <= qs[2] then 'middle'
            else 'tail' end as bucket
from nll cross join q
order by doc_id
"""


def q_cluster_eval(spark, sf_dir):
    """Clustering report card (operators/evaluation.cluster_pair_metrics):
    pairwise P/R/F1 + B-cubed P/R/F1 of a predicted clustering against
    a gold clustering, computed from cluster-size aggregates only (no
    pair materialization). Pred = the 8-char normalized-prefix blocking
    channel (over-merges); gold = the sorted-token fingerprint (the
    exact fuzzy-dup truth the documents table plants) — a deliberately
    imperfect pred so every metric is strictly inside (0, 1)."""
    from entity_linking_in_biomedical_spark.functions.normalize import norm_key
    from entity_linking_in_biomedical_spark.operators.evaluation import (
        cluster_pair_metrics,
    )

    docs = _t(spark, sf_dir, "documents")
    norm = norm_key(F.substring("text", 1, 40))
    assign = docs.select(
        "doc_id",
        F.substring(norm, 1, 8).alias("pred"),
        fingerprint("text").alias("gold"),
    )
    return cluster_pair_metrics(assign, "doc_id", "pred", "gold")


_PREFIX8_SQL = f"substr({NORM_KEY_SQL.format(col='substr(text, 1, 40)')}, 1, 8)"
_FP_SQL = f"md5(array_to_string(list_sort(list_distinct({_TOKS})), ' '))"

ORACLE_CLUSTER_EVAL = f"""
with a as (
  select cast(doc_id as varchar) as id, {_PREFIX8_SQL} as p, {_FP_SQL} as g
  from documents
),
cells as (select p, g, count(*) as c from a group by 1, 2),
ps as (select p, sum(c) as pn from cells group by 1),
gs as (select g, sum(c) as gn from cells group by 1),
j as (select cells.c, cells.p, cells.g, ps.pn, gs.gn
      from cells join ps using (p) join gs using (g)),
agg as (
  select cast(sum(c) as bigint) as n_items,
         cast(count(distinct p) as bigint) as n_pred,
         cast(count(distinct g) as bigint) as n_gold,
         sum(c * (c - 1) / 2.0) as tp,
         sum(c * c * 1.0 / pn) as b3p_num,
         sum(c * c * 1.0 / gn) as b3r_num,
         sum(c * ln(c * 1.0 / (pn * gn))) as mi_s1
  from j
),
pp as (select sum(pn * (pn - 1) / 2.0) as pred_pairs,
              sum(pn * ln(pn)) as p_slns from ps),
gg as (select sum(gn * (gn - 1) / 2.0) as gold_pairs,
              sum(gn * ln(gn)) as g_slns from gs),
m as (
  select n_items, n_pred, n_gold, tp, pred_pairs, gold_pairs,
         case when pred_pairs > 0 then tp / pred_pairs else 1.0 end as ppv,
         case when gold_pairs > 0 then tp / gold_pairs else 1.0 end as rec,
         b3p_num / n_items as b3p, b3r_num / n_items as b3r,
         (mi_s1 + n_items * ln(n_items)) / n_items as mi,
         (n_items * ln(n_items) - p_slns) / n_items as hp,
         (n_items * ln(n_items) - g_slns) / n_items as hg,
         pred_pairs * gold_pairs /
           (n_items * (n_items - 1.0) / 2.0) as exp_tp
  from agg, pp, gg
)
select n_items, n_pred, n_gold,
       round(ppv, 6) as pair_precision,
       round(rec, 6) as pair_recall,
       round(case when ppv + rec > 0 then 2 * ppv * rec / (ppv + rec)
             else 0.0 end, 6) as pair_f1,
       round(b3p, 6) as b3_precision,
       round(b3r, 6) as b3_recall,
       round(case when b3p + b3r > 0 then 2 * b3p * b3r / (b3p + b3r)
             else 0.0 end, 6) as b3_f1,
       round(case when (pred_pairs + gold_pairs) / 2.0 - exp_tp != 0
             then (tp - exp_tp) / ((pred_pairs + gold_pairs) / 2.0 - exp_tp)
             else 1.0 end, 6) as ari,
       round(case when hp + hg > 0 then 2 * mi / (hp + hg)
             else 1.0 end, 6) as nmi
from m
"""


def q_blocking_quality(spark, sf_dir):
    """Blocking report card (operators/evaluation.blocking_quality):
    pair completeness / reduction ratio / pair quality of the purged
    8-char-prefix blocking channel against the fingerprint gold
    clustering (Christen 2012 ch.7 — the numbers that say whether a
    blocking scheme may ship). Blocks of size <2 or >50 are purged
    before pair generation, mirroring the engine's bucket caps."""
    from entity_linking_in_biomedical_spark.functions.normalize import norm_key
    from entity_linking_in_biomedical_spark.operators.evaluation import (
        blocking_quality,
    )

    docs = _t(spark, sf_dir, "documents")
    norm = norm_key(F.substring("text", 1, 40))
    # lazy checkpoints: b feeds sizes + the purge join, kept feeds both
    # self-join sides — without them the norm-key scan re-runs per
    # consumer (same single-evaluation discipline as meta_block_prune)
    b = docs.select(
        F.col("doc_id").cast("string").alias("id"),
        F.substring(norm, 1, 8).alias("bk"),
    ).localCheckpoint(eager=False)
    sizes = b.groupBy("bk").agg(F.count("*").alias("n"))
    kept = b.join(
        sizes.filter((F.col("n") >= 2) & (F.col("n") <= 50)).select("bk"), "bk"
    ).localCheckpoint(eager=False)
    cand = (
        kept.alias("x")
        .join(kept.alias("y"), "bk")
        .filter(F.col("x.id") < F.col("y.id"))
        .select(F.col("x.id").alias("a_id"), F.col("y.id").alias("b_id"))
        .dropDuplicates(["a_id", "b_id"])
    )
    assign = docs.select("doc_id", fingerprint("text").alias("gold"))
    return blocking_quality(cand, assign, "doc_id", "gold")


ORACLE_BLOCKING_QUALITY = f"""
with b as (
  select cast(doc_id as varchar) as id, {_PREFIX8_SQL} as bk from documents
),
sz as (select bk from b group by bk having count(*) between 2 and 50),
k as (select b.id, b.bk from b join sz using (bk)),
cand as (
  select distinct x.id as a_id, y.id as b_id
  from k x join k y on x.bk = y.bk and x.id < y.id
),
g as (select cast(doc_id as varchar) as id, {_FP_SQL} as gold from documents),
gp as (select sum(n * (n - 1) / 2.0) as gold_pairs
       from (select count(*) as n from g group by gold)),
ni as (select count(*) * 1.0 as n from g),
mt as (
  select count(*) * 1.0 as cand_pairs,
         coalesce(sum(case when ga.gold = gb.gold then 1.0 else 0.0 end),
                  0.0) as true_cand
  from cand
  left join g ga on cand.a_id = ga.id
  left join g gb on cand.b_id = gb.id
)
select cast(cand_pairs as bigint) as cand_pairs,
       cast(gold_pairs as bigint) as gold_pairs,
       round(case when gold_pairs > 0 then true_cand / gold_pairs
             else 1.0 end, 6) as pair_completeness,
       round(1.0 - cand_pairs / (n * (n - 1) / 2.0), 6) as reduction_ratio,
       round(case when cand_pairs > 0 then true_cand / cand_pairs
             else 0.0 end, 6) as pair_quality
from mt, gp, ni
"""


def q_meta_blocking(spark, sf_dir):
    """Meta-blocking (operators/meta_blocking.meta_block_prune):
    CBS-weighted candidate graph from redundant 8-token-window shingle
    blocks, with block purging, weight pruning (>=2 shared blocks) and
    top-3 cardinality-node pruning. Pair-group boilerplate is planted
    into every 9th document with its marker token interleaved every 4
    tokens so each 8-token window carries the pair key — adjacent
    multiples of 9 (floor(doc_id / 18)) share >=6 blocks. The pair
    groups have exactly TWO members at ANY scale factor, so the planted
    signal can neither exceed the block purge cap (a doc_id % K
    sub-group would, once n_docs/K > max_block) nor go vacuous at
    small sf."""
    from entity_linking_in_biomedical_spark.operators.meta_blocking import (
        meta_block_prune,
    )

    docs = _ts(spark, sf_dir, "documents").select("doc_id", "text")
    sub = F.concat(F.lit("m"), F.floor(F.col("doc_id") / 18).cast("string"))
    tail = F.concat_ws(
        " ",
        F.lit(""),
        sub,
        F.lit("alpha beta gamma"),
        sub,
        F.lit("delta epsilon zeta"),
        sub,
        F.lit("eta theta iota"),
        sub,
    )
    planted = F.when(
        F.col("doc_id") % 9 == 0, F.concat(F.col("text"), tail)
    ).otherwise(F.col("text"))
    from entity_linking_in_biomedical_spark.functions.text_metrics import tokens

    toks = tokens(planted)
    n = F.size(toks)
    k = 8
    windows = F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - k + 1),
            lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i, k))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    blocks = docs.select(
        F.col("doc_id").cast("string").alias("did"), F.explode(windows).alias("bk")
    ).withColumnRenamed("did", "doc_id")
    out = meta_block_prune(
        blocks, "doc_id", "bk", max_block=500, min_common=2, top_k=3
    )
    return out.orderBy("a_id", "b_id")


def _oracle_meta_blocking() -> str:
    tail = (
        "' ' || s || ' alpha beta gamma ' || s || ' delta epsilon zeta ' || s"
        " || ' eta theta iota ' || s"
    )
    toks = TOKENS_SQL.format(col="t")
    return f"""
with p0 as (
  select cast(doc_id as varchar) as doc_id, text,
         'm' || cast(doc_id // 18 as varchar) as s
  from documents
),
p as (
  select doc_id,
         case when cast(doc_id as bigint) % 9 = 0 then text || {tail}
              else text end as t
  from p0
),
tk as (select doc_id, {toks} as toks from p),
w as (
  select distinct doc_id,
         md5(array_to_string(list_slice(toks, i, i + 7), ' ')) as bk
  from tk, unnest(generate_series(1, len(toks) - 7)) as u(i)
  where len(toks) >= 8
),
sz as (select bk from w group by bk having count(*) between 2 and 500),
k as (select w.doc_id, w.bk from w join sz using (bk)),
e as (
  select x.doc_id as a_id, y.doc_id as b_id, count(*) as common_blocks
  from k x join k y on x.bk = y.bk and x.doc_id < y.doc_id
  group by 1, 2
  having count(*) >= 2
),
per as (
  select a_id as node, a_id, b_id, common_blocks from e
  union all
  select b_id as node, a_id, b_id, common_blocks from e
),
rk as (
  select a_id, b_id, common_blocks,
         row_number() over (partition by node
                            order by common_blocks desc, a_id, b_id) as r
  from per
)
select distinct a_id, b_id, cast(common_blocks as bigint) as common_blocks
from rk where r <= 3
order by a_id, b_id
"""


def q_fs_em_weights(spark, sf_dir):
    """Fellegi-Sunter probabilistic linkage calibration
    (operators/fs_linkage.fellegi_sunter_weights): EM-fitted m/u
    probabilities -> per-pattern log2 match weights over comparison
    vectors of within-nation customer pairs (segment agreement,
    account-balance proximity, name-suffix agreement). Pattern counting
    is one corpus-scale groupBy; EM runs driver-side over the <=2^3-row
    pattern table (the bounded-collect discipline of the IDF fit); the
    DuckDB twin replays the identical 15 EM iterations as unrolled
    CTEs."""
    from entity_linking_in_biomedical_spark.operators.fs_linkage import (
        fellegi_sunter_weights,
    )

    cust = _ts(spark, sf_dir, "customer")
    pairs = (
        cust.alias("a")
        .join(
            cust.alias("b"),
            (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
            & (F.col("a.c_custkey") < F.col("b.c_custkey")),
        )
        .select(
            (F.col("a.c_mktsegment") == F.col("b.c_mktsegment"))
            .cast("int")
            .alias("g_seg"),
            (
                F.abs(
                    F.col("a.c_acctbal").cast("double")
                    - F.col("b.c_acctbal").cast("double")
                )
                < 500.0
            )
            .cast("int")
            .alias("g_bal"),
            (
                F.substring(F.col("a.c_name"), 17, 2)
                == F.substring(F.col("b.c_name"), 17, 2)
            )
            .cast("int")
            .alias("g_name"),
        )
    )
    w = fellegi_sunter_weights(pairs, ["g_seg", "g_bal", "g_name"], iters=15)
    return w.orderBy("g_seg", "g_bal", "g_name")


def _oracle_fs_em(iters: int = 15) -> str:
    """Unrolled-CTE twin of fs_linkage.em_fit: each EM iteration is one
    CTE recomputing the 7 scalar parameters from the pattern table, with
    the same clamps as numpy's np.clip / min-max."""
    gs = ["g_seg", "g_bal", "g_name"]
    eps = "1e-9"

    def prod(params: list[str]) -> str:
        return " * ".join(
            f"(case when {g} = 1 then {p} else 1.0 - {p} end)"
            for g, p in zip(gs, params)
        )

    ms = ["m1", "m2", "m3"]
    us = ["u1", "u2", "u3"]
    ctes = [
        f"""pairs as (
  select cast(a.c_mktsegment = b.c_mktsegment as int) as g_seg,
         cast(abs(cast(a.c_acctbal as double) - cast(b.c_acctbal as double))
              < 500.0 as int) as g_bal,
         cast(substr(a.c_name, 17, 2) = substr(b.c_name, 17, 2) as int)
           as g_name
  from customer a join customer b
    on a.c_nationkey = b.c_nationkey and a.c_custkey < b.c_custkey
)""",
        "pat as (select g_seg, g_bal, g_name, count(*) as n from pairs"
        " group by 1, 2, 3)",
        "it0 as (select 0.1 as lam, 0.9 as m1, 0.9 as m2, 0.9 as m3,"
        " 0.1 as u1, 0.1 as u2, 0.1 as u3)",
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"""e{i} as (
  select pat.*, lam * ({prod(ms)}) as num,
         (1.0 - lam) * ({prod(us)}) as den0
  from pat, it{i - 1}
)"""
        )
        mexp = ", ".join(
            f"least(greatest(sum(n * (num / (num + den0)) * {g}) /"
            f" sum(n * (num / (num + den0))), {eps}), 1.0 - {eps}) as {m}"
            for g, m in zip(gs, ms)
        )
        uexp = ", ".join(
            f"least(greatest(sum(n * (1.0 - num / (num + den0)) * {g}) /"
            f" sum(n * (1.0 - num / (num + den0))), {eps}), 1.0 - {eps}) as {u}"
            for g, u in zip(gs, us)
        )
        ctes.append(
            f"""it{i} as (
  select least(greatest(sum(n * (num / (num + den0))) / sum(n), {eps}),
               1.0 - {eps}) as lam,
         {mexp}, {uexp}
  from e{i}
)"""
        )
    ctes.append(
        f"""fin as (
  select pat.g_seg, pat.g_bal, pat.g_name, pat.n,
         ({prod(ms)}) as pm, ({prod(us)}) as pu, lam
  from pat, it{iters}
)"""
    )
    final = """select g_seg, g_bal, g_name, cast(n as bigint) as n_pairs,
       round(log2(pm / pu), 6) as match_weight,
       round(lam * pm / (lam * pm + (1.0 - lam) * pu), 6) as match_prob
from fin
order by g_seg, g_bal, g_name"""
    return "with " + ",\n".join(ctes) + "\n" + final


def q_fs_em_levels(spark, sf_dir):
    """Multi-level (Splink-style) Fellegi-Sunter calibration
    (operators/fs_linkage.fellegi_sunter_weights_levels): graded
    agreement levels instead of binary — balance proximity in 3 bands,
    name-suffix agreement in 3 grades (last-two / last-one / none),
    segment binary — EM-fitted per-level m/u distributions, log2 match
    weights per observed pattern. The DuckDB twin replays the identical
    deterministic init and 15 EM iterations as unrolled CTEs over the
    <=18-row pattern table."""
    from entity_linking_in_biomedical_spark.operators.fs_linkage import (
        fellegi_sunter_weights_levels,
    )

    cust = _ts(spark, sf_dir, "customer")
    diff = F.abs(
        F.col("a.c_acctbal").cast("double") - F.col("b.c_acctbal").cast("double")
    )
    pairs = (
        cust.alias("a")
        .join(
            cust.alias("b"),
            (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
            & (F.col("a.c_custkey") < F.col("b.c_custkey")),
        )
        .select(
            F.when(diff < 250.0, 2).when(diff < 1000.0, 1).otherwise(0).alias(
                "l_bal"
            ),
            F.when(
                F.substring(F.col("a.c_name"), 17, 2)
                == F.substring(F.col("b.c_name"), 17, 2),
                2,
            )
            .when(
                F.substring(F.col("a.c_name"), 18, 1)
                == F.substring(F.col("b.c_name"), 18, 1),
                1,
            )
            .otherwise(0)
            .alias("l_name"),
            (F.col("a.c_mktsegment") == F.col("b.c_mktsegment"))
            .cast("int")
            .alias("l_seg"),
        )
    )
    w = fellegi_sunter_weights_levels(
        pairs, ["l_bal", "l_name", "l_seg"], n_levels=[3, 3, 2], iters=15
    )
    return w.orderBy("l_bal", "l_name", "l_seg")


def _oracle_fs_em_levels(iters: int = 15) -> str:
    """Unrolled-CTE twin of fs_linkage.em_fit_levels for the
    fs_em_levels query's field/level layout ([3, 3, 2]), replaying the
    deterministic _init_levels literals and per-parameter clamps."""
    fields = [("l_bal", 3), ("l_name", 3), ("l_seg", 2)]
    eps = "1e-9"

    def pname(prefix: str, k: int, l: int) -> str:
        return f"{prefix}{k}_{l}"

    def level_case(col: str, k: int, L: int, prefix: str) -> str:
        whens = " ".join(
            f"when {l} then {pname(prefix, k, l)}" for l in range(L)
        )
        return f"(case {col} {whens} end)"

    def prod(prefix: str) -> str:
        return " * ".join(
            level_case(c, k, L, prefix) for k, (c, L) in enumerate(fields)
        )

    # deterministic init literals (_init_levels): m -> 0.8 on top level,
    # 0.2/(L-1) elsewhere; u -> 0.8 on level 0, 0.2/(L-1) elsewhere
    init = ["0.1 as lam"]
    for k, (_, L) in enumerate(fields):
        rest = 0.2 / (L - 1)
        for l in range(L):
            init.append(f"{0.8 if l == L - 1 else rest!r} as {pname('m', k, l)}")
        for l in range(L):
            init.append(f"{0.8 if l == 0 else rest!r} as {pname('u', k, l)}")
    ctes = [
        """pairs as (
  select case when abs(cast(a.c_acctbal as double)
                   - cast(b.c_acctbal as double)) < 250.0 then 2
              when abs(cast(a.c_acctbal as double)
                   - cast(b.c_acctbal as double)) < 1000.0 then 1
              else 0 end as l_bal,
         case when substr(a.c_name, 17, 2) = substr(b.c_name, 17, 2) then 2
              when substr(a.c_name, 18, 1) = substr(b.c_name, 18, 1) then 1
              else 0 end as l_name,
         cast(a.c_mktsegment = b.c_mktsegment as int) as l_seg
  from customer a join customer b
    on a.c_nationkey = b.c_nationkey and a.c_custkey < b.c_custkey
)""",
        "pat as (select l_bal, l_name, l_seg, count(*) as n from pairs"
        " group by 1, 2, 3)",
        "it0 as (select " + ", ".join(init) + ")",
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"""e{i} as (
  select pat.*, lam * ({prod('m')}) as num,
         (1.0 - lam) * ({prod('u')}) as den0
  from pat, it{i - 1}
)"""
        )
        params = [
            f"least(greatest(sum(n * (num / (num + den0))) / sum(n), {eps}),"
            f" 1.0 - {eps}) as lam"
        ]
        for k, (c, L) in enumerate(fields):
            for l in range(L):
                params.append(
                    f"least(greatest(sum(n * (num / (num + den0)) *"
                    f" cast({c} = {l} as int)) / sum(n * (num / (num + den0))),"
                    f" {eps}), 1.0 - {eps}) as {pname('m', k, l)}"
                )
            for l in range(L):
                params.append(
                    f"least(greatest(sum(n * (1.0 - num / (num + den0)) *"
                    f" cast({c} = {l} as int)) /"
                    f" sum(n * (1.0 - num / (num + den0))),"
                    f" {eps}), 1.0 - {eps}) as {pname('u', k, l)}"
                )
        ctes.append(f"it{i} as (\n  select " + ",\n         ".join(params) + f"\n  from e{i}\n)")
    ctes.append(
        f"""fin as (
  select pat.l_bal, pat.l_name, pat.l_seg, pat.n,
         ({prod('m')}) as pm, ({prod('u')}) as pu, lam
  from pat, it{iters}
)"""
    )
    final = """select l_bal, l_name, l_seg, cast(n as bigint) as n_pairs,
       round(log2(pm / pu), 6) as match_weight,
       round(lam * pm / (lam * pm + (1.0 - lam) * pu), 6) as match_prob
from fin
order by l_bal, l_name, l_seg"""
    return "with " + ",\n".join(ctes) + "\n" + final


def q_fs_tf_adjust(spark, sf_dir):
    """Term-frequency evidence adjustment (operators/fs_linkage.
    term_frequencies + tf_adjusted_weight — Winkler 1989 / Splink
    tf_adjustments): agreeing on a rare field value is stronger
    evidence than agreeing on a common one, so agreeing pairs get
    weight += log2(u_k / tf(value)). Report: per segment value, the
    within-nation agreeing-pair count and the adjusted weight delta
    (base weight 0, field-average u fixed at 0.2 so the twin needs no
    EM replay). The tf table is dictionary-sized and broadcast."""
    from entity_linking_in_biomedical_spark.operators.fs_linkage import (
        term_frequencies,
        tf_adjusted_weight,
    )

    cust = _t(spark, sf_dir, "customer")
    tf = term_frequencies(cust, "c_mktsegment")
    pairs = (
        cust.alias("a")
        .join(
            cust.alias("b"),
            (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
            & (F.col("a.c_custkey") < F.col("b.c_custkey")),
        )
        .select(
            (F.col("a.c_mktsegment") == F.col("b.c_mktsegment"))
            .cast("int")
            .alias("g_seg"),
            F.col("a.c_mktsegment").alias("c_mktsegment"),
        )
        .withColumn("match_weight", F.lit(0.0))
    )
    adj = tf_adjusted_weight(
        pairs, tf, "g_seg", "c_mktsegment", u_k=0.2
    )
    return (
        adj.filter(F.col("g_seg") == 1)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.round(F.avg("match_weight_tf"), 6).alias("w_tf"),
        )
        .orderBy("c_mktsegment")
    )


ORACLE_FS_TF = """
with tf as (
  select c_mktsegment as seg,
         count(*) * 1.0 / (select count(*) from customer) as tf
  from customer group by 1
),
p as (
  select a.c_mktsegment as seg
  from customer a join customer b
    on a.c_nationkey = b.c_nationkey and a.c_custkey < b.c_custkey
   and a.c_mktsegment = b.c_mktsegment
)
select seg as c_mktsegment,
       cast(count(*) as bigint) as n_pairs,
       round(log2(0.2 / greatest(tf, 1e-6)), 6) as w_tf
from p join tf using (seg)
group by seg, tf
order by seg
"""


def q_review_queue(spark, sf_dir):
    """Clerical-review queue (operators/fs_linkage.clerical_review_queue
    — Fellegi & Sunter's 'possible link' band): EM-score the
    within-nation customer pairs via the broadcast pattern join
    (score_pairs), keep posteriors in (0.02, 0.99), order
    most-uncertain-first with id tie-breaks, cap at 200. Both engines
    replay the same EM (unrolled CTEs on the oracle side), the same
    rounded posteriors, and the same total order, so the 200 exported
    rows are identical."""
    from entity_linking_in_biomedical_spark.operators.fs_linkage import (
        clerical_review_queue,
        fellegi_sunter_weights,
        score_pairs,
    )

    cust = _ts(spark, sf_dir, "customer")
    pairs = (
        cust.alias("a")
        .join(
            cust.alias("b"),
            (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
            & (F.col("a.c_custkey") < F.col("b.c_custkey")),
        )
        .select(
            F.col("a.c_custkey").alias("a_key"),
            F.col("b.c_custkey").alias("b_key"),
            (F.col("a.c_mktsegment") == F.col("b.c_mktsegment"))
            .cast("int")
            .alias("g_seg"),
            (
                F.abs(
                    F.col("a.c_acctbal").cast("double")
                    - F.col("b.c_acctbal").cast("double")
                )
                < 500.0
            )
            .cast("int")
            .alias("g_bal"),
            (
                F.substring(F.col("a.c_name"), 17, 2)
                == F.substring(F.col("b.c_name"), 17, 2)
            )
            .cast("int")
            .alias("g_name"),
        )
        # two consumers (EM pattern count + scoring join): materialize
        # the pair build once instead of running the self-join twice
        .localCheckpoint(eager=False)
    )
    w = fellegi_sunter_weights(pairs, ["g_seg", "g_bal", "g_name"], iters=15)
    scored = score_pairs(pairs, w, ["g_seg", "g_bal", "g_name"])
    queue = clerical_review_queue(
        scored, low=0.02, high=0.99, cap=200, order_cols=("a_key", "b_key")
    )
    return queue.select(
        "a_key", "b_key", "g_seg", "g_bal", "g_name", "match_weight", "match_prob"
    ).orderBy("a_key", "b_key")


def _oracle_review_queue(iters: int = 15) -> str:
    """The fs_em_weights unrolled-CTE EM, with pairs carrying their ids
    so the band filter + uncertainty order + cap replay exactly."""
    base = _oracle_fs_em(iters)
    # reuse everything up to (and incl.) the fin CTE; swap the pairs CTE
    # for an id-carrying one and the final select for the queue.
    body = base[len("with ") : base.rindex("\nselect ")]
    body = body.replace(
        """pairs as (
  select cast(a.c_mktsegment = b.c_mktsegment as int) as g_seg,""",
        """pairs as (
  select a.c_custkey as a_key, b.c_custkey as b_key,
         cast(a.c_mktsegment = b.c_mktsegment as int) as g_seg,""",
        1,
    )
    return (
        "with "
        + body
        + """,
wt as (
  select g_seg, g_bal, g_name,
         round(log2(pm / pu), 6) as match_weight,
         round(lam * pm / (lam * pm + (1.0 - lam) * pu), 6) as match_prob
  from fin
),
scored as (
  select pairs.a_key, pairs.b_key, pairs.g_seg, pairs.g_bal, pairs.g_name,
         wt.match_weight, wt.match_prob
  from pairs join wt using (g_seg, g_bal, g_name)
),
queue as (
  select * from scored
  where match_prob > 0.02 and match_prob < 0.99
  order by abs(match_prob - 0.5), a_key, b_key
  limit 200
)
select * from queue order by a_key, b_key"""
    )


def q_cluster_impurity(spark, sf_dir):
    """Over-merge offender report (operators/evaluation.
    cluster_impurity_report): the pred clusters losing the most
    pairwise precision vs the gold clustering — size, gold clusters
    spanned, purity, wrong intra-cluster pairs; top-20 by wrong pairs
    with deterministic tie-breaks. Same pred/gold channels as
    cluster_eval."""
    from entity_linking_in_biomedical_spark.functions.normalize import norm_key
    from entity_linking_in_biomedical_spark.operators.evaluation import (
        cluster_impurity_report,
    )

    docs = _t(spark, sf_dir, "documents")
    norm = norm_key(F.substring("text", 1, 40))
    assign = docs.select(
        "doc_id",
        F.substring(norm, 1, 8).alias("pred"),
        fingerprint("text").alias("gold"),
    )
    return cluster_impurity_report(assign, "doc_id", "pred", "gold", top_k=20)


ORACLE_CLUSTER_IMPURITY = f"""
with a as (
  select {_PREFIX8_SQL} as p, {_FP_SQL} as g from documents
),
cells as (select p, g, count(*) as c from a group by 1, 2),
per as (
  select p, sum(c) as size, count(*) as n_gold_spanned, max(c) as max_cell,
         sum(c * (c - 1) / 2.0) as good
  from cells group by p
)
select p as pred_cluster,
       cast(size as bigint) as size,
       cast(n_gold_spanned as bigint) as n_gold_spanned,
       round(max_cell * 1.0 / size, 6) as purity,
       cast(size * (size - 1) / 2.0 - good as bigint) as wrong_pairs
from per
where size * (size - 1) / 2.0 - good > 0
order by wrong_pairs desc, pred_cluster
limit 20
"""


def q_golden_records(spark, sf_dir):
    """Attribute-level survivorship (operators/survivorship.
    golden_records — the canonical-record step downstream of
    clustering, per-attribute unlike dedup_keep_best's whole-row
    election): customers are grouped into deterministic clusters of
    ~10 (custkey div 10) and merged under one rule per attribute —
    max balance, longest address (ties to the lexicographically
    largest), first phone by customer-key priority with NULLs PLANTED
    at custkey%3 (so the NULL-skipping path is exercised non-vacuously),
    and the modal market segment (ties to the smallest value). The
    DuckDB twin replays every rule with explicit row_number tie-break
    orders, so the hash check pins the determinism contract."""
    from entity_linking_in_biomedical_spark.operators.survivorship import (
        golden_records,
    )

    cust = _t(spark, sf_dir, "customer").select(
        F.floor(F.col("c_custkey") / 10).cast("string").alias("cluster_id"),
        F.col("c_custkey").alias("k"),
        F.col("c_mktsegment").alias("seg"),
        F.col("c_acctbal").cast("double").alias("bal"),
        # the sf tables carry no address/phone columns: plant
        # deterministic stand-ins (variable-length so 'longest' is
        # non-vacuous; NULLs at custkey%3 so 'first' must skip)
        F.substring(F.col("c_name"), 1, (10 + F.col("c_custkey") % 9).cast("int")).alias(
            "addr"
        ),
        F.when(F.col("c_custkey") % 3 == 0, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("P-"), F.col("c_custkey").cast("string")))
        .alias("phone"),
    )
    out = golden_records(
        cust,
        {
            "best_bal": ("max", "bal"),
            "addr": ("longest", "addr"),
            "phone": ("first", "phone", "k"),
            "seg": ("most_frequent", "seg"),
        },
    )
    return out.select(
        "cluster_id",
        "n_members",
        F.round("best_bal", 2).alias("best_bal"),
        "addr",
        "phone",
        "seg",
    ).orderBy("cluster_id")


ORACLE_GOLDEN_RECORDS = """
with rec as (
  select cast(c_custkey // 10 as varchar) as cluster_id, c_custkey as k,
         c_mktsegment as seg, cast(c_acctbal as double) as bal,
         substr(c_name, 1, cast(10 + c_custkey % 9 as int)) as addr,
         case when c_custkey % 3 = 0 then null
              else 'P-' || cast(c_custkey as varchar) end as phone
  from customer
),
base as (
  select cluster_id, cast(count(*) as bigint) as n_members,
         round(max(bal), 2) as best_bal
  from rec group by cluster_id
),
lng as (
  select cluster_id, addr from (
    select cluster_id, addr,
           row_number() over (partition by cluster_id
                              order by len(addr) desc, addr desc) as rn
    from rec where addr is not null) t where rn = 1
),
fst as (
  select cluster_id, phone from (
    select cluster_id, phone,
           row_number() over (partition by cluster_id order by k asc) as rn
    from rec where phone is not null) t where rn = 1
),
md as (
  select cluster_id, seg from (
    select cluster_id, seg,
           row_number() over (partition by cluster_id
                              order by count(*) desc, seg asc) as rn
    from rec where seg is not null group by cluster_id, seg) t where rn = 1
)
select base.cluster_id, base.n_members, base.best_bal,
       lng.addr as addr, fst.phone as phone, md.seg as seg
from base
left join lng using (cluster_id)
left join fst using (cluster_id)
left join md using (cluster_id)
order by base.cluster_id
"""


def q_monge_elkan(spark, sf_dir):
    """Monge-Elkan multiword-name comparator (functions/strings.
    monge_elkan_batch): mean-of-max token Jaro-Winkler, the standard
    hybrid similarity for reordered multiword names (Monge & Elkan
    1996) that whole-string JW misses. Pairs: same-brand part-name
    pairs (5-token names) on a deterministic 1-in-10 key sample; the
    whole batch's token cross-product runs through ONE
    jaro_winkler_batch call. Oracle: DuckDB's independent
    jaro_winkler_similarity under the same mean-of-max, with each
    per-token max rounded to 9 decimals and summed as decimal(38,9)
    (the classifier idiom) so the mean is token-order-free and
    bit-identical cross-engine — shipped UNROUNDED like jw_pairs."""
    import pandas as pd

    from entity_linking_in_biomedical_spark.functions.strings import (
        monge_elkan_batch,
    )

    @F.pandas_udf("double")
    def me(a, b):
        return pd.Series(
            monge_elkan_batch([list(x) for x in a], [list(x) for x in b])
        )

    part = (
        _ts(spark, sf_dir, "part")
        .filter(F.col("p_partkey") % 10 == 0)
        .select(
            F.col("p_partkey").alias("key"),
            F.split(F.col("p_name"), " ").alias("toks"),
            F.col("p_brand").alias("brand"),
        )
    )
    a = part.select(
        F.col("key").alias("left_key"), F.col("toks").alias("a_toks"), "brand"
    )
    b = part.select(
        F.col("key").alias("right_key"), F.col("toks").alias("b_toks"), "brand"
    )
    return (
        a.join(b, "brand")
        .filter(F.col("left_key") < F.col("right_key"))
        .select("left_key", "right_key", me("a_toks", "b_toks").alias("me"))
        .orderBy("left_key", "right_key")
    )


ORACLE_MONGE_ELKAN = """
with pr as (
  select a.p_partkey as left_key, b.p_partkey as right_key,
         string_split(a.p_name, ' ') as ats, string_split(b.p_name, ' ') as bts
  from part a join part b
    on a.p_brand = b.p_brand and a.p_partkey < b.p_partkey
  where a.p_partkey % 10 = 0 and b.p_partkey % 10 = 0
),
at as (
  select left_key, right_key, bts,
         unnest(generate_series(1, len(ats))) as i, ats
  from pr
),
tp as (
  select left_key, right_key, i, ats[i] as ta, unnest(bts) as tb
  from at
),
m as (
  select left_key, right_key, i,
         round(max(jaro_winkler_similarity(ta, tb)), 9) as mx
  from tp group by left_key, right_key, i
)
select left_key, right_key,
       cast(sum(cast(mx as decimal(38,9))) as double) / count(*) as me
from m group by left_key, right_key
order by left_key, right_key
"""


def q_threshold_curve(spark, sf_dir):
    """Decision-threshold sweep (operators/evaluation.threshold_curve):
    P/R/F1 at each candidate match cutoff, the curve an ER deployment
    reads to place its link / possible-link / non-link boundaries
    (Fellegi-Sunter band edges). The ENTIRE curve is ONE scalar
    aggregate over the scored frame — 2k+1 conditional sums in a single
    codegen'd scan, zero shuffles, no sort of the score column — plus a
    k-row stack. Scored pairs here: quality_score(text) as a classifier
    of lang == 'en' over documents (both sides already twin-verified by
    the quality_score / lang_id oracles)."""
    from entity_linking_in_biomedical_spark.operators.evaluation import (
        threshold_curve,
    )

    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        quality_score("text").alias("score"),
        (F.col("lang") == "en").alias("label"),
    )
    return threshold_curve(scored, _CURVE_THRESHOLDS).orderBy("threshold")


_CURVE_THRESHOLDS = [0.0, 0.2, 0.4, 0.5, 0.6, 0.8, 0.9]


def _oracle_threshold_curve() -> str:
    vals = ", ".join(f"(cast({t} as double))" for t in _CURVE_THRESHOLDS)
    return f"""
with t as (
  select lang, length(text) as n_chars,
         length(regexp_replace(lower(text), '[^a-z]', '', 'g')) as alpha,
         {_TOKS} as toks
  from documents
),
q as (select (lang = 'en') as y, {_QUALITY_EXPR} as s from t),
g as (
  select cast(coalesce(sum(case when y then 1 else 0 end), 0) as bigint) as pos
  from q
),
thr as (select * from (values {vals}) v(threshold)),
c as (
  select threshold,
         cast(count(case when s >= threshold then 1 end) as bigint) as n_predicted,
         cast(count(case when s >= threshold and y then 1 end) as bigint) as tp
  from thr left join q on true group by threshold
),
m as (
  select threshold, n_predicted, tp,
         n_predicted - tp as fp, pos - tp as fn,
         case when n_predicted > 0
              then cast(tp as double) / n_predicted else 1.0 end as p,
         case when pos > 0 then cast(tp as double) / pos else 1.0 end as r
  from c cross join g
)
select threshold, n_predicted, tp, fp, fn,
       round(p, 6) as "precision", round(r, 6) as recall,
       round(case when p + r > 0 then 2 * p * r / (p + r) else 0.0 end, 6) as f1
from m order by threshold
"""


ORACLE_THRESHOLD_CURVE = _oracle_threshold_curve()


def q_calibrated_scores(spark, sf_dir):
    """Platt score calibration (operators/evaluation.platt_calibrate +
    apply_calibration): fit p = sigmoid(a·score + b) on labeled scores
    with the deterministic decimal-GD fitter (classifier.lr_fit, score
    as the single feature), then score every row with the fitted plan
    literals. Same labeled frame as threshold_curve (quality_score vs
    lang == 'en'); the DuckDB twin replays both GD iterations as
    unrolled CTEs — the quality_classifier idiom — then the identical
    sigmoid, so every per-row probability is value-checked."""
    from entity_linking_in_biomedical_spark.operators.evaluation import (
        apply_calibration,
        platt_calibrate,
    )

    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        quality_score("text").alias("score"),
        (F.col("lang") == "en").alias("label"),
    )
    model = platt_calibrate(scored)
    return (
        apply_calibration(scored, model, out_col="p_en")
        .select("doc_id", "score", "p_en")
        .orderBy("doc_id")
    )


def _oracle_calibrated_scores(lr: float = 0.5) -> str:
    def gsum(err: str, x: str) -> str:
        return f"cast(sum(cast(round(({err}) * {x}, 9) as decimal(38,9))) as double)"

    def gsum_b(err: str) -> str:
        return f"cast(sum(cast(round({err}, 9) as decimal(38,9))) as double)"

    err1 = "0.5 - y"
    z2 = "w1.b + w1.ws * s"
    err2 = f"1.0 / (1.0 + exp(-({z2}))) - y"
    return f"""
with t as (
  select doc_id, lang, length(text) as n_chars,
         length(regexp_replace(lower(text), '[^a-z]', '', 'g')) as alpha,
         {_TOKS} as toks
  from documents
),
feats as (
  select doc_id, round({_QUALITY_EXPR}, 9) as s,
         case when lang = 'en' then 1 else 0 end as y
  from t
),
g1 as (
  select {gsum(err1, "s")} as gs, {gsum_b(err1)} as gb,
         cast(count(*) as double) as n
  from feats
),
w1 as (
  select round(0.0 - round({lr} * gs / n, 9), 9) as ws,
         round(0.0 - round({lr} * gb / n, 9), 9) as b
  from g1
),
g2 as (
  select {gsum(err2, "s")} as gs, {gsum_b(err2)} as gb,
         cast(count(*) as double) as n
  from feats cross join w1
),
w2 as (
  select round(w1.ws - round({lr} * g2.gs / g2.n, 9), 9) as ws,
         round(w1.b - round({lr} * g2.gb / g2.n, 9), 9) as b
  from w1 cross join g2
)
select feats.doc_id, feats.s as score,
       round(1.0 / (1.0 + exp(-(w2.b + w2.ws * feats.s))), 6) as p_en
from feats cross join w2
order by feats.doc_id
"""


ORACLE_CALIBRATED_SCORES = _oracle_calibrated_scores()


def q_stable_ids(spark, sf_dir):
    """Cross-snapshot entity-id stitching (operators/matching.
    stable_cluster_ids): a re-run's clusters inherit the previous
    snapshot's ids by maximal membership overlap under a 1:1
    constraint (an old id is reused at most once, so a split can never
    silently re-merge downstream). Planted drift over customer: old
    clusters = custkey % 37; the new snapshot splits cluster 5 in two
    (parity) and merges cluster 6 into 7 — the split's larger half and
    the merge inherit, the residue goes fresh. Oracle: the same
    overlap cells run through the shared unrolled mutual-best CTEs
    (_mutual_best_ctes), then the identical relabel join."""
    from entity_linking_in_biomedical_spark.operators.matching import (
        stable_cluster_ids,
    )

    cust = _t(spark, sf_dir, "customer")
    k37 = F.col("c_custkey") % 37
    old = cust.select(
        F.col("c_custkey").cast("string").alias("doc_id"),
        k37.cast("string").alias("cluster_id"),
    )
    new_cl = (
        F.when(k37 == 5, F.concat(F.lit("s"), (F.col("c_custkey") % 2).cast("string")))
        .when(k37 == 6, F.lit("7"))
        .otherwise(k37.cast("string"))
    )
    new = cust.select(
        F.col("c_custkey").cast("string").alias("doc_id"),
        new_cl.alias("cluster_id"),
    )
    return stable_cluster_ids(old, new, max_rounds=6).orderBy("doc_id")


def _oracle_stable_ids(rounds=6) -> str:
    ctes = [
        """oldc as (
  select cast(c_custkey as varchar) as id,
         cast(c_custkey % 37 as varchar) as oc
  from customer
)""",
        """newc as (
  select cast(c_custkey as varchar) as id,
         case when c_custkey % 37 = 5 then 's' || cast(c_custkey % 2 as varchar)
              when c_custkey % 37 = 6 then '7'
              else cast(c_custkey % 37 as varchar) end as nc
  from customer
)""",
        """r0 as (
  select nc as l, oc as r, cast(count(*) as double) as score
  from newc join oldc using (id) group by nc, oc
)""",
    ]
    mctes, body = _mutual_best_ctes(rounds)
    ctes += mctes
    ctes.append(f"matched as (select l, r from ({body}))")
    return (
        "with "
        + ",\n".join(ctes)
        + """
select newc.id as doc_id,
       coalesce(matched.r, 'new:' || newc.nc) as stable_id,
       matched.r is null as is_fresh
from newc left join matched on newc.nc = matched.l
order by doc_id
"""
    )


ORACLE_STABLE_IDS = _oracle_stable_ids()


def q_id_churn(spark, sf_dir):
    """Snapshot churn report (operators/matching.stitch_churn_stats):
    the per-run monitoring rollup of the stable-ids family — items
    moved between entities, entities retired/freshly minted. Planted
    drift over customer: ~1% of items leave (custkey%89/97 splits the
    populations), custkey%11 members move one cluster over, and old
    cluster 36 is wholesale-relabeled 'f36' so exactly one entity
    retires and one is fresh. ONE full-outer join on the item id + a
    scalar aggregate + two distinct-id anti-joins."""
    from entity_linking_in_biomedical_spark.operators.matching import (
        stitch_churn_stats,
    )

    cust = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    k37 = k % 37
    old = cust.filter(k % 89 != 0).select(
        k.cast("string").alias("doc_id"), k37.cast("string").alias("cluster_id")
    )
    moved = (k37 + F.when(k % 11 == 0, 1).otherwise(0)) % 37
    new = cust.filter(k % 97 != 0).select(
        k.cast("string").alias("doc_id"),
        F.when(k37 == 36, F.lit("f36"))
        .otherwise(moved.cast("string"))
        .alias("cluster_id"),
    )
    return stitch_churn_stats(old, new)


ORACLE_ID_CHURN = """
with o as (
  select cast(c_custkey as varchar) as id,
         cast(c_custkey % 37 as varchar) as c
  from customer where c_custkey % 89 <> 0
),
n as (
  select cast(c_custkey as varchar) as id,
         case when c_custkey % 37 = 36 then 'f36'
              else cast((c_custkey % 37
                         + case when c_custkey % 11 = 0 then 1 else 0 end)
                        % 37 as varchar) end as c
  from customer where c_custkey % 97 <> 0
),
j as (select o.id as oid, o.c as oc, n.id as nid, n.c as nc
      from o full outer join n on o.id = n.id),
agg as (
  select cast(sum(case when oc is not null then 1 else 0 end) as bigint) as n_old,
         cast(sum(case when nc is not null then 1 else 0 end) as bigint) as n_new,
         cast(sum(case when oc is not null and nc is not null then 1 else 0 end)
              as bigint) as n_common,
         cast(sum(case when oc is not null and nc is not null and oc <> nc
                       then 1 else 0 end) as bigint) as n_moved,
         cast(count(distinct oc) as bigint) as n_entities_old,
         cast(count(distinct nc) as bigint) as n_entities_new
  from j
),
ret as (select cast(count(*) as bigint) as n_retired
        from (select distinct c from o except select distinct c from n)),
fre as (select cast(count(*) as bigint) as n_fresh
        from (select distinct c from n except select distinct c from o))
select n_old, n_new, n_common, n_moved,
       round(case when n_common > 0
                  then cast(n_moved as double) / n_common else 0.0 end, 6)
         as item_churn,
       n_entities_old, n_entities_new, ret.n_retired, fre.n_fresh
from agg cross join ret cross join fre
"""


def q_phonetic_blocking(spark, sf_dir):
    """Phonetic blocking-key profile (functions/phonetic.soundex — the
    Christen ch.4 spelling-variant channel the exact/norm-key blocks
    miss; reference's only fuzzy channel is the O(|M|·|E|) TF-IDF join,
    candidate_generator.py:89-127): Soundex every token of p_name and
    profile the resulting blocks (occurrences, distinct tokens, pair
    mass). Pure codegen — translate/replace chains, one explode, one
    map-side-partial groupBy, top-25 under a strict total order. The
    DuckDB twin evaluates the SAME algorithm generated from the same
    constant table (soundex_sql), so the hash check certifies the
    phonetic key cross-engine."""
    from entity_linking_in_biomedical_spark.functions.phonetic import soundex

    part = _t(spark, sf_dir, "part")
    toks = part.select(F.explode(F.split(F.col("p_name"), " ")).alias("tok"))
    g = (
        toks.select(soundex("tok").alias("code"), "tok")
        .filter(F.col("code") != "")
        .groupBy("code")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.countDistinct("tok").cast("bigint").alias("n_tokens"),
            F.min("tok").alias("sample_token"),
        )
    )
    return (
        g.withColumn(
            "pair_mass", (F.col("n") * (F.col("n") - 1) / 2).cast("bigint")
        )
        .orderBy(F.desc("n"), F.asc("code"))
        .limit(25)
    )


def _oracle_phonetic_blocking() -> str:
    from entity_linking_in_biomedical_spark.functions.phonetic import soundex_sql

    return f"""
with tok as (select unnest(string_split(p_name, ' ')) as tok from part),
c as (select {soundex_sql('tok')} as code, tok from tok),
g as (
  select code, cast(count(*) as bigint) as n,
         cast(count(distinct tok) as bigint) as n_tokens,
         min(tok) as sample_token
  from c where code <> '' group by code
)
select code, n, n_tokens, sample_token,
       cast(n * (n - 1) // 2 as bigint) as pair_mass
from g order by n desc, code limit 25
"""


ORACLE_PHONETIC_BLOCKING = _oracle_phonetic_blocking()


def q_golden_refresh(spark, sf_dir):
    """Incremental survivorship (operators/survivorship.
    refresh_golden_records): after membership changes touch SOME
    clusters, recompute golden rows for those clusters only and splice
    them over the persisted golden table — O(|touched members| +
    |golden|), never a corpus re-aggregation. Planted drift over the
    q_golden_records corpus: every custkey % 97 == 0 member moves to
    the next cluster; the touched set is the moved members' source and
    destination clusters. The Spark side runs old-golden -> refresh;
    the DuckDB twin recomputes the FULL golden table over the NEW
    assignment, so the hash check proves incremental == full
    cross-engine."""
    from entity_linking_in_biomedical_spark.operators.survivorship import (
        golden_records,
        refresh_golden_records,
    )

    cust = _t(spark, sf_dir, "customer")
    moved = F.col("c_custkey") % 97 == 0
    base_cl = F.floor(F.col("c_custkey") / 10)

    def recs(cluster_expr):
        return cust.select(
            cluster_expr.cast("string").alias("cluster_id"),
            F.col("c_custkey").alias("k"),
            F.col("c_mktsegment").alias("seg"),
            F.col("c_acctbal").cast("double").alias("bal"),
            F.substring(
                F.col("c_name"), 1, (10 + F.col("c_custkey") % 9).cast("int")
            ).alias("addr"),
            F.when(F.col("c_custkey") % 3 == 0, F.lit(None).cast("string"))
            .otherwise(F.concat(F.lit("P-"), F.col("c_custkey").cast("string")))
            .alias("phone"),
        )

    rules = {
        "best_bal": ("max", "bal"),
        "addr": ("longest", "addr"),
        "phone": ("first", "phone", "k"),
        "seg": ("most_frequent", "seg"),
    }
    old_golden = golden_records(recs(base_cl), rules)
    touched = (
        cust.filter(moved)
        .select(base_cl.cast("string").alias("cluster_id"))
        .unionByName(
            cust.filter(moved).select((base_cl + 1).cast("string").alias("cluster_id"))
        )
        .distinct()
    )
    out = refresh_golden_records(
        recs(base_cl + moved.cast("int")), old_golden, touched, rules
    )
    return out.select(
        "cluster_id",
        "n_members",
        F.round("best_bal", 2).alias("best_bal"),
        "addr",
        "phone",
        "seg",
    ).orderBy("cluster_id")


ORACLE_GOLDEN_REFRESH = ORACLE_GOLDEN_RECORDS.replace(
    "c_custkey // 10",
    "(c_custkey // 10 + case when c_custkey % 97 = 0 then 1 else 0 end)",
)
# textual derivation: fail loudly at import time if a reformat of
# ORACLE_GOLDEN_RECORDS ever makes the replace a silent no-op
assert ORACLE_GOLDEN_REFRESH != ORACLE_GOLDEN_RECORDS


def q_jw_pairs(spark, sf_dir):
    """Jaro-Winkler scoring kernel (functions/strings.
    jaro_winkler_batch — the Arrow-vectorized pairwise feature of the
    scoring stage, SURVEY §2.7; the reference has no JW, it is the
    north star's named feature set): customer x supplier name pairs
    within each nation block, scored by the batch kernel through one
    pandas UDF. Oracle: DuckDB's built-in jaro_winkler_similarity — an
    INDEPENDENT C++ implementation — which the kernel matches
    bit-for-bit on non-empty strings (5,000-pair differential, plus
    canonical vectors, in tests/test_functions.py), so the values ship
    UNROUNDED. Empty strings are excluded: the engines' conventions
    differ there by design (ours 1.0 for ''=='', DuckDB 0.0), and TPC-H
    names are never empty."""
    import pandas as pd

    from entity_linking_in_biomedical_spark.functions.strings import (
        jaro_winkler_batch,
    )

    # no type hints: `from __future__ import annotations` stringifies
    # them and the locally-imported `pd` isn't resolvable at decoration
    @F.pandas_udf("double")
    def jw(a, b):
        return pd.Series(jaro_winkler_batch(a.tolist(), b.tolist()))

    cust = _ts(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("string").alias("left_id"),
        F.lower(F.col("c_name")).alias("lname"),
        F.col("c_nationkey").alias("nk"),
    )
    supp = _ts(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").cast("string").alias("right_id"),
        F.lower(F.col("s_name")).alias("rname"),
        F.col("s_nationkey").alias("nk"),
    )
    return (
        cust.join(supp, "nk")
        .filter((F.length("lname") > 0) & (F.length("rname") > 0))
        .select("left_id", "right_id", jw("lname", "rname").alias("jw"))
        .orderBy("left_id", "right_id")
    )


ORACLE_JW_PAIRS = """
select cast(c.c_custkey as varchar) as left_id,
       cast(s.s_suppkey as varchar) as right_id,
       jaro_winkler_similarity(lower(c.c_name), lower(s.s_name)) as jw
from customer c join supplier s on c.c_nationkey = s.s_nationkey
where length(c.c_name) > 0 and length(s.s_name) > 0
order by left_id, right_id
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "pricing_summary": q_pricing_summary,
        "semi_join_split": q_semi_join_split,
        "anti_join": q_anti_join,
        "collect_set": q_collect_set,
        "groupby_last": q_groupby_last,
        "topk_per_group": q_topk_per_group,
        "self_join_pairs": q_self_join_pairs,
        "union_dedup": q_union_dedup,
        "levenshtein_pairs": q_levenshtein,
        "norm_key": q_norm_key,
        "cap_deterministic": q_cap_deterministic,
        "revenue_3way": q_revenue_3way,
        "events_hourly": q_events_hourly,
        "asof_attribution": q_asof_attribution,
        "sessionize": q_sessionize,
        "range_join_pairs": q_range_join_pairs,
        "event_funnel": q_event_funnel,
        "exact_dedup": q_exact_dedup,
        "fingerprint_dedup": q_fingerprint_dedup,
        "minhash_dedup": q_minhash_dedup,
        "incremental_dedup": q_incremental_dedup,
        "shard_plan": q_shard_plan,
        "url_dedup": q_url_dedup,
        "media_dedup": q_media_dedup,
        "media_dedup_incremental": q_media_dedup_incremental,
        "interleaved_stats": q_interleaved_stats,
        "curate_interleaved": q_curate_interleaved,
        "ngram_jaccard": q_ngram_jaccard,
        "doc_clusters_cc": q_doc_clusters_cc,
        "cluster_sizes": q_cluster_sizes,
        "match_graph_qa": q_match_graph_qa,
        "closure_sensitivity": q_closure_sensitivity,
        "blocking_stats": q_blocking_stats,
        "snb_blocking": q_snb_blocking,
        "snapshot_diff": q_snapshot_diff,
        "cc_incremental": q_cc_incremental,
        "cc_retract": q_cc_retract,
        "lang_id": q_lang_id,
        "token_count": q_token_count,
        "lm_nll": q_lm_nll,
        "pack_sequences": q_pack_sequences,
        "chunk_docs": q_chunk_docs,
        "pack_interleaved": q_pack_interleaved,
        "temperature_mixture": q_temperature_mixture,
        "length_quantiles": q_length_quantiles,
        "url_canonicalize": q_url_canonicalize,
        "quality_score": q_quality,
        "doc_fingerprint": q_doc_fingerprint,
        "pii_redact": q_pii_redact,
        "repetition": q_repetition,
        "contamination": q_contamination,
        "decontaminate": q_decontaminate,
        "scrub_contamination": q_scrub_contamination,
        "scrub_interleaved": q_scrub_interleaved,
        "scrub_stream": q_scrub_stream,
        "dedup_clusters": q_dedup_clusters,
        "dedup_keep_best": q_dedup_keep_best,
        "stratified_sample": q_stratified_sample,
        "token_budget_sample": q_token_budget_sample,
        "hash_split": q_hash_split,
        "dsir_sample": q_dsir_sample,
        "quality_classifier": q_quality_classifier,
        "kmeans_clusters": q_kmeans_clusters,
        "semantic_dedup": q_semantic_dedup,
        "bpe_merges": q_bpe_merges,
        "bpe_encode": q_bpe_encode,
        "corpus_stats": q_corpus_stats,
        "url_stats": q_url_stats,
        "vocab_drift": q_vocab_drift,
        "dup_passages": q_dup_passages,
        "dedup_passages_apply": q_dedup_passages_apply,
        "c4_clean": q_c4_clean,
        "line_dedup": q_line_dedup,
        "line_dedup_incremental": q_line_dedup_incremental,
        "domain_filter": q_domain_filter,
        "perplexity_buckets": q_perplexity_buckets,
        "filter_funnel": q_filter_funnel,
        "ann_brute_force": q_ann_brute_force,
        "ann_lsh": q_ann_lsh,
        "ann_ivf": q_ann_ivf,
        "embedding_dedup": q_embedding_dedup,
        "media_features": q_media_features,
        "sample_frames": q_sample_frames,
        "simhash_dedup": q_simhash_dedup,
        "semi_hard_negatives": q_semi_hard_negatives,
        "er_synthetic": q_er_synthetic,
        "er_incremental": q_er_incremental,
        "cluster_eval": q_cluster_eval,
        "blocking_quality": q_blocking_quality,
        "meta_blocking": q_meta_blocking,
        "fs_em_weights": q_fs_em_weights,
        "fs_em_levels": q_fs_em_levels,
        "fs_tf_adjust": q_fs_tf_adjust,
        "review_queue": q_review_queue,
        "cluster_impurity": q_cluster_impurity,
        "golden_records": q_golden_records,
        "golden_refresh": q_golden_refresh,
        "threshold_curve": q_threshold_curve,
        "calibrated_scores": q_calibrated_scores,
        "stable_ids": q_stable_ids,
        "id_churn": q_id_churn,
        "phonetic_blocking": q_phonetic_blocking,
        "repair_clusters": q_repair_clusters,
        "one_to_one": q_one_to_one,
        "jw_pairs": q_jw_pairs,
        "monge_elkan": q_monge_elkan,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "pricing_summary": ORACLE_PRICING,
        "semi_join_split": ORACLE_SEMI,
        "anti_join": ORACLE_ANTI,
        "collect_set": ORACLE_COLLECT_SET,
        "groupby_last": ORACLE_GROUPBY_LAST,
        "topk_per_group": ORACLE_TOPK,
        "self_join_pairs": ORACLE_SELF_JOIN,
        "union_dedup": ORACLE_UNION_DEDUP,
        "levenshtein_pairs": ORACLE_LEV,
        "norm_key": ORACLE_NORM_KEY,
        "cap_deterministic": ORACLE_CAP,
        "revenue_3way": ORACLE_REVENUE_3WAY,
        "events_hourly": ORACLE_EVENTS_HOURLY,
        "asof_attribution": ORACLE_ASOF_ATTRIBUTION,
        "sessionize": ORACLE_SESSIONIZE,
        "range_join_pairs": ORACLE_RANGE_JOIN,
        "event_funnel": ORACLE_EVENT_FUNNEL,
        "exact_dedup": ORACLE_EXACT_DEDUP,
        "fingerprint_dedup": ORACLE_FP_DEDUP,
        "minhash_dedup": _oracle_minhash_dedup(),
        "incremental_dedup": _oracle_incremental_dedup(),
        "shard_plan": ORACLE_SHARD_PLAN,
        "url_dedup": _oracle_url_dedup(),
        "media_dedup": ORACLE_MEDIA_DEDUP,
        "media_dedup_incremental": ORACLE_MEDIA_DEDUP_INCREMENTAL,
        "interleaved_stats": ORACLE_INTERLEAVED_STATS,
        "curate_interleaved": _oracle_curate_interleaved(),
        "ngram_jaccard": _oracle_ngram_jaccard(),
        "doc_clusters_cc": _oracle_doc_clusters(),
        "cluster_sizes": _oracle_cluster_sizes(),
        "match_graph_qa": _oracle_match_graph_qa(),
        "closure_sensitivity": _oracle_closure_sensitivity(),
        "blocking_stats": _oracle_blocking_stats(),
        "snb_blocking": ORACLE_SNB_BLOCKING,
        "snapshot_diff": ORACLE_SNAPSHOT_DIFF,
        "cc_incremental": ORACLE_CC_INCREMENTAL,
        "cc_retract": ORACLE_CC_RETRACT,
        "lang_id": ORACLE_LANG_ID,
        "token_count": ORACLE_TOKEN_COUNT,
        "lm_nll": ORACLE_LM_NLL,
        "pack_sequences": ORACLE_PACK_SEQUENCES,
        "chunk_docs": ORACLE_CHUNK_DOCS,
        "pack_interleaved": ORACLE_PACK_INTERLEAVED,
        "temperature_mixture": ORACLE_TEMPERATURE_MIXTURE,
        "length_quantiles": ORACLE_LENGTH_QUANTILES,
        "url_canonicalize": _oracle_url_canonicalize(),
        "quality_score": ORACLE_QUALITY,
        "doc_fingerprint": ORACLE_DOC_FP,
        "pii_redact": _oracle_pii_redact(),
        "repetition": ORACLE_REPETITION,
        "contamination": ORACLE_CONTAMINATION,
        "decontaminate": ORACLE_DECONTAMINATE,
        "scrub_contamination": _oracle_scrub_contamination(),
        "scrub_interleaved": _oracle_scrub_interleaved(),
        "scrub_stream": _oracle_scrub_contamination(),
        "dedup_clusters": _oracle_dedup_clusters(),
        "dedup_keep_best": _oracle_dedup_keep_best(),
        "stratified_sample": _oracle_stratified_sample(),
        "token_budget_sample": _oracle_token_budget_sample(),
        "hash_split": _oracle_hash_split(),
        "dsir_sample": ORACLE_DSIR_SAMPLE,
        "quality_classifier": _oracle_quality_classifier(),
        "kmeans_clusters": _oracle_kmeans_clusters(),
        "semantic_dedup": _oracle_semantic_dedup(),
        "bpe_merges": _oracle_bpe_merges(),
        "bpe_encode": _oracle_bpe_encode(),
        "corpus_stats": ORACLE_CORPUS_STATS,
        "url_stats": ORACLE_URL_STATS,
        "vocab_drift": ORACLE_VOCAB_DRIFT,
        "dup_passages": _oracle_dup_passages(),
        "dedup_passages_apply": _oracle_dedup_passages_apply(),
        "c4_clean": ORACLE_C4_CLEAN,
        "line_dedup": ORACLE_LINE_DEDUP,
        "line_dedup_incremental": ORACLE_LINE_DEDUP_INCREMENTAL,
        "domain_filter": ORACLE_DOMAIN_FILTER,
        "perplexity_buckets": ORACLE_PPL_BUCKETS,
        "filter_funnel": _oracle_filter_funnel(),
        "ann_brute_force": ORACLE_ANN,
        "ann_lsh": ORACLE_ANN_LSH,
        "ann_ivf": ORACLE_ANN_IVF,
        "embedding_dedup": ORACLE_EMB_DEDUP,
        "media_features": _oracle_media_features(),
        "sample_frames": _oracle_sample_frames(),
        "simhash_dedup": _oracle_simhash_dedup(),
        "semi_hard_negatives": ORACLE_SEMI_HARD,
        # er_synthetic: golden-values oracle, see _oracle_er_synthetic
        "er_synthetic": _oracle_er_synthetic(),
        # er_incremental: snapshot composition must reproduce the SAME
        # frozen golden — hash-equality is the incremental==batch proof
        "er_incremental": _oracle_er_synthetic(),
        "cluster_eval": ORACLE_CLUSTER_EVAL,
        "blocking_quality": ORACLE_BLOCKING_QUALITY,
        "meta_blocking": _oracle_meta_blocking(),
        "fs_em_weights": _oracle_fs_em(),
        "fs_em_levels": _oracle_fs_em_levels(),
        "fs_tf_adjust": ORACLE_FS_TF,
        "review_queue": _oracle_review_queue(),
        "cluster_impurity": ORACLE_CLUSTER_IMPURITY,
        "golden_records": ORACLE_GOLDEN_RECORDS,
        "golden_refresh": ORACLE_GOLDEN_REFRESH,
        "threshold_curve": ORACLE_THRESHOLD_CURVE,
        "calibrated_scores": ORACLE_CALIBRATED_SCORES,
        "stable_ids": ORACLE_STABLE_IDS,
        "id_churn": ORACLE_ID_CHURN,
        "phonetic_blocking": ORACLE_PHONETIC_BLOCKING,
        "repair_clusters": _oracle_repair_clusters(),
        "one_to_one": _oracle_one_to_one(),
        "jw_pairs": ORACLE_JW_PAIRS,
        "monge_elkan": ORACLE_MONGE_ELKAN,
    }
