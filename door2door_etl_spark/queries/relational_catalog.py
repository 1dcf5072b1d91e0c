"""ETL-semantics and relational (TPC-H-style) query catalog.

Each entry pairs an idiomatic-Spark DataFrame query with a DuckDB oracle
that is provably the same computation.  ETL-group queries replicate the
reference pipeline's operators on the ``events`` stream table (SURVEY.md §2
ids cited per query); the TPC-H group supplies the analyst surface the
reference delegates to its Postgres warehouse (SURVEY.md §2.4-2.6).

Determinism rules used throughout:
- money aggregates use the exact-decimal dsum/davg pattern (defs.py);
- every LIMIT sits under a total order ending in a unique key;
- timestamps stay microsecond-precision naive UTC on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from door2door_etl_spark.io.readers import TABLES, list_sf_tables, load_table
from door2door_etl_spark.operators import local
from door2door_etl_spark.operators.relational import (
    dedup_first_wins,
    interval_join,
    latest_per_key,
    topk_per_group,
)
from door2door_etl_spark.queries.defs import QueryDef, davg, dsum
from door2door_etl_spark.schemas.keys import surrogate_uuid_expr

# ---------------------------------------------------------------------------
# ETL-semantics group (events table = door2door event stream stand-in)
# ---------------------------------------------------------------------------


def q_hour_window_filter(spark: SparkSession, sf: str) -> DataFrame:
    """P1 hour-bucket filter + P4 projection (s3.py:55 semantics, sane form)."""
    ev = load_table(spark, sf, "events")
    return ev.filter(
        F.date_trunc("hour", F.col("ts")) == F.lit("2024-01-05 13:00:00").cast("timestamp")
    ).select("event_id", "user_id", "event_type", "ts", "value")


SQL_HOUR_WINDOW_FILTER = """
SELECT event_id, user_id, event_type, ts, value
FROM events
WHERE date_trunc('hour', ts) = TIMESTAMP '2024-01-05 13:00:00'
"""


def q_watermark_max(spark: SparkSession, sf: str) -> DataFrame:
    """S3 watermark scan: MAX over successful rows (postgres.py:88-106;
    'error' events stand in for rows with tracebacks)."""
    ev = load_table(spark, sf, "events")
    return ev.filter(F.col("event_type") != "error").agg(
        F.max("ts").alias("watermark_ts"),
        F.count(F.lit(1)).alias("n_successful"),
    )


SQL_WATERMARK_MAX = """
SELECT max(ts) AS watermark_ts, count(*) AS n_successful
FROM events WHERE event_type != 'error'
"""


def q_entity_split_project(spark: SparkSession, sf: str) -> DataFrame:
    """P3 entity split + P4 schema projection/rename + P6 trim
    (handler.py:70-72 + helper.py:89-142)."""
    ev = load_table(spark, sf, "events")
    return ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").cast("string").alias("user_key"),
        F.col("ts").alias("clicked_at"),
        F.col("value").alias("click_value"),
        F.trim(F.col("props")).alias("props_trimmed"),
    )


SQL_ENTITY_SPLIT_PROJECT = """
SELECT event_id AS click_id, CAST(user_id AS VARCHAR) AS user_key,
       ts AS clicked_at, value AS click_value, trim(props) AS props_trimmed
FROM events WHERE event_type = 'click'
"""


def q_surrogate_key_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """F5 surrogate UUID + A3 order-stable dedup: one row per
    (user, event_type, day) keyed by the derived UUID, latest event wins
    (helper.py:144-148 + row_number variant from SURVEY.md §2.5)."""
    ev = load_table(spark, sf, "events")
    day_str = F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd HH:mm:ss")
    keyed = ev.withColumn(
        "event_generated_id",
        surrogate_uuid_expr(
            [F.col("user_id").cast("string"), F.col("event_type"), day_str]
        ),
    )
    picked = dedup_first_wins(
        keyed,
        ["event_generated_id"],
        [F.desc("ts"), F.desc("event_id")],
    )
    return picked.select(
        "event_generated_id",
        "user_id",
        "event_type",
        F.col("ts").alias("latest_ts"),
        F.col("event_id").alias("latest_event_id"),
    )


SQL_SURROGATE_KEY_DEDUP = """
WITH keyed AS (
  SELECT *,
    sha256(CAST(user_id AS VARCHAR) || event_type
           || strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S')) AS h
  FROM events
), fmt AS (
  SELECT *,
    substr(h,1,8) || '-' || substr(h,9,4) || '-' || substr(h,13,4) || '-'
      || substr(h,17,4) || '-' || substr(h,21,12) AS event_generated_id
  FROM keyed
), ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY event_generated_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM fmt
)
SELECT event_generated_id, user_id, event_type,
       ts AS latest_ts, event_id AS latest_event_id
FROM ranked WHERE rn = 1
"""


def q_latest_event_per_user(spark: SparkSession, sf: str) -> DataFrame:
    """Window latest-per-key (SURVEY.md §2.6: 'latest location per vehicle')."""
    ev = load_table(spark, sf, "events")
    return latest_per_key(ev, ["user_id"], "ts", ["event_id"]).select(
        "user_id",
        F.col("ts").alias("last_ts"),
        F.col("event_type").alias("last_event_type"),
        F.col("event_id").alias("last_event_id"),
    )


SQL_LATEST_EVENT_PER_USER = """
SELECT user_id, ts AS last_ts, event_type AS last_event_type,
       event_id AS last_event_id
FROM (SELECT *, row_number() OVER (
        PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn FROM events)
WHERE rn = 1
"""


def q_hourly_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """§2.8 tumbling 1-hour window as grouped agg (batch form of
    F.window(col, '1 hour'))."""
    ev = load_table(spark, sf, "events")
    return ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour_start"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum(F.col("value")).alias("value_sum"),
        F.countDistinct("user_id").alias("n_users"),
    )


SQL_HOURLY_ROLLUP = """
SELECT date_trunc('hour', ts) AS hour_start, event_type,
       count(*) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE), 2) AS value_sum,
       count(DISTINCT user_id) AS n_users
FROM events GROUP BY 1, 2
"""


def q_union_all_recombine(spark: SparkSession, sf: str) -> DataFrame:
    """§2.6 set ops: merge_jsons ≡ N-ary UNION ALL (helper.py:11-27) —
    split two entity streams, recombine, aggregate."""
    ev = load_table(spark, sf, "events")
    clicks = ev.filter(F.col("event_type") == "click")
    purchases = ev.filter(F.col("event_type") == "purchase")
    merged = clicks.unionByName(purchases)
    return merged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum(F.col("value")).alias("value_sum"),
    )


SQL_UNION_ALL_RECOMBINE = """
WITH merged AS (
  SELECT * FROM events WHERE event_type = 'click'
  UNION ALL
  SELECT * FROM events WHERE event_type = 'purchase'
)
SELECT event_type, count(*) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE), 2) AS value_sum
FROM merged GROUP BY 1
"""


def q_hours_without_signup_anti(spark: SparkSession, sf: str) -> DataFrame:
    """§2.4 anti join: 'hours not yet ingested' pattern — hours with traffic
    but no signup events."""
    ev = load_table(spark, sf, "events")
    hours = ev.select(F.date_trunc("hour", F.col("ts")).alias("hour_start")).distinct()
    signup_hours = (
        ev.filter(F.col("event_type") == "signup")
        .select(F.date_trunc("hour", F.col("ts")).alias("hour_start"))
        .distinct()
    )
    return hours.join(signup_hours, "hour_start", "left_anti")


SQL_HOURS_WITHOUT_SIGNUP_ANTI = """
SELECT DISTINCT date_trunc('hour', ts) AS hour_start FROM events
EXCEPT
SELECT DISTINCT date_trunc('hour', ts) FROM events WHERE event_type = 'signup'
"""


def q_error_user_activity_semi(spark: SparkSession, sf: str) -> DataFrame:
    """§2.4 semi join: activity of users who ever hit an error."""
    ev = load_table(spark, sf, "events")
    error_users = ev.filter(F.col("event_type") == "error").select("user_id").distinct()
    return (
        ev.join(error_users, "user_id", "left_semi")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum(F.col("value")).alias("value_sum"))
    )


SQL_ERROR_USER_ACTIVITY_SEMI = """
SELECT user_id, count(*) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE), 2) AS value_sum
FROM events
WHERE user_id IN (SELECT user_id FROM events WHERE event_type = 'error')
GROUP BY 1
"""


def q_point_lookup(spark: SparkSession, sf: str) -> DataFrame:
    """S4 point query + LIMIT-1 semantics (postgres.py:108-129)."""
    ev = load_table(spark, sf, "events")
    return ev.filter(F.col("event_id") == 4242).select(
        "event_id", "user_id", "event_type", "ts", "value"
    ).limit(1)


SQL_POINT_LOOKUP = """
SELECT event_id, user_id, event_type, ts, value
FROM events WHERE event_id = 4242 LIMIT 1
"""


def q_props_extract_distribution(spark: SparkSession, sf: str) -> DataFrame:
    """F1/F2 scalar JSON-ish extraction from the props payload (portable
    regexp form of get_json_object) + grouped distribution."""
    ev = load_table(spark, sf, "events")
    k = F.regexp_extract(F.col("props"), "[0-9]+", 0).try_cast("int")
    return ev.select(k.alias("prop_k")).groupBy("prop_k").agg(
        F.count(F.lit(1)).alias("n")
    )


SQL_PROPS_EXTRACT_DISTRIBUTION = """
SELECT TRY_CAST(regexp_extract(props, '[0-9]+', 0) AS INT) AS prop_k,
       count(*) AS n
FROM events GROUP BY 1
"""


def q_quarantine_unknown_types(spark: SparkSession, sf: str) -> DataFrame:
    """§7 quarantine semantics: count records with unknown discriminator
    (reference would KeyError, handler.py:72)."""
    ev = load_table(spark, sf, "events")
    known = ["click", "view", "purchase", "signup", "error"]
    return ev.filter(~F.col("event_type").isin(known) | F.col("event_type").isNull()).agg(
        F.count(F.lit(1)).alias("n_quarantined")
    )


SQL_QUARANTINE_UNKNOWN_TYPES = """
SELECT count(*) AS n_quarantined FROM events
WHERE event_type IS NULL
   OR event_type NOT IN ('click','view','purchase','signup','error')
"""


def q_interval_join_periods(spark: SparkSession, sf: str) -> DataFrame:
    """§2.4 interval/range join: events falling inside derived operating
    periods (periods = first 3 days of each event_type's activity);
    broadcast the tiny periods side."""
    ev = load_table(spark, sf, "events")
    periods = ev.groupBy(F.col("event_type").alias("period_type")).agg(
        F.min("ts").alias("period_start"),
        (F.min("ts") + F.expr("INTERVAL 3 DAYS")).alias("period_end"),
    )
    joined = interval_join(ev, periods, "ts", "period_start", "period_end")
    return joined.groupBy("period_type").agg(
        F.count(F.lit(1)).alias("n_in_period"),
        F.countDistinct("user_id").alias("n_users_in_period"),
    )


SQL_INTERVAL_JOIN_PERIODS = """
WITH periods AS (
  SELECT event_type AS period_type, min(ts) AS period_start,
         min(ts) + INTERVAL 3 DAY AS period_end
  FROM events GROUP BY 1
)
SELECT period_type, count(*) AS n_in_period,
       count(DISTINCT user_id) AS n_users_in_period
FROM events e JOIN periods p
  ON e.ts >= p.period_start AND e.ts <= p.period_end
GROUP BY 1
"""


def q_interval_join_bucketed(spark: SparkSession, sf: str) -> DataFrame:
    """Same interval-join semantics as etl_interval_join_periods, but the
    TWO-LARGE-SIDES physical plan: time-bucket equi-join + residual range
    filter (operators.relational.bucketed_range_join) — no broadcast, no
    nested loop.  Shares the broadcast variant's oracle so the plan change
    is pinned to identical semantics."""
    from door2door_etl_spark.operators.relational import bucketed_range_join

    ev = load_table(spark, sf, "events")
    periods = ev.groupBy(F.col("event_type").alias("period_type")).agg(
        F.min("ts").alias("period_start"),
        (F.min("ts") + F.expr("INTERVAL 3 DAYS")).alias("period_end"),
    )
    joined = bucketed_range_join(
        ev, periods, "ts", "period_start", "period_end", grain_seconds=86_400
    )
    return joined.groupBy("period_type").agg(
        F.count(F.lit(1)).alias("n_in_period"),
        F.countDistinct("user_id").alias("n_users_in_period"),
    )


# ---------------------------------------------------------------------------
# Relational / TPC-H-style group
# ---------------------------------------------------------------------------


def q_tpch_q1(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q1 pricing summary: the flagship scan+agg.

    The scan is width-normalized (io.readers.widen_if_narrow): a
    single-row-group file scans as ONE partition, which would run all
    eight decimal aggregates on one core; the shipdate pushdown and
    column pruning pass through the round-robin exchange unchanged, and
    the exact-decimal sums (dsum/davg) are summation-order-free, so the
    result is bit-identical.  Production multi-file scans skip the guard.
    """
    from door2door_etl_spark.io.readers import widen_if_narrow

    li = widen_if_narrow(load_table(spark, sf, "lineitem"))
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity")).alias("sum_qty"),
            dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(charge).alias("sum_charge"),
            davg(F.col("l_quantity")).alias("avg_qty"),
            davg(F.col("l_extendedprice")).alias("avg_price"),
            davg(F.col("l_discount")).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


SQL_TPCH_Q1 = """
SELECT l_returnflag, l_linestatus,
  round(CAST(sum(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE), 2) AS sum_qty,
  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(20,6))) AS DOUBLE), 2) AS sum_base_price,
  round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6))) AS DOUBLE), 2) AS sum_disc_price,
  round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(20,6))) AS DOUBLE), 2) AS sum_charge,
  round(CAST(sum(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE) / count(*), 4) AS avg_qty,
  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(20,6))) AS DOUBLE) / count(*), 4) AS avg_price,
  round(CAST(sum(CAST(l_discount AS DECIMAL(20,6))) AS DOUBLE) / count(*), 4) AS avg_disc,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q_tpch_q3(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q3 shipping priority: 3-way join + agg + deterministic top-10."""
    cust = load_table(spark, sf, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf, "orders").filter(
        F.col("o_orderdate") < F.lit("1997-06-30").cast("timestamp")
    )
    li = load_table(spark, sf, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-06-30").cast("timestamp")
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(revenue).alias("revenue"))
        .orderBy(F.desc("revenue"), F.col("l_orderkey"))
        .limit(10)
    )


SQL_TPCH_Q3 = """
SELECT l_orderkey, o_orderdate, o_orderpriority,
  round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6))) AS DOUBLE), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-06-30 00:00:00'
  AND l_shipdate > TIMESTAMP '1997-06-30 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


def q_tpch_q5(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q5 local-supplier revenue: 6-way join with broadcast dims."""
    region = load_table(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf, "nation")
    cust = load_table(spark, sf, "customer")
    supp = load_table(spark, sf, "supplier")
    orders = load_table(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf, "lineitem")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .filter(cust.c_nationkey == supp.s_nationkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(dsum(revenue).alias("revenue"))
    )


SQL_TPCH_Q5 = """
SELECT n_name,
  round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6))) AS DOUBLE), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
"""


def q_tpch_q6(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q6 revenue forecast: pushdown-friendly filter + scalar agg."""
    li = load_table(spark, sf, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.02)
        & (F.col("l_discount") <= 0.04)
        & (F.col("l_quantity") < 24)
    ).agg(dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"))


SQL_TPCH_Q6 = """
SELECT round(CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(20,6))) AS DOUBLE), 2) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount >= 0.02 AND l_discount <= 0.04
  AND l_quantity < 24
"""


def q_order_priority_semi(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS → left-semi join, grouped count."""
    orders = load_table(spark, sf, "orders")
    big_items = (
        load_table(spark, sf, "lineitem")
        .filter(F.col("l_quantity") > 45)
        .select("l_orderkey")
        .distinct()
    )
    return (
        orders.join(big_items, orders.o_orderkey == big_items.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


SQL_ORDER_PRIORITY_SEMI = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_quantity > 45)
GROUP BY 1
"""


def q_orders_no_big_items_anti(spark: SparkSession, sf: str) -> DataFrame:
    """NOT EXISTS → left-anti join, grouped count."""
    orders = load_table(spark, sf, "orders")
    big_items = (
        load_table(spark, sf, "lineitem")
        .filter(F.col("l_quantity") > 45)
        .select("l_orderkey")
        .distinct()
    )
    return (
        orders.join(big_items, orders.o_orderkey == big_items.l_orderkey, "left_anti")
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


SQL_ORDERS_NO_BIG_ITEMS_ANTI = """
SELECT o_orderstatus, count(*) AS order_count
FROM orders
WHERE NOT EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_quantity > 45)
GROUP BY 1
"""


def q_topk_parts_per_brand(spark: SparkSession, sf: str) -> DataFrame:
    """Top-3 priciest parts per brand — window top-k with unique tie-break."""
    part = load_table(spark, sf, "part")
    return topk_per_group(
        part,
        ["p_brand"],
        [F.desc("p_retailprice"), F.col("p_partkey")],
        3,
    ).select("p_brand", "p_partkey", "p_retailprice", "rk")


SQL_TOPK_PARTS_PER_BRAND = """
SELECT p_brand, p_partkey, p_retailprice, rk FROM (
  SELECT p_brand, p_partkey, p_retailprice,
         row_number() OVER (PARTITION BY p_brand
                            ORDER BY p_retailprice DESC, p_partkey) AS rk
  FROM part)
WHERE rk <= 3
"""


def q_rollup_returnflag(spark: SparkSession, sf: str) -> DataFrame:
    """ROLLUP grouping-sets aggregate (free Spark surface, SURVEY.md §2.5)."""
    li = load_table(spark, sf, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_items"),
        dsum(F.col("l_quantity")).alias("sum_qty"),
    )


SQL_ROLLUP_RETURNFLAG = """
SELECT l_returnflag, l_linestatus, count(*) AS n_items,
  round(CAST(sum(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE), 2) AS sum_qty
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def q_distinct_agg(spark: SparkSession, sf: str) -> DataFrame:
    """Multiple DISTINCT aggregates per group."""
    li = load_table(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_orderkey").alias("n_orders"),
    )


SQL_DISTINCT_AGG = """
SELECT l_returnflag, count(DISTINCT l_suppkey) AS n_suppliers,
       count(DISTINCT l_partkey) AS n_parts,
       count(DISTINCT l_orderkey) AS n_orders
FROM lineitem GROUP BY 1
"""


def q_conditional_pivot(spark: SparkSession, sf: str) -> DataFrame:
    """Pivot-style conditional aggregation (CASE WHEN inside agg)."""
    li = load_table(spark, sf, "lineitem")
    qty_f = F.when(F.col("l_linestatus") == "F", F.col("l_quantity"))
    qty_o = F.when(F.col("l_linestatus") == "O", F.col("l_quantity"))
    return li.groupBy("l_returnflag").agg(
        dsum(qty_f).alias("qty_finished"),
        dsum(qty_o).alias("qty_open"),
        F.count(qty_f).alias("n_finished"),
        F.count(qty_o).alias("n_open"),
    )


SQL_CONDITIONAL_PIVOT = """
SELECT l_returnflag,
  round(CAST(sum(CAST(CASE WHEN l_linestatus = 'F' THEN l_quantity END AS DECIMAL(20,6))) AS DOUBLE), 2) AS qty_finished,
  round(CAST(sum(CAST(CASE WHEN l_linestatus = 'O' THEN l_quantity END AS DECIMAL(20,6))) AS DOUBLE), 2) AS qty_open,
  count(CASE WHEN l_linestatus = 'F' THEN 1 END) AS n_finished,
  count(CASE WHEN l_linestatus = 'O' THEN 1 END) AS n_open
FROM lineitem GROUP BY 1
"""


def q_nation_customer_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Dimension join chain customer⋈nation⋈orders with broadcast dim."""
    nation = load_table(spark, sf, "nation")
    cust = load_table(spark, sf, "customer")
    orders = load_table(spark, sf, "orders")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("c_custkey").alias("n_customers"),
            dsum(F.col("o_totalprice")).alias("total_spend"),
        )
    )


SQL_NATION_CUSTOMER_ORDERS = """
SELECT n_name, count(*) AS n_orders, count(DISTINCT c_custkey) AS n_customers,
  round(CAST(sum(CAST(o_totalprice AS DECIMAL(20,6))) AS DOUBLE), 2) AS total_spend
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY 1
"""


def q_ship_latency_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """Fact-fact join + date arithmetic (F6) + bucketed histogram."""
    orders = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")
    lat = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    bucket = F.floor(lat / 30)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(bucket.alias("latency_month_bucket"))
        .groupBy("latency_month_bucket")
        .agg(F.count(F.lit(1)).alias("n_items"))
    )


SQL_SHIP_LATENCY_HISTOGRAM = """
SELECT CAST(floor(date_diff('day', o_orderdate, l_shipdate) / 30.0) AS BIGINT)
         AS latency_month_bucket,
       count(*) AS n_items
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1
"""


def q_monthly_revenue_running_total(spark: SparkSession, sf: str) -> DataFrame:
    """Grouped agg + ordered window running total (cumulative revenue)."""
    orders = load_table(spark, sf, "orders")
    monthly = orders.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).alias("month_start")
    ).agg(dsum(F.col("o_totalprice")).alias("monthly_rev"))
    w = Window.orderBy("month_start").rowsBetween(Window.unboundedPreceding, 0)
    return monthly.withColumn(
        "cum_rev", F.round(F.sum(F.col("monthly_rev").cast("decimal(20,6)")).over(w).cast("double"), 2)
    )


SQL_MONTHLY_REVENUE_RUNNING_TOTAL = """
WITH monthly AS (
  SELECT date_trunc('month', o_orderdate) AS month_start,
    round(CAST(sum(CAST(o_totalprice AS DECIMAL(20,6))) AS DOUBLE), 2) AS monthly_rev
  FROM orders GROUP BY 1
)
SELECT month_start, monthly_rev,
  round(CAST(sum(CAST(monthly_rev AS DECIMAL(20,6))) OVER (
    ORDER BY month_start ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    AS DOUBLE), 2) AS cum_rev
FROM monthly
"""


def q_catalog_probe(spark: SparkSession, sf: str) -> DataFrame:
    """S5 catalog probe (reference src/helper/s3.py:37-53 bucket listing +
    table-existence checks): enumerate the tables present under the sf dir
    as a one-row relation — count plus sorted comma-joined names.  The
    driver-side listing is O(#tables) metadata, never data."""
    tables = list_sf_tables(sf)
    return local.frame(
        spark,
        [(len(tables), ",".join(tables))],
        "n_tables bigint, table_list string",
    )


SQL_CATALOG_PROBE = f"""
SELECT CAST(count(*) AS BIGINT) AS n_tables,
       string_agg(table_name, ',' ORDER BY table_name) AS table_list
FROM information_schema.tables
WHERE table_name IN ({", ".join(repr(t) for t in sorted(TABLES))})
"""


def q_ts_format_hours(spark: SparkSession, sf: str) -> DataFrame:
    """F7 timestamp formatting (reference src/helper/helper.py strftime
    renders + the hourly landing-path format s3.py:55): format event time
    two ways and count per rendered hour — the formatting itself is the
    operator under test (date_format vs DuckDB strftime)."""
    ev = load_table(spark, sf, "events")
    return ev.groupBy(
        F.date_format("ts", "yyyy-MM-dd HH:00").alias("hour_label"),
        F.date_format("ts", "yyyy/MM/dd/HH").alias("hour_path"),
    ).agg(F.count(F.lit(1)).alias("n_events"))


SQL_TS_FORMAT_HOURS = """
SELECT strftime(ts, '%Y-%m-%d %H:00') AS hour_label,
       strftime(ts, '%Y/%m/%d/%H') AS hour_path,
       count(*) AS n_events
FROM events GROUP BY 1, 2
"""



def q_hourly_gapfill(spark: SparkSession, sf: str) -> DataFrame:
    """§2.8 dense time axis: hourly event counts with EMPTY HOURS
    zero-filled — the gap-fill/resample every monitoring dashboard needs
    (the reference's hourly monitor silently skips empty hours,
    postgres.py:88-106).  The axis is one sequence+explode row from the
    min/max bounds (driver-free), the counts join is broadcast —
    gap-fill costs one aggregate of the base data regardless of scale."""
    ev = load_table(spark, sf, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour_start")
    ).agg(F.count(F.lit(1)).alias("_n"))
    axis = hourly.agg(
        F.min("hour_start").alias("_mn"), F.max("hour_start").alias("_mx")
    ).select(
        F.explode(
            F.expr("sequence(_mn, _mx, interval 1 hour)")
        ).alias("hour_start")
    )
    return axis.join(F.broadcast(hourly), "hour_start", "left").select(
        "hour_start",
        F.coalesce(F.col("_n"), F.lit(0)).cast("long").alias("n_events"),
    )


SQL_HOURLY_GAPFILL = """
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS h, count(*) AS n FROM events GROUP BY 1
), axis AS (
  SELECT unnest(generate_series(min(h), max(h), INTERVAL 1 HOUR))
    AS hour_start
  FROM hourly
)
SELECT hour_start, CAST(coalesce(n, 0) AS BIGINT) AS n_events
FROM axis LEFT JOIN hourly ON hour_start = h
"""


def q_unpivot_lineitem_metrics(spark: SparkSession, sf: str) -> DataFrame:
    """§2.6 UNPIVOT (melt) — the inverse of tpch_conditional_pivot: three
    per-returnflag aggregates unpivoted to (l_returnflag, metric, value)
    rows via DataFrame.unpivot (Catalyst Expand: one pass, no join)."""
    li = load_table(spark, sf, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        dsum(F.col("l_quantity")).alias("sum_qty"),
        dsum(F.col("l_extendedprice")).alias("sum_price"),
        dsum(F.col("l_discount")).alias("sum_disc"),
    )
    return wide.unpivot(
        ["l_returnflag"], ["sum_qty", "sum_price", "sum_disc"],
        "metric", "value",
    )


SQL_UNPIVOT_LINEITEM_METRICS = """
WITH wide AS (
  SELECT l_returnflag,
         round(CAST(sum(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE), 2)
           AS sum_qty,
         round(CAST(sum(CAST(l_extendedprice AS DECIMAL(20,6))) AS DOUBLE), 2)
           AS sum_price,
         round(CAST(sum(CAST(l_discount AS DECIMAL(20,6))) AS DOUBLE), 2)
           AS sum_disc
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM wide
UNION ALL
SELECT l_returnflag, 'sum_price', sum_price FROM wide
UNION ALL
SELECT l_returnflag, 'sum_disc', sum_disc FROM wide
"""


def q_salted_skew_join(spark: SparkSession, sf: str) -> DataFrame:
    """Skew-safe equi-join: events (event_type is the hot key — a handful
    of values over the whole table) joined to a derived per-type dim via
    operators.relational.salted_equijoin (left keys salted into buckets,
    the small right side replicated per salt), then re-aggregated.  The
    oracle is the PLAIN join+agg — a hash match proves salting is purely
    a physical rewrite.  (For a dim this small broadcast is the right
    production plan; the salted form is the large⋈large fallback, and
    its skew-spread is plan-asserted in tests/test_plans.py.)"""
    from door2door_etl_spark.operators.relational import salted_equijoin

    ev = load_table(spark, sf, "events")
    dim = (
        ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("type_total"))
        .select(
            F.col("event_type").alias("et"),
            "type_total",
            F.length("event_type").cast("double").alias("type_weight"),
        )
    )
    joined = salted_equijoin(
        ev.select("event_id", "event_type", "value"),
        dim,
        "event_type",
        "et",
        salt_buckets=8,
    )
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.first("type_total").alias("type_total"),
        F.round(F.sum("value") * F.first("type_weight"), 4).alias("weighted_value"),
    )


SQL_SALTED_SKEW_JOIN = """
WITH dim AS (
  SELECT event_type, count(*) AS type_total,
         CAST(length(event_type) AS DOUBLE) AS type_weight
  FROM events GROUP BY 1
)
SELECT e.event_type, count(*) AS n_events,
       min(d.type_total) AS type_total,
       round(sum(e.value) * min(d.type_weight), 4) AS weighted_value
FROM events e JOIN dim d USING (event_type)
GROUP BY 1
"""


RELATIONAL_QUERIES: list[QueryDef] = [
    QueryDef("etl_hour_window_filter", q_hour_window_filter, SQL_HOUR_WINDOW_FILTER, "P1,P4", ("etl",)),
    QueryDef("etl_watermark_max", q_watermark_max, SQL_WATERMARK_MAX, "S3,A1,P5", ("etl",)),
    QueryDef("etl_entity_split_project", q_entity_split_project, SQL_ENTITY_SPLIT_PROJECT, "P3,P4,P6,F3,F4", ("etl",)),
    QueryDef("etl_surrogate_key_dedup", q_surrogate_key_dedup, SQL_SURROGATE_KEY_DEDUP, "F5,A3", ("etl",)),
    QueryDef("etl_latest_event_per_user", q_latest_event_per_user, SQL_LATEST_EVENT_PER_USER, "§2.6-window", ("etl",)),
    QueryDef("etl_hourly_rollup", q_hourly_rollup, SQL_HOURLY_ROLLUP, "§2.8-window,A2", ("etl",)),
    QueryDef("etl_hourly_gapfill", q_hourly_gapfill, SQL_HOURLY_GAPFILL, "§2.8-window gap-fill/resample", ("etl",)),
    QueryDef("etl_union_all_recombine", q_union_all_recombine, SQL_UNION_ALL_RECOMBINE, "§2.6-setops", ("etl",)),
    QueryDef("etl_hours_without_signup_anti", q_hours_without_signup_anti, SQL_HOURS_WITHOUT_SIGNUP_ANTI, "§2.4-anti", ("etl",)),
    QueryDef("etl_error_user_activity_semi", q_error_user_activity_semi, SQL_ERROR_USER_ACTIVITY_SEMI, "§2.4-semi", ("etl",)),
    QueryDef("etl_point_lookup", q_point_lookup, SQL_POINT_LOOKUP, "S4,P5", ("etl",)),
    QueryDef("etl_props_extract_distribution", q_props_extract_distribution, SQL_PROPS_EXTRACT_DISTRIBUTION, "F1,F2", ("etl",)),
    QueryDef("etl_quarantine_unknown_types", q_quarantine_unknown_types, SQL_QUARANTINE_UNKNOWN_TYPES, "P3-quarantine", ("etl",)),
    QueryDef("etl_interval_join_periods", q_interval_join_periods, SQL_INTERVAL_JOIN_PERIODS, "§2.4-range", ("etl",)),
    QueryDef("rel_salted_skew_join", q_salted_skew_join, SQL_SALTED_SKEW_JOIN, "§2.4-join (skew-salted physical rewrite)", ("rel",)),
    QueryDef("rel_interval_join_bucketed", q_interval_join_bucketed, SQL_INTERVAL_JOIN_PERIODS, "§2.4-range (two-large-sides bucketed plan)", ("rel",)),
    QueryDef("etl_catalog_probe", q_catalog_probe, SQL_CATALOG_PROBE, "S5,S6", ("etl",)),
    QueryDef("etl_ts_format_hours", q_ts_format_hours, SQL_TS_FORMAT_HOURS, "F7", ("etl",)),
    QueryDef("tpch_q1_pricing_summary", q_tpch_q1, SQL_TPCH_Q1, "§2.5-agg", ("tpch",)),
    QueryDef("tpch_q3_shipping_priority", q_tpch_q3, SQL_TPCH_Q3, "§2.4-join", ("tpch",)),
    QueryDef("tpch_q5_local_supplier", q_tpch_q5, SQL_TPCH_Q5, "§2.4-join", ("tpch",)),
    QueryDef("tpch_q6_revenue_forecast", q_tpch_q6, SQL_TPCH_Q6, "§2.3-filter", ("tpch",)),
    QueryDef("tpch_order_priority_semi", q_order_priority_semi, SQL_ORDER_PRIORITY_SEMI, "§2.4-semi", ("tpch",)),
    QueryDef("tpch_orders_no_big_items_anti", q_orders_no_big_items_anti, SQL_ORDERS_NO_BIG_ITEMS_ANTI, "§2.4-anti", ("tpch",)),
    QueryDef("tpch_topk_parts_per_brand", q_topk_parts_per_brand, SQL_TOPK_PARTS_PER_BRAND, "§2.6-window", ("tpch",)),
    QueryDef("tpch_rollup_returnflag", q_rollup_returnflag, SQL_ROLLUP_RETURNFLAG, "§2.5-rollup", ("tpch",)),
    QueryDef("tpch_distinct_agg", q_distinct_agg, SQL_DISTINCT_AGG, "§2.5-distinct", ("tpch",)),
    QueryDef("tpch_conditional_pivot", q_conditional_pivot, SQL_CONDITIONAL_PIVOT, "§2.5-agg", ("tpch",)),
    QueryDef("tpch_unpivot_lineitem_metrics", q_unpivot_lineitem_metrics, SQL_UNPIVOT_LINEITEM_METRICS, "§2.6-set-ops unpivot", ("tpch",)),
    QueryDef("tpch_nation_customer_orders", q_nation_customer_orders, SQL_NATION_CUSTOMER_ORDERS, "§2.4-join", ("tpch",)),
    QueryDef("tpch_ship_latency_histogram", q_ship_latency_histogram, SQL_SHIP_LATENCY_HISTOGRAM, "F6,§2.4-join", ("tpch",)),
    QueryDef("tpch_monthly_revenue_running_total", q_monthly_revenue_running_total, SQL_MONTHLY_REVENUE_RUNNING_TOTAL, "§2.6-window", ("tpch",)),
]
