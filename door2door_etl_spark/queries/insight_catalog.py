"""Insight catalog: behavioral / forensic / corpus-structure analytics.

Round-9 continuation wave — the analytics a telemetry warehouse and a
pretraining-data pipeline both reach for once the relational and curation
basics are in place: next-event structure (Markov transitions), forensic
digit audits (Benford), sequential smoothing (per-entity EMA), changepoint
and robust-outlier screens (CUSUM, median/MAD), gap-fill and
irregular-sampling means (LOCF, time-weighted average), seasonal
baselines, graph shape and reachability (degree histogram, hub BFS,
personalized PageRank), corpus-structure laws (PMI collocations, Heaps'
fit), market concentration (HHI/Gini), time-bound funnels, and the
CDC-maintained JOIN view.  Each Spark-first (window/explode/fold
compositions, zero Python rows) with an exact DuckDB twin built from the
shared portable contract in ``sql_fragments``.

Reference analog: none — the reference loads its Postgres mart and leaves
analytics to warehouse SQL (/root/reference/README.md:48-51,
/root/reference/src/helper/postgres.py); every row here is north-star
capability beyond that surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from door2door_etl_spark.io.readers import load_table
from door2door_etl_spark.queries.defs import QueryDef, copurchase_edges
from door2door_etl_spark.queries.sql_fragments import sql_tokens


def q_event_transition_matrix(spark: SparkSession, sf: str) -> DataFrame:
    """First-order Markov transition matrix over each user's event-type
    sequence (operators.relational.markov_transitions): ONE shuffle on the
    user partitioning for the lag window; the P(next|prev) normalizer is a
    window over the |types|^2-row aggregated matrix."""
    from door2door_etl_spark.operators.relational import markov_transitions

    ev = load_table(spark, sf, "events")
    return markov_transitions(
        ev, key_cols=["user_id"], order_cols=["ts", "event_id"], state_col="event_type"
    )


SQL_EVENT_TRANSITION_MATRIX = """
WITH seq AS (
  SELECT event_type AS next_state,
         lag(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS prev_state
  FROM events)
SELECT prev_state, next_state, count(*) AS n_transitions,
       round(CAST(count(*) AS DOUBLE)
             / sum(count(*)) OVER (PARTITION BY prev_state), 6) AS prob
FROM seq WHERE prev_state IS NOT NULL
GROUP BY 1, 2
"""


def q_benford_order_totals(spark: SparkSession, sf: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals
    (operators.profile.benford_digit_audit): leading digit by truncation
    — floor to the exact integer part, DECIMAL(38,0) rendering, first
    character (never floor(log10), never a rounded scaled rendering) —
    one combinable count per digit, 9-row output with chi-square
    contributions."""
    from door2door_etl_spark.operators.profile import benford_digit_audit

    orders = load_table(spark, sf, "orders")
    return benford_digit_audit(orders, "o_totalprice")


SQL_BENFORD_ORDER_TOTALS = """
WITH h AS (
  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS DECIMAL(38,0)) AS VARCHAR),
              1, 1) AS INT) AS digit,
         count(*) AS n_values
  FROM orders
  WHERE o_totalprice IS NOT NULL AND o_totalprice >= 1
    AND o_totalprice < 1e15
  GROUP BY 1)
SELECT digit, n_values,
       round(n_values / t, 6) AS obs_share,
       round(log10(1.0 + 1.0 / digit), 6) AS benford_share,
       round(t * (n_values / t - log10(1.0 + 1.0 / digit))
               * (n_values / t - log10(1.0 + 1.0 / digit))
               / log10(1.0 + 1.0 / digit), 6) AS chi2_part
FROM (SELECT digit, n_values,
             CAST(sum(n_values) OVER () AS DOUBLE) AS t FROM h)
ORDER BY digit
"""


def q_ema_user_value(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user exponential moving average of event value
    (operators.relational.ema_by_key, alpha=0.3): array_sort +
    Catalyst-aggregate left fold, ONE shuffle; bit-exact against DuckDB's
    list_reduce because both engines fold the identical IEEE chain."""
    from door2door_etl_spark.operators.relational import ema_by_key

    ev = load_table(spark, sf, "events")
    return ema_by_key(
        ev,
        key_cols=["user_id"],
        order_cols=["ts", "event_id"],
        value_col="value",
        alpha=0.3,
    )


SQL_EMA_USER_VALUE = """
SELECT user_id, count(*) AS n_points,
       round(list_reduce(list(value ORDER BY ts, event_id),
                         (acc, x) -> x * 0.3 + acc * 0.7), 6) AS ema
FROM events WHERE value IS NOT NULL
GROUP BY 1
"""


def q_holt_user_trend(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user Holt double-exponential smoothing of event value
    (operators.relational.holt_forecast, alpha=0.3, beta=0.2, 3-step
    forecast): level AND trend state folded in one Catalyst aggregate
    over the sorted array — ONE shuffle, zero Python; bit-exact against
    the recursive-CTE DuckDB twin because both engines step the
    identical IEEE chain from the same (v1, 0) seed (see the twin's
    note on why it is NOT a struct list_reduce)."""
    from door2door_etl_spark.operators.relational import holt_forecast

    ev = load_table(spark, sf, "events")
    return holt_forecast(
        ev,
        key_cols=["user_id"],
        order_cols=["ts", "event_id"],
        value_col="value",
        alpha=0.3,
        beta=0.2,
        horizon=3,
    )


# NOTE: the twin is a per-key recursive-CTE unroll, NOT a struct-state
# list_reduce — DuckDB 1.0's list_reduce evaluates struct_pack fields
# SEQUENTIALLY against a mutating accumulator (a later field's acc.l
# reads the earlier field's fresh value), an undocumented behavior this
# oracle refuses to lean on.  The recursion steps every key in parallel
# per depth level; depth = the longest per-key sequence (<100 even at
# the sf1 tier), and each step's arithmetic is the identical
# left-associated IEEE chain the Spark fold runs.
SQL_HOLT_USER_TREND = """
WITH RECURSIVE seq AS (
  SELECT user_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS i,
         CAST(value AS DOUBLE) AS v
  FROM events WHERE value IS NOT NULL),
hw AS (
  SELECT user_id, i, v AS l, CAST(0.0 AS DOUBLE) AS b
  FROM seq WHERE i = 1
  UNION ALL
  SELECT s.user_id, s.i,
         CAST(0.3 * s.v + 0.7 * (h.l + h.b) AS DOUBLE),
         CAST(0.2 * (0.3 * s.v + 0.7 * (h.l + h.b) - h.l)
              + 0.8 * h.b AS DOUBLE)
  FROM hw h JOIN seq s ON s.user_id = h.user_id AND s.i = h.i + 1),
fin AS (SELECT user_id, max(i) AS n FROM seq GROUP BY 1)
SELECT hw.user_id, fin.n AS n_points,
       round(hw.l, 6) AS level, round(hw.b, 6) AS trend,
       round(hw.l + 3.0 * hw.b, 6) AS forecast
FROM hw JOIN fin ON hw.user_id = fin.user_id AND hw.i = fin.n
"""


def q_graph_degree_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """Degree distribution of the part co-purchase graph
    (operators.graph.degree_histogram) — same >=2-shared-orders edge set
    as the triangle/k-core/components rows, so the graph family reads as
    one toolkit over one graph."""
    from door2door_etl_spark.operators.graph import degree_histogram

    edges = copurchase_edges(spark, sf).select("src", "dst")
    return degree_histogram(edges)


SQL_GRAPH_DEGREE_HISTOGRAM = """
WITH b AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS i FROM lineitem),
p AS (SELECT a.i AS u, bb.i AS v, count(*) AS c
      FROM b a JOIN b bb ON a.o = bb.o AND a.i < bb.i GROUP BY 1, 2),
e AS (SELECT u, v FROM p WHERE c >= 2),
deg AS (SELECT n, count(*) AS d FROM (
          SELECT u AS n FROM e UNION ALL SELECT v FROM e) GROUP BY 1),
h AS (SELECT d AS degree, count(*) AS n_nodes FROM deg GROUP BY 1)
SELECT degree, n_nodes,
       round(CAST(n_nodes AS DOUBLE) / sum(n_nodes) OVER (), 6) AS node_share
FROM h
"""


def q_locf_imputation(spark: SparkSession, sf: str) -> DataFrame:
    """LOCF gap-fill (operators.relational.forward_fill): error events'
    values treated as missing and carried forward from each user's most
    recent healthy observation — row-level output so the oracle checks
    every imputed cell."""
    from door2door_etl_spark.operators.relational import forward_fill

    ev = load_table(spark, sf, "events").withColumn(
        "_v", F.when(F.col("event_type") != "error", F.col("value"))
    )
    out = forward_fill(
        ev, key_cols=["user_id"], order_cols=["ts", "event_id"],
        value_col="_v", out_col="value_filled",
    )
    return out.select(
        "event_id",
        "user_id",
        F.when(F.col("event_type") == "error", F.lit(1))
        .otherwise(F.lit(0))
        .alias("was_missing"),
        "value_filled",
    )


SQL_LOCF_IMPUTATION = """
SELECT event_id, user_id,
       CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS was_missing,
       last_value(CASE WHEN event_type != 'error' THEN value END
                  IGNORE NULLS)
         OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS value_filled
FROM events
"""


def q_time_weighted_value(spark: SparkSession, sf: str) -> DataFrame:
    """Zero-order-hold time-weighted average of event value per user
    (operators.relational.time_weighted_avg): the correct mean under
    irregular sampling, decimal-exact interval products."""
    from door2door_etl_spark.operators.relational import time_weighted_avg

    ev = load_table(spark, sf, "events")
    return time_weighted_avg(
        ev, key_cols=["user_id"], ts_col="ts", value_col="value",
        order_tiebreak=["event_id"],
    )


SQL_TIME_WEIGHTED_VALUE = """
WITH s AS (
  SELECT user_id,
         CAST(epoch_us(lead(ts) OVER w) - epoch_us(ts)
              AS DECIMAL(28,6)) AS dt,
         CAST(value AS DOUBLE) AS v
  FROM events WHERE value IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT user_id, count(*) AS n_intervals,
       round(CAST(sum(CAST(v * dt AS DECIMAL(38,6))) AS DOUBLE)
             / CAST(sum(CAST(dt AS DECIMAL(38,6))) AS DOUBLE), 6) AS twa
FROM s WHERE dt IS NOT NULL
GROUP BY 1
"""


def q_seasonal_hourly_anomaly(spark: SparkSession, sf: str) -> DataFrame:
    """Hour-of-day seasonal baseline + anomaly z-scores per event type
    (operators.profile.seasonal_hourly_profile): one aggregate to the
    24x|types| grain, moments windowed over that grain only."""
    from door2door_etl_spark.operators.profile import seasonal_hourly_profile

    ev = load_table(spark, sf, "events")
    return seasonal_hourly_profile(
        ev, group_cols=["event_type"], ts_col="ts", value_col="value"
    )


SQL_SEASONAL_HOURLY_ANOMALY = """
WITH grain AS (
  SELECT event_type, CAST(EXTRACT(hour FROM ts) AS INT) AS hour,
         count(*) AS n_values,
         round(CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE)
               / count(*), 6) AS hour_mean
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
m AS (
  SELECT *,
         CAST(sum(CAST(hour_mean AS DECIMAL(28,10))) OVER w AS DOUBLE)
           / count(*) OVER w AS mu,
         CAST(sum(CAST(hour_mean * hour_mean AS DECIMAL(28,10))) OVER w
              AS DOUBLE) / count(*) OVER w AS ex2
  FROM grain WINDOW w AS (PARTITION BY event_type))
SELECT event_type, hour, n_values, hour_mean,
       round(CASE WHEN sqrt(ex2 - mu * mu) > 0
                  THEN (hour_mean - mu) / sqrt(ex2 - mu * mu) END, 6)
         AS z_score
FROM m
"""


def q_mad_outliers(spark: SparkSession, sf: str) -> DataFrame:
    """Robust per-type outliers by modified z-score
    (operators.profile.mad_outliers): median/MAD broadcast back to the
    fact — flags heavy-tail events the classical-sigma screen
    (rel_event_value_outliers) under-reports."""
    from door2door_etl_spark.operators.profile import mad_outliers

    ev = load_table(spark, sf, "events").select("event_id", "event_type", "value")
    return mad_outliers(ev, group_cols=["event_type"], value_col="value")


SQL_MAD_OUTLIERS = """
WITH med AS (
  SELECT event_type, round(median(value), 6) AS med
  FROM events WHERE value IS NOT NULL GROUP BY 1),
mad AS (
  SELECT e.event_type, round(median(abs(e.value - m.med)), 6) AS mad
  FROM events e JOIN med m USING (event_type)
  WHERE e.value IS NOT NULL GROUP BY 1)
SELECT e.event_id, e.event_type, e.value, m.med, d.mad
FROM events e
JOIN med m USING (event_type)
JOIN mad d USING (event_type)
WHERE e.value IS NOT NULL AND d.mad > 0
  AND abs(0.6745 * (e.value - m.med) / d.mad) > 3.5
"""


BFS_MAX_HOPS = 4


def q_graph_bfs_hops(spark: SparkSession, sf: str) -> DataFrame:
    """BFS hop distances from the highest-degree hub of the part
    co-purchase graph (operators.graph.bfs_hops, level-synchronous
    frontier expansion) — same >=2-shared-orders edge set as the rest of
    the graph family; the hub source makes the reachability shell
    non-degenerate at every tier (the min node sat in a 2-node
    component at sf1).  The oracle closes the same bounded-depth
    reachability with a recursive CTE and takes min(hops) per node."""
    from door2door_etl_spark.operators.graph import bfs_hops

    edges = copurchase_edges(spark, sf).select(
        F.col("src").cast("long"), F.col("dst").cast("long")
    )
    edges = edges.localCheckpoint(eager=True)
    source = (
        edges.select(F.col("src").alias("n"))
        .unionAll(edges.select(F.col("dst").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
        .orderBy(F.col("d").desc(), F.col("n").asc())
        .limit(1)
        .collect()[0]["n"]
    )
    return bfs_hops(edges, source=int(source), max_hops=BFS_MAX_HOPS)


SQL_GRAPH_BFS_HOPS = f"""
WITH RECURSIVE b AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS i
                     FROM lineitem),
p AS (SELECT a.i AS u, bb.i AS v, count(*) AS c
      FROM b a JOIN b bb ON a.o = bb.o AND a.i < bb.i GROUP BY 1, 2),
e AS (SELECT u, v FROM p WHERE c >= 2),
sym AS (SELECT u, v FROM e UNION SELECT v, u FROM e),
hub AS (SELECT u AS s FROM (SELECT u, count(*) AS d FROM sym GROUP BY 1)
        ORDER BY d DESC, u ASC LIMIT 1),
r(node, hops) AS (
  SELECT (SELECT s FROM hub), 0
  UNION
  SELECT sym.v, r.hops + 1
  FROM r JOIN sym ON sym.u = r.node
  WHERE r.hops < {BFS_MAX_HOPS}
)
SELECT CAST(node AS BIGINT) AS node, CAST(min(hops) AS INT) AS hops
FROM r GROUP BY 1
"""


SSSP_ROUNDS = 6


def q_graph_sssp_hub(spark: SparkSession, sf: str) -> DataFrame:
    """Weighted shortest distances from the co-purchase hub
    (operators.graph.sssp_weighted — bounded-round bulk-synchronous
    Bellman-Ford, the weighted sibling of the BFS row): edge cost =
    ``(99 + c) div c`` (integer inverse affinity — strong ties are
    cheap), so the answer is 'how tightly is every part trade-linked to
    the hub', not mere reachability.  Integer min arithmetic end-to-end;
    the oracle unrolls the identical relaxation rounds."""
    from door2door_etl_spark.operators.graph import sssp_weighted

    edges = copurchase_edges(spark, sf).select(
        F.col("src").cast("long"),
        F.col("dst").cast("long"),
        F.expr("(99 + c) div c").alias("w"),
    )
    edges = edges.localCheckpoint(eager=True)
    source = (
        edges.select(F.col("src").alias("n"))
        .unionAll(edges.select(F.col("dst").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
        .orderBy(F.col("d").desc(), F.col("n").asc())
        .limit(1)
        .collect()[0]["n"]
    )
    return sssp_weighted(edges, source=int(source), rounds=SSSP_ROUNDS)


def _sql_graph_sssp_hub() -> str:
    ctes = ["""b AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS i
                     FROM lineitem),
p AS (SELECT a.i AS u, bb.i AS v, count(*) AS c
      FROM b a JOIN b bb ON a.o = bb.o AND a.i < bb.i GROUP BY 1, 2),
e AS MATERIALIZED (SELECT u, v, (99 + c) // c AS w FROM p WHERE c >= 2),
sym AS MATERIALIZED (
  SELECT u, v, w FROM e UNION ALL SELECT v, u, w FROM e),
hub AS (SELECT u AS s FROM (SELECT u, count(*) AS d FROM sym GROUP BY 1)
        ORDER BY d DESC, u ASC LIMIT 1),
d0 AS (SELECT CAST(s AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist
       FROM hub)"""]
    for r in range(1, SSSP_ROUNDS + 1):
        ctes.append(f"""d{r} AS MATERIALIZED (
  SELECT node, min(dist) AS dist FROM (
    SELECT node, dist FROM d{r - 1}
    UNION ALL
    SELECT sym.v AS node, d{r - 1}.dist + sym.w
    FROM d{r - 1} JOIN sym ON sym.u = d{r - 1}.node)
  GROUP BY 1)""")
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT node, dist FROM d{SSSP_ROUNDS}"
    )


def q_revenue_concentration(spark: SparkSession, sf: str) -> DataFrame:
    """Revenue concentration per market segment
    (operators.relational.concentration_report): customer-level revenue
    shares -> top-1 share, HHI, Gini — one shared-partitioning shuffle."""
    from door2door_etl_spark.operators.relational import concentration_report

    orders = load_table(spark, sf, "orders")
    cust = load_table(spark, sf, "customer")
    rev = orders.join(
        F.broadcast(cust.select("c_custkey", "c_mktsegment")),
        orders["o_custkey"] == cust["c_custkey"],
    ).select(
        F.col("c_mktsegment").alias("segment"),
        F.col("o_custkey").alias("custkey"),
        F.col("o_totalprice").alias("rev"),
    )
    return concentration_report(
        rev, group_cols=["segment"], entity_cols=["custkey"], value_col="rev"
    )


SQL_REVENUE_CONCENTRATION = """
WITH per AS (
  SELECT c.c_mktsegment AS segment, o.o_custkey AS custkey,
         sum(CAST(o.o_totalprice AS DECIMAL(38,6))) AS v
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2),
staged AS (
  SELECT segment,
         count(*) OVER (PARTITION BY segment) AS n,
         round(CAST(v AS DOUBLE)
               / CAST(sum(v) OVER (PARTITION BY segment) AS DOUBLE), 10)
           AS share,
         CAST(row_number() OVER (PARTITION BY segment
                                 ORDER BY v ASC, custkey ASC)
              AS DECIMAL(10,0))
           * CAST(v AS DECIMAL(28,4)) AS iv,
         v
  FROM per)
SELECT segment, any_value(n) AS n_entities,
       round(max(share), 6) AS top1_share,
       round(CAST(sum(CAST(share * share AS DECIMAL(28,14))) AS DOUBLE), 6)
         AS hhi,
       round(2.0 * CAST(sum(iv) AS DOUBLE)
               / (any_value(n) * CAST(sum(v) AS DOUBLE))
             - CAST(any_value(n) + 1 AS DOUBLE) / any_value(n), 6) AS gini
FROM staged GROUP BY 1
"""


CONTAIN_MIN = 0.5
CONTAIN_TOPK = 30


def q_containment_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Subset-duplication screen by Broder containment
    (operators.dedup.ngram_jaccard_pairs with with_containment):
    |A∩B| / min(|A|,|B|) over the rare-shingle-blocked candidates — 1.0
    when one document's shingles sit entirely inside another's, the
    quoted-inclusion class symmetric Jaccard under-ranks (a 50-word doc
    inside a 5000-word doc has Jaccard ~0.01 but containment 1.0).
    Candidates are capped by ONE-SIDED rarest-k blocking (each doc's k
    globally-rarest shingles joined against the uncapped rare relation,
    ≤ k·(max_df−1) candidates per doc — linear in corpus size, where the
    uncapped df-blocking alone measured 10× pairs at 10× rows).
    Containment recall survives the cap: a contained document's shingles
    — including its rarest k — all exist on the containing side by
    definition, and stay rare there (document frequency is global), so
    every true-containment pair shares a capped key of its smaller side.
    The measure itself is one extra in-row division."""
    from door2door_etl_spark.operators.dedup import ngram_jaccard_pairs
    from door2door_etl_spark.queries.northstar_catalog import (
        JACCARD_MAX_DF,
        JACCARD_RAREST_K,
        SHINGLE_N,
    )

    docs = load_table(spark, sf, "documents")
    pairs = ngram_jaccard_pairs(
        docs, shingle_n=SHINGLE_N, max_df=JACCARD_MAX_DF,
        persist_shingles=True, with_containment=True,
        block_rarest_k=JACCARD_RAREST_K, block_one_sided=True,
    )
    return (
        pairs.select(
            "id_a",
            "id_b",
            F.round("jaccard", 6).alias("jaccard"),
            F.round("containment", 6).alias("containment"),
        )
        # filter on the ROUNDED value (both engines compare identical 6dp
        # quantities; the raw double would race at the threshold)
        .filter(F.col("containment") >= CONTAIN_MIN)
        .orderBy(
            F.desc("containment"), F.asc("jaccard"), "id_a", "id_b"
        )
        .limit(CONTAIN_TOPK)
    )


def _sql_containment_pairs() -> str:
    from door2door_etl_spark.queries.northstar_catalog import (
        JACCARD_RAREST_K,
        _sql_jaccard_pairs_ctes,
    )

    return f"""
WITH {_sql_jaccard_pairs_ctes(rarest_k=JACCARD_RAREST_K, one_sided=True)},
cont AS (
  SELECT id_a, id_b,
         round(inter_cnt / (size_a + size_b - inter_cnt), 6) AS jaccard,
         round(inter_cnt / least(size_a, size_b), 6) AS containment
  FROM inter)
SELECT id_a, id_b, jaccard, containment
FROM cont WHERE containment >= {CONTAIN_MIN}
ORDER BY containment DESC, jaccard ASC, id_a, id_b
LIMIT {CONTAIN_TOPK}
"""


FUNNEL_GAP_S = 86400  # each stage must follow within a day


def q_funnel_time_bound(spark: SparkSession, sf: str) -> DataFrame:
    """Time-bound conversion funnel
    (operators.relational.conversion_funnel with max_gap_seconds): each
    stage must follow the previous stage's match within 24h — the form
    product analytics actually ships (unbounded funnels credit
    conversions months late).  Greedy earliest-match semantics, one
    shuffle, same array fold with the gap conjunct."""
    from door2door_etl_spark.operators.relational import conversion_funnel

    ev = load_table(spark, sf, "events")
    return conversion_funnel(
        ev, steps=["view", "click", "purchase"], max_gap_seconds=FUNNEL_GAP_S
    )


SQL_FUNNEL_TIME_BOUND = f"""
WITH rel AS (
  SELECT user_id, event_type, ts FROM events
  WHERE event_type IN ('view', 'click', 'purchase')),
n0 AS (SELECT count(DISTINCT user_id) AS n FROM rel),
s1 AS (SELECT user_id, min(ts) AS t FROM rel WHERE event_type = 'view'
       GROUP BY 1),
s2 AS (SELECT r.user_id, min(r.ts) AS t FROM rel r
       JOIN s1 ON r.user_id = s1.user_id
       WHERE r.event_type = 'click' AND r.ts > s1.t
         AND epoch_us(r.ts) - epoch_us(s1.t) <= CAST({FUNNEL_GAP_S} AS BIGINT) * 1000000
       GROUP BY 1),
s3 AS (SELECT r.user_id, min(r.ts) AS t FROM rel r
       JOIN s2 ON r.user_id = s2.user_id
       WHERE r.event_type = 'purchase' AND r.ts > s2.t
         AND epoch_us(r.ts) - epoch_us(s2.t) <= CAST({FUNNEL_GAP_S} AS BIGINT) * 1000000
       GROUP BY 1),
c AS (SELECT (SELECT n FROM n0) AS n0,
             (SELECT count(*) FROM s1) AS n1,
             (SELECT count(*) FROM s2) AS n2,
             (SELECT count(*) FROM s3) AS n3)
SELECT stage_idx, step, n_users, conversion_rate FROM (
  SELECT 1 AS stage_idx, 'view' AS step, n1 AS n_users,
         round(CAST(n1 AS DOUBLE) / nullif(n0, 0), 6) AS conversion_rate
  FROM c
  UNION ALL
  SELECT 2, 'click', n2, round(CAST(n2 AS DOUBLE) / nullif(n1, 0), 6) FROM c
  UNION ALL
  SELECT 3, 'purchase', n3, round(CAST(n3 AS DOUBLE) / nullif(n2, 0), 6) FROM c)
ORDER BY stage_idx
"""


PPR_ITERS = 6
PPR_D = 0.85


def q_graph_ppr_trade(spark: SparkSession, sf: str) -> DataFrame:
    """Personalized PageRank (random walk with restart, Jeh & Widom
    2003) on the nation trade graph, restarting at the alphabetically
    first nation (operators.graph.personalized_pagerank): proximity TO
    the source, the "related items" primitive — teleport and dangling
    mass both return to the restart node.  Same edge build, decimal
    discipline, and unrolled-oracle pattern as ns_pagerank_trade."""
    from door2door_etl_spark.operators.graph import personalized_pagerank

    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    s = load_table(spark, sf, "supplier")
    cn = load_table(spark, sf, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("src")
    )
    sn = load_table(spark, sf, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("dst")
    )
    e = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(cn), c["c_nationkey"] == F.col("cn_key"))
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(sn), s["s_nationkey"] == F.col("sn_key"))
        .select(
            "src", "dst",
            (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
            .alias("w"),
        )
    )
    start = (
        e.select(F.col("src").alias("n"))
        .unionAll(e.select(F.col("dst").alias("n")))
        .agg(F.min("n"))
        .collect()[0][0]
    )
    pr = personalized_pagerank(
        e, restart_node=start, weight_col="w",
        iterations=PPR_ITERS, damping=PPR_D,
    )
    return pr.select(
        F.col("node").alias("nation"), F.round("rank", 8).alias("rank")
    )


def _sql_graph_ppr_trade() -> str:
    """Unrolled DuckDB twin of q_graph_ppr_trade (the
    _sql_pagerank_trade scaffold with point-mass init and
    restart-directed teleport/dangling mass)."""
    d = repr(PPR_D)
    one_minus_d = repr(1.0 - PPR_D)
    head = """
WITH raw AS MATERIALIZED (
  SELECT cn.n_name AS src, sn.n_name AS dst,
         CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,18)) AS w
  FROM lineitem
  JOIN orders    ON l_orderkey = o_orderkey
  JOIN customer  ON o_custkey = c_custkey
  JOIN nation cn ON c_nationkey = cn.n_nationkey
  JOIN supplier  ON l_suppkey = s_suppkey
  JOIN nation sn ON s_nationkey = sn.n_nationkey
), outw AS MATERIALIZED (
  SELECT src, CAST(sum(w) AS DOUBLE) AS ow FROM raw GROUP BY src
), edges AS MATERIALIZED (
  SELECT f.src, f.dst, CAST(f.fw AS DOUBLE) / o.ow AS p
  FROM (SELECT src, dst, sum(w) AS fw FROM raw GROUP BY src, dst) f
  JOIN outw o ON f.src = o.src
), nodes AS MATERIALIZED (
  SELECT src AS node FROM raw UNION SELECT dst FROM raw
), sstart AS MATERIALIZED (
  SELECT min(node) AS s FROM nodes
), r0 AS MATERIALIZED (
  SELECT node, CASE WHEN node = (SELECT s FROM sstart)
               THEN CAST('1.0' AS DOUBLE)
               ELSE CAST('0.0' AS DOUBLE) END AS rank
  FROM nodes
)"""
    iters = []
    for t in range(PPR_ITERS):
        iters.append(f""", dang{t} AS MATERIALIZED (
  SELECT CAST(coalesce(sum(CAST(rank AS DECIMAL(38,18))), 0) AS DOUBLE)
           AS m
  FROM r{t} WHERE node NOT IN (SELECT src FROM outw)
), r{t + 1} AS MATERIALIZED (
  SELECT nd.node,
         CAST('{d}' AS DOUBLE) * coalesce(c.c, CAST('0.0' AS DOUBLE))
         + CASE WHEN nd.node = (SELECT s FROM sstart)
                THEN CAST('{one_minus_d}' AS DOUBLE)
                     + CAST('{d}' AS DOUBLE) * (SELECT m FROM dang{t})
                ELSE CAST('0.0' AS DOUBLE) END AS rank
  FROM nodes nd LEFT JOIN (
    SELECT e.dst AS node,
           CAST(sum(CAST(r.rank * e.p AS DECIMAL(38,18))) AS DOUBLE) AS c
    FROM edges e JOIN r{t} r ON e.src = r.node GROUP BY e.dst) c
  ON nd.node = c.node
)""")
    tail = (f"\nSELECT node AS nation, round(rank, 8) AS rank "
            f"FROM r{PPR_ITERS}")
    return head + "".join(iters) + tail


HEAPS_POINTS = 10


def q_heaps_law_fit(spark: SparkSession, sf: str) -> DataFrame:
    """Heaps'-law vocabulary-growth fit over the documents corpus
    (operators.text.heaps_fit): value-cut prefix family (no global
    sort), one token explode, regression over the measured (N, V)
    points."""
    from door2door_etl_spark.operators.text import heaps_fit

    docs = load_table(spark, sf, "documents")
    return heaps_fit(docs, id_col="doc_id", text_col="text", points=HEAPS_POINTS)


def _sql_heaps_law_fit() -> str:
    toks = sql_tokens("text")
    return f"""
WITH base AS (SELECT CAST(doc_id AS BIGINT) AS id, {toks} AS t FROM documents),
fs AS (SELECT w, min(id) AS fid
       FROM (SELECT id, unnest(t) AS w FROM base) GROUP BY 1),
dt AS (SELECT id, len(t) AS nt FROM base),
b AS (SELECT min(id) AS lo, max(id) AS hi FROM base),
cuts AS (SELECT DISTINCT lo + CAST(floor((hi - lo) * CAST(i AS DOUBLE)
                                        / {float(HEAPS_POINTS)}) AS BIGINT) AS c
         FROM b, generate_series(1, {HEAPS_POINTS}) AS g(i)),
v AS (SELECT c, count(*) AS vocab FROM fs, cuts WHERE fid <= c GROUP BY 1),
tt AS (SELECT c, sum(nt) AS toks FROM dt, cuts WHERE id <= c GROUP BY 1),
xy AS (SELECT ln(CAST(toks AS DOUBLE)) AS x, ln(CAST(vocab AS DOUBLE)) AS y
       FROM v JOIN tt USING (c) WHERE vocab > 0 AND toks > 0),
s AS (SELECT count(*) AS np,
             CAST(sum(CAST(x AS DECIMAL(28,10))) AS DOUBLE) AS sx,
             CAST(sum(CAST(y AS DECIMAL(28,10))) AS DOUBLE) AS sy,
             CAST(sum(CAST(x * x AS DECIMAL(28,10))) AS DOUBLE) AS sxx,
             CAST(sum(CAST(x * y AS DECIMAL(28,10))) AS DOUBLE) AS sxy
      FROM xy)
SELECT np AS n_points,
       round((np * sxy - sx * sy) / (np * sxx - sx * sx), 6) + 0.0 AS slope,
       round((sy - (np * sxy - sx * sy) / (np * sxx - sx * sx) * sx)
             / np, 6) + 0.0 AS intercept
FROM s
"""


PMI_MIN_COUNT = 5
PMI_TOPK = 25


def q_collocations_pmi(spark: SparkSession, sf: str) -> DataFrame:
    """Top-k adjacent-bigram collocations by PMI over the documents corpus
    (operators.text.pmi_collocations): two exploded counts + two
    broadcast joins against the vocabulary, TakeOrderedAndProject."""
    from door2door_etl_spark.operators.text import pmi_collocations

    docs = load_table(spark, sf, "documents")
    return pmi_collocations(
        docs, text_col="text", min_count=PMI_MIN_COUNT, topk=PMI_TOPK
    )


def _sql_collocations_pmi() -> str:
    toks = sql_tokens("text")
    return f"""
WITH toks AS (SELECT {toks} AS t FROM documents),
uni AS (SELECT w, count(*) AS cw
        FROM (SELECT unnest(t) AS w FROM toks) GROUP BY 1),
nu AS (SELECT sum(cw) AS n_tokens FROM uni),
pairs AS (
  SELECT unnest(list_transform(generate_series(1, len(t) - 1),
                i -> struct_pack(w1 := t[i], w2 := t[i+1]))) AS pr
  FROM toks WHERE len(t) >= 2),
bi AS (SELECT pr.w1 AS w1, pr.w2 AS w2, count(*) AS n_pair
       FROM pairs GROUP BY 1, 2),
nb AS (SELECT sum(n_pair) AS n_bigrams FROM bi),
cut AS (SELECT * FROM bi WHERE n_pair >= {PMI_MIN_COUNT})
SELECT cut.w1, cut.w2, cut.n_pair,
       round(ln((CAST(cut.n_pair AS DOUBLE) * nu.n_tokens * nu.n_tokens)
                / (CAST(nb.n_bigrams AS DOUBLE) * c1.cw * c2.cw)), 6) AS pmi
FROM cut
JOIN uni c1 ON c1.w = cut.w1
JOIN uni c2 ON c2.w = cut.w2
CROSS JOIN nu CROSS JOIN nb
ORDER BY pmi DESC, cut.n_pair DESC, cut.w1, cut.w2
LIMIT {PMI_TOPK}
"""


def q_cusum_user_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user CUSUM drift screen over event values
    (operators.profile.cusum_drift): max upward excursion against each
    user's own mean — sequential changepoint detection, engine-exact via
    per-term DECIMAL quantization before the running sums."""
    from door2door_etl_spark.operators.profile import cusum_drift

    ev = load_table(spark, sf, "events")
    return cusum_drift(
        ev, key_cols=["user_id"], order_cols=["ts", "event_id"],
        value_col="value", slack=0.0,
    )


SQL_CUSUM_USER_DRIFT = """
WITH m AS (
  SELECT user_id,
         round(CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE)
               / count(*), 6) AS mean,
         count(*) AS n_points
  FROM events WHERE value IS NOT NULL GROUP BY 1),
t AS (
  SELECT e.user_id, e.ts, e.event_id, m.mean, m.n_points,
         CAST(round(e.value - m.mean - 0.0, 6) AS DECIMAL(28,10)) AS term
  FROM events e JOIN m USING (user_id) WHERE e.value IS NOT NULL),
s AS (
  SELECT user_id, mean, n_points, ts, event_id,
         sum(term) OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING) AS s
  FROM t),
x AS (
  SELECT user_id, mean, n_points,
         CAST(s - min(s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS exc
  FROM s)
SELECT user_id, n_points, mean, round(max(exc), 6) AS max_cusum
FROM x GROUP BY 1, 2, 3
"""


def q_cdc_join_view(spark: SparkSession, sf: str) -> DataFrame:
    """CDC-maintained JOIN view end-to-end (pipeline.joinview
    .IncrementalJoinView): seed ``orders ⋈ customer`` from deterministic
    subsets, then drive ONE delta window carrying churn on BOTH sides —
    left inserts (%3==0), fk re-points + payload updates (%7==0),
    deletes (%11==0); right payload updates (%4==0), late-arriving
    dimensions (%5==0, back-filling previously-unmatched facts), deletes
    (%9==0, orphaning their facts under inner join).  The view advances
    by affected-rows recompute only; the oracle rebuilds the identical
    final state in plain SQL, so a hash match proves the delta-join path
    (never a hidden full recompute) converges exactly."""
    import os
    import shutil
    import tempfile

    from door2door_etl_spark.io.manifest import delete_manifest, merge_manifest
    from door2door_etl_spark.pipeline.joinview import IncrementalJoinView

    k = F.col("_k")
    orders = load_table(spark, sf, "orders").select(
        F.col("o_orderkey").alias("okey"),
        F.col("o_orderkey").alias("_k"),
        F.col("o_custkey").alias("ckey"),
        F.col("o_totalprice").alias("total"),
    )
    cust = load_table(spark, sf, "customer").select(
        F.col("c_custkey").alias("ckey"),
        F.col("c_custkey").alias("_c"),
        F.col("c_mktsegment").alias("segment"),
    )
    c = F.col("_c")
    root = os.path.join(
        tempfile.gettempdir(), f"ns_cdc_join_view_{os.getpid()}"
    )
    shutil.rmtree(root, ignore_errors=True)
    src_l, src_r = os.path.join(root, "orders"), os.path.join(root, "cust")
    lcols, rcols = ["okey", "ckey", "total"], ["ckey", "segment"]

    merge_manifest(
        spark, src_l, orders.filter(k % 3 != 0).select(*lcols), key="okey"
    )
    merge_manifest(
        spark, src_r, cust.filter(c % 5 != 0).select(*rcols), key="ckey"
    )
    view = IncrementalJoinView(
        left_root=src_l,
        right_root=src_r,
        view_root=os.path.join(root, "view"),
        left_key="okey",
        fk="ckey",
        right_key="ckey",
        left_cols=["total"],
        right_cols=["segment"],
        how="inner",
    )
    if view.refresh(spark)["action"] != "seed":
        raise RuntimeError("cdc_join_view: expected seed on first refresh")

    l_inserts = orders.filter(k % 3 == 0).select(*lcols)
    l_updates = (
        orders.filter((k % 7 == 0) & (k % 3 != 0))
        .withColumn("ckey", F.col("ckey") + 1)
        .withColumn("total", F.col("total") + 1.0)
        .select(*lcols)
    )
    merge_manifest(spark, src_l, l_inserts.unionByName(l_updates), key="okey")
    delete_manifest(
        spark, src_l, orders.filter(k % 11 == 0).select("okey"), key="okey"
    )
    r_updates = (
        cust.filter((c % 4 == 0) & (c % 5 != 0))
        .withColumn("segment", F.lit("U"))
        .select(*rcols)
    )
    r_inserts = cust.filter(c % 5 == 0).select(*rcols)
    merge_manifest(spark, src_r, r_updates.unionByName(r_inserts), key="ckey")
    delete_manifest(
        spark, src_r, cust.filter(c % 9 == 0).select("ckey"), key="ckey"
    )
    if view.refresh(spark)["action"] != "delta":
        raise RuntimeError("cdc_join_view: expected an incremental delta window")
    return view.read(spark).select(
        F.col("_vk").alias("okey"),
        F.col("_fk").alias("ckey"),
        "total",
        "segment",
    )


SQL_CDC_JOIN_VIEW = """
WITH lf AS (
  SELECT CAST(o_orderkey AS VARCHAR) AS okey,
         CAST(CASE WHEN o_orderkey % 7 = 0 AND o_orderkey % 3 != 0
              THEN o_custkey + 1 ELSE o_custkey END AS VARCHAR) AS ckey,
         CASE WHEN o_orderkey % 7 = 0 AND o_orderkey % 3 != 0
              THEN o_totalprice + 1.0 ELSE o_totalprice END AS total
  FROM orders WHERE o_orderkey % 11 != 0),
rf AS (
  SELECT CAST(c_custkey AS VARCHAR) AS ckey,
         CASE WHEN c_custkey % 4 = 0 AND c_custkey % 5 != 0
              THEN 'U' ELSE c_mktsegment END AS segment
  FROM customer WHERE c_custkey % 9 != 0)
SELECT lf.okey, lf.ckey, lf.total, rf.segment
FROM lf JOIN rf USING (ckey)
"""


INSIGHT_QUERIES: list[QueryDef] = [
    QueryDef("rel_event_transition_matrix", q_event_transition_matrix, SQL_EVENT_TRANSITION_MATRIX, "first-order Markov next-event matrix: lag window + combinable pair counts", ("rel", "insight")),
    QueryDef("rel_benford_order_totals", q_benford_order_totals, SQL_BENFORD_ORDER_TOTALS, "Benford first-digit forensic audit with chi-square contributions", ("rel", "insight")),
    QueryDef("rel_ema_user_value", q_ema_user_value, SQL_EMA_USER_VALUE, "per-entity EMA via Catalyst left fold (bit-exact vs list_reduce)", ("rel", "insight")),
    QueryDef("rel_holt_user_trend", q_holt_user_trend, SQL_HOLT_USER_TREND, "per-entity Holt level+trend smoothing with 3-step forecast (struct-state Catalyst fold, bit-exact vs struct list_reduce)", ("rel", "insight")),
    QueryDef("ns_graph_degree_histogram", q_graph_degree_histogram, SQL_GRAPH_DEGREE_HISTOGRAM, "graph degree distribution (power-law / hub pre-flight)", ("northstar", "graph")),
    QueryDef("ns_collocations_pmi", q_collocations_pmi, _sql_collocations_pmi(), "PMI collocation mining over the corpus (Church & Hanks 1990)", ("northstar", "text")),
    QueryDef("ns_cdc_join_view", q_cdc_join_view, SQL_CDC_JOIN_VIEW, "lakehouse CDC + incremental JOIN-view maintenance (delta-join, both-side churn)", ("northstar", "lakehouse")),
    QueryDef("rel_cusum_user_drift", q_cusum_user_drift, SQL_CUSUM_USER_DRIFT, "CUSUM changepoint screen per entity (Page 1954), decimal-exact running sums", ("rel", "insight")),
    QueryDef("ns_graph_bfs_hops", q_graph_bfs_hops, SQL_GRAPH_BFS_HOPS, "BFS hop distances by level-synchronous frontier expansion (bounded-depth oracle)", ("northstar", "graph")),
    QueryDef("ns_graph_sssp_hub", q_graph_sssp_hub, _sql_graph_sssp_hub(), "weighted shortest distances from the hub (bounded-round Bellman-Ford, integer inverse-affinity costs)", ("northstar", "graph")),
    QueryDef("rel_locf_imputation", q_locf_imputation, SQL_LOCF_IMPUTATION, "LOCF gap-fill: last non-missing observation carried forward per entity", ("rel", "insight")),
    QueryDef("rel_time_weighted_value", q_time_weighted_value, SQL_TIME_WEIGHTED_VALUE, "zero-order-hold time-weighted average under irregular sampling", ("rel", "insight")),
    QueryDef("rel_seasonal_hourly_anomaly", q_seasonal_hourly_anomaly, SQL_SEASONAL_HOURLY_ANOMALY, "hour-of-day seasonal baseline + z-score anomaly screen per segment", ("rel", "insight")),
    QueryDef("ns_heaps_law_fit", q_heaps_law_fit, _sql_heaps_law_fit(), "Heaps'-law vocabulary-growth fit (corpus-health, companion to ns_zipf_slope)", ("northstar", "text")),
    QueryDef("rel_revenue_concentration", q_revenue_concentration, SQL_REVENUE_CONCENTRATION, "market-concentration screen: top-1 share, HHI, Gini per segment", ("rel", "insight")),
    QueryDef("rel_mad_outliers", q_mad_outliers, SQL_MAD_OUTLIERS, "robust modified-z outliers via median/MAD (Iglewicz-Hoaglin)", ("rel", "insight")),
    QueryDef("ns_graph_ppr_trade", q_graph_ppr_trade, _sql_graph_ppr_trade(), "personalized PageRank / random walk with restart (Jeh & Widom 2003)", ("northstar", "graph")),
    QueryDef("rel_funnel_time_bound", q_funnel_time_bound, SQL_FUNNEL_TIME_BOUND, "time-bound conversion funnel: each stage within a gap of the previous match", ("rel", "insight")),
    QueryDef("ns_containment_pairs", q_containment_pairs, _sql_containment_pairs(), "Broder-containment subset-duplication screen (the class Jaccard under-ranks)", ("northstar", "dedup")),
]


def q_hw_seasonal_forecast(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user additive Holt-Winters smoothing of event value
    (operators.relational.holt_winters_forecast, m=4, alpha=0.3,
    beta=0.2, gamma=0.3): level + trend + a 4-slot seasonal state
    folded in ONE Catalyst aggregate (struct+array accumulator, single
    shuffle, zero Python) — the last rung of the smoothing ladder after
    rel_ema_user_value and rel_holt_user_trend.  The twin steps the
    identical IEEE chain in a per-key recursive CTE (never a struct
    list_reduce — the documented DuckDB 1.0 hazard)."""
    from door2door_etl_spark.operators.relational import (
        holt_winters_forecast,
    )

    ev = load_table(spark, sf, "events")
    return holt_winters_forecast(
        ev, key_cols=["user_id"], order_cols=["ts", "event_id"],
        value_col="value", season=4, alpha=0.3, beta=0.2, gamma=0.3,
    )


SQL_HW_SEASONAL_FORECAST = """
WITH RECURSIVE seq AS (
  SELECT user_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS i,
         CAST(value AS DOUBLE) AS v
  FROM events WHERE value IS NOT NULL),
nn AS (SELECT user_id, max(i) AS n FROM seq GROUP BY 1),
init AS (
  SELECT user_id, list_sum(lv) / 4.0 AS l, CAST(0.0 AS DOUBLE) AS b,
         list_transform(lv, x -> x - list_sum(lv) / 4.0) AS s
  FROM (SELECT user_id, list(v ORDER BY i) AS lv
        FROM seq WHERE i <= 4 GROUP BY 1 HAVING count(*) = 4)),
hw AS (
  SELECT user_id, CAST(4 AS BIGINT) AS i, l, b, s FROM init
  UNION ALL
  SELECT q.user_id, q.i,
    CAST(0.3 * (q.v - h.s[((h.i - 4) % 4) + 1]) + 0.7 * (h.l + h.b)
         AS DOUBLE),
    CAST(0.2 * ((0.3 * (q.v - h.s[((h.i - 4) % 4) + 1])
                 + 0.7 * (h.l + h.b)) - h.l) + 0.8 * h.b AS DOUBLE),
    list_transform(h.s, (e, j) -> CASE WHEN j = ((h.i - 4) % 4) + 1
      THEN 0.3 * (q.v - (0.3 * (q.v - h.s[((h.i - 4) % 4) + 1])
                         + 0.7 * (h.l + h.b)))
           + 0.7 * h.s[((h.i - 4) % 4) + 1]
      ELSE e END)
  FROM hw h JOIN seq q ON q.user_id = h.user_id AND q.i = h.i + 1)
SELECT h.user_id, nn.n AS n_points,
       round(h.l, 6) AS level, round(h.b, 6) AS trend,
       round(h.s[1], 6) AS s1, round(h.s[2], 6) AS s2,
       round(h.s[3], 6) AS s3, round(h.s[4], 6) AS s4,
       round(h.l + h.b + h.s[((nn.n - 4) % 4) + 1], 6) AS forecast
FROM hw h JOIN nn ON h.user_id = nn.user_id AND h.i = nn.n
WHERE nn.n >= 4
"""

INSIGHT_QUERIES.append(
    QueryDef(
        "rel_hw_seasonal_forecast",
        q_hw_seasonal_forecast,
        SQL_HW_SEASONAL_FORECAST,
        "additive Holt-Winters level+trend+season fold (struct+array accumulator, recursive-CTE twin)",
        ("rel", "insight"),
    )
)
