"""Advanced operator catalog, wave 3: as-of join, sessionization, pivot,
rolling time windows, and the deterministic sketch/sampling family.

These are the operators a telemetry warehouse (the reference's domain —
vehicle positions vs operating periods) and a training-data pipeline both
need beyond plain SQL: "state as of event time", gap sessions, reproducible
sampling/splits, and streaming-style rolling aggregates — each Spark-first
(window/union compositions, pure column expressions; no Python UDFs) and
each with a DuckDB oracle built from the same portable contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from door2door_etl_spark.io.readers import load_table
from door2door_etl_spark.operators.relational import asof_join, sessionize
from door2door_etl_spark.operators.sketches import (
    hash_sample,
    kmv_distinct_estimate,
    quota_mix_sample,
    stratified_split,
)
from door2door_etl_spark.queries.defs import QueryDef, copurchase_edges, dsum
from door2door_etl_spark.queries.sql_fragments import (
    dec_sum,
    sql_h52,
    sql_tokens,
    sql_uniform_hash,
)

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


def q_asof_signup_attribution(spark: SparkSession, sf: str) -> DataFrame:
    """As-of join: each purchase attributed to the user's latest signup at
    or before purchase time (NULL when none).  Union+window plan — both
    sides scale without broadcast (operators.relational.asof_join)."""
    ev = load_table(spark, sf, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    signups = ev.filter(F.col("event_type") == "signup").select(
        "user_id", F.col("ts").alias("signup_ts")
    )
    joined = asof_join(
        purchases,
        signups,
        key_cols=["user_id"],
        left_ts="ts",
        right_ts="signup_ts",
        value_cols=["signup_ts"],
    )
    # signup epoch (not raw timestamp) so unattributed purchases carry an
    # integer NULL, which every hasher normalizes identically.
    return joined.select(
        "event_id",
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.unix_micros(F.col("signup_ts")).alias("signup_epoch_us"),
        (
            (F.unix_micros(F.col("ts")) - F.unix_micros(F.col("signup_ts")))
            / F.lit(1_000_000.0)
        ).alias("seconds_since_signup"),
    )


SQL_ASOF_SIGNUP_ATTRIBUTION = """
SELECT e.event_id, e.user_id, e.ts AS purchase_ts,
       epoch_us(s.signup_ts) AS signup_epoch_us,
       CAST(epoch_us(e.ts) - epoch_us(s.signup_ts) AS DOUBLE) / 1000000.0
         AS seconds_since_signup
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') e
ASOF LEFT JOIN (SELECT user_id, ts AS signup_ts FROM events
                WHERE event_type = 'signup') s
  ON e.user_id = s.user_id AND e.ts >= s.signup_ts
"""


def q_sessionize_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity): per-user session count
    and mean session size (operators.relational.sessionize)."""
    ev = load_table(spark, sf, "events")
    sess = sessionize(ev, ["user_id"], "ts", gap_seconds=1800, tiebreak_cols=["event_id"])
    return sess.groupBy("user_id").agg(
        F.max("session_seq").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
        F.round(
            F.count(F.lit(1)).cast("double") / F.max("session_seq"), 4
        ).alias("avg_events_per_session"),
    )


def q_scd2_history(spark: SparkSession, sf: str) -> DataFrame:
    """SCD type-2 dimension history (operators.relational.scd2_history):
    each user's event_type change runs become validity intervals
    (valid_from / valid_to / is_current) — Kimball's slowly-changing
    dimension derived from the event log in ONE shuffle (the change
    flag, run id, per-run aggregate, and interval-closing lead all
    reuse the key partitioning).  The oracle rebuilds the identical
    islands with lag/sum/lead windows in plain SQL."""
    from door2door_etl_spark.operators.relational import scd2_history

    ev = load_table(spark, sf, "events")
    return scd2_history(ev, ["user_id"], ["event_type"], "ts")


SQL_SCD2_HISTORY = """
WITH flagged AS (
  SELECT user_id, event_type, ts,
         CASE WHEN lag(event_type) OVER w IS NULL
                OR lag(event_type) OVER w <> event_type
              THEN 1 ELSE 0 END AS chg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_type)
), runs AS (
  SELECT user_id, event_type, ts,
         sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_type
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
  FROM flagged
), hist AS (
  SELECT user_id, run_id, min(ts) AS valid_from,
         min(event_type) AS event_type
  FROM runs GROUP BY 1, 2
)
SELECT user_id, event_type, valid_from,
       lead(valid_from) OVER wk AS valid_to,
       lead(valid_from) OVER wk IS NULL AS is_current
FROM hist
WINDOW wk AS (PARTITION BY user_id ORDER BY valid_from, event_type)
"""


SPATIAL_RADIUS = 0.5  # km on the synthetic 1000x1000 projected plane


def q_spatial_radius_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Spatial radius self-join (operators.spatial.radius_self_join):
    every event becomes a point on a 1000x1000 projected plane (portable
    uniform-hash coordinates, engine-exact doubles) and the query finds
    all pairs within 0.5 distance — grid-cell bucketing + 3x3 neighbor
    equi-join + exact squared-distance filter, never an all-pairs cross
    join.  The mobility query the reference's vehicle_location table
    exists for ("which vehicles were near each other"), expressed at
    100 TB scale shape."""
    from door2door_etl_spark.operators.sketches import uniform_hash
    from door2door_etl_spark.operators.spatial import radius_self_join

    pts = load_table(spark, sf, "events").select(
        "event_id",
        (uniform_hash(F.col("event_id"), "gx") * 1000.0).alias("x"),
        (uniform_hash(F.col("event_id"), "gy") * 1000.0).alias("y"),
    )
    return radius_self_join(pts, "event_id", "x", "y", SPATIAL_RADIUS)


def _sql_spatial_radius_pairs() -> str:
    ux = sql_uniform_hash("event_id", "gx")
    uy = sql_uniform_hash("event_id", "gy")
    r = SPATIAL_RADIUS
    return f"""
WITH pts AS (
  SELECT event_id, {ux} * 1000.0 AS x, {uy} * 1000.0 AS y FROM events),
cells AS (
  SELECT event_id, x, y,
         floor(x / {r}) AS cx, floor(y / {r}) AS cy
  FROM pts),
probe AS (
  SELECT c.event_id AS idb, c.x AS xb, c.y AS yb,
         c.cx + dx.d AS cx, c.cy + dy.d AS cy
  FROM cells c,
       (VALUES (-1), (0), (1)) dx(d),
       (VALUES (-1), (0), (1)) dy(d))
SELECT a.event_id AS id_a, p.idb AS id_b,
       round(sqrt((a.x - p.xb) * (a.x - p.xb)
                  + (a.y - p.yb) * (a.y - p.yb)), 6) AS dist
FROM cells a JOIN probe p ON a.cx = p.cx AND a.cy = p.cy
WHERE a.event_id < p.idb
  AND (a.x - p.xb) * (a.x - p.xb) + (a.y - p.yb) * (a.y - p.yb)
      <= {r} * {r}
"""


def q_track_distance(spark: SparkSession, sf: str) -> DataFrame:
    """Per-entity track length + step statistics: each user's events
    become an ordered track on the synthetic projected plane; one
    window (lag) computes per-step displacement, one aggregate folds it
    to ``(n_steps, total_dist, max_step)`` — the single-shuffle
    trajectory rollup a fleet warehouse runs over billions of pings
    (the window and the groupBy share the user-hash partitioning, so
    the second stage never re-exchanges).  Distances are exact IEEE
    arithmetic on hash-derived coordinates; per-step DECIMAL
    quantization keeps the sum order-independent."""
    from door2door_etl_spark.operators.sketches import uniform_hash
    from pyspark.sql import Window

    ev = load_table(spark, sf, "events").select(
        "user_id",
        "ts",
        "event_id",
        (uniform_hash(F.col("event_id"), "gx") * 1000.0).alias("x"),
        (uniform_hash(F.col("event_id"), "gy") * 1000.0).alias("y"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dx = F.col("x") - F.lag("x").over(w)
    dy = F.col("y") - F.lag("y").over(w)
    step = F.round(F.sqrt(dx * dx + dy * dy), 6)
    stepped = ev.select("user_id", step.alias("step"))
    return stepped.groupBy("user_id").agg(
        F.count("step").alias("n_steps"),
        F.round(
            F.sum(F.col("step").cast("decimal(28,10)")).cast("double"), 6
        ).alias("total_dist"),
        F.max("step").alias("max_step"),
    )


def _sql_track_distance() -> str:
    ux = sql_uniform_hash("event_id", "gx")
    uy = sql_uniform_hash("event_id", "gy")
    return f"""
WITH pts AS (
  SELECT user_id, ts, event_id,
         {ux} * 1000.0 AS x, {uy} * 1000.0 AS y
  FROM events),
stepped AS (
  SELECT user_id,
         round(sqrt((x - lag(x) OVER w) * (x - lag(x) OVER w)
                    + (y - lag(y) OVER w) * (y - lag(y) OVER w)), 6)
           AS step
  FROM pts
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT user_id, count(step) AS n_steps,
       round(CAST(sum(CAST(step AS DECIMAL(28,10))) AS DOUBLE), 6)
         AS total_dist,
       max(step) AS max_step
FROM stepped GROUP BY 1
"""


def q_spatial_density_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Top-20 densest grid cells (the heatmap query): one map-side
    combinable cell count + TakeOrderedAndProject — a 100 TB ping table
    reduces to |occupied cells| rows before anything sorts."""
    from door2door_etl_spark.operators.sketches import uniform_hash

    pts = load_table(spark, sf, "events").select(
        (uniform_hash(F.col("event_id"), "gx") * 1000.0).alias("x"),
        (uniform_hash(F.col("event_id"), "gy") * 1000.0).alias("y"),
    )
    cells = pts.select(
        F.floor(F.col("x") / 50.0).cast("long").alias("cx"),
        F.floor(F.col("y") / 50.0).cast("long").alias("cy"),
    )
    return (
        cells.groupBy("cx", "cy")
        .agg(F.count(F.lit(1)).alias("n_points"))
        .orderBy(F.col("n_points").desc(), F.col("cx"), F.col("cy"))
        .limit(20)
    )


def _sql_spatial_density_topk() -> str:
    ux = sql_uniform_hash("event_id", "gx")
    uy = sql_uniform_hash("event_id", "gy")
    return f"""
WITH cells AS (
  SELECT CAST(floor({ux} * 1000.0 / 50.0) AS BIGINT) AS cx,
         CAST(floor({uy} * 1000.0 / 50.0) AS BIGINT) AS cy
  FROM events)
SELECT cx, cy, count(*) AS n_points
FROM cells GROUP BY 1, 2
ORDER BY n_points DESC, cx, cy LIMIT 20
"""


def q_spatial_knn(spark: SparkSession, sf: str) -> DataFrame:
    """Bounded k-NN (operators.spatial.knn_within_radius): each event
    point's 3 nearest neighbors among those within the radius —
    symmetrized grid-bucketed pairs topped per point by a rank<=k
    window (WindowGroupLimit: the top-k partial-aggregates before the
    shuffle)."""
    from door2door_etl_spark.operators.sketches import uniform_hash
    from door2door_etl_spark.operators.spatial import knn_within_radius

    pts = load_table(spark, sf, "events").select(
        "event_id",
        (uniform_hash(F.col("event_id"), "gx") * 1000.0).alias("x"),
        (uniform_hash(F.col("event_id"), "gy") * 1000.0).alias("y"),
    )
    return knn_within_radius(pts, "event_id", "x", "y", SPATIAL_RADIUS, 3)


def _sql_spatial_knn() -> str:
    ux = sql_uniform_hash("event_id", "gx")
    uy = sql_uniform_hash("event_id", "gy")
    r = SPATIAL_RADIUS
    return f"""
WITH pts AS (
  SELECT event_id, {ux} * 1000.0 AS x, {uy} * 1000.0 AS y FROM events),
cells AS (
  SELECT event_id, x, y,
         floor(x / {r}) AS cx, floor(y / {r}) AS cy
  FROM pts),
probe AS (
  SELECT c.event_id AS idb, c.x AS xb, c.y AS yb,
         c.cx + dx.d AS cx, c.cy + dy.d AS cy
  FROM cells c,
       (VALUES (-1), (0), (1)) dx(d),
       (VALUES (-1), (0), (1)) dy(d)),
pairs AS (
  SELECT a.event_id AS id_a, p.idb AS id_b,
         round(sqrt((a.x - p.xb) * (a.x - p.xb)
                    + (a.y - p.yb) * (a.y - p.yb)), 6) AS dist
  FROM cells a JOIN probe p ON a.cx = p.cx AND a.cy = p.cy
  WHERE a.event_id < p.idb
    AND (a.x - p.xb) * (a.x - p.xb) + (a.y - p.yb) * (a.y - p.yb)
        <= {r} * {r}),
sym AS (
  SELECT id_a AS pid, id_b AS neighbor, dist FROM pairs
  UNION ALL
  SELECT id_b, id_a, dist FROM pairs),
ranked AS (
  SELECT pid, neighbor, dist,
         row_number() OVER (
           PARTITION BY pid ORDER BY dist ASC, neighbor ASC) AS rank
  FROM sym)
SELECT pid AS event_id, neighbor, dist, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 3
"""


def q_spatial_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Density clustering, DBSCAN-flavored (minPts=2 core semantics
    collapse to: connected components of the radius graph): the grid-
    bucketed radius self-join provides the edges, pointer-jumping CC
    labels the clusters — both stages are the engine's own banded
    primitives, so the composition inherits their never-all-pairs /
    O(log diameter) scale shapes.  Output: one row per clustered point
    with its cluster id (isolated points are noise and don't appear —
    DBSCAN's noise semantics).  The oracle rebuilds the same clusters
    with a recursive-CTE closure over the same grid-derived edges."""
    from door2door_etl_spark.operators.graph import connected_components
    from door2door_etl_spark.operators.sketches import uniform_hash
    from door2door_etl_spark.operators.spatial import radius_self_join

    pts = load_table(spark, sf, "events").select(
        "event_id",
        (uniform_hash(F.col("event_id"), "gx") * 1000.0).alias("x"),
        (uniform_hash(F.col("event_id"), "gy") * 1000.0).alias("y"),
    )
    edges = radius_self_join(pts, "event_id", "x", "y", SPATIAL_RADIUS)
    return connected_components(edges, "id_a", "id_b").select(
        F.col("node").alias("event_id"), F.col("component").alias("cluster_id")
    )


def _sql_spatial_clusters() -> str:
    ux = sql_uniform_hash("event_id", "gx")
    uy = sql_uniform_hash("event_id", "gy")
    r = SPATIAL_RADIUS
    return f"""
WITH RECURSIVE pts AS (
  SELECT event_id, {ux} * 1000.0 AS x, {uy} * 1000.0 AS y FROM events),
cells AS (
  SELECT event_id, x, y,
         floor(x / {r}) AS cx, floor(y / {r}) AS cy
  FROM pts),
probe AS (
  SELECT c.event_id AS idb, c.x AS xb, c.y AS yb,
         c.cx + dx.d AS cx, c.cy + dy.d AS cy
  FROM cells c,
       (VALUES (-1), (0), (1)) dx(d),
       (VALUES (-1), (0), (1)) dy(d)),
pairs AS (
  SELECT a.event_id AS id_a, p.idb AS id_b
  FROM cells a JOIN probe p ON a.cx = p.cx AND a.cy = p.cy
  WHERE a.event_id < p.idb
    AND (a.x - p.xb) * (a.x - p.xb) + (a.y - p.yb) * (a.y - p.yb)
        <= {r} * {r}),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs),
walk(node, reach) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.a, w.reach FROM edges e JOIN walk w ON w.node = e.b)
SELECT node AS event_id, min(reach) AS cluster_id FROM walk GROUP BY node
"""


def q_scd2_enrich(spark: SparkSession, sf: str) -> DataFrame:
    """Point-in-time dimension lookup (operators.relational.scd2_enrich):
    every event probes the user's state dimension 30 minutes after its
    own timestamp — served by the as-of composition (ONE shuffle, no
    range-join explosion) over the scd2_history intervals.  The oracle
    uses DuckDB's native ASOF JOIN, so a hash match proves the
    union+window rewrite implements exactly the textbook semantics.
    The state source dedupes to one row per (user, ts) so interval
    starts are unique per key (as-of ties would be ambiguous)."""
    from door2door_etl_spark.operators.relational import (
        scd2_enrich,
        scd2_history,
    )

    ev = load_table(spark, sf, "events")
    src = ev.groupBy("user_id", "ts").agg(
        F.min("event_type").alias("etype")
    )
    hist = scd2_history(src, ["user_id"], ["etype"], "ts")
    probes = ev.select(
        "event_id",
        "user_id",
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("pts"),
    )
    out = scd2_enrich(probes, hist, "user_id", "pts", ["etype"])
    return out.select(
        "event_id", "user_id", F.col("etype").alias("state_asof")
    )


SQL_SCD2_ENRICH = """
WITH src AS (
  SELECT user_id, ts, min(event_type) AS etype FROM events GROUP BY 1, 2),
flagged AS (
  SELECT user_id, etype, ts,
         CASE WHEN lag(etype) OVER w IS NULL
                OR lag(etype) OVER w <> etype THEN 1 ELSE 0 END AS chg
  FROM src
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, etype)
), runs AS (
  SELECT user_id, etype, ts,
         sum(chg) OVER (PARTITION BY user_id ORDER BY ts, etype
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
  FROM flagged
), hist AS (
  SELECT user_id, run_id, min(ts) AS valid_from, min(etype) AS etype
  FROM runs GROUP BY 1, 2
), iv AS (
  SELECT user_id, etype, valid_from,
         lead(valid_from) OVER (
           PARTITION BY user_id ORDER BY valid_from) AS valid_to
  FROM hist
), probes AS (
  SELECT event_id, user_id, ts + INTERVAL 30 MINUTE AS pts FROM events)
SELECT p.event_id, p.user_id,
       CASE WHEN h.valid_to IS NULL OR p.pts < h.valid_to
            THEN h.etype END AS state_asof
FROM probes p ASOF LEFT JOIN iv h
  ON p.user_id = h.user_id AND p.pts >= h.valid_from
"""


SQL_SESSIONIZE_STATS = """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM flagged
)
SELECT user_id, CAST(max(session_seq) AS BIGINT) AS n_sessions, count(*) AS n_events,
       round(CAST(count(*) AS DOUBLE) / max(session_seq), 4)
         AS avg_events_per_session
FROM sess GROUP BY 1
"""


def q_kmv_distinct_users(spark: SparkSession, sf: str) -> DataFrame:
    """KMV distinct-count sketch over event users — the cross-engine-
    deterministic alternative to approx_count_distinct
    (operators.sketches.kmv_distinct_estimate)."""
    ev = load_table(spark, sf, "events")
    return kmv_distinct_estimate(ev, "user_id", k=64)


SQL_KMV_DISTINCT_USERS = f"""
WITH hashed AS (
  SELECT DISTINCT {sql_uniform_hash('user_id', 'kmv')} AS u FROM events
), topk AS (SELECT u FROM hashed ORDER BY u LIMIT 64)
SELECT CASE WHEN count(*) >= 64 THEN round(63.0 / max(u), 4)
            ELSE CAST(count(*) AS DOUBLE) END AS est_distinct,
       64 AS k,
       round(max(u), 12) AS kth_hash
FROM topk
"""


def q_kmv_distinct_by_type(spark: SparkSession, sf: str) -> DataFrame:
    """Per-event-type KMV distinct-user estimate — the grouped sketch form:
    k-bounded state per group via WindowGroupLimit, exact below k
    (operators.sketches.kmv_distinct_by_group)."""
    from door2door_etl_spark.operators.sketches import kmv_distinct_by_group

    ev = load_table(spark, sf, "events")
    return kmv_distinct_by_group(ev, "event_type", "user_id", k=64)


SQL_KMV_DISTINCT_BY_TYPE = f"""
WITH hashed AS (
  SELECT DISTINCT event_type, {sql_uniform_hash('user_id', 'kmv')} AS u FROM events
), ranked AS (
  SELECT event_type, u,
         row_number() OVER (PARTITION BY event_type ORDER BY u) AS rn
  FROM hashed)
SELECT event_type,
  CASE WHEN count(*) >= 64 THEN round(63.0 / max(u), 4)
       ELSE CAST(count(*) AS DOUBLE) END AS est_distinct
FROM ranked WHERE rn <= 64 GROUP BY event_type
"""


def q_kmv_sketch_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Mergeable-sketch rollup: per-(event_type, day) KMV sketches merged
    up to event_type (operators.sketches.kmv_sketch_table /
    kmv_merge_estimate).  KMV merge is exact, so this shares
    SQL_KMV_DISTINCT_BY_TYPE verbatim with the direct-pass query — the
    oracle pins that rolling up persisted daily sketches loses nothing vs
    rescanning the raw events."""
    from door2door_etl_spark.operators.sketches import (
        kmv_merge_estimate,
        kmv_sketch_table,
    )

    ev = load_table(spark, sf, "events").withColumn("day", F.to_date("ts"))
    daily = kmv_sketch_table(ev, ["event_type", "day"], "user_id", k=64)
    return kmv_merge_estimate(daily, ["event_type"], k=64)


def q_kmv_set_overlap(spark: SparkSession, sf: str) -> DataFrame:
    """KMV set algebra (Beyer et al. SIGMOD 2007): pairwise distinct-user
    Jaccard/union/intersection estimates between event types, computed
    from the stored sketches alone — the set operation HLL registers
    cannot express (operators.sketches.kmv_sketch_table +
    kmv_set_overlap; sketch self-join is broadcast, base data scanned
    once to build sketches)."""
    from door2door_etl_spark.operators.sketches import (
        kmv_set_overlap,
        kmv_sketch_table,
    )

    ev = load_table(spark, sf, "events")
    sk = kmv_sketch_table(ev, ["event_type"], "user_id", k=64)
    return kmv_set_overlap(sk, "event_type", k=64)


SQL_KMV_SET_OVERLAP = f"""
WITH hashed AS (
  SELECT DISTINCT event_type, {sql_uniform_hash('user_id', 'kmv')} AS u
  FROM events
), ranked AS (
  SELECT event_type, u,
         row_number() OVER (PARTITION BY event_type ORDER BY u) AS rn
  FROM hashed
), sk AS (
  SELECT event_type, list_sort(list(u)) AS sketch
  FROM ranked WHERE rn <= 64 GROUP BY event_type
), paired AS (
  SELECT a.event_type AS group_a, b.event_type AS group_b,
         list_sort(list_distinct(list_concat(a.sketch, b.sketch)))[1:64]
           AS l,
         len(list_intersect(
           list_sort(list_distinct(list_concat(a.sketch, b.sketch)))[1:64],
           list_intersect(a.sketch, b.sketch))) AS in_both
  FROM sk a JOIN sk b ON a.event_type < b.event_type
), est AS (
  SELECT group_a, group_b, in_both, len(l) AS nl,
         CASE WHEN len(l) >= 64 THEN 63.0 / l[len(l)]
              ELSE CAST(len(l) AS DOUBLE) END AS union_raw
  FROM paired)
SELECT group_a, group_b,
       round(CAST(in_both AS DOUBLE) / nl, 4) AS jaccard_est,
       round(union_raw, 4) AS union_est,
       round(CAST(in_both AS DOUBLE) / nl * union_raw, 4)
         AS intersection_est
FROM est
"""


def q_hash_sample_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic 10% Bernoulli document sample by key hash —
    reproducible across engines/reruns/partitionings, unlike df.sample
    (operators.sketches.hash_sample)."""
    docs = load_table(spark, sf, "documents")
    return hash_sample(docs, "doc_id", 0.1).select("doc_id", "lang", "n_chars")


SQL_HASH_SAMPLE_DOCS = f"""
SELECT doc_id, lang, n_chars FROM documents
WHERE {sql_uniform_hash('doc_id', 'sample')} < 0.1
"""


_SPLITS = [("train", 0.8), ("val", 0.1), ("test", 0.1)]


def q_stratified_split_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Reproducible train/val/test split of the corpus, summarized per
    (split, lang) — the leakage-proof split every training pipeline needs
    (operators.sketches.stratified_split)."""
    docs = load_table(spark, sf, "documents")
    return (
        stratified_split(docs, "doc_id", _SPLITS)
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


def _sql_stratified_split_counts() -> str:
    # Thresholds rendered from the same Python floats the Spark side folds
    # in (0.8 + 0.1 != 0.9 in binary), so the CASE boundaries are
    # bit-identical across engines.
    u = sql_uniform_hash("doc_id", "split")
    t1, t2 = _SPLITS[0][1], _SPLITS[0][1] + _SPLITS[1][1]
    return f"""
SELECT CASE WHEN {u} < {t1!r} THEN 'train'
            WHEN {u} < {t2!r} THEN 'val'
            ELSE 'test' END AS split,
       lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY 1, 2
"""


def q_pivot_event_weekday(spark: SparkSession, sf: str) -> DataFrame:
    """Pivot (long→wide): event counts as a weekday × event-type matrix
    via DataFrame.pivot with an explicit value list (no extra pass to
    discover pivot values — required form at 100 TB)."""
    ev = load_table(spark, sf, "events")
    return (
        ev.groupBy(F.dayofweek("ts").alias("weekday"))
        .pivot("event_type", EVENT_TYPES)
        .agg(F.count(F.lit(1)))
        .na.fill(0, EVENT_TYPES)
    )


SQL_PIVOT_EVENT_WEEKDAY = """
SELECT CAST(dayofweek(ts) + 1 AS INT) AS weekday,
       count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
       count(CASE WHEN event_type = 'view' THEN 1 END) AS view,
       count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
       count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
       count(CASE WHEN event_type = 'error' THEN 1 END) AS error
FROM events GROUP BY 1
"""


def q_rolling_7d_user_value(spark: SparkSession, sf: str) -> DataFrame:
    """Rolling 7-day value sum per user: daily pre-aggregate, then a
    RANGE window frame over day numbers.  Exact-decimal accumulation in
    the frame keeps the rolling sum order-independent."""
    ev = load_table(spark, sf, "events")
    daynum = F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
    daily = ev.groupBy(F.col("user_id"), daynum.alias("daynum")).agg(
        dsum(F.col("value")).alias("day_value")
    )
    w = Window.partitionBy("user_id").orderBy("daynum").rangeBetween(-6, 0)
    rolling = F.round(
        F.sum(F.col("day_value").cast("decimal(20,6)")).over(w).cast("double"), 2
    )
    return daily.withColumn("rolling_7d_value", rolling)


SQL_ROLLING_7D_USER_VALUE = """
WITH daily AS (
  SELECT user_id,
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS daynum,
         round(CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE), 2) AS day_value
  FROM events GROUP BY 1, 2
)
SELECT user_id, daynum, day_value,
  round(CAST(sum(CAST(day_value AS DECIMAL(20,6))) OVER (
    PARTITION BY user_id ORDER BY daynum
    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE), 2)
    AS rolling_7d_value
FROM daily
"""


def q_sliding_window_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Native sliding windows: 1-hour windows every 30 minutes via
    ``F.window(ts, '1 hour', '30 minutes')`` — each event lands in exactly
    two windows.  The oracle replicates window assignment arithmetically
    (integer µs division), proving the built-in's bucketing."""
    ev = load_table(spark, sf, "events")
    w = F.window(F.col("ts"), "1 hour", "30 minutes")
    return ev.groupBy(w.alias("w")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    ).select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        "n_events",
        "n_users",
    )


SQL_SLIDING_WINDOW_COUNTS = """
WITH assigned AS (
  SELECT user_id,
         make_timestamp(((epoch_us(ts) // 1800000000) - j) * 1800000000)
           AS window_start
  FROM events CROSS JOIN (SELECT unnest([0, 1]) AS j)
)
SELECT window_start, window_start + INTERVAL 1 HOUR AS window_end,
       count(*) AS n_events, count(DISTINCT user_id) AS n_users
FROM assigned GROUP BY 1
"""


def q_session_window_agg(spark: SparkSession, sf: str) -> DataFrame:
    """Native data-driven session windows (``F.session_window``, 30-min
    gap): per-user sessions with extent and size.  Spark merges an event
    into the open session when gap <= 30 min and closes at last+gap; the
    oracle reproduces exactly that with a lag + running-sum sessionizer."""
    ev = load_table(spark, sf, "events")
    sw = F.session_window(F.col("ts"), "30 minutes")
    return ev.groupBy("user_id", sw.alias("w")).agg(
        F.count(F.lit(1)).alias("n_events")
    ).select(
        "user_id",
        F.col("w.start").alias("session_start"),
        F.col("w.end").alias("session_end"),
        "n_events",
    )


SQL_SESSION_WINDOW_AGG = """
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), sess AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seq
  FROM flagged
)
SELECT user_id, min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       count(*) AS n_events
FROM sess GROUP BY user_id, seq
"""


def q_tfidf_top_term(spark: SparkSession, sf: str) -> DataFrame:
    """TF-IDF: the most characteristic token per document.  Term
    frequencies are computed IN-ROW (sorted token array → run-length
    encoding via ``get()``-guarded index arithmetic), so the (doc,
    token, tf) relation emerges straight from each document row with
    ZERO shuffle — the r11 audit's residual growth term was the
    token-OCCURRENCE-level exchange (one row per occurrence, the
    widest relation in the old explode→groupBy plan), which this
    removes entirely.  doc_freq stays derived FROM the tf relation
    (one row per (doc, token) — the r10 finding), n_docs broadcasts,
    and the only remaining full-width exchanges are the per-token df
    join and the per-doc top-1 window, both on the compact tf
    relation.  Rounded sort key so cross-engine float ulps cannot
    flip ties."""
    docs = load_table(spark, sf, "documents")
    from door2door_etl_spark.operators.text import tokens

    # arr and starts are BOUND AS COLUMNS before any lambda references
    # them: Catalyst does not CSE through HOF lambda bodies, so inlining
    # would re-sort the token array per run element (the ABTT lesson)
    arr_col = F.array_sort(tokens(F.col("text")))
    with_arr = docs.select("doc_id", arr_col.alias("_arr"))
    # run starts: positions whose token differs from its predecessor
    # (get() is 0-based and NULL-safe out of bounds, so no ANSI trap)
    starts_col = F.filter(
        F.transform(
            F.col("_arr"), lambda x, i: F.struct(x.alias("token"), i.alias("s"))
        ),
        lambda p: (p["s"] == 0)
        | (F.get(F.col("_arr"), p["s"] - 1) != p["token"]),
    )
    with_starts = with_arr.select(
        "doc_id", F.size("_arr").alias("_n"), starts_col.alias("_starts")
    )
    tf_pairs = F.transform(
        F.col("_starts"),
        lambda p, j: F.struct(
            p["token"].alias("token"),
            (
                F.coalesce(F.get(F.col("_starts"), j + 1)["s"], F.col("_n"))
                - p["s"]
            ).cast("long").alias("tf"),
        ),
    )
    tf = with_starts.select(
        "doc_id", F.explode(tf_pairs).alias("p")
    ).select("doc_id", F.col("p.token").alias("token"), F.col("p.tf").alias("tf"))
    # doc_freq needs only DISTINCT tokens per doc — array_distinct on
    # the raw token array (no sort, no RLE) feeds its own scan branch;
    # exactly one row per (doc, token) reaches the count, same relation
    # the tf-derived aggregate saw
    dfreq = (
        docs.select(
            F.explode(F.array_distinct(tokens(F.col("text")))).alias("token")
        )
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * (
                    F.log((F.col("n_docs") + 1.0) / (F.col("doc_freq") + 1.0))
                    + F.lit(1.0)
                ),
                6,
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.col("token"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("doc_id", F.col("token").alias("top_token"), "tfidf")
    )


SQL_TFIDF_TOP_TERM = f"""
WITH tok AS (
  SELECT doc_id, unnest({sql_tokens('text')}) AS token FROM documents
), tf AS (
  SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2
), dfreq AS (
  -- tf is one row per (doc, token) already, so doc_freq is a plain
  -- per-token count of tf (mirrors the Spark side's exchange reuse)
  SELECT token, count(*) AS doc_freq FROM tf GROUP BY 1
), n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.token,
         round(tf.tf * (ln((n.n_docs + 1.0) / (dfreq.doc_freq + 1.0)) + 1.0), 6)
           AS tfidf
  FROM tf JOIN dfreq USING (token) CROSS JOIN n
), ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rk
  FROM scored)
SELECT doc_id, token AS top_token, tfidf FROM ranked WHERE rk = 1
"""


BM25_QUERY = ["window", "vector", "stream"]


def q_bm25_topk(spark: SparkSession, sf: str) -> DataFrame:
    """BM25 ranked retrieval over the documents corpus (operators.text
    .bm25_topk): postings filtered to the query's terms before any
    shuffle, doc-frequency and corpus scalars broadcast, final ranking a
    TakeOrderedAndProject — classic IR serving re-expressed Spark-first."""
    from door2door_etl_spark.operators.text import bm25_topk

    docs = load_table(spark, sf, "documents")
    return bm25_topk(docs, BM25_QUERY, k=10)


_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in BM25_QUERY)

_BM25_CTES = f"""base AS (
  SELECT doc_id, {sql_tokens('text')} AS toks FROM documents
), tok AS (
  SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM base
), tf AS (
  SELECT doc_id, term, count(*) AS tf, min(dl) AS dl
  FROM tok WHERE term IN ({_BM25_TERMS_SQL}) GROUP BY 1, 2
), dfreq AS (
  SELECT term, count(*) AS df_t FROM tf GROUP BY 1
), stats AS (
  SELECT count(*) AS n_docs, avg(len(toks)) AS avgdl FROM base
), bm25_scored AS (
  SELECT tf.doc_id,
         ln(1.0 + (stats.n_docs - dfreq.df_t + 0.5) / (dfreq.df_t + 0.5))
           * (tf.tf * 2.2)
           / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / stats.avgdl)) AS w
  FROM tf JOIN dfreq USING (term) CROSS JOIN stats
)"""

SQL_BM25_TOPK = f"""
WITH {_BM25_CTES}
SELECT doc_id, round(sum(w), 6) AS score
FROM bm25_scored GROUP BY doc_id
ORDER BY score DESC, doc_id LIMIT 10
"""


def q_bm25_indexed_topk(spark: SparkSession, sf: str) -> DataFrame:
    """The SAME BM25 ranking served from the manifest inverted index
    (operators.search.ManifestBM25Index): postings + corpus-stat deltas
    committed atomically at build, per-term pruned postings reads at
    probe (term stats + bloom bitmaps).  Sharing ns_bm25_topk's oracle
    pins that the indexed serving path cannot drift the scoring."""
    import os
    import shutil
    import tempfile

    from door2door_etl_spark.operators.search import ManifestBM25Index

    docs = load_table(spark, sf, "documents")
    root = os.path.join(
        # per-process suffix: concurrent sweeps (sf0.01 + sf1) must not
        # clobber each other's fixture tables
        tempfile.gettempdir(), f"ns_bm25_index_{os.getpid()}"
    )
    shutil.rmtree(root, ignore_errors=True)
    idx = ManifestBM25Index(spark, root)
    idx.build(docs)
    return idx.topk(BM25_QUERY, k=10)


BM25_REMOVE_MOD = 7


def q_bm25_removal_topk(spark: SparkSession, sf: str) -> DataFrame:
    """BM25 serving AFTER document removal: the index is built over the
    full corpus, then every ``doc_id % BM25_REMOVE_MOD == 0`` doc is removed
    (one atomic tombstone + negative-stat commit,
    operators.search.ManifestBM25Index.remove), and the query is served
    MERGE-ON-READ — tombstones anti-joined out of the postings, folded
    stats already carrying the negative deltas.  The oracle scores the
    surviving corpus directly, pinning that a deleted doc stops being
    served AND stops distorting df/idf/avgdl."""
    import os
    import shutil
    import tempfile

    from door2door_etl_spark.operators.search import ManifestBM25Index

    docs = load_table(spark, sf, "documents")
    root = os.path.join(
        # per-process suffix: concurrent sweeps (sf0.01 + sf1) must not
        # clobber each other's fixture tables
        tempfile.gettempdir(), f"ns_bm25_index_rm_{os.getpid()}"
    )
    shutil.rmtree(root, ignore_errors=True)
    idx = ManifestBM25Index(spark, root)
    idx.build(docs)
    idx.remove(
        docs.filter(F.col("doc_id") % BM25_REMOVE_MOD == 0).select("doc_id")
    )
    return idx.topk(BM25_QUERY, k=10)


SQL_BM25_REMOVAL_TOPK = f"""
WITH surviving AS (
  SELECT * FROM documents WHERE doc_id % {BM25_REMOVE_MOD} != 0),
{_BM25_CTES.replace("FROM documents", "FROM surviving")}
SELECT doc_id, round(sum(w), 6) AS score
FROM bm25_scored GROUP BY doc_id
ORDER BY score DESC, doc_id LIMIT 10
"""


HYBRID_QUERY_ID = 42
HYBRID_POOL = 20  # per-retriever candidate list size
HYBRID_K = 10
HYBRID_C = 60


def q_hybrid_rrf_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Hybrid retrieval: BM25 over documents + exact dense cosine over
    embeddings (shared id space), fused with Reciprocal Rank Fusion
    (operators.similarity.rrf_fuse).  Both retrieval lists are bounded
    top-N with deterministic rounded-score/id orderings, so the windowed
    rank assignment runs over N rows, not the corpus."""
    from door2door_etl_spark.operators.similarity import brute_force_topk, rrf_fuse
    from door2door_etl_spark.operators.text import bm25_topk

    docs = load_table(spark, sf, "documents")
    emb = load_table(spark, sf, "embeddings")
    sparse = bm25_topk(docs, BM25_QUERY, k=HYBRID_POOL)
    sparse = sparse.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.desc("score"), F.col("doc_id"))),
    ).select("doc_id", "rank")
    dense = brute_force_topk(emb, query_id=HYBRID_QUERY_ID, k=HYBRID_POOL)
    dense = dense.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.desc("cosine"), F.col("vec_id"))),
    ).select(F.col("vec_id").alias("doc_id"), "rank")
    return rrf_fuse([sparse, dense], id_col="doc_id", k=HYBRID_K, c=HYBRID_C)


def _sql_hybrid_rrf_topk() -> str:
    from door2door_etl_spark.queries.sql_fragments import sql_cosine

    cos = sql_cosine("e.embedding", "q.qvec")
    return f"""
WITH {_BM25_CTES},
bm AS (
  SELECT doc_id, round(sum(w), 6) AS score
  FROM bm25_scored GROUP BY doc_id
  ORDER BY score DESC, doc_id LIMIT {HYBRID_POOL}
), bmr AS (
  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank
  FROM bm
), q AS (
  SELECT embedding AS qvec FROM embeddings WHERE vec_id = {HYBRID_QUERY_ID}
), dn AS (
  SELECT e.vec_id AS doc_id, round({cos}, 6) AS cosine
  FROM embeddings e, q
  WHERE e.vec_id != {HYBRID_QUERY_ID}
  ORDER BY cosine DESC, e.vec_id LIMIT {HYBRID_POOL}
), dnr AS (
  SELECT doc_id, row_number() OVER (ORDER BY cosine DESC, doc_id) AS rank
  FROM dn
), u AS (
  SELECT doc_id, 1.0 / ({HYBRID_C} + rank) AS contrib FROM bmr
  UNION ALL
  SELECT doc_id, 1.0 / ({HYBRID_C} + rank) AS contrib FROM dnr
)
SELECT doc_id, round(sum(contrib), 6) AS rrf_score, count(*) AS n_lists
FROM u GROUP BY doc_id
ORDER BY rrf_score DESC, doc_id LIMIT {HYBRID_K}
"""


SQL_FRONTEND_DIALECT_NEUTRAL = """
SELECT date_trunc('hour', ts) AS hour_start, event_type,
       count(*) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE), 2) AS value_sum,
       count(DISTINCT user_id) AS n_users
FROM events
WHERE event_type IN ('click', 'purchase')
GROUP BY 1, 2
"""


def q_sql_frontend_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """The analyst SQL entry point (SURVEY.md §3.3b: ``spark.sql()`` over
    the warehouse): ONE dialect-neutral ANSI string executed verbatim by
    both Spark SQL and the DuckDB oracle — proving the full Catalyst parse
    → analyze → optimize lifecycle on raw SQL, not just the DataFrame
    DSL."""
    load_table(spark, sf, "events").createOrReplaceTempView("events")
    return spark.sql(SQL_FRONTEND_DIALECT_NEUTRAL)


ANN_MULTI_QUERY_IDS = [0, 1, 2, 3, 4]
ANN_MULTI_K = 5


def q_ann_multiquery_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Batched ANN: exact top-k neighbors for a SET of query vectors in one
    plan — broadcast the query batch, score every (vector, query) pair,
    window top-k per query.  This is the production shape (queries arrive
    in batches, the corpus side streams through once); per-query loops
    would rescan the corpus |Q| times."""
    from door2door_etl_spark.operators.similarity import cosine_similarity

    emb = load_table(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id").isin(ANN_MULTI_QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    scored = (
        emb.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(
                cosine_similarity(F.col("embedding"), F.col("qvec")), 6
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("vec_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= ANN_MULTI_K)
        .select("query_id", "vec_id", "cosine", "rk")
    )


def _sql_ann_multiquery_topk() -> str:
    from door2door_etl_spark.queries.sql_fragments import sql_cosine

    ids = ", ".join(str(i) for i in ANN_MULTI_QUERY_IDS)
    cos = sql_cosine("e.embedding", "q.qvec")
    return f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qvec
  FROM embeddings WHERE vec_id IN ({ids})
), scored AS (
  SELECT q.query_id, e.vec_id, round({cos}, 6) AS cosine
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id != q.query_id
), ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rk
  FROM scored)
SELECT query_id, vec_id, cosine, rk FROM ranked WHERE rk <= {ANN_MULTI_K}
"""


def q_corpus_quality_filter(spark: SparkSession, sf: str) -> DataFrame:
    """Composite pre-training corpus filter: keep documents with enough
    tokens and a plausible stopword rate, report per-source survivor
    stats — the filter stage every LLM data pipeline runs before
    tokenization.  Pure column expressions over the text operators."""
    from door2door_etl_spark.operators.text import stopword_ratio, token_count

    docs = load_table(spark, sf, "documents")
    tc = token_count(F.col("text"))
    kept = docs.filter((tc >= 10) & (stopword_ratio(F.col("text")) >= 0.02))
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.round(
            F.sum(token_count(F.col("text")).cast("decimal(20,6)")).cast("double")
            / F.count(F.lit(1)),
            4,
        ).alias("avg_tokens"),
    )


def _sql_corpus_quality_filter() -> str:
    from door2door_etl_spark.operators.text import LANG_STOPWORDS

    stop_en = ", ".join(f"'{w}'" for w in LANG_STOPWORDS["en"])
    toks = sql_tokens("text")
    return f"""
WITH t AS (
  SELECT source, n_chars, {toks} AS toks FROM documents
), f AS (
  SELECT source, n_chars, len(toks) AS tc,
         len(list_filter(toks, t2 -> t2 IN ({stop_en}))) AS stop_hits
  FROM t)
SELECT source, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       round(CAST(sum(CAST(tc AS DECIMAL(20,6))) AS DOUBLE) / count(*), 4)
         AS avg_tokens
FROM f
WHERE tc >= 10 AND CAST(stop_hits AS DOUBLE) / tc >= 0.02
GROUP BY 1
"""


WSAMPLE_K = 50


def q_weighted_sample_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis–Spirakis A-ES):
    priority = -ln(u(key)) / weight, keep the K smallest — inclusion
    probability proportional to weight (n_chars), one pass, deterministic
    via the portable hash (no RNG), mergeable across partitions (the
    distributed-sampling property)."""
    from door2door_etl_spark.operators.sketches import uniform_hash

    docs = load_table(spark, sf, "documents")
    priority = F.round(
        -F.log(uniform_hash(F.col("doc_id"), "wsample")) / F.col("n_chars"), 10
    )
    return (
        docs.select("doc_id", "n_chars", priority.alias("priority"))
        .orderBy("priority", "doc_id")
        .limit(WSAMPLE_K)
    )


def _sql_weighted_sample_topk() -> str:
    u = sql_uniform_hash("doc_id", "wsample")
    return f"""
SELECT doc_id, n_chars, round(-ln({u}) / n_chars, 10) AS priority
FROM documents
ORDER BY priority, doc_id
LIMIT {WSAMPLE_K}
"""


_MIX_SHARES = {"src0": 0.5, "src1": 0.3, "src2": 0.2}


def q_domain_mix_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Domain-mixing sampler: downsample sources to a 50/30/20 target mix at
    the maximum feasible size (operators.sketches.quota_mix_sample) — the
    mixture-reweighting step of a pretraining-data pipeline, as one
    map-side filter under broadcast per-group rates."""
    docs = load_table(spark, sf, "documents")
    return quota_mix_sample(docs, "source", "doc_id", _MIX_SHARES).select(
        "doc_id", "source"
    )


def _sql_domain_mix_sample() -> str:
    u = sql_uniform_hash("doc_id", "quota")
    values = ", ".join(f"('{g}', {p!r})" for g, p in sorted(_MIX_SHARES.items()))
    in_list = ", ".join(f"'{g}'" for g in sorted(_MIX_SHARES))
    return f"""
WITH shares AS (SELECT * FROM (VALUES {values}) AS v(grp, p)),
counts AS (
  SELECT source AS grp, CAST(count(*) AS DOUBLE) AS n
  FROM documents WHERE source IN ({in_list}) GROUP BY 1),
j AS (SELECT grp, p, n, n / p AS ratio FROM counts JOIN shares USING (grp)),
rates AS (
  SELECT grp, least(1.0, p * (SELECT min(ratio) FROM j) / n) AS rate FROM j)
SELECT doc_id, source
FROM documents JOIN rates ON source = grp
WHERE {u} < rate
"""


def q_cdc_agg_view(spark: SparkSession, sf: str) -> DataFrame:
    """CDC-maintained aggregate view, end-to-end through the lakehouse
    commit protocol (pipeline.aggview.IncrementalAggView): seed a
    versioned table from a deterministic subset of ``orders``, apply a
    second wave of inserts (keys %3==0), group-moving updates (%7==0 →
    status 'U', n_chars +4), and deletes (%11==0), then advance the
    view INCREMENTALLY from the change feed — never rescanning groups the
    window didn't touch.  The oracle reproduces the identical final state
    in plain SQL, so a hash match proves the counting-algorithm delta path
    (not a hidden full recompute) converges exactly.  Sums are over an
    integer-valued column, so double accumulation is order-exact."""
    import os
    import shutil
    import tempfile

    from door2door_etl_spark.io.manifest import delete_manifest, merge_manifest
    from door2door_etl_spark.pipeline.aggview import IncrementalAggView

    k = F.col("o_orderkey")
    orders = load_table(spark, sf, "orders").select(
        k.cast("string").alias("okey"),
        k.alias("_k"),
        F.col("o_orderstatus").alias("status"),
        F.length("o_orderpriority").cast("double").alias("n_chars"),
    )
    # okey doubles as a payload column so the view can keep a SECOND
    # distinct column with per-group cardinality >> distinct_exact_k —
    # the overflow + delete-recompute regime of the delete-aware ledger
    # (n_chars stays under the cap: the exact-ledger regime)
    root = os.path.join(
        # per-process suffix: concurrent sweeps (sf0.01 + sf1) must not
        # clobber each other's fixture tables
        tempfile.gettempdir(), f"ns_cdc_agg_view_{os.getpid()}"
    )
    shutil.rmtree(root, ignore_errors=True)
    src = os.path.join(root, "src")
    cols = ["okey", "status", "n_chars"]

    merge_manifest(
        spark, src, orders.filter(F.col("_k") % 3 != 0).select(*cols), key="okey"
    )
    view = IncrementalAggView(
        source_root=src,
        view_root=os.path.join(root, "view"),
        key="okey",
        group_cols=["status"],
        sum_cols=["n_chars"],
        minmax_cols=["n_chars"],
        avg_cols=["n_chars"],
        distinct_cols=["n_chars", "okey"],
    )
    if view.refresh(spark)["action"] != "seed":
        raise RuntimeError("cdc_agg_view: expected seed on first refresh")

    inserts = orders.filter(F.col("_k") % 3 == 0)
    updates = (
        orders.filter((F.col("_k") % 7 == 0) & (F.col("_k") % 3 != 0))
        .withColumn("status", F.lit("U"))
        .withColumn("n_chars", F.col("n_chars") + 4)
    )
    merge_manifest(
        spark, src, inserts.unionByName(updates).select(*cols), key="okey"
    )
    delete_manifest(
        spark,
        src,
        orders.filter((F.col("_k") % 11 == 0) & (F.col("_k") % 3 != 0)).select("okey"),
        key="okey",
    )
    if view.refresh(spark)["action"] != "delta":
        raise RuntimeError("cdc_agg_view: expected an incremental delta window")
    return view.read(spark)


_SCD_T1 = "2024-01-01 00:00:00"
_SCD_T2 = "2024-02-01 00:00:00"


def q_scd2_dimension(spark: SparkSession, sf: str) -> DataFrame:
    """SCD2 dimension MAINTENANCE end-to-end (pipeline.scd.scd2_merge):
    seed a customer-like dimension from a deterministic subset of
    ``orders`` (keys %3!=0, tracked = status + priority length), then
    apply a second FULL SNAPSHOT wave — inserts (%3==0), tracked-attr
    changes (%7!=deleted -> status 'U', n_chars+4), and member removals
    (%11, closed without replacement).  The oracle reproduces the exact
    interval table (valid_from / valid_to / is_current) in plain SQL
    from the same wave definitions, so a hash match proves the merge
    classified every key correctly and never rewrote untouched history."""
    import os
    import shutil
    import tempfile

    from door2door_etl_spark.pipeline.scd import read_dim, scd2_merge

    k = F.col("o_orderkey")
    orders = load_table(spark, sf, "orders").select(
        k.cast("string").alias("okey"),
        k.alias("_k"),
        F.col("o_orderstatus").alias("status"),
        F.length("o_orderpriority").cast("double").alias("n_chars"),
    )
    root = os.path.join(
        # per-process suffix: concurrent sweeps must not clobber fixtures
        tempfile.gettempdir(), f"ns_scd2_dimension_{os.getpid()}"
    )
    shutil.rmtree(root, ignore_errors=True)
    dim = os.path.join(root, "dim")

    wave1 = orders.filter(F.col("_k") % 3 != 0)
    scd2_merge(
        spark, dim, wave1.select("okey", "status", "n_chars"),
        key="okey", tracked_cols=["status", "n_chars"], effective_ts=_SCD_T1,
    )
    # wave 2 = the final member set: %3==0 joins, %7 (surviving) changes,
    # %11 leaves
    wave2 = (
        orders.filter(~((F.col("_k") % 11 == 0) & (F.col("_k") % 3 != 0)))
        .withColumn(
            "status",
            F.when(
                (F.col("_k") % 7 == 0) & (F.col("_k") % 3 != 0), F.lit("U")
            ).otherwise(F.col("status")),
        )
        .withColumn(
            "n_chars",
            F.when(
                (F.col("_k") % 7 == 0) & (F.col("_k") % 3 != 0),
                F.col("n_chars") + 4,
            ).otherwise(F.col("n_chars")),
        )
    )
    scd2_merge(
        spark, dim, wave2.select("okey", "status", "n_chars"),
        key="okey", tracked_cols=["status", "n_chars"], effective_ts=_SCD_T2,
        full_snapshot=True,
    )
    return read_dim(spark, dim)


SQL_SCD2_DIMENSION = f"""
WITH base AS (
  SELECT CAST(o_orderkey AS VARCHAR) AS okey, o_orderkey AS k,
         o_orderstatus AS status,
         CAST(length(o_orderpriority) AS DOUBLE) AS n_chars
  FROM orders),
t AS (SELECT TIMESTAMP '{_SCD_T1}' AS t1, TIMESTAMP '{_SCD_T2}' AS t2)
-- unchanged members (in both waves, attrs equal): one open interval
SELECT okey, status, n_chars, t1 AS valid_from,
       CAST(NULL AS TIMESTAMP) AS valid_to, TRUE AS is_current
FROM base, t
WHERE k % 3 <> 0 AND NOT (k % 11 = 0) AND NOT (k % 7 = 0)
UNION ALL
-- changed members: the closed first interval...
SELECT okey, status, n_chars, t1, t2, FALSE
FROM base, t
WHERE k % 3 <> 0 AND k % 7 = 0 AND NOT (k % 11 = 0)
UNION ALL
-- ...and its open successor with the new attributes
SELECT okey, 'U', n_chars + 4, t2, NULL, TRUE
FROM base, t
WHERE k % 3 <> 0 AND k % 7 = 0 AND NOT (k % 11 = 0)
UNION ALL
-- removed members: closed without replacement
SELECT okey, status, n_chars, t1, t2, FALSE
FROM base, t
WHERE k % 3 <> 0 AND k % 11 = 0
UNION ALL
-- joiners: open interval from wave 2
SELECT okey, status, n_chars, t2, NULL, TRUE
FROM base, t
WHERE k % 3 = 0
"""


def q_txn_co_commit(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-table transaction end-to-end (io.txn): two transactions each
    co-commit a corpus MERGE and a stats-ledger APPEND through the
    journaled roll-forward protocol, then the result joins the LIVE
    corpus against the SUMMED ledger per source — stat rows exist iff
    their corpus batch landed, so a hash match against a twin computed
    straight from ``documents`` proves both tables converged and nothing
    double-applied (a replayed append would double n_docs_ledger).  A
    final recover() pass must be a no-op."""
    import os
    import shutil
    import tempfile

    from door2door_etl_spark.io.txn import MultiTableTransaction, TxnOp, recover

    from door2door_etl_spark.io.txn import LakeEpoch

    docs = load_table(spark, sf, "documents").select(
        "doc_id", "source", F.col("n_chars").cast("long").alias("n_chars")
    )
    root = os.path.join(
        # per-process suffix: concurrent sweeps (sf0.01 + sf1) must not
        # clobber each other's fixture tables
        tempfile.gettempdir(), f"ns_txn_co_commit_{os.getpid()}"
    )
    shutil.rmtree(root, ignore_errors=True)
    corpus, stats = os.path.join(root, "corpus"), os.path.join(root, "stats")
    journal = os.path.join(root, "journal")
    # reads below resolve through the epoch pointer: each txn's tables
    # flip visible together (cross-table snapshot isolation, round 9)
    epoch = LakeEpoch(os.path.join(root, "epoch"))
    txn = MultiTableTransaction(journal, epoch=epoch)

    def stat_rows(batch):
        return batch.groupBy("source").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )

    wave1 = docs.filter(F.col("doc_id") % 5 != 0)
    wave2 = docs.filter(F.col("doc_id") % 5 == 0)
    for wave in (wave1, wave2):
        txn.run(spark, [
            TxnOp("merge", corpus, payload=wave, key="doc_id"),
            TxnOp("append", stats, payload=stat_rows(wave)),
        ])
    if recover(spark, journal):
        raise RuntimeError("txn_co_commit: recover() re-ran a committed txn")

    live = (
        epoch.read_table(spark, corpus)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs_live"))
    )
    ledger = (
        epoch.read_table(spark, stats)
        .groupBy("source")
        .agg(
            F.sum("n_docs").alias("n_docs_ledger"),
            F.sum("sum_chars").alias("sum_chars_ledger"),
        )
    )
    return live.join(ledger, "source").orderBy("source")


SQL_TXN_CO_COMMIT = """
SELECT source,
       count(*) AS n_docs_live,
       count(*) AS n_docs_ledger,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars_ledger
FROM documents
GROUP BY source
ORDER BY source
"""


def q_expectations_report(spark: SparkSession, sf: str) -> DataFrame:
    """Declared data-quality contract audited in ONE pass
    (pipeline.expectations): three row-local rules (range, category,
    late-landing window) evaluate as codegen'd boolean projections —
    tagging costs one array column, not one scan per rule — plus the one
    legitimately-shuffling rule (key uniqueness, checked via a
    count-per-key aggregate whose duplicate-key relation broadcasts
    back).  Output is the per-rule metrics frame.  The reference has no
    declared contract at all — quality rules live implicitly in skipped
    lines (src/etl/handler.py:37-40); this is that posture inverted."""
    from door2door_etl_spark.pipeline.expectations import (
        Expectation,
        ExpectationSuite,
        UniqueExpectation,
    )

    events = load_table(spark, sf, "events")
    suite = ExpectationSuite(
        rules=[
            Expectation("value_in_range", "value >= 0 AND value <= 50"),
            Expectation("no_error_events", "event_type <> 'error'", mode="warn"),
            Expectation(
                "ts_in_window",
                "ts < TIMESTAMP '2024-01-29 00:00:00'",
                mode="drop",
            ),
        ],
        unique_rules=[
            UniqueExpectation("user_event_unique", ("user_id", "event_type"))
        ],
    )
    return suite.metrics(suite.tag(events)).orderBy("rule")


SQL_EXPECTATIONS_REPORT = """
WITH t AS (SELECT count(*) AS n_rows FROM events),
v AS (
  SELECT 'value_in_range' AS rule, 'quarantine' AS mode,
         CAST(sum(CASE WHEN value >= 0 AND value <= 50 THEN 0 ELSE 1 END)
              AS BIGINT) AS n_violations
  FROM events
  UNION ALL
  SELECT 'no_error_events', 'warn',
         CAST(sum(CASE WHEN event_type <> 'error' THEN 0 ELSE 1 END) AS BIGINT)
  FROM events
  UNION ALL
  SELECT 'ts_in_window', 'drop',
         CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-29 00:00:00'
                       THEN 0 ELSE 1 END) AS BIGINT)
  FROM events
  UNION ALL
  SELECT 'user_event_unique', 'quarantine',
         CAST(coalesce((
           SELECT sum(c) FROM (
             SELECT count(*) AS c FROM events
             GROUP BY user_id, event_type HAVING count(*) > 1)), 0) AS BIGINT))
SELECT rule, mode, n_violations, t.n_rows,
       round(1.0 - CAST(n_violations AS DOUBLE) / t.n_rows, 6) AS pass_rate
FROM v CROSS JOIN t
ORDER BY rule
"""


def q_aggview_rollup_serving(spark: SparkSession, sf: str) -> DataFrame:
    """Materialized-view QUERY REWRITING: a fine-grain CDC-maintained view
    (GROUP BY status, prio) answers the coarser ``GROUP BY status`` query
    purely from its own state — SUM of sums, AVG from the stored
    (sum, cnt) pair, MIN/MAX of bounds, distinct via element-wise
    MAX-merge of the per-group HLL registers — never rescanning the
    source (the serving plan reads O(fine groups) view rows; at 100 TB
    that is the entire point of maintaining the view).  The oracle
    recomputes the coarse aggregate from the final snapshot in plain SQL
    and rebuilds the register max-merge from the ever-inserted stream
    restricted to live fine groups (the view's documented HLL retraction
    contract), so a hash match proves rollup serving is exactly the
    fine-grain state re-aggregated."""
    import os
    import shutil
    import tempfile

    from door2door_etl_spark.io.manifest import delete_manifest, merge_manifest
    from door2door_etl_spark.pipeline.aggview import IncrementalAggView

    k = F.col("o_orderkey")
    orders = load_table(spark, sf, "orders").select(
        k.cast("string").alias("okey"),
        k.alias("_k"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderpriority").alias("prio"),
        F.length("o_orderpriority").cast("double").alias("n_chars"),
    )
    root = os.path.join(
        # per-process suffix: concurrent sweeps (sf0.01 + sf1) must not
        # clobber each other's fixture tables
        tempfile.gettempdir(), f"ns_aggview_rollup_serving_{os.getpid()}"
    )
    shutil.rmtree(root, ignore_errors=True)
    src = os.path.join(root, "src")
    cols = ["okey", "status", "prio", "n_chars"]

    merge_manifest(
        spark, src, orders.filter(F.col("_k") % 3 != 0).select(*cols), key="okey"
    )
    view = IncrementalAggView(
        source_root=src,
        view_root=os.path.join(root, "view"),
        key="okey",
        group_cols=["status", "prio"],
        sum_cols=["n_chars"],
        avg_cols=["n_chars"],
        minmax_cols=["n_chars"],
        distinct_cols=["n_chars"],
    )
    if view.refresh(spark)["action"] != "seed":
        raise RuntimeError("rollup_serving: expected seed on first refresh")
    inserts = orders.filter(F.col("_k") % 3 == 0)
    updates = (
        orders.filter((F.col("_k") % 7 == 0) & (F.col("_k") % 3 != 0))
        .withColumn("status", F.lit("U"))
        .withColumn("n_chars", F.col("n_chars") + 4)
    )
    merge_manifest(
        spark, src, inserts.unionByName(updates).select(*cols), key="okey"
    )
    delete_manifest(
        spark,
        src,
        orders.filter((F.col("_k") % 11 == 0) & (F.col("_k") % 3 != 0)).select("okey"),
        key="okey",
    )
    if view.refresh(spark)["action"] != "delta":
        raise RuntimeError("rollup_serving: expected an incremental delta window")
    return view.serve_rollup(spark, ["status"])


# Delete-aware distinct (round 9): every fine (status, prio) group holds
# 1-2 distinct n_chars values — far under the exact-ledger cap — so the
# rolled estimate is the EXACT live distinct count per status (serving
# counts distinct ledger keys across fine groups).
SQL_AGGVIEW_ROLLUP_SERVING = """
WITH final AS (
  SELECT CASE WHEN o_orderkey % 7 = 0 AND o_orderkey % 3 <> 0
              THEN 'U' ELSE o_orderstatus END AS status,
         o_orderpriority AS prio,
         CAST(length(o_orderpriority)
              + CASE WHEN o_orderkey % 7 = 0 AND o_orderkey % 3 <> 0
                     THEN 4 ELSE 0 END AS DOUBLE) AS n_chars
  FROM orders
  WHERE NOT (o_orderkey % 11 = 0 AND o_orderkey % 3 <> 0))
SELECT status, count(*) AS n_rows,
       CAST(sum(n_chars) AS DOUBLE) AS sum_n_chars,
       round(CAST(sum(n_chars) AS DOUBLE) / count(n_chars), 6)
         AS avg_n_chars,
       min(n_chars) AS min_n_chars, max(n_chars) AS max_n_chars,
       round(CAST(count(DISTINCT n_chars) AS DOUBLE), 4)
         AS distinct_est_n_chars
FROM final GROUP BY 1
"""


def q_cdc_hdr_quantiles(spark: SparkSession, sf: str) -> DataFrame:
    """Quantiles served from MAINTAINED view state: the same CDC wave as
    ns_cdc_agg_view drives a view whose per-group HDR bin map is kept by
    signed deltas (pipeline.aggview hdr_cols — bin counts SUM-merge, so
    deletes retract EXACTLY, unlike the HLL distinct registers), then
    p50/p90 are computed from the maintained map via read_hdr +
    sketches.hdr_quantiles WITHOUT touching the source.  The oracle
    recomputes the histogram quantiles from the final snapshot directly
    — a hash match proves maintained state == live histogram."""
    import os
    import shutil
    import tempfile

    from door2door_etl_spark.io.manifest import delete_manifest, merge_manifest
    from door2door_etl_spark.operators.sketches import hdr_quantiles
    from door2door_etl_spark.pipeline.aggview import IncrementalAggView

    k = F.col("o_orderkey")
    orders = load_table(spark, sf, "orders").select(
        k.cast("string").alias("okey"),
        k.alias("_k"),
        F.col("o_orderstatus").alias("status"),
        F.length("o_orderpriority").cast("long").alias("n_chars"),
    )
    root = os.path.join(
        # per-process suffix: concurrent sweeps (sf0.01 + sf1) must not
        # clobber each other's fixture tables
        tempfile.gettempdir(), f"ns_cdc_hdr_quantiles_{os.getpid()}"
    )
    shutil.rmtree(root, ignore_errors=True)
    src = os.path.join(root, "src")
    cols = ["okey", "status", "n_chars"]

    merge_manifest(
        spark, src, orders.filter(F.col("_k") % 3 != 0).select(*cols), key="okey"
    )
    view = IncrementalAggView(
        source_root=src,
        view_root=os.path.join(root, "view"),
        key="okey",
        group_cols=["status"],
        hdr_cols=["n_chars"],
    )
    if view.refresh(spark)["action"] != "seed":
        raise RuntimeError("cdc_hdr: expected seed on first refresh")
    inserts = orders.filter(F.col("_k") % 3 == 0)
    updates = (
        orders.filter((F.col("_k") % 7 == 0) & (F.col("_k") % 3 != 0))
        .withColumn("status", F.lit("U"))
        .withColumn("n_chars", F.col("n_chars") + 4)
    )
    merge_manifest(
        spark, src, inserts.unionByName(updates).select(*cols), key="okey"
    )
    delete_manifest(
        spark,
        src,
        orders.filter((F.col("_k") % 11 == 0) & (F.col("_k") % 3 != 0)).select("okey"),
        key="okey",
    )
    if view.refresh(spark)["action"] != "delta":
        raise RuntimeError("cdc_hdr: expected an incremental delta window")
    return hdr_quantiles(
        view.read_hdr(spark, "n_chars"), ["status"], [0.5, 0.9]
    )


def _sql_cdc_hdr_quantiles() -> str:
    s, sub = 4, 16
    lower = (
        f"CASE WHEN {{b}} < {sub} THEN {{b}} "
        f"ELSE ({sub} + {{b}} % {sub}) << (({{b}} // {sub}) - 1) END"
    )
    sels = ", ".join(
        f"CAST({lower.format(b=f'min(CASE WHEN cum >= ceil({q} * n) THEN bin END)')} AS BIGINT) AS q_{int(q * 100)}"
        for q in (0.5, 0.9)
    )
    return f"""
WITH final AS (
  SELECT CASE WHEN o_orderkey % 7 = 0 AND o_orderkey % 3 <> 0
              THEN 'U' ELSE o_orderstatus END AS status,
         CAST(length(o_orderpriority)
              + CASE WHEN o_orderkey % 7 = 0 AND o_orderkey % 3 <> 0
                     THEN 4 ELSE 0 END AS BIGINT) AS v
  FROM orders
  WHERE NOT (o_orderkey % 11 = 0 AND o_orderkey % 3 <> 0)),
b AS (
  SELECT status,
         CASE WHEN greatest(v, 0) < {sub} THEN greatest(v, 0)
              ELSE (length(bin(v)) - 1 - {s}) * {sub}
                   + (v >> (length(bin(v)) - 1 - {s})) END AS bin
  FROM final),
g AS (SELECT status, bin, count(*) AS cnt FROM b GROUP BY 1, 2),
c AS (SELECT status, bin, cnt,
             sum(cnt) OVER (PARTITION BY status ORDER BY bin) AS cum,
             sum(cnt) OVER (PARTITION BY status) AS n
      FROM g)
SELECT status, CAST(any_value(n) AS BIGINT) AS n, {sels}
FROM c GROUP BY status
"""


_CDC_H52_OKEY = sql_h52("okey", "hll")
# HLL geometry twins pipeline/aggview's p=6 constants: wbits=46,
# wspace=2^46, rmax=47, 2^rmax=140737488355328, alpha=0.709, m^2=4096.
# Delete-aware distinct (round 9): n_chars stays under the exact-ledger
# cap, so its estimate IS the live distinct count; okey overflows the
# cap in every group, and because every pre-existing group takes a
# retraction in the wave, its registers are RECOMPUTED from the live
# snapshot (the 'U' group is insert-only, so ever-inserted == live
# there too) — both columns reduce to expressions over the final state.
SQL_CDC_AGG_VIEW = f"""
WITH final AS (
  SELECT CASE WHEN o_orderkey % 7 = 0 AND o_orderkey % 3 <> 0
              THEN 'U' ELSE o_orderstatus END AS status,
         CAST(length(o_orderpriority)
              + CASE WHEN o_orderkey % 7 = 0 AND o_orderkey % 3 <> 0
                     THEN 4 ELSE 0 END AS DOUBLE) AS n_chars,
         CAST(o_orderkey AS VARCHAR) AS okey
  FROM orders
  WHERE NOT (o_orderkey % 11 = 0 AND o_orderkey % 3 <> 0)),
h AS (SELECT status, {_CDC_H52_OKEY} AS h FROM final WHERE okey IS NOT NULL),
br AS (
  SELECT status, CAST(h >> 46 AS INT) AS bucket,
         CAST(CASE WHEN (h % 70368744177664) > 0
                   THEN 47 - length(bin(h % 70368744177664))
                   ELSE 47 END AS INT) AS register
  FROM h),
regs AS (SELECT status, bucket, max(register) AS register FROM br GROUP BY ALL),
hest AS (
  SELECT status, count(*) AS n_used,
         sum(CAST(1 AS BIGINT) << (47 - register)) AS s_present
  FROM regs GROUP BY 1),
est AS (
  SELECT status,
         CASE WHEN (CAST(0.709 AS DOUBLE) * CAST(4096 AS DOUBLE)
                    * CAST(140737488355328 AS DOUBLE))
                   / CAST(s_present + (64 - n_used)
                          * CAST(140737488355328 AS BIGINT) AS DOUBLE)
                   <= 160.0
              AND (64 - n_used) > 0
         THEN round(64.0 * ln(64.0 / CAST(64 - n_used AS DOUBLE)), 4)
         ELSE round((CAST(0.709 AS DOUBLE) * CAST(4096 AS DOUBLE)
                     * CAST(140737488355328 AS DOUBLE))
                    / CAST(s_present + (64 - n_used)
                           * CAST(140737488355328 AS BIGINT) AS DOUBLE), 4)
         END AS distinct_est_okey
  FROM hest),
base AS (
  SELECT status, count(*) AS n_rows,
         CAST(sum(n_chars) AS DOUBLE) AS sum_n_chars,
         round(CAST(sum(n_chars) AS DOUBLE) / count(n_chars), 6)
           AS avg_n_chars,
         min(n_chars) AS min_n_chars, max(n_chars) AS max_n_chars,
         round(CAST(count(DISTINCT n_chars) AS DOUBLE), 4)
           AS distinct_est_n_chars
  FROM final GROUP BY 1)
SELECT base.*, est.distinct_est_okey
FROM base JOIN est USING (status)
"""



# --- weighted PageRank over the trade graph --------------------------------

PAGERANK_ITERS = 6
PAGERANK_D = 0.85


def q_pagerank_trade(spark: SparkSession, sf: str) -> DataFrame:
    """Weighted PageRank (Page et al. 1999) over the nation trade graph:
    edges customer-nation -> supplier-nation weighted by lineitem revenue
    (operators.graph.pagerank — per-iteration bounded shuffles, exact
    DECIMAL contribution sums so the unrolled DuckDB twin hash-matches).
    The host-centrality measure a web-corpus curation pipeline computes
    over its link graph, exercised on the warehouse's own relations."""
    from door2door_etl_spark.operators.graph import pagerank

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
    pr = pagerank(
        e, weight_col="w", iterations=PAGERANK_ITERS, damping=PAGERANK_D
    )
    return pr.select(
        F.col("node").alias("nation"), F.round("rank", 8).alias("rank")
    )


def _sql_pagerank_trade() -> str:
    """Unrolled-iteration DuckDB twin of q_pagerank_trade.  Float
    constants are emitted as repr() strings cast to DOUBLE so both
    engines compute with bit-identical IEEE values (a bare 0.85 literal
    is a DECIMAL in DuckDB); every rank CTE is MATERIALIZED because each
    is referenced twice per iteration (contribution join + dangling
    mass) and DuckDB re-inlines multi-referenced CTEs."""
    d = repr(PAGERANK_D)
    one_minus_d = repr(1.0 - PAGERANK_D)
    head = f"""
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
), nn AS MATERIALIZED (
  SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes
), r0 AS MATERIALIZED (
  SELECT node, CAST('1.0' AS DOUBLE) / (SELECT n FROM nn) AS rank
  FROM nodes
)"""
    iters = []
    for t in range(PAGERANK_ITERS):
        iters.append(f""", dang{t} AS MATERIALIZED (
  SELECT CAST(coalesce(sum(CAST(rank AS DECIMAL(38,18))), 0) AS DOUBLE)
           AS m
  FROM r{t} WHERE node NOT IN (SELECT src FROM outw)
), r{t + 1} AS MATERIALIZED (
  SELECT nd.node,
         CAST('{one_minus_d}' AS DOUBLE) / (SELECT n FROM nn)
         + CAST('{d}' AS DOUBLE) * (
             coalesce(c.c, CAST('0.0' AS DOUBLE))
             + (SELECT m FROM dang{t}) / (SELECT n FROM nn)
           ) AS rank
  FROM nodes nd LEFT JOIN (
    SELECT e.dst AS node,
           CAST(sum(CAST(r.rank * e.p AS DECIMAL(38,18))) AS DOUBLE) AS c
    FROM edges e JOIN r{t} r ON e.src = r.node GROUP BY e.dst) c
  ON nd.node = c.node
)""")
    tail = (f"\nSELECT node AS nation, round(rank, 8) AS rank "
            f"FROM r{PAGERANK_ITERS}")
    return head + "".join(iters) + tail



def q_profile_events(spark: SparkSession, sf: str) -> DataFrame:
    """ANALYZE-style column profile of the events table: null counts,
    typed value bounds, exact-decimal means, string-length bounds, KMV
    distinct estimates — one report row per column
    (operators.profile.profile_table; per-column one-row aggregates, KMV
    k-bounded, no driver collection)."""
    from door2door_etl_spark.operators.profile import profile_table

    ev = load_table(spark, sf, "events")
    return profile_table(ev)


def _sql_profile_events(src: str = "events") -> str:
    """Per-column UNION ALL twin of q_profile_events over ``src`` (any
    FROM-able fragment with the events shape: event_id bigint, ts
    timestamp, user_id bigint, event_type string, value double,
    props string)."""

    def kmv(c: str) -> str:
        # Mirrors profile_table's below-k exact fallback: fewer than k
        # sketch rows means the sketch holds the whole distinct set, so
        # the count is exact; the (k-1)/u_(k) estimator applies only at k.
        u = sql_uniform_hash(c, "kmv")
        return (
            f"(SELECT CASE WHEN count(*) >= 64 "
            f"THEN round(63.0 / max(u), 4) "
            f"ELSE CAST(count(*) AS DOUBLE) END FROM ("
            f"SELECT u FROM (SELECT DISTINCT {u} AS u FROM {src} "
            f"WHERE {c} IS NOT NULL) ORDER BY u LIMIT 64))"
        )

    def avg(c: str) -> str:
        return (
            f"round(CAST(sum(CAST({c} AS DECIMAL(38,6))) AS DOUBLE) "
            f"/ count({c}), 4)"
        )

    blocks = []
    for c, dt in [("event_id", "bigint"), ("ts", "timestamp"),
                  ("user_id", "bigint"), ("event_type", "string"),
                  ("value", "double"), ("props", "string")]:
        common = (
            f"SELECT '{c}' AS \"column\", '{dt}' AS dtype, "
            f"CAST(count(*) AS BIGINT) AS n_rows, "
            f"CAST(count(*) - count({c}) AS BIGINT) AS n_nulls, "
        )
        if dt == "bigint":
            rest = (
                f"{kmv(c)} AS distinct_est, "
                f"CAST(min({c}) AS DOUBLE) AS min_num, "
                f"CAST(max({c}) AS DOUBLE) AS max_num, "
                f"{avg(c)} AS avg_num, "
                f"CAST(NULL AS INT) AS min_len, CAST(NULL AS INT) AS max_len"
            )
        elif dt == "double":
            rest = (
                f"CAST(NULL AS DOUBLE) AS distinct_est, "
                f"round(CAST(min({c}) AS DOUBLE), 6) AS min_num, "
                f"round(CAST(max({c}) AS DOUBLE), 6) AS max_num, "
                f"{avg(c)} AS avg_num, "
                f"CAST(NULL AS INT) AS min_len, CAST(NULL AS INT) AS max_len"
            )
        elif dt == "timestamp":
            rest = (
                f"CAST(NULL AS DOUBLE) AS distinct_est, "
                f"CAST(epoch_us(min({c})) AS DOUBLE) AS min_num, "
                f"CAST(epoch_us(max({c})) AS DOUBLE) AS max_num, "
                f"CAST(NULL AS DOUBLE) AS avg_num, "
                f"CAST(NULL AS INT) AS min_len, CAST(NULL AS INT) AS max_len"
            )
        else:  # string
            rest = (
                f"{kmv(c)} AS distinct_est, "
                f"CAST(NULL AS DOUBLE) AS min_num, "
                f"CAST(NULL AS DOUBLE) AS max_num, "
                f"CAST(NULL AS DOUBLE) AS avg_num, "
                f"CAST(min(length({c})) AS INT) AS min_len, "
                f"CAST(max(length({c})) AS INT) AS max_len"
            )
        blocks.append(common + rest + f" FROM {src}")
    return "\nUNION ALL\n".join(blocks)


def q_profile_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Data-quality drift report between two deterministic slices of the
    events table (user_id parity as the stand-in for yesterday/today):
    per-column null-fraction shift, mean shift, distinct ratio and bound
    movement off two profile passes (operators.profile.profile_drift).
    The oracle recomputes both profiles and the same deltas in SQL."""
    from door2door_etl_spark.operators.profile import profile_drift

    ev = load_table(spark, sf, "events")
    return profile_drift(
        ev.filter(F.col("user_id") % 2 == 0),
        ev.filter(F.col("user_id") % 2 == 1),
    )


def _sql_profile_drift() -> str:
    p_old = _sql_profile_events("(SELECT * FROM events WHERE user_id % 2 = 0)")
    p_new = _sql_profile_events("(SELECT * FROM events WHERE user_id % 2 = 1)")
    return f"""
WITH p_old AS ({p_old}),
p_new AS ({p_new})
SELECT o."column" AS "column", o.dtype,
       round(CAST(o.n_nulls AS DOUBLE) / o.n_rows, 6) AS null_frac_old,
       round(CAST(n.n_nulls AS DOUBLE) / n.n_rows, 6) AS null_frac_new,
       round(n.avg_num - o.avg_num, 4) AS avg_delta,
       round(n.distinct_est / o.distinct_est, 4) AS distinct_ratio,
       round(n.min_num - o.min_num, 4) AS min_delta,
       round(n.max_num - o.max_num, 4) AS max_delta
FROM p_old o JOIN p_new n ON o."column" = n."column" AND o.dtype = n.dtype
ORDER BY o."column"
"""


def q_triangle_count(spark: SparkSession, sf: str) -> DataFrame:
    """Triangle census of the part co-purchase graph
    (operators.graph.triangle_count): parts are linked when they share
    ≥2 orders, and triangles are counted with degree-ordered orientation
    — wedges form only at each edge's low-(degree, node) end, bounding
    wedge fan-out by O(√m) so a hub part cannot blow up the self-join.
    The oracle counts the same triangles with the classical node-ordered
    3-way join (orientation changes the plan, never the count)."""
    from door2door_etl_spark.operators.graph import triangle_count

    edges = copurchase_edges(spark, sf).select("src", "dst")
    return triangle_count(edges)


SQL_TRIANGLE_COUNT = """
WITH b AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS i FROM lineitem),
p AS (SELECT a.i AS u, bb.i AS v, count(*) AS c
      FROM b a JOIN b bb ON a.o = bb.o AND a.i < bb.i GROUP BY 1, 2),
e AS (SELECT u, v FROM p WHERE c >= 2),
deg AS (SELECT n, count(*) AS d FROM (
          SELECT u AS n FROM e UNION ALL SELECT v FROM e) GROUP BY 1),
tri AS (SELECT count(*) AS t
        FROM e a JOIN e b2 ON a.v = b2.u
        JOIN e c ON c.u = a.u AND c.v = b2.v)
SELECT (SELECT count(*) FROM deg) AS n_nodes,
       (SELECT count(*) FROM e) AS n_edges,
       CAST((SELECT t FROM tri) AS BIGINT) AS n_triangles,
       CAST((SELECT sum(d * (d - 1) // 2) FROM deg) AS BIGINT) AS n_wedges,
       round(3.0 * (SELECT t FROM tri)
             / nullif((SELECT sum(d * (d - 1) // 2) FROM deg), 0), 6)
         AS global_clustering
"""


KCORE_K = 2
KCORE_ROUNDS = 6


def q_kcore_members(spark: SparkSession, sf: str) -> DataFrame:
    """k-core of the part co-purchase graph (operators.graph.kcore_peel,
    k=2): synchronized peeling — each round drops every node whose
    surviving degree is below k, with per-round lineage truncation.  A
    fixed round count keeps both engines on identical intermediate
    states (the kmeans-unroll oracle discipline); rounds past
    convergence are no-ops, so the result is the exact k-core whenever
    the peel depth fits.  Output: surviving nodes with core degree."""
    from door2door_etl_spark.operators.graph import kcore_peel

    edges = copurchase_edges(spark, sf).select("src", "dst")
    return kcore_peel(edges, k=KCORE_K, rounds=KCORE_ROUNDS)


def _sql_kcore_members() -> str:
    head = f"""
WITH b AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS i FROM lineitem),
p AS (SELECT a.i AS u, bb.i AS v, count(*) AS c
      FROM b a JOIN b bb ON a.o = bb.o AND a.i < bb.i GROUP BY 1, 2),
e0 AS MATERIALIZED (SELECT u, v FROM p WHERE c >= 2)"""
    parts = [head]
    for i in range(1, KCORE_ROUNDS + 1):
        prev = f"e{i - 1}"
        # MATERIALIZED per round: each e_i is referenced three times by
        # the next level; inlined CTEs would expand 3^rounds references
        # to the base scan (observed as a file-handle blowup in DuckDB)
        parts.append(f""",
d{i} AS MATERIALIZED (SELECT n FROM (
    SELECT u AS n FROM {prev} UNION ALL SELECT v FROM {prev})
  GROUP BY 1 HAVING count(*) >= {KCORE_K}),
e{i} AS MATERIALIZED (SELECT u, v FROM {prev}
  WHERE u IN (SELECT n FROM d{i}) AND v IN (SELECT n FROM d{i}))""")
    last = f"e{KCORE_ROUNDS}"
    parts.append(f"""
SELECT node, count(*) AS degree FROM (
  SELECT u AS node FROM {last} UNION ALL SELECT v FROM {last})
GROUP BY node""")
    return "".join(parts)


def q_graph_components(spark: SparkSession, sf: str) -> DataFrame:
    """Connected components of the part co-purchase graph
    (operators.graph.connected_components — pointer-jumping min-label
    propagation, O(log diameter) rounds): every part labeled with the
    smallest part key reachable through >=2-co-occurrence edges.  Same
    graph as the triangle/k-core rows, so the family reads as one
    coherent toolkit.  The oracle proves the identical fixpoint with a
    recursive-CTE transitive closure (tractable here: components are a
    few thousand nodes at most at both tiers)."""
    from door2door_etl_spark.operators.graph import connected_components

    edges = copurchase_edges(spark, sf).select("src", "dst")
    return connected_components(edges)


SQL_GRAPH_COMPONENTS = """
WITH RECURSIVE b AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS i FROM lineitem),
p AS (SELECT a.i AS u, bb.i AS v, count(*) AS c
      FROM b a JOIN b bb ON a.o = bb.o AND a.i < bb.i GROUP BY 1, 2),
e0 AS (SELECT u, v FROM p WHERE c >= 2),
edges AS (SELECT u AS a, v AS b2 FROM e0 UNION SELECT v, u FROM e0),
walk(node, reach) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.a, w.reach FROM edges e JOIN walk w ON w.node = e.b2)
SELECT node, min(reach) AS component FROM walk GROUP BY node
"""


LPA_ROUNDS = 4


def q_graph_communities(spark: SparkSession, sf: str) -> DataFrame:
    """Label-propagation communities of the part co-purchase graph
    (operators.graph.label_propagation — synchronous rounds, fixed count,
    (count DESC, label ASC) tie-break, so the unrolled SQL twin reaches
    the identical labeling).  Same >=2-shared-orders edge set as the
    triangle/k-core/components/PageRank rows — components answers "what
    is connected", this answers "what clusters together"."""
    from door2door_etl_spark.operators.graph import label_propagation

    edges = copurchase_edges(spark, sf).select("src", "dst")
    return label_propagation(edges, rounds=LPA_ROUNDS)


def _lpa_ctes() -> str:
    """The unrolled synchronous-LPA CTE chain over the part co-purchase
    graph: one (count, tie-break-pick) CTE pair per round, byte-identical
    semantics to the Spark loop; ``l{LPA_ROUNDS}`` holds the final
    labeling, ``e0`` the canonical (u < v) edge list."""
    ctes = [
        """b AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS i FROM lineitem),
p AS (SELECT a.i AS u, bb.i AS v, count(*) AS c
      FROM b a JOIN b bb ON a.o = bb.o AND a.i < bb.i GROUP BY 1, 2),
e0 AS MATERIALIZED (SELECT u, v FROM p WHERE c >= 2),
edges AS MATERIALIZED (SELECT u AS a, v AS b2 FROM e0 UNION SELECT v, u FROM e0),
l0 AS (SELECT DISTINCT a AS node, a AS label FROM edges)"""
    ]
    for r in range(1, LPA_ROUNDS + 1):
        ctes.append(
            f"""c{r} AS (
  SELECT e.a AS node, l.label, count(*) AS cnt
  FROM edges e JOIN l{r - 1} l ON l.node = e.b2
  GROUP BY 1, 2),
l{r} AS (
  SELECT node, label FROM (
    SELECT node, label,
           row_number() OVER (PARTITION BY node
                              ORDER BY cnt DESC, label ASC) AS rk
    FROM c{r})
  WHERE rk = 1)"""
        )
    return ",\n".join(ctes)


def _sql_graph_communities() -> str:
    return (
        "WITH "
        + _lpa_ctes()
        + f"\nSELECT node, label AS community FROM l{LPA_ROUNDS}"
    )


def q_graph_modularity(spark: SparkSession, sf: str) -> DataFrame:
    """Newman modularity report of the LPA communities
    (operators.graph.modularity over operators.graph.label_propagation)
    — the quality gauge closing the loop on ns_graph_communities: one
    row per community with its intra-edge count, degree mass and Q
    contribution, so 'did LPA find real structure' is itself an
    oracle-checked number."""
    from door2door_etl_spark.operators.graph import (
        label_propagation,
        modularity,
    )

    edges = copurchase_edges(spark, sf).select("src", "dst").persist()
    labels = label_propagation(edges, rounds=LPA_ROUNDS)
    return modularity(edges, labels)


def _sql_graph_modularity() -> str:
    return (
        "WITH "
        + _lpa_ctes()
        + f""",
lab AS MATERIALIZED (SELECT node, label AS c FROM l{LPA_ROUNDS}),
m AS (SELECT CAST(count(*) AS DOUBLE) AS m FROM e0),
deg AS (SELECT n, count(*) AS d FROM (
          SELECT u AS n FROM e0 UNION ALL SELECT v FROM e0) GROUP BY 1),
intra AS (
  SELECT la.c AS community, count(*) AS intra_edges
  FROM e0 JOIN lab la ON e0.u = la.node JOIN lab lb ON e0.v = lb.node
  WHERE la.c = lb.c GROUP BY 1),
per_c AS (
  SELECT lab.c AS community, count(*) AS n_nodes,
         CAST(sum(coalesce(deg.d, 0)) AS BIGINT) AS degree_sum
  FROM lab LEFT JOIN deg ON lab.node = deg.n GROUP BY 1)
SELECT per_c.community, n_nodes,
       coalesce(intra_edges, 0) AS intra_edges, degree_sum,
       round(coalesce(intra_edges, 0) / m.m
             - (degree_sum / (2.0 * m.m)) * (degree_sum / (2.0 * m.m)),
             6) + 0.0 AS q_contribution
FROM per_c LEFT JOIN intra ON per_c.community = intra.community
CROSS JOIN m
"""
    )


LOUVAIN_LOCAL_ROUNDS = 4
LOUVAIN_LEVELS = 2
_KNUTH = 2654435761  # Knuth multiplicative-hash constant (2^32/phi)


def q_graph_louvain(spark: SparkSession, sf: str) -> DataFrame:
    """Modularity-OPTIMIZING communities of the part co-purchase graph
    (operators.graph.louvain — synchronous strict-improvement local
    moves gated by a deterministic 2-coloring, exact-integer gain
    scores, one contraction level).  Same edge set as the LPA row;
    measured Q = 0.2476 vs LPA's 0.0113 on the sf0.01 graph — the
    'actually optimized' answer next to LPA's 'fast' answer, both
    gaugeable with ns_graph_modularity's machinery."""
    from door2door_etl_spark.operators.graph import louvain

    edges = copurchase_edges(spark, sf).select("src", "dst")
    return louvain(
        edges, local_rounds=LOUVAIN_LOCAL_ROUNDS, levels=LOUVAIN_LEVELS
    )


def _louvain_half_sweep_sql(lev: int, r: int, prev: str, sym: str,
                            deg: str, cls: int) -> str:
    """One unrolled Louvain half-sweep: community degree masses,
    neighbor-community weights, stay-home candidate union, the
    exact-integer score (2m·k_iC − k_i·(Σtot_C − [own]k_i)), strict
    improvement + (score DESC, community ASC) pick for the active Knuth
    class, passthrough for the rest.  Every label CTE is MATERIALIZED —
    DuckDB re-inlines non-recursive CTEs per reference, and l{r} has
    four consumers."""
    return f"""t{lev}_{r} AS MATERIALIZED (
  SELECT l.label AS c, sum(d.k) AS tot
  FROM {prev} l JOIN {deg} d ON l.node = d.node GROUP BY 1),
cand{lev}_{r} AS (
  SELECT node, c, max(kuc) AS kuc FROM (
    SELECT s.a AS node, l.label AS c, sum(s.w) AS kuc
    FROM {sym} s JOIN {prev} l ON l.node = s.b2 GROUP BY 1, 2
    UNION ALL SELECT node, label, 0 FROM {prev}) GROUP BY 1, 2),
sc{lev}_{r} AS MATERIALIZED (
  SELECT cd.node, cd.c, o.label AS own,
         2 * m.m * cd.kuc
           - d.k * (t.tot - CASE WHEN cd.c = o.label THEN d.k ELSE 0 END)
           AS score
  FROM cand{lev}_{r} cd
  JOIN {prev} o ON o.node = cd.node
     AND (o.node * {_KNUTH}) // 65536 % 2 = {cls}
  JOIN {deg} d ON d.node = cd.node
  JOIN t{lev}_{r} t ON t.c = cd.c
  CROSS JOIN m),
l{lev}_{r} AS MATERIALIZED (
  SELECT node, c AS label FROM (
    SELECT node, c,
           row_number() OVER (PARTITION BY node
                              ORDER BY score DESC, c ASC) AS rk
    FROM (SELECT node, c, score, own,
                 max(CASE WHEN c = own THEN score END)
                   OVER (PARTITION BY node) AS os
          FROM sc{lev}_{r})
    WHERE c = own OR score > os)
  WHERE rk = 1
  UNION ALL
  SELECT node, label FROM {prev}
  WHERE (node * {_KNUTH}) // 65536 % 2 <> {cls})"""


def _louvain_level_sql(lev: int, ew: str) -> str:
    """Per-level graph relations: symmetric inter-edge expansion, the
    degree vector (self-loops count twice), singleton init labels."""
    return f"""sym{lev} AS MATERIALIZED (
  SELECT u AS a, v AS b2, w FROM {ew} WHERE u <> v
  UNION ALL SELECT v, u, w FROM {ew} WHERE u <> v),
deg{lev} AS MATERIALIZED (
  SELECT node, sum(k) AS k FROM (
    SELECT a AS node, w AS k FROM sym{lev}
    UNION ALL SELECT u, 2 * w FROM {ew} WHERE u = v) GROUP BY 1),
l{lev}_0 AS (SELECT node, node AS label FROM deg{lev})"""


def _sql_graph_louvain() -> str:
    rounds, last = LOUVAIN_LOCAL_ROUNDS, LOUVAIN_LOCAL_ROUNDS
    ctes = [
        """b AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS i FROM lineitem),
p AS (SELECT a.i AS u, bb.i AS v, count(*) AS c
      FROM b a JOIN b bb ON a.o = bb.o AND a.i < bb.i GROUP BY 1, 2),
ew0 AS MATERIALIZED (SELECT u, v, CAST(1 AS BIGINT) AS w
                     FROM p WHERE c >= 2),
m AS MATERIALIZED (SELECT sum(w) AS m FROM ew0)""",
        _louvain_level_sql(0, "ew0"),
    ]
    for r in range(1, rounds + 1):
        ctes.append(
            _louvain_half_sweep_sql(0, r, f"l0_{r - 1}", "sym0", "deg0",
                                    (r - 1) % 2)
        )
    ctes.append(f"""map0 AS MATERIALIZED (SELECT node, label FROM l0_{last}),
ew1 AS MATERIALIZED (
  SELECT least(la.label, lb.label) AS u,
         greatest(la.label, lb.label) AS v, sum(e.w) AS w
  FROM ew0 e JOIN map0 la ON e.u = la.node
             JOIN map0 lb ON e.v = lb.node
  GROUP BY 1, 2)""")
    ctes.append(_louvain_level_sql(1, "ew1"))
    for r in range(1, rounds + 1):
        ctes.append(
            _louvain_half_sweep_sql(1, r, f"l1_{r - 1}", "sym1", "deg1",
                                    (r - 1) % 2)
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT map0.node, l1_{last}.label AS community
FROM map0 JOIN l1_{last} ON map0.label = l1_{last}.node
"""
    )


def q_conversion_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """Strictly-ordered view→click→purchase funnel over events
    (operators.relational.conversion_funnel): ONE shuffle — events
    pre-filtered to the three step types, folded per user with a pure
    Catalyst ``aggregate`` over the sorted event array (no UDF, no
    three-way self-join).  The oracle computes the identical semantics
    the classical way (three chained min-after CTEs), so a hash match
    proves the fold's earliest-qualifying-match semantics."""
    from door2door_etl_spark.operators.relational import conversion_funnel

    events = load_table(spark, sf, "events")
    return conversion_funnel(events, ["view", "click", "purchase"]).orderBy(
        "stage_idx"
    )


SQL_CONVERSION_FUNNEL = """
WITH rel AS (
  SELECT user_id, event_type, ts FROM events
  WHERE event_type IN ('view', 'click', 'purchase')),
n0 AS (SELECT count(DISTINCT user_id) AS n FROM rel),
s1 AS (SELECT user_id, min(ts) AS t FROM rel WHERE event_type = 'view'
       GROUP BY 1),
s2 AS (SELECT r.user_id, min(r.ts) AS t FROM rel r
       JOIN s1 ON r.user_id = s1.user_id
       WHERE r.event_type = 'click' AND r.ts > s1.t GROUP BY 1),
s3 AS (SELECT r.user_id, min(r.ts) AS t FROM rel r
       JOIN s2 ON r.user_id = s2.user_id
       WHERE r.event_type = 'purchase' AND r.ts > s2.t GROUP BY 1),
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


def q_retention_cohorts(spark: SparkSession, sf: str) -> DataFrame:
    """Weekly retention by first-activity-day cohort
    (operators.relational.retention_cohorts): first-event day per user
    (one groupBy, |users|-sized, broadcast back), each event mapped to its
    (cohort, week offset) cell, distinct-user counts per cell over a
    bounded offset range.  Oracle is the same two-aggregate shape in
    plain SQL."""
    from door2door_etl_spark.operators.relational import retention_cohorts

    events = load_table(spark, sf, "events")
    out = retention_cohorts(events, max_offset=3).withColumnRenamed(
        "offset", "week_offset"
    )
    return out.withColumn(
        "cohort_day", F.date_format("cohort_day", "yyyy-MM-dd")
    ).orderBy("cohort_day", "week_offset")


SQL_RETENTION_COHORTS = """
WITH first AS (
  SELECT user_id, min(CAST(ts AS DATE)) AS first_day FROM events GROUP BY 1),
cohorted AS (
  SELECT e.user_id, f.first_day,
         CAST(floor(date_diff('day', f.first_day, CAST(e.ts AS DATE)) / 7.0)
              AS INT) AS week_offset
  FROM events e JOIN first f ON e.user_id = f.user_id),
sizes AS (SELECT first_day, count(DISTINCT user_id) AS cohort_size
          FROM first GROUP BY 1)
SELECT strftime(c.first_day, '%Y-%m-%d') AS cohort_day, c.week_offset,
       count(DISTINCT c.user_id) AS n_active,
       s.cohort_size,
       round(CAST(count(DISTINCT c.user_id) AS DOUBLE) / s.cohort_size, 6)
         AS retention_rate
FROM cohorted c JOIN sizes s ON c.first_day = s.first_day
WHERE c.week_offset <= 3
GROUP BY c.first_day, c.week_offset, s.cohort_size
ORDER BY cohort_day, week_offset
"""


def q_market_basket_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Frequent brand-pair mining over order baskets
    (operators.relational.market_basket_pairs): lineitem joined to the
    broadcast part dimension gives per-order brand baskets; the Apriori
    2-itemset pass prunes infrequent items BEFORE the within-basket
    self-join (the only quadratic step), then scores support /
    directional confidence / lift and takes the top 15 by lift.  The
    oracle replays the same algebra in SQL."""
    from door2door_etl_spark.operators.relational import market_basket_pairs

    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    part = load_table(spark, sf, "part").select("p_partkey", "p_brand")
    baskets = li.join(
        F.broadcast(part), li.l_partkey == part.p_partkey
    ).select(F.col("l_orderkey").alias("basket"), F.col("p_brand").alias("item"))
    return market_basket_pairs(
        baskets, "basket", "item", min_pair_count=20, topk=15
    )


SQL_MARKET_BASKET_PAIRS = """
WITH baskets AS (
  SELECT DISTINCT l_orderkey AS b, p_brand AS i
  FROM lineitem JOIN part ON l_partkey = p_partkey),
nb AS (SELECT count(DISTINCT b) AS n FROM baskets),
ic AS (SELECT i, count(*) AS c FROM baskets GROUP BY 1),
pruned AS (SELECT b.* FROM baskets b JOIN ic ON b.i = ic.i WHERE ic.c >= 20),
pairs AS (
  SELECT pa.i AS item_a, pb.i AS item_b, count(*) AS pair_count
  FROM pruned pa JOIN pruned pb ON pa.b = pb.b AND pa.i < pb.i
  GROUP BY 1, 2 HAVING count(*) >= 20)
SELECT item_a, item_b, pair_count,
       round(CAST(pair_count AS DOUBLE) / nb.n, 6) AS support,
       round(CAST(pair_count AS DOUBLE) / ca.c, 6) AS conf_a_to_b,
       round(CAST(pair_count AS DOUBLE) / cb.c, 6) AS conf_b_to_a,
       round(CAST(pair_count AS DOUBLE) * nb.n / (ca.c * cb.c), 6) AS lift
FROM pairs
JOIN ic ca ON pairs.item_a = ca.i
JOIN ic cb ON pairs.item_b = cb.i
CROSS JOIN nb
ORDER BY lift DESC, item_a, item_b
LIMIT 15
"""


def q_skew_report(spark: SparkSession, sf: str) -> DataFrame:
    """Join-key skew pre-flight (operators.profile.skew_report): the 10
    heaviest event users with share / cumulative share / skew factor /
    suggested salt buckets — the measurement that decides whether
    ``salted_skew_join`` is worth its extra exchange before a 100 TB
    shuffle.  One map-side-combinable per-key count, one broadcast
    totals row, TakeOrderedAndProject for the top-k; no window over all
    keys."""
    from door2door_etl_spark.operators.profile import skew_report

    events = load_table(spark, sf, "events")
    return skew_report(events, ["user_id"], topk=10)


SQL_SKEW_REPORT = """
WITH per_key AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY 1),
tot AS (SELECT count(*) AS n_keys, sum(cnt) AS n_rows, avg(cnt) AS avg_cnt
        FROM per_key),
top AS (SELECT * FROM per_key ORDER BY cnt DESC, user_id LIMIT 10)
SELECT user_id, cnt, tot.n_keys,
       round(CAST(cnt AS DOUBLE) / tot.n_rows, 6) AS share,
       round(CAST(sum(cnt) OVER (ORDER BY cnt DESC, user_id) AS DOUBLE)
             / tot.n_rows, 6) AS cum_share,
       round(CAST(cnt AS DOUBLE) / tot.avg_cnt, 4) AS skew_factor,
       CAST(ceil(CAST(cnt AS DOUBLE) / tot.avg_cnt) AS INT) AS suggested_salt
FROM top CROSS JOIN tot
"""


def q_bloom_point_lookup(spark: SparkSession, sf: str) -> DataFrame:
    """Point lookups served through the manifest lake's file-level BLOOM
    skipping (io.manifest ``bloom:<col>`` stats): documents land as
    hash-distributed files — every file's [min, max] doc_id range spans
    the whole key space, so range stats can never skip — and each
    equality ``read_where`` consults the per-file bitmaps, scanning only
    the files whose Bloom possibly holds the key (zero false negatives;
    pruning behavior pinned in tests/test_manifest.py).  The oracle reads
    the raw table, so a hash match proves the bloom path loses no rows."""
    import os
    import shutil
    import tempfile

    from door2door_etl_spark.io.manifest import ManifestTable, append_manifest

    docs = load_table(spark, sf, "documents").select("doc_id", "lang", "source")
    lo, hi = docs.agg(F.min("doc_id"), F.max("doc_id")).first()
    root = os.path.join(
        # per-process suffix: concurrent sweeps (sf0.01 + sf1) must not
        # clobber each other's fixture tables
        tempfile.gettempdir(), f"ns_bloom_lookup_tbl_{os.getpid()}"
    )
    shutil.rmtree(root, ignore_errors=True)
    append_manifest(
        spark, root, docs.repartition(8), stats_col=["bloom:doc_id"]
    )
    table = ManifestTable(root)
    keys = [lo, lo + 17, hi]
    # ONE pruned scan for all three keys (ManifestTable.read_keys): each
    # key still runs its own per-file bloom membership test, but the
    # surviving files are read once with a residual isin() — the per-key
    # read_where loop scanned them once per key (guide §1.2/§6).
    return table.read_keys(spark, "doc_id", keys).orderBy("doc_id")


SQL_BLOOM_POINT_LOOKUP = """
WITH b AS (SELECT MIN(doc_id) AS lo, MAX(doc_id) AS hi FROM documents)
SELECT d.doc_id, d.lang, d.source
FROM documents d, b
WHERE d.doc_id IN (b.lo, b.lo + 17, b.hi)
ORDER BY d.doc_id
"""


ADVANCED_QUERIES: list[QueryDef] = [
    QueryDef("ns_bloom_point_lookup", q_bloom_point_lookup, SQL_BLOOM_POINT_LOOKUP, "lakehouse bloom-index point lookup (file skipping)", ("northstar", "lakehouse")),
    QueryDef("ns_cdc_agg_view", q_cdc_agg_view, SQL_CDC_AGG_VIEW, "lakehouse CDC + incremental view maintenance (counting algorithm)", ("northstar", "lakehouse")),
    QueryDef("ns_cdc_hdr_quantiles", q_cdc_hdr_quantiles, _sql_cdc_hdr_quantiles(), "lakehouse CDC-maintained HDR quantile state (exactly-retractable bins)", ("northstar", "lakehouse")),
    QueryDef("ns_aggview_rollup_serving", q_aggview_rollup_serving, SQL_AGGVIEW_ROLLUP_SERVING, "materialized-view query rewriting: coarser GROUP BY served from maintained fine-grain state", ("northstar", "lakehouse")),
    QueryDef("ns_expectations_report", q_expectations_report, SQL_EXPECTATIONS_REPORT, "declared data-quality contract: one-pass multi-rule audit with per-rule metrics", ("northstar", "quality")),
    QueryDef("ns_txn_co_commit", q_txn_co_commit, SQL_TXN_CO_COMMIT, "multi-table transaction: journaled co-commit with roll-forward recovery, exactly-once ops", ("northstar", "lakehouse")),
    QueryDef("rel_asof_signup_attribution", q_asof_signup_attribution, SQL_ASOF_SIGNUP_ATTRIBUTION, "§2.4-asof", ("rel", "advanced")),
    QueryDef("rel_sessionize_stats", q_sessionize_stats, SQL_SESSIONIZE_STATS, "§2.8-session", ("rel", "advanced")),
    QueryDef("rel_scd2_history", q_scd2_history, SQL_SCD2_HISTORY, "SCD type-2 dimension history from the event log (one-shuffle islands)", ("rel", "advanced")),
    QueryDef("rel_scd2_enrich", q_scd2_enrich, SQL_SCD2_ENRICH, "point-in-time SCD2 dimension lookup via the as-of composition (DuckDB ASOF JOIN oracle)", ("rel", "advanced")),
    QueryDef("rel_spatial_radius_pairs", q_spatial_radius_pairs, _sql_spatial_radius_pairs(), "spatial radius self-join: grid-cell bucketing + 3x3 neighbor equi-join, never all-pairs", ("rel", "spatial")),
    QueryDef("rel_track_distance", q_track_distance, _sql_track_distance(), "per-entity trajectory rollup: lag-window step displacement + shared-partitioning aggregate", ("rel", "spatial")),
    QueryDef("rel_spatial_density_topk", q_spatial_density_topk, _sql_spatial_density_topk(), "heatmap: top-k densest grid cells via combinable count + TakeOrderedAndProject", ("rel", "spatial")),
    QueryDef("rel_spatial_clusters", q_spatial_clusters, _sql_spatial_clusters(), "DBSCAN-style density clustering: radius-graph edges -> pointer-jumping components", ("rel", "spatial")),
    QueryDef("rel_spatial_knn", q_spatial_knn, _sql_spatial_knn(), "bounded k-NN: symmetrized radius pairs + per-point rank<=k window (WindowGroupLimit)", ("rel", "spatial")),
    QueryDef("ns_scd2_dimension", q_scd2_dimension, SQL_SCD2_DIMENSION, "SCD2 dimension maintenance through insert/change/removal waves (Kimball type 2 on versioned MERGE)", ("northstar", "lakehouse")),
    QueryDef("ns_kmv_distinct_users", q_kmv_distinct_users, SQL_KMV_DISTINCT_USERS, "north-star sketch/kmv", ("northstar", "sketch")),
    QueryDef("ns_kmv_distinct_by_type", q_kmv_distinct_by_type, SQL_KMV_DISTINCT_BY_TYPE, "north-star sketch/kmv-grouped", ("northstar", "sketch")),
    QueryDef("ns_kmv_sketch_rollup", q_kmv_sketch_rollup, SQL_KMV_DISTINCT_BY_TYPE, "north-star sketch/kmv-mergeable-rollup", ("northstar", "sketch")),
    QueryDef("ns_kmv_set_overlap", q_kmv_set_overlap, SQL_KMV_SET_OVERLAP, "north-star sketch/kmv-set-algebra (Beyer et al. 2007)", ("northstar", "sketch")),
    QueryDef("ns_pagerank_trade", q_pagerank_trade, _sql_pagerank_trade(), "north-star graph/weighted-pagerank (Page et al. 1999)", ("northstar", "graph")),
    QueryDef("ns_profile_events", q_profile_events, _sql_profile_events(), "north-star profile/analyze-table", ("northstar", "profile")),
    QueryDef("ns_profile_drift", q_profile_drift, _sql_profile_drift(), "north-star profile/drift report (two-slice data-quality diff)", ("northstar", "profile")),
    QueryDef("ns_skew_report", q_skew_report, SQL_SKEW_REPORT, "join-key skew pre-flight: heavy-hitter shares + suggested salt buckets", ("northstar", "profile")),
    QueryDef("rel_conversion_funnel", q_conversion_funnel, SQL_CONVERSION_FUNNEL, "ordered conversion funnel via one-shuffle array fold (no UDF, no self-joins)", ("rel", "advanced")),
    QueryDef("rel_retention_cohorts", q_retention_cohorts, SQL_RETENTION_COHORTS, "first-activity cohort retention by week offset", ("rel", "advanced")),
    QueryDef("rel_market_basket_pairs", q_market_basket_pairs, SQL_MARKET_BASKET_PAIRS, "Apriori 2-itemset mining: support/confidence/lift with pre-join frequency pruning", ("rel", "advanced")),
    QueryDef("ns_triangle_count", q_triangle_count, SQL_TRIANGLE_COUNT, "triangle census via degree-ordered orientation (wedge fan-out bounded O(sqrt m))", ("northstar", "graph")),
    QueryDef("ns_kcore_members", q_kcore_members, _sql_kcore_members(), "k-core decomposition by synchronized peeling (fixed-round engine-portable unroll)", ("northstar", "graph")),
    QueryDef("ns_graph_components", q_graph_components, SQL_GRAPH_COMPONENTS, "connected components by pointer-jumping min-label propagation (recursive-CTE oracle)", ("northstar", "graph")),
    QueryDef("ns_graph_communities", q_graph_communities, _sql_graph_communities(), "label-propagation communities (synchronous deterministic LPA, unrolled-round oracle)", ("northstar", "graph")),
    QueryDef("ns_graph_modularity", q_graph_modularity, _sql_graph_modularity(), "Newman modularity report of the LPA communities (Q contribution per community)", ("northstar", "graph")),
    QueryDef("ns_graph_louvain", q_graph_louvain, _sql_graph_louvain(), "Louvain communities (synchronous strict-improvement moves, integer gain scores, one contraction; Q 22x LPA's)", ("northstar", "graph")),
    QueryDef("ns_hash_sample_docs", q_hash_sample_docs, SQL_HASH_SAMPLE_DOCS, "north-star sampling/bernoulli", ("northstar", "sampling")),
    QueryDef("ns_stratified_split_counts", q_stratified_split_counts, _sql_stratified_split_counts(), "north-star sampling/split", ("northstar", "sampling")),
    QueryDef("rel_pivot_event_weekday", q_pivot_event_weekday, SQL_PIVOT_EVENT_WEEKDAY, "§2.5-pivot", ("rel", "advanced")),
    QueryDef("rel_rolling_7d_user_value", q_rolling_7d_user_value, SQL_ROLLING_7D_USER_VALUE, "§2.6-window-range", ("rel", "advanced")),
    QueryDef("ns_tfidf_top_term", q_tfidf_top_term, SQL_TFIDF_TOP_TERM, "north-star text/tfidf", ("northstar", "text")),
    QueryDef("ns_bm25_topk", q_bm25_topk, SQL_BM25_TOPK, "north-star text/bm25 ranked retrieval (Robertson-Zaragoza)", ("northstar", "text")),
    QueryDef("ns_hybrid_rrf_topk", q_hybrid_rrf_topk, _sql_hybrid_rrf_topk(), "north-star similarity/hybrid RRF fusion (Cormack et al. 2009)", ("northstar", "similarity")),
    QueryDef("ns_bm25_indexed_topk", q_bm25_indexed_topk, SQL_BM25_TOPK, "north-star text/bm25 served from the manifest inverted index", ("northstar", "text")),
    QueryDef("ns_bm25_removal_topk", q_bm25_removal_topk, SQL_BM25_REMOVAL_TOPK, "north-star text/bm25 serving after tombstone document removal", ("northstar", "text")),
    QueryDef("etl_sliding_window_counts", q_sliding_window_counts, SQL_SLIDING_WINDOW_COUNTS, "§2.8-sliding-window", ("etl", "advanced")),
    QueryDef("etl_session_window_agg", q_session_window_agg, SQL_SESSION_WINDOW_AGG, "§2.8-session-window", ("etl", "advanced")),
    QueryDef("ns_ann_multiquery_topk", q_ann_multiquery_topk, _sql_ann_multiquery_topk(), "north-star similarity/batched", ("northstar", "similarity")),
    QueryDef("ns_corpus_quality_filter", q_corpus_quality_filter, _sql_corpus_quality_filter(), "north-star text/quality-filter", ("northstar", "text")),
    QueryDef("ns_weighted_sample_topk", q_weighted_sample_topk, _sql_weighted_sample_topk(), "north-star sampling/weighted", ("northstar", "sampling")),
    QueryDef("ns_domain_mix_sample", q_domain_mix_sample, _sql_domain_mix_sample(), "north-star sampling/domain-mix", ("northstar", "sampling")),
    QueryDef("rel_sql_frontend_rollup", q_sql_frontend_rollup, SQL_FRONTEND_DIALECT_NEUTRAL, "§3.3b-sql-frontend", ("rel", "sql")),
]


FD_PAIRS = [
    ("o_orderkey", "o_custkey"),        # key determines everything
    ("o_custkey", "o_orderstatus"),     # violated: customers reorder
    ("o_orderdate", "o_orderpriority"), # violated: many orders per day
    ("o_orderstatus", "o_orderpriority"),  # violated: tiny domain
]


def q_fd_discovery(spark: SparkSession, sf: str) -> DataFrame:
    """Functional-dependency audit over declared candidate pairs on
    orders (operators.profile.fd_audit): per pair, distinct-determinant
    count, violating-group count, Kivinen-Mannila g3 error (minimum
    delete fraction for the FD to hold) and the exact-FD verdict — the
    TANE-family schema-discovery primitive next to the per-column
    profile.  Two bounded shuffles per pair, no joins."""
    from door2door_etl_spark.operators.profile import fd_audit

    orders = load_table(spark, sf, "orders")
    return fd_audit(orders, FD_PAIRS).orderBy("determinant", "dependent")


def _sql_fd_discovery() -> str:
    blocks = []
    for det, dep in FD_PAIRS:
        blocks.append(f"""
SELECT '{det}' AS determinant, '{dep}' AS dependent,
       count(*) AS n_groups,
       CAST(sum(CASE WHEN _ndep > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violating,
       round(CAST(sum(_rows) - sum(_keep) AS DOUBLE) / sum(_rows), 6)
         + 0.0 AS g3_error,
       max(_ndep) <= 1 AS holds
FROM (
  SELECT _det, sum(_n) AS _rows, max(_n) AS _keep, count(*) AS _ndep
  FROM (
    SELECT CAST({det} AS VARCHAR) AS _det, CAST({dep} AS VARCHAR) AS _dep,
           count(*) AS _n
    FROM orders
    WHERE {det} IS NOT NULL AND {dep} IS NOT NULL
    GROUP BY 1, 2)
  GROUP BY 1)""")
        # noqa: the union keeps pair order; final ORDER BY canonicalizes
    return (
        "\nUNION ALL\n".join(blocks)
        + "\nORDER BY determinant, dependent"
    )


FK_EDGES = [
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
    # deliberately cross-domain: event actors are NOT customers — the
    # audit proves nonzero orphan reporting, not just green checkmarks
    ("events", "user_id", "customer", "c_custkey"),
]


def q_ref_integrity_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Referential-integrity audit of the whole declared FK graph
    (operators.profile.referential_audit): per edge, child rows, NULL
    FKs, orphan rows and distinct orphan keys — the post-ingest audit
    every warehouse wants, generalized from the reference's per-table
    COUNT probes to a declared schema graph.  Key-projected anti joins;
    the last edge (events.user_id → customer) is intentionally
    cross-domain so the report proves nonzero orphan accounting."""
    from door2door_etl_spark.operators.profile import referential_audit

    tables = {
        t: load_table(spark, sf, t)
        for t in {e[0] for e in FK_EDGES} | {e[2] for e in FK_EDGES}
    }
    return referential_audit(tables, FK_EDGES).orderBy("fk", "references")


def _sql_ref_integrity_audit() -> str:
    blocks = []
    for ct, cc, pt, pc in FK_EDGES:
        blocks.append(f"""
SELECT '{ct}.{cc}' AS fk, '{pt}.{pc}' AS "references",
  (SELECT count(*) FROM {ct}) AS child_rows,
  (SELECT count(*) FROM {ct} WHERE {cc} IS NULL) AS null_fk_rows,
  (SELECT count(*) FROM {ct} WHERE {cc} IS NOT NULL
     AND {cc} NOT IN (SELECT {pc} FROM {pt} WHERE {pc} IS NOT NULL))
    AS orphan_rows,
  (SELECT count(DISTINCT {cc}) FROM {ct} WHERE {cc} IS NOT NULL
     AND {cc} NOT IN (SELECT {pc} FROM {pt} WHERE {pc} IS NOT NULL))
    AS orphan_keys""")
    return (
        "\nUNION ALL\n".join(blocks)
        + '\nORDER BY fk, "references"'
    )


ADVANCED_QUERIES.extend(
    [
        QueryDef(
            "ns_fd_discovery",
            q_fd_discovery,
            _sql_fd_discovery(),
            "functional-dependency audit (g3 error, TANE-family schema discovery)",
            ("northstar", "profile"),
        ),
        QueryDef(
            "ns_ref_integrity_audit",
            q_ref_integrity_audit,
            _sql_ref_integrity_audit(),
            "declared-FK-graph referential audit (orphan rows/keys per edge)",
            ("northstar", "profile"),
        ),
    ]
)


def q_delta_time_travel(spark: SparkSession, sf: str) -> DataFrame:
    """Delta Lake interop end-to-end in ONE hash-checked row
    (io.delta_reader): a REAL Delta transaction log is authored from the
    supplier table — v0 adds even-key suppliers (hive-partitioned by
    nation), v1 adds the odd keys, v2 removes v0's files (deleting the
    evens), then a classic parquet CHECKPOINT is cut at v2 — and the row
    reads versions 0/1/2 back through read_delta (v2 resolves THROUGH
    the checkpoint; v0/v1 replay JSON commits), aggregating each into
    (version, n_rows, acct_total).  Hash-matching the DuckDB twin
    computed straight from supplier proves log replay, last-add-wins +
    remove semantics, time travel, typed log-sourced partition values,
    and checkpoint reads in one shot.  Fixture rebuilds per call under
    a pid-scoped tmp dir (concurrent sweeps can't collide)."""
    import os
    import shutil
    import tempfile

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from door2door_etl_spark.io.delta_reader import (
        DeltaFixtureWriter,
        read_delta,
    )

    sup = load_table(spark, sf, "supplier").select(
        F.col("s_suppkey").cast("long").alias("suppkey"),
        F.col("s_name").alias("name"),
        F.col("s_nationkey").cast("long").alias("nationkey"),
        F.col("s_acctbal").cast("double").alias("acctbal"),
    )
    pdf = sup.toPandas().sort_values("suppkey")
    root = os.path.join(
        tempfile.gettempdir(), f"ns_delta_time_travel_{os.getpid()}"
    )
    shutil.rmtree(root, ignore_errors=True)
    schema = StructType(
        [
            StructField("suppkey", LongType()),
            StructField("name", StringType()),
            StructField("nationkey", LongType()),
            StructField("acctbal", DoubleType()),
        ]
    )
    w = DeltaFixtureWriter(root, schema, partition_cols=["nationkey"])
    _, rels0 = w.commit_add(pdf[pdf["suppkey"] % 2 == 0])
    w.commit_add(pdf[pdf["suppkey"] % 2 == 1])
    w.commit_remove(rels0)
    w.checkpoint()

    outs = []
    for v in (0, 1, 2):
        outs.append(
            read_delta(spark, root, version=v).agg(
                F.lit(v).alias("version"),
                F.count(F.lit(1)).alias("n_rows"),
                dsum(F.col("acctbal")).alias("acct_total"),
                F.count(F.when(F.col("nationkey").isNull(), 1)).alias(
                    "null_parts"
                ),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out.orderBy("version")


SQL_DELTA_TIME_TRAVEL = f"""
WITH s AS (SELECT CAST(s_suppkey AS BIGINT) AS suppkey,
                  CAST(s_acctbal AS DOUBLE) AS acctbal FROM supplier)
SELECT 0 AS version, count(*) AS n_rows,
       {dec_sum('acctbal', 'acct_total')},
       0 AS null_parts
FROM s WHERE suppkey % 2 = 0
UNION ALL
SELECT 1, count(*), {dec_sum('acctbal', 'acct_total')}, 0 FROM s
UNION ALL
SELECT 2, count(*), {dec_sum('acctbal', 'acct_total')}, 0
FROM s WHERE suppkey % 2 = 1
ORDER BY version
"""


ADVANCED_QUERIES.append(
    QueryDef(
        "ns_delta_time_travel",
        q_delta_time_travel,
        SQL_DELTA_TIME_TRAVEL,
        "Delta Lake read interop: log replay, remove semantics, time travel, checkpoint read",
        ("northstar", "lakehouse"),
    )
)


def q_iceberg_time_travel(spark: SparkSession, sf: str) -> DataFrame:
    """Iceberg interop end-to-end in ONE hash-checked row
    (io.iceberg_reader + io.avro_codec): a REAL Iceberg v2 table is
    authored from the supplier roster — snapshot 1 adds the even keys,
    snapshot 2 adds the odds, snapshot 3 removes snapshot 1's data file
    (deleting the evens; DELETED manifest-entry status, carried files
    EXISTING) — and the row reads all three snapshots back through
    read_iceberg (metadata JSON → manifest-list Avro → manifest Avro →
    parquet, the Avro parsed by the from-spec codec), aggregating each
    into (snap, n_rows, acct_total).  Hash-matching the DuckDB twin
    computed straight from supplier proves manifest replay, entry-status
    semantics, snapshot time travel, and the Avro container codec in
    one shot.  Fixture rebuilds per call under a pid-scoped tmp dir."""
    import os
    import shutil
    import tempfile

    from door2door_etl_spark.io.iceberg_reader import (
        IcebergFixtureWriter,
        read_iceberg,
    )

    sup = load_table(spark, sf, "supplier").select(
        F.col("s_suppkey").cast("long").alias("suppkey"),
        F.col("s_name").alias("name"),
        F.col("s_acctbal").cast("double").alias("acctbal"),
    )
    pdf = sup.toPandas().sort_values("suppkey")
    root = os.path.join(
        tempfile.gettempdir(), f"ns_iceberg_time_travel_{os.getpid()}"
    )
    shutil.rmtree(root, ignore_errors=True)
    fields = [
        {"id": 1, "name": "suppkey", "required": False, "type": "long"},
        {"id": 2, "name": "name", "required": False, "type": "string"},
        {"id": 3, "name": "acctbal", "required": False, "type": "double"},
    ]
    w = IcebergFixtureWriter(root, fields)
    s1, rel1 = w.commit_add(pdf[pdf["suppkey"] % 2 == 0])
    s2, _ = w.commit_add(pdf[pdf["suppkey"] % 2 == 1])
    s3 = w.commit_remove([rel1])

    outs = []
    for snap in (s1, s2, s3):
        outs.append(
            read_iceberg(spark, root, snapshot_id=snap).agg(
                F.lit(snap).alias("snap"),
                F.count(F.lit(1)).alias("n_rows"),
                dsum(F.col("acctbal")).alias("acct_total"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out.orderBy("snap")


SQL_ICEBERG_TIME_TRAVEL = f"""
WITH s AS (SELECT CAST(s_suppkey AS BIGINT) AS suppkey,
                  CAST(s_acctbal AS DOUBLE) AS acctbal FROM supplier)
SELECT 1 AS snap, count(*) AS n_rows, {dec_sum('acctbal', 'acct_total')}
FROM s WHERE suppkey % 2 = 0
UNION ALL
SELECT 2, count(*), {dec_sum('acctbal', 'acct_total')} FROM s
UNION ALL
SELECT 3, count(*), {dec_sum('acctbal', 'acct_total')}
FROM s WHERE suppkey % 2 = 1
ORDER BY snap
"""


ADVANCED_QUERIES.append(
    QueryDef(
        "ns_iceberg_time_travel",
        q_iceberg_time_travel,
        SQL_ICEBERG_TIME_TRAVEL,
        "Iceberg read interop: manifest replay over from-spec Avro, entry-status semantics, snapshot time travel",
        ("northstar", "lakehouse"),
    )
)
