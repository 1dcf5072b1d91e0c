"""Relational query-layer operators over the warehouse model (SURVEY.md §2.4-2.6).

The reference delegates analyst queries to Postgres (README.md:3,48-51); this
module supplies that standard surface Spark-first.  Each helper is a thin,
deterministic composition of DataFrame ops — Catalyst owns join strategy and
AQE owns runtime re-planning; we only add the hints Catalyst cannot infer
(broadcast of known-small dimensions, deterministic tie-breaks).

Scale notes per operator are in the docstrings; the common themes:
- deterministic results: every row_number window orders by a unique key last,
  so reruns and re-partitions return identical rows (required both by the
  DuckDB-oracle harness and by idempotent downstream MERGEs);
- latest-per-key and top-k-per-group shuffle once on the partition key;
- the interval (range) join broadcasts the small periods side — at 100 TB the
  events side streams through executors without a shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def latest_per_key(
    df: DataFrame, key_cols: list[str], order_col: str, tiebreak_cols: list[str]
) -> DataFrame:
    """Latest row per key: ``row_number() OVER (PARTITION BY key ORDER BY
    order DESC, tiebreaks DESC) = 1`` (SURVEY.md §2.6 'latest location per
    vehicle').

    One shuffle on ``key_cols``; with a bucketed/pre-partitioned source the
    exchange is elided.  Tie-break columns make the pick deterministic.
    """
    w = Window.partitionBy(*key_cols).orderBy(
        F.desc(order_col), *[F.desc(c) for c in tiebreak_cols]
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def topk_per_group(
    df: DataFrame,
    group_cols: list[str],
    order_exprs: list[Column],
    k: int,
) -> DataFrame:
    """Top-k rows per group with deterministic ordering.

    ``order_exprs`` must end with a unique-key expression so rank ties cannot
    reorder across engines/partitionings.  Adds column ``rk`` (1-based).
    """
    w = Window.partitionBy(*group_cols).orderBy(*order_exprs)
    return df.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)


def interval_join(
    facts: DataFrame,
    periods: DataFrame,
    ts_col: str,
    start_col: str,
    end_col: str,
    broadcast_periods: bool = True,
) -> DataFrame:
    """Theta-join facts to enclosing periods: ``start <= ts <= end``
    (SURVEY.md §2.4: locations inside an operating period).

    Physical strategy: broadcast-nested-loop with the (small) periods side
    broadcast — the 100 TB facts side never shuffles.  For two large sides,
    pre-bucket both by a common coarse time grain and equi-join on the bucket
    before the range predicate (not needed for the reference's data shape,
    where periods per org number in the hundreds).
    """
    right = F.broadcast(periods) if broadcast_periods else periods
    cond = (facts[ts_col] >= right[start_col]) & (facts[ts_col] <= right[end_col])
    return facts.join(right, cond)


def bucketed_range_join(
    facts: DataFrame,
    periods: DataFrame,
    ts_col: str,
    start_col: str,
    end_col: str,
    grain_seconds: int = 86_400,
) -> DataFrame:
    """Interval join for TWO LARGE sides — the scale path
    :func:`interval_join`'s docstring promises: equi-join on a coarse time
    bucket, then the residual range predicate.

    Each fact carries ONE bucket (``floor(unix(ts)/grain)``); each period
    explodes to every bucket its ``[start, end]`` span overlaps.  The join
    becomes a plain hash equi-join on the bucket — both sides shuffle on a
    uniformly distributed key instead of one side broadcasting or the plan
    degenerating to a nested-loop over every (fact, period) pair.  A
    (fact, period) match meets in exactly the fact's own bucket, so no
    dedup is needed.  Pick ``grain_seconds`` near the typical period
    length: period rows replicate ~span/grain times (the explode cost),
    while a coarser grain admits more false candidates into the residual
    filter — the classic partitioned-interval-join trade.
    """
    grain = F.lit(grain_seconds).cast("long")
    fb = facts.withColumn(
        "__bucket", F.floor(F.unix_timestamp(F.col(ts_col)) / grain)
    )
    pb = periods.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.floor(F.unix_timestamp(F.col(start_col)) / grain),
                F.floor(F.unix_timestamp(F.col(end_col)) / grain),
            )
        ),
    )
    return (
        fb.join(pb, "__bucket")
        .filter(
            (F.col(ts_col) >= F.col(start_col)) & (F.col(ts_col) <= F.col(end_col))
        )
        .drop("__bucket")
    )


def suggest_salt_buckets(
    df: DataFrame, key_cols: list[str], cap: int = 256
) -> int:
    """The skew pre-flight's salt recommendation as ONE driver scalar:
    ``ceil(hottest-key rows / mean-per-key rows)``, capped — exactly the
    ``suggested_salt`` column of :func:`operators.profile.skew_report`
    for the heaviest key, computed as a single map-side-combinable
    aggregate (per-key counts folded to one max/avg row).  1 means "not
    skewed, don't salt"."""
    row = (
        df.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .agg(
            F.max("cnt").alias("max_cnt"), F.avg("cnt").alias("avg_cnt")
        )
        .collect()
    )
    if not row or row[0]["max_cnt"] is None:
        return 1
    import math

    return max(1, min(cap, math.ceil(row[0]["max_cnt"] / row[0]["avg_cnt"])))


def salted_equijoin(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    salt_buckets: int | str = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: spread each hot left key over
    ``salt_buckets`` shuffle partitions by salting the left side with a
    deterministic per-row hash and replicating the right side once per salt.

    AQE's skew-join split (on by default in session.py) handles most skew at
    runtime by splitting oversized partitions; manual salting remains the
    tool when one key is so hot it skews even a single *map* task, or when
    AQE is unavailable (streaming joins).  The salt derives from xxhash64 of
    the whole left row — deterministic, no RNG, stable under retries.

    Right-side replication multiplies the smaller input by ``salt_buckets``
    — choose it ~ (hottest-key rows / average-key rows), not larger.
    ``salt_buckets="auto"`` runs that measurement for you (one bounded
    aggregate over the left side via :func:`suggest_salt_buckets`) so
    the skew pre-flight drives the plan; when the measurement says the
    key is NOT skewed (suggestion = 1) the join is a plain unsalted
    equi-join — no replication tax on healthy data.

    ``how`` is restricted to left-preserving joins: with right/full outer
    an unmatched right row would be emitted once per salt replica (none of
    the ``salt_buckets`` copies match), duplicating output rows.
    """
    allowed = {"inner", "left", "left_outer", "leftouter", "left_semi",
               "leftsemi", "left_anti", "leftanti", "cross"}
    if how.lower() not in allowed:
        raise ValueError(
            f"salted_equijoin supports left-preserving joins only "
            f"(got how={how!r}): right/full outer would emit each unmatched "
            f"right row {salt_buckets}x (once per salt replica)"
        )
    if salt_buckets == "auto":
        salt_buckets = suggest_salt_buckets(left, [left_key])
    if not isinstance(salt_buckets, int) or salt_buckets < 1:
        raise ValueError(f"salt_buckets must be a positive int or 'auto', got {salt_buckets!r}")
    if salt_buckets == 1:
        # measured unskewed: plain equi-join, no replication
        return left.join(right, left[left_key] == right[right_key], how)
    salted_l = left.withColumn(
        "__salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(salt_buckets)).cast("int"),
    )
    salts = F.explode(
        F.sequence(F.lit(0), F.lit(salt_buckets - 1))
    ).alias("__salt")
    salted_r = right.select("*", salts)
    joined = salted_l.join(
        salted_r,
        (salted_l[left_key] == salted_r[right_key]) & (salted_l["__salt"] == salted_r["__salt"]),
        how,
    )
    return joined.drop("__salt")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
) -> DataFrame:
    """As-of (backward, inclusive) join: for each left row, attach the
    ``value_cols`` of the latest right row with ``right_ts <= left_ts`` and
    matching keys.  The telemetry classic: "vehicle state at event time".

    Spark-first strategy: instead of a per-row range probe (quadratic blow-up
    on a theta join), tag both inputs, UNION them, and carry the last
    non-null right payload forward with ``last(..., ignorenulls=True)`` over
    a window partitioned by key and ordered by (ts, side).  One shuffle on
    the key, linear state, no broadcast requirement — both sides can be
    100 TB.  Right rows sort before left rows at equal timestamps, making
    the join inclusive; ties among right rows resolve to the last under the
    (ts, side) order extended by ``value_cols`` for full determinism.
    """
    payload_cols = list(value_cols)
    if right_ts not in payload_cols:
        payload_cols.append(right_ts)
    payload = F.struct(*[right[c] for c in payload_cols])
    r = right.select(
        *[right[k] for k in key_cols],
        right[right_ts].alias("__ts"),
        F.lit(0).alias("__side"),
        payload.alias("__payload"),
    )
    l = left.select(
        "*",
        left[left_ts].alias("__ts"),
        F.lit(1).alias("__side"),
        F.lit(None).cast(r.schema["__payload"].dataType).alias("__payload"),
    )
    unioned = l.unionByName(r.select(*key_cols, "__ts", "__side", "__payload"), allowMissingColumns=True)
    w = (
        Window.partitionBy(*key_cols)
        .orderBy("__ts", "__side", "__payload")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = unioned.withColumn(
        "__asof", F.last("__payload", ignorenulls=True).over(w)
    )
    out = carried.filter(F.col("__side") == 1)
    for c in value_cols:
        out = out.withColumn(c, F.col(f"__asof.{c}"))
    return out.drop("__ts", "__side", "__payload", "__asof")


def sessionize(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    gap_seconds: int,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Gap-based sessionization: assign a per-key session sequence number
    that increments whenever the gap to the previous event exceeds
    ``gap_seconds``.  Adds column ``session_seq`` (1-based).

    lag + running SUM over one window — a single shuffle on the key, no
    state beyond the window frame; at 100 TB this is the standard
    sessionization plan (and the batch twin of the streaming
    ``applyInPandasWithState`` sessionizer).
    """
    order = [F.col(ts_col), *[F.col(c) for c in (tiebreak_cols or [])]]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    prev_us = F.lag(F.unix_micros(F.col(ts_col))).over(w)
    new_session = F.when(
        prev_us.isNull()
        | ((F.unix_micros(F.col(ts_col)) - prev_us) > gap_seconds * 1_000_000),
        1,
    ).otherwise(0)
    return df.withColumn(
        "session_seq",
        F.sum(new_session).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )


def scd2_history(
    df: DataFrame,
    key_cols: list[str],
    attr_cols: list[str],
    ts_col: str,
) -> DataFrame:
    """Slowly-changing-dimension TYPE-2 history from an event/change log:
    one row per (key, run of equal tracked attributes) with
    ``valid_from`` (run's first timestamp), ``valid_to`` (next run's
    first timestamp, NULL = still current) and ``is_current`` — the
    dimension-history table a warehouse derives from its CDC/event
    stream (Kimball's SCD type 2).

    Plan shape: ONE shuffle (hash on the key); the change-flag window,
    the running-sum run id, the per-run aggregate, and the lead() that
    closes intervals all reuse that partitioning, so a 100 TB log
    sessionizes into history without a second exchange.  Rows at equal
    timestamps order by the attribute values (deterministic cross-engine
    tiebreak); attribute comparisons are null-safe, so NULL -> value and
    value -> NULL transitions open new intervals.
    """
    order = [F.col(ts_col), *[F.col(c) for c in attr_cols]]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    changed = F.lit(False)
    for c in attr_cols:
        changed = changed | ~F.col(c).eqNullSafe(F.lag(F.col(c)).over(w))
    first_row = F.lag(F.col(ts_col)).over(w).isNull()
    run = F.sum(
        F.when(first_row | changed, 1).otherwise(0)
    ).over(w.rowsBetween(Window.unboundedPreceding, 0))
    runs = df.select(
        *key_cols, *attr_cols, F.col(ts_col), run.alias("_run")
    )
    hist = runs.groupBy(*key_cols, "_run").agg(
        F.min(ts_col).alias("valid_from"),
        *[F.first(c).alias(c) for c in attr_cols],  # constant within a run
    )
    # equal-timestamp runs (distinct attr tuples sharing a min ts) order
    # by the attrs — the same tiebreak the event window used, so the
    # closing lead() is deterministic cross-engine
    wk = Window.partitionBy(*key_cols).orderBy(
        F.col("valid_from"), *[F.col(c) for c in attr_cols]
    )
    nxt = F.lead(F.col("valid_from")).over(wk)
    return hist.select(
        *key_cols,
        *attr_cols,
        "valid_from",
        nxt.alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


def scd2_enrich(
    facts: DataFrame,
    dim_hist: DataFrame,
    key: str,
    ts_col: str,
    attr_cols: list[str],
) -> DataFrame:
    """Point-in-time dimension lookup: attach to each fact the SCD2
    attributes VALID AT its timestamp (``valid_from <= ts < valid_to``)
    — the join every Kimball type-2 dimension exists to serve.

    Spark-first strategy: because a key's validity intervals partition
    time, "the interval containing ts" is "the latest valid_from at or
    before ts" — an AS-OF join (:func:`asof_join`: union + one window,
    ONE shuffle on the key, both sides can be 100 TB, no range-join
    explosion), plus a residual liveness check that nulls the
    attributes when the matched interval CLOSED before the fact (a
    membership gap after a full-snapshot removal).  Facts before the
    key's first interval, or with no dimension key at all, keep NULL
    attributes — a plain left-join posture."""
    right = dim_hist.select(
        F.col(key),
        F.col("valid_from").alias("_vf"),
        *[F.col(c) for c in attr_cols],
        F.col("valid_to").alias("_vt"),
    )
    out = asof_join(
        facts, right, [key], ts_col, "_vf", value_cols=[*attr_cols, "_vt"]
    )
    live = F.col("_vt").isNull() | (F.col(ts_col) < F.col("_vt"))
    for c in attr_cols:
        out = out.withColumn(c, F.when(live, F.col(c)))
    return out.drop("_vt")


def dedup_first_wins(
    df: DataFrame, key_cols: list[str], order_cols: list[Column]
) -> DataFrame:
    """Order-stable variant of ``dropDuplicates`` (SURVEY.md §2.5 A3): keeps
    the first row per key under an explicit total order, unlike the
    reference's pandas ``keep="first"`` which depends on S3 listing order."""
    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def profile_columns(
    df: DataFrame, cols: list[str], approx: bool = False
) -> DataFrame:
    """Data-profiling report: one row per column — ``(column, n_rows,
    n_null, n_distinct, min_value, max_value)`` with extremes rendered as
    strings so heterogeneous column types share one schema.

    The whole profile is ONE aggregate over ONE scan: every column's
    metrics are computed as parallel aggregate expressions, packed into an
    array of structs, and exploded into rows — profiling k columns costs
    the same scan as profiling one.  ``n_distinct`` is EXACT by default
    (a full distinct per column — the oracle-checkable form);
    ``approx=True`` is the 100 TB path: ``approx_count_distinct``'s
    mergeable HLL state (~5% rsd) aggregates map-side so the profile never
    shuffles more than sketch partials.  Reference analog: the
    monitoring queries the pipeline runs over its warehouse tables,
    /root/reference/src/helper/postgres.py:88-129."""
    aggs = []
    for c in cols:
        aggs.append(
            F.struct(
                F.lit(c).alias("column"),
                F.count(F.lit(1)).alias("n_rows"),
                (F.count(F.lit(1)) - F.count(F.col(c))).alias("n_null"),
                (
                    F.approx_count_distinct(F.col(c))
                    if approx
                    else F.countDistinct(F.col(c))
                ).alias("n_distinct"),
                F.min(F.col(c)).cast("string").alias("min_value"),
                F.max(F.col(c)).cast("string").alias("max_value"),
            ).alias(f"_m_{c}")
        )
    packed = df.agg(*aggs)
    return packed.select(
        F.explode(F.array(*[F.col(f"_m_{c}") for c in cols])).alias("m")
    ).select("m.*")


def conversion_funnel(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    max_gap_seconds: int | None = None,
) -> DataFrame:
    """Strictly-ordered conversion funnel: how many users performed
    ``steps[0]``, then ``steps[1]`` at a strictly later timestamp, then
    ``steps[2]`` later still, … — the earliest-qualifying match at each
    stage (the standard product-analytics funnel; reference's warehouse
    has the events but answers this only by export).

    One shuffle, no UDF: events are pre-filtered to the step types
    (irrelevant rows never shuffle), collected per user as a sorted
    ``array<struct<ts,type>>``, and matched by a single ``aggregate``
    fold whose state is (stage reached, ts of that stage's match) — the
    per-user array is bounded by the user's STEP-RELEVANT activity, not
    total activity, and the fold is a codegen-free but Arrow-free pure
    Catalyst expression.  For pathological single-user volumes, pre-cap
    with a per-(user, type) earliest-k window upstream.

    Output: one row per stage — ``(stage_idx, step, n_users,
    conversion_rate)`` where the rate is vs the PREVIOUS stage (stage 1's
    is vs the number of users with any step-relevant event, making the
    first row a reach metric)."""
    fl = events.filter(F.col(type_col).isin(list(steps))).select(
        F.col(user_col).alias("_u"),
        F.col(ts_col).alias("_ts"),
        F.col(type_col).alias("_ty"),
    )
    arr = F.sort_array(F.collect_list(F.struct("_ts", "_ty")))
    steps_arr = F.array(*[F.lit(s) for s in steps])
    state0 = F.struct(
        F.lit(0).cast("int").alias("stage"),
        F.lit(None).cast("timestamp").alias("ts"),
    )

    def _advance(acc, ev):
        can = (
            (acc["stage"] < F.lit(len(steps)))
            & (ev["_ty"] == F.element_at(steps_arr, acc["stage"] + 1))
            & (acc["ts"].isNull() | (ev["_ts"] > acc["ts"]))
        )
        if max_gap_seconds is not None:
            # time-bound funnel: each NEXT stage must land within the
            # gap of the previous stage's match (greedy earliest-match
            # semantics preserved; stage 1 is unconstrained)
            can = can & (
                acc["ts"].isNull()
                | (
                    F.unix_micros(ev["_ts"]) - F.unix_micros(acc["ts"])
                    <= F.lit(int(max_gap_seconds) * 1_000_000)
                )
            )
        return F.when(
            can,
            F.struct(
                (acc["stage"] + 1).cast("int").alias("stage"),
                ev["_ts"].alias("ts"),
            ),
        ).otherwise(acc)

    per_user = fl.groupBy("_u").agg(
        F.aggregate(arr, state0, _advance)["stage"].alias("reached")
    )
    counts = per_user.agg(
        F.count(F.lit(1)).alias("n0"),
        *[
            F.sum((F.col("reached") >= i + 1).cast("long")).alias(f"n{i + 1}")
            for i in range(len(steps))
        ],
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(i + 1).alias("stage_idx"),
                F.lit(s).alias("step"),
                F.col(f"n{i + 1}").alias("n_users"),
                F.round(
                    F.col(f"n{i + 1}")
                    / F.nullif(F.col(f"n{i}"), F.lit(0)),
                    6,
                ).alias("conversion_rate"),
            )
            for i, s in enumerate(steps)
        ]
    )
    return counts.select(F.explode(rows).alias("r")).select("r.*")


def retention_cohorts(
    events: DataFrame,
    max_offset: int = 3,
    period_days: int = 7,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Cohort retention: users are cohorted by their FIRST-event day;
    retention at offset k is the share of the cohort active in the k-th
    ``period_days`` window (default week) after that first event.

    Two aggregates and one broadcastable join: first-event per user
    (one groupBy), then each event row maps to (cohort_day, offset)
    and distinct users count per cell.  The per-user relation is
    |users|-sized — the natural broadcast side at any event volume.
    Offsets beyond ``max_offset`` are dropped (bounded output).

    Output: ``(cohort_day, offset, n_active, cohort_size,
    retention_rate)``, where ``cohort_day`` is the cohort's shared
    first-activity day and offset 0 is the cohort itself (rate 1.0)."""
    first = events.groupBy(F.col(user_col).alias("_u")).agg(
        F.min(F.to_date(ts_col)).alias("_first_day")
    )
    cohorted = (
        events.select(
            F.col(user_col).alias("_u"), F.to_date(ts_col).alias("_day")
        )
        .join(F.broadcast(first), "_u")
        .select(
            "_u",
            F.col("_first_day"),
            F.floor(
                F.datediff(F.col("_day"), F.col("_first_day"))
                / period_days
            ).cast("int").alias("offset"),
        )
        .filter(F.col("offset") <= max_offset)
    )
    sizes = first.groupBy("_first_day").agg(
        F.countDistinct("_u").alias("cohort_size")
    )
    out = (
        cohorted.groupBy("_first_day", "offset")
        .agg(F.countDistinct("_u").alias("n_active"))
        .join(F.broadcast(sizes), "_first_day")
        .select(
            F.col("_first_day").alias("cohort_day"),
            "offset",
            "n_active",
            "cohort_size",
            F.round(F.col("n_active") / F.col("cohort_size"), 6).alias(
                "retention_rate"
            ),
        )
    )
    return out


def market_basket_pairs(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_pair_count: int = 2,
    topk: int = 20,
) -> DataFrame:
    """Frequent item-pair mining with association metrics — the 2-itemset
    core of Apriori (Agrawal & Srikant, VLDB '94) as pure DataFrame ops:
    for every unordered item pair appearing in ≥ ``min_pair_count``
    baskets, emit support, both directional confidences, and lift; top-k
    by lift.

    Scale shape: items dedup per basket (one groupBy-distinct), the ONLY
    quadratic step is the within-basket self-join and it is bounded by
    Apriori pruning — a pair can only reach ``min_pair_count`` if both
    items do, so items below the threshold are filtered BEFORE the join
    (the broadcastable item-count relation does double duty: pruning
    filter and lift denominator).  Per-basket cost is |frequent items in
    basket|², not |basket|².  Top-k is a TakeOrderedAndProject."""
    # Materialized ONCE (lineage-truncated, auto-cleaned): this relation
    # feeds the basket count, the item counts, AND both sides of the
    # pair self-join — without the checkpoint the (possibly join-heavy)
    # upstream ran 4-5x (46-Exchange plan at sf0.1; ~8 after).  The
    # basket count below forces an action anyway, so eager
    # materialization costs nothing extra.
    baskets = df.select(
        F.col(basket_col).alias("_b"), F.col(item_col).alias("_i")
    ).distinct().localCheckpoint(eager=True)
    n_baskets = baskets.select("_b").distinct().count()
    item_cnt = baskets.groupBy("_i").agg(F.count(F.lit(1)).alias("_ic"))
    frequent = item_cnt.filter(F.col("_ic") >= min_pair_count)
    pruned = baskets.join(
        F.broadcast(frequent.select("_i")), "_i"
    ).select("_b", "_i")
    a, b = pruned.alias("pa"), pruned.alias("pb")
    pairs = (
        a.join(
            b,
            (F.col("pa._b") == F.col("pb._b"))
            & (F.col("pa._i") < F.col("pb._i")),
        )
        .select(
            F.col("pa._i").alias("item_a"), F.col("pb._i").alias("item_b")
        )
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("pair_count"))
        .filter(F.col("pair_count") >= min_pair_count)
    )
    ca = F.broadcast(item_cnt.select(F.col("_i").alias("item_a"), F.col("_ic").alias("_ca")))
    cb = F.broadcast(item_cnt.select(F.col("_i").alias("item_b"), F.col("_ic").alias("_cb")))
    out = (
        pairs.join(ca, "item_a")
        .join(cb, "item_b")
        .select(
            "item_a",
            "item_b",
            "pair_count",
            F.round(F.col("pair_count") / F.lit(float(n_baskets)), 6).alias(
                "support"
            ),
            F.round(F.col("pair_count") / F.col("_ca"), 6).alias("conf_a_to_b"),
            F.round(F.col("pair_count") / F.col("_cb"), 6).alias("conf_b_to_a"),
            F.round(
                F.col("pair_count")
                * F.lit(float(n_baskets))
                / (F.col("_ca") * F.col("_cb")),
                6,
            ).alias("lift"),
        )
    )
    return out.orderBy(
        F.col("lift").desc(), F.col("item_a").asc(), F.col("item_b").asc()
    ).limit(topk)


def markov_transitions(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    state_col: str,
) -> DataFrame:
    """First-order Markov transition matrix over per-key ordered state
    sequences: for every observed ``(prev_state, next_state)`` pair, the
    transition count and the conditional probability
    ``P(next | prev) = n(prev, next) / n(prev, *)``.

    The classic next-event model behind session analysis ("what follows a
    click?") and behavioral anomaly detection.  Plan shape: ONE shuffle on
    the key partitioning for the ``lag`` window, then a map-side-combinable
    pair count; the per-``prev`` normalizer is a window over the aggregated
    matrix (at most |states|^2 rows), so nothing beyond the sequence
    shuffle scales with the data.  Determinism: ``order_cols`` must be a
    total order per key (pass a unique tiebreaker); probabilities are exact
    integer ratios rounded at 6dp, so a lag-window SQL twin hash-matches.

    Reference analog: none — the reference loads the mart and leaves
    analytics to warehouse SQL (/root/reference/README.md:48-51,
    /root/reference/src/helper/postgres.py); sequence structure is new
    capability.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    seq = df.select(
        *key_cols,
        *order_cols,
        F.col(state_col).alias("_next"),
    ).withColumn("_prev", F.lag("_next").over(w))
    matrix = (
        seq.filter(F.col("_prev").isNotNull())
        .groupBy(F.col("_prev").alias("prev_state"), F.col("_next").alias("next_state"))
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    norm = Window.partitionBy("prev_state")
    return matrix.select(
        "prev_state",
        "next_state",
        "n_transitions",
        F.round(
            F.col("n_transitions")
            / F.sum("n_transitions").over(norm).cast("double"),
            6,
        ).alias("prob"),
    )


def ema_by_key(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    value_col: str,
    alpha: float = 0.3,
) -> DataFrame:
    """Exponentially-weighted moving average per key: the final EMA of
    ``value_col`` over each key's sequence ordered by ``order_cols``
    (``ema_1 = v_1``; ``ema_i = alpha * v_i + (1 - alpha) * ema_{i-1}``),
    plus the point count.

    EMA is an inherently sequential left fold, so it is computed per key
    with ``array_sort(collect_list(...))`` + a Catalyst ``aggregate`` fold
    — ONE shuffle, no Python.  The per-key sequence must fit one executor's
    memory, the same bound every per-entity trajectory/packing operator in
    this repo documents; the alternative closed form
    ``sum(v_j * (1-a)^(i-j))`` needs ``(1-a)^-j`` terms that overflow
    doubles beyond ~1k points, so the fold is the SCALABLE form, not a
    shortcut.  Determinism: the fold is a fixed left-to-right chain of
    IEEE double ops — identical in any engine that folds the same order
    (DuckDB's ``list_reduce`` twin is bit-exact) — rounded at 6dp.
    """
    a = float(alpha)
    ordered = F.array_sort(
        F.collect_list(F.struct(*[F.col(c) for c in order_cols], F.col(value_col).alias("_v")))
    )
    vals = F.transform(ordered, lambda s: s["_v"].cast("double"))
    ema = F.aggregate(
        vals,
        F.lit(None).cast("double"),
        lambda acc, x: F.coalesce(x * F.lit(a) + acc * F.lit(1.0 - a), x),
    )
    return (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(*key_cols)
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.round(ema, 6).alias("ema"),
        )
    )


def forward_fill(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    value_col: str,
    out_col: str | None = None,
) -> DataFrame:
    """Last-observation-carried-forward imputation (LOCF): per key, each
    NULL in ``value_col`` takes the most recent non-NULL value in
    ``order_cols`` order (rows before the first observation stay NULL) —
    the standard gap-fill for irregular telemetry before resampling or
    windowed math.

    One window on the key partitioning, ``last(..., ignorenulls=True)``
    over the unbounded-preceding frame — an incremental running state,
    no per-row scan-back.  Adds ``out_col`` (default
    ``<value_col>_filled``); the raw column is kept so imputed rows stay
    distinguishable.
    """
    from pyspark.sql import Window

    out = out_col or f"{value_col}_filled"
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(out, F.last(F.col(value_col), ignorenulls=True).over(w))


def time_weighted_avg(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    value_col: str,
    order_tiebreak: list[str] | None = None,
) -> DataFrame:
    """Time-weighted average per key over an irregularly-sampled series:
    each observation holds until the next one (zero-order hold), so

        twa = Σ v_i · (t_{i+1} - t_i)  /  Σ (t_{i+1} - t_i)

    — the correct mean for telemetry where sample spacing varies (a
    plain AVG over-weights chatty periods).  The final observation
    carries no interval and drops out; single-point keys return NULL.

    ONE shuffle: the ``lead`` window and the aggregate share the key
    partitioning.  Engine-exact: intervals are exact integer
    microseconds, each ``v·dt`` product quantizes to DECIMAL before the
    order-independent exact sum, and only the final ratio is a double.
    Output: ``(key..., n_intervals, twa)``.
    """
    from pyspark.sql import Window

    tie = list(order_tiebreak or [])
    w = Window.partitionBy(*key_cols).orderBy(ts_col, *tie)
    dt = (
        F.unix_micros(F.lead(F.col(ts_col)).over(w))
        - F.unix_micros(F.col(ts_col))
    ).cast("decimal(28,6)")
    staged = df.filter(F.col(value_col).isNotNull()).select(
        *key_cols,
        dt.alias("_dt"),
        F.col(value_col).cast("double").alias("_v"),
    ).filter(F.col("_dt").isNotNull())
    num = F.sum((F.col("_v") * F.col("_dt")).cast("decimal(38,6)"))
    den = F.sum(F.col("_dt").cast("decimal(38,6)"))
    return staged.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.round((num.cast("double") / den.cast("double")), 6).alias("twa"),
    )


def concentration_report(
    df: DataFrame,
    group_cols: list[str],
    entity_cols: list[str],
    value_col: str,
) -> DataFrame:
    """Market-concentration metrics per group over entity-level value
    shares: entity count, top-1 share, Herfindahl-Hirschman index
    (Σ share²) and Gini coefficient — the standard "how concentrated is
    this segment's revenue" screen behind antitrust-style dashboards and
    corpus-domination checks alike.

    Gini uses the rank formulation G = 2·Σ i·x_(i) / (n·Σx) − (n+1)/n
    with a deterministic (value, entity) tiebreak — tie permutations
    swap equal values between adjacent ranks, so the weighted sum (and
    G) is tie-order-invariant.  ONE shuffle: the entity rollup, the
    group totals window, the rank window, and the final aggregate all
    share the group partitioning.  Engine-exact: entity values and the
    rank-weighted products accumulate in DECIMAL; shares are quantized
    at 10dp before the HHI squares (identical double ops both engines).
    Output: ``(group..., n_entities, top1_share, hhi, gini)``.
    """
    from pyspark.sql import Window

    dec = "decimal(38,6)"
    per_entity = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(*group_cols, *entity_cols)
        .agg(F.sum(F.col(value_col).cast(dec)).alias("_v"))
    )
    wg = Window.partitionBy(*group_cols)
    wr = Window.partitionBy(*group_cols).orderBy(
        F.col("_v").asc(), *[F.col(c).asc() for c in entity_cols]
    )
    staged = per_entity.select(
        *group_cols,
        "_v",
        F.sum("_v").over(wg).alias("_tot"),
        F.count(F.lit(1)).over(wg).alias("_n"),
        F.row_number().over(wr).cast("decimal(10,0)").alias("_i"),
    ).select(
        *group_cols,
        "_n",
        F.round(
            (F.col("_v").cast("double") / F.col("_tot").cast("double")), 10
        ).alias("_share"),
        # bounded operand widths: decimal(10,0) * decimal(28,4) is an
        # exact decimal(38,4) product in BOTH engines (Spark min(38,
        # 10+28+1); DuckDB 10+28) — a bigint * decimal(38,6) product
        # exceeds width 38, which DuckDB silently demotes to DOUBLE
        # (parity-breaking) and Spark re-rounds.  The (28,4) operand
        # keeps entity totals exact to 10^24 (any monetary reality;
        # the earlier (18,4) cast silently NULLed Spark-side at 10^14
        # while DuckDB raised — a divergent failure mode at plausible
        # magnitudes)
        (F.col("_i") * F.col("_v").cast("decimal(28,4)")).alias("_iv"),
        F.col("_v").alias("_vd"),
    )
    share2 = (F.col("_share") * F.col("_share")).cast("decimal(28,14)")
    return staged.groupBy(*group_cols).agg(
        F.first("_n").alias("n_entities"),
        F.round(F.max("_share"), 6).alias("top1_share"),
        F.round(F.sum(share2).cast("double"), 6).alias("hhi"),
        F.round(
            F.lit(2.0)
            * F.sum("_iv").cast("double")
            / (F.first("_n") * F.sum("_vd").cast("double"))
            - (F.first("_n") + 1).cast("double") / F.first("_n"),
            6,
        ).alias("gini"),
    )


def holt_forecast(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    value_col: str,
    alpha: float = 0.3,
    beta: float = 0.2,
    horizon: int = 3,
) -> DataFrame:
    """Per-key Holt double-exponential smoothing (level + trend, Holt
    1957) with an h-step linear forecast — the next telemetry primitive
    after :func:`ema_by_key`: EMA tracks a level, Holt also tracks its
    SLOPE, so a steadily-drifting metric forecasts ahead instead of
    lagging behind.

        l_1 = v_1,  b_1 = 0
        l_i = α v_i + (1-α)(l_{i-1} + b_{i-1})
        b_i = β (l_i - l_{i-1}) + (1-β) b_{i-1}
        forecast = l_n + h · b_n

    Same execution shape as EMA: an inherently sequential left fold, run
    as ``array_sort(collect_list(...))`` + ONE Catalyst ``aggregate``
    with a (level, trend) STRUCT accumulator — one shuffle, zero Python.
    Determinism: a fixed left-to-right chain of IEEE double ops,
    bit-exact against DuckDB's ``list_reduce`` over
    ``struct_pack(l, b)`` elements (the first element seeds the
    accumulator with (v_1, 0) in both engines), rounded at 6dp.  The
    per-key sequence must fit one executor's memory — the module's
    standing per-entity bound.
    """
    a, bt = float(alpha), float(beta)
    ordered = F.array_sort(
        F.collect_list(
            F.struct(*[F.col(c) for c in order_cols], F.col(value_col).alias("_v"))
        )
    )
    vals = F.transform(ordered, lambda s: s["_v"].cast("double"))

    def step(acc, x):
        new_l = F.lit(a) * x + F.lit(1.0 - a) * (acc["l"] + acc["b"])
        new_b = (
            F.lit(bt) * (F.lit(a) * x + F.lit(1.0 - a) * (acc["l"] + acc["b"]) - acc["l"])
            + F.lit(1.0 - bt) * acc["b"]
        )
        return F.when(
            acc["l"].isNull(),
            F.struct(x.alias("l"), F.lit(0.0).alias("b")),
        ).otherwise(F.struct(new_l.alias("l"), new_b.alias("b")))

    state = F.aggregate(
        vals,
        F.struct(
            F.lit(None).cast("double").alias("l"),
            F.lit(None).cast("double").alias("b"),
        ),
        step,
    )
    return (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(*key_cols)
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.round(state["l"], 6).alias("level"),
            F.round(state["b"], 6).alias("trend"),
            F.round(state["l"] + F.lit(float(horizon)) * state["b"], 6).alias(
                "forecast"
            ),
        )
    )


def holt_winters_forecast(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    value_col: str,
    season: int = 4,
    alpha: float = 0.3,
    beta: float = 0.2,
    gamma: float = 0.3,
) -> DataFrame:
    """Per-key ADDITIVE Holt-Winters triple-exponential smoothing
    (Winters 1960) — the last rung of the module's smoothing ladder
    (EMA: level; Holt: level+trend; here: level+trend+SEASON), for
    telemetry with a repeating cycle of length ``season``:

        init (first m points):  l = mean(v_1..v_m), b = 0,
                                s_j = v_j − l
        step (i > m), p = season slot of i:
            l' = α (v_i − s_p) + (1−α)(l + b)
            b' = β (l' − l) + (1−β) b
            s_p' = γ (v_i − l') + (1−γ) s_p
        one-step forecast = l + b + s_{next slot}

    Execution: the standing sequential-fold shape —
    ``array_sort(collect_list)`` + ONE Catalyst ``aggregate`` whose
    accumulator is ``struct(l, b, s: array<double>, k)`` (``k`` counts
    steps for the season slot); one shuffle, zero Python.  The season
    array updates IN-ROW via an index-conditional ``transform`` —
    engine-portable, unlike any mutate-in-place accumulator.
    Determinism: one fixed left-to-right IEEE chain; the DuckDB twin
    steps the identical chain in a per-key recursive CTE (NOT a
    struct ``list_reduce`` — the module's documented DuckDB 1.0
    field-sequential-mutation hazard), so 6dp-rounded outputs
    hash-match.  Keys need at least ``season`` points (an incomplete
    first cycle has no seasonal estimate — excluded, not zero-filled).

    Output: keys + ``(n_points, level, trend, s1..s{season},
    forecast)``.
    """
    m = int(season)
    a, bt, g = float(alpha), float(beta), float(gamma)
    ordered = F.array_sort(
        F.collect_list(
            F.struct(
                *[F.col(c) for c in order_cols], F.col(value_col).alias("_v")
            )
        )
    )
    vals = F.transform(ordered, lambda s: s["_v"].cast("double"))
    head = F.slice(vals, 1, m)
    init_l = (
        F.aggregate(head, F.lit(0.0), lambda acc, x: acc + x) / F.lit(float(m))
    )
    init = F.struct(
        init_l.alias("l"),
        F.lit(0.0).alias("b"),
        F.transform(head, lambda v: v - init_l).alias("s"),
        F.lit(0).alias("k"),
    )

    def step(acc, x):
        idx0 = F.pmod(acc["k"], F.lit(m))  # 0-based season slot
        s_p = F.element_at(acc["s"], idx0 + 1)
        new_l = F.lit(a) * (x - s_p) + F.lit(1.0 - a) * (acc["l"] + acc["b"])
        new_b = F.lit(bt) * (new_l - acc["l"]) + F.lit(1.0 - bt) * acc["b"]
        new_sp = F.lit(g) * (x - new_l) + F.lit(1.0 - g) * s_p
        new_s = F.transform(
            acc["s"],
            lambda e, j: F.when(j == idx0, new_sp).otherwise(e),
        )
        return F.struct(
            new_l.alias("l"), new_b.alias("b"), new_s.alias("s"),
            (acc["k"] + 1).alias("k"),
        )

    state = F.aggregate(
        F.slice(vals, m + 1, F.greatest(F.size(vals) - m, F.lit(0))),
        init,
        step,
    )
    # try_element_at: a key with fewer than m points has a short
    # seasonal array — it is FILTERED below, but the projection still
    # evaluates first and ANSI element_at would throw on it
    next_s = F.try_element_at(state["s"], F.pmod(state["k"], F.lit(m)) + 1)
    out_cols = [
        F.count(F.lit(1)).alias("n_points"),
        F.round(state["l"], 6).alias("level"),
        F.round(state["b"], 6).alias("trend"),
    ]
    for j in range(1, m + 1):
        out_cols.append(
            F.round(F.try_element_at(state["s"], F.lit(j)), 6).alias(f"s{j}")
        )
    out_cols.append(
        F.round(state["l"] + state["b"] + next_s, 6).alias("forecast")
    )
    return (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(*key_cols)
        .agg(*out_cols)
        .filter(F.col("n_points") >= m)
    )
