"""Physical-plan assertions: the 100 TB posture, checked mechanically.

Correctness tests prove the right rows come back; these prove the right
PLAN produces them — filters reach the parquet scan, projections prune the
read schema, small dims broadcast, window top-k uses group limits, ordered
limits use TakeOrderedAndProject, persisted indexes are probed map-side, and the
hot paths stay inside WholeStageCodegen.  A regression here is a 100×
slowdown at scale that a 60k-row correctness test would never catch.
"""

import ast
import re
from pathlib import Path

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from door2door_etl_spark.operators import local
from door2door_etl_spark.operators.relational import salted_equijoin
from door2door_etl_spark.queries.catalog import QUERIES


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.fixture(scope="module")
def sf001():
    return "/root/testdata/sf0.001"


def test_q6_filter_pushdown_and_column_pruning(spark, sf001):
    """Q6's shipdate/discount/quantity predicates must reach the parquet
    scan (PushedFilters) and the scan must read only the 4 referenced
    columns, not all 11."""
    df = QUERIES["tpch_q6_revenue_forecast"].fn(spark, sf001)
    plan = formatted(df)
    assert "PushedFilters:" in plan
    assert "l_shipdate" in plan.split("PushedFilters:")[1].split("\n")[0]
    read_schema = plan.split("ReadSchema:")[1].split("\n")[0]
    assert "l_extendedprice" in read_schema
    for unused in ("l_returnflag", "l_partkey", "l_orderkey"):
        assert unused not in read_schema, f"scan reads unused column {unused}"


def test_q5_broadcasts_dimensions(spark, sf001):
    """Nation/region (and at this SF every sub-threshold side) must
    broadcast — no sort-merge on a dimension leg."""
    df = QUERIES["tpch_q5_local_supplier"].fn(spark, sf001)
    assert "BroadcastHashJoin" in plan_of(df)


def test_latest_per_key_uses_window_group_limit(spark, sf001):
    """rank<=1 per key must plan as WindowGroupLimit (partial per-partition
    top-1 before the shuffle), not a full window sort."""
    df = QUERIES["etl_latest_event_per_user"].fn(spark, sf001)
    assert "WindowGroupLimit" in plan_of(df)


def test_ordered_limit_uses_take_ordered(spark, sf001):
    """ORDER BY + LIMIT must plan as TakeOrderedAndProject (per-partition
    top-k then driver merge), never a global sort."""
    df = QUERIES["tpch_q3_shipping_priority"].fn(spark, sf001)
    assert "TakeOrderedAndProject" in plan_of(df)


def test_scan_agg_stays_in_codegen(spark, sf001):
    """The flagship scan+agg must keep filter/project/partial-agg inside
    WholeStageCodegen spans."""
    df = QUERIES["tpch_q1_pricing_summary"].fn(spark, sf001)
    df.collect()  # finalize the AQE plan; codegen spans appear as *(n)
    assert "*(" in plan_of(df)


def test_salted_join_matches_plain_join(spark):
    """Salted skew join returns exactly the plain join's multiset."""
    left = spark.createDataFrame(
        [Row(k=1, v=i) for i in range(500)] + [Row(k=2, v=i) for i in range(5)]
    )
    right = spark.createDataFrame([Row(rk=1, w="hot"), Row(rk=2, w="cold")])
    plain = left.join(right, left.k == right.rk).groupBy("k", "w").count()
    salted = salted_equijoin(left, right, "k", "rk", salt_buckets=8).groupBy(
        "k", "w"
    ).count()
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_hour_filter_prunes_partitions(spark, tmp_path):
    """A dt/hr-partitioned bronze layout must partition-prune: scanning one
    hour reads one directory, visible as PartitionFilters in the scan."""
    df = spark.range(0, 1000).select(
        F.col("id"),
        (F.col("id") % 3).alias("hr"),
    )
    df.write.partitionBy("hr").mode("overwrite").parquet(str(tmp_path / "bronze"))
    scan = spark.read.parquet(str(tmp_path / "bronze")).filter(F.col("hr") == 1)
    plan = formatted(scan)
    assert "PartitionFilters:" in plan
    pf = plan.split("PartitionFilters:")[1].split("\n")[0]
    assert "hr" in pf
    assert scan.count() == 333


def _land_hour(landing: Path, k: int, n: int = 200) -> None:
    """Hour ``k`` (from 2022-11-24 10:00) of small door2door landing JSONL:
    ``n`` vehicle events over two files, a few operating periods, one
    unknown entity."""
    import datetime as dt
    import json

    start = dt.datetime(2022, 11, 24, 10) + dt.timedelta(hours=k)
    lines = []
    for i in range(n):
        at = (start + dt.timedelta(seconds=i * 3600 // n)).isoformat() + "Z"
        kind = "vehicle" if i % 10 else "operating_period"
        data = ({"id": f"00000000-0000-0000-0000-{i % 50:012d}",
                 "location": {"lat": 52.5, "lng": 13.4, "at": at}}
                if kind == "vehicle" else
                {"id": f"op_{i}", "start": at, "finish": at})
        lines.append(json.dumps({"event": "update", "on": kind, "at": at,
                                 "organization_id": "org", "data": data}))
    lines.append(json.dumps({"event": "x", "on": "scooter",
                             "at": start.isoformat() + "Z", "data": {"id": "s"}}))
    landing.mkdir(parents=True, exist_ok=True)
    for part in range(2):
        (landing / f"events_{k:03d}_{part}.json").write_text(
            "\n".join(lines[part::2]) + "\n")


def _etl_hour(spark, landing: Path, lake: Path, k: int) -> int:
    """Land and run hour ``k`` as the deployed CLI does; returns its jobs."""
    import uuid

    from door2door_etl_spark.pipeline.executor import run_workflow

    _land_hour(landing, k)
    sc = spark.sparkContext
    group = f"etl-hour-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "one ETL hour")
    try:
        summary = run_workflow(spark, f"{landing}/*.json", str(lake))
    finally:
        sc.setJobGroup(None, None)
    assert summary["merged"] == {"vehicle_location": 180, "operating_periods": 20}
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_etl_hour_job_budget(spark, tmp_path):
    """One run_workflow(step="all") hour on a warm lake runs at most 12
    Spark jobs: one JSON scan per ingest, no schema-inference job, a MERGE
    that writes the batch and rewrites no file of an earlier hour, and one
    bookkeeping append per step.  It ran 24 before."""
    landing, lake = tmp_path / "landing", tmp_path / "lake"
    _etl_hour(spark, landing, lake, 0)
    jobs = _etl_hour(spark, landing, lake, 1)
    assert jobs <= 12, jobs


@pytest.mark.slow
def test_etl_hour_merge_cost_stays_flat(spark, tmp_path):
    """Twelve hours in, a MERGE still writes what its hour holds: the data
    files and bytes each hour's manifest adds stay flat (hour 12 within
    1.2x of hour 2), where a whole-table rewrite grows with the history."""
    import os

    from door2door_etl_spark.io.manifest import ManifestTable

    landing, lake = tmp_path / "landing", tmp_path / "lake"
    table = ManifestTable(str(lake / "warehouse" / "vehicle_location"))
    written = []
    for k in range(12):
        _etl_hour(spark, landing, lake, k)
        v = table.current_version()
        new = set(table.manifest(v)["files"]) - (
            set(table.manifest(v - 1)["files"]) if v > 1 else set())
        written.append((len(new), sum(
            os.path.getsize(os.path.join(table.files_dir, r)) for r in new)))
    (files_2, bytes_2), (files_12, bytes_12) = written[1], written[11]
    assert files_12 <= 1.2 * files_2, written
    assert bytes_12 <= 1.2 * bytes_2, written
    assert table.read(spark).count() == 12 * 180


def test_asof_join_single_shuffle_no_join_operator(spark, sf001):
    """The as-of join's union+window plan must contain exactly ONE shuffle
    (hash partition on the key) and NO join operator at all — the property
    that lets both sides be 100 TB without a broadcast or a range-join
    explosion."""
    df = QUERIES["rel_asof_signup_attribution"].fn(spark, sf001)
    plan = plan_of(df)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan, "asof should be union+window, not a join:\n" + plan


def test_salted_join_spreads_hot_key(spark):
    """Salted join partitions a hot key across salt buckets: the join key
    must include the salt column."""
    from pyspark.sql import Row

    left = spark.createDataFrame([Row(k=1, v=i) for i in range(100)])
    right = spark.createDataFrame([Row(rk=1, w="hot")])
    joined = salted_equijoin(left, right, "k", "rk", salt_buckets=4)
    assert "__salt" in plan_of(joined)


def test_q2_min_cost_uses_window_group_limit(spark, sf001):
    """The correlated-MIN rewrite (rank==1 per part) must plan as
    WindowGroupLimit with broadcast dim legs — the per-part minimum never
    materializes the full ranked fact."""
    df = QUERIES["tpch_q2_min_cost_supplier"].fn(spark, sf001)
    plan = plan_of(df)
    assert "WindowGroupLimit" in plan
    assert "BroadcastHashJoin" in plan


def test_decontaminate_broadcasts_benchmark_shingles(spark, sf001):
    """The corpus-side shingle stream must be filtered by a broadcast
    LeftSemi against the eval shingle set — the corpus never shuffles on
    the shingle key."""
    df = QUERIES["ns_decontaminate_corpus"].fn(spark, sf001)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    # The one shingle-key exchange is the *benchmark* side's distinct (tiny);
    # the corpus-side shingle stream feeds the broadcast semi directly.
    assert plan.count("Exchange hashpartitioning(shingle") == 1, plan


def test_pack_chunks_single_range_shuffle(spark):
    """The packing output plan must contain exactly the one range exchange —
    no second hash shuffle for the per-partition cumsum (the trap the
    mapInPandas scan exists to avoid)."""
    from door2door_etl_spark.operators.packing import contiguous_token_chunks

    df = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") % 7 + 1).alias("w")
    )
    # The scan is always cached (plan-shared partitioning is correctness
    # since the sf1 boundary-resample bug), so the physical plan hides
    # the exchange inside the InMemoryRelation; assert the range shuffle
    # on the ANALYZED plan (pre-cache-substitution) and the absence of
    # any hash exchange on the physical side.
    out = contiguous_token_chunks(df, "k", "w", 50, num_partitions=4)
    analyzed = out._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("RepartitionByExpression") == 1, analyzed
    plan = plan_of(out)
    assert "Exchange hashpartitioning" not in plan, plan
    spark.catalog.clearCache()


def test_q9_broadcasts_all_dimension_legs(spark, sf001):
    """Q9's four dim legs (part/supplier/nation and the filter-pruned part
    side) must broadcast; only the lineitem⋈orders fact join may shuffle."""
    df = QUERIES["tpch_q9_product_type_profit"].fn(spark, sf001)
    plan = plan_of(df)
    assert plan.count("BroadcastHashJoin") >= 3, plan


def test_q21_decorrelates_without_self_join(spark, sf001):
    """The multi-EXISTS must be one grouped pass over lineitem — no
    SortMergeJoin/self-join of the fact against itself."""
    df = QUERIES["tpch_q21_sole_returning_supplier"].fn(spark, sf001)
    plan = plan_of(df)
    assert "SortMergeJoin" not in plan, plan
    # exactly one scan of lineitem (the decorrelated grouped pass)
    assert plan.count("lineitem.parquet") <= 1 or plan.count("FileScan parquet") <= 2, plan


def test_grouping_sets_single_expand_single_shuffle(spark, sf001):
    """GROUPING SETS must plan as one Expand feeding one partial/final
    hash-aggregate pair — all three granularities share a single shuffle,
    never one pass per grouping set."""
    df = QUERIES["rel_grouping_sets_order_mix"].fn(spark, sf001)
    plan = plan_of(df)
    assert plan.count("Expand") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_outliers_broadcast_stats_never_shuffle_fact(spark, sf001):
    """The per-type stats (≤ a handful of rows) must broadcast back onto
    the events fact; the only event_type exchange is the stats aggregate's
    own — the fact stream itself never repartitions."""
    df = QUERIES["rel_event_value_outliers"].fn(spark, sf001)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("Exchange hashpartitioning(event_type") == 1, plan


def test_repetition_signals_no_join_two_shuffles(spark, sf001):
    """Repetition signals are pure aggregation: one tagged explode, a
    (doc, n, gram) count shuffle, a per-doc conditional-agg shuffle — no
    joins and no third exchange."""
    df = QUERIES["ns_repetition_signals"].fn(spark, sf001)
    plan = plan_of(df)
    assert "Join" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 2, plan


def test_q12_scans_prune_to_referenced_columns(spark, sf001):
    """Q12's fact⋈fact join must read only the three referenced columns
    from each side — an unpruned lineitem scan reads ~4x the bytes."""
    df = QUERIES["tpch_q12_priority_shipping"].fn(spark, sf001)
    plan = formatted(df)
    assert "l_orderkey" in plan and "l_tax" not in plan, plan
    assert "o_totalprice" not in plan, plan


def test_sliding_chunks_shuffle_free(spark, sf001):
    """Context-window chunking must be map-only: sequence/transform/explode
    in one projection, no exchange of any kind at any data size."""
    df = QUERIES["ns_chunk_sliding_windows"].fn(spark, sf001)
    plan = plan_of(df)
    assert "Exchange" not in plan, plan


def test_kmv_by_group_uses_window_group_limit(spark, sf001):
    """The per-group k-smallest must plan as WindowGroupLimit — sketch
    state is bounded at k rows per group on every partial, never a full
    per-group sort."""
    df = QUERIES["ns_kmv_distinct_by_type"].fn(spark, sf001)
    plan = plan_of(df)
    assert "WindowGroupLimit" in plan, plan


def test_jaccard_intersection_is_candidate_bounded(spark):
    """The exact-intersection stage must join the CANDIDATE PAIRS to the
    shingle relation (cost O(|cands|·set_size)), never self-join the full
    shingle relation on the shingle (O(Σ df²) — a stop-shingle appearing in
    every document makes that join emit n²/2 rows and kills the job on a
    skewed corpus).  Mechanical check: the only join carrying a '<'
    pair-ordering predicate is the rare-shingle candidate self-join; both
    intersection joins are pure equi-joins on (pair id, shingle)."""
    from door2door_etl_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta doc{i} epsilon zeta eta") for i in range(12)],
        "doc_id long, text string",
    )
    df = ngram_jaccard_pairs(docs, shingle_n=3, max_df=5)
    join_lines = [
        ln for ln in plan_of(df).split("\n") if "Join" in ln and " < " in ln
    ]
    assert len(join_lines) == 1, (
        f"expected exactly one '<' join (the candidate self-join), got "
        f"{len(join_lines)}:\n" + "\n".join(join_lines)
    )


def test_dup_ngram_fraction_no_cartesian_and_hashed_keys(spark, sf001):
    """The cross-doc duplication metric must join shingle relations on the
    52-bit hash (8-byte shuffle keys), never cross-join or carry n-gram
    strings through the exchanges."""
    df = QUERIES["ns_dup_ngram_fraction"].fn(spark, sf001)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_token_entropy_is_two_aggregates_no_join(spark, sf001):
    """Entropy via the log-identity needs no per-doc-total join: exactly
    zero joins, explode + two hash aggregations."""
    df = QUERIES["ns_token_entropy"].fn(spark, sf001)
    plan = plan_of(df)
    assert "Join" not in plan
    assert plan.count("HashAggregate") >= 2  # partial+final pairs


def test_pii_redaction_is_map_only_scan(spark, sf001):
    """The PII scrub is a pure projection over the scan — no shuffle at all
    (Exchange appears nowhere in the plan)."""
    from door2door_etl_spark.io.readers import load_table
    from door2door_etl_spark.operators.text import redact_pii

    df = redact_pii(load_table(spark, sf001, "documents"))
    plan = plan_of(df)
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_incremental_lsh_dedup_uses_semi_and_anti_joins(spark, sf001):
    """The ingest probe must short-circuit (LeftSemi on band keys) and admit
    via LeftAnti — never materialize a candidate-pair set.  The default
    (persisted) form eagerly checkpoints the tiny colliding-id set, which
    hides the semi join behind an ExistingRDD scan in the RETURNED plan —
    so the join shape is asserted on the unpersisted form, and the catalog
    default is checked for the anti-join admission + no cartesian."""
    from door2door_etl_spark.io.readers import load_table
    from door2door_etl_spark.operators.dedup import incremental_lsh_dedup

    docs = load_table(spark, sf001, "documents")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    plan = plan_of(incremental_lsh_dedup(batch, corpus, persist_bands=False))
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "CartesianProduct" not in plan

    catalog_plan = plan_of(QUERIES["ns_incremental_lsh_dedup"].fn(spark, sf001))
    assert "LeftAnti" in catalog_plan
    assert "CartesianProduct" not in catalog_plan


def test_zorder_layout_bounds_stats_on_all_dimensions(spark, sf001, tmp_path):
    """Z-ordered files must carry TIGHT min/max stats on EVERY clustered
    column: with a single-key sort the secondary column spans ~the full
    value range in every file (no pruning possible); along the Morton curve
    each file covers a bounded sub-rectangle, so range scans on either
    column can skip most files."""
    from pathlib import Path

    import pyarrow.parquet as pq

    from door2door_etl_spark.io.writers import write_sorted_parquet, write_zorder_parquet

    li = spark.read.parquet(f"{sf001}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )

    def span_fractions(path, col):
        """Per-file fraction of the global value range the file's stats
        cover for `col`."""
        files = sorted(Path(path).glob("*.parquet"))
        spans, gmin, gmax = [], None, None
        per_file = []
        for f in files:
            md = pq.ParquetFile(f).metadata
            fmin = min(
                md.row_group(i).column(
                    next(
                        j for j in range(md.num_columns)
                        if md.row_group(i).column(j).path_in_schema == col
                    )
                ).statistics.min
                for i in range(md.num_row_groups)
            )
            fmax = max(
                md.row_group(i).column(
                    next(
                        j for j in range(md.num_columns)
                        if md.row_group(i).column(j).path_in_schema == col
                    )
                ).statistics.max
                for i in range(md.num_row_groups)
            )
            per_file.append((fmin, fmax))
            gmin = fmin if gmin is None else min(gmin, fmin)
            gmax = fmax if gmax is None else max(gmax, fmax)
        rng = (gmax - gmin) or 1
        return [(hi - lo) / rng for lo, hi in per_file]

    zpath = str(tmp_path / "z")
    spath = str(tmp_path / "s")
    write_zorder_parquet(li, zpath, ["l_orderkey", "l_partkey"], bits=8,
                         target_partitions=8)
    write_sorted_parquet(li, spath, ["l_orderkey"], target_partitions=8)

    # Single-key sort: order key clusters perfectly, part key doesn't.
    # MEDIAN, not min: repartitionByRange's reservoir sampling sometimes
    # cuts one tiny straggler file whose few rows legitimately span less
    # of the secondary range (observed as a rare flake) — the typical
    # file still covers ~the full range, which is the property at stake.
    sorted_part_spans = sorted(span_fractions(spath, "l_partkey"))
    assert sorted_part_spans[len(sorted_part_spans) // 2] > 0.8

    # Z-order: BOTH dimensions bounded well below the full range on
    # average — the multi-dimension pruning property.
    z_order_spans = span_fractions(zpath, "l_orderkey")
    z_part_spans = span_fractions(zpath, "l_partkey")
    assert sum(z_order_spans) / len(z_order_spans) < 0.6
    assert sum(z_part_spans) / len(z_part_spans) < 0.6
    # Content preserved.
    assert spark.read.parquet(zpath).count() == li.count()


def test_bucketed_range_join_avoids_nested_loop(spark, sf001):
    """The two-large-sides interval join must plan as a hash/merge
    equi-join on the time bucket — never BroadcastNestedLoopJoin — and
    return exactly the broadcast interval_join's rows."""
    from door2door_etl_spark.io.readers import load_table
    from door2door_etl_spark.operators.relational import (
        bucketed_range_join,
        interval_join,
    )

    ev = load_table(spark, sf001, "events").select("event_id", "ts", "event_type")
    periods = ev.groupBy(F.col("event_type").alias("ptype")).agg(
        F.min("ts").alias("pstart"),
        (F.min("ts") + F.expr("INTERVAL 3 DAYS")).alias("pend"),
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        bucketed = bucketed_range_join(
            ev, periods, "ts", "pstart", "pend", grain_seconds=86_400
        )
        plan = plan_of(bucketed)
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        want = sorted(
            (r["event_id"], r["ptype"])
            for r in interval_join(
                ev, periods, "ts", "pstart", "pend", broadcast_periods=False
            ).select("event_id", "ptype").collect()
        )
        got = sorted(
            (r["event_id"], r["ptype"])
            for r in bucketed.select("event_id", "ptype").collect()
        )
        assert got == want and len(got) > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_literal_query_ann_plans_single_scan(spark, sf001):
    """VERDICT r4 ask #3: the serving-path ANN entry points (provided
    query vector) must plan exactly ONE scan of the embeddings table —
    the by-id convenience forms plan a second, column-pruned scan for the
    query lookup, which a serving loop must not pay per query."""
    from door2door_etl_spark.io import load_table
    from door2door_etl_spark.operators.similarity import brute_force_topk

    emb = load_table(spark, sf001, "embeddings")
    qvec = [float(x) for x in emb.first()["embedding"]]

    import re

    def n_scans(plan: str) -> int:  # "(3) Scan parquet" detail headers
        return len(re.findall(r"^\(\d+\) Scan parquet", plan, re.MULTILINE))

    by_vec = formatted(brute_force_topk(emb, query_vec=qvec, k=5))
    assert n_scans(by_vec) == 1
    # Contrast: the by-id form needs the extra broadcast query-row scan.
    by_id = formatted(brute_force_topk(emb, query_id=0, k=5))
    assert n_scans(by_id) == 2


def test_epoch_shuffle_single_range_exchange_no_global_sort(spark, sf001):
    """The epoch shuffle must not plan the one-task global-window trap: the
    only exchange is the RANGE partitioning on the shuffle key (plus no
    SinglePartition exchange anywhere), so position assignment scales with
    partitions."""
    from door2door_etl_spark.io.readers import load_table
    from door2door_etl_spark.operators.packing import epoch_shuffle

    docs = load_table(spark, sf001, "documents").select("doc_id")
    plan = plan_of(epoch_shuffle(docs, seed=1))
    assert "rangepartitioning" in plan.lower(), plan
    assert "SinglePartition" not in plan, (
        "global one-task exchange found:\n" + plan
    )
    spark.catalog.clearCache()


def test_dv_read_masks_via_broadcast_anti_join_no_shuffle(spark, tmp_path):
    """Deletion-vector application must never shuffle the data scan: the
    DV side broadcasts and the mask is a BroadcastHashJoin LeftAnti —
    at 100 TB a DV'd read costs the scan plus a KB-scale broadcast."""
    from door2door_etl_spark.io.manifest import (
        ManifestTable,
        delete_where_manifest,
        merge_manifest,
    )

    root = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(i, f"v{i}", f"p{i % 2}") for i in range(20)],
        "k int, v string, part string",
    )
    merge_manifest(spark, root, df, key="k", partition_col="part")
    delete_where_manifest(spark, root, "k >= 15", mode="dv")
    plan = plan_of(ManifestTable(root).read(spark))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan


def test_hll_single_bounded_shuffle_with_partial_agg(spark, sf001):
    """HLL register build: ONE hash-partitioned exchange whose payload is
    (group, bucket) partial maxes — partial aggregation must appear below
    the exchange so a billion-row group ships <= 64 rows per map task."""
    from door2door_etl_spark.io.readers import load_table
    from door2door_etl_spark.operators.sketches import hll_register_table

    ev = load_table(spark, sf001, "events")
    df = hll_register_table(ev, ["event_type"], "user_id")
    plan = plan_of(df)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    # partial_max below the exchange, final max above
    assert "partial_max" in plan.lower() or plan.count("HashAggregate") >= 2, plan


def test_segment_dedup_no_window_operator(spark, sf001):
    """First-occurrence detection must compile to groupBy-min + join —
    NEVER a Window (a viral segment would funnel every copy into one
    window task; the agg form collapses them map-side)."""
    from door2door_etl_spark.io.readers import load_table
    from door2door_etl_spark.operators.dedup import segment_dedup

    docs = load_table(spark, sf001, "documents")
    plan = plan_of(segment_dedup(docs))
    assert "Window" not in plan, plan


def test_bloom_and_cms_probes_are_join_free(spark, sf001):
    """Sketch point probes fold the driver-collected bounded register set
    into literal expressions: the probe plan must contain NO join and NO
    exchange — pure map-side arithmetic over the items."""
    from door2door_etl_spark.io.readers import load_table
    from door2door_etl_spark.operators.sketches import (
        bloom_bit_table,
        bloom_probe,
        cms_point_estimate,
        cms_sketch_table,
    )
    from pyspark.sql import functions as F

    docs = load_table(spark, sf001, "documents")
    items = docs.select(F.col("doc_id").cast("string").alias("item"))
    bloom = bloom_bit_table(docs, [], "doc_id")
    cms = cms_sketch_table(docs, [], "doc_id")
    for probed in (
        bloom_probe(bloom, items, "item"),
        cms_point_estimate(cms, items, "item"),
    ):
        plan = plan_of(probed)
        assert "Join" not in plan and "Exchange" not in plan, plan


def test_manifest_lsh_index_probe_streams_index_map_side(spark, sf001, tmp_path):
    """VERDICT r5 ask #3, scale half: the manifest-versioned index has no
    bucket metadata, so its probe must never SHUFFLE the index — the index
    scan feeds broadcast hash joins only (batch keys broadcast in, matched
    keys broadcast back; data moved is O(collisions), not O(index)).  The
    broadcasts are explicit hints, so the plan holds with automatic
    broadcasting on or off (-1, the setting a 100 TB index join runs under).
    Admits accrete files; clustered compaction folds them back without
    losing a band row, and the probe property survives it."""
    from door2door_etl_spark.io.manifest import ManifestTable
    from door2door_etl_spark.io.readers import load_table
    from door2door_etl_spark.operators.dedup import ManifestLshBandIndex

    docs = load_table(spark, sf001, "documents")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    idx = ManifestLshBandIndex(spark, str(tmp_path / "lsh_man_plan"))
    table = ManifestTable(idx.root)

    def n_files() -> int:
        return len(table.manifest(table.current_version())["files"])

    idx.build(corpus.filter(F.col("doc_id") % 3 == 0))
    files_built = n_files()
    idx.admit(corpus.filter(F.col("doc_id") % 3 == 1))
    idx.admit(corpus.filter(F.col("doc_id") % 3 == 2))

    def assert_streamed():
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            for threshold in (prev, "-1"):
                spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
                probe = idx.probe(idx._band_table(batch))
                plan = plan_of(probe)
                # No sort-merge join anywhere: the index side would have
                # to exchange+sort to feed one.
                assert "SortMergeJoin" not in plan, (threshold, plan)
                # And no exchange partitioned on the join key at all — the
                # only exchanges are the batch-side minhash agg (doc_id)
                # and the tiny matched-key distinct, which is
                # rows-of-collisions sized.
                assert plan.count("BroadcastHashJoin") >= 2, (threshold, plan)
                assert probe.count() > 0  # sf0.001 documents contain dups
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    assert_streamed()
    files_before = n_files()
    rows_before = idx.scan().count()
    assert files_before > files_built  # appends accreted files

    idx.compact()

    # One target-size file per rel partition (band rows, id rows).
    assert n_files() == 2, (files_before, n_files())
    assert idx.scan().count() == rows_before
    assert_streamed()


def test_winnow_plan_hashes_each_gram_once(spark, sf001):
    """The winnowing rewrite's load-bearing property: gram hashing sits
    ABOVE the Generate (one sha256 per exploded position row), window
    minima are one per-doc window, and no nested higher-order lambda
    re-evaluates the hash array per window (the O(grams x window) shape
    measured at 305 s before the rewrite)."""
    from door2door_etl_spark.io.readers import load_table
    from door2door_etl_spark.operators.text import winnow_fingerprints

    docs = load_table(spark, sf001, "documents")
    fps = winnow_fingerprints(docs)
    plan = plan_of(fps)
    assert plan.count("Generate explode") + plan.count("Generate posexplode") >= 1
    assert "Window" in plan
    # the hash must NOT appear inside a transform/lambda (array form)
    assert "lambdafunction(sha2" not in plan.lower().replace(" ", ""), plan


def test_token_budget_sample_is_per_group_window(spark, sf001):
    """Budget sampling must be one window per group (parallel across
    groups) — never a global one-task window."""
    from door2door_etl_spark.io.readers import load_table
    from door2door_etl_spark.operators.sketches import token_budget_sample

    docs = load_table(spark, sf001, "documents")
    kept = token_budget_sample(docs, "lang", "doc_id", 1000)
    plan = plan_of(kept)
    import re

    win_specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert win_specs, plan
    assert all("lang" in w for w in win_specs), plan


def test_kcore_prune_gates_broadcast_on_weak_size(spark):
    """kcore_peel's per-round anti-join must NOT force-broadcast an
    oversized weak set: round 1 on a sparse graph weakens O(V) nodes and
    an unconditional hint overrides AQE's size gate (the one scale-killer
    plan flagged in round 8).  Small weak set -> BroadcastHashJoin
    LeftAnti; weak set above the gate -> shuffle anti-join, no broadcast
    of the weak relation."""
    from door2door_etl_spark.operators.graph import _prune_weak

    live = spark.createDataFrame(
        [(f"u{i}", f"v{i}") for i in range(50)], "u string, v string"
    )
    weak = spark.createDataFrame(
        [(f"u{i}",) for i in range(40)], "n string"
    )

    small = plan_of(_prune_weak(live, weak, 40, broadcast_weak_max_rows=100))
    assert "BroadcastHashJoin" in small and "LeftAnti" in small, small

    big = plan_of(_prune_weak(live, weak, 40, broadcast_weak_max_rows=10))
    assert "BroadcastHashJoin" not in big, big
    assert "SortMergeJoin" in big or "ShuffledHashJoin" in big, big


def test_kcore_result_invariant_across_broadcast_gate(
    spark, force_distributed
):
    """Forcing the shuffle regime (gate=0) must give byte-identical
    k-core membership to the broadcast regime."""
    import itertools

    from door2door_etl_spark.operators.graph import kcore_peel

    edges = list(itertools.combinations([f"n{i}" for i in range(5)], 2)) + [
        ("n0", "p1"), ("p1", "p2"), ("p2", "p3")
    ]
    df = spark.createDataFrame(edges, "src string, dst string")
    bcast = sorted(map(tuple, kcore_peel(df, k=3).collect()))
    # force the BSP path too so the gate comparison still exercises
    # the distributed shuffle regime
    with force_distributed():
        shuffle = sorted(
            map(tuple, kcore_peel(
                df, k=3, broadcast_weak_max_rows=0
            ).collect())
        )
    assert bcast == shuffle
    assert bcast == [(f"n{i}", 4) for i in range(5)]


def test_auto_salt_from_skew_preflight(spark):
    """salt_buckets='auto' wires the skew pre-flight into the plan: a
    planted 60%-hot-key left side auto-salts (salt column in the join
    key, suggestion > 1) and returns the plain join's multiset
    byte-for-byte; a uniform left side measures suggestion 1 and plans a
    PLAIN join — no salt column, no replication tax."""
    from door2door_etl_spark.operators.relational import suggest_salt_buckets

    hot = spark.createDataFrame(
        [Row(k=1, v=i) for i in range(600)]                 # 60% hot key
        + [Row(k=2 + (i % 40), v=i) for i in range(400)]    # 40 cold keys
    )
    right = spark.createDataFrame(
        [Row(rk=k, w=f"w{k}") for k in range(1, 42)]
    )
    n = suggest_salt_buckets(hot, ["k"])
    assert n > 1, n

    auto = salted_equijoin(hot, right, "k", "rk", salt_buckets="auto")
    assert "__salt" in plan_of(auto)
    plain = hot.join(right, hot.k == right.rk)
    assert (
        sorted(map(tuple, auto.select("k", "v", "w").collect()))
        == sorted(map(tuple, plain.select("k", "v", "w").collect()))
    )

    uniform = spark.createDataFrame(
        [Row(k=i % 40, v=i) for i in range(400)]
    )
    assert suggest_salt_buckets(uniform, ["k"]) == 1
    unsalted = salted_equijoin(
        uniform, right, "k", "rk", salt_buckets="auto"
    )
    assert "__salt" not in plan_of(unsalted)

    with pytest.raises(ValueError):
        salted_equijoin(hot, right, "k", "rk", salt_buckets="bogus")


def test_track_distance_single_exchange(spark, sf001):
    """The trajectory rollup's lag window and per-user aggregate must
    share ONE hash exchange on the user key — the second stage never
    re-shuffles."""
    df = QUERIES["rel_track_distance"].fn(spark, sf001)
    plan = plan_of(df)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "CartesianProduct" not in plan


def test_markov_transitions_no_cartesian_two_bounded_exchanges(spark, sf001):
    """The transition matrix shuffles ONCE on the sequence key (lag
    window) and once on the aggregated pair key; the P(next|prev)
    normalizer windows over the |states|^2 matrix, never over events."""
    df = QUERIES["rel_event_transition_matrix"].fn(spark, sf001)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") <= 3, plan


def test_ema_single_exchange_fold(spark, sf001):
    """Per-key EMA is ONE hash exchange (the groupBy); the fold is a
    Catalyst expression, never a Python UDF."""
    df = QUERIES["rel_ema_user_value"].fn(spark, sf001)
    plan = plan_of(df)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pmi_vocabulary_joins_broadcast(spark, sf001):
    """The pair table joins the unigram counts via BROADCAST (vocabulary
    side), and the top-k is a TakeOrderedAndProject — never a full sort."""
    df = QUERIES["ns_collocations_pmi"].fn(spark, sf001)
    plan = plan_of(df)
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_cusum_windows_share_one_exchange(spark, sf001):
    """The mean window, both running windows, and the final per-key
    aggregate all run on the SAME user_id partitioning: one hash
    exchange total."""
    df = QUERIES["rel_cusum_user_drift"].fn(spark, sf001)
    plan = plan_of(df)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "CartesianProduct" not in plan


def test_locf_single_exchange_running_window(spark, sf001):
    """LOCF is one hash exchange (the key window) — the carried value is
    an incremental running state, never a per-row scan-back join."""
    df = QUERIES["rel_locf_imputation"].fn(spark, sf001)
    plan = plan_of(df)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan, plan


def test_time_weighted_avg_single_exchange(spark, sf001):
    """The lead window and the per-key aggregate share one exchange."""
    df = QUERIES["rel_time_weighted_value"].fn(spark, sf001)
    plan = plan_of(df)
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_seasonal_profile_moments_stay_on_grain(spark, sf001):
    """The across-hours moments window runs over the 24x|types| grain —
    two bounded exchanges total, never a second pass over events."""
    df = QUERIES["rel_seasonal_hourly_anomaly"].fn(spark, sf001)
    plan = plan_of(df)
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    assert "CartesianProduct" not in plan


def test_heaps_fit_broadcasts_cut_list(spark, sf001):
    """Prefix membership tests broadcast the points-row cut list against
    the vocabulary/document relations; no global sort anywhere."""
    df = QUERIES["ns_heaps_law_fit"].fn(spark, sf001)
    plan = plan_of(df)
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "CartesianProduct" not in plan
    # no single-partition global sort window (the rank-based anti-pattern)
    assert "Window [" not in plan or "dense_rank" not in plan, plan


def test_pmi_gates_vocab_broadcast_on_measured_cut(spark):
    """pmi_collocations must NOT force-broadcast the vocabulary: the raw
    unigram table grows as N^beta and an unconditional hint would
    materialize billions of rows on the driver at the target scale (the
    same bug class as round 8's k-core finding).  The vocabulary is first
    semi-joined down to the words in the min-count-filtered pair table,
    and the hint is gated on that cut's MEASURED size: below the gate the
    count joins are BroadcastHashJoin; with the gate forced to 0 the same
    call plans shuffle joins — no hash-join broadcast anywhere."""
    from door2door_etl_spark.operators.text import pmi_collocations

    df = spark.createDataFrame(
        [(f"the quick fox {i} jumps the quick fox",) for i in range(20)],
        "text string",
    )
    small = plan_of(pmi_collocations(df, min_count=2, topk=5))
    assert "BroadcastHashJoin" in small, small

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        big = plan_of(
            pmi_collocations(df, min_count=2, topk=5, broadcast_vocab_max_rows=0)
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "BroadcastHashJoin" not in big, big
    assert "SortMergeJoin" in big or "ShuffledHashJoin" in big, big


def test_pmi_result_invariant_across_broadcast_gate(spark):
    """Forcing the shuffle regime (gate=0) must give byte-identical
    collocations to the broadcast regime."""
    from door2door_etl_spark.operators.text import pmi_collocations

    df = spark.createDataFrame(
        [("new york new york city",), ("new york is a city",), ("a b a b",)],
        "text string",
    )
    bcast = sorted(map(tuple, pmi_collocations(df, min_count=2, topk=10).collect()))
    shuffle = sorted(
        map(
            tuple,
            pmi_collocations(
                df, min_count=2, topk=10, broadcast_vocab_max_rows=0
            ).collect(),
        )
    )
    assert bcast == shuffle and bcast, bcast


def test_unique_expectation_no_forced_dup_keys_broadcast(spark):
    """The unique-rule tag join must NOT carry a forced broadcast hint:
    uniqueness checks exist precisely for batches where the key isn't
    unique, and a batch where every key doubles makes the duplicate-key
    relation O(distinct keys).  With the auto-broadcast threshold
    disabled (simulating AQE's size gate rejecting the relation), the
    planted massively-duplicated frame must plan a SHUFFLE join — a
    forced hint would broadcast regardless of the threshold."""
    from door2door_etl_spark.pipeline.expectations import (
        ExpectationSuite,
        UniqueExpectation,
    )

    suite = ExpectationSuite(
        unique_rules=[UniqueExpectation("id_unique", ("id",))]
    )
    replayed = spark.createDataFrame(
        [Row(id=i % 500, v=i) for i in range(1000)]  # every key doubled
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(suite.tag(replayed))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "BroadcastHashJoin" not in plan, plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan


def test_jaccard_rarest_k_caps_per_doc_blocking(spark):
    """block_rarest_k bounds candidate generation per DOCUMENT: the
    blocking keys pass through a per-doc row_number window (partitioned
    on the doc id, ranked by (df, shingle)), and there is still exactly
    one '<' join (the capped candidate self-join); the intersection joins
    stay pure equi-joins over the full shingle sets."""
    from door2door_etl_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta doc{i} epsilon zeta eta") for i in range(12)],
        "doc_id long, text string",
    )
    df = ngram_jaccard_pairs(docs, shingle_n=3, max_df=5, block_rarest_k=4)
    plan = plan_of(df)
    # pair enumeration is the in-row combinations explode — NO pair
    # self-join at all; the only joins are the equi set-attaching ones
    join_lines = [
        ln for ln in plan.split("\n") if "Join" in ln and " < " in ln
    ]
    assert len(join_lines) == 0, join_lines
    assert plan.count("Generate explode") >= 1, plan
    import re

    win_specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert win_specs and all("doc_id" in w for w in win_specs), plan


def test_label_propagation_bounded_per_round_shuffles(spark):
    """Each LPA round is a constant number of bounded exchanges (the
    neighbor-label join, the (node,label) count, the per-node pick
    window) — asserted on the pre-checkpoint round plan: no cartesian
    product, no nested-loop broadcast, hash exchanges only, and the
    majority pick runs as a per-node window."""
    from door2door_etl_spark.operators.graph import _lpa_round, label_propagation

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "src long, dst long"
    )
    # materialized inputs, as in the operator loop (sym persisted, labels
    # checkpointed) — the asserted exchanges are the ROUND's own
    sym = edges.unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct().selectExpr("src AS u", "dst AS v").localCheckpoint(eager=True)
    labels = (
        sym.selectExpr("u AS node", "u AS label")
        .distinct()
        .localCheckpoint(eager=True)
    )
    plan = plan_of(_lpa_round(sym, labels))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Exchange hashpartitioning") <= 4, plan
    assert "Window" in plan, plan
    # end-to-end still returns the (node, community) contract
    out = label_propagation(edges, rounds=2)
    assert out.columns == ["node", "community"]


def test_containment_one_sided_blocking_plan_shape(spark):
    """block_one_sided keeps the capped path's plan discipline: pair
    enumeration is ONE groupBy + in-row explode (no pair self-join, no
    inequality joins, no cartesian product); the rarest-k window stays
    per-doc."""
    from door2door_etl_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta doc{i} epsilon zeta eta")
         for i in range(12)],
        "doc_id long, text string",
    )
    df = ngram_jaccard_pairs(
        docs, shingle_n=3, max_df=5, with_containment=True,
        block_rarest_k=4, block_one_sided=True,
    )
    plan = plan_of(df)
    join_lines = [
        ln for ln in plan.split("\n") if "Join" in ln and " < " in ln
    ]
    assert len(join_lines) == 0, join_lines
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert plan.count("Generate explode") >= 1, plan
    import re

    win_specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert win_specs and all("doc_id" in w for w in win_specs), plan


def test_louvain_half_sweep_bounded_shuffles(spark):
    """Each Louvain half-sweep is a constant number of bounded hash
    exchanges (community mass agg, neighbor-community agg, candidate
    union agg, the score joins, the per-node pick window) — no
    cartesian product, and since m became a driver literal NO
    nested-loop join at all (the one-row m broadcast is gone)."""
    from door2door_etl_spark.operators.graph import _louvain_round

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "src long, dst long"
    )
    ew = edges.selectExpr("src AS u", "dst AS v", "CAST(1 AS LONG) AS w")
    sym = ew.unionAll(
        ew.selectExpr("v AS u", "u AS v", "w")
    ).localCheckpoint(eager=True)
    deg = (
        sym.groupBy(F.col("u").alias("node"))
        .agg(F.sum("w").alias("k"))
        .localCheckpoint(eager=True)
    )
    labels = deg.selectExpr("node", "node AS label", "k").localCheckpoint(
        eager=True
    )
    m_val = int(ew.agg(F.sum("w").alias("_m")).collect()[0]["_m"])
    plan = plan_of(_louvain_round(sym, labels, m_val, active_class=0))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Window" in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 13, plan


def test_tfidf_in_row_rle_plan_shape(spark, sf001):
    """The round-12 tfidf rewrite's contract: term frequencies emerge
    IN-ROW (no token-occurrence-level exchange), leaving exactly two
    hash exchanges — the compact per-token doc_freq aggregate and the
    per-doc top-1 window — with the df join a broadcast and the top-1
    taken map-side (WindowGroupLimit Partial before the exchange).
    The RLE expression must stay bound as columns: array_sort appears
    once per scan branch, never re-inlined per lambda element."""
    plan = plan_of(QUERIES["ns_tfidf_top_term"].fn(spark, sf001))
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "WindowGroupLimit" in plan, plan
    # one array_sort per branch that needs it (tf side; the dfreq
    # branch uses array_distinct only) — re-inlining through HOF
    # lambdas would multiply this count
    assert plan.count("array_sort") <= 2, plan.count("array_sort")


def test_copurchase_edges_no_self_join(spark, sf001):
    """The shared graph edge builder enumerates pairs IN-ROW: no join
    of the lineitem relation against itself (the old shape), no
    distinct pass — one groupBy(order) collect_set + one (src, dst)
    aggregate = exactly two hash exchanges."""
    from door2door_etl_spark.queries.defs import copurchase_edges

    plan = plan_of(copurchase_edges(spark, sf001))
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 2, plan


def test_mmr_pool_is_ordered_take(spark, sf001):
    """MMR's distributed stage: the relevance pool is a
    TakeOrderedAndProject (bounded top-N, no full sort) over ONE scan
    of the embeddings with the 1-row query side broadcast."""
    from door2door_etl_spark.io.readers import load_table
    from door2door_etl_spark.operators.similarity import (
        _query_column,
        cosine_similarity,
    )

    emb = load_table(spark, sf001, "embeddings")
    base, qcol = _query_column(emb, 0, None, "embedding", "vec_id")
    pool = (
        base.filter(F.col("vec_id") != 0)
        .select(
            "vec_id",
            "embedding",
            F.round(cosine_similarity(F.col("embedding"), qcol), 6).alias("rel"),
        )
        .orderBy(F.desc("rel"), "vec_id")
        .limit(50)
    )
    plan = plan_of(pool)
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_widen_floor_scan_splits_not_shuffles(spark, tmp_path):
    """The widen/scan-floor interaction pin (the round-12 54 s tpch_q1
    cliff): ensure_runtime_confs floors spark.sql.files.minPartitionNum
    at the session's defaultParallelism, so a mid-size MULTI-FILE table
    arrives at full width by SPLITTING at the scan and widen_if_narrow
    SKIPS — no round-robin exchange above the scan.  A single-file
    single-row-group table (the test-tier shape, unsplittable inside a
    row group) still gets the round-robin widen, with filter pushdown
    passing through it to the scan below.  Pins both regimes so a
    future conf change cannot silently re-introduce the cliff."""
    from door2door_etl_spark.io.readers import widen_if_narrow

    par = spark.sparkContext.defaultParallelism
    # the floor itself (ensure_runtime_confs ran at session build)
    assert spark.conf.get("spark.sql.files.minPartitionNum") == str(par)

    # multi-file regime: files >= width -> scan splits, guard skips
    multi = str(tmp_path / "multi")
    spark.range(100_000).withColumn("v", F.col("id") % 7).repartition(
        par * 2
    ).write.parquet(multi)
    df = spark.read.parquet(multi)
    assert df.rdd.getNumPartitions() >= par
    widened = widen_if_narrow(df)
    assert "RoundRobinPartitioning" not in plan_of(widened), plan_of(widened)

    # single-file regime: one row group -> guard repartitions; pushdown
    # passes through the exchange to the scan
    single = str(tmp_path / "single")
    spark.range(10_000).withColumn("v", F.col("id") % 7).coalesce(
        1
    ).write.parquet(single)
    narrow = spark.read.parquet(single)
    assert narrow.rdd.getNumPartitions() < par
    w2 = widen_if_narrow(narrow).filter(F.col("v") > F.lit(3))
    plan = plan_of(w2)
    assert "RoundRobinPartitioning" in plan, plan
    fmt = formatted(w2)
    assert "PushedFilters" in fmt and "GreaterThan(v,3)" in fmt, fmt


def test_local_frame_plans_local_table_scan(spark):
    """Driver-held rows reach Spark as a local relation: the executed
    plan scans a LocalTableScan, not the pickled Python RDD the list form
    of ``createDataFrame`` plans (which starts a Python worker)."""
    rows = [(1, "a"), (2, None)]
    schema = "k bigint, v string"
    df = local.frame(spark, rows, schema)
    df.collect()
    plan = plan_of(df)
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    assert "ExistingRDD" in plan_of(spark.createDataFrame(rows, schema))


def test_create_dataframe_only_in_local_frame():
    """``local.frame`` is the package's only ``createDataFrame`` caller,
    so a pickled-row frame cannot come back unnoticed."""
    pkg = Path(__file__).resolve().parent.parent / "door2door_etl_spark"
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        if path == pkg / "operators" / "local.py":
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
            ):
                offenders.append(f"{path.relative_to(pkg)}:{node.lineno}")
    assert offenders == [], offenders


def test_one_table_commit_layout():
    """One table-commit protocol: ``io/versioned.py`` is gone, and no
    engine module but ``io/manifest.py`` spells a layout name or defines
    a layout predicate — so a second commit format, or a caller that
    branches on the layout, cannot come back unnoticed."""
    pkg = Path(__file__).resolve().parent.parent / "door2door_etl_spark"
    assert not (pkg / "io" / "versioned.py").exists()
    layout = re.compile(r"_manifests|(?<![A-Za-z0-9_])_files\b|__versions|data-v")
    predicate = re.compile(r"_?is_(manifest|versioned|posix)")
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        if path == pkg / "io" / "manifest.py":
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            where = f"{path.relative_to(pkg)}:{getattr(node, 'lineno', '?')}"
            if (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and layout.search(node.value)
            ):
                offenders.append(f"{where} layout name")
            elif isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef)
            ) and predicate.fullmatch(node.name):
                offenders.append(f"{where} layout predicate {node.name}")
    assert offenders == [], offenders


# Engine definitions that no code outside tests/ names, each kept for the
# reason given.  Anything else unreached must be wired to a caller, moved
# into the tests as a reference, or deleted.
TEST_ONLY_ALLOWLIST = {
    # io
    "ManifestTable.prune_files": "file-skipping probe over manifest stats; the pruning half of read_where, pinned by the stats tests",
    "ManifestTable.read_where": "range-predicate pruned read of a manifest table (read_keys is its equality form)",
    "ManifestTable.export_snapshot": "hand-off of a snapshot as plain parquet to readers that do not speak the manifest protocol",
    "resolve_table_path": "the current view's directory: a path an in-flight plain-parquet reader can pin across commits",
    "delete_where_manifest": "predicate DELETE (copy-on-write or deletion vectors) for callers that hold a predicate, not a key frame",
    "convert_delta_to_manifest": "one-off adoption of an existing Delta table into the manifest protocol",
    "JdbcMergeSink": "the MergeSink for a JDBC warehouse; a deployment injects it, and no JDBC server runs here",
    "configure_s3a": "non-secret s3a settings for S3-compatible stores; only the opt-in live S3 test has an endpoint",
    "ChangeFeedCursor.poll": "pull-style change-feed window for replicas outside the streaming path",
    "write_sorted_parquet": "range-clustered parquet export with disjoint per-file key ranges",
    "write_zorder_parquet": "Morton-clustered parquet export for multi-column data skipping",
    # schemas
    "load_schema_registry": "loads a deployment's entity YAML; the pipeline itself runs the built-in entities",
    # operators
    "sample_frames": "video frame sampling over the AVI frame rows",
    "decode_image": "single-asset decode entry over the per-format decoders the batch operators use",
    "resize_image": "single-asset resize entry over the per-format resizers",
    "ManifestBM25Index.apply_removals": "physical purge of tombstoned documents; the maintenance half of remove()",
    "ManifestVectorIndex.apply_removals": "physical purge of tombstoned vectors; the maintenance half of remove()",
    "ManifestVectorIndex.add_auto": "ingest of vectors without a cell, assigned to the nearest stored centroid",
    "ManifestVectorIndex.retrain": "atomic recluster after add/remove churn drifts the centroids",
    "pq_train": "trained PQ codebooks; the catalog uses min-id codebooks so DuckDB can check it",
    "multi_query_topk": "batched exact top-k: one corpus scan for a query batch",
    "haversine_km": "great-circle distance column for lat/lon data",
    "bpe_encode": "the encoder half of the tokenizer API; bpe_train's rules are its input",
    # pipeline
    "read_current": "the live slice of an SCD2 dimension written by scd2_merge",
    "read_asof": "the point-in-time slice of an SCD2 dimension",
    # streaming: a deployment starts these, nothing in the repo runs a
    # long-lived stream.  Batch operators run on a stream through
    # stream_batches; what is left here is a real streaming plan or a
    # batch body with its own per-batch logic.
    "stream_events": "event stream source with the corrupt-line policy and watermark",
    "stream_hourly_counts": "tumbling 1-hour windowed event counts",
    "stream_dedup_by_key": "watermark-bounded duplicate collapse on the surrogate key",
    "stream_stream_interval_join": "time-bounded stream-stream join",
    "stream_sessionize": "stateful gap sessions (applyInPandasWithState)",
    "stream_heavy_hitters": "stateful bounded Space-Saving leaderboard",
    "stream_spatial_density": "continuously maintained grid-cell heatmap",
    "stream_hll_maintenance": "continuously MAX-merged HyperLogLog registers",
    "stream_sketch_ledger": "continuously maintained SUM-merged sketch (Count-Min, HDR) as a batch ledger",
    "read_sketch_ledger": "reader of stream_sketch_ledger's state",
    "stream_replicate_manifest_table": "continuous CDC replication off a table's commit log",
    "stream_manifest_lsh_admission": "continuous near-duplicate admission into a self-updating index",
    "stream_quality_filter_hot_reload": "continuous quality filter reading the model registry per batch",
    "stream_curate": "continuous curation funnel into the curated lake table",
    "stream_index_documents": "continuous BM25 indexing with tagged, replay-safe commits",
    "stream_validate": "continuous expectation-checked loading with quarantine",
    "stream_scd2_maintenance": "continuously maintained SCD2 dimension",
    "rate_events_source": "broker-free event source for the stream_events contract",
    "kafka_events_source": "Kafka event source; only the opt-in live test has a broker",
}


def _named_outside_tests(root: Path) -> set[str]:
    """Every identifier that non-test code uses: names, attributes,
    imported names, and identifier-shaped strings (``getattr``).
    Mentions in docstrings and comments do not count, and neither does a
    package ``__init__.py`` re-exporting a name (its imports and
    ``__all__``): a re-export is not a use."""
    sources = [
        *(root / "door2door_etl_spark").rglob("*.py"),
        *(root / "tools").glob("*.py"),
        *(root / "perfbench").glob("*.py"),
        *root.glob("*.py"),
    ]
    named = set()
    for path in sources:
        tree = ast.parse(path.read_text(), str(path))
        if path.name == "__init__.py":
            tree.body = [
                n for n in tree.body
                if not isinstance(n, (ast.Import, ast.ImportFrom))
                and not (
                    isinstance(n, ast.Assign)
                    and [getattr(t, "id", None) for t in n.targets] == ["__all__"]
                )
            ]
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                named.add(node.id)
            elif isinstance(node, ast.Attribute):
                named.add(node.attr)
            elif isinstance(node, ast.alias):
                named.add(node.name.rsplit(".", 1)[-1])
            elif isinstance(node, ast.Constant) and isinstance(node.value, str):
                if node.value.isidentifier():
                    named.add(node.value)
    return named


def test_engine_defs_reached_outside_tests():
    """Every top-level def and public method in the package is named by
    code outside ``tests/``, or sits on the allowlist with its reason,
    so engine code that only tests reach cannot pile up unnoticed."""
    root = Path(__file__).resolve().parent.parent
    pkg = root / "door2door_etl_spark"
    named = _named_outside_tests(root)
    funcs = (ast.FunctionDef, ast.AsyncFunctionDef)
    unreached = set()
    for path in sorted(pkg.rglob("*.py")):
        for node in ast.parse(path.read_text(), str(path)).body:
            if not isinstance(node, (*funcs, ast.ClassDef)):
                continue
            defs = [node.name]
            if isinstance(node, ast.ClassDef):
                defs += [
                    f"{node.name}.{m.name}"
                    for m in node.body
                    if isinstance(m, funcs) and not m.name.startswith("_")
                ]
            unreached |= {d for d in defs if d.rsplit(".", 1)[-1] not in named}
    assert sorted(unreached - TEST_ONLY_ALLOWLIST.keys()) == []
    # An allowlist entry whose name is gone or now reached is stale.
    assert sorted(TEST_ONLY_ALLOWLIST.keys() - unreached) == []
