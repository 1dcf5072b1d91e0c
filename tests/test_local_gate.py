"""The small-input completion gate (``operators.local``) and the
distributed paths it guards.

Every catalog row that reaches a gated operator finishes on the driver
at test scale, so the oracle sweeps never see the distributed loops;
the forced-distributed oracle check below runs those rows with the gate
declining every input and compares them against their DuckDB oracles.
"""

import pytest

from door2door_etl_spark.operators import local


def test_rows_if_small_cap_boundary(spark):
    """``n == cap`` completes locally, ``n == cap + 1`` declines — on
    both the known-count path and the bounded-collect path."""
    cap = 7
    at, over = spark.range(cap), spark.range(cap + 1)
    assert [r.id for r in local.rows_if_small(at, cap, n=cap)] == list(
        range(cap)
    )
    assert local.rows_if_small(over, cap, n=cap + 1) is None
    assert sorted(r.id for r in local.rows_if_small(at, cap)) == list(
        range(cap)
    )
    assert local.rows_if_small(over, cap) is None


def test_rows_if_small_bounded_collect_caps_driver_rows(spark, monkeypatch):
    """Without a known count the gate brings at most ``cap + 1`` rows to
    the driver, however large the input."""
    df = spark.range(10_000, numPartitions=4)
    collect = type(df).collect
    sizes = []

    def spy(self):
        rows = collect(self)
        sizes.append(len(rows))
        return rows

    monkeypatch.setattr(type(df), "collect", spy)
    assert local.rows_if_small(df, 5) is None
    assert sizes == [6]


def test_rows_if_small_known_count_over_cap_runs_no_job(spark):
    """Above the cap with a known count the gate launches zero Spark
    jobs (statusTracker job-group census); below it, the collect is
    visible to the same census."""
    sc = spark.sparkContext
    df = spark.range(100)
    try:
        sc.setJobGroup("gate-over", "gate above its cap")
        assert local.rows_if_small(df, 99, n=100) is None
        sc.setJobGroup("gate-under", "gate at its cap")
        assert len(local.rows_if_small(df, 100, n=100)) == 100
    finally:
        sc.setJobGroup(None, None)
    tracker = sc.statusTracker()
    assert tracker.getJobIdsForGroup("gate-over") == []
    assert tracker.getJobIdsForGroup("gate-under")


# Every catalog row whose plan reaches an operator with a driver-local
# twin (the graph family, near-dup components, MMR, curation, power
# iteration, coverage-max, the BPE trainer).
GATED_ROWS = [
    "ns_pagerank_trade",
    "ns_triangle_count",
    "ns_kcore_members",
    "ns_graph_components",
    "ns_graph_communities",
    "ns_graph_modularity",
    "ns_graph_louvain",
    "ns_graph_bfs_hops",
    "ns_graph_sssp_hub",
    "ns_graph_ppr_trade",
    "ns_dedup_cluster_canonical",
    "ns_mmr_diverse_topk",
    "ns_curation_funnel",
    "ns_embedding_top_pc",
    "ns_coverage_max_select",
    "ns_bpe_merges",
]


@pytest.fixture(scope="module")
def oracle_db():
    import duckdb

    from tools.check_oracle import SF_DIR, TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.slow
@pytest.mark.parametrize("name", GATED_ROWS)
def test_forced_distributed_oracle_parity(
    spark, force_distributed, oracle_db, name
):
    """With every small-input gate declining, each gated catalog row
    still matches its DuckDB oracle (row count, columns, value hash).
    An iterative row with no SQL oracle (``ns_bpe_merges``) must match
    its own default, driver-completed answer instead."""
    from door2door_etl_spark.queries.catalog import QUERIES
    from tools.check_oracle import SF_DIR, normalize, value_hash

    q = QUERIES[name]
    with force_distributed() as declined:
        got = q.fn(spark, SF_DIR).toPandas()
    spark.catalog.clearCache()
    assert declined, f"{name} reached no gated operator"
    if q.oracle is None:
        want = q.fn(spark, SF_DIR).toPandas()
    else:
        want = oracle_db.sql(q.oracle).df()
    assert sorted(got.columns) == sorted(want.columns)
    assert len(got) == len(want)
    assert value_hash(normalize(got)) == value_hash(normalize(want))
