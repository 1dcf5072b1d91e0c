"""Catalog smoke tests: every query runs at sf0.001 with a stable schema, the
driver contract surface is well-formed, and a few cheap known-property checks.
(Full value-level oracle parity runs in tools/check_oracle.py at sf0.01.)"""

import pytest

import __spark_entry__ as entry_mod
from door2door_etl_spark.queries.catalog import QUERIES

# Queries whose oracle-correct result can legitimately be empty at tiny SF.
MAY_BE_EMPTY = {
    "ns_minhash_lsh_pairs",
    "ns_minhash_lsh_pairs_collapsed",  # same sparsity as the plain variant
    "etl_quarantine_unknown_types",
    "etl_point_lookup",
    "etl_hour_window_filter",  # sf0.001 has ~1k events over 30 days: sparse hours
    "tpch_q7_volume_shipping",  # one specific nation pair: no traffic at sf0.001
}


def test_contract_shape():
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    assert set(oracles) <= set(qs)
    # Only the explicitly non-SQL-expressible ops may omit an oracle.
    assert set(qs) - set(oracles) == {
        # GEMM summation order may flip near-tie assignments vs the exact
        # oracle twin (ns_kmeans_ivf_centroids); rows-only by design.
        "ns_kmeans_ivf_centroids_blas",
        # xxhash64 deviates are not reproducible in DuckDB; the sha256 twin
        # (ns_minhash_lsh_pairs) is the oracle-checked path and the hash-
        # family parity property test pins the fast path to it.
        "ns_minhash_lsh_pairs_fast",
        # genuinely iterative (per-round argmax + fold): no single-statement
        # SQL oracle; the Sennrich worked example pins exact values.
        "ns_bpe_merges",
        # lossy float DCT round-trip (Huffman + dequant + IDCT) — no SQL
        # engine reproduces it closed-form; the codec is known-answer-
        # pinned in test_jpeg_codec_roundtrip_and_rejects instead.
        "ns_multimodal_jpeg_decode",
    }
    assert len(qs) == len(QUERIES)


def test_entry_flagship(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "sum_qty" in df.columns


# The two CDC/aggview rows drive a full versioned-table wave per call
# (fixture cost >> query cost — the standing bench-exclusion rationale);
# they are the suite's slowest rows by far, so they carry the ``slow``
# marker and run in the full (-m "slow or not slow") pass, keeping the
# default contract check inside the driver's verify window.
_SLOW_CATALOG_ROWS = {"ns_cdc_agg_view", "ns_aggview_rollup_serving"}


@pytest.mark.parametrize(
    "name",
    [
        pytest.param(n, marks=pytest.mark.slow)
        if n in _SLOW_CATALOG_ROWS
        else n
        for n in sorted(QUERIES)
    ],
)
def test_query_runs_sf0001(spark, sf_dir, name):
    q = QUERIES[name]
    df = q.fn(spark, sf_dir)
    n = df.count()
    assert df.columns, name
    if name not in MAY_BE_EMPTY:
        assert n > 0, f"{name} returned no rows at sf0.001"


def test_catalog_row_registers_no_catalog_table(spark, sf_dir):
    """Building and forcing a catalog row leaves the session catalog as it
    found it: the persisted-index row keeps its index in a manifest table
    under a scratch root, never a managed table under the warehouse dir."""
    before = sorted(t.name for t in spark.catalog.listTables())
    QUERIES["ns_incremental_lsh_dedup_indexed"].fn(spark, sf_dir).count()
    after = spark.catalog.listTables()
    assert sorted(t.name for t in after) == before
    assert [t.name for t in after if not t.isTemporary] == []


TPCH_SQL_FRONTEND = [
    f"tpch_q{i}_" for i in range(1, 23)
]


def test_tpch_oracles_run_via_spark_sql_frontend(spark, sf_dir):
    """Three-way parity: the DuckDB oracle SQL for every numbered TPC-H
    query is ANSI enough to run UNMODIFIED through spark.sql, and its
    result equals the DataFrame implementation row for row — pinning that
    the engine's SQL frontend and its DataFrame plans implement the same
    semantics as the external oracle.  (Analyst queries using DuckDB-only
    spellings — list functions, date_diff('day', ...) — are exercised via
    DuckDB in check_oracle instead; this covers the warehouse's portable
    SQL surface.)"""
    from door2door_etl_spark.io.readers import load_table
    from door2door_etl_spark.queries.catalog import QUERIES

    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem",
    ]:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)

    covered = 0
    for name, q in QUERIES.items():
        if not any(name.startswith(p) for p in TPCH_SQL_FRONTEND):
            continue
        via_sql = spark.sql(q.oracle)
        via_df = q.fn(spark, sf_dir)
        assert sorted(via_sql.columns) == sorted(via_df.columns), name
        cols = sorted(via_sql.columns)
        a = sorted(map(tuple, via_sql.select(*cols).collect()))
        b = sorted(map(tuple, via_df.select(*cols).collect()))
        assert a == b, f"{name}: SQL-frontend result != DataFrame result"
        covered += 1
    assert covered == 22
