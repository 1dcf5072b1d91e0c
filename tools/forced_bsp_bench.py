#!/usr/bin/env python3
"""Forced-BSP wall-clock + job-count bench for the iterative graph
family — the 100 TB-path evidence (VERDICT r12 ask #1).

At bench scale the small-graph completion gates collect the aggregated
relation and finish locally, so the headline bench never times the BSP
loops.  This tool forces the distributed path (``local.rows_if_small``
patched to decline every input, ``round_stats=None`` — the REAL scale
path, not the instrumented screen) over the shared co-purchase graph
and measures, per operator:

- wall seconds (one untimed warm pass, one timed pass — the bench
  methodology), and
- Spark job count (``statusTracker`` job-group census — the
  ambient-immune structural twin of the wall number).

Usage: python tools/forced_bsp_bench.py [--sf1]   # sf from $SPARK_GRAFT_SF_DIR
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path
from unittest import mock

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if "--sf1" in sys.argv:
        sf_dir = os.environ.get(
            "SPARK_GRAFT_SF1_DIR", str(REPO / "bench_data" / "sf1")
        )
    from pyspark.sql import functions as F

    from door2door_etl_spark.operators import local
    from door2door_etl_spark.operators.dedup import connected_dedup_clusters
    from door2door_etl_spark.operators.graph import (
        bfs_hops,
        kcore_peel,
        label_propagation,
        louvain,
        pagerank,
        personalized_pagerank,
        sssp_weighted,
    )
    from door2door_etl_spark.queries.advanced_catalog import (
        KCORE_K,
        KCORE_ROUNDS,
        LOUVAIN_LEVELS,
        LOUVAIN_LOCAL_ROUNDS,
        LPA_ROUNDS,
        PAGERANK_ITERS,
    )
    from door2door_etl_spark.queries.defs import copurchase_edges
    from door2door_etl_spark.queries.insight_catalog import (
        BFS_MAX_HOPS,
        SSSP_ROUNDS,
    )
    from door2door_etl_spark.session import build_session

    spark = build_session(app_name="forced-bsp-bench")
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    edges = (
        copurchase_edges(spark, sf_dir)
        .select(
            F.col("src").cast("long"),
            F.col("dst").cast("long"),
            F.expr("(99 + c) div c").alias("w"),
        )
        .localCheckpoint(eager=True)
    )
    n_edges = edges.count()
    hub = (
        edges.select(F.col("src").alias("n"))
        .unionAll(edges.select(F.col("dst").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
        .orderBy(F.col("d").desc(), F.col("n").asc())
        .limit(1)
        .collect()[0]["n"]
    )

    cases = [
        (
            "components",
            lambda: connected_dedup_clusters(edges, "src", "dst", strict=True),
        ),
        (
            "pagerank",
            lambda: pagerank(edges, weight_col="w", iterations=PAGERANK_ITERS),
        ),
        (
            "ppr",
            lambda: personalized_pagerank(
                edges,
                restart_node=int(hub),
                weight_col="w",
                iterations=PAGERANK_ITERS,
            ),
        ),
        (
            "bfs",
            lambda: bfs_hops(edges, source=int(hub), max_hops=BFS_MAX_HOPS),
        ),
        (
            "sssp",
            lambda: sssp_weighted(edges, source=int(hub), rounds=SSSP_ROUNDS),
        ),
        ("lpa", lambda: label_propagation(edges, rounds=LPA_ROUNDS)),
        (
            "kcore",
            lambda: kcore_peel(edges, k=KCORE_K, rounds=KCORE_ROUNDS),
        ),
        (
            "louvain",
            lambda: louvain(
                edges,
                local_rounds=LOUVAIN_LOCAL_ROUNDS,
                levels=LOUVAIN_LEVELS,
            ),
        ),
    ]

    def force(df) -> None:
        df.agg(
            F.count(F.lit(1)), F.max(F.xxhash64(F.struct(*df.columns)))
        ).collect()

    out: dict = {"sf_dir": sf_dir, "edges": n_edges, "ops": {}}
    with mock.patch.object(local, "rows_if_small", return_value=None):
        for name, fn in cases:
            force(fn())  # untimed warm pass
            spark.catalog.clearCache()
            sc.setJobGroup(name, name)
            t0 = time.time()
            force(fn())
            wall = round(time.time() - t0, 3)
            sc.setJobGroup("idle", "idle")
            jobs = len(tracker.getJobIdsForGroup(name))
            spark.catalog.clearCache()
            out["ops"][name] = {"wall_s": wall, "jobs": jobs}
            print(
                f"# {name}: {wall}s, {jobs} jobs", file=sys.stderr, flush=True
            )
    out["total_wall_s"] = round(
        sum(v["wall_s"] for v in out["ops"].values()), 3
    )
    out["total_jobs"] = sum(v["jobs"] for v in out["ops"].values())
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
