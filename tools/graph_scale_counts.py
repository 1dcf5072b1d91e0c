#!/usr/bin/env python3
"""Structural scale screen for the GRAPH family (VERDICT r11 ask #2):
per-round moved/improved/relaxed ROW COUNTS — ambient-load-immune,
unlike wall-clock — measured at 1x (sf0.1), 10x (bench_data/sf1) and a
lineitem-only 20x tier generated here (two key-offset copies of sf1's
lineitem, so the 20x co-purchase graph is exactly two disjoint copies
of the 10x graph).

Screened counts and why each is the right structural metric:

- edges / nodes            — co-purchase graph size per tier (the
  denominator every other ratio is judged against).
- louvain moved/round      — nodes that changed community per BSP
  half-sweep (the _mv flag the early exit already counts); bounded by
  the active node class, so linear in nodes by construction — the
  screen verifies the bound HOLDS through contraction levels.
- lpa moved/round          — labels changed per synchronous round.
- components improved/round— labels improved per pointer-jumping round
  (also pins the O(log diameter) round count: rounds-to-converge must
  NOT grow with replica count, since replicas are disjoint copies).
- sssp relaxed_rows/round  — the relaxation join's row volume (the
  round's actual shuffle work) + settled frontier size.
- pagerank contrib rows    — per-round join volume == symmetrized edge
  rows, a plan constant; recorded once per tier.

Linear growth (ratio ~= replica ratio) is a PASS; sublinear is better
(e.g. louvain level-1 moves after contraction).  Rounds-to-converge
must stay FLAT across tiers (disjoint replicas cannot lengthen label
propagation paths).

Usage: python tools/graph_scale_counts.py [--skip-gen]
Writes one JSON line per (tier, operator) plus a summary table; redirect
to bench_results/rNN_graph_scale_counts.txt for the artifact.
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

SF2_REPLICAS = 2
SF2_DIR = str(REPO / "bench_data" / "sf2li")


def gen_sf2_lineitem(spark, src_sf1: str) -> None:
    """lineitem-only 20x tier: two copies of sf1's lineitem with key
    offsets past sf1's key range, so the co-purchase graph is exactly
    two disjoint copies of the 10x graph (edge/node counts double, no
    cross-copy edges possible)."""
    from pyspark.sql import functions as F

    from door2door_etl_spark.io.readers import load_table

    li = load_table(spark, src_sf1, "lineitem").withColumn(
        "_r", F.explode(F.sequence(F.lit(0), F.lit(SF2_REPLICAS - 1)))
    )
    li = (
        li.withColumn(
            "l_orderkey", F.col("l_orderkey") + F.col("_r") * F.lit(1_000_000_000)
        )
        .withColumn(
            "l_partkey", F.col("l_partkey") + F.col("_r") * F.lit(100_000_000)
        )
        .drop("_r")
    )
    li.repartition(32).write.mode("overwrite").parquet(
        f"{SF2_DIR}/lineitem.parquet"
    )


def counts_for(spark, sf_dir: str) -> dict:
    from pyspark.sql import functions as F

    from door2door_etl_spark.operators import local
    from door2door_etl_spark.operators.dedup import connected_dedup_clusters
    from door2door_etl_spark.operators.graph import (
        label_propagation,
        louvain,
        sssp_weighted,
    )
    from door2door_etl_spark.queries.advanced_catalog import (
        LOUVAIN_LEVELS,
        LOUVAIN_LOCAL_ROUNDS,
        LPA_ROUNDS,
    )
    from door2door_etl_spark.queries.defs import copurchase_edges
    from door2door_etl_spark.queries.insight_catalog import SSSP_ROUNDS

    t0 = time.time()
    edges = (
        copurchase_edges(spark, sf_dir)
        .select(
            F.col("src").cast("long"),
            F.col("dst").cast("long"),
            F.expr("(99 + c) div c").alias("w"),
        )
        .localCheckpoint(eager=True)
    )
    out: dict = {"edges": edges.count()}
    out["nodes"] = (
        edges.select(F.col("src").alias("n"))
        .unionAll(edges.select(F.col("dst").alias("n")))
        .distinct()
        .count()
    )
    # pagerank per-round join volume is the symmetrized edge relation —
    # a plan constant, recorded once
    out["pagerank_contrib_rows"] = 2 * out["edges"]

    lv_stats: list = []
    # force the BSP path: measure ITS loop
    with mock.patch.object(local, "rows_if_small", return_value=None):
        louvain(
            edges,
            local_rounds=LOUVAIN_LOCAL_ROUNDS,
            levels=LOUVAIN_LEVELS,
            round_stats=lv_stats,
        ).count()
    out["louvain_rounds"] = lv_stats
    out["louvain_moved_total"] = sum(s["moved"] for s in lv_stats)

    lpa_stats: list = []
    label_propagation(edges, rounds=LPA_ROUNDS, round_stats=lpa_stats).count()
    out["lpa_rounds"] = lpa_stats
    out["lpa_moved_total"] = sum(s["moved"] for s in lpa_stats)

    cc_stats: list = []
    connected_dedup_clusters(
        edges, "src", "dst", strict=True, round_stats=cc_stats
    ).count()
    out["cc_rounds"] = cc_stats
    out["cc_improved_total"] = sum(s["improved"] for s in cc_stats)
    out["cc_rounds_to_converge"] = len(cc_stats)

    hub = (
        edges.select(F.col("src").alias("n"))
        .unionAll(edges.select(F.col("dst").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
        .orderBy(F.col("d").desc(), F.col("n").asc())
        .limit(1)
        .collect()[0]["n"]
    )
    ss_stats: list = []
    sssp_weighted(
        edges, source=int(hub), rounds=SSSP_ROUNDS, round_stats=ss_stats
    ).count()
    out["sssp_rounds"] = ss_stats
    out["sssp_relaxed_total"] = sum(s["relaxed_rows"] for s in ss_stats)

    out["wall_s"] = round(time.time() - t0, 1)
    return out


SUMMARY_KEYS = (
    "edges",
    "nodes",
    "pagerank_contrib_rows",
    "louvain_moved_total",
    "lpa_moved_total",
    "cc_improved_total",
    "cc_rounds_to_converge",
    "sssp_relaxed_total",
)


def main() -> None:
    from door2door_etl_spark.session import build_session

    spark = build_session(app_name="graph-scale-counts")
    src = os.environ.get("SPARK_GRAFT_SF_SRC", "/root/testdata/sf0.1")
    sf1 = str(REPO / "bench_data" / "sf1")
    if "--skip-gen" not in sys.argv:
        gen_sf2_lineitem(spark, sf1)
    tiers = [("sf0.1_1x", src), ("sf1_10x", sf1), ("sf2_20x", SF2_DIR)]

    results = {}
    for name, d in tiers:
        results[name] = counts_for(spark, d)
        print(json.dumps({"tier": name, **results[name]}), flush=True)

    base = results["sf0.1_1x"]
    print(
        "\nmetric                      1x        10x       20x   "
        "r(10x)  r(20x/10x)"
    )
    for k in SUMMARY_KEYS:
        v1, v10, v20 = (
            base[k],
            results["sf1_10x"][k],
            results["sf2_20x"][k],
        )
        print(
            f"{k:26s} {v1:9d} {v10:9d} {v20:9d} "
            f"{v10 / max(v1, 1):7.2f} {v20 / max(v10, 1):10.2f}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
