"""Query catalog definitions and the Spark-side deterministic-agg helpers."""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass(frozen=True)
class QueryDef:
    """One catalog entry: a Spark query plus (usually) its DuckDB oracle.

    ``oracle is None`` marks a genuinely non-SQL-expressible operator (the
    driver then records a weaker rows-only check).
    """

    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    survey_ref: str  # SURVEY.md §2 operator ids this query covers
    tags: tuple[str, ...] = field(default_factory=tuple)


def dsum(expr: Column, scale: int = 2) -> Column:
    """Deterministic money-sum (Spark twin of sql_fragments.dec_sum):
    exact DECIMAL(20,6) accumulation — immune to float accumulation-order
    differences across partitions/engines — rendered as rounded double."""
    return F.round(F.sum(expr.cast("decimal(20,6)")).cast("double"), scale)


def davg(expr: Column, scale: int = 4) -> Column:
    """Deterministic average from the exact decimal sum."""
    return F.round(
        F.sum(expr.cast("decimal(20,6)")).cast("double") / F.count(F.lit(1)), scale
    )


def copurchase_edges(spark: SparkSession, sf: str, min_orders: int = 2):
    """The graph family's shared edge builder: canonical (src < dst)
    part co-purchase edges — pairs of parts appearing together in at
    least ``min_orders`` orders — as ``(src, dst, c)`` with c the
    shared-order count.

    Built by IN-ROW pair expansion instead of the classic relation
    self-join: one groupBy(order) collects each order's distinct part
    set (``collect_set``, so no separate DISTINCT pass), pairs
    enumerate inside the row via nested ``transform``/``flatten`` over
    the sorted array (sortedness is what makes src < dst structural),
    then one (src, dst) aggregate counts shared orders.  Two bounded
    shuffles total where the self-join shape paid a distinct, a
    join-key shuffle of BOTH join sides, and the pair aggregate.

    Scale shape: pairs per order are k(k-1)/2 for basket size k,
    materialized per-row — bounded for order-like data (TPC-H k ≤ 7);
    a heavy-hitter basket domain (k in the thousands) would cap or
    explode-then-salt before pairing, which is the same discipline the
    dedup family applies to shingle blocking.  Results are value- and
    type-identical to the self-join, so every graph row's DuckDB
    oracle (which keeps the portable self-join form) hash-matches.
    """
    from door2door_etl_spark.io.readers import load_table

    li = load_table(spark, sf, "lineitem").select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("i")
    )
    per = li.groupBy("o").agg(F.sort_array(F.collect_set("i")).alias("items"))
    pair = F.explode(
        F.expr(
            "flatten(transform(items, (x, ix) -> "
            "transform(slice(items, ix + 2, size(items)), "
            "y -> struct(x AS src, y AS dst))))"
        )
    ).alias("e")
    return (
        per.select(pair)
        .select(F.col("e.src").alias("src"), F.col("e.dst").alias("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= int(min_orders))
    )
