"""Sinks: key-based MERGE-style upsert, bookkeeping append, clustered exports.

Covers SURVEY.md §2.2:
  K1  upsert into warehouse table -> :class:`ParquetMergeSink` (parquet
      lake, :func:`~door2door_etl_spark.io.manifest.merge_manifest`) and
      :func:`write_jdbc_upsert` (JDBC warehouse: staged parallel write +
      one server-side set-based upsert)
      (reference src/helper/postgres.py:157-189 INSERT … ON CONFLICT DO
      UPDATE, row-at-a-time executemany — here a distributed anti-join +
      union rewrite with new-rows-win semantics, idempotent by construction)
  K2  append-only metadata insert -> :func:`append_rows`
      (reference src/helper/postgres.py:35-86)
  K3  staged-blob write           -> the ingestor's bronze parquet write,
      ``pipeline/ingestor.py`` (reference src/helper/helper.py:30-40)

Design note (scale): Delta Lake's MERGE would be the production answer
(SURVEY.md §2.2 K1) but is not available in this container, so the upsert is
implemented as the same logical plan MERGE lowers to — source-dedup, then
target ⟕anti⟖ source ∪ source — scoped by a user-supplied partition column,
or by a timestamp column the key determines, so a 100 TB table only rewrites
the partitions or files the batch can touch, not the whole table.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Protocol, runtime_checkable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from door2door_etl_spark.io.manifest import merge_manifest
from door2door_etl_spark.operators import local


def append_rows(
    spark: SparkSession, path: str, rows: list[dict], schema
) -> None:
    """Append one-or-few bookkeeping rows to a parquet table (K2).

    The bookkeeping table is tiny (one row per pipeline execution,
    reference migrations/init.sql:6-24) — append mode with a single
    partition write is the right physical plan.

    The rows enter Spark as an Arrow table (:func:`local.frame`), which
    plans as a ``LocalTableScan``: the append is one JVM-only task.  The
    list form of ``createDataFrame`` would plan a pickled Python RDD and
    start a Python worker to unpickle one row: ~0.6 s per append against
    ~0.1 s for the Arrow form on a 4-vCPU ``local[4]`` session.
    """
    df = local.frame(spark, rows, schema).coalesce(1)
    df.write.mode("append").parquet(path)


# -- Pluggable MERGE sink (K1) ----------------------------------------------

@runtime_checkable
class MergeSink(Protocol):
    """Key-based MERGE upsert sink — the K1 contract every warehouse
    implementation must satisfy (reference src/helper/postgres.py:157-189).

    ``merge(source, key)`` upserts ``source`` into the sink's table:

    - within the batch one row per ``key`` survives;
    - existing keys are UPDATEd (new row wins), new keys INSERTed;
    - **idempotent**: re-merging an identical batch leaves the table
      unchanged — the property that makes at-least-once upstream delivery
      (replays, micro-batch retries) safe;
    - returns the number of source rows merged.

    Atomicity contract (implementation-graded, documented per impl):
    a reader must never observe a partially-merged table.
    :class:`ParquetMergeSink` commits through the lake's one table-commit
    protocol (:mod:`door2door_etl_spark.io.manifest`): the merge stages
    immutable files, and a put-if-absent manifest create is the commit,
    so readers always see a complete committed snapshot — through the
    manifest, or through the root symlink's view on a local filesystem —
    crashes roll forward, and concurrent writers serialize
    optimistically.  The same sink commits to an object store.
    :class:`JdbcMergeSink` commits with one server-side transaction.
    Both drop in behind this protocol without touching pipeline code.
    """

    def merge(self, source: DataFrame, key: str) -> int:
        ...


@dataclass(frozen=True)
class ParquetMergeSink:
    """Parquet-lake MergeSink: delegates to
    :func:`~door2door_etl_spark.io.manifest.merge_manifest` (anti-join ∪
    union; a partition-scoped rewrite with untouched partitions
    re-listed, or with ``range_col`` — a timestamp column the key
    determines — a rewrite of only the files the batch's range overlaps;
    manifest commit, optional CHECK constraints)."""

    spark: SparkSession
    target_path: str
    partition_col: str | None = None
    constraints: tuple[str, ...] = ()
    range_col: str | None = None

    def merge(self, source: DataFrame, key: str) -> int:
        return merge_manifest(
            self.spark, self.target_path, source, key=key,
            partition_col=self.partition_col,
            constraints=list(self.constraints) or None,
            range_col=self.range_col,
        )


@dataclass(frozen=True)
class JdbcMergeSink:
    """JDBC-warehouse MergeSink: delegates to :func:`write_jdbc_upsert`
    (staged parallel write + one transactional server-side upsert)."""

    url: str
    table: str
    batchsize: int = 10_000
    num_partitions: int = 8

    def merge(self, source: DataFrame, key: str) -> int:
        # One execution of the source plan: the count comes back from the
        # staging table server-side, so it always equals the rows actually
        # written (a separate .count() action would recompute the source
        # and could disagree under non-deterministic expressions).
        _, staged = write_jdbc_upsert(
            source,
            self.url,
            self.table,
            key_cols=[key],
            batchsize=self.batchsize,
            num_partitions=self.num_partitions,
        )
        return staged


# -- JDBC warehouse sink (K1, reference src/helper/postgres.py:157-189) -----

@dataclass(frozen=True)
class JdbcUpsertPlan:
    """The fully-resolved execution plan of a JDBC upsert: the three
    server-side statements plus the Spark JDBC writer options — exposed as
    data so the SQL contract is testable without a database."""

    table: str
    staging_table: str
    key_cols: tuple[str, ...]
    create_staging_sql: str
    count_staging_sql: str
    upsert_sql: str
    drop_staging_sql: str
    writer_options: dict[str, str]


def plan_jdbc_upsert(
    url: str,
    table: str,
    columns: list[str],
    key_cols: list[str],
    staging_table: str | None = None,
    batchsize: int = 10_000,
    num_partitions: int = 8,
    isolation_level: str = "READ_COMMITTED",
) -> JdbcUpsertPlan:
    """Build the statement + option plan for :func:`write_jdbc_upsert`.

    Semantics mirror the reference warehouse loader
    (src/helper/postgres.py:157-189): ``INSERT … ON CONFLICT (key) DO
    UPDATE SET col = EXCLUDED.col`` for every non-key column.  Where the
    reference executes the upsert row-at-a-time from the driver
    (``executemany`` over a pandas frame), this plan stages the batch into
    an UNLOGGED side table through Spark's parallel JDBC writer
    (``num_partitions`` concurrent connections × ``batchsize``-row batches)
    and then runs ONE set-based server-side upsert — the executor-parallel
    shape that survives a 100 TB cluster, where driver-side executemany
    cannot.
    """
    if not key_cols:
        raise ValueError("key_cols must be non-empty")
    missing = [k for k in key_cols if k not in columns]
    if missing:
        raise ValueError(f"key columns {missing} not in dataframe columns {columns}")
    update_cols = [c for c in columns if c not in key_cols]
    if not update_cols:
        raise ValueError("upsert needs at least one non-key column to update")
    staging = staging_table or f"{table}__stage"
    col_list = ", ".join(columns)
    update_set = ", ".join(f"{c} = EXCLUDED.{c}" for c in update_cols)
    conflict = ", ".join(key_cols)
    return JdbcUpsertPlan(
        table=table,
        staging_table=staging,
        key_cols=tuple(key_cols),
        create_staging_sql=(
            f"CREATE UNLOGGED TABLE IF NOT EXISTS {staging} "
            f"(LIKE {table} INCLUDING DEFAULTS)"
        ),
        count_staging_sql=f"SELECT count(*) FROM {staging}",
        upsert_sql=(
            f"INSERT INTO {table} ({col_list})\n"
            f"SELECT {col_list} FROM {staging}\n"
            f"ON CONFLICT ({conflict}) DO UPDATE SET {update_set}"
        ),
        drop_staging_sql=f"DROP TABLE IF EXISTS {staging}",
        writer_options={
            "url": url,
            "dbtable": staging,
            "batchsize": str(batchsize),
            "numPartitions": str(num_partitions),
            "isolationLevel": isolation_level,
        },
    )


def _execute_jdbc_statements(spark: SparkSession, url: str, statements: list[str]) -> None:
    """Run DDL/DML statements over one JDBC connection via the JVM
    DriverManager (the driver jar must be on the Spark classpath)."""
    conn = spark._jvm.java.sql.DriverManager.getConnection(url)  # noqa: SLF001
    try:
        stmt = conn.createStatement()
        for sql in statements:
            stmt.execute(sql)
        stmt.close()
    finally:
        conn.close()


def _jdbc_scalar(spark: SparkSession, url: str, sql: str) -> int:
    """Run a single-value query (e.g. COUNT) server-side and return it."""
    conn = spark._jvm.java.sql.DriverManager.getConnection(url)  # noqa: SLF001
    try:
        rs = conn.createStatement().executeQuery(sql)
        rs.next()
        return int(rs.getLong(1))
    finally:
        conn.close()


def write_jdbc_upsert(
    df: DataFrame,
    url: str,
    table: str,
    key_cols: list[str],
    staging_table: str | None = None,
    batchsize: int = 10_000,
    num_partitions: int = 8,
    isolation_level: str = "READ_COMMITTED",
) -> tuple[JdbcUpsertPlan, int]:
    """Upsert ``df`` into a JDBC warehouse table (K1): stage via Spark's
    parallel JDBC writer, then one server-side set-based
    ``INSERT … ON CONFLICT DO UPDATE`` (reference semantics,
    src/helper/postgres.py:157-189; executor-parallel physical form).

    Within-batch duplicates collapse to one row per key first —
    ON CONFLICT raises ``cardinality_violation`` if the same key appears
    twice in one statement, a failure the reference's row-at-a-time loop
    silently hid (last row won).

    The staging table is dropped and recreated before the write (a crashed
    prior run leaves it populated, possibly with an outdated schema) and
    its row count is read back server-side, so
    the reported count is the rows actually staged — the source plan
    executes exactly once.  Concurrent upserts into the SAME target table
    must pass distinct ``staging_table`` names; the default is one fixed
    name per table.

    Returns ``(plan, staged_rows)`` — the plan doubles as the
    contract-test surface (:func:`plan_jdbc_upsert`), since this container
    ships no database server."""
    plan = plan_jdbc_upsert(
        url,
        table,
        df.columns,
        key_cols,
        staging_table,
        batchsize,
        num_partitions,
        isolation_level,
    )
    spark = df.sparkSession
    deduped = df.dropDuplicates(list(key_cols))
    # Full staging reset: a crashed prior run leaves the staging table
    # behind (its DROP never ran), possibly with stale rows AND a stale
    # schema if the target was ALTERed since — DROP + CREATE resets both.
    # (Spark's own "truncate" writer option would be a no-op under append
    # mode; a bare TRUNCATE would keep the stale schema.)
    _execute_jdbc_statements(
        spark, url, [plan.drop_staging_sql, plan.create_staging_sql]
    )
    (
        deduped.repartition(num_partitions)
        .write.format("jdbc")
        .options(**plan.writer_options)
        .mode("append")
        .save()
    )
    staged = _jdbc_scalar(spark, url, plan.count_staging_sql)
    _execute_jdbc_statements(spark, url, [plan.upsert_sql, plan.drop_staging_sql])
    return plan, staged


def write_zorder_parquet(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = 8,
    target_partitions: int | None = None,
) -> None:
    """Z-order-clustered export: rows are laid out along a Morton curve
    over ``cols`` so EVERY listed column gets tight per-file min/max
    statistics — point/range scans on ANY of them prune to a few files.

    ``write_sorted_parquet`` clusters one key prefix perfectly but leaves
    every other column spanning its full range in every file; interleaving
    the bits of all keys trades a little locality on each for locality on
    all — the same layout Delta OPTIMIZE ZORDER BY produces, built from
    expressions only:

    1. each column maps to a ``bits``-bit bucket by equal-width scaling
       between its global min/max (one tiny scalar agg, broadcast back —
       equal-DEPTH buckets via quantiles would skew-balance better, but
       equal-width keeps the whole plan two stages and is what the stats
       pruning actually needs);
    2. bucket bits interleave into the Morton code via shift/mask/or
       expressions (codegen'd, no UDF);
    3. ``repartitionByRange`` on the code (sampled bounds, one exchange)
       + in-partition sort gives files covering disjoint curve segments.

    At 100 TB this is the difference between "secondary-key scans read the
    whole table" and "any indexed dimension reads ~1/files_count of it".
    """
    out = with_zorder_code(df, cols, bits)
    ranged = (
        out.repartitionByRange(target_partitions, F.col("_zorder"))
        if target_partitions
        else out.repartitionByRange(F.col("_zorder"))
    )
    (
        ranged.sortWithinPartitions("_zorder")
        .drop("_zorder")
        .write.mode("overwrite")
        .parquet(path)
    )


def with_zorder_code(
    df: DataFrame,
    cols: list[str],
    bits: int = 8,
    equal_depth: bool = False,
    rel_err: float = 0.001,
) -> DataFrame:
    """``df`` plus a ``_zorder`` Morton-code column over ``cols`` — the
    interleave stage of :func:`write_zorder_parquet`, exposed so other
    layouts (manifest clustered compaction, bucketing experiments) can
    range-shuffle on the same curve.  Pure shift/mask/or expressions over
    :func:`zorder_buckets`; no UDF."""
    out, names = zorder_buckets(df, cols, bits, equal_depth, rel_err)
    k = len(cols)
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, c in enumerate(cols):
            bit = F.shiftright(F.col(f"_zb_{c}"), i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, i * k + j))
    return out.withColumn("_zorder", z).drop(*names)


def zorder_buckets(
    df: DataFrame,
    cols: list[str],
    bits: int = 8,
    equal_depth: bool = False,
    rel_err: float = 0.001,
) -> tuple[DataFrame, list[str]]:
    """Per-column ``bits``-bit bucket assignment (``_zb_<col>`` columns)
    for the Morton interleave; returns ``(df + bucket cols, names)``.

    ``equal_depth=False`` (default): equal-WIDTH buckets between each
    column's global min/max — one tiny scalar agg broadcast back, two
    stages total.  Fine for roughly uniform keys, but a skewed column
    collapses most rows into a few buckets and the curve loses its
    locality on that dimension.

    ``equal_depth=True``: equal-DEPTH buckets from ``approxQuantile``
    cutpoints (Greenwald-Khanna, one pass, all columns together; the
    2^bits-1 cutpoints per column are bounded driver metadata, same
    discipline as the k-means centroid collects).  Buckets then hold
    ~equal ROW counts regardless of the value distribution, so skewed
    keys keep per-dimension locality — the bucket test is one folded
    ``aggregate`` over the cutpoint literal array (<= 2^bits comparisons
    per row, JVM-side, ONE parsed expression per column per the repo's
    driver-cost discipline).
    """
    k = len(cols)
    if k < 2:
        raise ValueError("z-ordering needs >= 2 columns; use write_sorted_parquet")
    if bits * k > 63:
        # The top interleaved bit would land in (or past) the long's sign
        # bit: negative codes sort before all others and shifts >= 64 wrap,
        # silently scrambling the curve.
        raise ValueError(
            f"bits*len(cols) = {bits * k} exceeds 63: reduce bits to "
            f"<= {63 // k} for {k} columns"
        )
    n = 2**bits
    names = [f"_zb_{c}" for c in cols]
    if equal_depth:
        probs = [i / n for i in range(1, n)]
        cuts = dict(zip(cols, df.approxQuantile(list(cols), probs, rel_err)))
        buckets = []
        for c in cols:
            qs = sorted(set(cuts[c]))  # heavy values repeat cutpoints
            arr = "array(" + ",".join(repr(float(q)) for q in qs) + ")"
            buckets.append(
                F.expr(
                    f"CAST(aggregate({arr}, 0, (acc, cut) -> acc + "
                    f"IF(CAST(`{c}` AS DOUBLE) > cut, 1, 0)) AS LONG)"
                ).alias(f"_zb_{c}")
            )
        return df.select(*df.columns, *buckets), names
    stats = df.agg(
        *[F.min(c).cast("double").alias(f"_lo_{c}") for c in cols],
        *[F.max(c).cast("double").alias(f"_hi_{c}") for c in cols],
    )
    buckets = []
    out = df.crossJoin(F.broadcast(stats))
    for c in cols:
        lo, hi = F.col(f"_lo_{c}"), F.col(f"_hi_{c}")
        span = F.when(hi > lo, hi - lo).otherwise(F.lit(1.0))
        scaled = (F.col(c).cast("double") - lo) / span * F.lit(n)
        buckets.append(
            F.least(F.lit(n - 1), F.greatest(F.lit(0), F.floor(scaled)))
            .cast("long")
            .alias(f"_zb_{c}")
        )
    return out.select(*df.columns, *buckets), names


def write_sorted_parquet(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    target_partitions: int | None = None,
) -> None:
    """Range-partitioned sorted export: rows are range-partitioned on
    ``sort_cols`` (sampled split points, no global sort) and sorted within
    each partition, so output files carry disjoint key ranges and tight
    parquet min/max column statistics — downstream point/range scans prune
    to one file instead of all of them (the poor man's clustered index /
    Z-order-lite for a single key prefix).

    Scale: ``repartitionByRange`` is one exchange driven by reservoir-
    sampled range bounds; ``sortWithinPartitions`` never leaves the
    executor.  A ``.orderBy().write`` would look equivalent but plans a
    global sort whose final stage is still parallel — the difference is
    this form composes with AQE coalescing and makes the intent explicit.
    """
    cols = [F.col(c) for c in sort_cols]
    out = (
        df.repartitionByRange(target_partitions, *cols)
        if target_partitions
        else df.repartitionByRange(*cols)
    )
    out.sortWithinPartitions(*cols).write.mode("overwrite").parquet(path)
