"""Sources: parquet table loader and provenance-tagged JSONL event reader.

Covers SURVEY.md §2.1:
  S1  S3 hourly JSONL scan  -> :func:`read_jsonl_events` (reference
      src/helper/s3.py:37-73: list, hour filter, line parse, tolerate
      malformed lines, tag provenance)
  S2  single-object fetch   -> :func:`read_jsonl_events` on one path
  P1  hour filter           -> ``hour`` argument (full hour-bucket semantics,
      deliberately saner than the reference's hour-of-day-only compare at
      src/helper/s3.py:55 — divergence documented in SURVEY.md §7)
  P2  malformed-line filter -> PERMISSIVE mode + ``_corrupt_record`` policy

Scale posture: the JSONL scan is a distributed file-source scan (each file
split across executors); provenance is the native ``input_file_name`` metadata
— no driver-side listing or row materialization, unlike the reference which
downloads every object into one Python list (src/helper/s3.py:51-73).
"""

from __future__ import annotations

import datetime as dt
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from door2door_etl_spark.session import ensure_runtime_confs

#: Tables whose parquet files store TIMESTAMP(NANOS); Spark reads them as
#: long (spark.sql.legacy.parquet.nanosAsLong) and we convert to microsecond
#: timestamps here.  DuckDB performs the same ns->us truncation natively, so
#: oracle comparisons line up exactly.
_NANOS_TS_COLUMNS: dict[str, list[str]] = {"events": ["ts"]}

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one synthetic warehouse table from ``{sf_dir}/{name}.parquet``.

    Works on any session (applies required runtime confs itself).  Timestamp
    columns written as parquet TIMESTAMP(NANOS) are converted to Spark
    timestamps with microsecond truncation (matches DuckDB semantics).
    """
    ensure_runtime_confs(spark)
    df = spark.read.parquet(f"{sf_dir.rstrip('/')}/{name}.parquet")
    for col in _NANOS_TS_COLUMNS.get(name, []):
        if col in df.columns and dict(df.dtypes)[col] == "bigint":
            # Integer division: the ns epoch (~1.7e18) exceeds double's exact
            # integer range, so `/ 1000` + floor would drift by ±1 µs.
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
    return df


def event_schema() -> T.StructType:
    """Raw door2door event schema (SURVEY.md §1.2; FIXTURES.md §1).

    Nested struct shape derived from the reference's YAML dotted paths
    (reference src/helper/schema_entities.yaml:1-57).  ``at``/``start``/
    ``finish`` stay strings here; the normalization layer casts them with
    null-on-failure coercion.
    """
    location = T.StructType(
        [
            T.StructField("lat", T.DoubleType()),
            T.StructField("lng", T.DoubleType()),
            T.StructField("at", T.StringType()),
        ]
    )
    data = T.StructType(
        [
            T.StructField("id", T.StringType()),
            T.StructField("location", location),
            T.StructField("start", T.StringType()),
            T.StructField("finish", T.StringType()),
        ]
    )
    return T.StructType(
        [
            T.StructField("event", T.StringType()),
            T.StructField("on", T.StringType()),
            T.StructField("at", T.StringType()),
            T.StructField("organization_id", T.StringType()),
            T.StructField("data", data),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )


def bronze_schema() -> T.StructType:
    """Schema of a staged bronze hour: the event fields a well-formed line
    parses into, plus its ``original_s3_file_path`` provenance.  The
    ingestor writes exactly these columns and the handler reads them back
    with this schema, so neither side runs a schema-inference job."""
    fields = [f for f in event_schema().fields if f.name != "_corrupt_record"]
    return T.StructType(
        fields + [T.StructField("original_s3_file_path", T.StringType())]
    )


def read_jsonl_events(
    spark: SparkSession,
    paths: str | list[str],
    hour: dt.datetime | None = None,
    keep_corrupt: bool = False,
) -> DataFrame:
    """Distributed JSONL event scan with provenance + malformed-line policy.

    Mirrors reference src/helper/s3.py:37-73 semantics Spark-first:
    - every surviving row carries ``original_s3_file_path`` (provenance,
      reference s3.py:64-66) via ``input_file_name``;
    - blank / malformed lines are dropped (reference s3.py:61-71 warn+skip)
      unless ``keep_corrupt`` (then they appear with ``_corrupt_record`` set,
      for quarantine metrics);
    - ``hour`` filters to the full hour bucket ``[hour, hour+1h)`` on the
      event timestamp ``at`` — partition-pruning-friendly when the bronze
      layout is ``dt=…/hr=…`` directories.
    """
    if isinstance(paths, str):
        paths = [paths]
    ensure_runtime_confs(spark)
    df = (
        spark.read.schema(event_schema())
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(paths)
        .withColumn("original_s3_file_path", F.input_file_name())
    )
    if not keep_corrupt:
        # A malformed line parses into a row where every declared field is
        # null and _corrupt_record holds the raw text; blank lines are
        # skipped by the source itself.
        df = df.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    if hour is not None:
        start = hour.replace(minute=0, second=0, microsecond=0, tzinfo=None)
        end = start + dt.timedelta(hours=1)
        at_ts = F.expr("try_cast(at AS timestamp)")
        df = df.filter((at_ts >= F.lit(start)) & (at_ts < F.lit(end)))
    return df


def list_sf_tables(sf_dir: str) -> list[str]:
    """Names of tables present under an sf dir (catalog probe, S5/S6)."""
    return sorted(
        p.stem for p in Path(sf_dir).glob("*.parquet") if p.stem in set(TABLES)
    )


def widen_if_narrow(df: DataFrame) -> DataFrame:
    """Width-normalize a narrow relation before per-row heavy compute.

    Single-file test tables scan as ONE partition (one parquet row
    group), so tokenize/shingle/sha256/regex-dense operators would run
    their whole CPU budget on one core until the first shuffle — the
    classic straggler shape.  Repartitioning to the cluster's default
    parallelism moves the rows once and spreads the compute; when the
    input already arrives at least that wide (any production multi-file
    scan, any post-shuffle relation), this is a skipped no-op guard,
    not an extra exchange.  Predicate pushdown and column pruning pass
    through the round-robin repartition (verified: PushedFilters and
    pruned ReadSchema reach the scan below it).

    Streaming frames pass through untouched: micro-batch width is the
    source's concern (and ``.rdd`` is illegal on them)."""
    if df.isStreaming:
        return df
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df
