"""Handler step: bronze -> entity split -> normalize -> MERGE upsert -> bookkeeping.

Spark-first reimplementation of reference src/handler/handler.py:13-113
(lifecycle in SURVEY.md §3.3): staged-path lookup (S4), entity split (P3),
schema normalization + surrogate key + dedup (P4/F3/F4/F5/A3), idempotent
key-based upsert (K1), per-entity failure isolation with traceback capture.

Unknown entity values are quarantined (counted, not crashed) — documented
divergence from the reference's KeyError (handler.py:72; SURVEY.md §7).
"""

from __future__ import annotations

import traceback as tb
import uuid
from typing import Callable

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from door2door_etl_spark.io.readers import bronze_schema
from door2door_etl_spark.io.writers import MergeSink, ParquetMergeSink
from door2door_etl_spark.pipeline.bookkeeping import Bookkeeping
from door2door_etl_spark.schemas.normalize import (
    KEY_COLUMN,
    normalize,
    split_entities,
)
from door2door_etl_spark.schemas.registry import EntitySchema


def _key_range_col(schema: EntitySchema) -> str | None:
    """The column a MERGE into ``schema``'s table may prune files by: the
    last key column when it is a timestamp (equal surrogate keys imply
    equal values of it, :mod:`door2door_etl_spark.schemas.keys`), else
    None."""
    keys = schema.key_columns
    if keys and isinstance(keys[-1].spark_type, T.TimestampType):
        return keys[-1].target_name
    return None


def run_handler(
    spark: SparkSession,
    workflow_id: str,
    schemas: dict[str, EntitySchema],
    warehouse_root: str,
    bookkeeping: Bookkeeping,
    staged_path: str | None = None,
    sink_for: Callable[[str], MergeSink] | None = None,
) -> dict[str, int]:
    """Run one handler execution; returns ``{target_table: rows_merged}``.

    ``staged_path`` defaults to the bookkeeping lookup by workflow id
    (reference handler.py:61-63); ``run_workflow(step="all")`` passes the
    path its ingest just wrote, and replay/backfill pass one explicitly.

    ``sink_for`` maps a target table name to its :class:`MergeSink`;
    defaults to a :class:`ParquetMergeSink` under ``warehouse_root`` whose
    MERGE rewrites only the files the batch's key range overlaps
    (:func:`_key_range_col`) — inject
    :class:`~door2door_etl_spark.io.writers.JdbcMergeSink` (or a
    Delta-backed sink) to retarget the warehouse without touching pipeline
    code.

    The handler log gets one row per entity (with its traceback when the
    entity failed) plus one quarantine row when unknown entity values
    occurred, all appended in one write after the entity loop: a crash
    inside the loop leaves no handler row for this execution.
    """
    # Reference validates the workflow id is a UUID (handler.py:15-21).
    uuid.UUID(str(workflow_id))

    path = staged_path or bookkeeping.ingestor_output_path(workflow_id)
    if path is None:
        raise FileNotFoundError(
            f"no successful ingestor output for workflow {workflow_id}"
        )

    raw = spark.read.schema(bronze_schema()).parquet(path)
    per_entity = split_entities(raw, list(schemas.keys()))
    results: dict[str, int] = {}
    log: list[tuple[str, int, str | None]] = []
    first_error: Exception | None = None

    for entity, schema in schemas.items():
        table = schema.target_table or entity
        try:
            silver = normalize(per_entity[entity], schema)
            sink = (
                sink_for(table)
                if sink_for is not None
                else ParquetMergeSink(
                    spark, f"{warehouse_root}/{table}",
                    range_col=_key_range_col(schema),
                )
            )
            merged = sink.merge(silver, key=KEY_COLUMN)
            results[table] = merged
            log.append((table, merged, None))
        except Exception as exc:  # per-entity isolation (handler.py:91-95)
            first_error = first_error or exc
            log.append((table, 0, tb.format_exc()))

    n_unknown = per_entity["__unknown__"].count()
    if n_unknown:
        log.append((
            "__quarantine__", n_unknown,
            "unknown entity discriminator values quarantined",
        ))
    bookkeeping.record_handler(workflow_id, path, log)
    if first_error is not None and not results:
        raise first_error
    return results
