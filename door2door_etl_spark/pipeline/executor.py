"""Workflow executor: orchestrates ingestor -> handler (SURVEY.md §3.1).

Reference src/executor.py:12-48: validates the step/workflow argument combo,
mints a workflow id, runs the two steps.  The Spark version is a plain
function (schedulable from Airflow/cron the same way the reference's CLI is).
"""

from __future__ import annotations

import datetime as dt
import uuid

from pyspark.sql import SparkSession

from door2door_etl_spark.pipeline.bookkeeping import Bookkeeping
from door2door_etl_spark.pipeline.handler import run_handler
from door2door_etl_spark.pipeline.ingestor import run_ingestor
from door2door_etl_spark.schemas.registry import (
    EntitySchema,
    builtin_door2door_schemas,
)

VALID_STEPS = {"all", "ingestor", "handler"}


def check_inputs_consistency(step: str, workflow_id: str | None) -> None:
    """Arg validation (reference src/helper/helper.py:176-193): ``handler``
    alone needs an explicit workflow id; unknown steps are rejected."""
    if step not in VALID_STEPS:
        raise ValueError(f"unknown step {step!r}; expected one of {sorted(VALID_STEPS)}")
    if step == "handler" and workflow_id is None:
        raise ValueError("step 'handler' requires the workflow id of a prior ingest")


def run_workflow(
    spark: SparkSession,
    source_glob: str | list[str],
    lake_root: str,
    step: str = "all",
    workflow_id: str | None = None,
    schemas: dict[str, EntitySchema] | None = None,
    fetch_hour: dt.datetime | None = None,
) -> dict:
    """Run one workflow execution; returns a summary dict.

    Layout under ``lake_root``: ``bronze/`` (staged hours), ``warehouse/``
    (silver tables), ``monitor/`` (bookkeeping).
    """
    check_inputs_consistency(step, workflow_id)
    wid = workflow_id or str(uuid.uuid4())
    schemas = schemas or builtin_door2door_schemas()
    book = Bookkeeping(spark, f"{lake_root}/monitor")

    summary: dict = {"workflow_id": wid, "step": step}
    if step in ("all", "ingestor"):
        summary["bronze_path"] = run_ingestor(
            spark, wid, source_glob, f"{lake_root}/bronze", book, fetch_hour=fetch_hour
        )
    if step in ("all", "handler"):
        # step="all" hands over the path its ingest just wrote; the
        # handler alone looks it up by workflow id.
        summary["merged"] = run_handler(
            spark, wid, schemas, f"{lake_root}/warehouse", book,
            staged_path=summary.get("bronze_path"),
        )
    return summary
