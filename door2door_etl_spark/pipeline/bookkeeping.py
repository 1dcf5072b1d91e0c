"""Bookkeeping tables + watermark logic (SURVEY.md §2.1 S3/S4, §2.8).

Replicates the reference's monitor DB (migrations/init.sql:6-24) as small
append-only parquet tables, and the incremental-processing watermark:
``MAX(fetched_hour) WHERE traceback IS NULL`` + 1h, cold-start default
(reference src/helper/postgres.py:88-106, src/ingestor/ingestor.py:44-50).

Failed hours are retried automatically because rows with a traceback are
excluded from the watermark — identical failure-retry semantics to the
reference (postgres.py:102).
"""

from __future__ import annotations

import datetime as dt
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from door2door_etl_spark.io.writers import append_rows

#: Cold-start watermark (reference src/ingestor/ingestor.py:50; README.md:27).
DEFAULT_START_HOUR = dt.datetime(2022, 11, 24, 10, 0, 0)

INGESTOR_SCHEMA = T.StructType(
    [
        T.StructField("workflow_id", T.StringType()),
        T.StructField("code_execution_id", T.StringType()),
        T.StructField("code_execution_date", T.TimestampType()),
        T.StructField("fetched_hour", T.TimestampType()),
        T.StructField("number_of_files_fetched", T.IntegerType()),
        T.StructField("file_destination_path", T.StringType()),
        T.StructField("traceback", T.StringType()),
    ]
)

HANDLER_SCHEMA = T.StructType(
    [
        T.StructField("workflow_id", T.StringType()),
        T.StructField("code_execution_id", T.StringType()),
        T.StructField("code_execution_date", T.TimestampType()),
        T.StructField("file_fetch_path", T.StringType()),
        T.StructField("destination_table", T.StringType()),
        T.StructField("records_inserted", T.IntegerType()),
        T.StructField("traceback", T.StringType()),
    ]
)

_SCHEMAS = {"ingestor": INGESTOR_SCHEMA, "handler": HANDLER_SCHEMA}


class Bookkeeping:
    """Execution-metadata store under ``{root}/ingestor_executions`` and
    ``{root}/handler_executions`` parquet tables."""

    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.root = str(root)

    def _path(self, step: str) -> str:
        return f"{self.root}/{step}_executions"

    def _read(self, step: str) -> DataFrame | None:
        """The step's table read with its declared schema: no inference
        job, and a directory a failed first append left empty reads as
        zero rows instead of raising ``UNABLE_TO_INFER_SCHEMA``."""
        path = self._path(step)
        if not Path(path).exists():
            return None
        return self.spark.read.schema(_SCHEMAS[step]).parquet(path)

    # -- S3: watermark lookup ------------------------------------------------
    def last_successful_fetch_hour(self, step: str = "ingestor") -> dt.datetime | None:
        """``SELECT MAX(fetched_hour) WHERE traceback IS NULL`` (postgres.py:88-106)."""
        df = self._read(step)
        if df is None:
            return None
        row = (
            df.filter(F.col("traceback").isNull())
            .agg(F.max("fetched_hour").alias("wm"))
            .first()
        )
        return row["wm"] if row else None

    def next_fetch_hour(self) -> dt.datetime:
        """Watermark + 1h; cold-start default (ingestor.py:44-50)."""
        last = self.last_successful_fetch_hour("ingestor")
        if last is None:
            return DEFAULT_START_HOUR
        return last + dt.timedelta(hours=1)

    # -- S4: staged-file path lookup ----------------------------------------
    def ingestor_output_path(self, workflow_id: str) -> str | None:
        """Point lookup: staged file path for a workflow (postgres.py:108-129).
        When several executions match, the latest one wins (ties broken by
        path).  The matching rows, one per execution of the workflow, are
        collected in one job; ``limit(1)`` would be an incremental take,
        which runs one or two jobs depending on which file it scans first."""
        df = self._read("ingestor")
        if df is None:
            return None
        rows = (
            df.filter(
                (F.col("workflow_id") == F.lit(workflow_id))
                & F.col("traceback").isNull()
                & (F.col("number_of_files_fetched") > 0)
            )
            .select("code_execution_date", "file_destination_path")
            .collect()
        )
        return max(rows)[1] if rows else None

    # -- K2: append-only metadata inserts -----------------------------------
    def record_ingestor(
        self,
        workflow_id: str,
        fetched_hour: dt.datetime,
        number_of_files_fetched: int,
        file_destination_path: str | None,
        traceback: str | None = None,
    ) -> None:
        append_rows(
            self.spark,
            self._path("ingestor"),
            [
                {
                    "workflow_id": workflow_id,
                    "code_execution_id": str(uuid.uuid4()),
                    "code_execution_date": dt.datetime.utcnow(),
                    "fetched_hour": fetched_hour,
                    "number_of_files_fetched": number_of_files_fetched,
                    "file_destination_path": file_destination_path,
                    "traceback": traceback,
                }
            ],
            INGESTOR_SCHEMA,
        )

    def record_handler(
        self,
        workflow_id: str,
        file_fetch_path: str | None,
        destination_table: str,
        records_inserted: int,
        traceback: str | None = None,
    ) -> None:
        append_rows(
            self.spark,
            self._path("handler"),
            [
                {
                    "workflow_id": workflow_id,
                    "code_execution_id": str(uuid.uuid4()),
                    "code_execution_date": dt.datetime.utcnow(),
                    "file_fetch_path": file_fetch_path,
                    "destination_table": destination_table,
                    "records_inserted": records_inserted,
                    "traceback": traceback,
                }
            ],
            HANDLER_SCHEMA,
        )
