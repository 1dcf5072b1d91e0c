"""Ingestor step: hour-bucket scan -> bronze stage write -> bookkeeping.

Spark-first reimplementation of reference src/ingestor/ingestor.py:11-83
(lifecycle in SURVEY.md §3.2):

1. watermark -> fetch hour (+1h advance, cold-start default)
2. distributed JSONL scan of that hour with provenance + malformed-drop (S1)
3. UNION ALL of all files — implicit: one multi-path ``spark.read.json``
   replaces the reference's ``merge_jsons`` list concatenation (helper.py:11-27)
4. bronze stage write (K3) — parquet instead of a merged JSON blob: columnar,
   splittable, and the hour directory IS the staging identity.  The write
   lands in a hidden sibling directory and is renamed into place only when
   the hour has rows, so a failed or empty fetch never clobbers the hour a
   previous workflow staged
5. bookkeeping row with traceback-on-failure (K2); failed hours re-fetch
   because the watermark ignores rows with tracebacks
"""

from __future__ import annotations

import datetime as dt
import traceback as tb
import uuid

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F

from door2door_etl_spark.io.readers import bronze_schema, read_jsonl_events
from door2door_etl_spark.pipeline.bookkeeping import Bookkeeping


def run_ingestor(
    spark: SparkSession,
    workflow_id: str,
    source_glob: str | list[str],
    bronze_root: str,
    bookkeeping: Bookkeeping,
    fetch_hour: dt.datetime | None = None,
) -> str | None:
    """Run one ingestor execution; returns the bronze path written (or None).

    ``source_glob`` is the raw-event landing location (local path or any
    Hadoop-FS URI — s3a:// in production).  The bronze layout is
    ``{bronze_root}/dt=YYYY-MM-DD/hr=HH`` so downstream reads get partition
    pruning for free (SURVEY.md §4 temporal pruning).
    """
    hour = fetch_hour or bookkeeping.next_fetch_hour()
    dest = f"{bronze_root}/dt={hour:%Y-%m-%d}/hr={hour:%H}"
    staged = f"{bronze_root}/dt={hour:%Y-%m-%d}/.hr={hour:%H}.{uuid.uuid4().hex}"
    fs = _HadoopFs(spark, dest)
    try:
        events = read_jsonl_events(spark, source_glob, hour=hour).select(
            *bronze_schema().fieldNames()
        )
        # Spark's json reader already unioned every matching file (the
        # reference's merge_jsons step).  The number of distinct landing
        # files that gave the hour a row rides the one write: a set, not a
        # count, so a retried or speculative task cannot count a file twice.
        obs = Observation()
        events = events.observe(
            obs, F.size(F.collect_set("original_s3_file_path")).alias("files")
        )
        events.write.parquet(staged)
        n_files = int(obs.get["files"])
        if n_files > 0:
            fs.replace(staged, dest)
        else:
            fs.delete(staged)
        bookkeeping.record_ingestor(
            workflow_id=workflow_id,
            fetched_hour=hour,
            number_of_files_fetched=n_files,
            file_destination_path=dest if n_files > 0 else None,
        )
        return dest if n_files > 0 else None
    except Exception:
        fs.delete(staged)
        bookkeeping.record_ingestor(
            workflow_id=workflow_id,
            fetched_hour=hour,
            number_of_files_fetched=0,
            file_destination_path=None,
            traceback=tb.format_exc(),
        )
        raise


class _HadoopFs:
    """Directory renames and deletes through the Hadoop FileSystem API, so
    the bronze layout works on any Hadoop-FS URI (s3a:// in production)."""

    def __init__(self, spark: SparkSession, path: str) -> None:
        self._Path = spark._jvm.org.apache.hadoop.fs.Path  # noqa: SLF001
        self.fs = self._Path(path).getFileSystem(
            spark._jsc.hadoopConfiguration()  # noqa: SLF001
        )

    def delete(self, path: str) -> None:
        self.fs.delete(self._Path(path), True)

    def replace(self, src: str, dst: str) -> None:
        """Rename directory ``src`` to ``dst``.  An existing ``dst`` is first
        renamed aside (a rename onto an existing directory would nest
        ``src`` inside it) and deleted only once ``src`` is in place; if
        that second rename fails, the old directory is moved back.  On an
        object store each rename is a copy and a delete, so a crash between
        the two leaves the old hour under its aside name, not lost."""
        target = self._Path(dst)
        aside = self._Path(f"{src}.replaced")
        had = self.fs.exists(target)
        if had and not self.fs.rename(target, aside):
            raise OSError(f"could not move {dst} aside")
        if not self.fs.rename(self._Path(src), target):
            if had:
                self.fs.rename(aside, target)
            raise OSError(f"could not rename {src} to {dst}")
        if had:
            self.fs.delete(aside, True)
