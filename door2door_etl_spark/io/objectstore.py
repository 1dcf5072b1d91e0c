"""Object-store access layer: URI normalization + Spark/Hadoop configuration.

The reference pulls JSONL from S3 with a driver-side boto3 loop
(reference src/helper/s3.py:37-95: list_objects_v2 → per-file get_object →
line parse).  That shape is single-node by construction; the Spark-first
form is the OPPOSITE split:

- the *driver* only resolves which path glob to read;
- the *executors* read the objects in parallel through the Hadoop s3a
  connector, so a 1000-file hour fans out across the cluster and the JSON
  parse happens where the bytes land.

This module is the thin, fully-testable part of that: URI scheme
normalization (``s3://`` → ``s3a://`` — the only maintained Hadoop
connector) and the non-secret s3a settings.  Everything
network-touching stays in Spark's own s3a connector; nothing here opens a
socket, so the sandbox can test all of it.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def normalize_object_uri(uri: str) -> str:
    """``s3://bucket/key`` → ``s3a://bucket/key`` (Hadoop's maintained S3
    connector); s3a/gs/abfss/file/local paths pass through unchanged."""
    if uri.startswith("s3://"):
        return "s3a://" + uri[len("s3://"):]
    return uri


def configure_s3a(
    spark: SparkSession,
    endpoint: str | None = None,
    path_style: bool | None = None,
) -> SparkSession:
    """Apply non-secret s3a settings (endpoint for S3-compatible stores,
    path-style addressing).  Secrets are NEVER accepted here — pass them
    via cluster conf (``spark.hadoop.fs.s3a.access.key`` /
    ``spark.hadoop.fs.s3a.secret.key``) or the provider chain (env,
    instance profile), not code."""
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    if endpoint is not None:
        conf.set("fs.s3a.endpoint", endpoint)
    if path_style is not None:
        conf.set("fs.s3a.path.style.access", "true" if path_style else "false")
    return spark
