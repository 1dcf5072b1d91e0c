"""The driver boundary, in both directions.

Spark -> driver: the small-input completion gate.  Each iterative
operator with a driver-local twin (the graph family, near-dup
components, coverage-max, power iteration, MMR, the BPE trainer) builds its data-sized
relation in Spark and then asks ONE question here: is that relation
small enough to finish on the driver?  The caps below are the only
place an input size is compared against a local-completion bound.

Call :func:`rows_if_small` through this module's attribute
(``local.rows_if_small``) so a test or tool can replace it with a fake
that returns ``None`` and forces every operator onto its distributed
path.

Driver -> Spark: :func:`frame`.  Every row the engine holds in Python
(a bookkeeping record, a twin's result, a curation funnel, a literal
catalog frame) enters Spark through it as an Arrow table, which the JVM
plans as a ``LocalRelation`` (``LocalTableScan``).  The list form of
``createDataFrame`` would pickle the rows into a Python RDD instead
(``Scan ExistingRDD``), so every consumer of the frame pays a
Python-worker task although no Python code runs.  A test scans the
package and keeps ``frame`` the only ``createDataFrame`` caller.
"""

from __future__ import annotations

from collections.abc import Iterable
from typing import Any

import pyarrow as pa
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

# Relation rows (edges, incidence rows): ~12 MB on the driver.
MAX_ROWS = 500_000
# Rank vector nodes for the PageRank / PPR twins.
MAX_RANK_NODES = 4_096
# Corpus rows for the power-iteration twin (64 k x dim 64 ~ 33 MB).
MAX_POWER_ITERATION_ROWS = 65_536
# MMR candidate pool (driver-bounded by construction: ``limit(pool)``).
MAX_MMR_POOL = 100_000
# BPE vocabulary rows (symbols, freq): a tokenizer-training vocab of a
# 100 TB corpus still fits in low-GB driver memory.
MAX_BPE_VOCAB_ROWS = 2_000_000


def rows_if_small(
    df: DataFrame, cap: int, n: int | None = None
) -> list[Row] | None:
    """``df``'s rows when it has at most ``cap`` of them, else ``None``.

    With ``n`` (a row count the caller already holds, e.g. an
    ``observe()``-d count off a checkpoint job) the decision costs no
    Spark job and only a small ``df`` is collected.  Without it, one
    bounded ``limit(cap + 1).collect()`` decides and collects at once,
    so at most ``cap + 1`` rows ever reach the driver.
    """
    if n is not None:
        return None if n > cap else df.collect()
    rows = df.limit(cap + 1).collect()
    return None if len(rows) > cap else rows


def _has_timestamp(dtype: T.DataType) -> bool:
    if isinstance(dtype, T.TimestampType):
        return True
    if isinstance(dtype, T.ArrayType):
        return _has_timestamp(dtype.elementType)
    if isinstance(dtype, T.MapType):
        return _has_timestamp(dtype.keyType) or _has_timestamp(dtype.valueType)
    if isinstance(dtype, T.StructType):
        return any(_has_timestamp(f.dataType) for f in dtype.fields)
    return False


def frame(
    spark: SparkSession,
    rows: Iterable[Any],
    schema: T.StructType | str,
) -> DataFrame:
    """``rows`` as a DataFrame of ``schema``, shipped as an Arrow table.

    Same schema and values as ``spark.createDataFrame(rows, schema)``,
    without the pickled-RDD plan: the JVM receives Arrow record batches
    and plans a local relation, so no Python worker starts.

    ``schema`` is a ``StructType`` or a DDL string (``"a long, b
    string"``).  A row is a tuple (or ``Row``) in field order or a dict
    keyed by field name.  ``TimestampType`` values go through
    ``TimestampType.toInternal``, so a naive datetime means the same
    instant as on the list path under any process time zone; that
    conversion covers top-level columns, and a timestamp nested in an
    array, map or struct is refused rather than shifted.
    """
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    names = schema.fieldNames()
    tuples = [
        tuple(r.get(n) for n in names) if isinstance(r, dict) else tuple(r)
        for r in rows
    ]
    for r in tuples:
        if len(r) != len(names):
            raise ValueError(f"row {r!r} does not match the fields {names}")
    arrow_schema = to_arrow_schema(schema)
    columns = []
    for i, field in enumerate(schema.fields):
        values = [r[i] for r in tuples]
        if isinstance(field.dataType, T.TimestampType):
            values = [field.dataType.toInternal(v) for v in values]
        elif _has_timestamp(field.dataType) and any(v is not None for v in values):
            raise TypeError(f"{field.name}: nested timestamps are not supported")
        column = pa.array(values, type=arrow_schema.field(i).type)
        if column.null_count and not field.nullable:
            raise ValueError(f"{field.name}: None in a non-nullable field")
        columns.append(column)
    table = pa.Table.from_arrays(columns, schema=arrow_schema)
    return spark.createDataFrame(table, schema)
