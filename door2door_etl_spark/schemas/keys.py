"""Deterministic surrogate-key derivation (SURVEY.md §2.7 F5).

The reference derives ``event_generated_id`` by concatenating the stringified
``unique_identifier`` columns (YAML declaration order), SHA-256-hashing, and
formatting the first 32 hex chars as a canonical UUID (reference
src/helper/helper.py:153-173, applied at :144-146).

This module reproduces that as pure built-in Catalyst expressions —
sha2/concat_ws/substring — no Python UDF, so the derivation stays inside
whole-stage codegen and is vectorized JVM-side (SURVEY.md §2.9).

Canonical stringification (engine-defined, documented divergence from pandas
reprs per SURVEY.md §7 risk register):
- NULL values stringify as the literal ``"None"`` (matches the pandas
  ``str(None)`` behavior the reference relies on, helper.py:164-173);
- timestamps stringify as ``yyyy-MM-dd HH:mm:ss[.SSSSSS]`` with the
  fractional part only when non-zero (matches ``str(pd.Timestamp)``);
- everything else uses Spark's cast-to-string.

Equal keys imply equal trailing timestamps.  A range-scoped MERGE
(:func:`~door2door_etl_spark.io.manifest.merge_manifest` ``range_col``)
skips a table file only because of this argument:

- the key is ``sha256(concat(parts…, render(ts)))`` with the timestamp the
  LAST part, so equal keys mean equal concatenated strings (up to a
  collision of the 128 digest bits the key keeps);
- ``render(ts)`` is ``yyyy-MM-dd HH:mm:ss`` (19 characters) or
  ``yyyy-MM-dd HH:mm:ss.SSSSSS`` (26): the 7th character from the end is a
  digit in the first form and ``.`` in the second, and no rendering ends
  in ``None`` (a NULL timestamp), so the last characters of the string
  fix which form ends it — provided the year has exactly four digits;
- so for years 1000-9999 two equal strings end in the same rendering, and
  the timestamps are equal, whatever the widths of the earlier parts.

Hence a file whose timestamp range is disjoint from a batch's holds no key
of the batch, when the batch has no NULL timestamp and both ranges lie
inside 1000-01-01 .. 9999-12-31 (checked in UTC with a day's margin at
each end, since the rendering uses the session time zone).  In every
other case the merge treats the
file as overlapping.  The handler declares ``range_col`` only for an entity
whose last key column is a timestamp.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

NULL_TOKEN = "None"


def canonical_string(col: Column, data_type: T.DataType | None = None) -> Column:
    """Stringify one key component canonically (nulls -> ``"None"``)."""
    if isinstance(data_type, T.TimestampType) or isinstance(
        data_type, T.TimestampNTZType
    ):
        frac = F.date_format(col, "SSSSSS")
        base = F.date_format(col, "yyyy-MM-dd HH:mm:ss")
        rendered = F.when(
            frac == F.lit("000000"), base
        ).otherwise(F.concat(base, F.lit("."), frac))
    else:
        rendered = col.cast("string")
    return F.coalesce(rendered, F.lit(NULL_TOKEN))


def surrogate_uuid_expr(
    key_cols: list[Column | str],
    key_types: list[T.DataType] | None = None,
) -> Column:
    """128-bit deterministic surrogate key as a canonical UUID string.

    ``sha2(concat(canonical strings), 256)`` truncated to 32 hex chars and
    formatted ``8-4-4-4-12`` — byte-for-byte the reference's scheme
    (helper.py:160-171) under the engine-canonical stringification above.
    """
    cols = [F.col(c) if isinstance(c, str) else c for c in key_cols]
    types: list[T.DataType | None] = list(key_types) if key_types else [None] * len(cols)
    parts = [canonical_string(c, t) for c, t in zip(cols, types)]
    digest = F.sha2(F.concat(*parts), 256)
    return F.concat_ws(
        "-",
        F.substring(digest, 1, 8),
        F.substring(digest, 9, 4),
        F.substring(digest, 13, 4),
        F.substring(digest, 17, 4),
        F.substring(digest, 21, 12),
    )
