"""SCD type-2 dimension maintenance over versioned tables.

The reference's warehouse upserts overwrite attribute changes in place
(``src/helper/postgres.py:157-189`` — MERGE keeps only the latest row),
so "what was this vehicle's status last Tuesday" is unanswerable there.
This module maintains the Kimball type-2 answer: every tracked-attribute
change CLOSES the key's current validity interval and OPENS a new one,
giving the dimension a queryable history (``valid_from`` / ``valid_to``
/ ``is_current``) — the standard warehouse treatment (Kimball & Ross,
The Data Warehouse Toolkit, ch. 5), implemented lakehouse-style on the
repo's versioned-table MERGE.

Scale shape:

* Each :func:`scd2_merge` touches O(batch) rows: the batch joins the
  CURRENT slice only (``is_current`` filter — at 100 TB this is the
  dimension's live cardinality, not its history), and only changed /
  new / closed rows enter the MERGE.  Untouched history is never read
  or rewritten.
* Rows are keyed ``(key, valid_from)`` so closes are UPDATEs and opens
  are INSERTs of the same idempotent MERGE — re-running a batch is a
  no-op (the new current row already equals the batch, so nothing
  classifies as changed).
* :func:`read_asof` answers point-in-time lookups with a pure filter
  (``valid_from <= ts < valid_to``) — no join, pushdown-friendly.

``effective_ts`` must strictly increase across merges that touch the
same key: two changes of one key at the SAME effective timestamp would
collide on the ``(key, valid_from)`` merge key (the close and the open
become one row).  :func:`scd2_merge` raises rather than corrupt history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_SEP = "\x1f"


def _scd_key(key: str):
    return F.concat_ws(
        _SEP,
        F.col(key).cast("string"),
        F.date_format(F.col("valid_from"), "yyyy-MM-dd HH:mm:ss.SSSSSS"),
    )


def scd2_merge(
    spark: SparkSession,
    dim_root: str,
    batch: DataFrame,
    key: str,
    tracked_cols: list[str],
    effective_ts: str,
    full_snapshot: bool = False,
) -> dict:
    """Apply a batch of ``(key, tracked attributes)`` to the SCD2
    dimension at ``dim_root``, effective at ``effective_ts`` (an ISO
    timestamp string).  New keys open a current interval; keys whose
    tracked attributes changed close their current interval at the
    effective time and open a new one; unchanged keys cost nothing.
    With ``full_snapshot=True`` the batch is the COMPLETE key universe:
    current keys missing from it are closed (dimension-member removal).

    Returns ``{n_new, n_changed, n_closed_missing}``.
    """
    from door2door_etl_spark.io.manifest import ManifestTable, merge_manifest

    eff = F.lit(effective_ts).cast("timestamp")
    b = batch.select(key, *tracked_cols).dropDuplicates([key])

    def _open_rows(src: DataFrame) -> DataFrame:
        return src.select(
            F.col(key),
            *[F.col(c) for c in tracked_cols],
            eff.alias("valid_from"),
            F.lit(None).cast("timestamp").alias("valid_to"),
            F.lit(True).alias("is_current"),
        )

    table = ManifestTable(dim_root)
    if table.current_version() is None:
        opened = _open_rows(b)
        n_new = opened.count()
        merge_manifest(
            spark, dim_root,
            opened.withColumn("_scd_key", _scd_key(key)),
            key="_scd_key",
        )
        return {"n_new": n_new, "n_changed": 0, "n_closed_missing": 0}

    dim = table.read(spark)
    cur = dim.filter(F.col("is_current")).select(
        F.col(key).alias("_ck"),
        F.col("valid_from").alias("_cur_from"),
        *[F.col(c).alias(f"_cur_{c}") for c in tracked_cols],
    )
    # the classify join feeds several actions (clash guard, the two
    # counts, the MERGE) — evaluate it once
    joined = b.join(cur, b[key] == cur["_ck"], "left").persist()
    changed_cond = F.lit(False)
    for c in tracked_cols:
        changed_cond = changed_cond | ~F.col(c).eqNullSafe(
            F.col(f"_cur_{c}")
        )
    new_keys = joined.filter(F.col("_ck").isNull())
    changed = joined.filter(F.col("_ck").isNotNull() & changed_cond)

    # effective-time monotonicity guard (see module doc): a change whose
    # current interval opened at or after the new effective time would
    # collide on the (key, valid_from) merge key
    clash = changed.filter(F.col("_cur_from") >= eff).limit(1).count()
    if clash:
        raise ValueError(
            f"effective_ts {effective_ts!r} is not strictly after the "
            "current interval of every changed key — SCD2 history would "
            "collapse; use a later effective time"
        )

    closes = changed.select(
        F.col(key),
        *[F.col(f"_cur_{c}").alias(c) for c in tracked_cols],
        F.col("_cur_from").alias("valid_from"),
        eff.alias("valid_to"),
        F.lit(False).alias("is_current"),
    )
    opens = _open_rows(
        new_keys.select(key, *tracked_cols).unionByName(
            changed.select(key, *tracked_cols)
        )
    )
    n_new = new_keys.count()
    n_changed = changed.count()
    n_closed_missing = 0
    rows = closes.unionByName(opens)
    if full_snapshot:
        missing = (
            dim.filter(F.col("is_current"))
            .join(b.select(F.col(key).alias("_bk")),
                  F.col(key) == F.col("_bk"), "left_anti")
        )
        n_closed_missing = missing.count()
        rows = rows.unionByName(
            missing.select(
                F.col(key),
                *[F.col(c) for c in tracked_cols],
                "valid_from",
                eff.alias("valid_to"),
                F.lit(False).alias("is_current"),
            )
        )
    try:
        merge_manifest(
            spark, dim_root, rows.withColumn("_scd_key", _scd_key(key)),
            key="_scd_key",
        )
    finally:
        joined.unpersist()
    return {
        "n_new": n_new,
        "n_changed": n_changed,
        "n_closed_missing": n_closed_missing,
    }


def read_dim(spark: SparkSession, dim_root: str) -> DataFrame:
    """The full SCD2 history (bookkeeping key dropped)."""
    from door2door_etl_spark.io.manifest import ManifestTable

    return ManifestTable(dim_root).read(spark).drop("_scd_key")


def read_current(spark: SparkSession, dim_root: str) -> DataFrame:
    """The dimension's live slice — one row per surviving key."""
    return read_dim(spark, dim_root).filter(F.col("is_current")).drop(
        "valid_to", "is_current"
    )


def read_asof(spark: SparkSession, dim_root: str, ts: str) -> DataFrame:
    """Point-in-time slice: each key's attributes as of ``ts`` (ISO
    timestamp string) — a pure interval filter, no join."""
    t = F.lit(ts).cast("timestamp")
    return (
        read_dim(spark, dim_root)
        .filter(
            (F.col("valid_from") <= t)
            & (F.col("valid_to").isNull() | (F.col("valid_to") > t))
        )
        .drop("valid_to", "is_current")
    )
