"""Incrementally-maintained JOIN view from two tables' CDC feeds.

``pipeline/aggview.py`` maintains grouped AGGREGATES from one table's
change feed; this module maintains the other workhorse materialization —
a many-to-one equi-JOIN (fact enriched by a dimension, e.g.
``orders ⋈ customer``) — from the change feeds of BOTH sides, the classic
delta-join rule (Gupta, Mumick & Subrahmanian, SIGMOD '93; Blakeley et
al., SIGMOD '86):

    V' - V  =  ΔL ⋈ R'   ∪   (L' ⋉ keys(ΔR)) ⋈ R'   (minus vanished rows)

materialized here in its *affected-rows recompute* form: the left keys a
window can touch are exactly ``keys(ΔL) ∪ {l : l.fk ∈ keys(ΔR)}``; those
rows are re-derived from the NEW snapshots and MERGEd; affected keys that
no longer produce a row (left deleted, or the inner match lost) become
``_live = false`` tombstones filtered on read.  This is equivalent to the
signed-delta algebra for a many-to-one join (each left key contributes at
most one view row) and is idempotent per window by construction.

Why this matters at 100 TB: a refresh costs O(|ΔL|) + O(|L ⋉ keys(ΔR)|)
— never O(L ⋈ R).  The right-delta probe is a slim semi-join of the fact
against the changed dimension KEYS only (broadcastable for any real
dimension churn); with the manifest lake's fk column stats the probe
additionally prunes non-matching files.  Dimension-update storms (every
fact row referencing a changed key) degrade gracefully to the rows
actually referencing them, which is the information-theoretic floor.

Effectively-once discipline (same argument as ``aggview``): the window's
ledger row commits in the SAME atomic view version as the row updates,
and the two source cursors commit after.  A crash anywhere replays safely:
a landed ledger row advances the cursors without re-applying; an exact
window redelivery is detected and skipped.  Late-arriving dimension rows
back-fill naturally — an inserted right key makes its referencing left
rows "affected", so previously-unmatched facts join in on the next
refresh (the streaming-world "late dim" problem solved in the batch
protocol).

Retention contract (inherited from ChangeFeedCursor): each source's
vacuum ``keep``/``min_age_hours`` must exceed the view's maximum refresh
lag, or the next window raises the retained-versions error from time
travel — loudly, never a silent gap.

Reference analog: none — the reference has no incremental join path (or
any query module at all); its analyst joins are delegated to warehouse
SQL run against the Postgres mart it loads
(/root/reference/README.md:48-51, load path
/root/reference/src/helper/postgres.py).
"""

from __future__ import annotations

from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from door2door_etl_spark.io.manifest import (
    ChangeFeedCursor,
    ManifestTable,
    merge_manifest,
    table_changes_manifest,
)

_LEDGER_PREFIX = "\x00ledger"


@dataclass
class IncrementalJoinView:
    """Maintained ``left ⋈ right`` on ``left.fk == right.right_key``.

    ``left_key`` must be unique in the left table and ``right_key`` unique
    in the right (the many-to-one enrichment shape).  ``how`` is ``inner``
    or ``left`` (left-outer keeps unmatched facts with null right
    payload).  View rows are keyed by ``left_key`` (cast to string — the
    ledger shares the key space via a reserved prefix).
    """

    left_root: str
    right_root: str
    view_root: str
    left_key: str
    fk: str
    right_key: str
    left_cols: list[str]
    right_cols: list[str]
    how: str = "inner"

    def __post_init__(self) -> None:
        if self.how not in ("inner", "left"):
            raise ValueError(f"how must be inner|left, got {self.how!r}")
        overlap = set(self.left_cols) & set(self.right_cols)
        if overlap:
            raise ValueError(f"ambiguous view columns: {sorted(overlap)}")

    # -- cursors / ledger ------------------------------------------------

    def _cursors(self) -> tuple[ChangeFeedCursor, ChangeFeedCursor]:
        return (
            ChangeFeedCursor(
                root=self.left_root,
                cursor_path=str(Path(self.view_root) / "_cdc_cursor_left"),
            ),
            ChangeFeedCursor(
                root=self.right_root,
                cursor_path=str(Path(self.view_root) / "_cdc_cursor_right"),
            ),
        )

    def _tag(self, ll: int, lv: int, rl: int, rv: int) -> str:
        return f"{_LEDGER_PREFIX}:{ll}:{lv}:{rl}:{rv}"

    def _view_raw(self, spark: SparkSession) -> DataFrame | None:
        if ManifestTable(self.view_root).current_version() is None:
            return None
        return ManifestTable(self.view_root).read(spark)

    def _landed_frontier(self, spark: SparkSession) -> tuple[int, int] | None:
        """Largest (left_to, right_to) among committed ledger rows — the
        crash-recovery frontier.  Windows are sequential under the module
        family's single-maintainer contract, so the max per side IS the
        last landed window.  Bounded scan: one ledger row per window."""
        raw = self._view_raw(spark)
        if raw is None:
            return None
        row = (
            raw.filter(F.col("_vk").startswith(_LEDGER_PREFIX))
            .select(F.split(F.col("_vk"), ":").alias("p"))
            .select(
                F.max(F.element_at("p", 3).cast("long")).alias("lv"),
                F.max(F.element_at("p", 5).cast("long")).alias("rv"),
            )
            .collect()[0]
        )
        if row["lv"] is None:
            return None
        return int(row["lv"]), int(row["rv"])

    def _window_applied(
        self, spark: SparkSession, ll: int, lv: int, rl: int, rv: int
    ) -> bool:
        raw = self._view_raw(spark)
        if raw is None:
            return False
        tag = self._tag(ll, lv, rl, rv)
        return raw.filter(F.col("_vk") == tag).limit(1).count() > 0

    # -- frames ------------------------------------------------------------

    def _joined(self, left: DataFrame, right: DataFrame) -> DataFrame:
        l = left.select(
            F.col(self.left_key).cast("string").alias("_vk"),
            F.col(self.fk).cast("string").alias("_fk"),
            *self.left_cols,
        )
        r = right.select(
            F.col(self.right_key).cast("string").alias("_fk"),
            *self.right_cols,
        )
        out = l.join(r, "_fk", self.how)
        return out.select(
            "_vk",
            "_fk",
            *self.left_cols,
            *self.right_cols,
            F.lit(True).alias("_live"),
        )

    def _ledger_row(
        self, spark: SparkSession, like: DataFrame, ll: int, lv: int, rl: int, rv: int
    ) -> DataFrame:
        tag = self._tag(ll, lv, rl, rv)
        row = spark.range(1).select(
            *[
                F.lit(tag).alias(f.name)
                if f.name == "_vk"
                else (
                    F.lit(False).alias("_live")
                    if f.name == "_live"
                    else F.lit(None).cast(f.dataType).alias(f.name)
                )
                for f in like.schema.fields
            ]
        )
        return row

    def read(self, spark: SparkSession) -> DataFrame:
        """The maintained join, ledger/tombstone rows filtered out."""
        raw = self._view_raw(spark)
        if raw is None:
            raise ValueError(f"{self.view_root} has no committed versions")
        return raw.filter(F.col("_live")).drop("_live")

    # -- maintenance -------------------------------------------------------

    def refresh(self, spark: SparkSession) -> dict:
        """Advance the view to both sources' current versions.

        Returns ``{"action", "left_window", "right_window",
        "rows_touched"}``.
        """
        lv = ManifestTable(self.left_root).current_version()
        rv = ManifestTable(self.right_root).current_version()
        if lv is None or rv is None:
            raise ValueError("both sources need a committed version")
        lcur, rcur = self._cursors()
        ll, rl = lcur.last_committed(), rcur.last_committed()

        if ll is None or rl is None:
            # Seed-crash recovery FIRST: if a prior refresh committed the
            # view + ledger but died before (some) cursor commit, the
            # cursors still read None here — and re-seeding would be an
            # upsert-only merge over a view whose since-deleted source
            # rows it can no longer retract (permanent _live ghosts).
            # A landed ledger row is the durable truth: roll both cursors
            # forward to its frontier and fall through to the delta path,
            # exactly as the post-seed crash-recovery block does.
            frontier = self._landed_frontier(spark)
            if frontier is not None:
                flv, frv = frontier
                lcur.commit(flv)
                rcur.commit(frv)
                ll, rl = flv, frv
        if ll is None or rl is None:
            seed = self._joined(
                ManifestTable(self.left_root).read(spark, lv),
                ManifestTable(self.right_root).read(spark, rv),
            )
            ledger = self._ledger_row(spark, seed, 0, lv, 0, rv)
            n = merge_manifest(
                spark, self.view_root, seed.unionByName(ledger), key="_vk"
            )
            lcur.commit(lv)
            rcur.commit(rv)
            return {
                "action": "seed",
                "left_window": (None, lv),
                "right_window": (None, rv),
                "rows_touched": n - 1,
            }

        # Crash recovery: a landed ledger past the cursors means a prior
        # refresh committed the view but died before (some) cursor commit.
        frontier = self._landed_frontier(spark)
        if frontier is not None:
            flv, frv = frontier
            if flv > ll:
                lcur.commit(flv)
                ll = flv
            if frv > rl:
                rcur.commit(frv)
                rl = frv

        if lv <= ll and rv <= rl:
            return {
                "action": "noop",
                "left_window": (ll, ll),
                "right_window": (rl, rl),
                "rows_touched": 0,
            }

        if self._window_applied(spark, ll, lv, rl, rv):
            lcur.commit(lv)
            rcur.commit(rv)
            return {
                "action": "replay-skip",
                "left_window": (ll, lv),
                "right_window": (rl, rv),
                "rows_touched": 0,
            }

        left_new = ManifestTable(self.left_root).read(spark, lv)
        right_new = ManifestTable(self.right_root).read(spark, rv)

        # Affected left keys: changed left rows, plus left rows whose fk
        # points at a changed right key (insert, update, or delete — a
        # late-arriving dimension row back-fills here).
        affected = None
        if lv > ll:
            affected = table_changes_manifest(
                spark, self.left_root, self.left_key, ll, lv
            ).select(F.col(self.left_key).cast("string").alias("_vk"))
        if rv > rl:
            dr_keys = table_changes_manifest(
                spark, self.right_root, self.right_key, rl, rv
            ).select(
                F.col(self.right_key).cast("string").alias("_fk")
            ).distinct()
            via_r = (
                left_new.select(
                    F.col(self.left_key).cast("string").alias("_vk"),
                    F.col(self.fk).cast("string").alias("_fk"),
                )
                .join(F.broadcast(dr_keys), "_fk", "leftsemi")
                .select("_vk")
            )
            affected = via_r if affected is None else affected.unionByName(via_r)
        affected = affected.distinct()

        # Re-derive the affected rows from the NEW snapshots.
        left_aff = left_new.join(
            affected,
            left_new[self.left_key].cast("string") == affected["_vk"],
            "leftsemi",
        )
        rows = self._joined(left_aff, right_new)
        dead = (
            affected.join(rows.select("_vk"), "_vk", "left_anti")
            .select("_vk")
        )
        dead_rows = dead.select(
            *[
                F.col("_vk")
                if f.name == "_vk"
                else (
                    F.lit(False).alias("_live")
                    if f.name == "_live"
                    else F.lit(None).cast(f.dataType).alias(f.name)
                )
                for f in rows.schema.fields
            ]
        )
        ledger = self._ledger_row(spark, rows, ll, lv, rl, rv)
        out = rows.unionByName(dead_rows).unionByName(ledger)
        n = merge_manifest(spark, self.view_root, out, key="_vk")
        lcur.commit(lv)
        rcur.commit(rv)
        return {
            "action": "delta",
            "left_window": (ll, lv),
            "right_window": (rl, rv),
            "rows_touched": n - 1,
        }
