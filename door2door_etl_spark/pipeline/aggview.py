"""Incremental aggregate-view maintenance from the CDC change feed.

The reference's warehouse recomputes analyst aggregates by rescanning the
base table per query (README.md:48-51, src/helper/postgres.py:97-116).
This module maintains an arbitrary-grain grouped aggregate purely from
the table's change feed, whatever the physical partitioning — the classic
*counting algorithm* for incremental view maintenance (Gupta, Mumick &
Subrahmanian, SIGMOD '93): every change contributes a signed delta
(+1 for the post-image, -1 for the pre-image), deltas aggregate per
group, and the view's absolute values advance by the delta.

Why this matters at 100 TB: a refresh costs O(changed keys), never
O(table).  The change feed itself is a slim key+hash diff of two
manifests (``io/manifest.table_changes_manifest``); the only base-table touch is
one semi-join of the OLD snapshot against the changed keys to recover
pre-images (the MERGE sink stores no preimages — same posture as Delta's
CDF-less tables), and the view MERGE touches only the affected groups.

Effectively-once discipline: the applied window's ledger row commits in
the SAME atomic view version as the group updates (one
``merge_manifest`` batch), so an at-least-once redelivery of a window
(crash between view commit and cursor commit) is detected by its ledger
row and skipped — the same batch-ledger argument as
``streaming/pipeline.stream_sketch_ledger``, moved into the table's
own commit protocol.  Groups whose row count reaches zero stay as
tombstoned rows (``n_rows = 0``) and are filtered on read; MERGE never
needs a second (non-atomic) delete commit.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from door2door_etl_spark.io.manifest import (
    ChangeFeedCursor,
    ManifestTable,
    merge_manifest,
    table_changes_manifest,
)
from door2door_etl_spark.operators import local

_SEP = "\x1f"
_NULL = "\x00null"
_LEDGER_PREFIX = "\x00ledger"

# HLL geometry for distinct_cols registers (matches operators.sketches:
# same portable 52-bit sha256 hash, same p=6 / m=64 bucket split, so the
# maintained registers are bit-identical to hll_register_table's and the
# estimate to hll_estimate's).
_HLL_P = 6
_HLL_M = 1 << _HLL_P
_HLL_HASH_BITS = 52
_HLL_WBITS = _HLL_HASH_BITS - _HLL_P
_HLL_RMAX = _HLL_WBITS + 1
_HLL_ALPHA = {4: 0.673, 5: 0.697, 6: 0.709}.get(
    _HLL_P, 0.7213 / (1 + 1.079 / _HLL_M)
)


def _hll_register_array_agg(c: str):
    """Aggregate expression: per-group HLL registers as a DENSE
    ``array<int>`` of length m (index = bucket, value = max rank, 0 =
    empty) — the single-column twin of sketches.hll_register_table,
    shaped for a one-row-per-group view.  m conditional MAXes, all
    map-side combinable; NULL values hash to NULL and drop out."""
    from door2door_etl_spark.operators.sketches import _h52

    h = _h52(F.col(c), "hll")
    bucket = F.shiftright(h, _HLL_WBITS).cast("int")
    w = h.bitwiseAND(F.lit((1 << _HLL_WBITS) - 1))
    rank = F.when(
        w > 0, F.lit(_HLL_RMAX) - F.length(F.bin(w))
    ).otherwise(F.lit(_HLL_RMAX)).cast("int")
    return F.array(
        *[
            F.coalesce(F.max(F.when(bucket == i, rank)), F.lit(0))
            for i in range(_HLL_M)
        ]
    )


def _EMPTY_HDR_MAP():
    return F.expr("CAST(map() AS MAP<BIGINT,BIGINT>)")


def _hll_register_array_agg_weighted(c: str):
    """:func:`_hll_register_array_agg` restricted to post-image rows
    (``_w == 1``) of a signed-delta frame — the insert-only register
    delta the MAX-merge maintenance folds in."""
    from door2door_etl_spark.operators.sketches import _h52

    h = _h52(F.col(c), "hll")
    bucket = F.shiftright(h, _HLL_WBITS).cast("int")
    w = h.bitwiseAND(F.lit((1 << _HLL_WBITS) - 1))
    rank = F.when(
        w > 0, F.lit(_HLL_RMAX) - F.length(F.bin(w))
    ).otherwise(F.lit(_HLL_RMAX)).cast("int")
    return F.array(
        *[
            F.coalesce(
                F.max(
                    F.when((F.col("_w") == 1) & (bucket == i), rank)
                ),
                F.lit(0),
            )
            for i in range(_HLL_M)
        ]
    )


def _hll_estimate_expr(col_name: str):
    """Distinct estimate from a dense register array column — Flajolet
    et al.'s raw estimator with the linear-counting small-range
    correction, the harmonic sum computed as an EXACT integer
    (sketches.hll_estimate's determinism discipline, re-expressed over
    the array; SQL ``shiftleft`` because the PySpark wrapper only takes
    a literal shift)."""
    s_total = F.expr(
        f"aggregate(`{col_name}`, CAST(0 AS BIGINT), "
        f"(acc, r) -> acc + shiftleft(CAST(1 AS BIGINT), {_HLL_RMAX} - r))"
    ).cast("double")
    zeros = F.expr(
        f"aggregate(`{col_name}`, 0, "
        "(acc, r) -> acc + IF(r = 0, 1, 0))"
    ).cast("double")
    numer = (
        F.lit(_HLL_ALPHA)
        * F.lit(float(_HLL_M * _HLL_M))
        * F.lit(float(1 << _HLL_RMAX))
    )
    raw = numer / s_total
    return F.when(
        (raw <= F.lit(2.5 * _HLL_M)) & (zeros > 0),
        F.round(F.lit(float(_HLL_M)) * F.log(F.lit(float(_HLL_M)) / zeros), 4),
    ).otherwise(F.round(raw, 4))


def _group_key_expr(group_cols: list[str]):
    """Deterministic string merge key for a group tuple; NULL encodes as a
    sentinel distinct from the string 'null' so (NULL,) and ('null',) are
    different groups."""
    parts = [
        F.coalesce(F.col(c).cast("string"), F.lit(_NULL)) for c in group_cols
    ]
    return F.concat_ws(_SEP, *parts)


@dataclass(frozen=True)
class IncrementalAggView:
    """A standing ``GROUP BY group_cols -> count + sums`` view over a
    committed table, maintained from its change feed.

    ``sum_cols``: numeric source columns to SUM per group (NULLs
    contribute nothing, matching SQL SUM).  ``avg_cols``: columns to
    AVG per group — derivable, maintained as the exactly-delta-able
    pair (sum, non-null count) and divided at read; matches SQL AVG
    (NULLs excluded from both numerator and denominator).
    ``minmax_cols``: columns to MIN/MAX per group — NOT purely
    delta-maintainable: inserts merge incrementally (least/greatest),
    but a retraction that touches a group's stored bound triggers a
    RECOMPUTE of that group's min/max from the new snapshot, restricted
    to exactly the flagged groups (the standard IVM treatment of
    non-summable aggregates; cost is O(rows of flagged groups), zero
    when deletes never hit an extreme).  ``distinct_cols``: columns to
    approximate-COUNT-DISTINCT per group via mergeable HLL registers
    (p=6, the sketches module's portable geometry) stored as one dense
    ``array<int>`` per group.

    ``hdr_cols``: columns to maintain per-group QUANTILE state for, as
    an HDR log2-histogram bin map (``map<bin, cnt>``, the sketches
    module's portable binning).  Unlike HLL, bin counts SUM-merge, so
    deletes retract EXACTLY — the maintained map equals the histogram
    of the live snapshot at every version (the strongest invariant in
    this class; pinned by test).  Read quantiles via :meth:`read_hdr`
    + ``operators.sketches.hdr_quantiles``.

    RETRACTION CONTRACT for ``distinct_cols`` (delete-aware since round
    9): each group carries, besides the HLL registers, a bounded exact
    value ledger ``dv_<c>: map<value, live count>`` while the group
    holds at most ``distinct_exact_k`` distinct values.  The ledger
    SUM-merges like the HDR maps, so in this EXACT regime deletes
    retract perfectly and ``distinct_est_<c>`` IS the live distinct
    count.  A group whose distinct cardinality exceeds the cap drops
    its ledger (NULL marker) and serves the HLL estimate; because HLL
    MAX-merge is delete-blind, a retraction touching an overflowed
    group triggers a RECOMPUTE of that group's registers (and, if it
    shrank back under the cap, its ledger) from the new snapshot —
    the same bound-touch pattern min/max uses, restricted to exactly
    the flagged groups.  Net: the estimate never drifts up under churn;
    between delete waves an overflowed group's estimate covers the
    values inserted since its last recompute.  ``distinct_exact_k=0``
    disables the ledger entirely and restores the round-8 contract
    (ever-inserted upper bound, no rescan ever).

    The view table (itself a committed table) holds one row per group
    plus one ledger row per applied window.
    """

    source_root: str
    view_root: str
    key: str
    group_cols: list[str]
    sum_cols: list[str] = field(default_factory=list)
    minmax_cols: list[str] = field(default_factory=list)
    avg_cols: list[str] = field(default_factory=list)
    distinct_cols: list[str] = field(default_factory=list)
    hdr_cols: list[str] = field(default_factory=list)
    hdr_sub_bits: int = 4
    distinct_exact_k: int = 64

    @property
    def _stored_sum_cols(self) -> list[str]:
        """Columns whose per-group SUM is physically stored: explicit
        sum_cols plus avg_cols' numerators (deduped, order-stable)."""
        return list(dict.fromkeys([*self.sum_cols, *self.avg_cols]))

    # -- frames -----------------------------------------------------------
    def _agg(self, base: DataFrame) -> DataFrame:
        """The view definition applied to any frame (weights all +1)."""
        aggs = (
            [F.count(F.lit(1)).alias("n_rows")]
            + [F.sum(c).alias(f"sum_{c}") for c in self._stored_sum_cols]
            + [F.count(c).alias(f"cnt_{c}") for c in self.avg_cols]
            + [
                e
                for c in self.minmax_cols
                for e in (
                    F.min(c).alias(f"min_{c}"),
                    F.max(c).alias(f"max_{c}"),
                )
            ]
            + [
                _hll_register_array_agg(c).alias(f"hll_{c}")
                for c in self.distinct_cols
            ]
        )
        out = base.groupBy(*self.group_cols).agg(*aggs)
        for c in self.hdr_cols:
            out = self._join_on_group(out, self._hdr_map(base, c))
        if self.distinct_exact_k:
            for c in self.distinct_cols:
                out = self._join_on_group(out, self._dv_map(base, c))
        return out

    def _dv_map(self, base: DataFrame, c: str) -> DataFrame:
        """Per-group exact distinct-value ledger ``dv_<c>: map<value
        string, live count>`` for groups at or under the
        ``distinct_exact_k`` cap; groups over the cap get NULL (the
        overflow marker).  Bounded at scale: the cardinality gate runs
        FIRST (one count-distinct aggregate) and only sub-cap groups'
        entries are ever collected into a map — a distinct-heavy group
        never materializes an unbounded entry list."""
        gk = "_gk_dv"
        per_val = (
            base.filter(F.col(c).isNotNull())
            .groupBy(
                *self.group_cols, F.col(c).cast("string").alias("_v")
            )
            .agg(F.count(F.lit(1)).cast("long").alias("_cnt"))
            .withColumn(gk, _group_key_expr(self.group_cols))
        )
        nd = per_val.groupBy(gk, *self.group_cols).agg(
            F.count(F.lit(1)).alias("_nd")
        )
        small = nd.filter(F.col("_nd") <= self.distinct_exact_k).select(gk)
        maps = (
            per_val.join(F.broadcast(small), gk, "leftsemi")
            .groupBy(gk)
            .agg(
                F.map_from_entries(
                    F.sort_array(
                        F.collect_list(F.struct(F.col("_v"), F.col("_cnt")))
                    )
                ).alias(f"dv_{c}")
            )
        )
        # NULL map for over-cap groups (left join misses), EMPTY map for
        # groups whose every value is NULL (absent from per_val entirely —
        # they fall out of this frame and the caller's left join leaves
        # dv NULL there too; read() serves their 0 via the HLL estimate)
        return (
            nd.join(maps, gk, "left")
            .select(*self.group_cols, f"dv_{c}")
        )

    def _hdr_map(self, base: DataFrame, c: str) -> DataFrame:
        """Per-group HDR bin map ``hdr_<c>: map<bin, cnt>`` of the
        NON-NULL values (two-level agg: bounded bin keys, then one
        sorted-entries map per group — map size <= bins, not rows)."""
        from door2door_etl_spark.operators.sketches import hdr_bin_expr

        return (
            base.filter(F.col(c).isNotNull())
            .groupBy(
                *self.group_cols,
                hdr_bin_expr(F.col(c), self.hdr_sub_bits).alias("_bin"),
            )
            .agg(F.count(F.lit(1)).cast("long").alias("_cnt"))
            .groupBy(*self.group_cols)
            .agg(
                F.map_from_entries(
                    F.sort_array(
                        F.collect_list(F.struct(F.col("_bin"), F.col("_cnt")))
                    )
                ).alias(f"hdr_{c}")
            )
        )

    def _join_on_group(
        self, left: DataFrame, right: DataFrame, cols: list[str] | None = None
    ) -> DataFrame:
        """Left-join two group-grained frames NULL-safely via the
        deterministic group key (group values may be NULL).  ``cols``
        defaults to the view grain; an EMPTY list joins two one-row
        grand-total frames."""
        cols = self.group_cols if cols is None else cols
        # empty cols (grand total): _group_key_expr([]) is the constant
        # "" on both sides — a 1-row x 1-row left join
        k = "_gk_join"
        lk = left.withColumn(k, _group_key_expr(cols))
        rk = right.withColumn(k, _group_key_expr(cols)).drop(*cols)
        return lk.join(rk, k, "left").drop(k)

    def read(self, spark: SparkSession) -> DataFrame:
        """Current view: group rows only (ledger rows and zero-count
        tombstones filtered out).  Derived columns: ``avg_<c>`` =
        stored sum / stored non-null count (NULL when the group has no
        values — SQL AVG), ``distinct_est_<c>`` = HLL estimate of the
        maintained registers (ever-inserted distinct; see the class
        retraction contract)."""
        df = ManifestTable(self.view_root).read(spark)
        return df.filter(
            (~F.col("_group_key").startswith(_LEDGER_PREFIX))
            & (F.col("n_rows") > 0)
        ).select(
            *self.group_cols,
            "n_rows",
            *[f"sum_{c}" for c in self.sum_cols],
            *[
                F.when(
                    F.col(f"cnt_{c}") > 0,
                    F.round(F.col(f"sum_{c}") / F.col(f"cnt_{c}"), 6),
                ).alias(f"avg_{c}")
                for c in self.avg_cols
            ],
            *[
                n
                for c in self.minmax_cols
                for n in (f"min_{c}", f"max_{c}")
            ],
            *[
                self._distinct_est_expr(c)
                for c in self.distinct_cols
            ],
        )

    def _hll_merge_expr(self, c: str, dv_rec, zero_regs):
        """Delta-merged registers for ``hll_<c>``: elementwise MAX of
        current and insert-delta registers; under the delete-aware
        ledger, a recompute-flagged group's registers are replaced by
        the live snapshot's (``_rec_hll_<c>``)."""
        merged = F.zip_with(
            F.coalesce(F.col(f"_cur_hll_{c}"), F.array(*[F.lit(0)] * _HLL_M)),
            F.coalesce(F.col(f"_ins_hll_{c}"), F.array(*[F.lit(0)] * _HLL_M)),
            lambda a, b: F.greatest(a, b),
        )
        if not self.distinct_exact_k:
            return merged.cast("array<int>").alias(f"hll_{c}")
        return (
            F.when(dv_rec, F.coalesce(F.col(f"_rec_hll_{c}"), zero_regs))
            .otherwise(merged)
            .cast("array<int>")
            .alias(f"hll_{c}")
        )

    def _distinct_est_expr(self, c: str):
        """``distinct_est_<c>`` read expression: the EXACT live count
        (ledger size) while the group's ledger is live, the HLL
        estimate for overflowed groups (NULL ledger = overflow
        marker)."""
        est = _hll_estimate_expr(f"hll_{c}")
        if not self.distinct_exact_k:
            return est.alias(f"distinct_est_{c}")
        return (
            F.when(
                F.col(f"dv_{c}").isNotNull(),
                F.round(F.size(F.col(f"dv_{c}")).cast("double"), 4),
            )
            .otherwise(est)
            .alias(f"distinct_est_{c}")
        )

    def _live_state(self, spark: SparkSession) -> DataFrame:
        """Stored per-group state rows (ledger + tombstones filtered)."""
        df = ManifestTable(self.view_root).read(spark)
        return df.filter(
            (~F.col("_group_key").startswith(_LEDGER_PREFIX))
            & (F.col("n_rows") > 0)
        )

    def serve_rollup(
        self, spark: SparkSession, rollup_cols: list[str]
    ) -> DataFrame:
        """Answer a COARSER-grain aggregate query purely from maintained
        view state — materialized-view query rewriting (Gupta & Mumick's
        summary-table rollup): a ``GROUP BY rollup_cols`` over the same
        measures is covered by this view whenever ``rollup_cols ⊆
        group_cols``, because every maintained measure is re-aggregable
        from per-group state:

        * ``n_rows`` / ``sum_<c>`` are distributive — SUM of sums;
        * ``avg_<c>`` is algebraic — SUM(numerator)/SUM(non-null count)
          over the stored pair (never avg-of-avgs);
        * ``min_<c>`` / ``max_<c>`` — MIN of mins / MAX of maxes (exact
          at fine grain by the retraction-recompute contract, hence
          exact rolled up);
        * ``distinct_est_<c>`` — EXACT when every contributing fine
          group's value ledger is live: the rolled count is the number
          of distinct ledger keys across the fine groups (counts sum,
          so cross-group value overlap collapses correctly) — exactness
          is free at serve time even past the storage cap.  If ANY
          contributing group overflowed, element-wise MAX-merge of the
          HLL register arrays (the sketch's defining merge), under the
          class retraction contract.

        At 100 TB this is the point of maintaining the view: serving
        touches O(fine groups) rows of view state — typically 10⁰–10⁶ —
        never the source table.  ``rollup_cols=[]`` serves the grand
        total.  Raises if the requested grain is not covered (caller
        falls back to a source scan — the rewrite rule, made explicit).
        """
        missing = [c for c in rollup_cols if c not in self.group_cols]
        if missing:
            raise ValueError(
                f"rollup grain {rollup_cols} not covered by view grain "
                f"{self.group_cols}: unknown {missing}"
            )
        state = self._live_state(spark)
        aggs = (
            [F.sum("n_rows").alias("n_rows")]
            + [
                F.sum(f"sum_{c}").alias(f"sum_{c}")
                for c in self._stored_sum_cols
            ]
            + [F.sum(f"cnt_{c}").alias(f"cnt_{c}") for c in self.avg_cols]
            + [
                e
                for c in self.minmax_cols
                for e in (
                    F.min(f"min_{c}").alias(f"min_{c}"),
                    F.max(f"max_{c}").alias(f"max_{c}"),
                )
            ]
            + [
                F.array(
                    *[
                        F.max(F.element_at(F.col(f"hll_{c}"), i + 1))
                        for i in range(_HLL_M)
                    ]
                ).alias(f"hll_{c}")
                for c in self.distinct_cols
            ]
            + [
                F.min(F.col(f"dv_{c}").isNotNull()).alias(f"_allx_{c}")
                for c in (self.distinct_cols if self.distinct_exact_k else [])
            ]
        )
        rolled = state.groupBy(*rollup_cols).agg(*aggs)
        if self.distinct_exact_k:
            for c in self.distinct_cols:
                # exact rolled distinct: number of distinct ledger keys
                # across the contributing fine groups (used only where
                # every contributor is exact — the _allx_<c> gate)
                ex = (
                    state.select(
                        *rollup_cols,
                        F.explode(F.col(f"dv_{c}")).alias("_v", "_cnt"),
                    )
                    .groupBy(*rollup_cols)
                    .agg(
                        F.count_distinct(F.col("_v"))
                        .cast("double")
                        .alias(f"_dvn_{c}")
                    )
                )
                rolled = self._join_on_group(rolled, ex, rollup_cols)
        return rolled.select(
            *rollup_cols,
            "n_rows",
            *[f"sum_{c}" for c in self.sum_cols],
            *[
                F.when(
                    F.col(f"cnt_{c}") > 0,
                    F.round(F.col(f"sum_{c}") / F.col(f"cnt_{c}"), 6),
                ).alias(f"avg_{c}")
                for c in self.avg_cols
            ],
            *[
                n
                for c in self.minmax_cols
                for n in (f"min_{c}", f"max_{c}")
            ],
            *[
                (
                    F.when(
                        F.col(f"_allx_{c}"),
                        F.round(F.coalesce(F.col(f"_dvn_{c}"), F.lit(0.0)), 4),
                    ).otherwise(_hll_estimate_expr(f"hll_{c}"))
                    if self.distinct_exact_k
                    else _hll_estimate_expr(f"hll_{c}")
                ).alias(f"distinct_est_{c}")
                for c in self.distinct_cols
            ],
        )

    def read_hdr(self, spark: SparkSession, c: str) -> DataFrame:
        """The maintained HDR bin table for ``c`` —
        ``(group_cols…, bin, cnt)``, the exact histogram of the live
        snapshot (bin counts retract with deletes).  Feed straight into
        :func:`door2door_etl_spark.operators.sketches.hdr_quantiles`
        for per-group quantiles without touching the source table."""
        if c not in self.hdr_cols:
            raise ValueError(f"{c!r} is not in hdr_cols={self.hdr_cols}")
        df = ManifestTable(self.view_root).read(spark)
        return (
            df.filter(
                (~F.col("_group_key").startswith(_LEDGER_PREFIX))
                & (F.col("n_rows") > 0)
            )
            .select(
                *self.group_cols,
                F.explode(F.col(f"hdr_{c}")).alias("bin", "cnt"),
            )
        )

    # -- maintenance ------------------------------------------------------
    def _cursor(self) -> ChangeFeedCursor:
        return ChangeFeedCursor(
            root=self.source_root,
            cursor_path=str(Path(self.view_root) / "_cdc_cursor"),
        )

    def _view_schema_frame(self, spark: SparkSession, groups: DataFrame) -> DataFrame:
        """Normalize a group-aggregate frame to the view's stored schema."""
        out = groups.withColumn("_group_key", _group_key_expr(self.group_cols))
        cols = ["_group_key"] + [
            F.col(c).cast("string").alias(c) for c in self.group_cols
        ] + [F.col("n_rows").cast("long").alias("n_rows")] + [
            F.col(f"sum_{c}").cast("double").alias(f"sum_{c}")
            for c in self._stored_sum_cols
        ] + [
            F.col(f"cnt_{c}").cast("long").alias(f"cnt_{c}")
            for c in self.avg_cols
        ] + [
            F.col(n).cast("double").alias(n)
            for c in self.minmax_cols
            for n in (f"min_{c}", f"max_{c}")
        ] + [
            F.col(f"hll_{c}").cast("array<int>").alias(f"hll_{c}")
            for c in self.distinct_cols
        ] + [
            F.col(f"hdr_{c}").cast("map<bigint,bigint>").alias(f"hdr_{c}")
            for c in self.hdr_cols
        ] + [
            F.col(f"dv_{c}").cast("map<string,bigint>").alias(f"dv_{c}")
            for c in (self.distinct_cols if self.distinct_exact_k else [])
        ]
        return out.select(*cols)

    def _ledger_row(self, spark: SparkSession, from_v: int, to_v: int) -> DataFrame:
        tag = f"{_LEDGER_PREFIX}:{from_v}:{to_v}"
        parts = (
            ["_group_key string"]
            + [f"`{c}` string" for c in self.group_cols]
            + ["n_rows long"]
            + [f"`sum_{c}` double" for c in self._stored_sum_cols]
            + [f"`cnt_{c}` long" for c in self.avg_cols]
            + [
                f"`{n}` double"
                for c in self.minmax_cols
                for n in (f"min_{c}", f"max_{c}")
            ]
            + [f"`hll_{c}` array<int>" for c in self.distinct_cols]
            + [f"`hdr_{c}` map<bigint,bigint>" for c in self.hdr_cols]
            + [
                f"`dv_{c}` map<string,bigint>"
                for c in (self.distinct_cols if self.distinct_exact_k else [])
            ]
        )
        fields = (
            [tag]
            + [None] * len(self.group_cols)
            + [-1]
            + [None]
            * (
                len(self._stored_sum_cols)
                + len(self.avg_cols)
                + 2 * len(self.minmax_cols)
                + len(self.distinct_cols)
                + len(self.hdr_cols)
                + (len(self.distinct_cols) if self.distinct_exact_k else 0)
            )
        )
        return local.frame(spark, [tuple(fields)], ", ".join(parts))

    def _window_applied(self, spark: SparkSession, from_v: int, to_v: int) -> bool:
        if ManifestTable(self.view_root).current_version() is None:
            return False
        df = ManifestTable(self.view_root).read(spark)
        tag = f"{_LEDGER_PREFIX}:{from_v}:{to_v}"
        return df.filter(F.col("_group_key") == tag).limit(1).count() > 0

    def _landed_to(self, spark: SparkSession, from_v: int) -> int | None:
        """Largest ``to_v`` among committed ledger rows starting at
        ``from_v``, or None.  Crash recovery: a ledger row ``(from_v, v)``
        with the cursor still at ``from_v`` means a prior refresh committed
        the view but died before the cursor commit — those deltas HAVE
        landed and must not be applied again, even if the source has since
        advanced past ``v`` (so the exact-window replay check would miss
        it).  Bounded scan: ledger rows are one per applied window."""
        if ManifestTable(self.view_root).current_version() is None:
            return None
        df = ManifestTable(self.view_root).read(spark)
        pref = f"{_LEDGER_PREFIX}:{from_v}:"
        rows = (
            df.filter(F.col("_group_key").startswith(pref))
            .select(
                F.max(
                    F.substring(
                        F.col("_group_key"), len(pref) + 1, 32
                    ).cast("long")
                ).alias("v")
            )
            .collect()
        )
        return rows[0]["v"] if rows and rows[0]["v"] is not None else None

    def refresh(self, spark: SparkSession) -> dict:
        """Advance the view to the source's current version.

        Seeds from a full aggregate on first call; afterwards applies the
        pending change-feed window via signed deltas.  Idempotent under
        redelivery (window ledger) and crash-safe (ledger commits
        atomically with the group updates; the cursor commits last).
        Returns ``{"action", "from_version", "to_version", "groups_touched"}``.
        """
        cur = ManifestTable(self.source_root).current_version()
        if cur is None:
            raise ValueError(f"{self.source_root} has no committed versions")
        cursor = self._cursor()
        last = cursor.last_committed()

        if last is None:
            # Initial sync: materialize the aggregate of the CURRENT
            # snapshot, then start the feed from there.
            seed = self._view_schema_frame(
                spark, self._agg(ManifestTable(self.source_root).read(spark, cur))
            )
            ledger = self._ledger_row(spark, 0, cur)
            n = merge_manifest(
                spark, self.view_root, seed.unionByName(ledger), key="_group_key"
            )
            cursor.commit(cur)
            return {
                "action": "seed", "from_version": None, "to_version": cur,
                "groups_touched": n - 1,
            }

        if cur <= last:
            return {
                "action": "noop", "from_version": last, "to_version": last,
                "groups_touched": 0,
            }

        # Crash recovery BEFORE windowing: if a ledger row (last, v) landed
        # but the cursor commit was lost AND the source has since advanced
        # (cur > v), the exact-window check below would compare (last, cur)
        # against (last, v), miss, and re-apply the (last→v) deltas —
        # double-counting.  Advance the effective cursor over every landed
        # window first (looped: consecutive crashed refreshes chain).
        orig_last = last
        while True:
            landed = self._landed_to(spark, last)
            if landed is None or landed <= last:
                break
            cursor.commit(landed)
            last = landed
        if cur <= last:
            return {
                "action": "replay-skip", "from_version": orig_last,
                "to_version": last, "groups_touched": 0,
            }

        from_v, to_v = last, cur
        if self._window_applied(spark, from_v, to_v):
            # Redelivery after a crash between view commit and cursor
            # commit — the ledger says the window already landed.
            cursor.commit(to_v)
            return {
                "action": "replay-skip", "from_version": from_v,
                "to_version": to_v, "groups_touched": 0,
            }

        feed = table_changes_manifest(spark, self.source_root, self.key, from_v, to_v)
        changed_keys = feed.select(F.col(self.key).alias("_ck")).distinct()
        old = ManifestTable(self.source_root).read(spark, from_v)
        pre = old.join(
            changed_keys, old[self.key].eqNullSafe(F.col("_ck")), "leftsemi"
        ).withColumn("_w", F.lit(-1))
        post = (
            feed.filter(F.col("_change_type") != "delete")
            .drop("_change_type")
            .withColumn("_w", F.lit(1))
        )
        # Union over both schemas (null-for-missing): after schema
        # evolution a sum column absent from the old snapshot simply
        # contributes nothing on the pre-image side.
        signed = post.unionByName(pre, allowMissingColumns=True)
        delta_aggs = (
            [F.sum("_w").alias("_d_n")]
            + [
                F.sum(F.col("_w") * F.col(c)).alias(f"_d_sum_{c}")
                for c in self._stored_sum_cols
            ]
            + [
                F.sum(
                    F.when(F.col(c).isNotNull(), F.col("_w")).otherwise(0)
                ).alias(f"_d_cnt_{c}")
                for c in self.avg_cols
            ]
            + [
                e
                for c in self.minmax_cols
                for e in (
                    F.min(F.when(F.col("_w") == 1, F.col(c))).alias(f"_ins_min_{c}"),
                    F.max(F.when(F.col("_w") == 1, F.col(c))).alias(f"_ins_max_{c}"),
                    F.min(F.when(F.col("_w") == -1, F.col(c))).alias(f"_ret_min_{c}"),
                    F.max(F.when(F.col("_w") == -1, F.col(c))).alias(f"_ret_max_{c}"),
                )
            ]
        )
        # HLL register deltas come from INSERTED rows only (_w == +1):
        # MAX-merge is delete-blind by design (see the class retraction
        # contract), so pre-images contribute nothing.
        delta_aggs += [
            _hll_register_array_agg_weighted(c).alias(f"_ins_hll_{c}")
            for c in self.distinct_cols
        ]
        if self.distinct_exact_k:
            # per-group "this window retracted a value" flag — the
            # bound-touch trigger for the overflowed-group recompute
            delta_aggs += [
                F.max(
                    F.when(
                        (F.col("_w") == -1) & F.col(c).isNotNull(), F.lit(1)
                    ).otherwise(F.lit(0))
                ).alias(f"_ret_dv_{c}")
                for c in self.distinct_cols
            ]
        delta = signed.groupBy(*self.group_cols).agg(*delta_aggs).withColumn(
            "_group_key", _group_key_expr(self.group_cols)
        )
        # HDR bin-count deltas: SIGNED per-(group, bin) sums — unlike the
        # HLL registers these retract exactly, so pre-images participate
        # with weight -1 and the merged map equals the live snapshot's
        # histogram at every version.  Zero-sum bins drop before the map
        # build; the join is O(touched groups).
        if self.hdr_cols:
            from door2door_etl_spark.operators.sketches import hdr_bin_expr

            for c in self.hdr_cols:
                d_map = (
                    signed.filter(F.col(c).isNotNull())
                    .groupBy(
                        *self.group_cols,
                        hdr_bin_expr(F.col(c), self.hdr_sub_bits).alias("_bin"),
                    )
                    .agg(F.sum("_w").cast("long").alias("_d"))
                    .filter(F.col("_d") != 0)
                    .groupBy(*self.group_cols)
                    .agg(
                        F.map_from_entries(
                            F.sort_array(
                                F.collect_list(
                                    F.struct(F.col("_bin"), F.col("_d"))
                                )
                            )
                        ).alias(f"_d_hdr_{c}")
                    )
                    .withColumn("_group_key", _group_key_expr(self.group_cols))
                    .drop(*self.group_cols)
                )
                delta = delta.join(F.broadcast(d_map), "_group_key", "left")

        if self.distinct_exact_k:
            # Signed per-(group, value) ledger deltas, the HDR pattern
            # with one extra gate: a group whose WINDOW alone introduces
            # more than k distinct values is overflow-bound regardless of
            # its current ledger, so its (unboundedly large) delta map is
            # never collected — it gets a _dvbig marker instead.
            for c in self.distinct_cols:
                d_val = (
                    signed.filter(F.col(c).isNotNull())
                    .groupBy(
                        *self.group_cols,
                        F.col(c).cast("string").alias("_v"),
                    )
                    .agg(F.sum("_w").cast("long").alias("_d"))
                    .filter(F.col("_d") != 0)
                    .withColumn("_group_key", _group_key_expr(self.group_cols))
                )
                pos = d_val.groupBy("_group_key").agg(
                    F.sum(
                        F.when(F.col("_d") > 0, F.lit(1)).otherwise(F.lit(0))
                    ).alias("_npos")
                )
                big = pos.filter(
                    F.col("_npos") > self.distinct_exact_k
                ).select("_group_key", F.lit(True).alias(f"_dvbig_{c}"))
                d_map = (
                    d_val.join(
                        F.broadcast(big.select("_group_key")),
                        "_group_key",
                        "left_anti",
                    )
                    .groupBy("_group_key")
                    .agg(
                        F.map_from_entries(
                            F.sort_array(
                                F.collect_list(
                                    F.struct(F.col("_v"), F.col("_d"))
                                )
                            )
                        ).alias(f"_d_dv_{c}")
                    )
                )
                delta = delta.join(
                    F.broadcast(d_map), "_group_key", "left"
                ).join(F.broadcast(big), "_group_key", "left")

        view = ManifestTable(self.view_root).read(spark)
        current = view.filter(
            ~F.col("_group_key").startswith(_LEDGER_PREFIX)
        ).select(
            "_group_key",
            F.col("n_rows").alias("_cur_n"),
            *[
                F.col(f"sum_{c}").alias(f"_cur_sum_{c}")
                for c in self._stored_sum_cols
            ],
            *[
                F.col(f"cnt_{c}").alias(f"_cur_cnt_{c}")
                for c in self.avg_cols
            ],
            *[
                F.col(n).alias(f"_cur_{n}")
                for c in self.minmax_cols
                for n in (f"min_{c}", f"max_{c}")
            ],
            *[
                F.col(f"hll_{c}").alias(f"_cur_hll_{c}")
                for c in self.distinct_cols
            ],
            *[
                F.col(f"hdr_{c}").alias(f"_cur_hdr_{c}")
                for c in self.hdr_cols
            ],
            *[
                F.col(f"dv_{c}").alias(f"_cur_dv_{c}")
                for c in (self.distinct_cols if self.distinct_exact_k else [])
            ],
        )
        # Scale shape: the delta is O(touched groups) — broadcast its keys
        # to semi-restrict the (potentially huge) view in one streaming
        # pass, then join two small frames.  No view-sized shuffle.
        cur_touched = current.join(
            F.broadcast(delta.select("_group_key")), "_group_key", "leftsemi"
        )
        joined = delta.join(F.broadcast(cur_touched), "_group_key", "left")

        new_n = (F.coalesce(F.col("_cur_n"), F.lit(0)) + F.col("_d_n")).cast("long")
        minmax_exprs = []
        if self.minmax_cols:
            # A retraction invalidates a stored bound only when it touches
            # it; flagged groups recompute min/max from the NEW snapshot,
            # restricted to exactly those groups (broadcast semi-join).
            def _needs(c):
                return F.col(f"_ret_min_{c}").isNotNull() & (
                    F.col(f"_cur_min_{c}").isNull()
                    | (F.col(f"_ret_min_{c}") <= F.col(f"_cur_min_{c}"))
                    | (F.col(f"_ret_max_{c}") >= F.col(f"_cur_max_{c}"))
                )

            needs_any = None
            for c in self.minmax_cols:
                needs_any = _needs(c) if needs_any is None else (needs_any | _needs(c))
            flagged = joined.filter(needs_any & (new_n > 0)).select(
                "_group_key", F.lit(True).alias("_recomputed")
            )
            snap = ManifestTable(self.source_root).read(spark, to_v)
            rec = (
                snap.withColumn("_group_key", _group_key_expr(self.group_cols))
                .join(F.broadcast(flagged.select("_group_key")), "_group_key", "leftsemi")
                .groupBy("_group_key")
                .agg(
                    *[
                        e
                        for c in self.minmax_cols
                        for e in (
                            F.min(c).cast("double").alias(f"_rec_min_{c}"),
                            F.max(c).cast("double").alias(f"_rec_max_{c}"),
                        )
                    ]
                )
            )
            joined = (
                joined.join(F.broadcast(flagged), "_group_key", "left")
                .join(F.broadcast(rec), "_group_key", "left")
                .withColumn(
                    "_recomputed", F.coalesce(F.col("_recomputed"), F.lit(False))
                )
            )
            for c in self.minmax_cols:
                minmax_exprs += [
                    F.when(new_n == 0, F.lit(None).cast("double"))
                    .when(F.col("_recomputed"), F.col(f"_rec_min_{c}"))
                    .otherwise(
                        F.least(
                            F.col(f"_cur_min_{c}"),
                            F.col(f"_ins_min_{c}").cast("double"),
                        )
                    )
                    .alias(f"min_{c}"),
                    F.when(new_n == 0, F.lit(None).cast("double"))
                    .when(F.col("_recomputed"), F.col(f"_rec_max_{c}"))
                    .otherwise(
                        F.greatest(
                            F.col(f"_cur_max_{c}"),
                            F.col(f"_ins_max_{c}").cast("double"),
                        )
                    )
                    .alias(f"max_{c}"),
                ]

        _EMPTY_DV = F.expr("CAST(map() AS MAP<STRING,BIGINT>)")
        _ZERO_REGS = F.array(*[F.lit(0)] * _HLL_M).cast("array<int>")
        dv_exprs: list = []
        dv_rec = F.lit(False)
        if self.distinct_exact_k and self.distinct_cols:
            # Overflowed group + retraction -> recompute that group's
            # registers (and ledger, if it shrank back under the cap)
            # from the NEW snapshot — the min/max bound-touch pattern.
            new_group = F.col("_cur_n").isNull()
            needs = None
            for c in self.distinct_cols:
                cond = (
                    (~new_group)
                    & F.col(f"_cur_dv_{c}").isNull()
                    & (F.col(f"_ret_dv_{c}") == 1)
                )
                needs = cond if needs is None else (needs | cond)
            dv_flagged = joined.filter(needs & (new_n > 0)).select(
                "_group_key", F.lit(True).alias("_dv_rec")
            )
            snap_dv = (
                ManifestTable(self.source_root).read(spark, to_v)
                .withColumn("_group_key", _group_key_expr(self.group_cols))
                .join(
                    F.broadcast(dv_flagged.select("_group_key")),
                    "_group_key",
                    "leftsemi",
                )
            )
            joined = joined.join(F.broadcast(dv_flagged), "_group_key", "left")
            dv_rec = F.coalesce(F.col("_dv_rec"), F.lit(False))
            for c in self.distinct_cols:
                per_val = (
                    snap_dv.filter(F.col(c).isNotNull())
                    .groupBy(
                        "_group_key", F.col(c).cast("string").alias("_v")
                    )
                    .agg(F.count(F.lit(1)).cast("long").alias("_cnt"))
                )
                nd = per_val.groupBy("_group_key").agg(
                    F.count(F.lit(1)).alias(f"_rec_nd_{c}"),
                    # registers over distinct values == over rows (_h52
                    # casts to string, so hashing _v is bit-identical)
                    _hll_register_array_agg("_v").alias(f"_rec_hll_{c}"),
                )
                small = nd.filter(
                    F.col(f"_rec_nd_{c}") <= self.distinct_exact_k
                ).select("_group_key")
                maps = (
                    per_val.join(F.broadcast(small), "_group_key", "leftsemi")
                    .groupBy("_group_key")
                    .agg(
                        F.map_from_entries(
                            F.sort_array(
                                F.collect_list(
                                    F.struct(F.col("_v"), F.col("_cnt"))
                                )
                            )
                        ).alias(f"_rec_dv_{c}")
                    )
                )
                joined = joined.join(
                    F.broadcast(nd.join(maps, "_group_key", "left")),
                    "_group_key",
                    "left",
                )
            for c in self.distinct_cols:
                merged = F.map_filter(
                    F.map_zip_with(
                        F.coalesce(F.col(f"_cur_dv_{c}"), _EMPTY_DV),
                        F.coalesce(F.col(f"_d_dv_{c}"), _EMPTY_DV),
                        lambda k, a, b: F.coalesce(a, F.lit(0))
                        + F.coalesce(b, F.lit(0)),
                    ),
                    lambda k, v: v != 0,
                )
                dv_exprs.append(
                    F.when(new_n == 0, _EMPTY_DV)
                    .when(
                        dv_rec,
                        # recompute: absent from the snapshot agg = zero
                        # live values = exact empty; NULL rec map with a
                        # present count = still over the cap
                        F.when(
                            F.col(f"_rec_nd_{c}").isNull(), _EMPTY_DV
                        ).otherwise(F.col(f"_rec_dv_{c}")),
                    )
                    .when(F.coalesce(F.col(f"_dvbig_{c}"), F.lit(False)), F.lit(None))
                    .when(
                        (~F.col("_cur_n").isNull())
                        & F.col(f"_cur_dv_{c}").isNull(),
                        F.lit(None),  # overflow persists absent a retraction
                    )
                    .when(F.size(merged) > self.distinct_exact_k, F.lit(None))
                    .otherwise(merged)
                    .cast("map<string,bigint>")
                    .alias(f"dv_{c}")
                )

        updated = joined.select(
            "_group_key",
            *[F.col(c).cast("string").alias(c) for c in self.group_cols],
            new_n.alias("n_rows"),
            *[
                (
                    F.coalesce(F.col(f"_cur_sum_{c}"), F.lit(0.0))
                    + F.coalesce(F.col(f"_d_sum_{c}"), F.lit(0.0))
                ).cast("double").alias(f"sum_{c}")
                for c in self._stored_sum_cols
            ],
            *[
                (
                    F.coalesce(F.col(f"_cur_cnt_{c}"), F.lit(0))
                    + F.coalesce(F.col(f"_d_cnt_{c}"), F.lit(0))
                ).cast("long").alias(f"cnt_{c}")
                for c in self.avg_cols
            ],
            *minmax_exprs,
            *[
                # lossless HLL union: elementwise MAX of the current and
                # insert-delta registers (either side may be absent for a
                # brand-new or untouched-by-inserts group); a recomputed
                # group replaces its registers with the live snapshot's
                self._hll_merge_expr(c, dv_rec, _ZERO_REGS)
                for c in self.distinct_cols
            ],
            *[
                # exact signed merge: union-keyed sum, zero bins dropped
                # (a drained group converges to the empty map)
                F.map_filter(
                    F.map_zip_with(
                        F.coalesce(F.col(f"_cur_hdr_{c}"), _EMPTY_HDR_MAP()),
                        F.coalesce(F.col(f"_d_hdr_{c}"), _EMPTY_HDR_MAP()),
                        lambda k, a, b: F.coalesce(a, F.lit(0))
                        + F.coalesce(b, F.lit(0)),
                    ),
                    lambda k, v: v != 0,
                ).cast("map<bigint,bigint>").alias(f"hdr_{c}")
                for c in self.hdr_cols
            ],
            *dv_exprs,
        )
        ledger = self._ledger_row(spark, from_v, to_v)
        batch = updated.unionByName(ledger)
        n = merge_manifest(spark, self.view_root, batch, key="_group_key")
        cursor.commit(to_v)
        return {
            "action": "delta", "from_version": from_v, "to_version": to_v,
            "groups_touched": n - 1,
        }
