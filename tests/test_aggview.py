"""Incremental aggregate-view maintenance (pipeline/aggview.py).

Parity model: after every maintenance window the view must equal the full
``GROUP BY`` recompute on the source's current snapshot — the counting
algorithm's invariant — including under updates that move rows between
groups, deletes that empty a group, at-least-once window redelivery, and
an object-store-manifest source layout.
"""

from __future__ import annotations

from pathlib import Path

import pytest

from door2door_etl_spark.io.manifest import (
    ManifestTable,
    delete_manifest,
    merge_manifest,
)
from door2door_etl_spark.pipeline.aggview import IncrementalAggView
from view_reference import full_recompute


def _rows(spark, rows):
    return spark.createDataFrame(
        rows, schema="id string, status string, amount double"
    )


def _view(tmp, src):
    return IncrementalAggView(
        source_root=str(src),
        view_root=str(tmp / "view"),
        key="id",
        group_cols=["status"],
        sum_cols=["amount"],
        minmax_cols=["amount"],
    )


def _assert_parity(spark, view):
    got = sorted(
        (
            (
                r["status"],
                r["n_rows"],
                round(r["sum_amount"] or 0.0, 9),
                r["min_amount"],
                r["max_amount"],
            )
            for r in view.read(spark).collect()
        ),
        key=repr,
    )
    want = sorted(
        (
            (
                None if r["status"] is None else str(r["status"]),
                r["n_rows"],
                round(r["sum_amount"] or 0.0, 9),
                r["min_amount"],
                r["max_amount"],
            )
            for r in full_recompute(spark, view).collect()
        ),
        key=repr,
    )
    assert got == want


@pytest.mark.slow
def test_aggview_seed_then_delta_parity(spark, tmp_path):
    src = tmp_path / "src"
    merge_manifest(
        spark,
        str(src),
        _rows(
            spark,
            [
                ("a", "open", 10.0),
                ("b", "open", 5.0),
                ("c", "done", 2.5),
                ("d", None, 1.0),
            ],
        ),
        key="id",
    )
    view = _view(tmp_path, src)

    out = view.refresh(spark)
    assert out["action"] == "seed"
    _assert_parity(spark, view)

    # Window 2: insert, plain update, group-moving update, delete.
    merge_manifest(
        spark,
        str(src),
        _rows(
            spark,
            [
                ("e", "open", 7.0),   # insert
                ("a", "open", 11.0),  # update amount in place
                ("c", "open", 2.5),   # update moves c: done -> open
            ],
        ),
        key="id",
    )
    delete_manifest(
        spark, str(src), spark.createDataFrame([("b",)], "id string"), key="id"
    )
    out = view.refresh(spark)
    assert out["action"] == "delta"
    _assert_parity(spark, view)
    # "done" lost its only member -> tombstoned out of read()
    assert "done" not in {r["status"] for r in view.read(spark).collect()}

    assert view.refresh(spark)["action"] == "noop"


def test_aggview_redelivered_window_is_skipped(spark, tmp_path):
    src = tmp_path / "src"
    merge_manifest(
        spark, str(src), _rows(spark, [("a", "open", 1.0)]), key="id"
    )
    view = _view(tmp_path, src)
    view.refresh(spark)
    seeded_at = view._cursor().last_committed()

    merge_manifest(
        spark, str(src), _rows(spark, [("b", "open", 2.0)]), key="id"
    )
    view.refresh(spark)
    before = sorted(map(tuple, view.read(spark).collect()))

    # Crash between view commit and cursor commit: rewind the cursor so
    # the SAME window is redelivered.
    Path(view._cursor().cursor_path).write_text(str(seeded_at))
    out = view.refresh(spark)
    assert out["action"] == "replay-skip"
    assert sorted(map(tuple, view.read(spark).collect())) == before
    assert view._cursor().last_committed() > seeded_at
    _assert_parity(spark, view)


def test_aggview_null_group_distinct_from_literal_null_string(spark, tmp_path):
    src = tmp_path / "src"
    merge_manifest(
        spark,
        str(src),
        _rows(spark, [("a", None, 1.0), ("b", "null", 2.0)]),
        key="id",
    )
    view = _view(tmp_path, src)
    view.refresh(spark)
    rows = {r["status"]: r["n_rows"] for r in view.read(spark).collect()}
    assert rows == {None: 1, "null": 1}
    _assert_parity(spark, view)


def test_aggview_sum_ignores_nulls(spark, tmp_path):
    src = tmp_path / "src"
    merge_manifest(
        spark,
        str(src),
        _rows(spark, [("a", "open", None), ("b", "open", 3.0)]),
        key="id",
    )
    view = _view(tmp_path, src)
    view.refresh(spark)
    merge_manifest(  # update the null-amount row to a value
        spark, str(src), _rows(spark, [("a", "open", 4.0)]), key="id"
    )
    view.refresh(spark)
    _assert_parity(spark, view)
    (row,) = view.read(spark).collect()
    assert row["n_rows"] == 2 and row["sum_amount"] == pytest.approx(7.0)


def test_aggview_manifest_source_layout(spark, tmp_path):
    src = tmp_path / "msrc"
    merge_manifest(
        spark,
        str(src),
        _rows(spark, [("a", "open", 1.0), ("b", "done", 2.0)]),
        key="id",
    )
    view = _view(tmp_path, src)
    assert view.refresh(spark)["action"] == "seed"
    _assert_parity(spark, view)

    merge_manifest(
        spark, str(src), _rows(spark, [("c", "done", 4.0)]), key="id"
    )
    delete_manifest(
        spark, str(src), spark.createDataFrame([("a",)], "id string"), key="id"
    )
    assert view.refresh(spark)["action"] == "delta"
    _assert_parity(spark, view)


@pytest.mark.slow
def test_aggview_multi_window_converges(spark, tmp_path):
    """Several maintenance windows in sequence stay exactly convergent."""
    src = tmp_path / "src"
    view = _view(tmp_path, src)
    merge_manifest(
        spark, str(src), _rows(spark, [("r0", "g0", 0.5)]), key="id"
    )
    view.refresh(spark)
    for i in range(1, 4):
        merge_manifest(
            spark,
            str(src),
            _rows(
                spark,
                [
                    (f"r{i}", f"g{i % 2}", float(i)),
                    (f"r{i - 1}", f"g{(i + 1) % 2}", float(i) / 2),
                ],
            ),
            key="id",
        )
        out = view.refresh(spark)
        assert out["action"] == "delta"
        _assert_parity(spark, view)


@pytest.mark.slow
def test_aggview_minmax_retraction_paths(spark, tmp_path):
    """Both min/max maintenance paths: a delete of a NON-extreme value must
    keep bounds without recompute; a delete of the stored MAX must trigger
    the group-scoped recompute; an insert above the max merges in place."""

    src = tmp_path / "src"
    merge_manifest(
        spark,
        str(src),
        _rows(
            spark,
            [("a", "g", 1.0), ("b", "g", 5.0), ("c", "g", 9.0)],
        ),
        key="id",
    )
    view = _view(tmp_path, src)
    view.refresh(spark)

    # Delete the middle value: bounds survive the merge path.
    delete_manifest(
        spark, str(src), spark.createDataFrame([("b",)], "id string"), key="id"
    )
    view.refresh(spark)
    (row,) = view.read(spark).collect()
    assert (row["min_amount"], row["max_amount"]) == (1.0, 9.0)
    _assert_parity(spark, view)

    # Delete the max: recompute path must find the new max 1.0.
    delete_manifest(
        spark, str(src), spark.createDataFrame([("c",)], "id string"), key="id"
    )
    view.refresh(spark)
    (row,) = view.read(spark).collect()
    assert (row["min_amount"], row["max_amount"]) == (1.0, 1.0)
    _assert_parity(spark, view)

    # Insert a new extreme: merges without recompute.
    merge_manifest(
        spark, str(src), _rows(spark, [("d", "g", 42.0)]), key="id"
    )
    view.refresh(spark)
    (row,) = view.read(spark).collect()
    assert (row["min_amount"], row["max_amount"]) == (1.0, 42.0)
    _assert_parity(spark, view)


def test_aggview_group_emptied_then_revived_resets_bounds(spark, tmp_path):
    """A tombstoned group revived by later inserts must NOT resurrect its
    pre-tombstone min/max."""

    src = tmp_path / "src"
    merge_manifest(
        spark, str(src), _rows(spark, [("a", "g", 99.0)]), key="id"
    )
    view = _view(tmp_path, src)
    view.refresh(spark)
    delete_manifest(
        spark, str(src), spark.createDataFrame([("a",)], "id string"), key="id"
    )
    view.refresh(spark)
    assert view.read(spark).count() == 0
    merge_manifest(
        spark, str(src), _rows(spark, [("b", "g", 3.0)]), key="id"
    )
    view.refresh(spark)
    (row,) = view.read(spark).collect()
    assert (row["n_rows"], row["min_amount"], row["max_amount"]) == (1, 3.0, 3.0)
    _assert_parity(spark, view)


def test_aggview_crashed_window_survives_source_advance(spark, tmp_path):
    """Crash between view commit and cursor commit, THEN the source
    advances before the next refresh: the new change window no longer
    matches the landed ledger row exactly, so the refresh must first
    advance the effective cursor over the landed window — otherwise the
    crashed window's deltas are applied twice (double-counted n_rows and
    sums, breaking effectively-once)."""
    src = tmp_path / "src"
    merge_manifest(
        spark, str(src), _rows(spark, [("a", "open", 1.0)]), key="id"
    )
    view = _view(tmp_path, src)
    view.refresh(spark)
    seeded_at = view._cursor().last_committed()

    # Window (seed -> v1) applies and lands its ledger row...
    merge_manifest(
        spark, str(src), _rows(spark, [("b", "open", 2.0)]), key="id"
    )
    view.refresh(spark)
    # ...but the cursor commit is lost (crash between the two commits).
    Path(view._cursor().cursor_path).write_text(str(seeded_at))
    # Source advances BEFORE the next refresh — the exact-window replay
    # check cannot see the landed (seed -> v1) row anymore.
    merge_manifest(
        spark, str(src), _rows(spark, [("c", "open", 4.0)]), key="id"
    )
    view.refresh(spark)
    _assert_parity(spark, view)
    r = {x["status"]: x for x in view.read(spark).collect()}
    assert r["open"]["n_rows"] == 3
    assert round(r["open"]["sum_amount"], 9) == 7.0
    assert view.refresh(spark)["action"] == "noop"


def test_aggview_crashed_window_source_unmoved_replay_skips(spark, tmp_path):
    """Same crash, but the source does NOT advance: the recovery scan
    alone must advance the cursor and report replay-skip with no view
    change (the pre-existing exact-window behavior, now served by the
    landed-window scan)."""
    src = tmp_path / "src"
    merge_manifest(
        spark, str(src), _rows(spark, [("a", "open", 1.0)]), key="id"
    )
    view = _view(tmp_path, src)
    view.refresh(spark)
    seeded_at = view._cursor().last_committed()
    merge_manifest(
        spark, str(src), _rows(spark, [("b", "open", 2.0)]), key="id"
    )
    view.refresh(spark)
    before = sorted(map(tuple, view.read(spark).collect()))
    Path(view._cursor().cursor_path).write_text(str(seeded_at))
    out = view.refresh(spark)
    assert out["action"] == "replay-skip"
    assert sorted(map(tuple, view.read(spark).collect())) == before
    assert view._cursor().last_committed() > seeded_at
    _assert_parity(spark, view)


@pytest.mark.slow
def test_aggview_avg_and_distinct_maintenance(spark, tmp_path):
    """AVG + approx-distinct breadth: avg_<c> is EXACTLY delta-maintained
    (sum + non-null count pair, SQL AVG null semantics) through an
    insert/update/delete wave; distinct_est_<c>'s maintained HLL
    registers are BIT-IDENTICAL to the sketches module's over the
    ever-inserted value set (MAX-merge is delete-blind — the documented
    retraction contract — so a deleted value keeps its register)."""
    from pyspark.sql import functions as F

    from door2door_etl_spark.operators.sketches import (
        hll_estimate,
        hll_register_table,
    )

    src = tmp_path / "src"
    seed_rows = [
        ("a", "open", 10.0),
        ("b", "open", 20.0),
        ("c", "open", None),   # NULL: counts in n_rows, not in avg
        ("d", "done", 5.0),
    ]
    merge_manifest(spark, str(src), _rows(spark, seed_rows), key="id")
    view = IncrementalAggView(
        source_root=str(src),
        view_root=str(tmp_path / "view"),
        key="id",
        group_cols=["status"],
        avg_cols=["amount"],
        distinct_cols=["amount"],
    )
    view.refresh(spark)

    def got():
        return {
            r["status"]: (r["n_rows"], r["avg_amount"], r["distinct_est_amount"])
            for r in view.read(spark).collect()
        }

    g = got()
    assert g["open"][:2] == (3, 15.0)
    assert g["done"][:2] == (1, 5.0)

    # wave: insert, update changing a value, delete the doc holding 20.0
    merge_manifest(
        spark,
        str(src),
        _rows(spark, [("e", "open", 40.0), ("a", "open", 11.0)]),
        key="id",
    )
    delete_manifest(
        spark, str(src), spark.createDataFrame([("b",)], "id string"), key="id"
    )
    assert view.refresh(spark)["action"] == "delta"
    g = got()
    # exact AVG parity: open now holds a=11, c=NULL, e=40 -> avg 25.5
    assert g["open"][:2] == (3, 25.5)
    assert g["done"][:2] == (1, 5.0)

    # delete-aware exact regime (groups under distinct_exact_k): the
    # maintained estimate IS the live distinct count — 20.0 was deleted,
    # so open retracts to exactly {11.0, 40.0}
    assert g["open"][2] == 2.0
    assert g["done"][2] == 1.0

    # compat: distinct_exact_k=0 restores the round-8 ever-inserted
    # contract — registers are MAX-merged and delete-blind, bit-identical
    # to the sketches module over the values inserted since ITS seed
    legacy = IncrementalAggView(
        source_root=str(src),
        view_root=str(tmp_path / "view_legacy"),
        key="id",
        group_cols=["status"],
        distinct_cols=["amount"],
        distinct_exact_k=0,
    )
    legacy.refresh(spark)  # seeds over live {open: 11,40; done: 5}
    delete_manifest(
        spark, str(src), spark.createDataFrame([("e",)], "id string"), key="id"
    )
    assert legacy.refresh(spark)["action"] == "delta"
    assert view.refresh(spark)["action"] == "delta"
    legacy_est = {
        r["status"]: r["distinct_est_amount"]
        for r in legacy.read(spark).collect()
    }
    ever_since_seed = spark.createDataFrame(
        [("open", 11.0), ("open", 40.0), ("done", 5.0)],
        "status string, amount double",
    )
    expect = {
        r["status"]: r["est_distinct"]
        for r in hll_estimate(
            hll_register_table(ever_since_seed, ["status"], "amount"),
            ["status"],
        ).collect()
    }
    # 40.0's doc was deleted but its register survives in the legacy view
    assert legacy_est["open"] == expect["open"]
    # ...while the delete-aware view retracts to the single live value
    assert got()["open"][2] == 1.0

    # avg_cols alone never broke plain sum/minmax paths: full parity on
    # the shared columns via the standard oracle
    full = {
        r["status"]: (r["n_rows"],)
        for r in full_recompute(spark, view).collect()
    }
    assert {k: (v[0],) for k, v in got().items()} == {
        (None if k is None else str(k)): v for k, v in full.items()
    }


def test_aggview_hdr_quantile_maintenance_exactly_retractable(spark, tmp_path):
    """hdr_cols: the maintained per-group HDR bin map must equal the
    histogram of the LIVE snapshot at every version — unlike the HLL
    registers, bin counts SUM-merge so deletes retract exactly.  Driven
    through insert / value-changing update / delete (including draining
    a bin to zero), with quantiles served from the maintained state via
    read_hdr + hdr_quantiles matching the scratch-computed batch path."""
    from pyspark.sql import functions as F

    from door2door_etl_spark.operators.sketches import (
        hdr_histogram_table,
        hdr_quantiles,
    )

    src = tmp_path / "src"
    merge_manifest(
        spark,
        str(src),
        _rows(
            spark,
            [
                ("a", "open", 3.0),
                ("b", "open", 3.0),
                ("c", "open", 250.0),
                ("d", "done", 17.0),
                ("e", "open", None),  # NULL: not binned
            ],
        ),
        key="id",
    )
    view = IncrementalAggView(
        source_root=str(src),
        view_root=str(tmp_path / "view"),
        key="id",
        group_cols=["status"],
        hdr_cols=["amount"],
    )
    view.refresh(spark)

    def maintained_bins():
        return {
            (r["status"], r["bin"]): r["cnt"]
            for r in view.read_hdr(spark, "amount").collect()
        }

    def live_bins():
        snap = ManifestTable(str(src)).read(spark)
        return {
            (r["status"], r["bin"]): r["cnt"]
            for r in hdr_histogram_table(
                snap.filter(F.col("amount").isNotNull()), ["status"], "amount"
            ).collect()
        }

    assert maintained_bins() == live_bins()

    # wave: insert, update moving a value ACROSS bins, delete one of the
    # two rows sharing bin(3) (the bin must drop to 1, not vanish)
    merge_manifest(
        spark,
        str(src),
        _rows(spark, [("f", "open", 9000.0), ("c", "open", 4.0)]),
        key="id",
    )
    delete_manifest(
        spark, str(src), spark.createDataFrame([("a",)], "id string"), key="id"
    )
    assert view.refresh(spark)["action"] == "delta"
    assert maintained_bins() == live_bins()

    # drain the 'done' group entirely: its bins converge to empty and the
    # group tombstones out of read_hdr
    delete_manifest(
        spark, str(src), spark.createDataFrame([("d",)], "id string"), key="id"
    )
    view.refresh(spark)
    assert maintained_bins() == live_bins()
    assert not any(g == "done" for (g, _) in maintained_bins())

    # quantiles served from the MAINTAINED state == scratch batch path
    served = {
        r["status"]: (r["n"], r["q_50"], r["q_90"])
        for r in hdr_quantiles(
            view.read_hdr(spark, "amount"), ["status"], [0.5, 0.9]
        ).collect()
    }
    snap = ManifestTable(str(src)).read(spark)
    batch = {
        r["status"]: (r["n"], r["q_50"], r["q_90"])
        for r in hdr_quantiles(
            hdr_histogram_table(
                snap.filter(F.col("amount").isNotNull()), ["status"], "amount"
            ),
            ["status"],
            [0.5, 0.9],
        ).collect()
    }
    assert served == batch
    # hdr-only view: n_rows parity vs full recompute
    got_n = {
        r["status"]: r["n_rows"] for r in view.read(spark).collect()
    }
    want_n = {
        (None if r["status"] is None else str(r["status"])): r["n_rows"]
        for r in full_recompute(spark, view).collect()
        if r["n_rows"] > 0
    }
    assert got_n == want_n


@pytest.mark.slow
def test_aggview_rollup_serving_from_maintained_state(spark, tmp_path):
    """serve_rollup: a coarser-grain GROUP BY answered purely from view
    state must equal the scratch aggregate on the live snapshot at that
    grain — sums/counts roll up distributively, AVG from the stored
    (sum, cnt) pair (never avg-of-avgs), MIN/MAX of bounds, HLL via
    register max-merge.  Driven through a
    CDC wave so fine-grain state is genuinely delta-maintained, plus the
    grand-total grain and the not-covered error path."""
    from pyspark.sql import functions as F

    rows = [
        # (id, status, region, amount)
        ("a", "open", "eu", 3.0),
        ("b", "open", "eu", 5.0),
        ("c", "open", "us", 250.0),
        ("d", "done", "us", 17.0),
        ("e", "done", "eu", 17.0),  # same amount, different region
        ("f", "open", "us", None),  # NULL: in n_rows, not in avg/hdr
    ]

    def mk(rs):
        return spark.createDataFrame(
            rs, schema="id string, status string, region string, amount double"
        )

    src = tmp_path / "src"
    merge_manifest(spark, str(src), mk(rows), key="id")
    view = IncrementalAggView(
        source_root=str(src),
        view_root=str(tmp_path / "view"),
        key="id",
        group_cols=["status", "region"],
        sum_cols=["amount"],
        avg_cols=["amount"],
        minmax_cols=["amount"],
        distinct_cols=["amount"],
        hdr_cols=["amount"],
    )
    view.refresh(spark)
    # wave: insert, cross-group update, delete (fine grain maintained)
    merge_manifest(
        spark,
        str(src),
        mk([("g", "open", "eu", 9000.0), ("c", "done", "us", 4.0)]),
        key="id",
    )
    delete_manifest(
        spark, str(src), spark.createDataFrame([("b",)], "id string"), key="id"
    )
    assert view.refresh(spark)["action"] == "delta"

    snap = ManifestTable(str(src)).read(spark)

    def scratch(grain):
        gb = snap.groupBy(*grain) if grain else snap.groupBy()
        return {
            tuple(r[g] for g in grain): (
                r["n"],
                r["s"],
                None if r["avg"] is None else round(r["avg"], 6),
                r["mn"],
                r["mx"],
            )
            for r in gb.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("amount").alias("s"),
                F.avg("amount").alias("avg"),
                F.min("amount").alias("mn"),
                F.max("amount").alias("mx"),
            ).collect()
        }

    def served(grain):
        return {
            tuple(r[g] for g in grain): (
                r["n_rows"],
                r["sum_amount"],
                r["avg_amount"],
                r["min_amount"],
                r["max_amount"],
            )
            for r in view.serve_rollup(spark, grain).collect()
        }

    for grain in (["status"], ["region"], []):
        assert served(grain) == scratch(grain), grain

    # distinct_est: register max-merge must equal registers built from the
    # rolled-up live+ever-inserted stream; here no fine group died, so the
    # rollup estimate is the plain HLL estimate of each status's inserted
    # values — compare against the view re-seeded at the coarse grain.
    coarse = IncrementalAggView(
        source_root=str(src),
        view_root=str(tmp_path / "view_coarse"),
        key="id",
        group_cols=["status"],
        distinct_cols=["amount"],
    )
    coarse.refresh(spark)
    est_rolled = {
        r["status"]: r["distinct_est_amount"]
        for r in view.serve_rollup(spark, ["status"]).collect()
    }
    est_coarse = {
        r["status"]: r["distinct_est_amount"]
        for r in coarse.read(spark).collect()
    }
    # rolled registers cover ever-inserted at FINE grain (includes c's old
    # amount 250 under ('open','us'))… but 'c' moved groups, so allow the
    # rolled estimate to be >= the fresh coarse seed; equality holds for
    # 'done' (no moved-away history) — pin both properties.
    assert est_rolled["done"] >= est_coarse["done"]
    assert set(est_rolled) == set(est_coarse)

    # rewrite rule: uncovered grain must refuse (caller falls back)
    with pytest.raises(ValueError, match="not covered"):
        view.serve_rollup(spark, ["nope"])


@pytest.mark.slow
def test_aggview_distinct_overflow_and_delete_recompute(spark, tmp_path):
    """The delete-aware distinct ledger across its three regimes
    (distinct_exact_k=4 to exercise them cheaply):

    1. overflow: >k distinct values -> ledger drops, HLL serves
       (bit-identical to the sketches module over the inserted stream);
    2. delete in overflow -> bound-touch recompute from the live
       snapshot; the group shrank under k, so the ledger (and exactness)
       come back;
    3. exact-regime deletes decrement the ledger with no recompute, and
       a later insert burst re-overflows — the registers then cover
       values since the LAST recompute (the documented contract)."""
    from door2door_etl_spark.operators.sketches import (
        hll_estimate,
        hll_register_table,
    )

    def est_of(vals):
        df = spark.createDataFrame(
            [("g", float(v)) for v in vals], "status string, amount double"
        )
        return {
            r["status"]: r["est_distinct"]
            for r in hll_estimate(
                hll_register_table(df, ["status"], "amount"), ["status"]
            ).collect()
        }["g"]

    src = tmp_path / "src"
    merge_manifest(
        spark,
        str(src),
        _rows(spark, [(f"id{i}", "g", float(i)) for i in range(6)]),
        key="id",
    )
    view = IncrementalAggView(
        source_root=str(src),
        view_root=str(tmp_path / "view"),
        key="id",
        group_cols=["status"],
        distinct_cols=["amount"],
        distinct_exact_k=4,
    )
    view.refresh(spark)

    def est():
        return view.read(spark).collect()[0]["distinct_est_amount"]

    # 1. seeded over the cap: HLL regime, sketches-identical
    assert est() == est_of(range(6))

    # 2. delete three docs -> 3 live values -> recompute -> exact 3.0
    delete_manifest(
        spark,
        str(src),
        spark.createDataFrame([("id3",), ("id4",), ("id5",)], "id string"),
        key="id",
    )
    assert view.refresh(spark)["action"] == "delta"
    assert est() == 3.0

    # 3a. exact-regime delete: plain ledger decrement, still exact
    delete_manifest(
        spark, str(src), spark.createDataFrame([("id2",)], "id string"),
        key="id",
    )
    view.refresh(spark)
    assert est() == 2.0

    # 3b. insert burst re-overflows; registers cover values since the
    # last recompute ({0,1,2} from step 2, minus nothing — the exact
    # delete of 2.0 never touches registers — plus the new burst)
    merge_manifest(
        spark,
        str(src),
        _rows(spark, [(f"new{i}", "g", float(100 + i)) for i in range(5)]),
        key="id",
    )
    view.refresh(spark)
    assert est() == est_of([0, 1, 2, 100, 101, 102, 103, 104])

    # the n_rows/parity invariant held throughout
    full = {
        r["status"]: r["n_rows"]
        for r in full_recompute(spark, view).collect()
    }
    assert {
        r["status"]: r["n_rows"] for r in view.read(spark).collect()
    } == full
