"""Incremental join-view maintenance (pipeline.joinview): delta windows on
both sides, late-arriving dimension back-fill, crash windows, idempotent
redelivery — each refresh's result checked against the defining join."""

import os
import shutil
import tempfile

import pytest

from door2door_etl_spark.io.manifest import (
    ManifestTable,
    delete_manifest,
    merge_manifest,
)
from door2door_etl_spark.pipeline.joinview import IncrementalJoinView
from view_reference import full_recompute


@pytest.fixture()
def roots():
    base = tempfile.mkdtemp(prefix="joinview_")
    yield {
        "left": os.path.join(base, "orders"),
        "right": os.path.join(base, "cust"),
        "view": os.path.join(base, "view"),
    }
    shutil.rmtree(base, ignore_errors=True)


def _mk_view(roots, how="inner"):
    return IncrementalJoinView(
        left_root=roots["left"],
        right_root=roots["right"],
        view_root=roots["view"],
        left_key="okey",
        fk="ckey",
        right_key="ckey",
        left_cols=["total"],
        right_cols=["segment"],
        how=how,
    )


def _orders(spark, rows):
    return spark.createDataFrame(rows, "okey int, ckey int, total double")


def _cust(spark, rows):
    return spark.createDataFrame(rows, "ckey int, segment string")


def _assert_parity(spark, view):
    got = sorted(
        (r["_vk"], r["_fk"], r["total"], r["segment"])
        for r in view.read(spark).collect()
    )
    want = sorted(
        (r["_vk"], r["_fk"], r["total"], r["segment"])
        for r in full_recompute(spark, view).collect()
    )
    assert got == want
    return got


def test_joinview_seed_and_both_side_deltas(spark, roots):
    merge_manifest(
        spark, roots["left"],
        _orders(spark, [(1, 10, 5.0), (2, 20, 7.0), (3, 30, 9.0)]), key="okey",
    )
    merge_manifest(
        spark, roots["right"], _cust(spark, [(10, "A"), (20, "B")]), key="ckey"
    )
    view = _mk_view(roots)
    assert view.refresh(spark)["action"] == "seed"
    got = _assert_parity(spark, view)
    assert [g[0] for g in got] == ["1", "2"]  # okey 3 unmatched under inner

    # left wave: insert 4->20, update 1's total, re-point 2 to ckey 10,
    # delete... (delete comes in a later test); right wave: update B,
    # late-arriving dim 30 back-fills order 3
    merge_manifest(
        spark, roots["left"],
        _orders(spark, [(4, 20, 1.0), (1, 10, 6.0), (2, 10, 7.0)]), key="okey",
    )
    merge_manifest(
        spark, roots["right"], _cust(spark, [(20, "B2"), (30, "C")]), key="ckey"
    )
    res = view.refresh(spark)
    assert res["action"] == "delta"
    got = _assert_parity(spark, view)
    assert ("3", "30", 9.0, "C") in got          # back-fill
    assert ("2", "10", 7.0, "A") in got          # fk re-point
    assert ("4", "20", 1.0, "B2") in got         # new fact sees new dim


def test_joinview_deletes_both_sides(spark, roots):
    merge_manifest(
        spark, roots["left"],
        _orders(spark, [(1, 10, 5.0), (2, 20, 7.0), (3, 20, 9.0)]), key="okey",
    )
    merge_manifest(
        spark, roots["right"], _cust(spark, [(10, "A"), (20, "B")]), key="ckey"
    )
    view = _mk_view(roots)
    view.refresh(spark)
    # delete fact 1; delete dim 20 (orphans facts 2 and 3 under inner)
    delete_manifest(spark, roots["left"], _orders(spark, [(1, 10, 5.0)]).select("okey"), key="okey")
    delete_manifest(spark, roots["right"], _cust(spark, [(20, "B")]).select("ckey"), key="ckey")
    assert view.refresh(spark)["action"] == "delta"
    assert _assert_parity(spark, view) == []
    # noop when nothing changed
    assert view.refresh(spark)["action"] == "noop"


def test_joinview_left_outer_keeps_unmatched(spark, roots):
    merge_manifest(
        spark, roots["left"], _orders(spark, [(1, 10, 5.0), (2, 99, 7.0)]), key="okey"
    )
    merge_manifest(spark, roots["right"], _cust(spark, [(10, "A")]), key="ckey")
    view = _mk_view(roots, how="left")
    view.refresh(spark)
    got = _assert_parity(spark, view)
    assert ("2", "99", 7.0, None) in got
    # dim 99 arrives late: the null row upgrades in place
    merge_manifest(spark, roots["right"], _cust(spark, [(99, "Z")]), key="ckey")
    view.refresh(spark)
    got = _assert_parity(spark, view)
    assert ("2", "99", 7.0, "Z") in got
    assert ("2", "99", 7.0, None) not in got


def test_joinview_crash_between_view_and_cursor_commits(spark, roots):
    merge_manifest(spark, roots["left"], _orders(spark, [(1, 10, 5.0)]), key="okey")
    merge_manifest(spark, roots["right"], _cust(spark, [(10, "A")]), key="ckey")
    view = _mk_view(roots)
    view.refresh(spark)
    merge_manifest(spark, roots["left"], _orders(spark, [(2, 10, 8.0)]), key="okey")
    view.refresh(spark)
    before = _assert_parity(spark, view)

    # simulate "view committed, cursor commit lost": rewind the left cursor
    lcur, rcur = view._cursors()
    lv = ManifestTable(roots["left"]).current_version()
    rv = ManifestTable(roots["right"]).current_version()
    lcur.commit(lv - 1)  # pretend the delta window's cursor commit was lost
    res = view.refresh(spark)
    # the landed-ledger frontier must advance the cursor WITHOUT re-applying
    assert res["action"] in ("noop", "replay-skip")
    assert _assert_parity(spark, view) == before
    assert (lcur.last_committed(), rcur.last_committed()) == (lv, rv)


def test_joinview_exact_window_redelivery_is_skipped(spark, roots):
    merge_manifest(spark, roots["left"], _orders(spark, [(1, 10, 5.0)]), key="okey")
    merge_manifest(spark, roots["right"], _cust(spark, [(10, "A")]), key="ckey")
    view = _mk_view(roots)
    view.refresh(spark)
    merge_manifest(spark, roots["left"], _orders(spark, [(2, 10, 8.0)]), key="okey")
    view.refresh(spark)
    before = _assert_parity(spark, view)
    # re-run with nothing new: must be a pure noop, state unchanged
    assert view.refresh(spark)["action"] == "noop"
    assert _assert_parity(spark, view) == before


def test_stream_joinview_ingest_follows_both_sides(spark, roots, tmp_path):
    """Facts stream in; a dimension update lands between runs; the
    maintained join view tracks both — and a checkpointed replay with no
    new input leaves it unchanged."""
    import json

    from door2door_etl_spark.streaming import stream_batches

    merge_manifest(spark, roots["right"], _cust(spark, [(10, "A")]), key="ckey")
    # seed the left source so the view can seed before streaming
    merge_manifest(spark, roots["left"], _orders(spark, [(1, 10, 5.0)]), key="okey")
    view = _mk_view(roots)
    view.refresh(spark)

    src = tmp_path / "facts"
    src.mkdir()
    (src / "f0.json").write_text(json.dumps({"okey": 2, "ckey": 10, "total": 8.0}))
    stream = spark.readStream.schema("okey int, ckey int, total double").json(str(src))
    ckpt = str(tmp_path / "ckpt")

    def ingest(df, _):
        # MERGE the facts into the left source, then advance the view
        merge_manifest(spark, roots["left"], df, key="okey")
        view.refresh(spark)

    q = stream_batches(stream, ckpt, ingest)
    q.awaitTermination(120)
    got = _assert_parity(spark, view)
    assert ("2", "10", 8.0, "A") in got

    # dimension hot update + another fact file: next run reflects both
    merge_manifest(spark, roots["right"], _cust(spark, [(10, "A2")]), key="ckey")
    (src / "f1.json").write_text(json.dumps({"okey": 3, "ckey": 10, "total": 9.0}))
    stream2 = spark.readStream.schema("okey int, ckey int, total double").json(str(src))
    q2 = stream_batches(stream2, ckpt, ingest)
    q2.awaitTermination(120)
    got = _assert_parity(spark, view)
    assert ("3", "10", 9.0, "A2") in got
    assert all(seg == "A2" for (_, _, _, seg) in got)  # ripple to all facts

    before = got
    # replay with no new input: converged, untouched
    stream3 = spark.readStream.schema("okey int, ckey int, total double").json(str(src))
    q3 = stream_batches(stream3, ckpt, ingest)
    q3.awaitTermination(120)
    assert _assert_parity(spark, view) == before


def test_cli_refresh_views_agg_and_join(spark, roots, tmp_path, capsys):
    """`-s refresh-views` advances a declared agg view AND a join view in
    one invocation: seed on first run, delta on the second after churn."""
    import json as _json

    from door2door_etl_spark.__main__ import main

    merge_manifest(
        spark, roots["left"],
        _orders(spark, [(1, 10, 5.0), (2, 20, 7.0)]), key="okey",
    )
    merge_manifest(
        spark, roots["right"], _cust(spark, [(10, "A"), (20, "B")]), key="ckey"
    )
    decl = tmp_path / "views.json"
    agg_root = str(tmp_path / "agg_view")
    decl.write_text(_json.dumps({"views": [
        {"type": "join", "left_root": roots["left"], "right_root": roots["right"],
         "view_root": roots["view"], "left_key": "okey", "fk": "ckey",
         "right_key": "ckey", "left_cols": ["total"], "right_cols": ["segment"]},
        {"type": "agg", "source_root": roots["left"], "view_root": agg_root,
         "key": "okey", "group_cols": ["ckey"], "sum_cols": ["total"]},
    ]}))
    rc = main(["-s", "refresh-views", "--views", str(decl),
               "--lake-root", str(tmp_path)])
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert [v["action"] for v in out["views"]] == ["seed", "seed"]

    merge_manifest(spark, roots["left"], _orders(spark, [(3, 10, 2.0)]), key="okey")
    rc = main(["-s", "refresh-views", "--views", str(decl),
               "--lake-root", str(tmp_path)])
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert [v["action"] for v in out["views"]] == ["delta", "delta"]
    view = _mk_view(roots)
    assert ("3", "10", 2.0, "A") in _assert_parity(spark, view)


def test_cli_refresh_views_rejects_unknown_keys(spark, roots, tmp_path, capsys):
    import json as _json

    from door2door_etl_spark.__main__ import main

    decl = tmp_path / "views.json"
    decl.write_text(_json.dumps({"views": [
        {"type": "join", "left_root": roots["left"], "typo_key": 1}
    ]}))
    rc = main(["-s", "refresh-views", "--views", str(decl),
               "--lake-root", str(tmp_path)])
    assert rc == 1
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "typo_key" in out["error"]


def test_joinview_manifest_source_layout(spark, roots, tmp_path):
    """Both sources on the object-store manifest layout: the view's
    version/changes/read dispatch resolves through the manifest protocol
    (the aggview dual-layout discipline), deltas included."""

    left = str(tmp_path / "m_orders")
    right = str(tmp_path / "m_cust")
    merge_manifest(
        spark, left, _orders(spark, [(1, 10, 5.0), (2, 20, 7.0)]), key="okey"
    )
    merge_manifest(spark, right, _cust(spark, [(10, "A"), (20, "B")]), key="ckey")
    view = IncrementalJoinView(
        left_root=left, right_root=right, view_root=roots["view"],
        left_key="okey", fk="ckey", right_key="ckey",
        left_cols=["total"], right_cols=["segment"],
    )
    assert view.refresh(spark)["action"] == "seed"
    _assert_parity(spark, view)

    merge_manifest(spark, left, _orders(spark, [(3, 20, 1.0)]), key="okey")
    merge_manifest(spark, right, _cust(spark, [(10, "A2")]), key="ckey")
    delete_manifest(spark, right, _cust(spark, [(20, "B")]).select("ckey"), key="ckey")
    assert view.refresh(spark)["action"] == "delta"
    got = _assert_parity(spark, view)
    assert got == [("1", "10", 5.0, "A2")]  # 2 and 3 orphaned by the dim delete


def test_joinview_seed_crash_before_cursor_commit_no_ghosts(spark, roots):
    """Seed-crash window: the first refresh commits the view + seed
    ledger, then dies before the RIGHT cursor commit.  Rows deleted on
    either side before the next refresh must not survive as _live ghosts
    — recovery must roll the cursors to the landed ledger frontier and
    take the DELTA path (which retracts), never re-seed (an upsert-only
    merge that cannot retract)."""
    merge_manifest(
        spark, roots["left"],
        _orders(spark, [(1, 10, 5.0), (2, 20, 7.0)]), key="okey",
    )
    merge_manifest(
        spark, roots["right"], _cust(spark, [(10, "A"), (20, "B")]), key="ckey"
    )
    view = _mk_view(roots)
    assert view.refresh(spark)["action"] == "seed"
    lcur, rcur = view._cursors()
    os.remove(rcur.cursor_path)  # rcur.commit(rv) never landed

    # both sides move before the next refresh: fact 1 deleted, dim 20
    # deleted (orphans fact 2 under inner join)
    delete_manifest(
        spark, roots["left"],
        _orders(spark, [(1, 10, 5.0)]).select("okey"), key="okey",
    )
    delete_manifest(
        spark, roots["right"],
        _cust(spark, [(20, "B")]).select("ckey"), key="ckey",
    )
    res = view.refresh(spark)
    assert res["action"] == "delta", res
    assert _assert_parity(spark, view) == []

    lv = ManifestTable(roots["left"]).current_version()
    rv = ManifestTable(roots["right"]).current_version()
    assert (lcur.last_committed(), rcur.last_committed()) == (lv, rv)


def test_joinview_seed_crash_both_cursors_lost_noop_recovery(spark, roots):
    """Same window with BOTH cursor commits lost and no source movement:
    recovery lands on the ledger frontier and reports a clean noop with
    the view untouched."""
    merge_manifest(spark, roots["left"], _orders(spark, [(1, 10, 5.0)]), key="okey")
    merge_manifest(spark, roots["right"], _cust(spark, [(10, "A")]), key="ckey")
    view = _mk_view(roots)
    view.refresh(spark)
    before = _assert_parity(spark, view)
    lcur, rcur = view._cursors()
    os.remove(lcur.cursor_path)
    os.remove(rcur.cursor_path)
    assert view.refresh(spark)["action"] == "noop"
    assert _assert_parity(spark, view) == before


def test_cli_refresh_views_rejects_missing_required_keys(spark, roots, tmp_path, capsys):
    """A declaration missing required keys (here: everything but
    left_root) gets the same clean one-line JSON error as unknown
    type/keys — never a raw KeyError/TypeError traceback."""
    import json as _json

    from door2door_etl_spark.__main__ import main

    decl = tmp_path / "views.json"
    decl.write_text(_json.dumps({"views": [
        {"type": "join", "left_root": roots["left"]}
    ]}))
    rc = main(["-s", "refresh-views", "--views", str(decl),
               "--lake-root", str(tmp_path)])
    assert rc == 1
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "missing required keys" in out["error"]
    assert "view_root" in out["error"]
