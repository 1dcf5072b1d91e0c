"""Multi-table transactions (io/txn.py).

Model: after run() or any crash + recover(), every journaled transaction
is fully applied exactly once — ops are never re-run when their commit
landed (marker OR op_tag probe), appends never double, and a crash
before the journal rename leaves both tables untouched.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from door2door_etl_spark.io.manifest import ManifestTable
from door2door_etl_spark.io.txn import MultiTableTransaction, TxnOp, recover


def _batch(spark, ids, tag="x"):
    return spark.createDataFrame(
        [(i, f"{tag}{i}") for i in ids], "id long, payload string"
    )


def _ids(spark, root):
    t = ManifestTable(str(root))
    return sorted(r["id"] for r in t.read(spark).collect())


def test_txn_happy_path_two_tables(spark, tmp_path):
    a, b, j = tmp_path / "a", tmp_path / "b", tmp_path / "journal"
    txn = MultiTableTransaction(str(j))
    out = txn.run(spark, [
        TxnOp("merge", str(a), payload=_batch(spark, [1, 2]), key="id"),
        TxnOp("append", str(b), payload=_batch(spark, [10, 11])),
    ])
    assert len(out["versions"]) == 2
    assert _ids(spark, a) == [1, 2]
    assert _ids(spark, b) == [10, 11]
    # recover over a fully-committed journal: nothing to do
    assert recover(spark, str(j)) == []
    assert _ids(spark, b) == [10, 11]


def test_txn_crash_between_ops_rolls_forward(spark, tmp_path, monkeypatch):
    """Crash AFTER op 0 commits and marks, BEFORE op 1 runs: recover()
    must apply op 1 (and only op 1) — the torn pair converges."""
    a, b, j = tmp_path / "a", tmp_path / "b", tmp_path / "journal"
    txn = MultiTableTransaction(str(j))

    import door2door_etl_spark.io.txn as txn_mod

    real_append = __import__(
        "door2door_etl_spark.io.manifest", fromlist=["append_manifest"]
    ).append_manifest
    calls = {"n": 0}

    def crashing_apply(spark_, txn_, txn_id, decl, epoch_root=None):
        # run op 0 for real, then simulate the process dying
        from door2door_etl_spark.io.manifest import merge_manifest

        d = decl[0]
        payload = spark_.read.parquet(d["staged"])
        merge_manifest(
            spark_, d["table_root"], payload, key=d["key"],
            op_tag=f"{txn_id}/0",
        )
        ver = ManifestTable(d["table_root"]).find_op_tag(f"{txn_id}/0")
        with open(txn_._done_marker(txn_id, 0), "w") as f:
            f.write(str(ver))
        raise RuntimeError("simulated crash between ops")

    monkeypatch.setattr(txn_mod, "_apply", crashing_apply)
    with pytest.raises(RuntimeError, match="simulated crash"):
        txn.run(spark, [
            TxnOp("merge", str(a), payload=_batch(spark, [1, 2]), key="id"),
            TxnOp("append", str(b), payload=_batch(spark, [10])),
        ])
    monkeypatch.undo()

    assert _ids(spark, a) == [1, 2]
    assert ManifestTable(str(b)).current_version() is None  # torn: b missing

    recovered = recover(spark, str(j))
    assert len(recovered) == 1
    assert _ids(spark, a) == [1, 2]
    assert _ids(spark, b) == [10]
    # second recovery is a no-op (done marker present)
    assert recover(spark, str(j)) == []
    assert _ids(spark, b) == [10]
    assert calls["n"] == 0 or real_append  # silence unused warnings


def test_txn_crash_after_commit_before_marker_never_double_applies(
    spark, tmp_path
):
    """The nasty window: op 1's APPEND commits to the table, then the
    process dies before the done-marker lands.  Recovery must find the
    op_tag in the table's manifest and NOT re-append (appends are not
    idempotent — a naive replay would double the rows)."""
    a, b, j = tmp_path / "a", tmp_path / "b", tmp_path / "journal"
    txn = MultiTableTransaction(str(j))
    out = txn.run(spark, [
        TxnOp("merge", str(a), payload=_batch(spark, [1]), key="id"),
        TxnOp("append", str(b), payload=_batch(spark, [10, 11])),
    ])
    txn_id = out["txn_id"]
    # reconstruct the crash window: strip op 1's marker + the txn marker
    os.remove(txn._done_marker(txn_id, 1))
    os.remove(txn._done_marker(txn_id))

    recovered = recover(spark, str(j))
    assert len(recovered) == 1
    assert recovered[0]["versions"] == out["versions"]
    assert _ids(spark, b) == [10, 11]  # NOT [10, 10, 11, 11]


def test_txn_crash_before_journal_is_fully_absent(spark, tmp_path):
    """Staged payloads without a journal record (crash before the
    rename) are swept once past the age gate, and neither table
    advances.  A FRESH journal-less dir survives the default gate —
    it may be a concurrent writer mid-run() whose journal rename
    hasn't landed yet."""
    a, j = tmp_path / "a", tmp_path / "journal"
    os.makedirs(j / "txn-deadbeef" / "op-0")
    _batch(spark, [1]).write.mode("overwrite").parquet(
        str(j / "txn-deadbeef" / "op-0")
    )
    # default 1h gate: the just-written dir is too young to sweep
    assert recover(spark, str(j)) == []
    assert (j / "txn-deadbeef").exists()
    # past the gate it is swept
    assert recover(spark, str(j), sweep_min_age_hours=0.0) == []
    assert not (j / "txn-deadbeef").exists()
    assert ManifestTable(str(a)).current_version() is None


def test_txn_delete_op_and_validation(spark, tmp_path):
    a, j = tmp_path / "a", tmp_path / "journal"
    txn = MultiTableTransaction(str(j))
    txn.run(spark, [
        TxnOp("merge", str(a), payload=_batch(spark, [1, 2, 3]), key="id"),
    ])
    txn.run(spark, [
        TxnOp(
            "delete", str(a), key="id",
            payload=spark.createDataFrame([(2,)], "id long"),
        ),
    ])
    assert _ids(spark, a) == [1, 3]
    with pytest.raises(ValueError, match="requires key"):
        TxnOp("merge", str(a), payload=_batch(spark, [1]))
    with pytest.raises(ValueError, match="not in"):
        TxnOp("truncate", str(a), payload=_batch(spark, [1]))
    with pytest.raises(ValueError, match="empty transaction"):
        txn.run(spark, [])


def test_txn_journal_record_is_inspectable(spark, tmp_path):
    """The journal is data: a record names its ops, tables, and staged
    payload paths (operability — an operator can audit what a pending
    transaction will do before recovering it)."""
    a, j = tmp_path / "a", tmp_path / "journal"
    out = MultiTableTransaction(str(j)).run(spark, [
        TxnOp("merge", str(a), payload=_batch(spark, [1]), key="id"),
    ])
    with open(j / f"txn-{out['txn_id']}.json") as f:
        rec = json.load(f)
    assert rec["ops"][0]["kind"] == "merge"
    assert rec["ops"][0]["table_root"] == str(a)
    assert os.path.isdir(rec["ops"][0]["staged"])


def test_epoch_reader_snapshot_isolation_across_crash(
    spark, tmp_path, monkeypatch
):
    """Cross-table snapshot isolation through the LakeEpoch: a reader
    resolving through the epoch NEVER sees table A new + table B old.
    Before the first txn both are absent; after a crash BETWEEN ops the
    direct reads are torn (A new, B missing) but the epoch reader still
    sees the pre-txn state of BOTH; after recover() the epoch flips and
    the reader sees the post-txn state of BOTH."""
    from door2door_etl_spark.io.txn import LakeEpoch

    a, b, j = tmp_path / "a", tmp_path / "b", tmp_path / "journal"
    epoch = LakeEpoch(str(tmp_path / "epoch"))
    txn = MultiTableTransaction(str(j), epoch=epoch)

    # txn 1 commits cleanly: epoch pins both tables at their v1
    txn.run(spark, [
        TxnOp("merge", str(a), payload=_batch(spark, [1]), key="id"),
        TxnOp("append", str(b), payload=_batch(spark, [10])),
    ])

    def epoch_ids(root):
        return sorted(
            r["id"] for r in epoch.read_table(spark, str(root)).collect()
        )

    assert epoch_ids(a) == [1] and epoch_ids(b) == [10]

    # txn 2 crashes between ops: a advanced, b did not
    import door2door_etl_spark.io.txn as txn_mod

    def crashing_apply(spark_, txn_, txn_id, decl, epoch_root=None):
        from door2door_etl_spark.io.manifest import merge_manifest

        d = decl[0]
        payload = spark_.read.parquet(d["staged"])
        merge_manifest(
            spark_, d["table_root"], payload, key=d["key"],
            op_tag=f"{txn_id}/0",
        )
        ver = ManifestTable(d["table_root"]).find_op_tag(f"{txn_id}/0")
        with open(txn_._done_marker(txn_id, 0), "w") as f:
            f.write(str(ver))
        raise RuntimeError("simulated crash between ops")

    monkeypatch.setattr(txn_mod, "_apply", crashing_apply)
    with pytest.raises(RuntimeError, match="simulated crash"):
        txn.run(spark, [
            TxnOp("merge", str(a), payload=_batch(spark, [2]), key="id"),
            TxnOp("append", str(b), payload=_batch(spark, [11])),
        ])
    monkeypatch.undo()

    # direct reads are torn...
    assert _ids(spark, a) == [1, 2]
    assert _ids(spark, b) == [10]
    # ...the epoch reader is NOT: both tables still at txn-1 state
    assert epoch_ids(a) == [1] and epoch_ids(b) == [10]

    # recovery completes the ops AND flips the epoch: both move together
    assert len(recover(spark, str(j))) == 1
    assert epoch_ids(a) == [1, 2] and epoch_ids(b) == [10, 11]


def test_epoch_crash_after_flip_before_marker_is_idempotent(spark, tmp_path):
    """Crash window on the OTHER side of the flip: ops + epoch put
    landed, done marker lost.  Recovery must re-publish (a duplicate
    epoch pinning the same versions — harmless) and never double-apply;
    the reader's view is identical before and after."""
    from door2door_etl_spark.io.txn import LakeEpoch

    a, b, j = tmp_path / "a", tmp_path / "b", tmp_path / "journal"
    epoch = LakeEpoch(str(tmp_path / "epoch"))
    txn = MultiTableTransaction(str(j), epoch=epoch)
    out = txn.run(spark, [
        TxnOp("merge", str(a), payload=_batch(spark, [1]), key="id"),
        TxnOp("append", str(b), payload=_batch(spark, [10, 11])),
    ])
    pins_before = epoch.pins()
    os.remove(txn._done_marker(out["txn_id"]))

    recovered = recover(spark, str(j))
    assert len(recovered) == 1
    assert recovered[0]["versions"] == out["versions"]
    assert epoch.pins() == pins_before          # same versions re-pinned
    assert epoch.current_epoch() == 2           # duplicate epoch file
    assert sorted(
        r["id"] for r in epoch.read_table(spark, str(b)).collect()
    ) == [10, 11]                               # NOT doubled


def test_epoch_pins_carry_forward_across_disjoint_txns(spark, tmp_path):
    """A txn touching only table B must not unpin table A: prior pins
    carry forward into the new epoch file."""
    from door2door_etl_spark.io.txn import LakeEpoch

    a, b, j = tmp_path / "a", tmp_path / "b", tmp_path / "journal"
    epoch = LakeEpoch(str(tmp_path / "epoch"))
    txn = MultiTableTransaction(str(j), epoch=epoch)
    txn.run(spark, [TxnOp("merge", str(a), payload=_batch(spark, [1]), key="id")])
    txn.run(spark, [TxnOp("append", str(b), payload=_batch(spark, [10]))])
    pins = epoch.pins()
    assert len(pins) == 2
    assert sorted(
        r["id"] for r in epoch.read_table(spark, str(a)).collect()
    ) == [1]


def test_txn_stable_id_is_idempotent(spark, tmp_path):
    """A caller-stable txn_id makes the WHOLE transaction replayable:
    the second run() with the same id returns without touching any
    table (appends included), and a crash-resumed id applies from the
    staged payloads."""
    a, b, j = tmp_path / "a", tmp_path / "b", tmp_path / "journal"
    txn = MultiTableTransaction(str(j))
    out = txn.run(spark, [
        TxnOp("merge", str(a), payload=_batch(spark, [1]), key="id"),
        TxnOp("append", str(b), payload=_batch(spark, [10, 11])),
    ], txn_id="batch00000000")
    assert out["txn_id"] == "batch00000000"

    replay = txn.run(spark, [
        TxnOp("merge", str(a), payload=_batch(spark, [1]), key="id"),
        TxnOp("append", str(b), payload=_batch(spark, [10, 11])),
    ], txn_id="batch00000000")
    assert replay["replayed"] is True
    assert _ids(spark, b) == [10, 11]  # append did NOT double

    # crash window: journal landed, txn marker lost -> same-id run resumes
    os.remove(txn._done_marker("batch00000000"))
    resumed = txn.run(spark, [
        TxnOp("append", str(b), payload=_batch(spark, [99])),  # IGNORED
    ], txn_id="batch00000000")
    assert resumed["versions"] == out["versions"]
    assert _ids(spark, b) == [10, 11]  # staged payloads won, 99 never landed

    with pytest.raises(ValueError, match="unsafe txn_id"):
        txn.run(spark, [
            TxnOp("append", str(b), payload=_batch(spark, [1])),
        ], txn_id="../escape")


def test_stream_txn_co_commit_exactly_once(spark, tmp_path):
    """Streaming multi-table sink: each micro-batch MERGEs docs and
    APPENDs a stats row in ONE journaled transaction; a fresh-checkpoint
    replay of the same files re-runs the batches but the stable
    batch-derived txn ids skip them — the ledger never double-counts."""
    import json as _json

    from door2door_etl_spark.io.txn import LakeEpoch
    from door2door_etl_spark.streaming import stream_batches
    from pyspark.sql import functions as F

    src_dir = tmp_path / "in"
    src_dir.mkdir()
    corpus, stats = str(tmp_path / "corpus"), str(tmp_path / "stats")
    epoch = LakeEpoch(str(tmp_path / "epoch"))

    def ops_builder(batch_df):
        return [
            TxnOp("merge", corpus, payload=batch_df, key="id"),
            TxnOp(
                "append", stats,
                payload=batch_df.groupBy().agg(
                    F.count(F.lit(1)).alias("n_docs")
                ),
            ),
        ]

    stream = spark.readStream.schema("id long, payload string").json(
        str(src_dir)
    )

    txn = MultiTableTransaction(str(tmp_path / "journal"), epoch=epoch)

    def run(ckpt):
        # the txn id derives from the batch id: a redelivery finds the
        # completed journal entry and touches no table
        q = stream_batches(
            stream, str(tmp_path / ckpt),
            lambda df, batch_id: txn.run(
                spark, ops_builder(df), txn_id=f"batch{batch_id:08d}"
            ),
        )
        q.awaitTermination(180)

    (src_dir / "b0.json").write_text(
        "\n".join(_json.dumps({"id": i, "payload": f"x{i}"}) for i in (1, 2))
    )
    run("ckpt1")
    (src_dir / "b1.json").write_text(
        "\n".join(_json.dumps({"id": i, "payload": f"x{i}"}) for i in (2, 3))
    )
    run("ckpt1")

    def ledger_total():
        return (
            epoch.read_table(spark, stats)
            .agg(F.sum("n_docs")).collect()[0][0]
        )

    assert sorted(
        r["id"] for r in epoch.read_table(spark, corpus).collect()
    ) == [1, 2, 3]
    assert ledger_total() == 4  # 2 + 2, the id=2 re-merge still counted once per batch

    # fresh checkpoint, same files: batches replay, stable txn ids skip
    run("ckpt2")
    assert ledger_total() == 4
    assert sorted(
        r["id"] for r in epoch.read_table(spark, corpus).collect()
    ) == [1, 2, 3]


def test_epoch_fsck_flags_dangling_pins(spark, tmp_path):
    """epoch.fsck(): healthy pins pass; a pin whose manifest was
    removed (vacuum past the pin) and a pin on a vanished table are
    both flagged with the pinned version."""
    import shutil

    from door2door_etl_spark.io.txn import LakeEpoch

    a, b, j = tmp_path / "a", tmp_path / "b", tmp_path / "journal"
    epoch = LakeEpoch(str(tmp_path / "epoch"))
    txn = MultiTableTransaction(str(j), epoch=epoch)
    txn.run(spark, [
        TxnOp("merge", str(a), payload=_batch(spark, [1]), key="id"),
        TxnOp("append", str(b), payload=_batch(spark, [10])),
    ])
    assert epoch.fsck() == []

    # simulate vacuum past the pin on a: remove its pinned manifest
    ta = ManifestTable(str(a))
    pinned = epoch.pins()[str(a)]
    os.remove(os.path.join(ta.manifests_dir, f"data-v{pinned:08d}.json"))
    # and drop table b entirely: its state and its view symlink
    shutil.rmtree(ManifestTable(str(b)).state_dir)
    os.unlink(b)

    issues = {f["table"]: f["issue"] for f in epoch.fsck()}
    assert "not retained" in issues[str(a)]
    assert "no committed versions" in issues[str(b)]


def test_cli_fsck_includes_epoch_audit(spark, tmp_path, capsys):
    """`-s fsck` over a lake with an epoch pointer appends the epoch
    audit to the report (empty findings on a healthy lake; a vacuumed-
    past pin shows up)."""
    import json as _json

    from door2door_etl_spark.__main__ import main
    from door2door_etl_spark.io.txn import LakeEpoch

    lake = tmp_path / "lake"
    wh = lake / "warehouse"
    epoch = LakeEpoch(str(lake / "epoch"))
    txn = MultiTableTransaction(str(tmp_path / "journal"), epoch=epoch)
    txn.run(spark, [
        TxnOp("merge", str(wh / "t1"), payload=_batch(spark, [1]), key="id"),
    ])
    assert main(["-s", "fsck", "--lake-root", str(lake)]) == 0
    rep = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["tables"]["_epoch"]["findings"] == []

    # break the pin without breaking the table (the vacuumed-past shape):
    # publish an epoch pinning a version the table never retained
    epoch.publish({str(wh / "t1"): 99})
    assert main(["-s", "fsck", "--lake-root", str(lake)]) == 0
    rep = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert len(rep["tables"]["_epoch"]["findings"]) == 1
    assert "not retained" in rep["tables"]["_epoch"]["findings"][0]["issue"]


# -- object-store journal (FsOps seam, fake S3 client) ----------------------


def _s3_journal(tmp_path):
    from door2door_etl_spark.io.manifest import S3FsOps
    from tests.test_manifest import _FakeS3Client

    fs = S3FsOps(client=_FakeS3Client())
    # metadata on (fake) S3; staging stays Spark-writable on POSIX — the
    # mixed deployment the staging_fs split exists for
    return "s3://lake/journal", fs, str(tmp_path / "staging")


def test_txn_s3_journal_happy_path_and_recover_noop(spark, tmp_path):
    """The whole journal protocol — record claim, per-op markers, done
    marker, recovery listing — over the S3 FsOps backend."""
    j, fs, staging = _s3_journal(tmp_path)
    a, b = tmp_path / "a", tmp_path / "b"
    txn = MultiTableTransaction(j, fs=fs, staging_root=staging)
    out = txn.run(spark, [
        TxnOp("merge", str(a), payload=_batch(spark, [1, 2]), key="id"),
        TxnOp("append", str(b), payload=_batch(spark, [10, 11])),
    ])
    assert len(out["versions"]) == 2
    assert _ids(spark, a) == [1, 2]
    assert _ids(spark, b) == [10, 11]
    # journal metadata lives on the object store, not POSIX
    assert fs.read_bytes(f"{j}/txn-{out['txn_id']}.json") is not None
    assert fs.read_bytes(f"{j}/txn-{out['txn_id']}.done") == b"done"
    assert recover(spark, j, fs=fs, staging_root=staging) == []
    assert _ids(spark, b) == [10, 11]


def test_txn_s3_journal_crash_rolls_forward(spark, tmp_path, monkeypatch):
    """Crash after op 0 commits+marks, before op 1: recovery over the S3
    journal applies exactly op 1 — same convergence as POSIX."""
    import door2door_etl_spark.io.txn as txn_mod

    j, fs, staging = _s3_journal(tmp_path)
    a, b = tmp_path / "a", tmp_path / "b"
    txn = MultiTableTransaction(j, fs=fs, staging_root=staging)

    def crashing_apply(spark_, txn_, txn_id, decl, epoch_root=None):
        from door2door_etl_spark.io.manifest import merge_manifest

        d = decl[0]
        payload = spark_.read.parquet(d["staged"])
        merge_manifest(
            spark_, d["table_root"], payload, key=d["key"],
            op_tag=f"{txn_id}/0",
        )
        ver = ManifestTable(d["table_root"]).find_op_tag(f"{txn_id}/0")
        txn_.fs.put_bytes(txn_._done_marker(txn_id, 0), str(ver).encode())
        raise RuntimeError("simulated crash between ops")

    monkeypatch.setattr(txn_mod, "_apply", crashing_apply)
    with pytest.raises(RuntimeError, match="simulated crash"):
        txn.run(spark, [
            TxnOp("merge", str(a), payload=_batch(spark, [1, 2]), key="id"),
            TxnOp("append", str(b), payload=_batch(spark, [10])),
        ])
    monkeypatch.undo()

    assert _ids(spark, a) == [1, 2]
    assert ManifestTable(str(b)).current_version() is None  # torn

    recovered = recover(spark, j, fs=fs, staging_root=staging)
    assert len(recovered) == 1
    assert _ids(spark, b) == [10]
    assert recover(spark, j, fs=fs, staging_root=staging) == []
    assert _ids(spark, b) == [10]


def test_txn_s3_record_claim_race_converges_on_winner(spark, tmp_path):
    """Two writers race the same caller-stable txn_id: the loser of the
    record's conditional PUT must apply the WINNER's journaled intent
    (their staged payloads), never its own divergent ops."""
    j, fs, staging = _s3_journal(tmp_path)
    a, b = tmp_path / "a", tmp_path / "b"

    # writer A's intent, staged and journaled out-of-band
    a_staged = os.path.join(staging, "txn-race1", "op-0")
    _batch(spark, [1, 2]).write.mode("overwrite").parquet(a_staged)
    a_record = {
        "txn_id": "race1",
        "ops": [{
            "kind": "merge", "table_root": str(a), "key": "id",
            "partition_col": None, "stats_col": None,
            "delete_mode": "rewrite", "staged": a_staged,
        }],
        "epoch_root": None,
    }

    txn = MultiTableTransaction(j, fs=fs, staging_root=staging)
    orig_put = fs.put_if_absent

    def racy_put(path, data):
        # A's claim lands in the window between B's record-absent check
        # and B's own claim
        if path.endswith("txn-race1.json"):
            orig_put(path, json.dumps(a_record).encode())
        return orig_put(path, data)

    fs.put_if_absent = racy_put
    try:
        out = txn.run(
            spark,
            [TxnOp("merge", str(b), payload=_batch(spark, [5, 6]), key="id")],
            txn_id="race1",
        )
    finally:
        fs.put_if_absent = orig_put

    # A's intent applied; B's divergent op never touched table b
    assert _ids(spark, a) == [1, 2]
    assert ManifestTable(str(b)).current_version() is None
    assert len(out["versions"]) == 1
    # replay of the same id is now a clean no-op
    assert txn.run(
        spark,
        [TxnOp("merge", str(b), payload=_batch(spark, [5, 6]), key="id")],
        txn_id="race1",
    )["replayed"] is True


def test_txn_s3_journal_less_staging_sweep_age_gated(spark, tmp_path):
    """The staging sweep runs through the staging fs (POSIX here) while
    the record probe runs through the journal fs (S3): a journal-less
    staged dir survives the default gate, is swept past it."""
    j, fs, staging = _s3_journal(tmp_path)
    stray = os.path.join(staging, "txn-deadbeef", "op-0")
    _batch(spark, [1]).write.mode("overwrite").parquet(stray)
    assert recover(spark, j, fs=fs, staging_root=staging) == []
    assert os.path.isdir(stray)
    assert recover(
        spark, j, fs=fs, staging_root=staging, sweep_min_age_hours=0.0
    ) == []
    assert not os.path.isdir(stray)


def test_cli_recover_rolls_journal_forward(spark, tmp_path, capsys, monkeypatch):
    """-s recover completes an interrupted transaction from the CLI and
    prints the one-line JSON summary; a second run is a clean zero."""
    from door2door_etl_spark.__main__ import main

    a, b = tmp_path / "a", tmp_path / "b"
    j = tmp_path / "journal"
    txn = MultiTableTransaction(str(j))
    out = txn.run(spark, [
        TxnOp("merge", str(a), payload=_batch(spark, [1]), key="id"),
        TxnOp("append", str(b), payload=_batch(spark, [10, 11])),
    ])
    # reconstruct the crash window: strip op 1's marker + the txn marker
    os.remove(txn._done_marker(out["txn_id"], 1))
    os.remove(txn._done_marker(out["txn_id"]))

    rc = main(["-s", "recover", "--lake-root", str(tmp_path)])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["step"] == "recover" and summary["n_recovered"] == 1
    assert _ids(spark, b) == [10, 11]

    rc = main(["-s", "recover", "--lake-root", str(tmp_path)])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["n_recovered"] == 0


def test_recover_sweeps_completed_txn_staging_age_gated(spark, tmp_path):
    """A COMPLETED transaction's staged payloads are dead weight (replay
    returns at the done marker) — recovery sweeps them past the age
    gate, keeping the record + markers (the idempotent-replay contract),
    and the replay contract still holds afterwards."""
    a, j = tmp_path / "a", tmp_path / "journal"
    txn = MultiTableTransaction(str(j))
    out = txn.run(spark, [
        TxnOp("merge", str(a), payload=_batch(spark, [1, 2]), key="id"),
    ], txn_id="keepid01")
    staged_dir = j / "txn-keepid01"
    assert staged_dir.is_dir()

    # young: survives the default gate
    assert recover(spark, str(j)) == []
    assert staged_dir.is_dir()
    # past the gate: staged payloads swept, record + done marker kept
    assert recover(spark, str(j), sweep_min_age_hours=0.0) == []
    assert not staged_dir.exists()
    assert os.path.exists(txn._record_path("keepid01"))
    assert os.path.exists(txn._done_marker("keepid01"))
    # idempotent replay still detected after the sweep
    replay = txn.run(spark, [
        TxnOp("merge", str(a), payload=_batch(spark, [9]), key="id"),
    ], txn_id="keepid01")
    assert replay["replayed"] is True
    assert _ids(spark, a) == [1, 2]


def test_benford_out_of_domain_magnitudes_excluded(spark):
    """Values past the documented 10^15 bound are excluded, never
    miscounted: Spark's floor saturates at the BIGINT boundary (a
    3.3e18 value would otherwise report digit 9 from the saturated
    9223372036854775807)."""
    from door2door_etl_spark.operators.profile import benford_digit_audit

    df = spark.createDataFrame([(2.0,), (3.3e18,), (1e39,)], "v double")
    out = {r.digit: r for r in benford_digit_audit(df, "v").collect()}
    assert sorted(out) == [2]
    assert out[2].obs_share == 1.0      # normalizer excludes them too


def test_recover_spares_empty_staging_dir_until_age_gate(spark, tmp_path):
    """An EMPTY journal-less staging dir (writer mkdir'd it, tasks
    haven't flushed a file yet) must be age-gated on the DIRECTORY's own
    mtime — the old min(file_ages, default=inf) treated emptiness as
    infinitely old and rmtree'd a live writer's staging immediately
    (ADVICE r10 medium)."""
    j = tmp_path / "journal"
    j.mkdir()
    empty = j / "txn-liveempty"
    empty.mkdir()

    # fresh: survives the sweep even at a 0.5h gate
    assert recover(spark, str(j), sweep_min_age_hours=0.5) == []
    assert empty.is_dir()
    # backdate the dir 2 hours: now legitimately dead, swept
    old = os.path.getmtime(empty) - 7200
    os.utime(empty, (old, old))
    assert recover(spark, str(j), sweep_min_age_hours=1.0) == []
    assert not empty.exists()


def test_recover_empty_dir_sweep_routes_through_fsops_seam(
    spark, tmp_path
):
    """The empty-staging-dir age gate consults the BACKEND via
    ``FsOps.dir_age_s`` / ``FsOps.remove_dir`` instead of raw
    os.path calls (ADVICE r11 low): a backend reporting object-store
    semantics (dir_age_s → None: prefixes aren't entities) makes the
    sweep skip an empty "dir" even when the POSIX path under it is
    ancient — the decision provably flows through the seam.  Also pins
    the LocalFsOps/S3FsOps capability contracts themselves."""
    import time as _time

    from door2door_etl_spark.io.manifest import LocalFsOps, S3FsOps
    from tests.test_manifest import _FakeS3Client

    # capability contracts
    lfs = LocalFsOps()
    d = tmp_path / "somedir"
    d.mkdir()
    age = lfs.dir_age_s(str(d))
    assert age is not None and 0 <= age < 60
    assert lfs.dir_age_s(str(tmp_path / "missing")) is None
    f = tmp_path / "afile"
    f.write_bytes(b"x")
    assert lfs.dir_age_s(str(f)) is None  # a stray file is not a dir
    lfs.remove_dir(str(d))
    assert not d.exists()

    s3 = S3FsOps(client=_FakeS3Client())
    assert s3.dir_age_s("s3://bucket/any/prefix") is None
    s3.remove_dir("s3://bucket/any/prefix")  # documented no-op

    # routing: object-store dir semantics override the POSIX reality
    class _PrefixFs(LocalFsOps):
        def dir_age_s(self, path):
            return None

    j = tmp_path / "journal"
    j.mkdir()
    empty = j / "txn-ghost"
    empty.mkdir()
    old = _time.time() - 7200
    os.utime(empty, (old, old))
    assert (
        recover(
            spark,
            str(j),
            sweep_min_age_hours=0.5,
            staging_root=str(j),
            staging_fs=_PrefixFs(),
        )
        == []
    )
    assert empty.is_dir()  # seam said "empty prefix: nothing to sweep"


def test_txn_object_staging_with_posix_journal_needs_staging_fs(tmp_path):
    """A POSIX journal with an s3:// staging_root can't sweep staging
    through the journal's LocalFsOps — constructing without an explicit
    staging_fs raises instead of silently never GC-ing (ADVICE r10 low);
    passing one is accepted and used verbatim."""
    with pytest.raises(ValueError, match="staging_fs"):
        MultiTableTransaction(
            str(tmp_path / "j"), staging_root="s3://bucket/stage"
        )

    class _FakeFs:
        pass

    fake = _FakeFs()
    t = MultiTableTransaction(
        str(tmp_path / "j"), staging_root="s3://bucket/stage",
        staging_fs=fake,
    )
    assert t.staging_fs is fake
