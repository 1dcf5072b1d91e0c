"""Multi-table transactions over manifest tables: co-commit with
roll-forward crash recovery.

The repo's composite state spans tables that must move together — the
curated corpus and its BM25/vector indexes, a fact table and its
incremental agg view's source, bronze and bookkeeping.  Each manifest
table's OWN commit is atomic (one ``put_if_absent`` manifest claim), but
a writer updating two tables can crash between the two claims, leaving
readers a torn pair until someone notices.  The reference has the same
problem solved by a Postgres server-side transaction
(``src/helper/postgres.py:157-189``); object-store lakehouses cannot get
that for free — Iceberg/Delta multi-table transactions likewise require
a coordinating journal (the catalog).  This module is that journal,
scoped honestly:

* **Convergence for direct readers, snapshot isolation through the
  epoch.**  Direct ``ManifestTable.read`` readers see tables become
  visible in op order (a reader between ops sees table A advanced and
  table B not yet), but the pair always CONVERGES — after
  :func:`recover`, every journaled transaction is either fully applied
  or (if it never reached the journal) fully absent.  Readers that
  resolve through a :class:`LakeEpoch` get full cross-table snapshot
  isolation: a transaction's per-table version claims become visible in
  ONE atomic epoch-file put AFTER all ops land, so an epoch reader can
  never observe table A new + table B old — on either side of a crash
  (before the flip: both old; after: both new; recovery completes the
  flip for journaled transactions that died mid-way).
* **Exactly-once ops.**  Each op's payload is staged to the journal
  BEFORE the journal record commits (crash-safe input capture), each
  op's manifest commit carries an ``op_tag`` (``txn_id/op_idx``), and a
  done-marker lands after.  Recovery re-runs an op only when neither
  the marker nor the tag is found — the tag probe closes the
  crash-after-commit-before-marker window, so replays never double-
  apply (appends included, which are NOT naturally idempotent).
* **Scale shape.**  The journal is O(transactions) small files; payload
  staging doubles the batch write (the standard transactional-outbox
  trade, paid on the BATCH, never the table).  Recovery is pure
  metadata plus re-running at most the interrupted transaction's
  remaining ops.

Deployment shape: the journal's METADATA (intent records, per-op done
markers, the transaction done marker) moves entirely through the
:class:`~door2door_etl_spark.io.manifest.FsOps` seam — POSIX by default,
any object store with a conditional-PUT claim (``S3FsOps``) by
injection, so the multi-table story works exactly where the manifest
tables it coordinates already do.  The intent record lands via
``put_if_absent`` (the same atomic claim the manifest protocol commits
with); markers are idempotent small puts.  Staged payloads are written
by SPARK (parquet), so ``staging_root`` — defaulting to
``journal_root`` — must be a Spark-writable path (``s3a://`` where the
journal rides ``s3://``; the metadata and data planes use different
clients against the same store, exactly as ManifestTable does).
Concurrent WRITERS against one journal are supported insofar as (a) the
record claim makes two same-``txn_id`` writers converge on one intent,
and (b) recovery's staging sweep is age-gated
(``sweep_min_age_hours``); keep the gate comfortably above your longest
staging phase.

Usage::

    epoch = LakeEpoch(epoch_root)          # optional: snapshot isolation
    txn = MultiTableTransaction(journal_root, epoch=epoch)
    txn.run(spark, [
        TxnOp("merge", curated_root, key="doc_id", payload=batch),
        TxnOp("append", postings_root, payload=new_postings),
    ])
    # consistency-sensitive readers:
    epoch.read_table(spark, curated_root)  # never a torn pair
    # at writer startup:
    recover(spark, journal_root)
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

_KINDS = ("append", "merge", "delete")


@dataclass
class TxnOp:
    """One table operation inside a transaction.  ``payload`` is the
    batch DataFrame (for ``delete``: the keys frame); ``key`` is
    required for merge/delete; ``partition_col``/``stats_col`` pass
    through to the underlying commit; ``delete_mode`` picks
    rewrite vs deletion-vector for deletes."""

    kind: str
    table_root: str
    payload: DataFrame | None = None
    key: str | None = None
    partition_col: str | None = None
    stats_col: str | list[str] | None = None
    delete_mode: str = "rewrite"

    def __post_init__(self):
        if self.kind not in _KINDS:
            raise ValueError(f"kind {self.kind!r} not in {_KINDS}")
        if self.kind in ("merge", "delete") and not self.key:
            raise ValueError(f"{self.kind} op requires key=")


class LakeEpoch:
    """Lake-level visibility pointer: one numbered JSON file per epoch,
    each pinning ``{table_root: version}`` for every table the lake has
    ever published.  The file lands via ``put_if_absent`` (the manifest
    protocol's atomic claim), so a flip is all-or-nothing; readers
    resolve a table through :meth:`read_table` and always see the
    version set of EXACTLY ONE epoch.  Tables the epoch has never
    pinned read at their current version (they are outside the
    isolation domain by definition).

    Retention interplay: a pin references a concrete table version, and
    ``ManifestTable.vacuum`` may eventually GC versions beyond its
    ``keep`` window.  The current epoch's pins lag each table's head by
    at most the transactions in flight since the last flip, so the
    default ``keep=2`` + ``min_age_hours`` time floor covers epoch
    readers the way it covers any long-running reader; if many table
    commits land between flips, raise ``keep`` accordingly."""

    def __init__(self, epoch_root: str, fs=None):
        from door2door_etl_spark.io.manifest import LocalFsOps

        self.epoch_root = epoch_root
        self.fs = fs if fs is not None else LocalFsOps()

    def _path(self, n: int) -> str:
        return os.path.join(self.epoch_root, f"epoch-{n:08d}.json")

    def current_epoch(self) -> int | None:
        names = self.fs.list_names(self.epoch_root)
        versions = [
            int(n[len("epoch-"):-len(".json")])
            for n in names
            if n.startswith("epoch-") and n.endswith(".json")
        ]
        return max(versions) if versions else None

    def pins(self) -> dict[str, int]:
        """The current epoch's ``{table_root: version}`` map ({} before
        the first publish)."""
        cur = self.current_epoch()
        if cur is None:
            return {}
        raw = self.fs.read_bytes(self._path(cur))
        return {} if raw is None else json.loads(raw)["tables"]

    def publish(self, table_versions: dict[str, int]) -> int:
        """Flip the lake to a new epoch: prior pins carry forward, the
        given tables move to their new versions, ONE atomic put makes
        them all visible together.  Loses a claim race -> retries at
        the next number with the loser's pins re-merged on top of the
        winner's (last-writer-wins per table, never a torn mix)."""
        from door2door_etl_spark.io.objectstore import normalize_object_uri

        norm = {
            normalize_object_uri(t): int(v) for t, v in table_versions.items()
        }
        while True:
            # read the epoch number ONCE and merge onto THAT epoch's pins:
            # reading pins and the number separately would let a racer land
            # in between, and our claim of number+1 could then skip over
            # (and drop) the racer's pins.  Claiming exactly cur+1 means a
            # lost race always forces a re-read of the winner's full map.
            cur = self.current_epoch()
            if cur is None:
                pins = {}
            else:
                raw = self.fs.read_bytes(self._path(cur))
                pins = {} if raw is None else json.loads(raw)["tables"]
            pins.update(norm)
            nxt = (cur or 0) + 1
            payload = json.dumps(
                {"epoch": nxt, "tables": pins}, sort_keys=True
            ).encode()
            if self.fs.put_if_absent(self._path(nxt), payload):
                return nxt

    def fsck(self) -> list[dict]:
        """Audit the current epoch's pins against the tables' retained
        manifests: a pin whose version was vacuumed past (or whose
        table vanished) breaks epoch readers — surface it BEFORE a
        reader does.  Returns one finding per dangling pin
        (``{table, pinned_version, issue}``); empty = healthy.  Pure
        metadata, O(pinned tables)."""
        from door2door_etl_spark.io.manifest import ManifestTable

        findings = []
        for table_root, version in sorted(self.pins().items()):
            t = ManifestTable(table_root)
            cur = t.current_version()
            if cur is None:
                findings.append({
                    "table": table_root, "pinned_version": version,
                    "issue": "table has no committed versions",
                })
            else:
                try:
                    t.manifest(version)
                except ValueError:
                    findings.append({
                        "table": table_root, "pinned_version": version,
                        "issue": f"pinned manifest not retained "
                                 f"(current={cur}; vacuumed past the pin?)",
                    })
        return findings

    def read_table(self, spark: SparkSession, table_root: str) -> DataFrame:
        """Read ``table_root`` at its epoch-pinned version — the reader
        half of cross-table snapshot isolation.  Unpinned tables read
        current."""
        from door2door_etl_spark.io.manifest import ManifestTable
        from door2door_etl_spark.io.objectstore import normalize_object_uri

        pin = self.pins().get(normalize_object_uri(table_root))
        return ManifestTable(table_root).read(spark, version=pin)


class MultiTableTransaction:
    def __init__(
        self,
        journal_root: str,
        epoch: LakeEpoch | None = None,
        fs=None,
        staging_root: str | None = None,
        staging_fs=None,
    ):
        from door2door_etl_spark.io.manifest import LocalFsOps

        self.journal_root = journal_root
        self.epoch = epoch
        self.fs = fs if fs is not None else LocalFsOps()
        # payload staging is written by Spark (parquet), not FsOps — on an
        # object store pass the Spark-writable twin of the journal URI
        # (s3a:// vs s3://); locally the default (= journal_root) is fine.
        # The sweep side needs an fs matching the staging LOCATION, not
        # the journal's: pass ``staging_fs`` explicitly for any mixed
        # deployment the heuristic below can't infer (e.g. POSIX journal
        # + object-store staging, where reusing the journal's LocalFsOps
        # would make the sweep silently see zero staged files).
        from door2door_etl_spark.io.manifest import _is_object_uri

        self.staging_root = staging_root or journal_root
        if staging_fs is not None:
            self.staging_fs = staging_fs
        elif staging_root is None:
            self.staging_fs = self.fs
        elif _is_object_uri(staging_root):
            if not _is_object_uri(journal_root):
                raise ValueError(
                    "object-store staging_root with a POSIX journal needs "
                    "an explicit staging_fs (the journal fs cannot list "
                    f"{staging_root!r})"
                )
            self.staging_fs = self.fs
        else:
            self.staging_fs = LocalFsOps()

    def _exists(self, path: str) -> bool:
        return self.fs.read_bytes(path) is not None

    # -- paths --------------------------------------------------------------
    def _txn_dir(self, txn_id: str) -> str:
        return os.path.join(self.staging_root, f"txn-{txn_id}")

    def _record_path(self, txn_id: str) -> str:
        return os.path.join(self.journal_root, f"txn-{txn_id}.json")

    def _done_marker(self, txn_id: str, idx: int | None = None) -> str:
        suffix = "done" if idx is None else f"done-{idx}"
        return os.path.join(self.journal_root, f"txn-{txn_id}.{suffix}")

    # -- write path ----------------------------------------------------------
    def run(
        self, spark: SparkSession, ops: list[TxnOp], txn_id: str | None = None
    ) -> dict:
        """Stage every op's payload, journal the intent, then apply the
        ops in order through :func:`_apply` — the SAME executor recovery
        uses, so the crash path is the tested path.  Returns
        ``{txn_id, versions}``.

        ``txn_id`` defaults to a fresh UUID (each call is a new
        transaction).  Pass a CALLER-STABLE id to make the whole
        transaction idempotent under redelivery — the at-least-once
        sink contract (e.g. a streaming micro-batch id): a completed id
        returns immediately (``versions: None, replayed: True``), a
        journaled-but-unfinished id RESUMES from its staged payloads
        (never re-stages — the journal is the point of no return), and
        only an unseen id stages anew."""
        if not ops:
            raise ValueError("empty transaction")
        if txn_id is not None:
            if not txn_id.replace("-", "").replace("_", "").isalnum():
                raise ValueError(f"unsafe txn_id {txn_id!r}")
            if self._exists(self._done_marker(txn_id)):
                return {"txn_id": txn_id, "versions": None, "replayed": True}
            raw = self.fs.read_bytes(self._record_path(txn_id))
            if raw is not None:
                record = json.loads(raw)
                versions = _apply(
                    spark, self, txn_id, record["ops"],
                    epoch_root=record.get("epoch_root"),
                )
                return {"txn_id": txn_id, "versions": versions}
        else:
            txn_id = uuid.uuid4().hex
        decl = []
        # attempt-unique staging: two writers racing the same
        # caller-stable txn_id must never share staged paths — the loser
        # of the record claim would otherwise have OVERWRITTEN the
        # winner's staged inputs before the claim resolves, corrupting
        # the journaled intent it is then obliged to apply.  The record
        # pins the winning attempt's paths; a losing attempt's files are
        # unreferenced garbage under the txn dir (cleaned with it).
        attempt = uuid.uuid4().hex[:8]
        for i, op in enumerate(ops):
            staged = os.path.join(
                self._txn_dir(txn_id), f"at-{attempt}", f"op-{i}"
            )
            op.payload.write.mode("overwrite").parquet(staged)
            decl.append(
                {
                    "kind": op.kind,
                    "table_root": op.table_root,
                    "key": op.key,
                    "partition_col": op.partition_col,
                    "stats_col": op.stats_col,
                    "delete_mode": op.delete_mode,
                    "staged": staged,
                }
            )
        record = {
            "txn_id": txn_id,
            "ops": decl,
            "epoch_root": self.epoch.epoch_root if self.epoch else None,
        }
        # journal point of no return: ONE atomic conditional put — the
        # same claim primitive the manifest commit itself rides, so the
        # journal works on any FsOps backend.  Losing the claim (a
        # concurrent writer journaled the same caller-stable txn_id
        # first) converges on the WINNER's intent: their staged inputs,
        # our apply — never two divergent payload sets under one id.
        claimed = self.fs.put_if_absent(
            self._record_path(txn_id), json.dumps(record).encode()
        )
        if not claimed:
            raw = self.fs.read_bytes(self._record_path(txn_id))
            record = json.loads(raw)
            decl = record["ops"]
        versions = _apply(
            spark, self, txn_id, decl, epoch_root=record.get("epoch_root")
        )
        return {"txn_id": txn_id, "versions": versions}


def _apply(
    spark: SparkSession,
    txn: MultiTableTransaction,
    txn_id: str,
    decl: list[dict],
    epoch_root: str | None = None,
) -> list[int]:
    """Apply (or resume) a journaled transaction: per op, skip if its
    done-marker exists, else probe the table for the op_tag (the commit
    landed but the marker didn't), else run it — then mark.  With an
    epoch, ONE atomic epoch publish then flips every table's visible
    version together (before that put, epoch readers still see the old
    consistent set; a crash before it is completed here on recovery —
    a duplicate publish after a crash-after-put re-pins the same
    versions, harmless).  Finishes by writing the transaction-level
    done marker."""
    from door2door_etl_spark.io.manifest import (
        ManifestTable,
        append_manifest,
        delete_manifest,
        merge_manifest,
    )

    versions: list[int] = []
    for i, d in enumerate(decl):
        marker = txn._done_marker(txn_id, i)
        tag = f"{txn_id}/{i}"
        raw_marker = txn.fs.read_bytes(marker)
        if raw_marker is not None:
            versions.append(int(raw_marker.decode().strip() or 0))
            continue
        table = ManifestTable(d["table_root"])
        committed = (
            table.find_op_tag(tag)
            if table.current_version() is not None
            else None
        )
        if committed is None:
            payload = spark.read.parquet(d["staged"])
            if d["kind"] == "append":
                append_manifest(
                    spark, d["table_root"], payload,
                    partition_col=d["partition_col"],
                    stats_col=d["stats_col"], op_tag=tag,
                )
            elif d["kind"] == "merge":
                merge_manifest(
                    spark, d["table_root"], payload, key=d["key"],
                    partition_col=d["partition_col"],
                    stats_col=d["stats_col"], op_tag=tag,
                )
            else:
                delete_manifest(
                    spark, d["table_root"], payload, key=d["key"],
                    mode=d["delete_mode"], op_tag=tag,
                )
            # Resolve the VERSION the op landed as from its tag — the
            # writers' return values are row counts for merge/delete, and
            # the epoch needs true versions to pin.  A no-op commit
            # (e.g. delete matching nothing writes no manifest) pins the
            # table's current version.
            committed = table.find_op_tag(tag)
            if committed is None:
                committed = table.current_version() or 0
        txn.fs.put_bytes(marker, str(committed).encode())
        versions.append(int(committed))
    if epoch_root:
        # prefer the caller's live epoch object (it carries its own fs);
        # recovery reconstructs one on the journal's backend (same lake)
        ep = (
            txn.epoch
            if txn.epoch is not None and txn.epoch.epoch_root == epoch_root
            else LakeEpoch(epoch_root, fs=txn.fs)
        )
        ep.publish({d["table_root"]: v for d, v in zip(decl, versions)})
    txn.fs.put_bytes(txn._done_marker(txn_id), b"done")
    return versions


def recover(
    spark: SparkSession,
    journal_root: str,
    sweep_min_age_hours: float = 1.0,
    fs=None,
    staging_root: str | None = None,
    staging_fs=None,
) -> list[dict]:
    """Roll every incomplete journaled transaction forward — call at
    writer startup (and after any crash).  A transaction is incomplete
    when its record exists but its done marker doesn't; ops already
    committed (marker or op_tag present) are never re-run.  Returns one
    ``{txn_id, versions}`` per recovered transaction.  Transactions
    that crashed BEFORE the journal rename left only staged payloads
    (``txn-<id>/`` with no ``txn-<id>.json``) — fully absent by
    definition; their staging is swept here, AGE-GATED by
    ``sweep_min_age_hours`` (same posture as vacuum's min-age): a
    journal-less dir younger than the gate may belong to a transaction
    still mid-``run()`` (payloads staged, journal rename not yet done),
    and sweeping it would destroy that writer's staged inputs.

    Runs over any :class:`~door2door_etl_spark.io.manifest.FsOps`
    backend (``fs``; POSIX default) — the journal listing, record reads,
    marker probes and the staging sweep all go through the seam, so
    recovery works wherever the journal lives."""
    txn = MultiTableTransaction(
        journal_root, fs=fs, staging_root=staging_root, staging_fs=staging_fs
    )
    # NOTE: an empty journal listing is NOT an early exit — journal-less
    # staging (crash before the record claim) must still be swept below
    names = txn.fs.list_names(journal_root)
    out = []
    for name in names:
        if not (name.startswith("txn-") and name.endswith(".json")):
            continue
        txn_id = name[len("txn-"):-len(".json")]
        if txn._exists(txn._done_marker(txn_id)):
            continue
        record = json.loads(
            txn.fs.read_bytes(os.path.join(journal_root, name))
        )
        out.append(
            {
                "txn_id": txn_id,
                "versions": _apply(
                    spark, txn, txn_id, record["ops"],
                    epoch_root=record.get("epoch_root"),
                ),
            }
        )
    # sweep staged payloads that can never be read again — both only
    # past the age gate, so a concurrent writer's freshly-staged
    # payloads survive until its record claim lands.  Age = the YOUNGEST
    # staged file's age (object stores have no directory mtime).
    #   (a) journal-less dirs: the writer crashed before the record
    #       claim, the transaction is fully absent by definition;
    #   (b) COMPLETED transactions (done marker present): run() replays
    #       return at the marker and _apply skips at op markers, so the
    #       staged inputs are dead weight — without this sweep the
    #       journal retains a FULL COPY of every batch ever written
    #       (records and markers stay: they are bytes-sized and carry
    #       the idempotent-replay contract).
    min_age = sweep_min_age_hours * 3600
    for name in sorted(txn.staging_fs.list_names(txn.staging_root)):
        if name.startswith("txn-") and "." not in name:
            txn_id = name[len("txn-"):]
            path = os.path.join(txn.staging_root, name)
            staged_files = txn.staging_fs.walk_files(path)
            if staged_files:
                age = min(
                    txn.staging_fs.file_age_s(f) for f in staged_files
                )
            else:
                # No staged bytes: ask the BACKEND what emptiness means.
                # POSIX (LocalFsOps.dir_age_s): a skeleton dir is a live
                # entity a writer may have just mkdir'd — gate on the
                # directory's own mtime, never treat emptiness as
                # infinitely old.  Object store (S3FsOps.dir_age_s →
                # None): "directories" are name prefixes, an empty
                # prefix holds no bytes — nothing to sweep or age-gate.
                dir_age = txn.staging_fs.dir_age_s(path)
                if dir_age is None:
                    continue
                age = dir_age
            dead = not txn._exists(txn._record_path(txn_id)) or txn._exists(
                txn._done_marker(txn_id)
            )
            if age >= min_age and dead:
                for f in staged_files:
                    txn.staging_fs.delete_file(f)
                # POSIX skeleton/emptied dirs; object-store backends
                # no-op (the last delete_file already removed the
                # "directory").
                txn.staging_fs.remove_dir(path)
    return out
