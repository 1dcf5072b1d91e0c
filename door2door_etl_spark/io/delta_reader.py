"""Read-only Delta Lake interop: open-format tables as first-class inputs.

The lakehouse layer's own commit protocol (:mod:`.manifest`) is private to
this engine; a real deployment's first question is "can it read my existing
Delta table?".  This module answers it with the same PURE-METADATA posture
``ManifestTable`` takes: the transaction log is parsed on the driver
(actions are O(live files), never data-sized), the resolved live file set
is handed to ``spark.read.parquet``, and every data byte flows through
Spark's normal vectorized parquet scan — predicate pushdown, column
pruning and partition pruning all intact because the file list, schema and
partition values are declared to Catalyst up front.

Implemented from the PUBLIC Delta Lake protocol specification
(github.com/delta-io/delta PROTOCOL.md):

- ``_delta_log/<%020d>.json`` commits, one JSON action per line
  (``protocol`` / ``metaData`` / ``add`` / ``remove``; ``commitInfo`` /
  ``txn`` / ``cdc`` / ``domainMetadata`` are skipped as reader-irrelevant).
- Classic parquet checkpoints — single-file
  ``<%020d>.checkpoint.parquet`` AND multi-part
  ``<%020d>.checkpoint.<%010d>.<%010d>.parquet`` — discovered both via
  ``_last_checkpoint`` and by listing; read through pyarrow (the same
  footer machinery the manifest stats use), so log replay never needs
  more than (latest checkpoint) + (JSON commits after it).
- Log replay semantics: latest ``metaData``/``protocol`` win; the live
  set is adds minus removes with last-add-wins per path; ``add.path`` is
  percent-decoded per spec and may be absolute (shallow-clone layout).
- Time travel: ``version=`` replays to any version whose log suffix still
  exists; a version older than the oldest reconstructable state refuses
  loudly (cleaned log), never silently returns newer data.

The REFUSAL posture is the core design decision: any table feature this
reader cannot honor exactly — deletion vectors on live files, column
mapping, a reader protocol/feature set beyond what is implemented —
raises :class:`DeltaUnsupportedError` listing the offending feature,
because returning wrong rows from a lakehouse table is strictly worse
than returning none.

Scale shape: the one scan per distinct partition tuple keeps partition
values authoritative FROM THE LOG (the spec's source of truth — path
layout is a writer convention, not a contract) while still giving each
scan the pushed-down schema; a date-partitioned 100 TB table unions a few
thousand scans of many files each, which Spark's union planner handles,
and the file list itself never exceeds driver metadata scale (the same
bound the manifest protocol lives with).  Deployments past that bound
would register the file set as a DataSourceV2 relation — noted here as
the documented growth path, same posture as the manifest reader.

Reference analog: none (the reference reads JSONL off S3 and writes
postgres — `/root/reference/src/helper/postgres.py`); this is north-star
lakehouse interop capability.
"""

from __future__ import annotations

import io as _io
import json
import os
import re
import time
import urllib.parse
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from door2door_etl_spark.io.manifest import (
    LocalFsOps,
    _is_object_uri,
)
from door2door_etl_spark.operators import local

_COMMIT_RE = re.compile(r"^(\d{20})\.json$")
_CP_SINGLE_RE = re.compile(r"^(\d{20})\.checkpoint\.parquet$")
_CP_PART_RE = re.compile(r"^(\d{20})\.checkpoint\.(\d{10})\.(\d{10})\.parquet$")

# Reader features (protocol v3) this implementation can honor EXACTLY.
# timestampNtz is schema-level only: the type round-trips through Spark's
# parquet reader unchanged, nothing about file resolution differs.
_SUPPORTED_READER_FEATURES = {"timestampNtz"}
_MAX_MIN_READER_VERSION = 3


class DeltaUnsupportedError(NotImplementedError):
    """A Delta table feature this reader cannot honor exactly.

    Raised INSTEAD of reading: a lakehouse reader that ignores deletion
    vectors or column mapping returns wrong rows with full confidence,
    which is strictly worse than refusing with the feature named."""


class DeltaProtocolError(ValueError):
    """A structurally broken or unreadable Delta log (not a feature gap):
    missing metaData, gaps in the commit sequence, cleaned log below the
    requested version, no log at all."""


def _fs_for(path: str):
    if _is_object_uri(path):
        from door2door_etl_spark.io.manifest import S3FsOps

        return S3FsOps()
    return LocalFsOps()


@dataclass
class DeltaSnapshot:
    """Resolved state of a Delta table at one version — everything a
    scan needs, nothing data-sized."""

    path: str
    version: int
    schema: StructType
    partition_columns: list[str]
    # live files: relpath-or-absolute -> partitionValues dict (str|None)
    files: dict[str, dict] = field(default_factory=dict)
    metadata: dict = field(default_factory=dict)
    protocol: dict = field(default_factory=dict)

    def absolute_files(self) -> list[tuple[str, dict]]:
        """(absolute path, partitionValues) per live file, sorted for
        deterministic scan group order."""
        out = []
        for rel, pv in self.files.items():
            if "://" in rel or rel.startswith("/"):
                out.append((rel, pv))  # shallow-clone absolute path
            else:
                out.append((os.path.join(self.path, rel), pv))
        return sorted(out)


def _read_checkpoint_actions(fs, log_dir: str, names: list[str]) -> list[dict]:
    """Parse checkpoint parquet part(s) into the action-dict stream the
    JSON replay consumes.  Only reader-relevant columns are projected;
    real checkpoints written by other engines carry more (stats structs,
    txn) — tolerated and ignored."""
    import pyarrow.parquet as pq

    actions: list[dict] = []
    for name in names:
        full = os.path.join(log_dir, name)
        if _is_object_uri(full):
            data = fs.read_bytes(full)
            if data is None:
                raise DeltaProtocolError(f"checkpoint part vanished: {full}")
            table = pq.read_table(_io.BytesIO(data))
        else:
            table = pq.read_table(full)
        want = [
            c for c in ("protocol", "metaData", "add", "remove")
            if c in table.column_names
        ]
        for row in table.select(want).to_pylist():
            for key in want:
                val = row.get(key)
                if val is not None:
                    actions.append({key: _normalize_maps(val)})
    return actions


def _normalize_maps(obj):
    """pyarrow renders map<str,str> as list[(k, v)]; the JSON log renders
    it as a dict — normalize to dict everywhere so replay sees one shape."""
    if isinstance(obj, list) and obj and all(
        isinstance(x, tuple) and len(x) == 2 for x in obj
    ):
        return {k: _normalize_maps(v) for k, v in obj}
    if isinstance(obj, list):
        return [_normalize_maps(x) for x in obj]
    if isinstance(obj, dict):
        return {k: _normalize_maps(v) for k, v in obj.items()}
    return obj


def _discover_log(fs, path: str):
    """List `_delta_log/`: commit versions, COMPLETE checkpoints (a
    multi-part checkpoint missing any part is ignored entirely), and the
    `_last_checkpoint` hint (used as a hint only — the listing is
    authoritative, the hint file is last-writer-wins best-effort)."""
    log_dir = os.path.join(path, "_delta_log")
    names = fs.list_names(log_dir)
    commits: dict[int, str] = {}
    cp_parts: dict[int, dict[int, list[str | None]]] = {}
    for n in names:
        m = _COMMIT_RE.match(n)
        if m:
            commits[int(m.group(1))] = n
            continue
        m = _CP_SINGLE_RE.match(n)
        if m:
            cp_parts.setdefault(int(m.group(1)), {})[1] = [n]
            continue
        m = _CP_PART_RE.match(n)
        if m:
            v, part, total = (int(m.group(i)) for i in (1, 2, 3))
            slot = cp_parts.setdefault(v, {}).setdefault(
                total, [None] * total
            )
            slot[part - 1] = n
    checkpoints: dict[int, list[str]] = {}
    for v, by_total in cp_parts.items():
        for _total, parts in sorted(by_total.items()):
            if all(p is not None for p in parts):
                checkpoints[v] = [p for p in parts if p is not None]
                break
    return log_dir, commits, checkpoints


def delta_snapshot(
    path: str, version: int | None = None, fs=None
) -> DeltaSnapshot:
    """Replay the Delta log to ``version`` (default: latest) and return
    the resolved :class:`DeltaSnapshot`.  Loud refusals:

    - no ``_delta_log`` → :class:`DeltaProtocolError` (not a Delta table)
    - requested version above latest, or below what the surviving log
      suffix can reconstruct (cleaned log) → :class:`DeltaProtocolError`
    - unsupported protocol/reader features, column mapping, deletion
      vectors on live files, non-parquet format →
      :class:`DeltaUnsupportedError`
    """
    fs = fs or _fs_for(path)
    log_dir, commits, checkpoints = _discover_log(fs, path)
    if not commits and not checkpoints:
        raise DeltaProtocolError(
            f"{path} is not a Delta table (no _delta_log commits)"
        )
    latest = max(set(commits) | set(checkpoints))
    target = latest if version is None else int(version)
    if target > latest:
        raise DeltaProtocolError(
            f"version {target} does not exist (latest is {latest})"
        )
    base_cp = max((v for v in checkpoints if v <= target), default=None)
    start = 0 if base_cp is None else base_cp + 1
    needed = [v for v in range(start, target + 1)]
    missing = [v for v in needed if v not in commits]
    if missing:
        raise DeltaProtocolError(
            f"cannot reconstruct version {target}: commits {missing} are "
            "gone (log cleaned) and no usable checkpoint covers them"
        )

    actions: list[dict] = []
    if base_cp is not None:
        actions.extend(
            _read_checkpoint_actions(fs, log_dir, checkpoints[base_cp])
        )
    for v in needed:
        data = fs.read_bytes(os.path.join(log_dir, commits[v]))
        if data is None:
            raise DeltaProtocolError(f"commit {commits[v]} vanished mid-read")
        for line in data.decode("utf-8").splitlines():
            line = line.strip()
            if line:
                actions.append(json.loads(line))

    protocol: dict = {"minReaderVersion": 1, "minWriterVersion": 1}
    metadata: dict | None = None
    live: dict[str, dict] = {}
    for action in actions:
        if "protocol" in action:
            protocol = action["protocol"]
        elif "metaData" in action:
            metadata = action["metaData"]
        elif "add" in action:
            add = action["add"]
            p = urllib.parse.unquote(add["path"])
            if add.get("deletionVector") is not None:
                raise DeltaUnsupportedError(
                    "deletion vectors present on a live file "
                    f"({p}): this reader would return deleted rows — "
                    "refusing (unsupported table feature: deletionVectors)"
                )
            live[p] = add.get("partitionValues") or {}
        elif "remove" in action:
            live.pop(urllib.parse.unquote(action["remove"]["path"]), None)

    mrv = int(protocol.get("minReaderVersion", 1))
    if mrv > _MAX_MIN_READER_VERSION:
        raise DeltaUnsupportedError(
            f"minReaderVersion={mrv} exceeds what this reader implements "
            f"(max {_MAX_MIN_READER_VERSION})"
        )
    if mrv >= 3:
        feats = set(protocol.get("readerFeatures") or [])
        unsupported = feats - _SUPPORTED_READER_FEATURES
        if unsupported:
            raise DeltaUnsupportedError(
                "unsupported reader features: "
                + ", ".join(sorted(unsupported))
            )
    if metadata is None:
        raise DeltaProtocolError(
            f"no metaData action in the reconstructed log of {path}"
        )
    fmt = (metadata.get("format") or {}).get("provider", "parquet")
    if fmt != "parquet":
        raise DeltaUnsupportedError(f"non-parquet data format: {fmt}")
    cm_mode = (metadata.get("configuration") or {}).get(
        "delta.columnMapping.mode", "none"
    )
    if cm_mode not in (None, "", "none"):
        raise DeltaUnsupportedError(
            f"column mapping mode {cm_mode!r}: physical column names "
            "differ from logical ones — reading without the mapping "
            "would bind wrong columns"
        )

    schema = StructType.fromJson(json.loads(metadata["schemaString"]))
    pcols = list(metadata.get("partitionColumns") or [])
    return DeltaSnapshot(
        path=path,
        version=target,
        schema=schema,
        partition_columns=pcols,
        files=live,
        metadata=metadata,
        protocol=protocol,
    )


def read_delta(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    fs=None,
    partition_values: dict | None = None,
) -> DataFrame:
    """Read a Delta table as a DataFrame at ``version`` (default latest).

    One ``spark.read.schema(data_schema).parquet(...)`` per distinct
    partition tuple, partition columns attached as typed literals FROM
    THE LOG (the spec's authority; path layout is writer convention) and
    cast per the spec's partition-value serialization (ISO dates,
    ``yyyy-MM-dd HH:mm:ss[.ffffff]`` timestamps, plain-string numerics,
    JSON null for NULL).  Unpartitioned tables are exactly one scan.
    An empty live set returns an empty DataFrame with the table schema.

    ``partition_values`` prunes DRIVER-SIDE, before any scan is
    planned: ``{col: value-or-list-or-None}`` keeps only live files
    whose log-recorded partition value (spec string serialization)
    matches — on a date-partitioned 100 TB table, a one-day read plans
    one scan group instead of thousands.  Values compare as the log's
    strings (pass ``"2024-01-01"``, not a date object; ``None`` matches
    the null partition); unknown columns raise rather than silently
    scanning everything.
    """
    snap = delta_snapshot(path, version=version, fs=fs)
    schema = snap.schema
    pcols = snap.partition_columns
    ptypes = {f.name: f.dataType for f in schema.fields}
    data_schema = StructType(
        [f for f in schema.fields if f.name not in pcols]
    )
    want: dict[str, set] = {}
    for c, v in (partition_values or {}).items():
        if c not in pcols:
            raise ValueError(
                f"partition_values key {c!r} is not a partition column "
                f"of {path} (partitioned by {pcols})"
            )
        vals = v if isinstance(v, (list, tuple, set)) else [v]
        want[c] = {None if x is None else str(x) for x in vals}
    groups: dict[tuple, list[str]] = {}
    for fpath, pv in snap.absolute_files():
        if any(pv.get(c) not in allowed for c, allowed in want.items()):
            continue
        key = tuple(pv.get(c) for c in pcols)
        groups.setdefault(key, []).append(fpath)
    if not groups:
        return local.frame(spark, [], schema)
    parts: list[DataFrame] = []
    for key in sorted(
        groups, key=lambda k: tuple("" if v is None else str(v) for v in k)
    ):
        df = spark.read.schema(data_schema).parquet(*groups[key])
        for c, raw in zip(pcols, key):
            lit = F.lit(raw).cast(ptypes[c])
            df = df.withColumn(c, lit)
        parts.append(df.select(*[f.name for f in schema.fields]))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def convert_delta_to_manifest(
    spark: SparkSession,
    delta_path: str,
    root: str,
    stats_col: str | list[str] | None = None,
) -> int:
    """Adopt a Delta table's LIVE file set as a manifest table — the
    cutover path onto this engine's commit protocol, zero data movement.

    The shape of :func:`door2door_etl_spark.io.manifest.convert_to_manifest`
    (hard-link files, footer stats, ONE atomic claim) with the crucial
    difference that the file set comes from LOG REPLAY, not a directory
    walk: a compacted/deleted-from Delta table's directory still holds
    DEAD files that a naive walk would adopt — resurrecting deleted rows.

    Partitioned tables adopt only when every live file already sits
    under the Hive-style ``col=value/`` relpath matching the log's
    partitionColumns (the layout delta-spark writes): the manifest
    protocol derives partition values from the path, so a value the log
    carries but the path doesn't would be silently lost — refused
    loudly instead.  Absolute-path (shallow clone) files are refused for
    the same reason (nothing local to link).  Local filesystems only,
    like the parquet-dir adoption it mirrors.
    """
    from door2door_etl_spark.io.manifest import ManifestTable, _adopt_files

    if _is_object_uri(delta_path) or _is_object_uri(root):
        raise NotImplementedError(
            "convert_delta_to_manifest adopts via hard links and is "
            "local-only; object-store tables copy through append_manifest"
        )
    snap = delta_snapshot(delta_path)
    if not snap.files:
        raise DeltaProtocolError(
            f"{delta_path} has no live files to adopt at v{snap.version}"
        )
    table = ManifestTable(root)
    if table.current_version() is not None:
        raise ValueError(f"{root} already has a committed manifest")
    pcols = snap.partition_columns
    pairs: list[tuple[str, str]] = []  # (abs src, rel dest)
    for rel in sorted(snap.files):
        if "://" in rel or rel.startswith("/"):
            raise DeltaUnsupportedError(
                f"absolute-path (shallow clone) file {rel}: nothing "
                "local to link — materialize the clone first"
            )
        segs = [
            s.split("=", 1)[0] for s in rel.split("/")[:-1] if "=" in s
        ]
        if segs != pcols:
            raise DeltaUnsupportedError(
                f"live file {rel!r} is not laid out as "
                f"{'/'.join(c + '=<v>' for c in pcols) or '<flat>'} — the "
                "manifest protocol derives partition values from paths, "
                "so adopting would drop the log's partition values"
            )
        pairs.append((os.path.join(delta_path, rel), rel.replace("/", os.sep)))
    return _adopt_files(table, pairs, snap.schema, pcols, stats_col, "convert-delta")


# --------------------------------------------------------------------------
# Fixture-grade single-writer commit helpers.
#
# The read path above is the product; these helpers exist so tests and
# catalog rows can BUILD real Delta logs without a delta-spark dependency.
# The commit rule is still the protocol's real one — putting
# _delta_log/<%020d>.json if-absent IS Delta's optimistic commit claim
# (LocalFsOps.put_if_absent / S3 conditional PUT) — but there is no
# conflict re-validation loop, so concurrent writers will simply lose the
# claim and error: single-writer fixtures only.
# --------------------------------------------------------------------------


class DeltaFixtureWriter:
    """Minimal single-writer Delta log author (fixtures/tests/demos).

    ``commit_add(df)`` writes one parquet file per partition tuple via
    pyarrow and commits the adds; ``commit_remove(paths)`` commits
    removes; ``checkpoint()`` writes a classic single-file parquet
    checkpoint (+``_last_checkpoint``) at the current version.
    """

    def __init__(
        self,
        path: str,
        schema: StructType,
        partition_cols: list[str] | None = None,
        configuration: dict | None = None,
        reader_features: list[str] | None = None,
    ):
        self.path = path
        self.schema = schema
        self.pcols = list(partition_cols or [])
        self.fs = LocalFsOps()
        self.log_dir = os.path.join(path, "_delta_log")
        self._next = 0
        self.configuration = dict(configuration or {})
        self.reader_features = list(reader_features or [])

    def _commit(self, actions: list[dict]) -> int:
        os.makedirs(self.log_dir, exist_ok=True)
        payload = "\n".join(json.dumps(a) for a in actions).encode()
        v = self._next
        name = os.path.join(self.log_dir, f"{v:020d}.json")
        if not self.fs.put_if_absent(name, payload):
            raise ValueError(f"commit {v} already exists (lost claim)")
        self._next += 1
        return v

    def _meta_actions(self) -> list[dict]:
        proto: dict = {"minReaderVersion": 1, "minWriterVersion": 2}
        if self.reader_features:
            proto = {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": self.reader_features,
                "writerFeatures": [],
            }
        return [
            {"protocol": proto},
            {
                "metaData": {
                    "id": str(uuid.uuid4()),
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": json.dumps(self.schema.jsonValue()),
                    "partitionColumns": self.pcols,
                    "configuration": self.configuration,
                    "createdTime": 0,
                }
            },
        ]

    def commit_add(self, pdf, hive_layout: bool = True) -> tuple[int, list[str]]:
        """Write ``pdf`` (a pandas DataFrame with ALL table columns) as
        one parquet file per partition tuple and commit the adds.
        ``hive_layout=False`` writes flat files (partition values then
        live ONLY in the log — exercises log-authoritative reads, and is
        the layout :func:`convert_delta_to_manifest` must refuse)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        actions = self._meta_actions() if self._next == 0 else []
        data_cols = [
            f.name for f in self.schema.fields if f.name not in self.pcols
        ]
        groups = (
            pdf.groupby(self.pcols, dropna=False, sort=True)
            if self.pcols
            else [((), pdf)]
        )
        rels: list[str] = []
        for key, grp in groups:
            if self.pcols and not isinstance(key, tuple):
                key = (key,)
            pv = {}
            for c, v in zip(self.pcols, key):
                try:
                    import math

                    isnan = isinstance(v, float) and math.isnan(v)
                except Exception:  # pragma: no cover
                    isnan = False
                pv[c] = None if v is None or isnan else str(v)
            fname = f"part-{uuid.uuid4().hex}.parquet"
            if self.pcols and hive_layout:
                segs = "/".join(
                    f"{c}={urllib.parse.quote(pv[c], safe='')}"
                    if pv[c] is not None
                    else f"{c}=__HIVE_DEFAULT_PARTITION__"
                    for c in self.pcols
                )
                rel = f"{segs}/{fname}"
            else:
                rel = fname
            full = os.path.join(self.path, rel)
            os.makedirs(os.path.dirname(full), exist_ok=True)
            pq.write_table(
                pa.Table.from_pandas(
                    grp[data_cols], preserve_index=False
                ),
                full,
            )
            actions.append(
                {
                    "add": {
                        "path": urllib.parse.quote(rel, safe="/"),
                        "partitionValues": pv,
                        "size": os.path.getsize(full),
                        "modificationTime": int(time.time() * 1000),
                        "dataChange": True,
                    }
                }
            )
            rels.append(rel)
        return self._commit(actions), rels

    def commit_remove(self, rels: list[str]) -> int:
        return self._commit(
            [
                {
                    "remove": {
                        "path": urllib.parse.quote(r, safe="/"),
                        "deletionTimestamp": int(time.time() * 1000),
                        "dataChange": True,
                    }
                }
                for r in rels
            ]
        )

    def checkpoint(self) -> int:
        """Classic single-file checkpoint of the CURRENT state (latest
        committed version) + the `_last_checkpoint` pointer."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        v = self._next - 1
        if v < 0:
            raise ValueError("nothing committed yet")
        snap = delta_snapshot(self.path, version=v, fs=self.fs)
        pv_t = pa.map_(pa.string(), pa.string())
        cp_schema = pa.schema(
            [
                (
                    "protocol",
                    pa.struct(
                        [
                            ("minReaderVersion", pa.int32()),
                            ("minWriterVersion", pa.int32()),
                            ("readerFeatures", pa.list_(pa.string())),
                            ("writerFeatures", pa.list_(pa.string())),
                        ]
                    ),
                ),
                (
                    "metaData",
                    pa.struct(
                        [
                            ("id", pa.string()),
                            (
                                "format",
                                pa.struct([("provider", pa.string())]),
                            ),
                            ("schemaString", pa.string()),
                            ("partitionColumns", pa.list_(pa.string())),
                            ("configuration", pv_t),
                        ]
                    ),
                ),
                (
                    "add",
                    pa.struct(
                        [
                            ("path", pa.string()),
                            ("partitionValues", pv_t),
                            ("size", pa.int64()),
                            ("modificationTime", pa.int64()),
                            ("dataChange", pa.bool_()),
                        ]
                    ),
                ),
                (
                    "remove",
                    pa.struct(
                        [
                            ("path", pa.string()),
                            ("deletionTimestamp", pa.int64()),
                        ]
                    ),
                ),
            ]
        )
        rows: list[dict] = [
            {
                "protocol": {
                    "minReaderVersion": int(
                        snap.protocol.get("minReaderVersion", 1)
                    ),
                    "minWriterVersion": int(
                        snap.protocol.get("minWriterVersion", 2)
                    ),
                    "readerFeatures": snap.protocol.get("readerFeatures"),
                    "writerFeatures": snap.protocol.get("writerFeatures"),
                },
                "metaData": None,
                "add": None,
                "remove": None,
            },
            {
                "protocol": None,
                "metaData": {
                    "id": snap.metadata.get("id", ""),
                    "format": {"provider": "parquet"},
                    "schemaString": snap.metadata["schemaString"],
                    "partitionColumns": snap.partition_columns,
                    "configuration": list(
                        (snap.metadata.get("configuration") or {}).items()
                    ),
                },
                "add": None,
                "remove": None,
            },
        ]
        for rel, pv in sorted(snap.files.items()):
            full = os.path.join(self.path, rel)
            rows.append(
                {
                    "protocol": None,
                    "metaData": None,
                    "add": {
                        "path": urllib.parse.quote(rel, safe="/"),
                        "partitionValues": list(pv.items()),
                        "size": os.path.getsize(full)
                        if os.path.exists(full)
                        else 0,
                        "modificationTime": 0,
                        "dataChange": False,
                    },
                    "remove": None,
                }
            )
        table = pa.Table.from_pylist(rows, schema=cp_schema)
        cp_name = os.path.join(self.log_dir, f"{v:020d}.checkpoint.parquet")
        pq.write_table(table, cp_name)
        self.fs.put_bytes(
            os.path.join(self.log_dir, "_last_checkpoint"),
            json.dumps({"version": v, "size": len(rows)}).encode(),
        )
        return v
