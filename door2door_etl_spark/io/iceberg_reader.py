"""Read-only Apache Iceberg interop — the second open table format a
real deployment asks about (after Delta, :mod:`.delta_reader`), built
from the PUBLIC Iceberg table spec (iceberg.apache.org/spec/).

Same pure-metadata posture as the Delta reader: table metadata JSON +
manifest-list Avro + manifest Avro are parsed on the driver (all
metadata-scale — the Avro codec is :mod:`.avro_codec`, written from the
Avro spec because no Avro library ships here), the resolved live data
file set is handed to ``spark.read.parquet`` with the table schema
declared up front, and every data byte flows through Spark's vectorized
parquet scan.  Unlike Hive/Delta layouts, Iceberg data files physically
CONTAIN their identity-partition columns, so no literal attachment is
needed — the live file list plus the converted schema is the whole
read.

Implemented:

- ``metadata/vN.metadata.json`` discovery (``version-hint.text`` hint,
  listing authoritative) for format versions 1 and 2.
- Snapshot resolution: ``current-snapshot-id`` by default,
  ``snapshot_id=`` for time travel across the retained history.
- Manifest-list → manifest → ``manifest_entry`` replay: live files are
  entries with status EXISTING(0) or ADDED(1); DELETED(2) entries drop
  out.  v1 snapshots carrying an inline ``manifests`` array (no
  manifest list file) are handled.
- Iceberg→Spark schema conversion for all primitive types plus
  struct/list/map.

REFUSED loudly (:class:`IcebergUnsupportedError` — reading wrong rows
from a lakehouse table is strictly worse than refusing):

- format-version > 2;
- delete manifests / delete files (v2 row-level deletes: merge-on-read
  needs positional/equality delete application);
- non-parquet data files;
- column renames across retained schemas: Iceberg resolves columns by
  FIELD ID, Spark's parquet reader by name — if any two schemas in the
  metadata disagree on a field id's name, name-based reading would
  silently bind old files' columns wrongly.

Reference analog: none (the reference reads JSONL off S3 into
postgres); this completes the open-format interop story next to
``read_delta``.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DataType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from door2door_etl_spark.io.avro_codec import avro_read
from door2door_etl_spark.io.manifest import LocalFsOps, _is_object_uri
from door2door_etl_spark.operators import local

_META_RE = re.compile(r"^v(\d+)\.metadata\.json$")
_STATUS_DELETED = 2


class IcebergUnsupportedError(NotImplementedError):
    """A table feature this reader cannot honor exactly."""


class IcebergProtocolError(ValueError):
    """A structurally broken or unreadable Iceberg table."""


def _fs_for(path: str):
    if _is_object_uri(path):
        from door2door_etl_spark.io.manifest import S3FsOps

        return S3FsOps()
    return LocalFsOps()


# --------------------------------------------------------------------------
# schema conversion
# --------------------------------------------------------------------------

_PRIMITIVES: dict[str, DataType] = {
    "boolean": BooleanType(),
    "int": IntegerType(),
    "long": LongType(),
    "float": FloatType(),
    "double": DoubleType(),
    "date": DateType(),
    "string": StringType(),
    "uuid": StringType(),
    "binary": BinaryType(),
    "timestamp": TimestampNTZType(),
    "timestamptz": TimestampType(),
}

_DECIMAL_RE = re.compile(r"^decimal\(\s*(\d+)\s*,\s*(\d+)\s*\)$")
_FIXED_RE = re.compile(r"^fixed\[\d+\]$")


def iceberg_type_to_spark(t) -> DataType:
    if isinstance(t, str):
        if t in _PRIMITIVES:
            return _PRIMITIVES[t]
        m = _DECIMAL_RE.match(t)
        if m:
            return DecimalType(int(m.group(1)), int(m.group(2)))
        if _FIXED_RE.match(t):
            return BinaryType()
        raise IcebergUnsupportedError(f"iceberg type {t!r} not mapped")
    tt = t.get("type")
    if tt == "struct":
        return StructType(
            [
                StructField(
                    f["name"],
                    iceberg_type_to_spark(f["type"]),
                    not f.get("required", False),
                )
                for f in t["fields"]
            ]
        )
    if tt == "list":
        return ArrayType(
            iceberg_type_to_spark(t["element"]),
            not t.get("element-required", False),
        )
    if tt == "map":
        return MapType(
            iceberg_type_to_spark(t["key"]),
            iceberg_type_to_spark(t["value"]),
            not t.get("value-required", False),
        )
    raise IcebergUnsupportedError(f"iceberg type {tt!r} not mapped")


def _schema_to_struct(schema_json: dict) -> StructType:
    return iceberg_type_to_spark({"type": "struct", "fields": schema_json["fields"]})


# --------------------------------------------------------------------------
# snapshot resolution
# --------------------------------------------------------------------------


@dataclass
class IcebergSnapshot:
    """Resolved state of an Iceberg table at one snapshot."""

    path: str
    snapshot_id: int | None
    schema: StructType
    data_files: list[str] = field(default_factory=list)  # absolute
    metadata: dict = field(default_factory=dict)


def _latest_metadata(fs, path: str) -> tuple[str, dict]:
    meta_dir = os.path.join(path, "metadata")
    names = fs.list_names(meta_dir)
    versions = {}
    for n in names:
        m = _META_RE.match(n)
        if m:
            versions[int(m.group(1))] = n
    if not versions:
        # version-hint may name a non-vN layout; try it verbatim
        hint = fs.read_bytes(os.path.join(meta_dir, "version-hint.text"))
        if hint:
            cand = hint.decode("utf-8").strip()
            for probe in (f"v{cand}.metadata.json", cand):
                data = fs.read_bytes(os.path.join(meta_dir, probe))
                if data is not None:
                    return probe, json.loads(data.decode("utf-8"))
        raise IcebergProtocolError(
            f"{path} is not an Iceberg table (no metadata/vN.metadata.json)"
        )
    name = versions[max(versions)]
    data = fs.read_bytes(os.path.join(meta_dir, name))
    if data is None:
        raise IcebergProtocolError(f"metadata file vanished: {name}")
    return name, json.loads(data.decode("utf-8"))


def _resolve_path(table_path: str, p: str) -> str:
    """Manifest/data paths in Iceberg metadata are absolute per spec
    and carry the WRITER's table location prefix; re-anchor the
    ``metadata/…`` / ``data/…`` suffix onto the local table path so a
    relocated (copied, downloaded) table still reads.  Paths already
    under ``table_path``, and relative paths, pass through."""
    if p.startswith(table_path.rstrip("/") + "/"):
        return p
    probe = re.sub(r"^[a-z0-9+.-]+://[^/]*", "", p)  # drop scheme+authority
    for marker in ("/metadata/", "/data/"):
        if marker in probe:
            return os.path.join(
                table_path, probe[probe.index(marker) + 1 :]
            )
    if os.path.isabs(probe):
        return probe
    return os.path.join(table_path, probe)


def _schema_for_snapshot(meta: dict, snap: dict | None) -> dict:
    schemas = meta.get("schemas")
    if schemas:
        sid = (snap or {}).get("schema-id", meta.get("current-schema-id"))
        for s in schemas:
            if s.get("schema-id") == sid:
                return s
        return schemas[-1]
    if "schema" in meta:  # v1 single-schema layout
        return meta["schema"]
    raise IcebergProtocolError("no schema in table metadata")


def _check_no_renames(meta: dict) -> None:
    """Field-id → name must agree across every retained schema: Spark
    binds parquet columns BY NAME, Iceberg by field id, so a rename
    would silently misbind columns of files written under the old
    schema."""
    seen: dict[int, str] = {}
    for s in meta.get("schemas") or ([meta["schema"]] if "schema" in meta else []):
        def walk(fields):
            for f in fields:
                fid, name = f.get("id"), f.get("name")
                if fid is not None:
                    if fid in seen and seen[fid] != name:
                        raise IcebergUnsupportedError(
                            f"column rename detected (field id {fid}: "
                            f"{seen[fid]!r} vs {name!r}) — name-based "
                            "parquet reading would misbind old files; "
                            "this reader refuses (needs field-id "
                            "resolution)"
                        )
                    seen[fid] = name
                t = f.get("type")
                if isinstance(t, dict) and t.get("type") == "struct":
                    walk(t["fields"])

        walk(s.get("fields", []))


def iceberg_snapshot(
    path: str, snapshot_id: int | None = None, fs=None
) -> IcebergSnapshot:
    """Resolve an Iceberg table's live data file set at a snapshot
    (default: current).  Refusals documented in the module docstring."""
    fs = fs or _fs_for(path)
    _, meta = _latest_metadata(fs, path)
    fv = int(meta.get("format-version", 1))
    if fv > 2:
        raise IcebergUnsupportedError(
            f"format-version {fv} exceeds what this reader implements (max 2)"
        )
    _check_no_renames(meta)

    snapshots = {s["snapshot-id"]: s for s in meta.get("snapshots", [])}
    target = (
        snapshot_id
        if snapshot_id is not None
        else meta.get("current-snapshot-id")
    )
    if target in (None, -1):
        schema = _schema_to_struct(_schema_for_snapshot(meta, None))
        return IcebergSnapshot(path, None, schema, [], meta)
    if target not in snapshots:
        raise IcebergProtocolError(
            f"snapshot {target} not in retained history "
            f"({sorted(snapshots) or 'empty'})"
        )
    snap = snapshots[target]
    schema = _schema_to_struct(_schema_for_snapshot(meta, snap))

    manifests: list[dict] = []
    if "manifest-list" in snap:
        ml_path = _resolve_path(path, snap["manifest-list"])
        data = fs.read_bytes(ml_path)
        if data is None:
            raise IcebergProtocolError(f"manifest list vanished: {ml_path}")
        _, manifests = avro_read(data)
    elif "manifests" in snap:  # v1 inline manifest array
        manifests = [{"manifest_path": p, "content": 0} for p in snap["manifests"]]
    else:
        raise IcebergProtocolError(
            f"snapshot {target} has neither manifest-list nor manifests"
        )

    files: list[str] = []
    for m in manifests:
        if int(m.get("content") or 0) != 0:
            raise IcebergUnsupportedError(
                "delete manifest present (v2 row-level deletes): reading "
                "without applying position/equality deletes would return "
                "deleted rows — refusing"
            )
        mp = _resolve_path(path, m["manifest_path"])
        data = fs.read_bytes(mp)
        if data is None:
            raise IcebergProtocolError(f"manifest vanished: {mp}")
        _, entries = avro_read(data)
        for e in entries:
            if int(e.get("status") or 0) == _STATUS_DELETED:
                continue
            df_ = e["data_file"]
            content = int(df_.get("content") or 0)
            if content != 0:
                raise IcebergUnsupportedError(
                    f"delete file {df_.get('file_path')!r} (content="
                    f"{content}) in a data manifest — refusing"
                )
            fmt = str(df_.get("file_format", "PARQUET")).upper()
            if fmt != "PARQUET":
                raise IcebergUnsupportedError(
                    f"non-parquet data file format {fmt!r}"
                )
            files.append(_resolve_path(path, df_["file_path"]))
    return IcebergSnapshot(path, int(target), schema, sorted(files), meta)


# --------------------------------------------------------------------------
# Fixture-grade single-writer commit helpers (the DeltaFixtureWriter
# posture): the READ path above is the product; these exist so tests and
# catalog rows can author REAL Iceberg metadata (v2 JSON + manifest-list
# Avro + manifest Avro + parquet data files) without an iceberg library.
# Single-writer only — no commit conflict loop.
# --------------------------------------------------------------------------

_MANIFEST_FILE_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "partition_spec_id", "type": "int"},
        {"name": "content", "type": "int"},
        {"name": "added_snapshot_id", "type": "long"},
    ],
}

_MANIFEST_ENTRY_SCHEMA = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int"},
        {"name": "snapshot_id", "type": ["null", "long"]},
        {
            "name": "data_file",
            "type": {
                "type": "record",
                "name": "r2",
                "fields": [
                    {"name": "content", "type": "int"},
                    {"name": "file_path", "type": "string"},
                    {"name": "file_format", "type": "string"},
                    {
                        "name": "partition",
                        "type": {"type": "record", "name": "r102", "fields": []},
                    },
                    {"name": "record_count", "type": "long"},
                    {"name": "file_size_in_bytes", "type": "long"},
                ],
            },
        },
    ],
}

_ICEBERG_TO_ARROW = {
    "boolean": "bool",
    "int": "int32",
    "long": "int64",
    "float": "float32",
    "double": "float64",
    "string": "string",
    "date": "date32[day]",
    "binary": "binary",
}


class IcebergFixtureWriter:
    """Minimal single-writer Iceberg v2 table author (fixtures/tests/
    demos): ``commit_add(pdf)`` writes one parquet data file and a new
    snapshot whose single rewritten manifest carries the full live set
    (ADDED for the new file, EXISTING for carried files);
    ``commit_remove(paths)`` commits a snapshot whose manifest marks
    them DELETED.  Every snapshot gets its own manifest list and
    ``vN.metadata.json`` (+ ``version-hint.text``), so the whole
    retained history time-travels."""

    def __init__(self, path: str, schema_fields: list[dict]):
        self.path = path
        self.fields = list(schema_fields)
        self.meta_dir = os.path.join(path, "metadata")
        self.data_dir = os.path.join(path, "data")
        os.makedirs(self.meta_dir, exist_ok=True)
        os.makedirs(self.data_dir, exist_ok=True)
        self._version = 0
        self._snapshots: list[dict] = []
        self._live: dict[str, int] = {}  # rel data path -> record_count
        self._carried: set[str] = set()

    def _arrow_schema(self):
        import pyarrow as pa

        cols = []
        for f in self.fields:
            t = f["type"]
            if t not in _ICEBERG_TO_ARROW:
                raise IcebergUnsupportedError(
                    f"fixture writer: iceberg type {t!r} not mapped to arrow"
                )
            cols.append(pa.field(f["name"], _ICEBERG_TO_ARROW[t]))
        return pa.schema(cols)

    def _commit(self, snapshot_id: int, removed: set[str]) -> int:
        from door2door_etl_spark.io.avro_codec import avro_write

        entries = []
        for rel, n in sorted(self._live.items()):
            entries.append(
                {
                    "status": 2 if rel in removed else (0 if rel in self._carried else 1),
                    "snapshot_id": snapshot_id,
                    "data_file": {
                        "content": 0,
                        "file_path": os.path.join(self.path, rel),
                        "file_format": "PARQUET",
                        "partition": {},
                        "record_count": n,
                        "file_size_in_bytes": os.path.getsize(
                            os.path.join(self.path, rel)
                        ),
                    },
                }
            )
        for rel in removed:
            self._live.pop(rel, None)
        mrel = f"metadata/{snapshot_id}-m0.avro"
        mpath = os.path.join(self.path, mrel)
        with open(mpath, "wb") as f:
            f.write(avro_write(_MANIFEST_ENTRY_SCHEMA, entries, codec="deflate"))
        ml_rel = f"metadata/snap-{snapshot_id}-1-fixture.avro"
        ml_path = os.path.join(self.path, ml_rel)
        with open(ml_path, "wb") as f:
            f.write(
                avro_write(
                    _MANIFEST_FILE_SCHEMA,
                    [
                        {
                            "manifest_path": mpath,
                            "manifest_length": os.path.getsize(mpath),
                            "partition_spec_id": 0,
                            "content": 0,
                            "added_snapshot_id": snapshot_id,
                        }
                    ],
                )
            )
        self._snapshots.append(
            {
                "snapshot-id": snapshot_id,
                "schema-id": 0,
                "timestamp-ms": snapshot_id,
                "manifest-list": ml_path,
                "summary": {"operation": "append"},
            }
        )
        self._version += 1
        meta = {
            "format-version": 2,
            "table-uuid": "00000000-0000-0000-0000-000000000000",
            "location": self.path,
            "last-sequence-number": snapshot_id,
            "last-updated-ms": snapshot_id,
            "last-column-id": max(f["id"] for f in self.fields),
            "schemas": [
                {"type": "struct", "schema-id": 0, "fields": self.fields}
            ],
            "current-schema-id": 0,
            "partition-specs": [{"spec-id": 0, "fields": []}],
            "default-spec-id": 0,
            "last-partition-id": 999,
            "properties": {},
            "current-snapshot-id": snapshot_id,
            "snapshots": self._snapshots,
            "sort-orders": [{"order-id": 0, "fields": []}],
            "default-sort-order-id": 0,
        }
        with open(
            os.path.join(self.meta_dir, f"v{self._version}.metadata.json"), "w"
        ) as f:
            json.dump(meta, f)
        with open(os.path.join(self.meta_dir, "version-hint.text"), "w") as f:
            f.write(str(self._version))
        return snapshot_id

    def commit_add(self, pdf) -> tuple[int, str]:
        """Write ``pdf`` as one parquet data file, commit a snapshot;
        returns (snapshot_id, data file relpath)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        sid = len(self._snapshots) + 1
        rel = f"data/f-{sid:05d}.parquet"
        pq.write_table(
            pa.Table.from_pandas(
                pdf[[f["name"] for f in self.fields]],
                schema=self._arrow_schema(),
                preserve_index=False,
            ),
            os.path.join(self.path, rel),
        )
        self._carried = set(self._live)
        self._live[rel] = len(pdf)
        return self._commit(sid, removed=set()), rel

    def commit_remove(self, rels: list[str]) -> int:
        sid = len(self._snapshots) + 1
        self._carried = set(self._live) - set(rels)
        return self._commit(sid, removed=set(rels))


def read_iceberg(
    spark: SparkSession,
    path: str,
    snapshot_id: int | None = None,
    fs=None,
) -> DataFrame:
    """Read an Iceberg table as a DataFrame at ``snapshot_id`` (default
    current snapshot).  One ``spark.read.schema(...).parquet(*files)``
    over the resolved live set — identity-partition columns are stored
    in the data files per spec, so the scan needs no literal
    attachment; an empty table returns an empty frame with the
    converted schema."""
    snap = iceberg_snapshot(path, snapshot_id=snapshot_id, fs=fs)
    if not snap.data_files:
        return local.frame(spark, [], snap.schema)
    df = spark.read.schema(snap.schema).parquet(*snap.data_files)
    return df.select(*[f.name for f in snap.schema.fields])
