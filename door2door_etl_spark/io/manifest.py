"""The table-commit protocol: per-version file manifests, one layout.

Every table this engine commits (warehouse MERGE targets, views, indexes,
catalog fixtures) goes through this module.  Reference analog: the
warehouse's server-side transaction (src/helper/postgres.py:157-189);
public design analog: the Delta log / Iceberg metadata commit.

Layout (one function, :func:`_state_dir`, decides it).  For a table
rooted at ``warehouse/vehicle_location`` on a local filesystem::

    warehouse/
      vehicle_location -> .vehicle_location__versions/data-v00000002
      .vehicle_location__versions/
        _current                      # cache: "data-v00000002"
        _manifests/
          data-v00000001.json         # the COMMIT RECORDS (immutable)
          data-v00000002.json
        _files/                       # every data file, immutable
          part=2022-11-24T10/part-00000-<uuidA>.snappy.parquet
        data-v00000001/               # the VIEW of v1 (hard links)
        data-v00000002/               # the VIEW of v2 (hard links)

On an object store (``s3://``/``s3a://`` roots) the state lives AT the
root (``<root>/_current``, ``<root>/_manifests/``, ``<root>/_files/``)
and there is no view: no symlinks or hard links exist there.

* **Data files are immutable and uniquely named.** Spark part-file names
  embed a per-write UUID, so concurrent writers never collide.  Files are
  written to a hidden staging dir, then moved into ``_files/`` preserving
  their ``col=value`` partition relpath — visible to nobody until a
  manifest references them.
* **The manifest create IS the claim.** A writer computes its commit
  against manifest ``N`` and claims EXACTLY ``N+1`` by creating
  ``data-v{N+1}.json`` with put-if-absent semantics
  (:meth:`FsOps.put_if_absent`): local backend ``link(2)`` of a fully
  written temp file; an S3 backend a conditional ``PUT If-None-Match: *``
  — the primitive Delta uses for its log record.  A loser recomputes
  against the winner's snapshot and retries; a claimed number can never
  skip over, and thereby orphan, a competitor's commit.
* **File reuse, not copies.** A manifest lists the relative data paths of
  its snapshot; an hourly merge into an hour-partitioned table writes one
  partition's files and RE-LISTS the rest — metadata only.
* **Readers resolve via the manifest.** :meth:`ManifestTable.read` scans
  exactly the listed files (``basePath`` recovers the partition columns)
  and masks deletion-vector rows.
* **The view is a derived publication.** After the claim,
  :meth:`ManifestTable.publish` refreshes ``_current`` and, on a local
  filesystem, builds ``data-v{N}/`` — hard links to the manifest's files
  — then atomically repoints the root symlink at it (relative target,
  forward-only).  So a manifest-unaware reader,
  ``spark.read.parquet(root)``, reads exactly the committed snapshot, and
  a reader that resolved the old target keeps its snapshot until vacuum
  trims that version.  The view is rebuilt from the manifest at will: a
  crash between the claim and the view is rolled forward by the next
  engine access (:meth:`ManifestTable.sync_view`).
* **Deletion vectors never leak through the view.** A file a DV masks is
  not hard-linked: the view holds a masked copy of just that file
  (pyarrow, driver-side, O(DV'd files)), so a plain parquet read returns
  exactly the rows :meth:`ManifestTable.read` returns.
* **Durability.** The local backend fsyncs every data file before the
  claim and the manifest before publication, so a claimed snapshot
  survives a power cut; an object store gives read-after-write
  consistency on PUT by contract.
* **Merge-on-read deletes (deletion vectors).** ``delete_manifest`` /
  ``delete_where_manifest`` with ``mode="dv"`` commit a parquet sidecar
  of (file relpath, row_index) pairs instead of rewriting data files —
  the Delta/Iceberg-v2 DV shape.  Merges and rewrite deletes carry DVs
  forward for files they re-list; :func:`purge_deletes_manifest` (or any
  full rewrite/compaction) materializes them physically.
* **Retention.** Every commit trims manifests beyond ``vacuum_keep`` that
  are older than the time floor, removes their views, and deletes the
  data files ONLY those trimmed manifests listed (computed from the
  manifests — no ``_files`` walk).  The O(table) orphan sweep of crashed
  writers' debris is the explicit ``vacuum(gc_files=True)``.
* **Legacy adoption.** A pre-protocol plain parquet directory at the root
  is adopted in place by :func:`convert_to_manifest` (hard links, one
  claim) on the first write; a crash mid-adoption either leaves the plain
  directory or is rolled forward.
"""

from __future__ import annotations

import decimal
import json
import os
import re
import shutil
import time
import uuid
from dataclasses import dataclass, field
from typing import Protocol, runtime_checkable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from door2door_etl_spark.operators import local


class ConcurrentWriteError(RuntimeError):
    """Raised when a writer loses the version-claim race ``max_retries``
    times in a row — the caller is contending with a faster writer and
    should back off rather than spin."""


_MANIFEST_RE = re.compile(r"^data-v(\d{8})\.json$")

# Column names the DV-masking read path injects and drops; user tables
# must not carry them (enforced at the _claim commit gate).
_DV_RESERVED = {"__dv_file", "__dv_row"}


def _dv_file_key():
    """Column: a data file's identity for deletion vectors — its relpath
    under the layout's ``_files/`` dir, cut from the scan's
    ``_metadata.file_path`` URI at the LAST ``/_files/`` marker (in case
    a user's root path itself contains one).  ``substring_index(…, -1)``
    rather than a regexp: same cut, a fraction of the per-row cost on a
    column evaluated for every scanned row of a DV'd table."""
    from pyspark.sql import functions as F

    return F.substring_index(
        F.col("_metadata.file_path"), "/_files/", -1
    )


def _manifest_name(n: int) -> str:
    return f"data-v{n:08d}.json"


def _parse_manifest_version(name: str) -> int | None:
    m = _MANIFEST_RE.match(name)
    return int(m.group(1)) if m else None


_VIEW_RE = re.compile(r"^data-v(\d{8})$")


def _view_name(n: int) -> str:
    return f"data-v{n:08d}"


def _state_dir(root: str) -> str:
    """THE layout decision: where a table's ``_current``, ``_manifests/``,
    ``_files/``, staging dirs and views live.  An object store keeps them
    at the root (it cannot hold a view).  A local table keeps them in the
    hidden sibling ``.{name}__versions/``, so that the root itself can be
    the view's symlink."""
    if _is_object_uri(root):
        return root
    head, name = os.path.split(root.rstrip("/"))
    return os.path.join(head, f".{name}__versions")


def _legacy_aside(root: str) -> str:
    """Where a plain directory root is parked while its adoption swaps
    the view symlink in."""
    head, name = os.path.split(root.rstrip("/"))
    return os.path.join(head, f".{name}__legacy")


def _fsync_path(path: str) -> None:
    try:
        fd = os.open(path, os.O_RDONLY)
    except OSError:
        return
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def _write_masked_copy(src: str, dst: str, rows: set[int]) -> None:
    """Copy parquet file ``src`` to ``dst`` without the row positions in
    ``rows`` (a deletion vector applied physically, for the view).  The
    Spark schema metadata and the INT96 timestamp encoding are kept, so
    the copy reads back with the same Spark types as its siblings."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(src)
    int96 = any(
        pf.schema.column(i).physical_type == "INT96"
        for i in range(len(pf.schema))
    )
    tbl = pf.read()
    keep = pa.array([i not in rows for i in range(tbl.num_rows)], pa.bool_())
    pq.write_table(
        tbl.filter(keep), dst, use_deprecated_int96_timestamps=int96
    )
    _fsync_path(dst)


_JSON_SCALARS = (int, float, str, bool)


def _norm_stats_cols(sc) -> list[str]:
    """Normalize the ``stats_col`` API surface (None | str | list) to a
    column list — callers keep passing a single column; multi-predicate
    tables pass a list (Delta keeps min/max for the first N columns; here
    the list is declared)."""
    if sc is None:
        return []
    if isinstance(sc, str):
        return [sc]
    return list(sc)


def _man_stats_cols(man: dict) -> list[str]:
    """The committed manifest's stats column list — reads the current
    ``stats_cols`` key and the pre-round-6 single ``stats_col`` alike."""
    sc = man.get("stats_cols")
    if sc:
        return list(sc)
    c = man.get("stats_col")
    return [c] if c else []


# ---------------------------------------------------------------------------
# File-level Bloom filters — point-lookup skipping where min/max can't.
#
# A stats column declared as ``bloom:<name>`` stores, per data file, a
# small Bloom bitmap of the column's distinct values instead of a min/max
# range.  Ranges prune range scans but are useless for point lookups on
# high-cardinality unsorted keys (every file's [min, max] spans the whole
# key space); the bloom answers "does this file possibly contain key K"
# with zero false negatives, so an equality predicate in ``read_where``
# skips every file whose bitmap lacks any of the key's k bit positions.
# Delta/Iceberg ship the same idea as optional bloom index files; here
# the bitmap lives inline in the manifest entry (m=4096 bits -> 512 bytes
# -> 1 KiB hex per file per column, bounded metadata).
#
# The hash family is the repo's portable 52-bit sha256 hash with the
# ``bloom{j}`` salts — bit-identical to operators/sketches.bloom_bit_table
# (same value-to-string casting for int/string keys), so an external
# engine, or the sketch family itself, can reproduce the positions.
# Declared bloom columns should be string/integer key columns (floats
# have no canonical cross-engine string form).
# ---------------------------------------------------------------------------

_BLOOM_PREFIX = "bloom:"
_BLOOM_M = 4096
_BLOOM_K = 3
_BLOOM_SALT = "bloom"  # operators/sketches bloom family salt


def _split_stats_decl(cols: list[str]) -> tuple[list[str], list[str]]:
    """Split a normalized stats declaration into (range cols, bloom cols)."""
    plain = [c for c in cols if not c.startswith(_BLOOM_PREFIX)]
    bloom = [c[len(_BLOOM_PREFIX):] for c in cols if c.startswith(_BLOOM_PREFIX)]
    return plain, bloom


def _bloom_canon(value):
    """Canonical form hashed into bloom bitmaps, applied identically at
    BUILD (Arrow-decoded column values) and PROBE (query literals).
    Without this, ``str()`` rendering drift between the two sides —
    ``read_where(col, 5.0, 5.0)`` on an int column ('5.0' vs '5'),
    integral Decimals — misses every bit position and silently prunes
    files that DO contain the key (wrong missing rows, not just a missed
    skip).  bool is left alone (its str is stable and bool is an int
    subclass — check it first)."""
    if isinstance(value, bool):
        return value
    if isinstance(value, float) and value.is_integer():
        return int(value)
    if isinstance(value, decimal.Decimal):
        return (
            int(value)
            if value == value.to_integral_value()
            else float(value)
        )
    return value


#: Kinds a bloom probe may run against (their _bloom_canon rendering is
#: stable) — anything else (datetime, bytes, None, ...) skips the bloom
#: test and keeps the file: skipping is conservative, a rendering
#: mismatch is not.
_BLOOM_PROBE_TYPES = (int, float, str, decimal.Decimal)


def _bloom_hash52(value, salt: str) -> int:
    """Driver-Python twin of operators/sketches._h52: sha256 of
    (str(canon(value)) + salt), first 13 hex digits as an integer."""
    import hashlib

    return int(
        hashlib.sha256(
            (str(_bloom_canon(value)) + salt).encode("utf-8")
        ).hexdigest()[:13],
        16,
    )


def _bloom_positions(value, m: int = _BLOOM_M, k: int = _BLOOM_K) -> list[int]:
    return [_bloom_hash52(value, f"{_BLOOM_SALT}{j}") % m for j in range(k)]


def _bloom_maybe_contains(b: dict, value) -> bool:
    """Membership test against one per-file bloom entry — False means the
    file DEFINITELY does not contain ``value``.  Probes only canon-built
    bitmaps (``"canon": 1``) with literal kinds whose canonical rendering
    is stable; everything else answers True (keep the file — min/max
    pruning still applies, correctness never depends on the bloom)."""
    if int(b.get("canon", 0)) != 1:
        return True  # legacy pre-canon bitmap: unsafe to probe
    if not isinstance(value, _BLOOM_PROBE_TYPES) or isinstance(value, bool):
        return True
    raw = bytes.fromhex(b["hex"])
    m, k = int(b.get("m", _BLOOM_M)), int(b.get("k", _BLOOM_K))
    for j in range(k):
        pos = _bloom_hash52(value, f"{_BLOOM_SALT}{j}") % m
        if not (raw[pos >> 3] >> (pos & 7)) & 1:
            return False
    return True


def _col_range(entry: dict, col: str, man_cols: list[str]):
    """``(min, max)`` for ``col`` from one per-file stats entry, or None
    when no safe bound exists.  Handles both entry formats: the current
    ``{"rows", "cols": {col: {min, max}}}`` and the legacy single-column
    ``{"rows", "min", "max"}`` (valid only for the manifest's legacy
    stats column)."""
    cols = entry.get("cols")
    if cols is not None:
        r = cols.get(col)
        if r and r.get("min") is not None:
            return r["min"], r["max"]
        return None
    if man_cols and col == man_cols[0] and entry.get("min") is not None:
        return entry["min"], entry["max"]
    return None


def _file_stats(path: str, stats_cols=None) -> dict:
    """Row count + per-column min/max for the declared stats columns from
    the parquet FOOTER (no data read): row-group statistics aggregated
    across groups.  A column with non-JSON stat types (timestamps,
    decimals, binary) or any opaque row group is omitted — pruning then
    conservatively keeps the file for predicates on it.

    ``bloom:<name>`` declarations additionally store a per-file Bloom
    bitmap of the column's distinct values (see the bloom block above) —
    the one stats flavor that DOES read data (one column of the file
    being committed, the standard price of skipping metadata beyond the
    footer; the file is still local/staged at this point)."""
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(path)
    meta = pf.metadata
    out: dict = {"rows": meta.num_rows, "cols": {}}
    by_path = {meta.schema.column(i).path: i for i in range(len(meta.schema))}
    range_cols, bloom_cols = _split_stats_decl(_norm_stats_cols(stats_cols))
    present_blooms = [c for c in bloom_cols if c in by_path]
    if present_blooms:
        import pyarrow.compute as pc

        tbl = pf.read(columns=present_blooms)
        blooms: dict = {}
        for c in present_blooms:
            bits = bytearray(_BLOOM_M >> 3)
            # distinct first, Arrow-side: the Python hash loop runs once
            # per distinct key, not once per row
            for v in pc.unique(tbl.column(c).combine_chunks()).to_pylist():
                if v is None:
                    continue
                for pos in _bloom_positions(v):
                    bits[pos >> 3] |= 1 << (pos & 7)
            blooms[c] = {
                "m": _BLOOM_M, "k": _BLOOM_K, "canon": 1, "hex": bits.hex()
            }
        out["blooms"] = blooms
    for col in range_cols:
        col_idx = by_path.get(col)
        if col_idx is None:
            continue
        mins, maxs = [], []
        safe = True
        for rg in range(meta.num_row_groups):
            st = meta.row_group(rg).column(col_idx).statistics
            if st is None or not st.has_min_max:
                safe = False  # any opaque group -> no safe pruning bound
                break
            mins.append(st.min)
            maxs.append(st.max)
        if safe and mins and all(
            isinstance(v, _JSON_SCALARS) for v in mins + maxs
        ):
            out["cols"][col] = {"min": min(mins), "max": max(maxs)}
    return out


def _is_object_uri(path: str) -> bool:
    return "://" in path


def _staged_files(fs, staging: str) -> list[tuple[str, str]]:
    """``(staged path, relpath under staging)`` for every data file a
    Spark write left in ``staging`` — local dir walk or object-store
    prefix listing; Spark bookkeeping files (``_SUCCESS``, hidden) are
    skipped either way."""
    out: list[tuple[str, str]] = []
    if _is_object_uri(staging):
        prefix = staging.rstrip("/") + "/"
        for pth in fs.walk_files(staging):
            if pth.rsplit("/", 1)[-1].startswith(("_", ".")):
                continue
            out.append((pth, pth[len(prefix):]))
    else:
        for dirpath, _dirs, files in os.walk(staging):
            for fn in files:
                if fn.startswith(("_", ".")):
                    continue
                local = os.path.join(dirpath, fn)
                out.append((local, os.path.relpath(local, staging)))
    return out


def _discard_staging(fs, staging: str) -> None:
    if _is_object_uri(staging):
        for pth in fs.walk_files(staging):
            fs.delete_file(pth)
    else:
        shutil.rmtree(staging, ignore_errors=True)


def _reject_dv_reserved(source: DataFrame) -> None:
    """Entry gate for writer-facing commits: rejecting __dv_file/__dv_row
    BEFORE staging means a deterministic failure costs nothing and
    strands no placed files (the _claim check stays as the backstop for
    every other path)."""
    reserved = _DV_RESERVED & set(source.columns)
    if reserved:
        raise ValueError(
            "column names reserved for deletion-vector bookkeeping: "
            + ", ".join(sorted(reserved))
        )


def _file_stats_src(fs, path: str, stats_cols=None) -> dict:
    """:func:`_file_stats` for a staged file wherever it lives: local
    files read the footer in place; object-store files are fetched via
    ``fs.read_bytes`` (whole object — staged files are one batch's
    output; a ranged footer GET is the refinement when batches grow)."""
    if _is_object_uri(path):
        import io as _io

        data = fs.read_bytes(path)
        return _file_stats(_io.BytesIO(data), stats_cols)
    return _file_stats(path, stats_cols)


@runtime_checkable
class FsOps(Protocol):
    """The minimal storage contract the manifest protocol needs — the
    whole point of the abstraction is that every method has a native
    object-store implementation:

    ============== ======================= ============================
    method         local backend           S3 backend (sketch)
    ============== ======================= ============================
    put_if_absent  open(O_CREAT|O_EXCL)    PUT with If-None-Match: *
    put_bytes      temp + os.replace       PUT (last-writer-wins cache)
    read_bytes     open/read               GET
    move_file      os.rename + fsync       written in place by the S3A
                                           magic committer, or one
                                           server-side COPY + DELETE
    list_names     os.listdir              LIST with prefix+delimiter
    walk_files     os.walk                 LIST with prefix
    delete_file    os.unlink               DELETE
    file_age_s     stat().st_mtime         LastModified header
    dir_age_s      getmtime if isdir       None (prefixes aren't
                   else None               entities — nothing to age)
    remove_dir     shutil.rmtree           no-op (no directory objects)
    ============== ======================= ============================

    ``dir_age_s``/``remove_dir`` exist because POSIX directories are
    real entities that can be empty-but-live (a writer mkdir'd its
    staging skeleton before any task flushed a file) while object-store
    "directories" are pure name prefixes: an empty prefix holds no
    bytes, so there is nothing to sweep and nothing to age-gate —
    which is exactly what ``dir_age_s() -> None`` tells the caller.
    """

    def put_if_absent(self, path: str, data: bytes) -> bool: ...
    def put_bytes(self, path: str, data: bytes) -> None: ...
    def read_bytes(self, path: str) -> bytes | None: ...
    def move_file(self, src: str, dst: str) -> None: ...
    def list_names(self, dir_path: str) -> list[str]: ...
    def walk_files(self, dir_path: str) -> list[str]: ...
    def delete_file(self, path: str) -> None: ...
    def file_age_s(self, path: str) -> float: ...
    def file_size(self, path: str) -> int: ...
    def dir_age_s(self, path: str) -> float | None: ...
    def remove_dir(self, path: str) -> None: ...


class LocalFsOps:
    """POSIX backend — doubles as the executable spec for an S3 backend.

    Durability discipline: ``put_if_absent`` (the claim) and ``move_file``
    (data-file placement) fsync both the file and its directory, so by
    the time a manifest exists its data files are on disk: a claimed
    snapshot is always complete, on disk and not just in the page cache.
    """

    def put_if_absent(self, path: str, data: bytes) -> bool:
        """Claim ``path`` ATOMICALLY with its full content: write to a
        hidden temp name, fsync, then publish via ``os.link`` (EEXIST =
        lost race, preserving the claim semantics).  A bare
        O_EXCL-create-then-write would leave the manifest briefly
        visible empty/partial — the CDC tailer's text source reading
        ``_manifests/`` could capture a truncated line and fail
        ``json.loads`` mid-stream.  Hidden (dot-prefixed) temp names are
        invisible to Spark file sources and to ``_parse_manifest_version``."""
        import uuid as _uuid

        d = os.path.dirname(path)
        os.makedirs(d, exist_ok=True)
        tmp = os.path.join(
            d, f".tmp-{_uuid.uuid4().hex[:12]}-{os.path.basename(path)}"
        )
        fd = os.open(tmp, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        try:
            os.write(fd, data)
            os.fsync(fd)
        finally:
            os.close(fd)
        try:
            os.link(tmp, path)
            claimed = True
        except FileExistsError:
            claimed = False
        finally:
            os.unlink(tmp)
        if claimed:
            _fsync_path(d)
        return claimed

    def put_bytes(self, path: str, data: bytes) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.tmp.{uuid.uuid4().hex}"
        with open(tmp, "wb") as f:
            f.write(data)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)
        _fsync_path(os.path.dirname(path))

    def read_bytes(self, path: str) -> bytes | None:
        try:
            with open(path, "rb") as f:
                return f.read()
        except OSError:
            return None

    def move_file(self, src: str, dst: str) -> None:
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        fd = os.open(src, os.O_RDONLY)
        try:
            os.fsync(fd)
        finally:
            os.close(fd)
        os.rename(src, dst)
        _fsync_path(os.path.dirname(dst))

    def list_names(self, dir_path: str) -> list[str]:
        try:
            return sorted(os.listdir(dir_path))
        except OSError:
            return []

    def walk_files(self, dir_path: str) -> list[str]:
        out: list[str] = []
        for dirpath, _dirs, files in os.walk(dir_path):
            out.extend(os.path.join(dirpath, f) for f in files)
        return sorted(out)

    def delete_file(self, path: str) -> None:
        try:
            os.unlink(path)
        except OSError:
            pass

    def file_age_s(self, path: str) -> float:
        try:
            return time.time() - os.stat(path).st_mtime
        except OSError:
            return float("inf")

    def file_size(self, path: str) -> int:
        try:
            return os.path.getsize(path)
        except OSError:
            return 0

    def dir_age_s(self, path: str) -> float | None:
        """Age of the DIRECTORY entry itself, or None when ``path`` is
        not a directory (vanished, or a stray file).  POSIX skeleton
        dirs with no files yet are live entities — a writer may have
        mkdir'd them while its tasks haven't flushed their first file —
        so their own mtime is the honest age gate; never treat
        emptiness as infinitely old."""
        if not os.path.isdir(path):
            return None
        try:
            return time.time() - os.path.getmtime(path)
        except OSError:
            return None

    def remove_dir(self, path: str) -> None:
        """Remove an emptied staging directory tree (POSIX skeleton
        cleanup after its files were swept)."""
        import shutil

        shutil.rmtree(path, ignore_errors=True)


@dataclass(frozen=True)
class ManifestTable:
    """A parquet table committed through per-version file manifests (see
    the module doc for the layout)."""

    root: str
    fs: FsOps = field(default_factory=LocalFsOps)

    def __post_init__(self):
        # One normalization point for object-store tables: s3:// becomes
        # s3a:// here, so every derived path (manifests, files, staging)
        # is readable by BOTH Spark (hadoop s3a connector) and S3FsOps
        # (which parses s3 and s3a alike).  Local paths lose a trailing
        # slash, so the root names the view symlink itself.
        from .objectstore import normalize_object_uri

        root = normalize_object_uri(self.root)
        object.__setattr__(
            self, "root", root if _is_object_uri(root) else root.rstrip("/")
        )

    @property
    def state_dir(self) -> str:
        return _state_dir(self.root)

    @property
    def manifests_dir(self) -> str:
        return os.path.join(self.state_dir, "_manifests")

    @property
    def files_dir(self) -> str:
        return os.path.join(self.state_dir, "_files")

    @property
    def has_view(self) -> bool:
        return not _is_object_uri(self.root)

    def _staging_path(self, kind: str = "staging") -> str:
        return os.path.join(self.state_dir, f".{kind}.{uuid.uuid4().hex}")

    def versions(self) -> list[int]:
        """Every retained (claimed, not yet trimmed) version, ascending."""
        return sorted(
            v
            for v in map(_parse_manifest_version, self.fs.list_names(self.manifests_dir))
            if v is not None
        )

    def current_version(self) -> int | None:
        versions = self.versions()
        if versions:
            return versions[-1]
        cached = self.fs.read_bytes(os.path.join(self.state_dir, "_current"))
        if cached:
            return _parse_manifest_version(cached.decode().strip() + ".json")
        return None

    def manifest(self, version: int) -> dict:
        raw = self.fs.read_bytes(
            os.path.join(self.manifests_dir, _manifest_name(version))
        )
        if raw is None:
            have = [_manifest_name(v) for v in self.versions()]
            raise ValueError(
                f"version {version} of {self.root} is not retained "
                f"(have: {have}); raise vacuum keep=/min_age_hours= to "
                "retain more history"
            )
        return json.loads(raw)

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """Snapshot (or time-travel) read: scan exactly the files the
        manifest lists, minus any rows masked by the snapshot's deletion
        vectors (merge-on-read DELETE — see :func:`delete_manifest`
        ``mode="dv"``).  An empty snapshot reproduces its schema from the
        manifest record instead of failing schema inference."""
        if version is None:
            version = self.sync_view()
            if version is None:
                raise ValueError(f"{self.root} has no committed manifest")
        man = self.manifest(version)
        if not man["files"]:
            schema = StructType.fromJson(json.loads(man["schema"]))
            return local.frame(spark, [], schema)
        paths = [os.path.join(self.files_dir, rel) for rel in man["files"]]
        df = spark.read.option("basePath", self.files_dir).parquet(*paths)
        return self._apply_dvs(spark, df, man)

    def _apply_dvs(self, spark: SparkSession, df: DataFrame, man: dict) -> DataFrame:
        """Mask deletion-vector rows out of a scan of this manifest's
        files.  DV rows address (file relpath under ``_files/``,
        row_index); the relpath is cut from the scan's own
        ``_metadata.file_path`` URI at the layout's fixed ``/_files/``
        marker — NOT the bare part-file name (one Spark task writes the
        SAME part name into every partition dir it touches) and NOT a
        filesystem-normalized path (writer and reader both derive the key
        from the identical URI representation, so symlinked ancestors and
        percent-encoding cancel out).  The DV set is small (it only ever
        holds deletes not yet compacted away), so the anti-join
        broadcasts; data files are never rewritten or shuffled."""
        from pyspark.sql import functions as F

        dv_rels = man.get("dvs") or []
        if not dv_rels:
            return df
        # No dedup: anti-join semantics are insensitive to duplicate build
        # rows (and DV pairs are disjoint by construction — each delete
        # dooms only still-live rows), so the DV side stays shuffle-free.
        dv = spark.read.parquet(
            *[os.path.join(self.files_dir, r) for r in dv_rels]
        ).select("__dv_file", "__dv_row")
        with_meta = df.withColumns(
            {
                "__dv_file": _dv_file_key(),
                "__dv_row": F.col("_metadata.row_index"),
            }
        )
        return with_meta.join(
            F.broadcast(dv), ["__dv_file", "__dv_row"], "left_anti"
        ).drop("__dv_file", "__dv_row")

    def publish(self, version: int) -> None:
        """Publish claimed ``version`` to the derived caches, each
        FORWARD-ONLY: the ``_current`` pointer, then (local tables) the
        view.  Neither is authoritative — the manifest listing is — so a
        crash anywhere in here loses nothing (:meth:`sync_view`)."""
        cached = self.fs.read_bytes(os.path.join(self.state_dir, "_current"))
        prev = (
            _parse_manifest_version(cached.decode().strip() + ".json")
            if cached
            else None
        )
        if prev is None or prev < version:
            self.fs.put_bytes(
                os.path.join(self.state_dir, "_current"),
                _view_name(version).encode(),
            )
        if self.has_view:
            self._publish_view(version)

    def _view_version(self) -> int | None:
        """The version the root symlink points at (None: no symlink)."""
        try:
            m = _VIEW_RE.match(os.path.basename(os.readlink(self.root)))
        except OSError:
            return None
        return int(m.group(1)) if m else None

    def _dv_rows(self, man: dict) -> dict[str, set[int]]:
        """``{file relpath: masked row positions}`` of a snapshot's
        deletion vectors, for the files it still lists."""
        from urllib.parse import unquote

        import pyarrow.parquet as pq

        listed = set(man["files"])
        out: dict[str, set[int]] = {}
        for rel in man.get("dvs") or []:
            tbl = pq.read_table(os.path.join(self.files_dir, rel))
            for f, r in zip(
                tbl.column("__dv_file").to_pylist(),
                tbl.column("__dv_row").to_pylist(),
            ):
                f = unquote(f)
                if f in listed:
                    out.setdefault(f, set()).add(r)
        return out

    def _build_view(self, version: int) -> str:
        """Materialize the view dir of ``version``: a hard link per listed
        file, or a masked copy where a deletion vector applies.  Built
        under a hidden name and renamed into place, so a view dir that
        exists is complete."""
        view = os.path.join(self.state_dir, _view_name(version))
        if os.path.isdir(view):
            return view
        man = self.manifest(version)
        masked = self._dv_rows(man)
        tmp = self._staging_path("view")
        os.makedirs(tmp)
        try:
            for rel in man["files"]:
                src = os.path.join(self.files_dir, rel)
                dst = os.path.join(tmp, rel)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                if rel in masked:
                    _write_masked_copy(src, dst, masked[rel])
                else:
                    os.link(src, dst)
            for dirpath, _dirs, _files in os.walk(tmp):
                _fsync_path(dirpath)
            os.rename(tmp, view)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
            if not os.path.isdir(view):
                raise  # a real failure, not a concurrent publisher's win
        return view

    def _publish_view(self, version: int) -> None:
        """Point the root symlink at the view of ``version`` (relative
        target, atomic ``rename``), unless it already points at a newer
        one.  A plain directory at the root is a legacy table whose
        adoption claimed this snapshot: it is parked aside and replaced."""
        shown = self._view_version()
        if shown is not None and shown >= version:
            return
        self._build_view(version)
        head, name = os.path.split(self.root)
        aside = _legacy_aside(self.root)
        if os.path.isdir(self.root) and not os.path.islink(self.root):
            shutil.rmtree(aside, ignore_errors=True)
            os.rename(self.root, aside)
        tmp = os.path.join(head, f".{name}__lnk.{uuid.uuid4().hex}")
        os.symlink(
            os.path.join(os.path.basename(self.state_dir), _view_name(version)),
            tmp,
        )
        os.replace(tmp, self.root)
        _fsync_path(head or ".")
        shutil.rmtree(aside, ignore_errors=True)
        # Self-heal the check-then-act window: a higher claim that landed
        # meanwhile may just have been shadowed by our older target.
        latest = self.current_version()
        if latest is not None and latest > version:
            self._publish_view(latest)

    def sync_view(self) -> int | None:
        """Roll the derived caches forward to the committed version and
        return it.  Repairs every crash window after a claim (no view, a
        stale or missing symlink, a half-swapped legacy root) and, with
        nothing claimed, restores a legacy root a crashed adoption had
        parked aside.  Best-effort: a read-only caller still resolves."""
        cur = self.current_version()
        if not self.has_view:
            return cur
        try:
            if cur is None:
                aside = _legacy_aside(self.root)
                if not os.path.lexists(self.root) and os.path.isdir(aside):
                    os.rename(aside, self.root)
            elif self._view_version() != cur:
                self.publish(cur)
        except OSError:
            pass
        return cur

    def _prepare(self, spark: SparkSession, stats_col=None) -> None:
        """Writer entry: adopt a pre-protocol plain parquet directory at
        the root (once, through :func:`convert_to_manifest`) and roll a
        lagging view forward."""
        if not self.has_view:
            return
        if (
            os.path.isdir(self.root)
            and not os.path.islink(self.root)
            and self.current_version() is None
            and _staged_files(self.fs, self.root)
        ):
            try:
                convert_to_manifest(spark, self.root, self.root, stats_col)
            except ConcurrentWriteError:
                pass  # a concurrent writer adopted the same files first
        self.sync_view()

    def _stage_and_place(
        self,
        df_writer,
        staging: str,
        stats_col: str | None = None,
        stats_out: dict | None = None,
    ) -> list[str]:
        """Run a Spark write into ``staging`` and move every data file
        into ``_files/`` preserving its partition relpath; returns the
        new relative paths.  Files are invisible to readers until a
        manifest lists them, so placement needs no atomicity.

        With ``stats_col``/``stats_out``, per-file statistics (row count
        + min/max of the column, read off the parquet footer BEFORE the
        move, while the file is still local) are collected into
        ``stats_out[rel]`` — the Delta-style data-skipping metadata the
        manifest commits alongside the file list."""
        df_writer.parquet(staging)
        new_rels: list[str] = []
        for src, rel in _staged_files(self.fs, staging):
            if stats_out is not None:
                stats_out[rel] = _file_stats_src(self.fs, src, stats_col)
            self.fs.move_file(src, os.path.join(self.files_dir, rel))
            new_rels.append(rel)
        _discard_staging(self.fs, staging)
        return sorted(new_rels)

    def _claim(
        self,
        version: int,
        rels: list[str],
        schema: StructType,
        partition_cols: list[str],
        stats: dict | None = None,
        stats_col: str | None = None,
        dvs: list[str] | None = None,
        op: str = "write",
        op_tag: str | None = None,
    ) -> bool:
        # Reject DV-reserved names at the commit gate: every commit path
        # funnels through here, and a table that carried __dv_file /
        # __dv_row would have those columns silently overwritten and
        # dropped by the DV-masking anti-join on every read.
        reserved = _DV_RESERVED & set(schema.fieldNames())
        if reserved:
            raise ValueError(
                "column names reserved for deletion-vector bookkeeping: "
                + ", ".join(sorted(reserved))
            )
        record = {
            "version": version,
            "files": sorted(rels),
            "partition_cols": partition_cols,
            "schema": json.dumps(schema.jsonValue()),
            "op": op,
            "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        if stats is not None:
            record["stats"] = stats
            record["stats_cols"] = _norm_stats_cols(stats_col)
        if dvs:
            record["dvs"] = sorted(dvs)
        if op_tag is not None:
            # Caller-supplied idempotency marker (e.g. a transaction's
            # "txn_id/op_idx") — lets a recovery pass ask "did this exact
            # operation already commit?" without re-running it.
            record["op_tag"] = op_tag
        payload = json.dumps(record, indent=None, sort_keys=True).encode()
        return self.fs.put_if_absent(
            os.path.join(self.manifests_dir, _manifest_name(version)), payload
        )

    def _commit(
        self, version: int, rels: list[str], schema: StructType,
        partition_cols: list[str], keep: int, min_age_hours: float, **claim,
    ) -> bool:
        """Claim ``version``; on a win, publish it and run the per-commit
        vacuum (manifests, views and the files only trimmed versions
        listed — the O(table) orphan sweep stays a maintenance call)."""
        if not self._claim(version, rels, schema, partition_cols, **claim):
            return False
        self.publish(version)
        self.vacuum(keep=keep, min_age_hours=min_age_hours, gc_files=False)
        return True

    def find_op_tag(self, tag: str) -> int | None:
        """Version whose manifest carries ``op_tag == tag``, or None —
        the idempotency probe transaction recovery uses to tell "this
        op committed but its done-marker was lost to a crash" from
        "this op never ran".  Scans RETAINED manifests only (pure
        metadata, O(retained versions)): recovery must therefore run
        before ``vacuum_keep`` further commits land on the table, which
        holds for any recovery triggered at writer startup."""
        for v in self.versions():
            if self.manifest(v).get("op_tag") == tag:
                return v
        return None

    def describe_history(self) -> list[dict]:
        """DESCRIBE HISTORY: one dict per RETAINED version, newest first —
        ``{version, op, committed_at, n_files, n_dvs, rows}`` (``rows``
        None when any file lacks stats or DVs mask the count).  Pure
        metadata: reads the manifest records only, no Spark session, no
        data I/O.  Versions trimmed by vacuum are absent — history depth
        IS the retention window, stated honestly."""
        out = []
        for v in reversed(self.versions()):
            man = self.manifest(v)
            out.append(
                {
                    "version": v,
                    "op": man.get("op", "write"),
                    "committed_at": man.get("committed_at"),
                    "n_files": len(man["files"]),
                    "n_dvs": len(man.get("dvs", [])),
                    "rows": self.count_rows(v),
                }
            )
        return out

    def schema_evolution(self) -> list[dict]:
        """Per-retained-version schema DIFF, oldest first:
        ``{version, op, added: {col: type}, removed: {col: type},
        retyped: {col: (old, new)}}`` — the audit that answers "when did
        this column appear / change type" without replaying data.  Pure
        metadata (each manifest embeds its committed schema); the first
        retained version reports its full schema as ``added``."""
        out: list[dict] = []
        prev: dict[str, str] = {}
        for v in self.versions():
            man = self.manifest(v)
            schema = StructType.fromJson(json.loads(man["schema"]))
            cur = {f.name: f.dataType.simpleString() for f in schema.fields}
            out.append(
                {
                    "version": v,
                    "op": man.get("op", "write"),
                    "added": {c: t for c, t in cur.items() if c not in prev},
                    "removed": {
                        c: t for c, t in prev.items() if c not in cur
                    },
                    "retyped": {
                        c: (prev[c], cur[c])
                        for c in cur
                        if c in prev and prev[c] != cur[c]
                    },
                }
            )
            prev = cur
        return out

    # -- manifest statistics (data skipping) --------------------------------

    def count_rows(self, version: int | None = None) -> int | None:
        """Exact total rows WITHOUT scanning data — the metadata-only
        ``SELECT count(*)`` every lakehouse format serves: per-file
        footer counts from the manifest stats, minus the deletion-vector
        pairs aimed at still-listed files (DV pairs are disjoint and
        only ever doom live rows, so the subtraction is exact).  Cost is
        O(manifest) plus O(DV sidecar bytes) — DVs are KB-scale by
        design — and needs no Spark session.  Returns None when any
        listed file lacks stats (older manifests; fall back to a scan)."""
        if version is None:
            version = self.current_version()
            if version is None:
                return 0
        man = self.manifest(version)
        stats = man.get("stats", {})
        if any(rel not in stats for rel in man["files"]):
            return None
        total = sum(stats[rel]["rows"] for rel in man["files"])
        dv_rels = man.get("dvs") or []
        if dv_rels:
            import io as _io

            import pyarrow.parquet as pq

            live = set(man["files"])
            for rel in dv_rels:
                p = os.path.join(self.files_dir, rel)
                if _is_object_uri(p):
                    tbl = pq.read_table(
                        _io.BytesIO(self.fs.read_bytes(p)),
                        columns=["__dv_file"],
                    )
                else:
                    tbl = pq.read_table(p, columns=["__dv_file"])
                total -= sum(
                    1 for f in tbl.column("__dv_file").to_pylist() if f in live
                )
        return total

    def prune_files(
        self, lo, hi, version: int | None = None, col: str | None = None
    ) -> list[str]:
        """The rel paths whose ``col`` [min, max] range overlaps [lo, hi]
        — file skipping off manifest metadata, the scan-cost half of what
        makes lakehouse formats fast (a point lookup on a
        sorted/clustered key touches ~one file instead of the table).
        ``col`` defaults to the table's first stats column.  Files
        without stats for ``col`` are conservatively kept."""
        if version is None:
            version = self.current_version()
            if version is None:
                return []
        man = self.manifest(version)
        return self._prune(man, {col or (self._stats_cols(man) or [None])[0]: (lo, hi)})

    @staticmethod
    def _stats_cols(man: dict) -> list[str]:
        # Range defaults must skip bloom declarations: "bloom:<c>" is a
        # stats flavor, not a data column a residual filter could touch.
        return _split_stats_decl(_man_stats_cols(man))[0]

    def _prune(self, man: dict, preds: dict) -> list[str]:
        """Files surviving EVERY predicate's overlap test — per-column
        intersection, each unknown range keeping the file for that
        predicate only.  An EQUALITY predicate (``lo == hi``) on a column
        with a committed ``bloom:<col>`` declaration additionally runs
        the Bloom membership test — zero false negatives, so a skipped
        file provably lacks the key."""
        stats = man.get("stats", {})
        man_cols = _man_stats_cols(man)

        def keep(rel: str) -> bool:
            s = stats.get(rel)
            if not s:
                return True  # no stats -> cannot skip safely
            for c, (lo, hi) in preds.items():
                if c is None:
                    continue
                r = _col_range(s, c, man_cols)
                if r is not None and (r[1] < lo or r[0] > hi):
                    return False
                if lo == hi and lo is not None:
                    b = (s.get("blooms") or {}).get(c)
                    if b and not _bloom_maybe_contains(b, lo):
                        return False
            return True

        return [rel for rel in man["files"] if keep(rel)]

    def read_where(
        self, spark: SparkSession, preds: dict, version: int | None = None
    ) -> DataFrame:
        """Rows satisfying EVERY ``col: (lo, hi)`` predicate, scanning
        only the files whose per-column footer ranges all overlap —
        multi-predicate data skipping (the common time + key lookup
        prunes on both), residual row filters applied on top (stats prune
        files, not rows).  Predicates on columns without stats scan
        conservatively and filter row-wise.  An equality predicate
        (``lo == hi``) on a ``bloom:<col>``-declared column also skips
        every file whose Bloom bitmap excludes the key — the point-lookup
        pruning min/max can't do on high-cardinality unsorted keys."""
        from pyspark.sql import functions as F

        if version is None:
            version = self.current_version()
            if version is None:
                raise ValueError(f"{self.root} has no committed manifest")
        man = self.manifest(version)

        def residual(df: DataFrame) -> DataFrame:
            for c, (lo, hi) in preds.items():
                df = df.filter(F.col(c).between(lo, hi))
            return df

        rels = self._prune(man, preds)
        if not rels:
            schema = StructType.fromJson(json.loads(man["schema"]))
            return residual(local.frame(spark, [], schema))
        paths = [os.path.join(self.files_dir, r) for r in rels]
        pruned = spark.read.option("basePath", self.files_dir).parquet(*paths)
        return residual(self._apply_dvs(spark, pruned, man))

    def read_keys(
        self, spark: SparkSession, col: str, values, version: int | None = None
    ) -> DataFrame:
        """Rows whose ``col`` equals ANY of ``values`` — the multi-key
        point lookup.  Each key runs the same per-file pruning as an
        equality :meth:`read_where` (range overlap + the ``bloom:<col>``
        membership test), but the SURVIVING FILE SETS ARE UNIONED and
        scanned ONCE with a residual ``isin`` filter: a per-key
        ``read_where`` loop produces one parquet scan per key over
        largely the same files (a 3-term BM25 query read the postings
        three times), while this reads each surviving file exactly once.
        Row set is identical to unioning the per-key reads (each row has
        one ``col`` value, so the per-key row sets are disjoint)."""
        from pyspark.sql import functions as F

        if version is None:
            version = self.current_version()
            if version is None:
                raise ValueError(f"{self.root} has no committed manifest")
        man = self.manifest(version)
        vals = list(dict.fromkeys(values))

        def residual(df: DataFrame) -> DataFrame:
            return df.filter(F.col(col).isin(vals))

        keep: set = set()
        for v in vals:
            keep.update(self._prune(man, {col: (v, v)}))
        rels = [r for r in man["files"] if r in keep]
        if not vals or not rels:
            schema = StructType.fromJson(json.loads(man["schema"]))
            return residual(local.frame(spark, [], schema))
        paths = [os.path.join(self.files_dir, r) for r in rels]
        pruned = spark.read.option("basePath", self.files_dir).parquet(*paths)
        return residual(self._apply_dvs(spark, pruned, man))

    def export_snapshot(
        self,
        spark: SparkSession,
        dest: str,
        version: int | None = None,
        partition_by: list[str] | None = None,
    ) -> dict:
        """Materialize a committed snapshot as PLAIN (hive-partitioned)
        parquet for engines that don't speak this manifest protocol —
        DuckDB, Trino, Hive, plain ``spark.read.parquet``:

        - deletion vectors are APPLIED — DV-masked rows do not exist in
          the export (external readers can't consult the DV sidecars);
        - schema evolution is RESOLVED to the snapshot's recorded schema
          (missing-in-older-files columns come out as typed NULLs, in
          the recorded column order);
        - no ``_manifests``/``_files`` layout, stats, or sidecar files —
          the destination is a directory any parquet reader scans.

        ``partition_by`` defaults to the snapshot's own partition
        columns.  Refuses to overwrite an existing destination (exports
        are immutable artifacts; write a new path per snapshot).
        Returns ``{"version", "rows", "dest"}``.  (A local table's
        current snapshot is also readable in place through its view,
        :func:`resolve_table_path`; the export is the relocatable copy.)"""
        from pyspark.sql import functions as F

        if version is None:
            version = self.current_version()
            if version is None:
                raise ValueError(f"{self.root} has no committed manifest")
        man = self.manifest(version)
        schema = StructType.fromJson(json.loads(man["schema"]))
        df = self.read(spark, version=version)
        have = set(df.columns)
        df = df.select(
            *[
                F.col(f.name).cast(f.dataType)
                if f.name in have
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in schema.fields
            ]
        )
        pcols = (
            list(partition_by)
            if partition_by is not None
            else list(man.get("partition_cols") or [])
        )
        writer = df.write.mode("errorifexists")
        if pcols:
            writer = writer.partitionBy(*pcols)
        writer.parquet(dest)
        n = spark.read.parquet(dest).count()
        return {"version": version, "rows": n, "dest": dest}

    def fsck(
        self,
        spark: SparkSession | None = None,
        version: int | None = None,
        deep: bool = False,
    ) -> dict:
        """Integrity audit of a committed snapshot — the lake's ``fsck``:

        **Shallow** (metadata-plane, O(listed files) HEAD-equivalent
        probes through FsOps — bounded, driver-side like every other
        manifest operation): every data file and DV sidecar the manifest
        lists must exist (``file_size > 0``; a parquet/DV file is never
        legitimately empty, and on the S3 backend a 0 answer IS the
        missing-key answer).  Also reports ORPHANS — files under
        ``_files/`` referenced by NO retained manifest version (crashed
        writers' debris; what ``vacuum(gc_files=True)`` would reclaim).

        **Deep** (``deep=True``, needs ``spark``): verifies each listed
        file's parquet FOOTER row count against the manifest's recorded
        stats — executor-side via ``mapInPandas`` over the path list
        (pyarrow reads only the footer, never row data), so a
        million-file table audits at cluster parallelism, not driver
        speed.  Catches silent truncation/replacement that existence
        checks cannot.

        Returns ``{"version", "files_listed", "files_missing", "dvs_missing",
        "orphans", "rows_mismatched", "ok"}``; ``rows_mismatched`` is
        ``[{"file", "stat_rows", "footer_rows"}...]`` (empty when shallow).
        """
        if version is None:
            version = self.current_version()
            if version is None:
                raise ValueError(f"{self.root} has no committed manifest")
        man = self.manifest(version)
        files_missing = [
            rel
            for rel in man["files"]
            if self.fs.file_size(os.path.join(self.files_dir, rel)) <= 0
        ]
        dvs_missing = [
            rel
            for rel in man.get("dvs", [])
            if self.fs.file_size(os.path.join(self.files_dir, rel)) <= 0
        ]
        referenced = {
            rel
            for v in self.versions()
            for m in (self.manifest(v),)
            for rel in [*m["files"], *m.get("dvs", [])]
        }
        orphans = sorted(
            rel
            for path in self.fs.walk_files(self.files_dir)
            for rel in (os.path.relpath(path, self.files_dir),)
            if rel not in referenced
        )
        rows_mismatched: list[dict] = []
        if deep:
            if spark is None:
                raise ValueError("deep fsck needs a SparkSession")
            stats = man.get("stats") or {}
            todo = [
                (os.path.join(self.files_dir, rel), rel, stats[rel]["rows"])
                for rel in man["files"]
                if rel not in files_missing and rel in stats
            ]
            if todo:
                def _footer_rows(batches):
                    import pandas as pd
                    import pyarrow.parquet as pq

                    for pdf in batches:
                        got = [
                            pq.ParquetFile(p).metadata.num_rows
                            for p in pdf["path"]
                        ]
                        yield pd.DataFrame(
                            {"file": pdf["rel"], "footer_rows": got}
                        )

                paths_df = local.frame(
                    spark,
                    [(p, rel) for p, rel, _ in todo],
                    "path string, rel string",
                ).repartition(min(len(todo), 64))
                footer = {
                    r["file"]: r["footer_rows"]
                    for r in paths_df.mapInPandas(
                        _footer_rows, "file string, footer_rows long"
                    ).collect()
                }
                rows_mismatched = [
                    {"file": rel, "stat_rows": want, "footer_rows": footer[rel]}
                    for _, rel, want in todo
                    if footer.get(rel) != want
                ]
        return {
            "version": version,
            "files_listed": len(man["files"]),
            "files_missing": files_missing,
            "dvs_missing": dvs_missing,
            "orphans": orphans,
            "rows_mismatched": rows_mismatched,
            "ok": not (files_missing or dvs_missing or rows_mismatched),
        }

    def _drop_files(self, rels: list[str]) -> None:
        for rel in rels:
            self.fs.delete_file(os.path.join(self.files_dir, rel))

    def vacuum(
        self,
        keep: int = 2,
        min_age_hours: float = 1.0,
        stale_staging_hours: float = 24.0,
        gc_files: bool = True,
    ) -> list[str]:
        """Retention sweep with a TIME floor: a manifest is trimmed only
        when it is BOTH older than the newest ``keep`` versions AND its
        record is older than ``min_age_hours`` — so a long-running reader
        that resolved a beyond-keep snapshot keeps its files until the
        retention window closes (Delta's retention-duration rule).

        Trimming a version removes its view and deletes the data files
        (and DV sidecars) that ONLY trimmed manifests list — computed from
        the manifests, O(retained manifests), never a ``_files`` walk — so
        every commit's auto-vacuum frees the copies the table no longer
        needs.  Files go before their manifest: a crash in between leaves
        a manifest the next sweep trims again, never an orphan.

        ``gc_files`` adds the O(table) sweep: files under ``_files`` no
        retained manifest lists (crashed writers' debris) and abandoned
        staging dirs, each only past ``stale_staging_hours`` of age (an
        in-flight writer's just-placed files are always younger) — the
        explicit maintenance half, Delta's VACUUM split.  Returns the
        trimmed manifest names and the removed file relpaths.  The view is
        rolled forward first, so the root symlink can never be left
        pointing at a view this call removes."""
        cur = self.sync_view()
        if cur is None:
            return []
        trimmed: list[int] = []
        retained: list[int] = []
        for v in self.versions():
            path = os.path.join(self.manifests_dir, _manifest_name(v))
            if v <= cur - max(1, keep) and self.fs.file_age_s(path) >= (
                min_age_hours * 3600
            ):
                trimmed.append(v)
            else:
                retained.append(v)

        def listed(man: dict) -> list[str]:
            return [*man["files"], *man.get("dvs", [])]

        referenced = {rel for v in retained for rel in listed(self.manifest(v))}
        removed: list[str] = []
        for v in trimmed:
            try:
                man = self.manifest(v)
            except ValueError:
                continue  # a concurrent vacuum trimmed it first
            if self.has_view:
                shutil.rmtree(
                    os.path.join(self.state_dir, _view_name(v)), ignore_errors=True
                )
            for rel in listed(man):
                if rel not in referenced:
                    referenced.add(rel)  # delete once
                    self.fs.delete_file(os.path.join(self.files_dir, rel))
                    removed.append(rel)
            self.fs.delete_file(os.path.join(self.manifests_dir, _manifest_name(v)))
            removed.append(_manifest_name(v))
        if gc_files:
            age_floor = stale_staging_hours * 3600
            for path in self.fs.walk_files(self.files_dir):
                rel = os.path.relpath(path, self.files_dir)
                if rel not in referenced and self.fs.file_age_s(path) >= age_floor:
                    self.fs.delete_file(path)
                    removed.append(rel)
            # Hidden staging dirs abandoned by crashed writes and views.
            for name in self.fs.list_names(self.state_dir):
                if not name.startswith((".staging.", ".view.")):
                    continue
                p = os.path.join(self.state_dir, name)
                if _is_object_uri(p):
                    # Object stores have no dirs: GC each staged object
                    # past the age floor individually.
                    for pth in self.fs.walk_files(p):
                        if self.fs.file_age_s(pth) >= age_floor:
                            self.fs.delete_file(pth)
                            removed.append(pth)
                elif os.path.isdir(p) and self.fs.file_age_s(p) >= age_floor:
                    shutil.rmtree(p, ignore_errors=True)
                    removed.append(name)
        if self.has_view:
            # Views of versions no longer retained (a crash between the
            # manifest delete of an earlier sweep and its view removal).
            keep_views = set(retained)
            for name in self.fs.list_names(self.state_dir):
                m = _VIEW_RE.match(name)
                if m and int(m.group(1)) not in keep_views and int(m.group(1)) < cur:
                    shutil.rmtree(os.path.join(self.state_dir, name), ignore_errors=True)
        return removed


def _raise_on_failed_constraints(
    source: DataFrame, constraints: list[str], seen: dict, root: str
) -> None:
    """Delta-style CHECK constraints on the batch: every expression must
    not evaluate FALSE for any row (SQL-standard CHECK semantics — NULL /
    UNKNOWN passes, as for ``CHECK`` in the reference's DDL,
    migrations/init.sql).  ``seen`` holds the per-constraint FALSE counts
    the staging write observed; only a violation pays for a sample."""
    from pyspark.sql import functions as F

    for i, expr in enumerate(constraints):
        if seen[f"check{i}"]:
            bad = (
                source.filter(F.expr(expr).eqNullSafe(F.lit(False))).limit(3).collect()
            )
            sample = "; ".join(str(r.asDict()) for r in bad)
            raise ValueError(
                f"merge into {root}: CHECK constraint {expr!r} violated by "
                f"{seen[f'check{i}']} row(s), e.g. {sample}"
            )


def merge_manifest(
    spark: SparkSession,
    root: str,
    source: DataFrame,
    key: str,
    partition_col: str | None = None,
    max_retries: int = 5,
    vacuum_keep: int = 2,
    vacuum_min_age_hours: float = 1.0,
    evolve_schema: bool = False,
    fs: FsOps | None = None,
    stats_col: str | list[str] | None = None,
    constraints: list[str] | None = None,
    op_tag: str | None = None,
) -> int:
    """MERGE-style upsert — the one MERGE of the engine.  Semantics are
    the reference warehouse upsert's (src/helper/postgres.py:167-181):
    one row per key survives within the batch, existing keys are UPDATEd
    (new row wins), new keys INSERTed, and replaying a batch is a no-op
    (idempotent).

    * **One pass over the source.** Its row count, the NULL-key check and
      the CHECK ``constraints`` ride the staging write as one
      ``Observation``; a failed check discards the staged files and
      raises before the claim, so nothing is committed.  NULL keys are
      rejected because the anti-join's equality never matches NULL: every
      replay would re-insert the row (the reference declares the key
      PRIMARY KEY NOT NULL, migrations/init.sql:29-51).
    * **Optimistic concurrency.** The merge is computed against manifest
      ``base`` and claims exactly ``base + 1``; a loser recomputes against
      the winner's snapshot, up to ``max_retries``, then raises
      :class:`ConcurrentWriteError`.
    * **Partition scope.** With ``partition_col``, only the partitions the
      batch touches (plus any a moved key leaves behind) are rewritten;
      every other partition's files are RE-LISTED in the new manifest —
      metadata only, so an hourly batch into a 100 TB hour-partitioned
      table costs one partition, not the table.
    * **Schema drift** (any change of the name → type mapping) is
      rejected unless ``evolve_schema`` (Delta's mergeSchema analog): a
      batch may then ADD columns (old rows read null) or OMIT target
      columns (its rows get null there).  A drifted merge rewrites the
      whole snapshot, so one snapshot never mixes physical schemas.

    Returns the number of (deduplicated) source rows merged.
    """
    from urllib.parse import unquote, urlparse

    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    table = ManifestTable(root, fs=fs) if fs is not None else ManifestTable(root)
    _reject_dv_reserved(source)
    source = source.dropDuplicates([key])
    constraints = list(constraints or [])
    # The batch's rows carry a marker through the merge, so its count and
    # checks are observed on the very DataFrame that is written: a metric
    # observed on the source alone would never arrive when the source
    # belongs to another session than the write (a streaming micro-batch).
    src = F.col("__merge_src")
    checks = [
        F.count_if(src).alias("rows"),
        F.count_if(src & F.col(key).isNull()).alias("null_keys"),
    ] + [
        F.count_if(src & F.expr(c).eqNullSafe(F.lit(False))).alias(f"check{i}")
        for i, c in enumerate(constraints)
    ]
    tagged = source.withColumn("__merge_src", F.lit(True))
    scol = stats_col or key  # data-skipping stats: per-file key min/max
    table._prepare(spark, scol)

    for _attempt in range(max_retries):
        base = table.current_version() or 0
        staging = table._staging_path()
        new_rels: list[str] = []
        new_stats: dict = {}
        man: dict = {}
        reused: list[str] = []
        pcols = [partition_col] if partition_col else []
        try:
            if base == 0:
                merged = tagged
            else:
                man = table.manifest(base)
                target = table.read(spark, base)
                drifted = {f.name: f.dataType for f in source.schema.fields} != {
                    f.name: f.dataType for f in target.schema.fields
                }
                if drifted and not evolve_schema:
                    raise ValueError(
                        f"merge into {root}: batch schema "
                        f"{sorted((f.name, f.dataType.simpleString()) for f in source.schema.fields)} "
                        f"!= table schema "
                        f"{sorted((f.name, f.dataType.simpleString()) for f in target.schema.fields)}; "
                        "pass evolve_schema=True to evolve the table"
                    )
                union_kw = {"allowMissingColumns": True} if evolve_schema else {}
                if partition_col and not drifted and man["partition_cols"] == pcols:
                    touched_raw = [
                        r[0]
                        for r in source.select(partition_col).distinct().collect()
                    ]
                    touched = [v for v in touched_raw if v is not None]
                    include_null = len(touched) < len(touched_raw)

                    def touched_pred(values: list, with_null: bool):
                        pred = (
                            F.coalesce(
                                F.col(partition_col).isin(values), F.lit(False)
                            )
                            if values
                            else F.lit(False)
                        )
                        if with_null:
                            pred = pred | F.col(partition_col).isNull()
                        return pred

                    is_touched = touched_pred(touched, include_null)
                    # A key whose partition changed has its old row in an
                    # "untouched" partition; re-listing that partition's
                    # files verbatim would keep a stale duplicate.
                    stale_parts = [
                        r[0]
                        for r in target.filter(~is_touched)
                        .join(source.select(key), on=key, how="left_semi")
                        .select(partition_col)
                        .distinct()
                        .collect()
                    ]
                    if stale_parts:
                        touched += [v for v in stale_parts if v is not None]
                        include_null = include_null or any(
                            v is None for v in stale_parts
                        )
                        is_touched = touched_pred(touched, include_null)
                    merged = (
                        target.filter(is_touched)
                        .join(source.select(key), on=key, how="left_anti")
                        .withColumn("__merge_src", F.lit(False))
                        .unionByName(tagged, **union_kw)
                    )
                    # Which top-level partition dirs do the touched rows
                    # live in?  Resolved from the actual file paths
                    # (realpath on both sides, so a symlinked ancestor or
                    # a relative root cannot mis-split them), never
                    # re-encoded from values; this also catches a
                    # partition the merge leaves EMPTY.  input_file_name()
                    # needs a RAW single-source scan (target may carry a
                    # DV anti-join).
                    abs_files = os.path.realpath(table.files_dir)
                    raw_scan = spark.read.option(
                        "basePath", table.files_dir
                    ).parquet(
                        *[os.path.join(table.files_dir, rel) for rel in man["files"]]
                    )
                    touched_dirs = {
                        os.path.relpath(
                            os.path.realpath(unquote(urlparse(r[0]).path)),
                            abs_files,
                        ).split(os.sep, 1)[0]
                        for r in raw_scan.filter(is_touched)
                        .select(F.input_file_name())
                        .distinct()
                        .collect()
                    }
                    reused = [
                        rel
                        for rel in man["files"]
                        if rel.split(os.sep, 1)[0] not in touched_dirs
                    ]
                else:
                    merged = (
                        target.join(source.select(key), on=key, how="left_anti")
                        .withColumn("__merge_src", F.lit(False))
                        .unionByName(tagged, **union_kw)
                    )
            obs = Observation()
            merged = merged.observe(obs, *checks).drop("__merge_src")
            writer = merged.write.mode("overwrite")
            if partition_col:
                writer = writer.partitionBy(partition_col)
            new_rels = table._stage_and_place(writer, staging, scol, new_stats)
            seen = obs.get
            if seen["null_keys"]:
                raise ValueError(
                    f"merge into {root}: batch contains NULL values in merge key "
                    f"{key!r}; a NULL key cannot be matched for UPDATE and would "
                    "duplicate on every replay"
                )
            _raise_on_failed_constraints(source, constraints, seen, root)
        except BaseException:
            _discard_staging(table.fs, staging)
            table._drop_files(new_rels)
            raise

        # Carry forward reused files' stats when the prior manifest's stats
        # column matches; a prior different/absent stats column degrades
        # those entries to rows-only (pruning keeps them conservatively).
        prev_stats = man.get("stats", {})
        same_scols = _man_stats_cols(man) == _norm_stats_cols(scol)
        carried = {
            r: prev_stats[r] if same_scols else {"rows": prev_stats[r]["rows"], "cols": {}}
            for r in reused
            if r in prev_stats
        }
        if table._commit(
            base + 1, reused + new_rels, merged.schema, pcols,
            stats={**carried, **new_stats}, stats_col=scol,
            # Re-listed files keep their deletion vectors; DV rows aimed at
            # rewritten (no-longer-listed) files are inert — part names are
            # never reused, so they can't false-match.  A full rewrite
            # (reused == []) materializes every DV and drops them.
            dvs=(man.get("dvs") if reused else None),
            op="merge",
            op_tag=op_tag,
            keep=vacuum_keep, min_age_hours=vacuum_min_age_hours,
        ):
            return int(seen["rows"])
        # Lost the claim race: our files are referenced by nothing — drop
        # them and recompute against the winner's snapshot.
        table._drop_files(new_rels)
    raise ConcurrentWriteError(
        f"merge into {root} lost the version-claim race {max_retries} times"
    )


def append_manifest(
    spark: SparkSession,
    root: str,
    source: DataFrame,
    partition_col: str | None = None,
    max_retries: int = 5,
    vacuum_keep: int = 2,
    vacuum_min_age_hours: float = 1.0,
    fs: FsOps | None = None,
    stats_col: str | list[str] | None = None,
    op_tag: str | None = None,
) -> int:
    """Atomic APPEND commit through the manifest protocol: stage the
    batch as new data files, then claim ONE new version listing every
    prior file (pure metadata — nothing is rewritten or moved) plus the
    new ones.  Readers see all of the batch or none of it; a crash at any
    point leaves the previous version current, with at worst orphaned
    staged files for vacuum.

    This is the commit shape for tables whose rows accrete rather than
    upsert — ledgers, and composite state like the LSH band index where
    a batch's band rows AND its admitted-id rows must land in the SAME
    version (two separate appends reintroduce the torn-state window the
    protocol exists to kill).  First call creates the table.

    Returns the committed version number.
    """
    table = ManifestTable(root, fs=fs) if fs is not None else ManifestTable(root)
    _reject_dv_reserved(source)
    scol = stats_col
    table._prepare(spark, scol)

    for _attempt in range(max_retries):
        base = table.current_version() or 0
        man = table.manifest(base) if base else None
        if man is not None:
            target_schema = StructType.fromJson(json.loads(man["schema"]))
            if {f.name: f.dataType for f in source.schema.fields} != {
                f.name: f.dataType for f in target_schema.fields
            }:
                raise ValueError(
                    f"append into {root}: batch schema "
                    f"{sorted((f.name, f.dataType.simpleString()) for f in source.schema.fields)} "
                    f"!= table schema "
                    f"{sorted((f.name, f.dataType.simpleString()) for f in target_schema.fields)}"
                )
            if man["partition_cols"] != ([partition_col] if partition_col else []):
                raise ValueError(
                    f"append into {root}: partition_col {partition_col!r} != "
                    f"table partitioning {man['partition_cols']}"
                )
            if scol is None:
                scol = _man_stats_cols(man) or None
        staging = table._staging_path()
        new_rels: list[str] = []
        new_stats: dict = {}
        try:
            writer = source.write.mode("overwrite")
            if partition_col:
                writer = writer.partitionBy(partition_col)
            new_rels = table._stage_and_place(
                writer, staging, scol, new_stats if scol else None
            )
        except BaseException:
            _discard_staging(table.fs, staging)
            table._drop_files(new_rels)
            raise
        reused = man["files"] if man else []
        prev_stats = man.get("stats", {}) if man else {}
        prev_scols = _man_stats_cols(man) if man else []
        carried = {
            r: (
                prev_stats[r]
                if prev_scols == _norm_stats_cols(scol)
                else {"rows": prev_stats[r]["rows"], "cols": {}}
            )
            for r in reused
            if r in prev_stats
        }
        if table._commit(
            base + 1, reused + new_rels, source.schema,
            [partition_col] if partition_col else [],
            stats={**carried, **new_stats} if scol else None, stats_col=scol,
            # Appends never rewrite a listed file, so prior DVs stay aimed
            # at live files and carry forward verbatim.
            dvs=(man.get("dvs") if man else None),
            op="append",
            op_tag=op_tag,
            keep=vacuum_keep, min_age_hours=vacuum_min_age_hours,
        ):
            return base + 1
        table._drop_files(new_rels)
    raise ConcurrentWriteError(
        f"append into {root} lost the version-claim race {max_retries} times"
    )


def delete_manifest(
    spark: SparkSession,
    root: str,
    keys: DataFrame,
    key: str,
    max_retries: int = 5,
    vacuum_keep: int = 2,
    vacuum_min_age_hours: float = 1.0,
    fs: FsOps | None = None,
    mode: str = "rewrite",
    op_tag: str | None = None,
) -> int:
    """Delete by key on a manifest table (right-to-be-forgotten).

    ``mode="rewrite"`` (copy-on-write): only files containing a doomed key
    are rewritten; every other file is re-listed verbatim — a GDPR
    request rewrites the handful of files its keys live in, not the
    corpus.  A batch matching nothing commits nothing and returns 0.

    ``mode="dv"`` (merge-on-read, the Delta/Iceberg-v2 deletion-vector
    shape): NO data file is touched — the commit writes a small parquet
    deletion vector of (part-file name, row_index) pairs and the manifest
    references it; readers mask those rows with a broadcast anti-join.
    At 100 TB this turns a scattered 1000-key delete from rewriting up to
    1000 files into writing one KB-scale sidecar.  Compaction, any full
    rewrite, or :func:`purge_deletes_manifest` materializes the masks
    physically (the GDPR erasure endpoint — until purge, bytes remain in
    the data files even though no read can return them)."""
    from pyspark.sql import functions as F

    keys = keys.select(key).dropDuplicates([key]).filter(F.col(key).isNotNull())
    doom = lambda df: df.join(F.broadcast(keys), key, "left_semi")  # noqa: E731
    if mode == "dv":
        return _dv_delete_manifest(
            spark, root, doom, max_retries=max_retries,
            vacuum_keep=vacuum_keep,
            vacuum_min_age_hours=vacuum_min_age_hours, fs=fs,
            op_tag=op_tag,
        )
    if mode != "rewrite":
        raise ValueError(f"unknown delete mode {mode!r}; use 'rewrite' or 'dv'")
    return _file_level_delete_manifest(
        spark,
        root,
        doom_of=doom,
        keep_of=lambda df: df.join(F.broadcast(keys), key, "left_anti"),
        max_retries=max_retries,
        vacuum_keep=vacuum_keep,
        vacuum_min_age_hours=vacuum_min_age_hours,
        fs=fs,
        op_tag=op_tag,
    )


def delete_where_manifest(
    spark: SparkSession,
    root: str,
    condition,
    max_retries: int = 5,
    vacuum_keep: int = 2,
    vacuum_min_age_hours: float = 1.0,
    fs: FsOps | None = None,
    mode: str = "rewrite",
) -> int:
    """Predicate delete (``DELETE WHERE condition``: TTL expiry, retention
    sweeps, policy scrubs).  NULL discipline: a row where ``condition``
    evaluates NULL is KEPT, as SQL's DELETE keeps it.  ``mode="dv"``
    commits a deletion vector instead of rewriting files (see
    :func:`delete_manifest`)."""
    from pyspark.sql import functions as F

    cond = condition if not isinstance(condition, str) else F.expr(condition)
    doomed_pred = F.coalesce(cond, F.lit(False))
    if mode == "dv":
        return _dv_delete_manifest(
            spark, root, lambda df: df.filter(doomed_pred),
            max_retries=max_retries, vacuum_keep=vacuum_keep,
            vacuum_min_age_hours=vacuum_min_age_hours, fs=fs,
        )
    if mode != "rewrite":
        raise ValueError(f"unknown delete mode {mode!r}; use 'rewrite' or 'dv'")
    return _file_level_delete_manifest(
        spark,
        root,
        doom_of=lambda df: df.filter(doomed_pred),
        keep_of=lambda df: df.filter(~doomed_pred),
        max_retries=max_retries,
        vacuum_keep=vacuum_keep,
        vacuum_min_age_hours=vacuum_min_age_hours,
        fs=fs,
    )


def _file_level_delete_manifest(
    spark: SparkSession,
    root: str,
    doom_of,
    keep_of,
    max_retries: int,
    vacuum_keep: int,
    vacuum_min_age_hours: float,
    fs: FsOps | None,
    op_tag: str | None = None,
) -> int:
    from urllib.parse import unquote, urlparse

    from pyspark.sql import functions as F

    table = ManifestTable(root, fs=fs) if fs is not None else ManifestTable(root)
    table._prepare(spark)
    for _attempt in range(max_retries):
        base = table.current_version()
        if base is None:
            return 0
        man = table.manifest(base)
        if not man["files"]:
            return 0
        abs_files = os.path.realpath(table.files_dir)
        # File identity comes from the scan's _metadata column (captured
        # BEFORE the DV anti-join — input_file_name() is only reliable
        # inside the scan stage), and DV-masked rows are excluded so an
        # already-deleted row can't re-doom its file.
        raw = spark.read.option("basePath", table.files_dir).parquet(
            *[os.path.join(table.files_dir, rel) for rel in man["files"]]
        )
        with_file = table._apply_dvs(
            spark, raw.withColumn("__file", F.col("_metadata.file_path")), man
        )
        doomed = doom_of(with_file)
        affected_rel = {
            os.path.relpath(
                os.path.realpath(unquote(urlparse(r[0]).path)), abs_files
            )
            for r in doomed.select("__file").distinct().collect()
        }
        if not affected_rel:
            return 0
        n_deleted = doomed.count()
        staging = table._staging_path()
        new_rels: list[str] = []
        new_stats: dict = {}
        scol = _man_stats_cols(man) or None
        try:
            # DV-mask the raw affected-file scan too: a rewrite-delete on a
            # file carrying deletion vectors must not resurrect DV'd rows.
            kept = keep_of(
                table._apply_dvs(
                    spark,
                    spark.read.option("basePath", abs_files).parquet(
                        *sorted(os.path.join(abs_files, r) for r in affected_rel)
                    ),
                    man,
                )
            )
            writer = kept.write.mode("overwrite")
            if man["partition_cols"]:
                writer = writer.partitionBy(*man["partition_cols"])
            new_rels = table._stage_and_place(
                writer, staging, scol, new_stats if scol else None
            )
        except BaseException:
            _discard_staging(table.fs, staging)
            table._drop_files(new_rels)
            raise
        reused = [rel for rel in man["files"] if rel not in affected_rel]
        schema = StructType.fromJson(json.loads(man["schema"]))
        prev_stats = man.get("stats", {})
        carried = {r: prev_stats[r] for r in reused if r in prev_stats}
        if table._commit(
            base + 1, reused + new_rels, schema, man["partition_cols"],
            stats={**carried, **new_stats} if scol else None, stats_col=scol,
            dvs=(man.get("dvs") if reused else None),
            op="delete",
            op_tag=op_tag,
            keep=vacuum_keep, min_age_hours=vacuum_min_age_hours,
        ):
            return n_deleted
        table._drop_files(new_rels)
    raise ConcurrentWriteError(
        f"delete from {root} lost the version-claim race {max_retries} times"
    )


def _dv_delete_manifest(
    spark: SparkSession,
    root: str,
    doom_of,
    max_retries: int,
    vacuum_keep: int,
    vacuum_min_age_hours: float,
    fs: FsOps | None,
    op_tag: str | None = None,
) -> int:
    """Merge-on-read delete: commit a deletion-vector sidecar addressing
    (part-file name, row_index) pairs; data files untouched.  The new
    manifest re-lists every file verbatim and appends the DV relpath —
    an O(deleted rows) commit regardless of table size."""
    from pyspark.sql import functions as F

    table = ManifestTable(root, fs=fs) if fs is not None else ManifestTable(root)
    table._prepare(spark)
    for _attempt in range(max_retries):
        base = table.current_version()
        if base is None:
            return 0
        man = table.manifest(base)
        if not man["files"]:
            return 0
        scan = spark.read.option("basePath", table.files_dir).parquet(
            *[os.path.join(table.files_dir, rel) for rel in man["files"]]
        )
        with_meta = scan.withColumns(
            {
                "__dv_file": _dv_file_key(),
                "__dv_row": F.col("_metadata.row_index"),
            }
        )
        dv_rels_old = man.get("dvs") or []
        if dv_rels_old:
            old_dv = spark.read.parquet(
                *[os.path.join(table.files_dir, r) for r in dv_rels_old]
            ).select("__dv_file", "__dv_row")
            live = with_meta.join(
                F.broadcast(old_dv), ["__dv_file", "__dv_row"], "left_anti"
            )
        else:
            live = with_meta
        doomed = doom_of(live).select("__dv_file", "__dv_row")
        staging = table._staging_path()
        new_rels: list[str] = []
        try:
            doomed.write.mode("overwrite").parquet(staging)
            dv_prefix = os.path.join("dvs", uuid.uuid4().hex)
            n_deleted = 0
            for src, srel in _staged_files(table.fs, staging):
                n_deleted += _file_stats_src(table.fs, src, None)["rows"]
                rel = os.path.join(dv_prefix, srel)
                table.fs.move_file(src, os.path.join(table.files_dir, rel))
                new_rels.append(rel)
        except BaseException:
            _discard_staging(table.fs, staging)
            table._drop_files(new_rels)
            raise
        _discard_staging(table.fs, staging)
        if n_deleted == 0:
            table._drop_files(new_rels)
            return 0
        schema = StructType.fromJson(json.loads(man["schema"]))
        if table._commit(
            base + 1, list(man["files"]), schema, man["partition_cols"],
            stats=man.get("stats"), stats_col=_man_stats_cols(man) or None,
            dvs=dv_rels_old + new_rels,
            op="dv-delete",
            op_tag=op_tag,
            keep=vacuum_keep, min_age_hours=vacuum_min_age_hours,
        ):
            return n_deleted
        table._drop_files(new_rels)
    raise ConcurrentWriteError(
        f"DV delete from {root} lost the version-claim race {max_retries} times"
    )


def purge_deletes_manifest(
    spark: SparkSession,
    root: str,
    max_retries: int = 5,
    vacuum_keep: int = 2,
    vacuum_min_age_hours: float = 1.0,
    fs: FsOps | None = None,
) -> int:
    """Materialize deletion vectors physically: rewrite ONLY the files a
    DV actually masks, re-list the rest, and commit with no DVs — after
    which (and a vacuum) the deleted bytes are gone from storage, which
    is what an erasure request ultimately requires.  Returns the number
    of files rewritten."""
    from pyspark.sql import functions as F

    table = ManifestTable(root, fs=fs) if fs is not None else ManifestTable(root)
    table._prepare(spark)
    for _attempt in range(max_retries):
        base = table.current_version()
        if base is None:
            return 0
        man = table.manifest(base)
        dv_rels = man.get("dvs") or []
        if not dv_rels:
            return 0
        from urllib.parse import unquote

        # DV keys are URI-cut relpaths (possibly percent-encoded); decode
        # before comparing with the manifest's filesystem relpaths.
        masked_rels = {
            unquote(r[0])
            for r in spark.read.parquet(
                *[os.path.join(table.files_dir, r) for r in dv_rels]
            )
            .select("__dv_file")
            .distinct()
            .collect()
        }
        affected = [rel for rel in man["files"] if rel in masked_rels]
        schema = StructType.fromJson(json.loads(man["schema"]))
        scol = _man_stats_cols(man) or None
        if not affected:
            # Every DV row is inert (its file was already rewritten) —
            # dropping the DV list is a pure-metadata commit.
            if table._claim(
                base + 1, list(man["files"]), schema, man["partition_cols"],
                stats=man.get("stats"), stats_col=scol, op="purge",
            ):
                table.publish(base + 1)
                return 0
            continue
        staging = table._staging_path()
        new_rels: list[str] = []
        new_stats: dict = {}
        try:
            kept = table._apply_dvs(
                spark,
                spark.read.option("basePath", table.files_dir).parquet(
                    *[os.path.join(table.files_dir, r) for r in affected]
                ),
                man,
            )
            writer = kept.write.mode("overwrite")
            if man["partition_cols"]:
                writer = writer.partitionBy(*man["partition_cols"])
            new_rels = table._stage_and_place(
                writer, staging, scol, new_stats if scol else None
            )
        except BaseException:
            _discard_staging(table.fs, staging)
            table._drop_files(new_rels)
            raise
        reused = [rel for rel in man["files"] if rel not in affected]
        prev_stats = man.get("stats", {})
        carried = {r: prev_stats[r] for r in reused if r in prev_stats}
        if table._commit(
            base + 1, reused + new_rels, schema, man["partition_cols"],
            stats={**carried, **new_stats} if scol else None, stats_col=scol,
            op="purge",
            keep=vacuum_keep, min_age_hours=vacuum_min_age_hours,
        ):
            return len(affected)
        table._drop_files(new_rels)
    raise ConcurrentWriteError(
        f"purge of {root} lost the version-claim race {max_retries} times"
    )


def table_changes_manifest(
    spark: SparkSession,
    root: str,
    key: str,
    from_version: int,
    to_version: int | None = None,
    fs: FsOps | None = None,
) -> DataFrame:
    """Change feed (CDC) between two committed versions: one row per key
    whose content changed, with ``_change_type`` in {insert, update,
    delete} and the NEW side's columns (null except ``key`` for deletes).
    See :func:`changes_between` for the diff; a compaction-only version
    reports zero changes."""
    table = ManifestTable(root, fs=fs) if fs is not None else ManifestTable(root)
    if to_version is None:
        to_version = table.current_version()
        if to_version is None:
            raise ValueError(f"{root} has no committed manifest")
    old = table.read(spark, from_version)
    new = table.read(spark, to_version)
    return changes_between(old, new, key)


def changes_between(old: DataFrame, new: DataFrame, key: str) -> DataFrame:
    """The CDC diff core.  Both snapshots project to (key, row-hash)
    map-side, so the full-outer join shuffles two slim columns, never the
    payload; the post-image columns come back via one join against only
    the changed keys.

    The diff runs over the UNION of both schemas with a null-for-missing
    convention: a column only one side has hashes as a typed NULL on the
    other, so after schema evolution a row whose only change is a value
    in the newly added column (or one lost with a dropped column) still
    reports as an update."""
    from pyspark.sql import functions as F

    all_cols = list(new.columns) + [c for c in old.columns if c not in set(new.columns)]

    def row_hash(df: DataFrame):
        have = set(df.columns)
        parts = [
            F.col(c)
            if c in have
            else F.lit(None).cast(
                (new if c in set(new.columns) else old).schema[c].dataType
            )
            for c in all_cols
        ]
        return F.xxhash64(F.struct(*parts))

    oldh = old.select(F.col(key).alias("_k"), row_hash(old).alias("_h_old"))
    newh = new.select(F.col(key).alias("_k"), row_hash(new).alias("_h_new"))
    diff = (
        oldh.join(newh, "_k", "full_outer")
        .select(
            "_k",
            F.when(F.col("_h_old").isNull(), F.lit("insert"))
            .when(F.col("_h_new").isNull(), F.lit("delete"))
            .when(F.col("_h_old") != F.col("_h_new"), F.lit("update"))
            .alias("_change_type"),
        )
        .filter(F.col("_change_type").isNotNull())
    )
    # eqNullSafe: a NULL-key row written by an external writer must not
    # silently vanish from the change feed (merges themselves reject NULL
    # keys).  Deletes are excluded here — they have no new-side row, and
    # a null key present on BOTH sides surfaces as delete+insert whose
    # diff rows would otherwise both null-safe-match the new row.
    non_delete = diff.filter(F.col("_change_type") != "delete")
    post = new.join(non_delete, new[key].eqNullSafe(non_delete._k), "inner").select(
        "_change_type", *new.columns
    )
    deletes = (
        diff.filter(F.col("_change_type") == "delete")
        .select(F.col("_k").alias(key), "_change_type")
    )
    if deletes.columns != post.columns:  # align: null post-image for deletes
        for c in new.columns:
            if c != key:
                deletes = deletes.withColumn(c, F.lit(None).cast(new.schema[c].dataType))
        deletes = deletes.select("_change_type", *new.columns)
    return post.unionByName(deletes)


@dataclass(frozen=True)
class ChangeFeedCursor:
    """Durable change-feed consumer position — the subscriber half of CDC
    (Delta's ``readChangeFeed`` + checkpoint analog; reference analog:
    the warehouse watermark bookkeeping, src/helper/postgres.py:118-140).

    Protocol: ``poll()`` returns every change between the last COMMITTED
    cursor position and the table's current version; the consumer applies
    them (:func:`apply_changes_manifest` is idempotent), then calls
    ``commit(to_version)`` — write-temp + fsync + rename, so a crash
    between apply and commit re-delivers the same window on the next
    poll (at-least-once + idempotent apply = effectively-once).

    Retention contract: the source's vacuum ``keep``/``min_age_hours``
    must exceed the consumer's maximum lag, or ``poll`` raises the
    retained-versions error from time travel — loudly, never a silent
    gap.
    """

    root: str
    cursor_path: str

    def last_committed(self) -> int | None:
        try:
            with open(self.cursor_path) as f:
                return int(f.read().strip())
        except (OSError, ValueError):
            return None

    def poll(self, spark: SparkSession, key: str):
        """Returns ``(changes_df, to_version)`` for the window
        (last_committed, current], or ``(None, last)`` when no new version
        has landed.  A first poll on a fresh cursor starts from the
        table's FIRST retained version (initial sync = seed the replica
        with that version, then apply the feed — or simply full-copy and
        ``commit(current)``)."""
        table = ManifestTable(self.root)
        versions = table.versions()
        last = self.last_committed()
        if not versions or (last is not None and versions[-1] <= last):
            return None, last
        from_v = last if last is not None else versions[0]
        if from_v >= versions[-1]:
            return None, last
        return (
            table_changes_manifest(
                spark, self.root, key=key, from_version=from_v,
                to_version=versions[-1],
            ),
            versions[-1],
        )

    def commit(self, version: int) -> None:
        """Durably advance the cursor — only after the window's changes
        are fully applied downstream."""
        LocalFsOps().put_bytes(self.cursor_path, str(version).encode())


def resolve_table_path(root: str) -> str:
    """The directory holding the committed snapshot's files as plain
    parquet: a local table's current view (rolled forward first, see
    :meth:`ManifestTable.sync_view`), or ``root`` itself for a directory
    that was never committed through the protocol."""
    table = ManifestTable(root)
    cur = table.sync_view()
    if cur is None or not table.has_view:
        return root
    return os.path.join(table.state_dir, _view_name(cur))


def apply_changes_manifest(
    spark: SparkSession,
    root: str,
    changes: DataFrame,
    key: str,
    partition_col: str | None = None,
    fs: FsOps | None = None,
) -> dict:
    """Apply a change feed to a replica — the CDC consumer half: deletes
    first (so a delete+reinsert of one key in one feed nets to the
    reinsert), then one MERGE.  Replaying the same feed is a no-op, so
    at-least-once delivery of change batches is safe.  Returns
    ``{"deleted": n, "upserted": n}``."""
    from pyspark.sql import functions as F

    dels = changes.filter(F.col("_change_type") == "delete").select(key)
    ups = changes.filter(F.col("_change_type") != "delete").drop("_change_type")
    n_del = (
        delete_manifest(spark, root, dels, key, fs=fs)
        if dels.limit(1).count()
        else 0
    )
    n_up = (
        merge_manifest(spark, root, ups, key, partition_col=partition_col, fs=fs)
        if ups.limit(1).count()
        else 0
    )
    return {"deleted": n_del, "upserted": n_up}


def compact_manifest(
    spark: SparkSession,
    root: str,
    target_file_mb: int = 128,
    vacuum_keep: int = 2,
    vacuum_min_age_hours: float = 1.0,
    max_retries: int = 5,
    fs: FsOps | None = None,
    sort_by: list[str] | None = None,
    transform=None,
    zorder_by: list[str] | None = None,
    zorder_bits: int = 8,
    zorder_equal_depth: bool = False,
    target_files: int | None = None,
) -> int:
    """Rewrite the current manifest snapshot into ~``target_file_mb``
    files as a NEW committed version; returns the new file count.  A
    partitioned snapshot keeps its partition layout.

    ``transform`` (optional ``DataFrame -> DataFrame``, schema-preserving)
    is applied to the PINNED snapshot before the rewrite — the hook that
    lets maintenance operations (e.g. the vector index's tombstone
    fold-out) ride this function's hardened commit loop (version pinned
    BEFORE the read so interleaved commits lose the claim and trigger a
    recompute, staged files discarded on failure, claim retried, output
    clustered) instead of hand-rolling stage/claim/publish.

    Incremental merges accrete a file-set per batch and the manifest
    lists every file (reader-side planning cost is O(files) paths through
    the driver), so periodic compaction matters twice here: scan
    throughput AND manifest size.  Obeys the same claim rule as the
    merge — a merge landing mid-compaction wins the version and the
    compaction recomputes over the merged data.

    ``sort_by`` is CLUSTERED compaction: one range shuffle + in-partition
    sort, so the output files carry DISJOINT ranges of the sort key and
    the manifest's min/max stats make :meth:`ManifestTable.prune_files`
    precise — a point lookup after clustering touches one file.

    ``zorder_by`` is the multi-column sibling (Delta's ``OPTIMIZE ...
    ZORDER BY`` as a manifest commit): rows are range-shuffled along the
    Morton curve over the listed columns
    (:func:`door2door_etl_spark.io.writers.with_zorder_code`), so EVERY
    listed dimension gets partial per-file locality — predicates on any
    one of them prune a real fraction of files, where a linear sort
    prunes only its prefix column (trade pinned by
    ``test_compact_zorder_multi_dim_pruning``).  Mutually exclusive with
    ``sort_by``.  ``zorder_equal_depth`` switches bucket boundaries from
    equal-width to approxQuantile cutpoints so SKEWED dimensions keep
    per-file locality (see :func:`~door2door_etl_spark.io.writers.zorder_buckets`).

    ``target_files`` overrides the size-based output file count (the
    deterministic layout knob for tests and for engines that size by
    parallelism rather than bytes); ignored for partitioned tables,
    whose layout follows the partition/range shuffle.
    """
    if sort_by and zorder_by:
        raise ValueError("compact_manifest: sort_by and zorder_by are exclusive")
    table = ManifestTable(root, fs=fs) if fs is not None else ManifestTable(root)
    table._prepare(spark)
    for _attempt in range(max_retries):
        base = table.current_version()
        if base is None:
            raise ValueError(f"{root} has no committed manifest to compact")
        man = table.manifest(base)
        df = table.read(spark, base)
        if transform is not None:
            df = transform(df)
        pcols = man["partition_cols"]
        staging = table._staging_path()
        new_rels: list[str] = []
        try:
            if zorder_by:
                from door2door_etl_spark.io.writers import with_zorder_code

                df = with_zorder_code(
                    df, zorder_by, zorder_bits,
                    equal_depth=zorder_equal_depth,
                )
            if pcols:
                if zorder_by:
                    shaped = df.repartitionByRange(
                        *pcols, "_zorder"
                    ).sortWithinPartitions(*pcols, "_zorder").drop("_zorder")
                elif sort_by:
                    # Range shuffle over (partition cols, cluster key):
                    # clustering parallelism is NOT bounded by the number
                    # of partition values (repartition(*pcols) would put
                    # each partition's entire data through one task — at
                    # scale, one reducer per partition value).
                    shaped = df.repartitionByRange(
                        *pcols, *sort_by
                    ).sortWithinPartitions(*pcols, *sort_by)
                else:
                    shaped = df.repartition(*pcols)
                writer = shaped.write.mode("overwrite").partitionBy(*pcols)
            else:
                total_bytes = sum(
                    table.fs.file_size(os.path.join(table.files_dir, rel))
                    for rel in man["files"]
                )
                n_target = target_files or max(
                    1, round(total_bytes / (target_file_mb * 1024 * 1024))
                )
                if zorder_by:
                    # Range shuffle along the Morton curve: each output
                    # file covers a disjoint curve segment -> partial
                    # min/max locality on EVERY z-ordered column.
                    shaped = df.repartitionByRange(
                        n_target, "_zorder"
                    ).sortWithinPartitions("_zorder").drop("_zorder")
                elif sort_by:
                    # Range shuffle on the cluster key: output files carry
                    # disjoint key ranges -> precise stats pruning.
                    shaped = df.repartitionByRange(
                        n_target, *sort_by
                    ).sortWithinPartitions(*sort_by)
                else:
                    shaped = df.coalesce(n_target)
                writer = shaped.write.mode("overwrite")
            scol = _man_stats_cols(man) or None
            new_stats: dict = {}
            new_rels = table._stage_and_place(
                writer, staging, scol, new_stats if scol else None
            )
        except BaseException:
            _discard_staging(table.fs, staging)
            table._drop_files(new_rels)
            raise
        schema = StructType.fromJson(json.loads(man["schema"]))
        if table._commit(
            base + 1, new_rels, schema, pcols,
            stats=new_stats if scol else None, stats_col=scol, op="compact",
            keep=vacuum_keep, min_age_hours=vacuum_min_age_hours,
        ):
            return len(new_rels)
        table._drop_files(new_rels)
    raise ConcurrentWriteError(
        f"compaction of {root} lost the version-claim race {max_retries} times"
    )


def _is_missing_key_error(exc: Exception) -> bool:
    """True iff ``exc`` is S3's missing-object signal.  ``head_object``
    reports a missing key as error code ``"404"``/``"NotFound"`` (no
    body, so no ``NoSuchKey``); GETs report ``NoSuchKey``.  Everything
    else — throttling, auth, network — must propagate."""
    err = getattr(exc, "response", {}).get("Error", {})
    code = err.get("Code", "")
    if code in ("404", "NoSuchKey", "NotFound"):
        return True
    status = getattr(exc, "response", {}).get("ResponseMetadata", {}).get(
        "HTTPStatusCode"
    )
    return status == 404


class S3FsOps:
    """S3 backend for the manifest protocol — every :class:`FsOps` method
    as one S3 API call, with the claim mapped to a **conditional PUT**
    (``If-None-Match: *``, natively supported by S3 since 2024 — the same
    primitive Delta's S3 commit coordinator uses).

    Paths arriving from :class:`ManifestTable` are ``s3://bucket/key…``
    URIs (pass ``root="s3://bucket/warehouse/tbl"``).  ``client`` is any
    object with the boto3 S3-client surface — injected in tests as a
    faithful fake (conditional-PUT semantics pinned there), a real
    ``boto3.client("s3")`` in production (imported lazily; boto3 is not a
    dependency of this engine, exactly as the reference treats it —
    reference src/helper/s3.py:17-34).

    Scope note, stated honestly: the commit protocol's METADATA half
    (claim / publish / listing / vacuum / manifest IO) runs entirely
    through this class and is unit-tested against the fake.  The data
    plane — Spark staging writes to ``s3a://`` and manifest-listed reads
    — is implemented (ManifestTable normalizes object roots to ``s3a``;
    staging placement lists/moves/stats through FsOps, never the local
    filesystem) and exercised end-to-end by the OPT-IN live test
    ``tests/test_s3_live.py`` (``-m s3``, skipped unless an endpoint +
    hadoop-aws jars are available); this sandbox has neither, so the
    live half runs only where a real MinIO/S3 is configured.
    """

    def __init__(self, client=None):
        if client is None:
            import boto3  # deferred: optional, production-only

            client = boto3.client("s3")
        self._s3 = client

    @staticmethod
    def _parse(path: str) -> tuple[str, str]:
        from urllib.parse import urlparse

        u = urlparse(path)
        if u.scheme not in ("s3", "s3a"):
            raise ValueError(f"S3FsOps expects s3:// paths, got {path!r}")
        return u.netloc, u.path.lstrip("/")

    def put_if_absent(self, path: str, data: bytes) -> bool:
        bucket, key = self._parse(path)
        try:
            self._s3.put_object(
                Bucket=bucket, Key=key, Body=data, IfNoneMatch="*"
            )
            return True
        except Exception as exc:  # botocore ClientError: 412 -> lost race
            code = getattr(exc, "response", {}).get("ResponseMetadata", {}).get(
                "HTTPStatusCode"
            )
            if code == 412 or "PreconditionFailed" in str(exc):
                return False
            raise

    def put_bytes(self, path: str, data: bytes) -> None:
        bucket, key = self._parse(path)
        self._s3.put_object(Bucket=bucket, Key=key, Body=data)

    def read_bytes(self, path: str) -> bytes | None:
        bucket, key = self._parse(path)
        try:
            return self._s3.get_object(Bucket=bucket, Key=key)["Body"].read()
        except Exception as exc:
            if "NoSuchKey" in str(exc) or getattr(exc, "response", {}).get(
                "Error", {}
            ).get("Code") == "NoSuchKey":
                return None
            raise

    def move_file(self, src: str, dst: str) -> None:
        """Staged file → final object.  An object-store source (the
        normal case: Spark staged it via s3a) moves SERVER-SIDE — one
        COPY + one DELETE, no bytes through this process; a local source
        (metadata files, tests) uploads then unlinks."""
        bucket, key = self._parse(dst)
        if _is_object_uri(src):
            sbucket, skey = self._parse(src)
            self._s3.copy_object(
                Bucket=bucket,
                Key=key,
                CopySource={"Bucket": sbucket, "Key": skey},
            )
            self._s3.delete_object(Bucket=sbucket, Key=skey)
            return
        with open(src, "rb") as f:
            self._s3.put_object(Bucket=bucket, Key=key, Body=f.read())
        os.unlink(src)

    def list_names(self, dir_path: str) -> list[str]:
        bucket, prefix = self._parse(dir_path)
        prefix = prefix.rstrip("/") + "/"
        out: set[str] = set()
        token = None
        while True:
            kw = {"Bucket": bucket, "Prefix": prefix, "Delimiter": "/"}
            if token:
                kw["ContinuationToken"] = token
            resp = self._s3.list_objects_v2(**kw)
            for obj in resp.get("Contents", []):
                out.add(obj["Key"][len(prefix):])
            for cp in resp.get("CommonPrefixes", []):
                out.add(cp["Prefix"][len(prefix):].rstrip("/"))
            if not resp.get("IsTruncated"):
                break
            token = resp.get("NextContinuationToken")
        return sorted(n for n in out if n)

    def walk_files(self, dir_path: str) -> list[str]:
        bucket, prefix = self._parse(dir_path)
        # Echo the CALLER's scheme (s3 or s3a) back in the results:
        # callers derive relative paths by string-prefix arithmetic
        # against the directory they listed, which silently breaks if
        # the scheme flips mid-round-trip.
        scheme = dir_path.split("://", 1)[0]
        prefix = prefix.rstrip("/") + "/"
        out: list[str] = []
        token = None
        while True:
            kw = {"Bucket": bucket, "Prefix": prefix}
            if token:
                kw["ContinuationToken"] = token
            resp = self._s3.list_objects_v2(**kw)
            out.extend(
                f"{scheme}://{bucket}/{o['Key']}"
                for o in resp.get("Contents", [])
            )
            if not resp.get("IsTruncated"):
                break
            token = resp.get("NextContinuationToken")
        return sorted(out)

    def delete_file(self, path: str) -> None:
        bucket, key = self._parse(path)
        self._s3.delete_object(Bucket=bucket, Key=key)

    def file_age_s(self, path: str) -> float:
        bucket, key = self._parse(path)
        try:
            head = self._s3.head_object(Bucket=bucket, Key=key)
        except Exception as exc:
            # Missing key only (see file_size): a transient HEAD error
            # folding to age=inf would let vacuum GC a live in-flight
            # file as "stale staging".
            if _is_missing_key_error(exc):
                return float("inf")
            raise
        lm = head["LastModified"]
        return max(0.0, time.time() - lm.timestamp())

    def dir_age_s(self, path: str) -> float | None:
        """Object store: a "directory" is a name prefix, not an entity
        with its own mtime — an empty prefix holds no bytes, so there
        is nothing to sweep and nothing to age-gate.  Always None."""
        return None

    def remove_dir(self, path: str) -> None:
        """No directory objects on an object store — deleting the last
        key under a prefix already removed the "directory"."""
        return None

    def file_size(self, path: str) -> int:
        bucket, key = self._parse(path)
        try:
            return int(
                self._s3.head_object(Bucket=bucket, Key=key)["ContentLength"]
            )
        except Exception as exc:
            # ONLY a missing key folds to 0 (mirroring LocalFsOps'
            # OSError-only handling).  Swallowing transient HEAD
            # failures would make compaction_advice see avg_mb≈0 and
            # recommend a full-table rewrite, and would collapse
            # compact_manifest's n_target to one giant output file.
            if _is_missing_key_error(exc):
                return 0
            raise


def restore_manifest(
    root: str, version: int, max_retries: int = 5, fs: FsOps | None = None
) -> int:
    """Rollback for manifest tables — PURE metadata: the new manifest
    re-lists the restored snapshot's files (and carries its stats), no
    data moves at any table size.  History is never rewritten; the bad
    versions stay inspectable until vacuum.  Returns the new version."""
    table = ManifestTable(root, fs=fs) if fs is not None else ManifestTable(root)
    table.sync_view()
    for _attempt in range(max_retries):
        base = table.current_version()
        if base is None:
            raise ValueError(f"{root} has no committed manifest")
        man = table.manifest(version)  # raises if not retained
        if version == base:
            return base
        schema = StructType.fromJson(json.loads(man["schema"]))
        if table._claim(
            base + 1,
            list(man["files"]),
            schema,
            man["partition_cols"],
            stats=man.get("stats"),
            stats_col=_man_stats_cols(man) or None,
            dvs=man.get("dvs"),
            op=f"restore(v{version})",
        ):
            table.publish(base + 1)
            return base + 1
    raise ConcurrentWriteError(
        f"restore of {root} lost the version-claim race {max_retries} times"
    )


def compaction_advice(
    root: str,
    max_files: int = 64,
    small_file_mb: float = 8.0,
    fs: FsOps | None = None,
) -> dict:
    """Metadata-only compaction policy for a manifest table: decide from
    the CURRENT manifest (file count) and per-file sizes whether a
    rewrite pays — the cron-safe guard that keeps ``-s autocompact``
    from burning a full table rewrite on an already-healthy layout.

    Recommends compaction when the snapshot lists more than
    ``max_files`` files OR its mean data-file size is under
    ``small_file_mb`` (with more than one file).  Costs one manifest
    read plus O(files) size lookups (``stat`` locally, HEAD on S3) —
    never a data scan.

    Returns ``{version, n_files, total_mb, avg_mb, recommend, reason}``.
    """
    table = ManifestTable(root, fs=fs) if fs is not None else ManifestTable(root)
    version = table.current_version()
    if version is None:
        return {"version": None, "n_files": 0, "total_mb": 0.0,
                "avg_mb": 0.0, "recommend": False, "reason": "no commits"}
    man = table.manifest(version)
    files = man["files"]
    total = sum(
        table.fs.file_size(os.path.join(table.files_dir, rel))
        for rel in files
    )
    n = len(files)
    total_mb = round(total / 1048576.0, 3)
    avg_mb = round(total_mb / n, 3) if n else 0.0
    if n > max_files:
        rec, reason = True, f"{n} files > max_files={max_files}"
    elif n > 1 and avg_mb < small_file_mb:
        rec, reason = True, (
            f"avg file {avg_mb} MB < small_file_mb={small_file_mb}"
        )
    else:
        rec, reason = False, "layout healthy"
    return {"version": version, "n_files": n, "total_mb": total_mb,
            "avg_mb": avg_mb, "recommend": rec, "reason": reason}


def convert_to_manifest(
    spark: SparkSession,
    src_dir: str,
    root: str,
    stats_col: str | list[str] | None = None,
) -> int:
    """Adopt an EXISTING plain (optionally hive-partitioned) parquet
    directory as a table — the ``CONVERT TO DELTA`` analog.

    No data bytes move: every data file is HARD-LINKED into the table's
    ``_files/`` layout preserving its partition relpath, per-file stats
    come off the parquet footers (plus Bloom bitmaps for ``bloom:<col>``
    declarations), partition columns are inferred from ``key=value``
    path segments, and ONE manifest claim commits the whole adoption —
    readers either see the full converted table or no table.

    ``src_dir == root`` adopts a pre-protocol table in place (every writer
    does this on its first write): after the claim, publishing the view
    parks the plain directory aside and swaps the root symlink in.  A
    crash before the claim leaves the plain directory as it was; a crash
    after it is rolled forward (:meth:`ManifestTable.sync_view`).
    Otherwise ``src_dir`` is left untouched (links share the bytes) and
    ``root`` must not exist yet.

    Local filesystems only (hard links are the zero-copy primitive; an
    object store has no rename-free adoption — copy into place with
    ``append_manifest`` instead).  Fails if ``root`` already has a
    committed manifest.
    """
    if _is_object_uri(src_dir) or _is_object_uri(root):
        raise NotImplementedError(
            "convert_to_manifest adopts via hard links and is local-only; "
            "for object stores write through append_manifest"
        )
    table = ManifestTable(root)
    src = src_dir.rstrip("/")
    if table.current_version() is not None:
        raise ValueError(f"{root} already has a committed manifest")
    if src != table.root and os.path.lexists(table.root):
        raise ValueError(f"{root} already exists")
    # Schema (including hive partition columns) from ONE Spark read of
    # the source layout.
    schema = spark.read.parquet(src).schema
    pairs = _staged_files(LocalFsOps(), src)
    if not pairs:
        raise ValueError(f"{src_dir} contains no data files to adopt")
    pcols: list[str] | None = None
    for _path, rel in pairs:
        segs = [s.split("=", 1)[0] for s in rel.split(os.sep)[:-1] if "=" in s]
        if pcols is None:
            pcols = segs
        elif segs != pcols:
            raise ValueError(
                f"inconsistent hive partitioning under {src_dir}: "
                f"{segs} vs {pcols}"
            )
    return _adopt_files(table, sorted(pairs), schema, pcols or [], stats_col, "convert")


def _adopt_files(
    table: ManifestTable,
    pairs: list[tuple[str, str]],
    schema: StructType,
    pcols: list[str],
    stats_col,
    op: str,
) -> int:
    """Hard-link ``(source path, relpath)`` files into ``_files/`` and
    commit them as version 1 — the one adoption commit behind
    :func:`convert_to_manifest` and the Delta converter.  A link left by
    an earlier crashed adoption is reused; adopted files predate the
    protocol and are fsync'd before the claim."""
    rels: list[str] = []
    stats: dict = {}
    for path, rel in pairs:
        if stats_col:
            stats[rel] = _file_stats(path, stats_col)
        dest = os.path.join(table.files_dir, rel)
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        try:
            os.link(path, dest)
        except FileExistsError:
            # a prior crashed adoption left this link; same inode is
            # fine, anything else is a foreign file collision
            if not os.path.samefile(path, dest):
                raise
        except OSError:
            shutil.copy2(path, dest)  # cross-device fallback
        _fsync_path(dest)
        rels.append(rel)
    if not table._claim(
        1, rels, schema, pcols,
        stats=stats if stats_col else None,
        stats_col=stats_col, op=op,
    ):
        raise ConcurrentWriteError(f"{op} into {table.root} lost the claim race")
    table.publish(1)
    return len(rels)
