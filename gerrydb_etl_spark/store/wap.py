"""Write-audit-publish on plain parquet, with dry-run and provenance.

The reference wraps every bulk load in a transaction that attaches an
ObjectMeta provenance row and rolls back under GERRYDB_DRY_RUN
(gerrydb_etl/db.py:24-69). On a filesystem store the same contract
is write-audit-publish:

    stage:   put the new table version in  <root>/v_<uuid>/, either
             by writing a DataFrame (`VersionedTable.write`) or by
             hard-linking parquet files that already exist
             (`VersionedTable.link`; a copy where the filesystem
             refuses a link)
    audit:   run caller validations against the staged files
    publish: record the version's `_meta.json`, then atomically point
             <root>/_CURRENT at it (write-temp + os.replace — atomic
             on POSIX)

`write` does both for a frame that carries files (`carry`): an SCD-2
merge onto the untransformed `read()` of a version (store/scd2.py)
returns the new state marked with the previous version's files it
leaves unchanged and the delta of rows it changes. `write` writes
only the delta, if there is one, and hard-links the carried files in
beside it as ``carry-NNNNN.parquet``, names Spark's ``part-*`` files
never take. Every version directory stays one flat, self-contained
parquet dataset, and an identical reload writes no data file.

Both staging steps share the one audit → `_meta.json` → `_CURRENT`
tail. A failed audit or `write(dry_run=True)` leaves the staged directory
behind (inspectable) but never moves the pointer — readers only ever
see fully-written versions. This is the plain-parquet equivalent of
the nested-transaction close+insert in db.py:135, and the pattern
Delta/Iceberg implement with manifest files.

Files are immutable once written: nothing here, and nothing Spark's
writer does, rewrites a parquet file in place (an ``overwrite`` write
unlinks the old names and creates new files). A hard link is
therefore a snapshot: a version whose files are links into a stream's
epoch directories keeps reading the same rows after those directories,
or an older version sharing the files, are deleted.

Scale: publish cost is O(1) (one pointer write) regardless of table
size, and a linked stage is O(files) metadata operations with no Spark
job; concurrent readers hold the version they resolved at read time
(snapshot isolation per query). No Spark job re-derives what the
parquet footers already hold: the staged version's row count
(`_meta.json` "rows") is the sum of its part files' footer row counts,
and read() takes its schema from `footer_schema`, both read on the
driver in O(files) with no schema-inference job. The audits of a
written version read the staged files with the written frame's own
schema, those of a linked version with `footer_schema`, so a publish
runs only its write job (if any) and the audits' jobs. The streaming
sinks (streaming/stream.py) link their committed epochs into a version
and read the directories they wrote through `footer_schema` too. A
carried write costs its delta's write job (none for an identical
reload) and O(carried files) links.
"""
from __future__ import annotations

import errno
import hashlib
import json
import os
import shutil
import uuid
from collections.abc import Callable
from datetime import datetime, timezone

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

CURRENT_POINTER = "_CURRENT"
META_FILE = "_meta.json"
# footer key under which Spark's parquet writer stores the row schema
SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


class AuditError(RuntimeError):
    """An audit check rejected the staged version."""


class VersionedTable:
    """A parquet table with atomic version publication."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- write side ----------------------------------------------------
    def write(
        self,
        df: DataFrame,
        audits: list[Callable[[DataFrame], None]] | None = None,
        notes: str = "",
        dry_run: bool = False,
    ) -> str:
        """Stage df by writing it, audit it, publish unless dry_run.
        A frame `carry` marked (an SCD-2 merge onto a `read()`) is
        staged by writing only its delta, if it has one, and
        hard-linking its carried files in beside it; the audits still
        read the whole staged version. Returns the staged version
        directory name."""
        version = _new_version()
        stage_dir = os.path.join(self.root, version)
        carried = vars(df).get(_CARRY)
        files, delta = carried or ((), df)
        if delta is None:
            os.makedirs(stage_dir)
        else:
            delta.write.mode("errorifexists").parquet(stage_dir)
        for k, src in enumerate(files):
            link_or_copy(src, os.path.join(stage_dir, f"carry-{k:05d}.parquet"))
        staged = self.spark.read.schema(df.schema).parquet(stage_dir)
        return self._audit_and_publish(version, staged, audits, notes, dry_run)

    def link(
        self,
        files: list[str],
        audits: list[Callable[[DataFrame], None]] | None = None,
        notes: str = "",
    ) -> str:
        """Stage existing parquet part files (all written by Spark with
        one schema) as a version by hard-linking them into it, in list
        order, then audit and publish, like `write`. No
        Spark job stages anything; the version shares the files'
        storage and stays readable after their own directories are
        deleted. Where the filesystem refuses a link (another device,
        no hard links), the file is copied. Returns the staged version
        directory name."""
        if not files:
            raise ValueError("a linked version needs at least one parquet file")
        version = _new_version()
        stage_dir = os.path.join(self.root, version)
        os.makedirs(stage_dir)
        for k, src in enumerate(files):
            link_or_copy(src, os.path.join(stage_dir, f"part-{k:05d}.parquet"))
        staged = self.spark.read.schema(footer_schema(stage_dir)).parquet(stage_dir)
        return self._audit_and_publish(version, staged, audits, notes, False)

    def _audit_and_publish(
        self,
        version: str,
        staged: DataFrame,
        audits: list[Callable[[DataFrame], None]] | None,
        notes: str,
        dry_run: bool,
    ) -> str:
        """The tail both staging steps share: run the audits on the
        staged read, record `_meta.json` (rows from the footers), then
        move `_CURRENT` unless dry_run."""
        for audit in audits or []:
            try:
                audit(staged)
            except AssertionError as exc:
                raise AuditError(f"audit failed for {version}: {exc}") from exc

        stage_dir = os.path.join(self.root, version)
        meta = {
            "meta_id": version,
            "notes": notes,
            "created_at": datetime.now(timezone.utc).isoformat(),
            "rows": sum(pq.read_metadata(f).num_rows for f in _data_files(stage_dir)),
        }
        with open(os.path.join(stage_dir, META_FILE), "w") as f:
            json.dump(meta, f)

        if dry_run:
            return version
        self._publish(version)
        return version

    def _publish(self, version: str) -> None:
        tmp = os.path.join(self.root, f".{CURRENT_POINTER}.{uuid.uuid4().hex[:8]}")
        with open(tmp, "w") as f:
            f.write(version)
        os.replace(tmp, os.path.join(self.root, CURRENT_POINTER))  # atomic

    # -- read side -----------------------------------------------------
    def current_version(self) -> str | None:
        ptr = os.path.join(self.root, CURRENT_POINTER)
        if not os.path.exists(ptr):
            return None
        with open(ptr) as f:
            return f.read().strip()

    def read(self) -> DataFrame:
        """The published version, marked with its data files (see
        `version_files`)."""
        version = self.current_version()
        if version is None:
            raise FileNotFoundError(f"no published version in {self.root}")
        path = os.path.join(self.root, version)
        df = self.spark.read.schema(footer_schema(path)).parquet(path)
        setattr(df, _VERSION_FILES, _data_files(path))
        return df

    def meta(self) -> dict | None:
        version = self.current_version()
        if version is None:
            return None
        with open(os.path.join(self.root, version, META_FILE)) as f:
            return json.load(f)


def _new_version() -> str:
    return f"v_{uuid.uuid4().hex[:12]}"


# read() sets this on the frame it returns: the version's data files.
# Any transformation returns a new frame without it, so a frame that
# has it is the whole, untransformed version.
_VERSION_FILES = "_version_files"
# carry() sets this on a merged frame: (files to link, delta or None)
_CARRY = "_carry"


def version_files(df: DataFrame) -> list[str] | None:
    """The data files of the version ``df`` is the untransformed
    `VersionedTable.read()` of, or None for any other frame. Read from
    the object's own attributes: a missing DataFrame attribute would
    otherwise be looked up as a column, a JVM round trip."""
    return vars(df).get(_VERSION_FILES)


def carry(state: DataFrame, files: list[str], delta: DataFrame | None) -> DataFrame:
    """Mark ``state`` (the full new table) as ``files`` (existing part
    files of one schema) plus the rows of ``delta``, so that
    `VersionedTable.write` hard-links the files and writes only the
    delta."""
    setattr(state, _CARRY, (list(files), delta))
    return state


# a filesystem's refusals of a hard link that a copy gets round
_NO_LINK = (errno.EXDEV, errno.EPERM, errno.ENOTSUP)


def link_or_copy(src: str, dst: str) -> None:
    """Hard-link ``src`` at ``dst``, or copy it where the filesystem
    refuses the link (another device, or no hard links)."""
    try:
        os.link(src, dst)
    except OSError as exc:
        if exc.errno not in _NO_LINK:
            raise
        shutil.copyfile(src, dst)


def footer_schema(path: str) -> StructType:
    """The schema ``spark.read.parquet(path)`` would infer for a
    directory Spark's parquet writer wrote, read on the driver from
    the row schema Spark stores in the first part file's footer, so
    no inference job runs. Spark writes at least one part file, even
    for an empty frame. Partition directories are descended; their
    columns are not in the footer, and Spark's partition discovery
    adds them to a read that takes this schema. Every field is
    nullable, as Spark reads every file column."""
    first = _data_files(path)[0]
    while os.path.isdir(first):  # a partition directory
        first = _data_files(first)[0]
    footer = pq.read_metadata(first).metadata
    return StructType.fromJson(_as_nullable(json.loads(footer[SPARK_SCHEMA_KEY])))


def _as_nullable(schema_json):
    """A Spark type's JSON with every struct field, array element and
    map value nullable (Scala's ``DataType.asNullable``)."""
    if isinstance(schema_json, list):
        return [_as_nullable(t) for t in schema_json]
    if not isinstance(schema_json, dict):
        return schema_json
    out = {k: _as_nullable(v) for k, v in schema_json.items()}
    for flag in ("nullable", "containsNull", "valueContainsNull"):
        if flag in out:
            out[flag] = True
    return out


def _data_files(path: str) -> list[str]:
    """A version directory's parquet part files; like Spark, skip
    names starting with '_' or '.' (_SUCCESS, _meta.json, .crc)."""
    return [
        os.path.join(path, name)
        for name in sorted(os.listdir(path))
        if not name.startswith(("_", "."))
    ]


def fingerprint_file(path: str) -> str:
    """SHA-256 of a source file — the provenance fingerprint the
    reference computes on every download (gerrydb_etl/__init__.py:54)."""
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()
