"""Write-audit-publish on plain parquet, with dry-run and provenance.

The reference wraps every bulk load in a transaction that attaches an
ObjectMeta provenance row and rolls back under GERRYDB_DRY_RUN
(/root/reference/gerrydb_etl/db.py:24-69). On a filesystem store the
same contract is write-audit-publish:

    stage:   write the new table version to  <root>/v=<n>_<uuid>/
    audit:   run caller validations against the staged files
    publish: atomically point <root>/_CURRENT at the staged version
             (write-temp + os.replace — atomic on POSIX)

A failed audit or dry_run=True leaves the staged directory behind
(inspectable) but never moves the pointer — readers only ever see
fully-written versions. This is the plain-parquet equivalent of the
nested-transaction close+insert in db.py:135, and the pattern Delta/
Iceberg implement with manifest files.

Scale: publish cost is O(1) (one pointer write) regardless of table
size; concurrent readers hold the version they resolved at read
time (snapshot isolation per query). No Spark job re-derives what
the parquet footers already hold: the staged version's row count
(`_meta.json` "rows") is the sum of its part files' footer row
counts, and read() takes its schema from `footer_schema`, both read
on the driver in O(files) with no schema-inference job. The audits
read the staged files with the written frame's own schema, so a
write runs only the write job and the audits' jobs. The streaming
sinks (streaming/stream.py) read the directories they wrote through
`footer_schema` too.
"""

from __future__ import annotations

import hashlib
import json
import os
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
        source_fingerprint: str | None = None,
        dry_run: bool = False,
    ) -> str:
        """Stage df, audit it, publish unless dry_run. Returns the
        staged version directory name."""
        version = f"v_{uuid.uuid4().hex[:12]}"
        stage_dir = os.path.join(self.root, version)
        df.write.mode("errorifexists").parquet(stage_dir)

        staged = self.spark.read.schema(df.schema).parquet(stage_dir)
        for audit in audits or []:
            try:
                audit(staged)
            except AssertionError as exc:
                raise AuditError(f"audit failed for {version}: {exc}") from exc

        meta = {
            "meta_id": version,
            "notes": notes,
            "created_at": datetime.now(timezone.utc).isoformat(),
            "source_fingerprint": source_fingerprint,
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
        version = self.current_version()
        if version is None:
            raise FileNotFoundError(f"no published version in {self.root}")
        path = os.path.join(self.root, version)
        return self.spark.read.schema(footer_schema(path)).parquet(path)

    def meta(self) -> dict | None:
        version = self.current_version()
        if version is None:
            return None
        with open(os.path.join(self.root, version, META_FILE)) as f:
            return json.load(f)


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
