"""Versioned Parquet snapshot tables — the Delta-substitute storage
layer for the three-layer warehouse.

Snowflake gives the reference transactional tables + streams; OSS
Spark + Parquet has neither, so each managed table is a directory of
immutable versioned snapshots:

    <root>/<layer>/<table>/v=<n>/   (parquet)
    <root>/<layer>/<table>/_latest  (atomic pointer file)

Writes produce v=n+1 and then atomically swap the pointer (write
tmp + rename — atomic on POSIX and object stores with atomic rename;
on S3 you'd point this at a manifest commit, same contract). Readers
resolve the pointer once, so a reader racing ONE writer never tears:
the version it resolved stays on disk for ``keep_versions-1`` further
writes. Retention is therefore a REAL boundary, the same one Delta's
VACUUM has: a lazy DataFrame held across more than ``keep_versions-1``
subsequent writes references pruned files and fails on evaluation
(write() clamps keep_versions to >= 2 so the change-feed diff of
v_latest vs v_latest-1 — C2 — is always safe across a single
interleaved write). Writer-writer races are excluded by an exclusive
flock on a sibling ``<dir>.writerlock`` held across
version-compute → write → pointer swap → prune (review r8: two
unlocked writers could both claim v=n+1, one overwriting the other's
files while the pointer pointed at them).

Reads run no Spark job. Every Spark write leaves at least one
``part-*`` file — a 0-row write too — whose Parquet footer carries the
written schema under ``org.apache.spark.sql.parquet.row.metadata``;
read() takes the schema from there on the driver (pyarrow) and hands
it to ``spark.read.schema(...)``, so Spark skips its schema-inference
job. The result equals the inferred schema (Spark makes a file
source's schema nullable either way). A version directory with no part
file or no key raises, as ``spark.read.parquet`` raises on an empty
directory.

At 100 TB you would swap this class for Delta/Iceberg and keep every
caller unchanged — the API (read/write/read_previous) is the contract.
"""

from __future__ import annotations

import contextlib
import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

#: footer key under which Spark's Parquet writer stores the row schema
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without the schema-inference job:
    the schema comes from the footer of the first ``part-*`` file."""
    import pyarrow.parquet as pq

    first = min(f for f in os.listdir(path) if f.startswith("part-"))
    raw = pq.read_metadata(os.path.join(path, first)).metadata[_SPARK_SCHEMA_KEY]
    return spark.read.schema(StructType.fromJson(json.loads(raw))).parquet(path)


class SnapshotTable:
    def __init__(self, root: str, name: str):
        self.dir = os.path.join(root, name)
        self.name = name

    def _pointer(self) -> str:
        return os.path.join(self.dir, "_latest")

    def latest_version(self) -> int | None:
        try:
            with open(self._pointer()) as f:
                return int(f.read().strip())
        except (FileNotFoundError, ValueError):
            return None

    def exists(self) -> bool:
        return self.latest_version() is not None

    def _path(self, version: int) -> str:
        return os.path.join(self.dir, f"v={version}")

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame | None:
        v = self.latest_version() if version is None else version
        if v is None:
            return None
        return _read_parquet(spark, self._path(v))

    def read_previous(self, spark: SparkSession) -> DataFrame | None:
        v = self.latest_version()
        if v is None or v <= 0:
            return None
        prev = self._path(v - 1)
        return _read_parquet(spark, prev) if os.path.exists(prev) else None

    @contextlib.contextmanager
    def _writer_lock(self):
        """Exclusive advisory lock for the whole write transaction
        (same recipe as BucketPrunedMergeBackend: sibling file so no
        table operation can delete it; only EWOULDBLOCK retries)."""
        import fcntl
        import time

        parent = os.path.dirname(os.path.abspath(self.dir))
        os.makedirs(parent, exist_ok=True)
        fd = os.open(
            os.path.abspath(self.dir).rstrip("/") + ".writerlock",
            os.O_CREAT | os.O_RDWR,
            0o644,
        )
        try:
            deadline = time.monotonic() + 60.0
            while True:
                try:
                    fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                    break
                except BlockingIOError as e:
                    if time.monotonic() >= deadline:
                        raise RuntimeError(
                            f"SnapshotTable {self.name}: another writer "
                            "holds the table lock after 60 s — concurrent "
                            "snapshot writes are not supported."
                        ) from e
                    time.sleep(0.05)
            yield
        finally:
            os.close(fd)

    def write(self, df: DataFrame, keep_versions: int = 2) -> int:
        """Write the next snapshot version and swing the pointer.
        Returns the new version number. Runs under the writer lock
        (two unlocked writers would both claim v=n+1); keep_versions
        is clamped to >= 2 so the just-superseded version — what
        read_previous() and the change feed reference — always
        survives the write that supersedes it."""
        with self._writer_lock():
            v = self.latest_version()
            new_v = 0 if v is None else v + 1
            df.write.mode("overwrite").parquet(self._path(new_v))
            tmp = self._pointer() + ".tmp"
            os.makedirs(self.dir, exist_ok=True)
            with open(tmp, "w") as f:
                f.write(str(new_v))
            os.replace(tmp, self._pointer())  # atomic pointer swap
            self._prune(new_v, max(int(keep_versions), 2))
            return new_v

    def _prune(self, latest: int, keep: int) -> None:
        import shutil

        for entry in os.listdir(self.dir):
            if entry.startswith("v="):
                ver = int(entry.split("=", 1)[1])
                if ver <= latest - keep:
                    shutil.rmtree(os.path.join(self.dir, entry), ignore_errors=True)
