"""Snapshot-committed tables: the Iceberg-analog storage layer.

The north_star pipeline materializes to "resumable Iceberg commit
snapshots". On a real cluster that's ``df.writeTo(t).append()`` against
an Iceberg catalog; this module is the same COMMIT PROTOCOL over plain
parquet + JSON manifests (atomic visibility, idempotent micro-batch
appends), and swapping the implementation for a real catalog changes no
call sites.

Layout of ``<table_dir>``::

    data/commit=<version>-<nonce>/[<partition_col>=<value>/]part-*.parquet
    snapshots/v<version>.json      immutable manifest chain

Each append is ONE Spark write job into its own ``commit=`` directory
(``partitionBy(partition_col)`` for a partitioned table; a zero-row
commit may leave no data file). Each manifest lists every committed
directory, its parent's plus its own, with the table schema. As in Delta
Lake and Iceberg, the log lists the files and a read is ONE file scan
over them: ``read()`` scans exactly the listed directories under
``data/`` as its base path, so ``commit`` and ``partition_col`` are
partition columns of that one scan, typed by the stored schema (a
predicate never turns into a number). ``read().filter(col == value)`` is
a partition filter, and Spark lists only the matching directories. A
``commit=`` directory no manifest lists (a writer that crashed before
publishing) is never scanned. There is no time travel, compaction or
vacuum: the plan of a read stays one scan however many commits the
table holds.

Commit atomicity: the manifest is staged to a temp name and published
with ``os.link`` (hard link), which fails with EEXIST if that version
was concurrently taken — the loser re-reads the head and retries with
the next version number, exactly Iceberg's optimistic-concurrency
loop. ``os.rename`` would silently clobber on POSIX; ``link`` is the
single-filesystem primitive that refuses to.

Exactly-once streaming: every manifest entry carries its commit's
idempotency key, and ``append(df, idempotency_key=...)`` is a no-op when
the head already lists the key, so a micro-batch replayed after a crash
between two table appends re-commits only what's missing.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


class CommitConflict(RuntimeError):
    """Another writer took this version (surfaced after max retries)."""


class SnapshotTable:
    def __init__(self, spark: SparkSession, table_dir: str,
                 partition_col: str | None = None) -> None:
        self.spark = spark
        self.dir = table_dir
        self.partition_col = partition_col
        self._snap_dir = os.path.join(table_dir, "snapshots")
        self._data_dir = os.path.join(table_dir, "data")
        os.makedirs(self._snap_dir, exist_ok=True)
        os.makedirs(self._data_dir, exist_ok=True)

    def current_version(self) -> int:
        return max((int(name[1:-5]) for name in os.listdir(self._snap_dir)
                    if name.startswith("v") and name.endswith(".json")),
                   default=0)

    def _manifest(self, version: int) -> dict:
        with open(os.path.join(self._snap_dir, f"v{version}.json")) as f:
            return json.load(f)

    def _publish(self, commit: dict, schema: dict,
                 retries: int = 10) -> int:
        """Optimistic-concurrency commit: stage, hard-link to v<N>, on
        EEXIST rebase onto the new head and retry."""
        for _ in range(retries):
            version = self.current_version() + 1
            parent = (self._manifest(version - 1)["commits"]
                      if version > 1 else [])
            tmp = os.path.join(self._snap_dir,
                               f"tmp-{uuid.uuid4().hex}.json")
            with open(tmp, "w") as f:
                json.dump({"version": version, "parent": version - 1 or None,
                           "schema": schema, "commits": parent + [commit]},
                          f, indent=2)
            final = os.path.join(self._snap_dir, f"v{version}.json")
            try:
                os.link(tmp, final)
                os.unlink(tmp)
                return version
            except FileExistsError:
                os.unlink(tmp)     # lost the race: rebase and retry
        raise CommitConflict(f"gave up after {retries} retries: {self.dir}")

    def append(self, df: DataFrame, idempotency_key: str | None = None,
               summary: dict | None = None) -> int | None:
        """Commit ``df`` as a new snapshot appended to the current one.
        Returns the committed version, or None when ``idempotency_key``
        was already committed (the exactly-once replay path: a replayed
        batch short-circuits here before writing)."""
        v = self.current_version()
        if idempotency_key is not None and v > 0 and idempotency_key in {
                c["idempotency_key"] for c in self._manifest(v)["commits"]}:
            return None
        name = f"commit={v + 1}-{uuid.uuid4().hex[:8]}"
        writer = df.write.mode("errorifexists")
        if self.partition_col is not None:
            writer = writer.partitionBy(self.partition_col)
        writer.parquet(os.path.join(self._data_dir, name))
        return self._publish(
            {"dir": name, "idempotency_key": idempotency_key,
             "summary": summary or {}},
            json.loads(df.schema.json()))

    def read(self) -> DataFrame:
        """One file scan over every committed directory. Raises on an
        empty table — callers gate on current_version() > 0."""
        v = self.current_version()
        if v < 1:
            raise ValueError(f"no snapshots committed yet: {self.dir}")
        m = self._manifest(v)
        schema = StructType.fromJson(m["schema"]).add("commit", "string")
        return (self.spark.read.schema(schema)
                .option("basePath", self._data_dir)
                .parquet(*(os.path.join(self._data_dir, c["dir"])
                           for c in m["commits"]))
                .drop("commit"))
