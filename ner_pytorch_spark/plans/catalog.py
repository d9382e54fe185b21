"""Snapshot-versioned table store: Iceberg when available, parquet else.

The north rule wants Iceberg tables with checkpoint-resume per snapshot.
The catalog abstracts the two backends behind one interface:

* **iceberg** — tables go through ``writeTo(...)`` against a configured
  ``spark.sql.catalog.<name>`` (Iceberg runtime jars on the classpath,
  i.e. a real cluster); a commit is an Iceberg REPLACE/CREATE snapshot,
  ``read(snapshot=...)`` is a snapshot-id time-travel read, and
  ``latest_snapshot`` queries the table's ``.snapshots`` metadata.
* **parquet** — snapshot = an immutable directory
  ``<root>/<table>/snap-<n>/`` plus a ``_latest`` pointer file; commit
  is write-new-dir-then-atomically-replace-pointer, which gives the
  same resume semantics (a killed job never corrupts the last published
  snapshot; re-running re-publishes idempotently). This sandbox ships
  no Iceberg jars, so tests drive the iceberg branch through the API
  seam (recorded writer calls) and the parquet branch for real.

Snapshot bookkeeping runs no Spark job: ``read`` hands Spark the schema
Spark itself stored in the snapshot's parquet footer (no inference
job), and ``file_row_counts`` reads per-file row counts from the
footers (Iceberg: from the ``files`` metadata table).

Resumability contract (tested): resume-from-snapshot output ==
single-run output, byte-identical.
"""

from __future__ import annotations

import json
import os
import re

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# the schema Spark writes into every parquet footer it produces
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"
# a data file's write-task partition id: Spark's ``part-00003-<uuid>…``
# and Iceberg's ``00003-<task>-<uuid>….parquet``
_FILE_PARTITION = re.compile(r"^(?:part-)?(\d+)-")


def _write_partition(path: str) -> int:
    m = _FILE_PARTITION.match(os.path.basename(path))
    if m is None:
        raise ValueError(f"data file name carries no partition id: {path!r}")
    return int(m.group(1))


class SnapshotCatalog:
    def __init__(self, spark: SparkSession, root: str, use_iceberg: bool = False,
                 catalog_name: str = "local", namespace: str = "kg"):
        self.spark = spark
        self.root = root
        self.use_iceberg = use_iceberg
        self.catalog_name = catalog_name
        self.namespace = namespace
        if use_iceberg:
            # fail fast on a missing catalog config — a writeTo() against
            # an unconfigured catalog only errors at first commit
            try:
                conf = spark.conf.get(f"spark.sql.catalog.{catalog_name}", None)
            except Exception:
                conf = None
            if not conf:
                raise RuntimeError(
                    f"use_iceberg=True needs spark.sql.catalog.{catalog_name} "
                    "configured (Iceberg runtime jars + catalog impl); "
                    "omit it for the parquet snapshot backend")
        else:
            os.makedirs(root, exist_ok=True)

    # ----------------------------------------------------------- paths
    def _table_dir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _pointer(self, table: str) -> str:
        return os.path.join(self._table_dir(table), "_latest")

    def _ident(self, table: str) -> str:
        """Fully-qualified Iceberg identifier for ``table``."""
        return f"{self.catalog_name}.{self.namespace}.{table}"

    def latest_snapshot(self, table: str) -> int | None:
        if self.use_iceberg:
            if not self.exists(table):
                return None
            row = self.spark.sql(
                f"SELECT snapshot_id FROM {self._ident(table)}.snapshots "
                "ORDER BY committed_at DESC, snapshot_id DESC LIMIT 1").first()
            return None if row is None else int(row[0])
        p = self._pointer(table)
        if not os.path.exists(p):
            return None
        with open(p) as fh:
            return json.load(fh)["snapshot"]

    def snapshot_path(self, table: str, snapshot: int) -> str:
        return os.path.join(self._table_dir(table), f"snap-{snapshot:06d}")

    # ------------------------------------------------------------- api
    def exists(self, table: str) -> bool:
        if self.use_iceberg:
            return self.spark.catalog.tableExists(self._ident(table))
        return self.latest_snapshot(table) is not None

    def commit(self, table: str, df: DataFrame) -> int:
        """Write a new immutable snapshot, then atomically publish it.

        Iceberg: ``createOrReplace`` — one atomic REPLACE (or CREATE)
        snapshot; the returned id is the table's new current snapshot.
        Parquet: write a fresh ``snap-<n>`` dir, then atomically swap the
        ``_latest`` pointer.
        """
        if self.use_iceberg:
            df.writeTo(self._ident(table)).using("iceberg").createOrReplace()
            return self.latest_snapshot(table)
        prev = self.latest_snapshot(table)
        snap = 0 if prev is None else prev + 1
        path = self.snapshot_path(table, snap)
        df.write.mode("overwrite").parquet(path)
        tmp = self._pointer(table) + ".tmp"
        os.makedirs(self._table_dir(table), exist_ok=True)
        with open(tmp, "w") as fh:
            json.dump({"snapshot": snap, "path": path}, fh)
        os.replace(tmp, self._pointer(table))  # atomic publish
        return snap

    def read(self, table: str, snapshot: int | None = None) -> DataFrame:
        if self.use_iceberg:
            reader = self.spark.read
            if snapshot is not None:
                reader = reader.option("snapshot-id", snapshot)
            return reader.table(self._ident(table))
        path = self._snapshot_dir(table, snapshot)
        footer = pq.read_metadata(self._data_files(path)[0]).metadata
        schema = StructType.fromJson(json.loads(footer[_SPARK_SCHEMA_KEY]))
        return self.spark.read.schema(schema).parquet(path)

    def file_row_counts(self, table: str,
                        snapshot: int | None = None) -> list[tuple[int, int]]:
        """``(partition_id, n_rows)`` per non-empty data file of a
        committed snapshot (latest if ``snapshot`` is None), without a
        Spark job. ``partition_id`` is the write task that produced the
        file, read from the file name.

        Parquet: each file's footer row count. Iceberg: one query on the
        table's ``files`` metadata table.
        """
        if self.use_iceberg:
            version = "" if snapshot is None else f" VERSION AS OF {snapshot}"
            rows = self.spark.sql(
                f"SELECT file_path, record_count FROM {self._ident(table)}"
                f".files{version}").collect()
            counts = ((r[0], int(r[1])) for r in rows)
        else:
            counts = ((f, pq.read_metadata(f).num_rows) for f in
                      self._data_files(self._snapshot_dir(table, snapshot)))
        return [(_write_partition(f), n) for f, n in counts if n > 0]

    def _snapshot_dir(self, table: str, snapshot: int | None) -> str:
        snap = self.latest_snapshot(table) if snapshot is None else snapshot
        if snap is None:
            raise FileNotFoundError(f"no snapshot for table {table!r}")
        return self.snapshot_path(table, snap)

    @staticmethod
    def _data_files(path: str) -> list[str]:
        """A parquet snapshot's data files, in write-partition order (an
        empty snapshot still holds one zero-row file with the schema)."""
        return sorted(os.path.join(path, f) for f in os.listdir(path)
                      if f.startswith("part-"))

    def read_increment(self, table: str, from_snapshot: int,
                       to_snapshot: int | None = None) -> DataFrame:
        """Rows ADDED between two snapshots (exclusive → inclusive).

        Iceberg: native incremental scan
        (``start-snapshot-id``/``end-snapshot-id`` read options — only
        the appended files are read). Parquet backend: snapshots are
        full copies, so the increment is ``to ∖ from`` (exceptAll —
        multiset semantics, duplicate-tolerant). Powers incremental
        downstream processing: resume consumers that only want NEW pages
        since their last processed snapshot.
        """
        if self.use_iceberg:
            reader = (self.spark.read
                      .option("start-snapshot-id", from_snapshot))
            if to_snapshot is not None:
                reader = reader.option("end-snapshot-id", to_snapshot)
            return reader.table(self._ident(table))
        new = self.read(table, to_snapshot)
        old = self.read(table, from_snapshot)
        return new.exceptAll(old)

    def append_rows(self, table: str, df: DataFrame) -> int:
        """Append = new snapshot containing old ∪ new rows.

        Iceberg appends natively (one APPEND snapshot); the parquet
        backend unions with the latest snapshot and re-commits.
        """
        if self.use_iceberg:
            if self.exists(table):
                df.writeTo(self._ident(table)).append()
                return self.latest_snapshot(table)
            return self.commit(table, df)
        if self.exists(table):
            df = self.read(table).unionByName(df)
        return self.commit(table, df)
