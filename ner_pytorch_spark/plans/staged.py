"""Shared machinery for checkpoint-resumable, snapshot-staged plans.

Both multi-stage plans in this package — :class:`~.kg_pipeline.KGPipeline`
(pages → triples, the north rule) and
:class:`~.corpus_prep.CorpusPrepPipeline` (raw docs → training-ready
corpus) — commit every stage through a :class:`~.catalog.SnapshotCatalog`
and append per-stage metrics plus lineage rows (the rows each write
partition committed), so a run can resume from the last committed
snapshot after a failure and an auditor can replay where every row
count came from (north rule: "resumable from checkpoint with
per-partition lineage + metrics"). The bookkeeping reads the committed
snapshot's metadata and runs no Spark job of its own.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession

from .catalog import SnapshotCatalog


class SnapshotStagedPlan:
    """Base: snapshot-committed stages with metrics + lineage rows."""

    def __init__(self, spark: SparkSession, catalog_root: str):
        self.spark = spark
        self.catalog = SnapshotCatalog(spark, catalog_root)
        self._pending_metrics: list[tuple] = []
        self._pending_lineage: list[tuple] = []
        self._temp_persists: list[DataFrame] = []

    # ------------------------------------------------------------ util
    def _metric(self, stage: str, n_rows: int, seconds: float) -> None:
        self._pending_metrics.append((stage, int(n_rows), float(seconds)))

    def _stage(self, name: str, resume: bool, build) -> DataFrame:
        """Run one stage unless its snapshot already exists (resume).

        Post-commit bookkeeping runs zero Spark jobs, so a stage costs
        exactly the jobs of its build and its snapshot write. The
        lineage rows are the committed snapshot's rows per written data
        file, keyed by the write partition (task) that produced the
        file, and the stage's metric row count is their sum; both come
        from ``catalog.file_row_counts`` (parquet footers / Iceberg
        ``files`` table), and the snapshot is re-read with its stored
        schema (no inference job). Metric/lineage rows are BUFFERED and
        written once per run (``_flush_bookkeeping``): the parquet
        catalog's append re-reads and re-writes the whole table, so one
        append per stage per table cost ~14 grow-and-rewrite jobs per
        pipeline run. The snapshots themselves still commit per stage —
        resumability (catalog.exists) is unaffected; only the audit rows
        of a crashed run's completed stages are deferred.
        """
        if resume and self.catalog.exists(name):
            return self.catalog.read(name)
        t0 = time.time()
        snap = self.catalog.commit(name, build())
        files = self.catalog.file_row_counts(name, snap)
        self._metric(name, sum(n for _, n in files), time.time() - t0)
        self._pending_lineage.extend((name, pid, n) for pid, n in files)
        return self.catalog.read(name, snap)

    def _flush_bookkeeping(self) -> None:
        """Write buffered metric/lineage rows (one append per table) and
        release any stage-internal persisted intermediates."""
        if self._pending_metrics:
            self.catalog.append_rows("_metrics", self.spark.createDataFrame(
                self._pending_metrics,
                "stage string, n_rows long, seconds double"))
            self._pending_metrics = []
        if self._pending_lineage:
            self.catalog.append_rows("_lineage", self.spark.createDataFrame(
                self._pending_lineage,
                "stage string, partition_id int, n_rows long"))
            self._pending_lineage = []
        for df in self._temp_persists:
            df.unpersist(blocking=False)
        self._temp_persists = []
