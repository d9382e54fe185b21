"""SnapshotCatalog: parquet backend for real; Iceberg branch at the API
seam (no Iceberg jars in this sandbox — writer/reader calls are recorded
through fakes; a real-catalog smoke test runs when jars are present)."""

import uuid

import pytest


def _jobs(spark, fn) -> int:
    """Spark jobs ``fn()`` runs, counted under a job group of its own."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


# ------------------------------------------------------------- parquet


def test_parquet_snapshots_and_pointer(spark, tmp_path):
    from ner_pytorch_spark.plans.catalog import SnapshotCatalog

    cat = SnapshotCatalog(spark, str(tmp_path))
    df1 = spark.createDataFrame([(1, "a")], "id int, v string")
    df2 = spark.createDataFrame([(2, "b")], "id int, v string")
    assert not cat.exists("t")
    assert cat.commit("t", df1) == 0
    assert cat.commit("t", df2) == 1
    assert cat.latest_snapshot("t") == 1
    # time travel: old snapshot still readable, latest is df2
    assert [r.v for r in cat.read("t", snapshot=0).collect()] == ["a"]
    assert [r.v for r in cat.read("t").collect()] == ["b"]
    # append = union into a NEW snapshot, previous untouched
    cat.append_rows("t", df1)
    assert cat.latest_snapshot("t") == 2
    assert sorted(r.v for r in cat.read("t").collect()) == ["a", "b"]
    assert [r.v for r in cat.read("t", snapshot=1).collect()] == ["b"]


TYPED = """
    SELECT CAST(id AS INT) AS i,
           array(id, id + 1) AS arr,
           named_struct('x', id, 'y', CAST(id AS STRING)) AS st,
           map('k', id) AS m,
           CAST(id / 7 AS DECIMAL(12, 3)) AS dec,
           TIMESTAMP '2024-02-29 12:34:56' + make_interval(0, 0, 0, 0, 0, 0, id)
             AS ts,
           IF(id % 3 = 0, NULL, 'v') AS s
    FROM range(20)"""


def test_footer_schema_read_matches_inference(spark, tmp_path):
    """``read`` takes the schema from the snapshot's parquet footer; it
    equals what Spark infers (every field nullable) for non-nullable,
    nested, decimal and timestamp columns, and for an empty snapshot."""
    from ner_pytorch_spark.plans.catalog import SnapshotCatalog

    cat = SnapshotCatalog(spark, str(tmp_path))
    df = spark.sql(TYPED).repartition(3)
    assert not all(f.nullable for f in df.schema.fields)
    for table, frame in (("typed", df), ("empty", df.limit(0))):
        snap = cat.commit(table, frame)
        got = cat.read(table)
        inferred = spark.read.parquet(cat.snapshot_path(table, snap))
        assert got.schema == inferred.schema
        assert sorted(got.collect()) == sorted(inferred.collect())
    assert cat.read("empty").count() == 0
    assert cat.file_row_counts("empty") == []


def test_file_row_counts_sum_to_count(spark, tmp_path):
    from ner_pytorch_spark.plans.catalog import SnapshotCatalog

    cat = SnapshotCatalog(spark, str(tmp_path))
    df = spark.range(0, 1000, numPartitions=5).filter("id % 3 = 0")
    snap = cat.commit("t", df)
    counts = cat.file_row_counts("t", snap)
    assert [pid for pid, _ in counts] == [0, 1, 2, 3, 4]
    assert all(n > 0 for _, n in counts)
    assert sum(n for _, n in counts) == cat.read("t").count() == 334
    # a partition that writes no rows leaves no lineage row
    cat.commit("t", spark.range(0, 10, numPartitions=4).filter("id < 2"))
    assert cat.file_row_counts("t") == [(0, 2)]


def test_fresh_catalog_reads_snapshot_without_jobs(spark, tmp_path):
    """Resume path: a new catalog object over an existing root reads a
    committed snapshot without running a Spark job (no schema
    inference) and without a footer-count job."""
    from ner_pytorch_spark.plans.catalog import SnapshotCatalog

    SnapshotCatalog(spark, str(tmp_path)).commit("t", spark.sql(TYPED))
    fresh = SnapshotCatalog(spark, str(tmp_path))
    out = []
    assert _jobs(spark, lambda: out.append(fresh.read("t"))) == 0
    assert _jobs(spark, lambda: fresh.file_row_counts("t")) == 0
    assert out[0].count() == 20


def test_stage_runs_only_its_write_jobs(spark, tmp_path):
    """A staged plan's post-commit bookkeeping (metric row count,
    lineage rows, re-read of the snapshot) runs zero Spark jobs: the
    stage costs exactly the jobs of writing its frame."""
    from ner_pytorch_spark.plans.staged import SnapshotStagedPlan

    df = spark.range(0, 100, numPartitions=4).selectExpr(
        "id", "CAST(id AS STRING) AS s")
    write = _jobs(spark, lambda: df.write.parquet(str(tmp_path / "w")))
    plan = SnapshotStagedPlan(spark, str(tmp_path / "cat"))
    assert _jobs(spark, lambda: plan._stage("t", False, lambda: df)) == write
    assert plan._pending_metrics[0][:2] == ("t", 100)
    assert plan._pending_lineage == [("t", p, 25) for p in range(4)]


# -------------------------------------------------------- iceberg seam


class _Recorder:
    """Chainable fake for DataFrameWriterV2 / DataFrameReader."""

    def __init__(self, log, name):
        self.log, self.name = log, name

    def __call__(self, *a, **k):
        self.log.append((self.name, a))
        return self

    def __getattr__(self, item):
        return _Recorder(self.log, f"{self.name}.{item}")


class _FakeDF:
    def __init__(self, log):
        self.log = log

    def writeTo(self, ident):
        self.log.append(("writeTo", (ident,)))
        return _Recorder(self.log, "writeTo")


class _FakeConf:
    def __init__(self, entries):
        self.entries = entries

    def get(self, key, default=None):
        return self.entries.get(key, default)


class _FakeCatalog:
    def __init__(self, tables):
        self.tables = tables

    def tableExists(self, ident):
        return ident in self.tables


class _FakeSpark:
    def __init__(self, log, tables=(), confs=None):
        self.log = log
        self.catalog = _FakeCatalog(set(tables))
        self.conf = _FakeConf(confs or {})

    def sql(self, q):
        self.log.append(("sql", (q,)))

        class _R:
            def first(self_inner):
                return (777,)

            def collect(self_inner):  # a ``files`` metadata table
                return [("s3://b/kg/t/data/00003-7-ab12-00001.parquet", 5),
                        ("s3://b/kg/t/data/00001-5-cd34-00001.parquet", 0)]
        return _R()

    @property
    def read(self):
        return _Recorder(self.log, "read")


ICEBERG_CONF = {"spark.sql.catalog.local": "org.apache.iceberg.spark.SparkCatalog"}


def test_parquet_incremental_read(spark, tmp_path):
    """read_increment returns exactly the rows appended between two
    snapshots (multiset semantics — duplicates preserved)."""
    from ner_pytorch_spark.plans.catalog import SnapshotCatalog

    cat = SnapshotCatalog(spark, str(tmp_path))
    s0 = cat.commit("t", spark.createDataFrame([(1, "a"), (2, "b")],
                                               "id int, v string"))
    s1 = cat.append_rows("t", spark.createDataFrame([(3, "c"), (2, "b")],
                                                    "id int, v string"))
    s2 = cat.append_rows("t", spark.createDataFrame([(4, "d")],
                                                    "id int, v string"))
    inc01 = sorted(map(tuple, cat.read_increment("t", s0, s1).collect()))
    assert inc01 == [(2, "b"), (3, "c")]  # duplicate (2,b) IS an append
    inc02 = sorted(map(tuple, cat.read_increment("t", s0, s2).collect()))
    assert inc02 == [(2, "b"), (3, "c"), (4, "d")]
    assert cat.read_increment("t", s2).count() == 0  # to=latest default


def test_iceberg_incremental_read_seam(tmp_path):
    from ner_pytorch_spark.plans.catalog import SnapshotCatalog

    log = []
    fs = _FakeSpark(log, tables={"local.kg.t"}, confs=ICEBERG_CONF)
    cat = SnapshotCatalog(fs, str(tmp_path), use_iceberg=True)
    cat.read_increment("t", 10, 20)
    assert any(n == "read.option" and a == ("start-snapshot-id", 10)
               for n, a in log)
    assert any(n.endswith("option") and a == ("end-snapshot-id", 20)
               for n, a in log)
    assert any(n.endswith("table") and a == ("local.kg.t",) for n, a in log)


def test_iceberg_requires_catalog_config():
    from ner_pytorch_spark.plans.catalog import SnapshotCatalog

    with pytest.raises(RuntimeError, match="spark.sql.catalog.local"):
        SnapshotCatalog(_FakeSpark([], confs={}), "/tmp/x", use_iceberg=True)


def test_iceberg_commit_read_append_seam(tmp_path):
    from ner_pytorch_spark.plans.catalog import SnapshotCatalog

    log = []
    fs = _FakeSpark(log, tables={"local.kg.t"}, confs=ICEBERG_CONF)
    cat = SnapshotCatalog(fs, str(tmp_path), use_iceberg=True)

    assert cat.exists("t") and not cat.exists("other")
    assert cat._ident("t") == "local.kg.t"

    snap = cat.commit("t", _FakeDF(log))
    assert ("writeTo", ("local.kg.t",)) in log
    assert any(n == "writeTo.using" and a == ("iceberg",) for n, a in log)
    assert any(n == "writeTo.using.createOrReplace" for n, a in log)
    # commit returns the table's new current snapshot id (from .snapshots)
    assert snap == 777
    assert any(n == "sql" and "local.kg.t.snapshots" in a[0] for n, a in log)

    log.clear()
    cat.read("t", snapshot=42)
    assert any(n == "read.option" and a == ("snapshot-id", 42) for n, a in log)
    assert any(n.endswith("table") and a == ("local.kg.t",) for n, a in log)

    log.clear()
    assert cat.file_row_counts("t", snapshot=42) == [(3, 5)]
    assert ("sql", ("SELECT file_path, record_count FROM "
                    "local.kg.t.files VERSION AS OF 42",)) in log

    log.clear()
    cat.append_rows("t", _FakeDF(log))  # existing table → native append
    assert any(n == "writeTo.append" for n, a in log)
    assert not any("createOrReplace" in n for n, a in log)


def _iceberg_jars_present(spark):
    try:  # Class.forName raises; bare _jvm attr access returns JavaPackage
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def test_iceberg_real_roundtrip_if_jars(spark, tmp_path):
    """Full commit/read/append against a hadoop catalog — runs only when
    the Iceberg runtime is on the classpath (real cluster)."""
    if not _iceberg_jars_present(spark):
        pytest.skip("Iceberg runtime jars not on classpath")
    spark.conf.set("spark.sql.catalog.local",
                   "org.apache.iceberg.spark.SparkCatalog")
    spark.conf.set("spark.sql.catalog.local.type", "hadoop")
    spark.conf.set("spark.sql.catalog.local.warehouse", str(tmp_path))
    from ner_pytorch_spark.plans.catalog import SnapshotCatalog

    cat = SnapshotCatalog(spark, str(tmp_path), use_iceberg=True)
    df = spark.createDataFrame([(1, "a")], "id int, v string")
    s0 = cat.commit("t", df)
    cat.append_rows("t", spark.createDataFrame([(2, "b")], "id int, v string"))
    assert cat.read("t").count() == 2
    assert cat.read("t", snapshot=s0).count() == 1
