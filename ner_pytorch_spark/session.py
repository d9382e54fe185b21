"""SparkSession factory tuned for this engine.

Local-mode testing runs on ``local[N]`` (one JVM); the same settings are
what we would ship to a multi-executor cluster via ``spark-submit
--py-files`` — AQE for runtime re-planning (skew-join splitting, dynamic
partition coalescing), Arrow for the Python-UDF inference stages, and a
shuffle-partition count sized to the core count rather than the 200
default.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# Directory holding the ``ner_pytorch_spark`` package, put first on the
# workers' path so they import the worker daemon from any working directory.
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "ner_pytorch_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` defaults to ``$SPARK_GRAFT_CPUS`` (driver convention) or
    all local cores. ``shuffle_partitions`` defaults to ``cores`` —
    at cluster scale this would instead be sized from input bytes /
    target partition size; AQE coalesces the excess either way.
    """
    # One BLAS thread per python worker: N workers × M BLAS threads
    # oversubscribes the box and DESTROYS scaling of the UDF stage.
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
                "NUMEXPR_NUM_THREADS", "VECLIB_MAXIMUM_THREADS"):
        os.environ.setdefault(var, "1")

    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)

    # Scan split size (guide §6): scale-dependent, so env-parameterised.
    # The local default (16m) exists because driver testdata ships as
    # ONE file per table with few row groups — a 128m split reads the
    # whole 126 MB lineitem serially in one task. On a real cluster with
    # many-file inputs set SPARK_GRAFT_MAX_PARTITION_BYTES to 128m-1g
    # (large sequential scans want FEWER, larger splits; §2.2/§6).
    max_split = os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "16m")

    conf = dict(extra_conf or {})
    worker_path = conf.pop("spark.executorEnv.PYTHONPATH", None)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.files.maxPartitionBytes", max_split)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Inference-stage batch sizing: bounds peak memory of the
        # Arrow-batched tagger (padded [B, L] tensors) independently of
        # partition row counts (SURVEY §4: explicit partition sizing
        # for the inference stage).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        # Python workers fork from ner_pytorch_spark.worker_daemon, which
        # drops the per-task import-cache flush (see that module).
        .config("spark.python.daemon.module", "ner_pytorch_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", os.pathsep.join(
            p for p in (_PACKAGE_PARENT, worker_path) if p))
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def arrow_stage_input(df: DataFrame) -> DataFrame:
    """``df`` coalesced to ``defaultParallelism`` partitions when it is
    small — Catalyst's ``sizeInBytes`` estimate below ``defaultParallelism
    × spark.sql.adaptive.advisoryPartitionSizeInBytes`` — else unchanged.

    Every Python (``mapIn*``) task pays a fixed cost: it unpickles its
    function, and per-task state such as the fused tagger's decode memo
    starts empty. On perfbench kg_fused (20k pages, 4 CPUs, worker daemon
    on) the fused crossing as 12 tasks instead of 4 ran 1.55 instead of
    1.05 task-s of ``py_run_s`` and 28% fewer rows/s, so a small input
    split into more partitions than cores is worth merging. ``coalesce``
    is narrow — no exchange — and a no-op when ``df`` already has at most
    that many partitions.
    Larger inputs keep their scan splits; an unknown size reads as
    ``Long.MaxValue``. Streaming inputs are returned as they are.
    """
    if df.isStreaming:
        return df
    sc = df.sparkSession.sparkContext
    size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    advisory = sc._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        df.sparkSession.conf.get(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes"))
    if size >= sc.defaultParallelism * advisory:
        return df
    return df.coalesce(sc.defaultParallelism)
