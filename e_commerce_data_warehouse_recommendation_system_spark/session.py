"""SparkSession factory and runtime tuning.

Replaces the reference's execution substrate — Airflow LocalExecutor driving
single-threaded pandas tasks against MySQL + PostgreSQL
(reference: dags/e_commerce_dw_dag.py:28-34, docker-compose.yaml:34) — with a
single Spark driver whose planner (Catalyst + AQE) subsumes both RDBMS
optimizers and the reference's hand-coded batching (SURVEY.md SS4.1).

Scale posture: every setting is chosen to generalize from local mode to a
real cluster — AQE for runtime re-planning, partition coalescing and skew
joins, shuffle partitions set to the session's ``defaultParallelism`` (its
cores: N for ``local[N]``, the executor cores on a cluster), Arrow for any
Python-boundary crossing.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Runtime-settable confs we want regardless of who built the session.
#: spark.sql.session.timeZone=UTC is load-bearing for oracle parity: parquet
#: timestamps are compared against DuckDB's UTC-naive timestamps.
RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # LEGACY-LAYOUT GUARD ONLY: older testdata generations stored events.ts as
    # TIMESTAMP(NANOS), which Spark 4 refuses (PARQUET_TYPE_ILLEGAL) unless
    # read as raw longs; readers.normalize_event_ts then rebuilds the
    # timestamp (ns -> us truncation, same as DuckDB's TIMESTAMP_NS cast).
    # The current testdata ships us-precision TIMESTAMP_NTZ, which this conf
    # does not affect — kept so a nanos-era file still loads correctly.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # dims up to 64 MB broadcast (runtime-settable, so an externally-built
    # session plans star joins the same way get_spark's do)
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # zstd for every parquet the engine writes: ~30% smaller than the snappy
    # default at comparable (de)compression speed — at 100 TB that is tens
    # of TB of storage and shuffle-read bandwidth; built-in codec, readers
    # need nothing special. (ORC writes pass compression explicitly.)
    "spark.sql.parquet.compression.codec": "zstd",
}


def ship_package(spark: SparkSession) -> None:
    """Make this package importable inside Python workers (mapInPandas /
    applyInPandas closures reference module-level functions, which cloudpickle
    serializes by module path — the module must resolve on the executor).

    The driver hands us an externally-built session whose workers don't have
    /root/repo on sys.path, so zip the package and addPyFile it. Idempotent
    per SparkContext. On a real cluster this is the standard --py-files path.
    """
    sc = spark.sparkContext
    if getattr(sc, "_ecomdw_pkg_shipped", False):
        return
    import shutil
    import tempfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    tmp = tempfile.mkdtemp(prefix="ecomdw_pyfiles_")
    zip_path = shutil.make_archive(
        os.path.join(tmp, os.path.basename(pkg_dir)),
        "zip",
        root_dir=os.path.dirname(pkg_dir),
        base_dir=os.path.basename(pkg_dir),
    )
    try:
        sc.addPyFile(zip_path)
    except Exception:
        pass  # e.g. context shutting down; worst case the fake-decode queries fail
    sc._ecomdw_pkg_shipped = True


def _silence_bounded_window_warnings(spark: SparkSession) -> None:
    """Raise WindowExec's log level to ERROR on the driver JVM.

    Every unpartitioned window in this engine runs over a PROVABLY bounded
    domain — distinct market segments / nations / order priorities, or
    O(n_buckets) two-phase key offsets (operators/relational.py two-phase
    surrogate keys, plans/etl.py dimension builds); each site carries a
    bounded-domain comment. Spark still logs
    ``WindowExec: No Partition Defined`` per plan execution, hundreds of
    times per benchmark run, burying real regressions. Filtering the logger (not
    rewriting tiny windows into fake constant partitions) keeps the plans
    honest and the logs readable; a NEW unbounded global window would still
    be caught by the plan tests and perfbench's timings, which is where a
    real one shows up anyway."""
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    except Exception:
        pass  # non-log4j2 host JVM: warnings stay, everything else works


def _size_shuffle_partitions(spark: SparkSession) -> None:
    """Set ``spark.sql.shuffle.partitions`` to the session's
    ``defaultParallelism``: one shuffle partition per core. At the
    engine's table sizes each task's fixed scheduling cost outweighs its
    work, so a wider fan-out only adds tasks; AQE still coalesces small
    partitions and splits skewed ones at run time. The one place the
    value is set: ``get_spark`` and ``tune`` both call it."""
    try:
        spark.conf.set(
            "spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism)
        )
    except Exception:
        pass  # conf locked by the host session; results do not depend on it


def get_spark(
    app_name: str = "ecomdw-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    local-mode defaults; on a cluster the caller passes ``master`` and
    memory settings via spark-submit instead.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
    )
    conf = dict(RUNTIME_CONF)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _size_shuffle_partitions(spark)
    _silence_bounded_window_warnings(spark)
    return spark


def tune(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable engine confs to an externally-built session.

    The verify driver constructs its own SparkSession and hands it to
    ``__spark_entry__``; this makes query results independent of that
    session's defaults (timezone above all), and sizes its shuffle
    partitions to its cores whatever the session had set.
    """
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf locked by the host session; results only need the TZ ones
    _size_shuffle_partitions(spark)
    ship_package(spark)
    _silence_bounded_window_warnings(spark)
    return spark
