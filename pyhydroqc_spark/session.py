"""SparkSession factory tuned for the engine.

Local testing runs ``local[N]``; on a real cluster the same code ships via
``spark-submit --py-files`` (the engine is pure-Python + Arrow UDFs, no jars).

The local sessions ``get_spark`` builds start their Python workers through
``worker_daemon`` (``spark.python.daemon.module``): it takes Spark's
``pyspark.zip``, py4j zip and spark-core jar off the workers' ``sys.path``,
so workers import the installed, byte-compiled pyspark instead of compiling
the zip's sources and re-reading its directory on every Python task. It
falls back to Spark's path when no pyspark and py4j are installed outside
the archives or the installed pyspark's ``version.py`` differs from the
zip's. Sessions built elsewhere (``spark-submit`` on a cluster) keep
Spark's own daemon.

AQE sizes shuffles to their map-output bytes: under the default
``parallelismFirst`` it coalesces a shuffle's partitions toward
max(1 MB ``minPartitionSize``, min(64 MB advisory size, bytes / default
parallelism)). ``canChangeCachedPlanOutputPartitioning`` lets AQE plan
cached frames too (Spark otherwise runs a cached plan without AQE), so
the stream merge's cached partial cells coalesce like any other shuffle.
Bytes do not measure the QC kernel's cost, so the pipeline gives its
kernel exchange an explicit partition count (pipeline.py), which AQE
leaves as it is.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from . import worker_daemon


def get_spark(
    app_name: str = "pyhydroqc-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard config.

    Defaults favor the 100TB design point: AQE on (runtime coalescing +
    skew-join splitting), Arrow enabled for the grouped-map QC UDFs,
    partial aggregation left to Catalyst.
    """
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    # make the package importable in local-mode Python workers regardless of
    # the driver's cwd (a real cluster ships it via spark-submit --py-files)
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_parent + (os.pathsep + pp if pp else "")
        )
    b = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        # local mode runs all executor threads in the driver JVM — size the
        # heap for the thread count, not for a driver-only role
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.python.daemon.module", worker_daemon.__name__)
    )
    # shuffle/spill on tmpfs: at 32 local threads the single overlay disk
    # serializes shuffle writes; RAM-backed local dirs keep scaling honest
    shm = "/dev/shm/spark-local"
    try:
        os.makedirs(shm, exist_ok=True)
        b = b.config("spark.local.dir", shm)
    except OSError:
        pass
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
