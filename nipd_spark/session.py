"""SparkSession factory with the cross-engine discipline from SURVEY.md §1.2/§4.2.

Pins that keep the DuckDB differential oracle stable:
  - session timezone UTC (parquet timestamps render identically both engines)
  - no TIMESTAMP_NTZ inference: parquet timestamps read as TimestampType
  - ANSI mode on (Spark 4 default; DuckDB is ANSI-like)
  - Arrow enabled (pandas-UDF / toPandas fast path)
  - AQE on with partition coalescing (right-sizes tiny-SF shuffles and
    re-plans skew/broadcast at 100 TB alike)

Scale notes (100 TB): the master is NOT hardcoded — ``SPARK_GRAFT_MASTER``
(or the ``master=`` argument) accepts any Spark master URL
(``spark://host:7077``, ``yarn``, ``k8s://...``); default is
``local[cpus]``. Under ``spark-submit`` (master already set on the
command line / cluster conf) pass ``master=""`` or set
``SPARK_GRAFT_MASTER=""`` to defer entirely to the submit-time config —
see integration/Snakefile for the spark-submit path. Shuffle partition
*count* is deliberately left to AQE (``advisoryPartitionSizeInBytes``
64 MB) instead of a hard-coded number so plans survive a 1000×
scale-up without retuning.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def profile() -> str:
    """The active profile, 'local' (default) or 'scale' (see get_spark).

    Read from the env on every call, not once at session start: query
    builders branch on it per build, and tests switch it in-session."""
    return os.environ.get("SPARK_GRAFT_PROFILE", "local")


def get_spark(
    app_name: str = "nipd_spark",
    cpus: int | None = None,
    master: str | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 8
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    # Python workers unpickle Pandas-UDF closures that reference this
    # package (operators/tdigest, knn, pca, ...); they inherit
    # PYTHONPATH, not the driver's sys.path, so a driver launched from
    # another cwd would hit ModuleNotFoundError on the worker. Export
    # the repo root explicitly (the local-mode equivalent of shipping
    # the package with --py-files / a wheel on a real cluster).
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if repo_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{repo_root}{os.pathsep}{pp}" if pp else repo_root
        )
    # Profile: 'local' (default) = sub-second queries on small SF — AQE OFF
    # (its per-stage re-planning adds ~0.1 s fixed latency per query with
    # nothing to adapt at MB scale); 'scale' = cluster/100 TB posture —
    # AQE ON for runtime coalescing, skew splitting, and plan switching.
    prof = profile()
    aqe = "true" if prof == "scale" else "false"
    builder = SparkSession.builder
    if master:  # empty string = defer to spark-submit's --master
        builder = builder.master(master)
    builder = (
        builder
        .appName(app_name)
        .config(
            "spark.sql.shuffle.partitions",
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "8")
            if prof == "local"
            else "2000",
        )  # scale: high ceiling, AQE coalesces down by advisory size
        .config(
            # local: let file-split count be purely bytes-driven
            # (maxPartitionBytes) instead of padding to core count — a
            # 2 MB file as 32 slivers is pure scheduling overhead. At
            # 'scale', keep the default floor (= cluster parallelism) so
            # medium files still fan out across executors.
            "spark.sql.files.minPartitionNum",
            "1" if prof == "local" else str(cpus),
        )
        .config("spark.sql.adaptive.enabled", aqe)
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # parquet timestamps written with isAdjustedToUTC=false read as
        # TimestampType, whichever table a session loads first (with the
        # tz pinned to UTC the values equal the NTZ reading)
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("NIPD_SPARK_DRIVER_MEM", "8g"))
        .config("spark.sql.shuffle.spill.compress", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
