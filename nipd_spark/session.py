"""SparkSession factory with the cross-engine discipline from SURVEY.md §1.2/§4.2.

Pins that keep the DuckDB differential oracle stable:
  - session timezone UTC (parquet timestamps render identically both engines)
  - no TIMESTAMP_NTZ inference: parquet timestamps read as TimestampType
  - ANSI mode on (Spark 4 default; DuckDB is ANSI-like)
  - Arrow enabled (pandas-UDF / toPandas fast path)
  - AQE per profile: off under ``local`` (default), on with partition
    coalescing under ``scale`` (re-plans skew/broadcast at 100 TB)

``SPARK_GRAFT_PROFILE`` is read here only, when a session is built;
plan forks ask ``adaptive(spark)`` of the session they run in.

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
    prof = os.environ.get("SPARK_GRAFT_PROFILE", "local")
    aqe = "true" if prof == "scale" else "false"
    builder = SparkSession.builder
    if master:  # empty string = defer to spark-submit's --master
        builder = builder.master(master)
    builder = (
        builder
        .appName(app_name)
        .config(
            "spark.sql.shuffle.partitions",
            "8" if prof == "local" else "2000",
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


def adaptive(spark: SparkSession) -> bool:
    """Whether ``spark`` re-plans at runtime (``spark.sql.adaptive.enabled``,
    on by Spark's default and under the ``scale`` profile): the one
    question every plan fork asks (q3/q5/g1's join hints, t1's reduce
    width, ``catalog.tier_session``'s tier conf), never the env or the
    data size.

    An adaptive session gets no forced broadcast or shuffle-hash hint
    and no tier conf: AQE picks join strategies from runtime sizes and
    coalesces shuffles by advisory size, where a build-time hint would
    be a guess (a fact-sized hash build OOMs where sort-merge spills).
    A static session has no runtime sizes, so the hints and the
    byte-derived tier conf decide there."""
    return spark.conf.get("spark.sql.adaptive.enabled") == "true"


def child_session(spark: SparkSession, overrides: dict[str, str]) -> SparkSession:
    """The session for work that needs its own conf: a clone of
    ``spark`` (same SparkContext) with ``overrides`` set on top, cached
    on ``spark`` per overrides. ``spark`` itself when it already carries
    them, so empty overrides, or a child asked again for its own, cost
    nothing.

    The one rule for work-specific conf (the data tier's split and
    partition sizes, a stream's state partitions, a query's optimizer
    switches): the work runs in a child that carries it, and no engine
    code mutates the session it was handed. Spark reads most of these
    keys when an action runs, not when the DataFrame is built, so a
    conf set and later restored on a shared session silently changes
    plans built in between; a child's conf is fixed for every frame
    built on it.

    ``cloneSession``, not ``newSession``: the clone keeps the parent's
    runtime conf (``__spark_entry__.entry`` sets inferTimestampNTZ at
    runtime), temp views and UDFs, as they stand when the child is
    made; newSession sees builder options only. A clone costs 3-10 ms,
    once per (session, overrides). Temp views, memory-sink tables and
    data sources registered on a child stay in the child."""
    carried = getattr(spark, "_nipd_overrides", {})
    if all(carried.get(k) == v for k, v in overrides.items()):
        return spark
    children = vars(spark).setdefault("_nipd_children", {})
    key = frozenset(overrides.items())
    child = children.get(key)
    if child is None:
        child = SparkSession(
            spark.sparkContext, spark._jsparkSession.cloneSession()  # noqa: SLF001
        )
        for k, v in overrides.items():
            child.conf.set(k, v)
        child._nipd_overrides = {**carried, **overrides}  # noqa: SLF001
        children[key] = child
    return child
