"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in the ``nipd_spark`` package; queries register
themselves in ``nipd_spark.registry`` (one entry per SURVEY.md §2
operator, with a DuckDB oracle twin wherever SQL-expressible).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _REPO)
# Spark python workers inherit the driver process env, not the driver's
# sys.path mutations; exporting PYTHONPATH lets workers resolve any
# nipd_spark symbol a closure references, wherever the driver runs from.
os.environ["PYTHONPATH"] = (
    _REPO + os.pathsep + os.environ["PYTHONPATH"]
    if os.environ.get("PYTHONPATH")
    else _REPO
)

from nipd_spark import registry  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from nipd_spark.queries.relational import q1_pricing_summary

    # a session not built by session.get_spark gets the same reading of
    # parquet timestamps (TimestampType, never inferred NTZ), whichever
    # table its first query loads
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    return q1_pricing_summary(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return registry.queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle twin for each SQL-expressible queries() entry."""
    return registry.oracle_sql()
