"""Cost-based optimization surface (SURVEY.md §2 A-family adjunct):
``ANALYZE TABLE ... COMPUTE STATISTICS`` + stats-driven join planning.

Everywhere else in the repo, join strategy is pinned by explicit
``broadcast()`` hints plus AQE. This module demonstrates the third leg:
catalog statistics. Tables are registered as EXTERNAL parquet tables
(metadata only — no data copy), ANALYZE populates row counts and
column NDV/min/max, and the query itself carries NO join hints — join
order and broadcast choice come from the CBO cost model
(``spark.sql.cbo.enabled`` / ``joinReorder``) over those stats.

Scale notes (100 TB): this is exactly the production path for
fact-to-fact joins where no side is obviously broadcastable at plan
time — size-in-bytes heuristics see the unfiltered scan, while column
stats let Catalyst estimate post-filter cardinalities and reorder a
bushy join accordingly. tests/test_plan_quality.py pins that the
stats are present and the plan broadcasts the dimension sides without
any hint in this file.
"""

from __future__ import annotations

from nipd_spark.catalog import dataset_tag

from pyspark.sql import DataFrame, SparkSession

from nipd_spark.oracle import dround
from nipd_spark.registry import query
from nipd_spark.session import child_session


def stats_table(spark: SparkSession, sf_dir: str, name: str) -> str:
    """External parquet table over the corpus file, with full statistics.

    Idempotent per (session, sf_dir): CREATE + ANALYZE run once; stats
    live in the session catalog (row count + per-column NDV/min/max).
    """
    tag = dataset_tag(sf_dir, "cbo")
    tbl = f"cbo_{name}_{tag}"
    if not spark.catalog.tableExists(tbl):
        spark.sql(
            f"CREATE TABLE {tbl} USING parquet "
            f"LOCATION '{sf_dir}/{name}.parquet'"
        )
        spark.sql(f"ANALYZE TABLE {tbl} COMPUTE STATISTICS FOR ALL COLUMNS")
    return tbl


# the cost model these queries plan under, carried by their own child
# session (session.child_session) so it never leaks into the caller's
_CBO = {"spark.sql.cbo.enabled": "true", "spark.sql.cbo.joinReorder.enabled": "true"}


@query(
    "cbo1_stats_join_reorder",
    sql=f"""
    SELECT n.n_name AS nation, count(*) AS n_orders,
           {dround("sum(o.o_totalprice)")} AS total_price
    FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderstatus = 'O'
    GROUP BY n.n_name
    """,
    tags=("A1", "J6"),
)
def cbo1_stats_join_reorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hint-free 3-way join planned from ANALYZE statistics.

    Written fact-first with no broadcast() calls; the CBO's stats-based
    cost model (not a hint, not raw file size of a filtered scan) makes
    customer and nation the build sides.
    """
    spark = child_session(spark, _CBO)
    o = stats_table(spark, sf_dir, "orders")
    c = stats_table(spark, sf_dir, "customer")
    n = stats_table(spark, sf_dir, "nation")
    from pyspark.sql import functions as F

    return (
        spark.table(o)
        .filter(F.col("o_orderstatus") == "O")
        .join(spark.table(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(spark.table(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("total_price"),
        )
    )


@query(
    "cbo2_filter_cardinality",
    sql=f"""
    SELECT l.l_returnflag, count(*) AS n, {dround("sum(l.l_extendedprice)")} AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_totalprice > 400000.0
    GROUP BY l.l_returnflag
    """,
    tags=("A1", "J1"),
)
def cbo2_filter_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-to-fact join where only column stats reveal the broadcast.

    orders and lineitem are both 'big' by file size; the o_totalprice
    min/max stats let the CBO estimate the filtered orders side as small
    enough to build a broadcast hash join — the plan heuristics alone
    (size-in-bytes of the unfiltered scan) would shuffle both sides.
    """
    spark = child_session(spark, _CBO)
    li = stats_table(spark, sf_dir, "lineitem")
    o = stats_table(spark, sf_dir, "orders")
    from pyspark.sql import functions as F

    return (
        spark.table(li)
        .join(
            spark.table(o).filter(F.col("o_totalprice") > 400000.0),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("l_extendedprice"), 4).alias("revenue"),
        )
    )
