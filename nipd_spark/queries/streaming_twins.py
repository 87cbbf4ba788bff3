"""Streaming operators, batch twins (SURVEY.md §2.10 T1-T3).

``F.window`` / ``F.session_window`` are valid in batch queries with
identical semantics to their streaming use — these twins are the
oracle-checkable half; the live readStream variants (streaming_live.py)
reuse the same aggregation bodies, and tests assert batch == streaming
on the replayed corpus (SURVEY.md §5.2.5).

ts discipline: Spark reads events.ts at µs; the oracle normalizes via
nipd_spark.oracle.ts_us. Both engines' window origins are epoch-aligned
(Spark window() and DuckDB time_bucket).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nipd_spark.catalog import load
from nipd_spark.oracle import dround, ts_us
from nipd_spark.registry import query
from nipd_spark.session import adaptive, child_session


@query(
    "t1_tumbling_hourly",
    sql=f"""
    SELECT time_bucket(INTERVAL '1 hour', {ts_us()}) AS window_start,
           event_type,
           count(*) AS n,
           {dround("sum(value)")} AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    tags=("T1",),
)
def t1_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1 h window agg by event_type (BASELINE.md headline row).

    The hour bucket is computed in µs-epoch long arithmetic
    (``unix_micros`` is a zero-cost reinterpretation of TimestampType's
    internal µs long) and converted back to TimestampType only after the
    aggregation — groups-many casts instead of rows-many. For
    epoch-aligned positive timestamps this is exactly
    ``F.window(ts, '1 hour').start``; the t4 streaming twin keeps
    F.window and tests/test_streaming.py pins result equality.
    """
    hour_us = 3_600_000_000
    # Reduce side is 3,600 groups — a handful of KB. On an adaptive
    # session AQE coalesces the exchange by advisory size at runtime; on
    # a static one make the same decision at plan build: the query runs
    # in a child session with 2 reduce partitions instead of the session
    # default, saving ~6 task launches per run on a query whose cost is
    # the fixed action floor (see BASELINE.md methodology).
    if not adaptive(spark):
        spark = child_session(spark, {"spark.sql.shuffle.partitions": "2"})
    ev = load(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    df = (
        ev.select(
            (us - us % hour_us).alias("bucket_us"),
            "event_type",
            "value",
        )
        .groupBy("bucket_us", "event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.timestamp_micros("bucket_us").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )
    return df


@query(
    "t2_sliding_window",
    sql=f"""
    WITH ev AS (SELECT {ts_us()} AS ts, value FROM events),
    slid AS (
      SELECT time_bucket(INTERVAL '30 minutes', ts)
               - INTERVAL (j * 30) MINUTE AS window_start,
             value
      FROM ev CROSS JOIN (SELECT unnest([0, 1]) AS j)
    )
    SELECT window_start, count(*) AS n, {dround("sum(value)")} AS total_value
    FROM slid
    GROUP BY window_start
    """,
    tags=("T2",),
)
def t2_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1 h window every 30 min — each event lands in exactly 2
    windows; the oracle materializes the slide by offset expansion."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(F.col("window.start").alias("window_start"), "n", "total_value")
    )


@query(
    "t3_session_window",
    sql=f"""
    WITH ev AS (
      SELECT user_id, {ts_us()} AS ts, value,
             epoch_us({ts_us()}) AS us
      FROM events
    ),
    gapped AS (
      SELECT user_id, ts, value, us,
             CASE WHEN us - lag(us) OVER w > 1800000000 OR lag(us) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY us)
    ),
    sessioned AS (
      SELECT user_id, ts, value,
             CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY us) AS BIGINT)
               AS session_id
      FROM gapped
    )
    SELECT user_id, session_id, min(ts) AS session_start, max(ts) AS session_end,
           count(*) AS n_events, {dround("sum(value)")} AS total_value
    FROM sessioned
    GROUP BY user_id, session_id
    """,
    tags=("T3", "W2"),
)
def t3_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-min-gap sessionization via the lag-gap-cumsum pattern — the
    batch twin of session_window (and the FIXTURES.md `sessions` derived
    fixture). session_id is the per-user ordinal of the session.

    Implementation note: built with lag+cumsum (not F.session_window) so
    both engines run the identical algorithm; t4-family live queries use
    F.session_window and tests reconcile the two.
    """
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events").select(
        "user_id", "ts", "value", F.unix_micros("ts").alias("us")
    )
    w = Window.partitionBy("user_id").orderBy("us")
    gapped = ev.withColumn(
        "new_session",
        F.when(
            (F.col("us") - F.lag("us").over(w) > 1_800_000_000)
            | F.lag("us").over(w).isNull(),
            1,
        ).otherwise(0),
    )
    sessioned = gapped.withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return sessioned.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )


@query(
    "t3b_session_window_native",
    sql=f"""
    WITH ev AS (
      SELECT user_id, {ts_us()} AS ts, value, epoch_us({ts_us()}) AS us
      FROM events
    ),
    gapped AS (
      SELECT user_id, ts, value, us,
             CASE WHEN us - lag(us) OVER w > 1800000000 OR lag(us) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us)
    ),
    sessioned AS (
      SELECT user_id, ts, value,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY us) AS sid
      FROM gapped
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           count(*) AS n_events,
           {dround("sum(value)")} AS total_value
    FROM sessioned
    GROUP BY user_id, sid
    """,
    tags=("T3",),
)
def t3b_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F.session_window in BATCH mode (native gap-merge operator; same
    semantics as streaming T7). Spark's session end = last event + gap;
    the lag-gap oracle reproduces exactly that.
    """
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )
