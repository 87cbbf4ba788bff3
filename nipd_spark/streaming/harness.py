"""Replay harness: drive the `events` table through a real streaming
query synchronously (SURVEY.md §5.2.5).

The parquet file source replays events in file order; a memory sink +
``processAllAvailable()`` runs the micro-batch loop to completion, so a
queries() entry can return a fully-materialized result DataFrame from a
genuine StreamExecution (watermarks, state store and all).

``events.ts`` is schema-adaptive like the batch loader (catalog.load):
µs-timestamp fixtures stream natively as TimestampType; ns-vintage
fixtures are read as long and converted to µs TimestampType.

Scale notes (100 TB / production): swap the file source for Kafka and
the memory sink for foreachBatch/parquet — the query body is unchanged.
State stores default to HDFS-backed here; RocksDB
(spark.sql.streaming.stateStore.providerClass) for big keyed state.
"""

from __future__ import annotations

import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

def state_partitions(spark: SparkSession) -> int:
    """Streaming state-store partition count: the session's task slots,
    ``spark.sparkContext.defaultParallelism`` (4 on a 4-core
    ``local[4]``, 32 on 32 cores).

    The count is captured at a stateful query's first micro-batch (and
    persisted in its checkpoint, so a restart keeps its own count).
    Inheriting the batch-oriented spark.sql.shuffle.partitions (2000
    under SPARK_GRAFT_PROFILE=scale) would silently build 2000 state
    stores and 2000 tasks per micro-batch — measured 49 s vs 3 s for t4
    at sf0.001. Batch shuffle width sizes scans, not keyed state, and
    the keyed-state volume is unknown at the first batch, when the count
    is fixed. Slots give one wave of state tasks per micro-batch; each
    store beyond them adds a wave and its own per-batch commit (about
    80-100 ms each on 4 cores: a fixed 32 gave t21 128 store commits and
    9.9 s of commit time a pass, for 7,267 state rows)."""
    return spark.sparkContext.defaultParallelism


@contextmanager
def pinned_state_partitions(spark: SparkSession):
    """Temporarily pin spark.sql.shuffle.partitions to
    ``state_partitions`` while a streaming query starts and drains, so
    state partitioning never inherits the batch profile's shuffle width.

    FALLBACK PATH ONLY: this mutates the given session's conf, so a
    query planned concurrently on the SAME session mid-pin would
    capture the pinned value. The harness's primary mechanism is
    ``pinned_session`` — streams built by ``events_stream`` live on a
    dedicated child SparkSession whose shuffle width is permanently
    ``state_partitions``, so the caller's session conf is never touched
    and concurrent batch planning on it is unaffected
    (tests/test_streaming.py::test_pin_does_not_leak_to_parent). This
    context manager remains for streams built directly on a caller's
    session (t13's restart harness)."""
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions(spark)))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)


_PIN_ATTR = "_nipd_pinned_child"


def pinned_session(spark: SparkSession) -> SparkSession:
    """A child SparkSession (same SparkContext, own SQLConf) with
    spark.sql.shuffle.partitions permanently = ``state_partitions``
    (the task-slot count).

    A streaming query captures its conf from ITS DataFrame's session at
    start, so building the stream here scopes the state-partition pin
    per QUERY with zero mutation of the caller's conf — the profile's
    batch width (2000 under 'scale') stays visible to anything planned
    concurrently on the caller's session. Builder-time confs (timezone,
    ANSI, AQE, Arrow — session.py) carry into child sessions via
    initialSessionOptions, so plans differ only in shuffle width. One
    child is cached per parent session (streaming memory-sink tables
    are session-scoped; run_to_completion reads them from the stream's
    own session, which is this child)."""
    if getattr(spark, _PIN_ATTR, False):
        return spark
    cached = getattr(spark, "_nipd_pin_child_ref", None)
    if cached is not None:
        return cached
    child = spark.newSession()
    child.conf.set("spark.sql.shuffle.partitions", str(state_partitions(spark)))
    setattr(child, _PIN_ATTR, True)
    spark._nipd_pin_child_ref = child  # noqa: SLF001
    return child

def _events_raw_schema(ts_is_ns: bool) -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            # ns vintage: raw epoch long (nanosAsLong); µs: native timestamp
            T.StructField("ts", T.LongType() if ts_is_ns else T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def _stage_dir(sf_dir: str, parts: int = 1) -> str:
    """The parquet file source requires a *directory*; testdata is a flat
    read-only file. Stage a /tmp dir (idempotent): a symlink for parts=1,
    or the file split into ``parts`` chunk files so maxFilesPerTrigger=1
    yields a real multi-micro-batch replay for stateful operators.

    Content-keyed (catalog.dataset_tag): regenerating the data under
    sf_dir in place yields a fresh stage dir, never a stale replay."""
    import os

    import pyarrow.parquet as pq

    from nipd_spark.catalog import dataset_tag

    tag = dataset_tag(sf_dir, f"stage{parts}")
    d = f"/tmp/nipd_stream_{tag}"
    src = f"{sf_dir}/events.parquet"
    if parts == 1:
        os.makedirs(d, exist_ok=True)
        link = f"{d}/events.parquet"
        if not os.path.exists(link):
            os.symlink(src, link)
        return d
    done = f"{d}/.staged"
    if not os.path.exists(done):
        os.makedirs(d, exist_ok=True)
        t = pq.read_table(src)
        step = (t.num_rows + parts - 1) // parts
        for i in range(parts):
            pq.write_table(t.slice(i * step, step), f"{d}/part{i:04d}.parquet")
        open(done, "w").close()
    # pin micro-batch ORDER: FileStreamSource takes unseen files oldest
    # first, so give part files strictly increasing mtimes (re-stamped
    # idempotently — sub-second writes can otherwise tie). Queries whose
    # RESULT depends on batch order (t18 snapshot versions) need this;
    # order-invariant merges (t10) don't but lose nothing.
    base = 1_600_000_000
    for i in range(parts):
        p = f"{d}/part{i:04d}.parquet"
        if os.path.exists(p):
            os.utime(p, (base + 10 * i, base + 10 * i))
    return d


def events_stream(
    spark: SparkSession, sf_dir: str, parts: int = 1, one_file_per_trigger: bool = False
) -> DataFrame:
    """events as an unbounded table (S7 streaming source). Built on the
    ``pinned_session`` child so the stream's state partitioning is
    scoped per-query (never a mutation of the caller's conf)."""
    from nipd_spark.catalog import _events_ts_is_ns

    spark = pinned_session(spark)
    ts_is_ns = _events_ts_is_ns(sf_dir)
    if ts_is_ns:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    else:
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    reader = spark.readStream.schema(_events_raw_schema(ts_is_ns)).format("parquet")
    if one_file_per_trigger:
        reader = reader.option("maxFilesPerTrigger", 1)
    raw = reader.load(_stage_dir(sf_dir, parts))
    if ts_is_ns:
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw


ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)


@contextmanager
def state_store_provider(spark: SparkSession, provider_class: str):
    """Temporarily select the streaming state-store provider on the
    session streams are actually built on (the pinned child — a query
    captures ITS session's conf at start, so setting the caller's conf
    would silently not apply). Used by the RocksDB twin runs that turn
    the T8 docstrings' 'RocksDB at 100 TB' claims into measurements
    (tests/test_streaming.py)."""
    sess = pinned_session(spark)
    key = "spark.sql.streaming.stateStore.providerClass"
    saved = sess.conf.get(key)
    sess.conf.set(key, provider_class)
    try:
        yield sess
    finally:
        sess.conf.set(key, saved)


def start_pinned(writer):
    """start() a DataStreamWriter with state partitioning pinned. The
    streaming query clones the conf of ITS DataFrame's session at
    start: for streams from ``events_stream`` that session is the
    pinned child and nothing needs mutating; for streams built directly
    on a caller's session, fall back to the scoped conf flip on that
    session only."""
    df = getattr(writer, "_df", None)
    sess = (
        df.sparkSession if df is not None else SparkSession.getActiveSession()
    )
    if getattr(sess, _PIN_ATTR, False):
        return writer.start()
    with pinned_state_partitions(sess):
        return writer.start()


def run_to_completion(
    streaming_df: DataFrame, output_mode: str = "complete"
) -> DataFrame:
    """Execute a streaming aggregation until the source drains; return the
    materialized result table (S8 memory sink). The memory sink is
    session-scoped, so the table is read back from the STREAM's session
    (the pinned child for events_stream-built queries)."""
    name = f"sink_{uuid.uuid4().hex[:12]}"
    spark = streaming_df.sparkSession
    q = start_pinned(
        streaming_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)
