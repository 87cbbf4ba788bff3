"""Replay harness: drive the `events` table through a real streaming
query synchronously (SURVEY.md §5.2.5).

The parquet file source replays events in file order; a memory sink +
``processAllAvailable()`` runs the micro-batch loop to completion, so a
queries() entry can return a fully-materialized result DataFrame from a
genuine StreamExecution (watermarks, state store and all).

``events.ts`` is schema-adaptive like the batch loader (catalog.load):
µs-timestamp fixtures stream natively as TimestampType; ns-vintage
fixtures are read as long and converted to µs TimestampType.

Streams are built on ``pinned_session``, a child session carrying the
state-partition count and checkpoint manager, so a plain ``start()``
pins them and the caller's session conf is never touched.

Every staged artifact of the engine — the streaming family's sources,
sinks and checkpoints, and the batch queries' staged copies, tables and
indexes (sources.py, multimodal.py, similarity.py) — lives under one
scratch root per process (``scratch_root``/``scratch_dir``), and
``staged`` alone decides when one is complete: a write that raised is
redone on the next call, never read. ``drain`` is the one loop that
runs a started stream until its source is exhausted.

Scale notes (100 TB / production): swap the file source for Kafka and
the memory sink for foreachBatch/parquet — the query body is unchanged.
State stores default to HDFS-backed here; RocksDB
(spark.sql.streaming.stateStore.providerClass) for big keyed state.
"""

from __future__ import annotations

import atexit
import os
import shutil
import uuid
from collections.abc import Callable
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter

from nipd_spark.session import child_session


def state_partitions(spark: SparkSession) -> int:
    """Streaming state-store partition count: the session's task slots,
    ``spark.sparkContext.defaultParallelism`` (4 on a 4-core
    ``local[4]``, 32 on 32 cores).

    The count is captured at a stateful query's first micro-batch (and
    persisted in its checkpoint, so a restart keeps its own count).
    Inheriting the batch-oriented spark.sql.shuffle.partitions (2000
    on a session get_spark builds under the scale profile, whose AQE
    never reaches a stateful stream) would silently build 2000 state
    stores and 2000 tasks per micro-batch — measured 49 s vs 3 s for t4
    at sf0.001. Batch shuffle width sizes scans, not keyed state, and
    the keyed-state volume is unknown at the first batch, when the count
    is fixed. Slots give one wave of state tasks per micro-batch; each
    store beyond them adds a wave and its own per-batch commit (about
    80-100 ms each on 4 cores: a fixed 32 gave t21 128 store commits and
    9.9 s of commit time a pass, for 7,267 state rows)."""
    return spark.sparkContext.defaultParallelism


def pinned_session(spark: SparkSession) -> SparkSession:
    """The child session streams are built on (``session.child_session``):
    spark.sql.shuffle.partitions = ``state_partitions`` and a fork-free
    checkpoint file manager, with the caller's session untouched.

    A streaming query captures its conf from ITS DataFrame's session at
    start, so building the stream here scopes the state-partition pin
    per QUERY: the profile's batch width (2000 under 'scale') stays
    visible to anything planned on the caller's session, and a plain
    ``writer.start()`` runs at the pinned width. The child is cached per
    (parent, conf), and streaming memory-sink tables are session-scoped:
    run_to_completion reads them from the stream's own session, which is
    this child.

    Checkpoints here are always local (scratch_root or Spark's temp
    dir). The default FileContext manager's rename stats each file
    through RawLocalFileSystem.getFileLinkStatus, which without
    libhadoop forks a `readlink` per checkpoint file; FileSystem's
    rename on the local FS is the same check-then-rename, fork-free."""
    return child_session(spark, {
        "spark.sql.shuffle.partitions": str(state_partitions(spark)),
        "spark.sql.streaming.checkpointFileManagerClass":
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
    })


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


_SCRATCH_ROOT: str | None = None


def scratch_root() -> str:
    """This process's scratch directory for every staged artifact
    (streaming sources, sinks and checkpoints; the batch queries' staged
    files, tables and indexes): created on first use, removed when the
    process that created it exits (a forked child inherits the exit
    hook but not the ownership).

    Private to the process, so no result depends on what another
    process left under /tmp or on which tier an earlier process staged,
    and no two processes ever write the same checkpoint or stage the
    same files. In-process reuse (``staged``, t20's restart) keeps a
    second call fast. The root of a crashed process is never read by a
    later one; it costs only disk."""
    global _SCRATCH_ROOT
    if _SCRATCH_ROOT is None:
        root = f"/tmp/nipd_run_{os.getpid()}_{uuid.uuid4().hex[:8]}"
        os.makedirs(root)
        atexit.register(_remove_scratch_root, root, os.getpid())
        _SCRATCH_ROOT = root
    return _SCRATCH_ROOT


def _remove_scratch_root(root: str, owner_pid: int) -> None:
    if os.getpid() == owner_pid:
        shutil.rmtree(root, ignore_errors=True)


def scratch_dir(sf_dir: str, salt: str) -> str:
    """A path under ``scratch_root`` keyed on the data's content
    (catalog.dataset_tag): regenerating the data under sf_dir in place
    yields a fresh path, never a stale replay or checkpoint."""
    from nipd_spark.catalog import dataset_tag

    return os.path.join(scratch_root(), dataset_tag(sf_dir, salt))


def staged(sf_dir: str, salt: str, write: Callable[[str], None]) -> str:
    """``scratch_dir(sf_dir, salt)``, written once per process: unless
    its sibling marker ``<dir>.done`` exists, the directory is removed,
    ``write(dir)`` fills it, and only then is the marker created. A
    write that raised (an aborted Spark job leaves ``<dir>/_temporary``)
    leaves no marker, so the next call starts it over instead of reading
    the remains. ``write`` keeps everything it creates under ``dir``, a
    stream's sink and checkpoint alike, so the one removal never leaves
    a stale checkpoint beside an emptied sink."""
    d = scratch_dir(sf_dir, salt)
    marker = d + ".done"
    if not os.path.exists(marker):
        shutil.rmtree(d, ignore_errors=True)
        write(d)
        open(marker, "w").close()
    return d


def _stage_dir(sf_dir: str, parts: int = 1) -> str:
    """The parquet file source requires a *directory*; testdata is a flat
    read-only file. Stage one under ``staged``: a symlink for parts=1,
    or the file split into ``parts`` chunk files so maxFilesPerTrigger=1
    yields a real multi-micro-batch replay for stateful operators."""
    import pyarrow.parquet as pq

    src = f"{sf_dir}/events.parquet"

    def write(d: str) -> None:
        os.makedirs(d)
        if parts == 1:
            os.symlink(src, f"{d}/events.parquet")
            return
        t = pq.read_table(src)
        step = (t.num_rows + parts - 1) // parts
        for i in range(parts):
            pq.write_table(t.slice(i * step, step), f"{d}/part{i:04d}.parquet")

    d = staged(sf_dir, f"stage{parts}", write)
    if parts == 1:
        return d
    # pin micro-batch ORDER: FileStreamSource takes unseen files oldest
    # first, so give part files strictly increasing mtimes (re-stamped
    # idempotently — sub-second writes can otherwise tie). Queries whose
    # RESULT depends on batch order (t18 snapshot versions) need this;
    # order-invariant merges (t10) don't but lose nothing.
    base = 1_600_000_000
    for i in range(parts):
        os.utime(f"{d}/part{i:04d}.parquet", (base + 10 * i, base + 10 * i))
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


def drain(writer: DataStreamWriter) -> None:
    """Start ``writer`` and run its micro-batches until the source is
    exhausted (``processAllAvailable``); the query is stopped however
    that ends."""
    q = writer.start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def run_to_completion(
    streaming_df: DataFrame, output_mode: str = "complete"
) -> DataFrame:
    """Execute a streaming aggregation until the source drains; return the
    materialized result table (S8 memory sink). The memory sink is
    session-scoped, so the table is read back from the STREAM's session
    (the pinned child for events_stream-built queries)."""
    name = f"sink_{uuid.uuid4().hex[:12]}"
    drain(
        streaming_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
    )
    return streaming_df.sparkSession.table(name)
