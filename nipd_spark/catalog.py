"""Test-corpus catalog: load the driver-generated parquet tables.

Tables and schemas: /root/repo/FIXTURES.md (verified from parquet footers).
At 100 TB these would be partitioned/bucketed external tables; the loader
keeps the access path identical (``spark.read.parquet``) so Catalyst's
pushdown/pruning applies the same way at any scale.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from nipd_spark.session import adaptive, child_session

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimension tables that should always be broadcast in joins
# (≤ 25 rows at every SF; nation/region are fixed-size).
BROADCAST_DIMS = frozenset({"region", "nation"})


# ---------------------------------------------------------------------------
# Tier-adaptive parallelism (r12 optimization round; guide §2.2/§6).
#
# The AQE-off local profile pins spark.sql.shuffle.partitions=8 and the
# 128 MB scan-split default — right for the sub-second sf<=0.1 gate and
# bench tiers, but at the 16x/100x replicas the SAME constants mean a
# 1.1 GB lineitem scans in 9 tasks and every exchange lands in 8 reduce
# partitions: single-digit parallelism on a 32-thread master (o4's 15M-row
# window sort ran in 2 scan + 8 sort tasks). Instead of a constant tuned
# for either tier, derive both knobs from the dataset's on-disk bytes
# (the "derive from input size" posture the optimization guide
# prescribes; AQE's advisory-size coalescing is the same policy computed
# at runtime):
#
#   engage only above _AUTOSIZE_MIN_BYTES   (sf<=0.1 keeps today's exact
#                                            local defaults — the driver's
#                                            bench/gate plans are untouched)
#   scan split  = clamp(T/128, 8 MB, 128 MB) (~128 splits across the set)
#   shuffle     = clamp(T/16 MB, 8, 1024)    (~16 MB compressed per reduce
#                                            partition)
#   scan floor  = minPartitionNum = shuffle count, openCost 1 MB (r13:
#                                            per-scan split floor so SMALL
#                                            tables of a mixed-size set
#                                            still fan out; see tier_conf)
#
# Both are pure functions of DATA SIZE, never of core count, so the
# driver's lower-core bench runs plan identically and per-core scaling
# stays measurable. An adaptive session (session.adaptive: the scale
# profile, or any session with AQE on) gets no tier conf: AQE coalesces
# from the partition ceiling by advisory size — the cluster-posture
# answer.
#
# The conf lives in a session, never in a mutation of the caller's:
# tier_session hands back a cached child session carrying it, and
# load() and every registered query (registry.query) build on that
# child. Spark reads these keys when an action runs, so a frame built
# at one tier keeps its tier's partitioning whatever is loaded next.
# ---------------------------------------------------------------------------
_AUTOSIZE_MIN_BYTES = 64 * 1024 * 1024
_SIZE_CACHE: dict[str, int] = {}  # sf_dir -> total table bytes
# the conf keys tier_conf sets
AUTOSIZE_KEYS = (
    "spark.sql.files.maxPartitionBytes", "spark.sql.shuffle.partitions",
    "spark.sql.files.openCostInBytes", "spark.sql.files.minPartitionNum",
)


def _dir_bytes(sf_dir: str) -> int:
    total = _SIZE_CACHE.get(sf_dir)
    if total is None:
        total = 0
        for name in TABLES:
            try:
                total += os.stat(f"{sf_dir}/{name}.parquet").st_size
            except FileNotFoundError:
                pass
        _SIZE_CACHE[sf_dir] = total
    return total


def tier_conf(sf_dir: str) -> dict[str, str]:
    """Scan-split size and shuffle-partition count from ``sf_dir``'s
    on-disk bytes (see module comment); empty below the engage
    floor."""
    total = _dir_bytes(sf_dir)
    if total < _AUTOSIZE_MIN_BYTES:
        return {}
    mpb = min(max(total // 128, 8 * 1024 * 1024), 128 * 1024 * 1024)
    sp = min(max(total // (16 * 1024 * 1024), 8), 1024)
    # The split size and reduce count above, plus a per-SCAN split
    # floor (r13; guide §6 "minPartitionNum sets a floor
    # on scan parallelism"): ONE global maxPartitionBytes cannot serve a
    # mixed-size table set — total/128 = 12.6 MB at the 100x replica
    # split the 1.1 GB lineitem 90 ways but the 58 MB documents table
    # only 5 ways, so every tokenize-heavy text scan ran at 5/32 cores
    # no matter how fine its row groups were. minPartitionNum is applied
    # per scan (maxSplitBytes = min(mpb, max(openCost, scanBytes/N))),
    # so it raises ONLY the under-split small-table scans; reusing the
    # byte-derived reduce count keeps it a pure function of data size
    # (core-independent — the driver's 8c bench plans identically). The
    # 4 MB openCostInBytes default would floor small-table splits at
    # 4 MB; 1 MB matches these one-file-per-table fixtures (measured
    # paired at 100x, both orderings: l6 1.4x, a17 1.2x, l20/a32 1.1x,
    # q3/w22/o4/l50/l62/l67 neutral).
    return dict(zip(AUTOSIZE_KEYS, (str(mpb), str(sp), "1048576", str(sp))))


def tier_session(spark: SparkSession, sf_dir: str) -> SparkSession:
    """The session that work on ``sf_dir`` runs in: ``spark`` itself
    when it is adaptive or the tier has no conf, else the cached child
    carrying ``tier_conf(sf_dir)``."""
    return child_session(spark, {} if adaptive(spark) else tier_conf(sf_dir))


def dataset_tag(sf_dir: str, salt: str = "") -> str:
    """Content-sensitive tag for staged artifacts and checkpoints (the
    directory name ``harness.scratch_dir`` uses under the process's
    scratch root) and for session catalog names: sha1 over the
    (name, size, mtime_ns) of every table file under ``sf_dir``, plus
    the path and a per-use salt.

    Keying derived state on the PATH alone is a stale-reuse hazard: if
    the data under sf_dir is regenerated in place, a path-keyed staged
    fixture or streaming checkpoint silently serves results from the
    OLD data (a restarted file source sees no new files at all). The
    stat fingerprint changes with the data, so regeneration
    auto-invalidates every derived artifact. ~10 stat calls, no reads.
    """
    import hashlib

    parts = [sf_dir, salt]
    for name in TABLES:
        p = f"{sf_dir}/{name}.parquet"
        try:
            st = os.stat(p)
            parts.append(f"{name}|{st.st_size}|{st.st_mtime_ns}")
        except FileNotFoundError:
            parts.append(f"{name}|absent")
    return hashlib.sha1("\n".join(parts).encode()).hexdigest()[:12]


def _events_ts_is_ns(sf_dir: str) -> bool:
    """Sniff the events parquet footer (pyarrow, no Spark) — True when
    ``ts`` is stored as ns (either timestamp[ns] or raw int64 epoch-ns).

    The fixture generator has shipped both encodings across rounds
    (ns in r1, µs in r2), so the loader adapts per-footer instead of
    hard-coding one era's schema. Footer read is O(KB) regardless of SF.
    """
    import pyarrow.parquet as pq

    t = pq.read_schema(f"{sf_dir}/events.parquet").field("ts").type
    return str(t) in ("timestamp[ns]", "int64")


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar parquet scan (SURVEY.md §2 S1): pushdown + pruning apply.

    ``events.ts`` is schema-adaptive: when the parquet stores µs
    timestamps (current fixtures, isAdjustedToUTC=false) the scan yields
    TimestampType directly, because session.get_spark turns NTZ
    inference off for every table and session — the session tz is UTC,
    so values are bit-identical to the NTZ reading and predicate
    pushdown on ts is preserved (no post-scan cast). When it stores ns
    (round-1 vintage; Spark 4.1 rejects it as PARQUET_TYPE_ILLEGAL) we
    read nanos as long via the legacy conf and floor-truncate to µs
    TimestampType, matching DuckDB's ``ts::TIMESTAMP`` cast so oracle
    comparisons line up (nipd_spark.oracle.ts_us). Either way callers
    see TimestampType.
    """
    spark = tier_session(spark, sf_dir)
    # (sf_dir, table) -> DataFrame, on the session the frames belong to.
    # Re-running spark.read.parquet per query re-reads footers and
    # re-resolves schema (~50-100 ms/table); the lazy plan handle is
    # immutable, so caching it is safe.
    frames = vars(spark).setdefault("_nipd_frames", {})
    df = frames.get((sf_dir, name))
    if df is not None:
        return df
    if name == "events" and _events_ts_is_ns(sf_dir):
        from pyspark.sql import functions as F

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    frames[(sf_dir, name)] = df
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all corpus tables as temp views for the SQL API path, in
    ``tier_session(spark, sf_dir)`` (a view registers in its frame's
    session), which is the session registered queries run in."""
    for t in TABLES:
        load(spark, sf_dir, t).createOrReplaceTempView(t)
