"""Query registry backing __spark_entry__.queries() / oracle_sql().

Each SURVEY.md §2 operator lands as a registered query: a callable
``(spark, sf_dir) -> DataFrame`` plus (when SQL-expressible) a DuckDB
oracle twin. The driver hash-compares the two at sf0.01; tests mirror
the same diff at sf0.001 (tools/diffcheck.py).

Discipline enforced here by convention (SURVEY.md §5.2):
  - every computed column aliased identically in Spark and SQL
  - floating aggregates rounded identically on both sides
  - ``events.ts`` compared at µs (cast ``ts::TIMESTAMP`` in DuckDB)
  - window orderings made deterministic with unique tie-breaker keys
"""

from __future__ import annotations

import functools
import importlib
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from nipd_spark.catalog import tier_session

QueryFn = Callable[[SparkSession, str], DataFrame]

# Modules under nipd_spark.queries that register queries at import time.
_QUERY_MODULES = (
    "sources",
    "relational",
    "tpch",
    "aggregates",
    "windows",
    "setops",
    "functions_scalar",
    "arrays_json",
    "text_llm",
    "dedup",
    "similarity",
    "range_asof",
    "streaming_twins",
    "streaming_live",
    "udf_surface",
    "composites",
    "multimodal",
    "cbo",
    "quality",
    "graph",
)

# Verification rotation (round 14): the correctness gate hash-checks
# the FIRST 50 queries() entries per round. Every registered name
# carries a passing (or clean rows-only) gate row cumulatively, so the
# standing rule applies:
# (1) this round's additions — none (no new features);
# (2) re-checks of queries whose implementation changed since their
# last attestation — l50_gopher_rules (changed after the r13 freeze,
# 4dbb291, never re-attested), t10 (its merge drops the cardinality
# guard its grouped source can never trip: one shuffle and one
# semi-join less per micro-batch), then r13's block: o5 (was
# rows-only; now one history-free row with a DuckDB twin), q5 (its
# plan fork reads session.adaptive, so a session with AQE on, Spark's
# default, drops the broadcast hint), l67/l67b (checkpointed cb +
# broadcast scoring join), q3 (one plan at every tier: the size-gated
# pre-agg branch is gone; like q5 and g1 it forks on session.adaptive
# only), a4b (dedup-before-distinct-agg), g1-g4 (collect_set+explode
# edge build, adjacency iterations, g1 closure SHJ hints), l16/l16b
# (operators/components.py superstep loop gained mid-superstep lazy
# checkpoints — results identical, plan-affecting). Deliberately NOT
# re-fronted: l73 — its plan_checkpoint change is call-site renaming
# of the identical localCheckpoint(eager=False), runtime plan
# unchanged (and it was attested r12);
# (3) padding: first the four r05 names r13 displaced (c15/c16 by the
# l67/l67b re-open, c11/c12 by the o5/q5 re-checks), then the 12-name
# cohort DISPLACED from the r12 front (d2-d9, f1-f4), then the
# LONGEST-unattested names from the CORRECTNESS_r* ledger: the
# r03-cohort remainder (f5-f8, j8, l10/l10c, the t1-t9 streaming
# block, u1-u3). The names this round's six additions pushed off the
# tail (u4, w5/w6/w8/w9, c10) head next round's category (3). The
# full-sweep ritual (tools/diffcheck.py at sf0.001 AND sf0.01) still
# gates every query every round regardless.
# Standing rule (adopted r11 after the r10 miss): a plan-affecting
# change landing AFTER the round's rotation is frozen RE-OPENS the
# rotation — the changed query moves to the head of category (2) for
# the next round if the current window can no longer cover it.
_FRONT_QUERIES: tuple[str, ...] = (
    # (2) changed this round
    "l50_gopher_rules",
    "t10_stream_foreachbatch_upsert",
    "o5_range_partition_sort",
    "q5_local_supplier",
    "l67_kneser_ney_logprob",
    "l67b_kneser_ney_source_profile",
    "q3_shipping_priority",
    "a4b_hll_error_certificate",
    "g1_triangle_count",
    "g2_pagerank",
    "g3_connected_components",
    "g4_bfs_hops",
    "l16_dedup_clusters",
    "l16b_canonical_rep",
    # (3a) r05 names displaced in r13 (owed)
    "c15_ab_test_ztest",
    "c16_pretraining_pipeline",
    "c11_scd2_merge",
    "c12_touch_attribution",
    # (3b) displaced-from-r12 cohort (owed)
    "d2_pandas_udf",
    "d3_iterator_udf",
    "d4_grouped_zscore",
    "d5_grouped_agg_udf",
    "d6_mapinpandas",
    "d7_udtf",
    "d8_cogrouped",
    "d9_pandas_api",
    "f1_string_funcs",
    "f2_datetime_funcs",
    "f3_math_funcs",
    "f4_case_ladder",
    # (3c) longest-unattested: r03 cohort remainder
    "f5_array_ops",
    "f6_map_ops",
    "f7_json_extract",
    "f8_casts",
    "j8_range_join",
    "l10_multimodal_decode",
    "l10c_frame_sample",
    "t1_tumbling_hourly",
    "t2_sliding_window",
    "t3_session_window",
    "t4_stream_tumbling_watermark",
    "t5_stream_dedup",
    "t6_stream_static_join",
    "t7_stream_session_window",
    "t7b_stream_stream_join",
    "t8_stateful_user_tracker",
    "t9_stream_parquet_sink",
    "u1_union_all",
    "u2_union_distinct",
    "u3_intersect",
)
_MODULE_PRIORITY: tuple[str, ...] = (
    # deferred never-checked b-variants surface right after the front list
    "setops",
    "arrays_json",
    "range_asof",
    "streaming_twins",
    "multimodal",
    "composites",
    "windows",
    "udf_surface",
    "streaming_live",
    "cbo",
    "functions_scalar",
    "text_llm",
    "dedup",
    "similarity",
    "aggregates",
    "sources",
    "relational",
    "tpch",
)


@dataclass
class QuerySpec:
    name: str
    fn: QueryFn
    sql: str | None  # DuckDB oracle twin; None → driver's rows-only check
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""


_REGISTRY: dict[str, QuerySpec] = {}
_LOADED = False


def query(name: str, sql: str | None = None, tags: tuple[str, ...] = ()):
    """Decorator: register fn as a queries() entry (and its oracle twin).

    The registered callable runs ``fn`` in ``catalog.tier_session(spark,
    sf_dir)``, so everything the query builds (loads, temp views, UDF
    and data-source registrations, createDataFrame/range/sql) lands in
    the one session that carries the data tier's conf."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")

        @functools.wraps(fn)
        def in_tier(spark: SparkSession, sf_dir: str) -> DataFrame:
            return fn(tier_session(spark, sf_dir), sf_dir)

        _REGISTRY[name] = QuerySpec(name, in_tier, sql, tuple(tags), fn.__doc__ or "")
        return in_tier

    return deco


def _ensure_loaded() -> None:
    global _LOADED
    if not _LOADED:
        for mod in _QUERY_MODULES:
            importlib.import_module(f"nipd_spark.queries.{mod}")
        _LOADED = True


def _order_key(item: tuple[str, QuerySpec]) -> tuple[int, int, int]:
    """Sort key implementing the verification rotation above.

    (front-list position, module priority, registration order) — stable
    within a module, so per-module query order is unchanged.
    """
    name, spec = item
    front = _FRONT_QUERIES.index(name) if name in _FRONT_QUERIES else len(
        _FRONT_QUERIES
    )
    mod = spec.fn.__module__.rsplit(".", 1)[-1]
    mod_rank = (
        _MODULE_PRIORITY.index(mod)
        if mod in _MODULE_PRIORITY
        else len(_MODULE_PRIORITY)
    )
    reg_rank = list(_REGISTRY).index(name)
    return (front, mod_rank, reg_rank)


def all_specs() -> dict[str, QuerySpec]:
    _ensure_loaded()
    return dict(sorted(_REGISTRY.items(), key=_order_key))


def queries() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in all_specs().items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: spec.sql for name, spec in all_specs().items() if spec.sql is not None
    }
