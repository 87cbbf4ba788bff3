"""Physical-plan regression guards (SURVEY.md §4): the 100 TB posture —
pushdown, pruning, broadcast, codegen — asserted on the real plans so a
refactor can't silently trade them away.
"""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from nipd_spark import registry


def _qe(spark, sf_dir, name: str):
    """One plan build per test case: both the formatted string and the
    executedPlan node walk derive from this queryExecution (r11
    ADVICE — the old helpers rebuilt the DataFrame per probe)."""
    df = registry.all_specs()[name].fn(spark, sf_dir)
    return df._sc._jvm, df._jdf.queryExecution()  # noqa: SLF001


def _fmt(jvm, qe) -> str:
    return jvm.PythonSQLUtils.explainString(qe, "formatted")


def _plan(spark, sf_dir, name: str) -> str:
    jvm, qe = _qe(spark, sf_dir, name)
    return _fmt(jvm, qe)


def _qe_has_global_window(qe) -> bool:
    """True when the executed plan contains an UNPARTITIONED WindowExec
    (the single-partition funnel). Node-walk on partitionSpec() — the
    formatted-text probe ', [], [' never fires (empty partition specs
    print two bracket groups, not three; r11 finding), so string
    matching is NOT a valid check for this property."""
    def walk(node):
        yield node
        cs = node.children()
        for i in range(cs.size()):
            yield from walk(cs.apply(i))
    for node in walk(qe.executedPlan()):
        if node.getClass().getSimpleName() in (
            "WindowExec",
            "WindowGroupLimitExec",
        ) and node.partitionSpec().size() == 0:
            return True
    return False


def _has_global_window(spark, sf_dir, name: str) -> bool:
    _, qe = _qe(spark, sf_dir, name)
    return _qe_has_global_window(qe)


def test_q1_filter_pushdown_and_column_pruning(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # projection pruned to the 7 referenced columns — no l_orderkey etc.
    assert "l_orderkey" not in plan
    assert "codegen id" in plan  # whole-stage codegen spans present


def test_q3_broadcasts_dims_no_sort_merge(spark, sf_dir):
    """q3's fact-join strategy is split on session.adaptive (r11
    VERDICT item 2, re-shaped in the r12 optimization round): on a
    static session (the default local profile) the segment-filtered
    orders⋈customer pairing (~1/5 of orders) is broadcast, so the
    lineitem side is never exchanged — the plan is two
    BroadcastHashJoins and zero fact Exchanges before the aggregation;
    on an adaptive session no broadcast is forced and the fact join
    stays sort-merge (fact-sized build would OOM executors). The test
    session is static — pin that shape."""
    plan = _plan(spark, sf_dir, "q3_shipping_priority")
    assert "BroadcastHashJoin" in plan   # dim + pairing broadcasts
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert "CartesianProduct" not in plan


def _adaptive(spark):
    """A child of the test session with AQE on: the session
    ``session.adaptive`` reports true for (the scale profile, or a
    session built outside get_spark)."""
    from nipd_spark.session import child_session

    return child_session(spark, {"spark.sql.adaptive.enabled": "true"})


def test_q3_scale_profile_stays_sort_merge(spark, sf_dir):
    """The scale posture must NOT inherit the local shuffle_hash hint:
    a per-executor hash build of ~97%-of-orders is an OOM at 100 TB
    where SMJ's sort spills gracefully. The hint decision reads the
    session the query runs in, so the split is testable in-process."""
    plan = _plan(_adaptive(spark), sf_dir, "q3_shipping_priority")
    assert "ShuffledHashJoin" not in plan
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize(
    "name",
    ["q3_shipping_priority", "q5_local_supplier", "g1_triangle_count",
     "t1_tumbling_hourly"],
)
def test_adaptive_shape_matches_oracle(spark, sf_dir, duck, name):
    """The queries that fork on ``session.adaptive`` return exactly
    their DuckDB twin's rows on the adaptive shape too (the test
    session is static, so the suite's sweep covers the other shape)."""
    from nipd_spark.testing import compare_spec

    spec = registry.all_specs()[name]
    ok, detail = compare_spec(_adaptive(spark), duck, spec, sf_dir)
    assert ok, detail


def test_q5_six_way_join_shape(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q5_local_supplier")
    assert "PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_global_topk_uses_take_ordered(spark, sf_dir):
    plan = _plan(spark, sf_dir, "o3_global_topk")
    assert "TakeOrderedAndProject" in plan  # no full global sort for LIMIT k


def test_range_join_is_equi_not_bnlj(spark, sf_dir):
    """The bucketed range join must plan as a hash/broadcast equi join —
    never BroadcastNestedLoopJoin over the raw interval predicate."""
    plan = _plan(spark, sf_dir, "j8_range_join")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_minhash_band_join_is_equi(spark, sf_dir):
    plan = _plan(spark, sf_dir, "l3b_minhash_lsh")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize(
    "name",
    [
        "w18_mann_whitney_u",
        "l43_perplexity_pruning",
        "l47_balanced_shards",
        "c20_rfm_segmentation",
        "c27_pareto_abc",
    ],
)
def test_no_unpartitioned_window(spark, sf_dir, name, monkeypatch):
    """Global ranks / ntiles / running sums must come from the two-pass
    histogram rank (operators/ranks.py: bucket-partitioned prefixes +
    offset join), never an unpartitioned Window — Window.orderBy(...)
    with no partition spec moves the whole input to a single partition.
    Checked by node walk (partitionSpec().size()) — the old formatted-
    text probe ', [], [' was vacuous (r11 finding). Runs with
    checkpoints disabled (r13) so subplans behind a localCheckpoint
    (c20's rfm aggregate since the r12 rank-map rewrite) are walked
    too, not just the truncated RDD-scan plan."""
    monkeypatch.setenv("NIPD_SPARK_NO_CHECKPOINT", "1")
    jvm, qe = _qe(spark, sf_dir, name)
    plan = _fmt(jvm, qe)
    assert "windowspecdefinition" in plan  # the local pass exists
    assert not _qe_has_global_window(qe)


def test_w8_zscore_is_group_agg_not_window(spark, sf_dir):
    """w8's per-type normalization must be groupBy + broadcast
    join-back — a Window.partitionBy(event_type) over raw events
    funnels each type's entire history through one task at 100 TB."""
    plan = _plan(spark, sf_dir, "w8_zscore")
    assert "windowspecdefinition" not in plan
    assert "BroadcastHashJoin" in plan


@pytest.mark.parametrize(
    "name",
    [
        "a24_weighted_median",
        "a31_weighted_median",
        "w7_pct_rank_cume",
        # r9: fixed-cardinality Spearman — ranks must come from the
        # grouped-histogram rank maps, never a per-flag raw-row window
        "w23_spearman_lowcard",
        # r9: KS drift — ECDFs from the bucketed global running sum
        # over the distinct-value collapse, never a raw-row window
        "dq10_ks_two_sample",
    ],
)
def test_no_low_cardinality_raw_window(spark, sf_dir, name):
    """Weighted medians / distribution ranks must come from the
    per-group histogram cumsum (operators/ranks): every window in the
    plan must be (group, bucket)-partitioned machinery (its spec names
    a __rk_ column), never a raw-row window partitioned solely on the
    3-5-value group key (l_returnflag / o_orderstatus)."""
    import re

    plan = _plan(spark, sf_dir, name)
    specs = re.findall(r"windowspecdefinition\([^)]*", plan)
    assert specs, "expected the histogram-rank local window"
    for s in specs:
        assert "__rk_" in s, s


def test_plan_lint_lowcard_rule(spark, sf_dir):
    """The plan_lint low-cardinality-window rule must fire on a raw-row
    window partitioned solely by a bounded-domain key, stay silent when
    the window input is pre-aggregated (the allowed c2/dq9/q17 shape),
    and report none of the rewritten queries."""
    import sys

    from pyspark.sql import Window

    from nipd_spark.catalog import load

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
    import plan_lint

    ev = load(spark, sf_dir, "events")
    bad = ev.select(
        "event_id", F.sum("value").over(Window.partitionBy("event_type"))
    )
    assert plan_lint._lowcard_window_hits(bad._jdf.queryExecution())

    agg = ev.groupBy("event_type", F.dayofmonth("ts").alias("d")).agg(
        F.sum("value").alias("v")
    )
    good = agg.select(
        "event_type",
        F.sum("v").over(Window.partitionBy("event_type").orderBy("d")),
    )
    assert not plan_lint._lowcard_window_hits(good._jdf.queryExecution())

    for name in (
        "w7_pct_rank_cume",
        "w8_zscore",
        "w16_cumulative_distinct",
        "a24_weighted_median",
        "a31_weighted_median",
        "l58_per_source_cap",
        "l59_token_budget_mix",
    ):
        df = registry.all_specs()[name].fn(spark, sf_dir)
        assert not plan_lint._lowcard_window_hits(
            df._jdf.queryExecution()
        ), name


def test_plan_lint_allowlist_names_exist(spark):
    """Every ALLOW entry in tools/plan_lint.py must name a registered
    query — a renamed query must not silently orphan its exemption."""
    import sys

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
    import plan_lint

    specs = registry.all_specs()
    missing = [n for n in plan_lint.ALLOW if n not in specs]
    assert not missing, missing


def test_a22_sliding_distinct_is_bucketed_join(spark, sf_dir):
    """The trailing-24h distinct count must run as a bucketed range
    join (equi on day bucket + residual bound), not an unpartitioned
    RANGE window and not a nested-loop over the raw inequality."""
    jvm, qe = _qe(spark, sf_dir, "a22_window_distinct")
    plan = _fmt(jvm, qe)
    assert not _qe_has_global_window(qe)  # no unpartitioned window
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_minhash_verify_is_candidate_driven(spark, sf_dir):
    """The LSH verify stage must score ONLY candidate pairs: per-doc
    collect_set(shingle) joined to candidates, intersection via
    size(array_intersect). A shingle-equality self-join anywhere in the
    plan means the verify stage pays the full co-shingled pair blow-up
    (quadratic on a hot shingle at 100 TB) regardless of where the
    candidate filter sits — Catalyst will not push a join below the
    pair-count aggregate."""
    import re

    plan = _plan(spark, sf_dir, "l3b_minhash_lsh")
    assert "array_intersect" in plan
    for m in re.finditer(r"keys \[\d+\]: \[([^\]]*)\]", plan):
        assert "shingle" not in m.group(1), m.group(0)


@pytest.mark.parametrize(
    "name", ["q1_pricing_summary", "t1_tumbling_hourly", "l6_token_tf"]
)
def test_no_python_row_udf_in_hot_paths(spark, sf_dir, name):
    """Headline queries stay JVM-side: no BatchEvalPython (row UDF) and
    no ArrowEvalPython stages in their plans."""
    plan = _plan(spark, sf_dir, name)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    """The bucketed-table join must read bucket-aligned splits: no
    Exchange (shuffle) feeding the join. Auto-broadcast is disabled so
    the tiny test tables take the same SMJ path the layout exists for
    at scale (broadcast would hide the property being asserted)."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(spark, sf_dir, "s6b_bucketed_join")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    join_part = plan.split("HashAggregate")[0]
    assert "SortMergeJoin" in plan
    assert "Exchange hashpartitioning" not in join_part


def test_salted_agg_two_stage(spark, sf_dir):
    plan = _plan(spark, sf_dir, "a1b_salted_agg")
    # two aggregation levels present (salted partial then final)
    assert plan.count("HashAggregate") >= 4


def test_partitioned_scan_prunes(spark, sf_dir):
    """The event_type filter over the partitioned layout must be a
    PartitionFilter (directory pruning), not a data filter."""
    plan = _plan(spark, sf_dir, "s6c_partitioned_prune")
    assert "PartitionFilters" in plan
    assert "event_type#" in plan.split("PartitionFilters", 1)[1].split("]", 1)[0]


@pytest.mark.parametrize(
    "name",
    [
        "q4_order_priority",
        "q7_volume_shipping",
        "q8_market_share",
        "q9_product_profit",
        "q12_late_lines",
        "q13_customer_distribution",
        "q17_small_quantity",
        "q19_discounted_revenue",
    ],
)
def test_tpch_family_joins_stay_hash(spark, sf_dir, name):
    """The adapted TPC-H family must plan every join as a (broadcast)
    hash join with pushed scan filters — no nested-loop or cartesian
    fallback from the disjunctive/residual predicates."""
    plan = _plan(spark, sf_dir, name)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "PushedFilters: [" in plan


def test_q15_max_is_broadcast_not_window(spark, sf_dir):
    """Q15's global max must come from a 1-row aggregate broadcast, not
    an unpartitioned window (which single-partitions every supplier)."""
    plan = _plan(spark, sf_dir, "q15_top_supplier")
    assert "Window" not in plan
    # the 1-row max joins back as a broadcast (hash-cross or NLJ form)
    assert "BroadcastHashJoin Cross" in plan or "BroadcastNestedLoopJoin" in plan


def test_q6_is_scan_plus_agg_only(spark, sf_dir):
    """Q6 must stay a single codegen'd scan+agg: no join, no shuffle
    other than the 1-row final aggregation exchange."""
    plan = _plan(spark, sf_dir, "q6_forecast_revenue")
    assert "Join" not in plan
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    assert plan.count("+- Exchange") == 1  # tree form: exactly one shuffle


def test_q21_exists_chain_stays_equi_keyed(spark, sf_dir):
    """Q21's EXISTS/NOT EXISTS pair must plan as hash semi/anti joins on
    the orderkey equi key (supplier inequality as residual) — never a
    nested loop over the late-lines set."""
    plan = _plan(spark, sf_dir, "q21_suppliers_waiting")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan


def test_decontaminate_broadcasts_eval_grams(spark, sf_dir):
    """The eval-set 5-gram membership test must be a broadcast semi
    join (training side never shuffles on gram text), fully JVM-side."""
    plan = _plan(spark, sf_dir, "l19_decontaminate")
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_kmeans_assign_broadcasts_centroids(spark, sf_dir):
    """Every Lloyd round's assignment is crossJoin(broadcast(C rows)) —
    the full-data side must never feed a shuffle-for-join, and the
    whole iteration stays JVM-side (no Python stages)."""
    plan = _plan(spark, sf_dir, "l18_kmeans")
    assert "BroadcastNestedLoopJoin" in plan  # 8-row centroid cross join
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_dynamic_partition_pruning_fires(spark, sf_dir):
    """With the predicate on the dim attribute only, the partitioned
    fact scan must carry a dynamicpruning PartitionFilter (runtime
    pruning via the reused broadcast), not a full scan."""
    plan = _plan(spark, sf_dir, "s6d_dynamic_prune")
    assert "dynamicpruningexpression" in plan
    assert "PartitionFilters" in plan


def test_cbo_stats_present_and_hint_free_broadcast(spark, sf_dir):
    """ANALYZE TABLE stats reach the catalog, and the hint-free CBO
    queries still plan broadcast hash joins from those stats (no
    broadcast() call exists anywhere in queries/cbo.py)."""
    from nipd_spark.queries import cbo

    tbl = cbo.stats_table(spark, sf_dir, "nation")
    desc = spark.sql(f"DESCRIBE TABLE EXTENDED {tbl}").toPandas()
    stats_row = desc[desc["col_name"] == "Statistics"]
    assert len(stats_row) == 1 and "rows" in stats_row["data_type"].iloc[0]
    # column-level stats (NDV/min/max) from FOR ALL COLUMNS
    cdesc = spark.sql(
        f"DESCRIBE TABLE EXTENDED {tbl} n_nationkey"
    ).toPandas()
    got = dict(zip(cdesc["info_name"], cdesc["info_value"]))
    assert got.get("distinct_count") not in (None, "NULL")

    plan = _plan(spark, sf_dir, "cbo1_stats_join_reorder")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    plan2 = _plan(spark, sf_dir, "cbo2_filter_cardinality")
    assert "BroadcastHashJoin" in plan2

    import inspect

    src = inspect.getsource(cbo)
    assert "F.broadcast(" not in src  # the plan above came from stats alone
    assert ".hint(" not in src


def test_pii_redact_is_map_only(spark, sf_dir):
    """l24 must be one codegen'd projection over the scan: no shuffle,
    no join, no Python stage — scale-invariant by construction."""
    plan = _plan(spark, sf_dir, "l24_pii_redact")
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "codegen id" in plan


def test_repetition_filter_stays_jvm_and_keyed(spark, sf_dir):
    """l23's gram aggregations are equi-keyed on doc_id inside
    whole-stage codegen — no cartesian/NLJ, no Python stage. (An in-row
    HOF 'map-only' variant was reverted: interpreted lambdas were ~30×
    slower than this codegen'd explode+agg path.)"""
    plan = _plan(spark, sf_dir, "l23_repetition_filter")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "codegen id" in plan


def test_pack_sequences_window_is_partitioned(spark, sf_dir):
    """l25's running sum must be windowed per bucket — an
    'Exchange SinglePartition' feeding the Window would mean the global
    sort anti-pattern the bucketing exists to avoid."""
    plan = _plan(spark, sf_dir, "l25_pack_sequences")
    assert "Window" in plan
    window_input = plan.split("Window", 1)[0]
    assert "Exchange SinglePartition" not in window_input
    assert "hashpartitioning(bucket" in plan


def test_canonical_rep_no_allpairs(spark, sf_dir):
    """l16b's candidate pairs come from the shingle equi self-join and
    the survivorship window is keyed by cluster — never a cartesian."""
    plan = _plan(spark, sf_dir, "l16b_canonical_rep")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


@pytest.mark.parametrize(
    "name",
    [
        "c1_sprt_rhdo",
        "c2_zscore_screen",
        "c3_fetal_fraction",
        "c4_coverage_qc",
        "c5_version_diff",
        "c6_rmd",
        "c7_funnel",
        "c8_lexical_semantic",
    ],
)
def test_composites_no_cartesian_or_nlj(spark, sf_dir, name):
    """The genomics/funnel composites (driver window r3) must keep every
    join hash-keyed: no cartesian or nested-loop fallback."""
    plan = _plan(spark, sf_dir, name)
    assert "CartesianProduct" not in plan


def test_asof_join_stays_keyed(spark, sf_dir):
    """j9 as-of join: bucketed equi rewrite, not a nested loop over the
    full time axis."""
    plan = _plan(spark, sf_dir, "j9_asof_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_incremental_dedup_screens_are_equi_joins(spark, sf_dir):
    """l26's exact screen is a digest semi join and the near screen a
    shingle equi join — no cartesian or nested-loop anywhere."""
    plan = _plan(spark, sf_dir, "l26_incremental_dedup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftSemi" in plan


def test_corpus_card_total_is_broadcast(spark, sf_dir):
    """l27's corpus-share denominator joins back as a 1-row broadcast,
    not a shuffle; no Python stages."""
    plan = _plan(spark, sf_dir, "l27_corpus_card")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_shuffled_hash_join_skips_sorts(spark, sf_dir):
    """j12 must plan as ShuffledHashJoin: no SortMergeJoin and no Sort
    operator feeding the join — the strategy's whole point."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(spark, sf_dir, "j12_shuffled_hash")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "ShuffledHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_text_source_parse_is_map_only(spark, sf_dir):
    """s9's line parse must be one projection over the text scan — no
    shuffle, no Python stage."""
    plan = _plan(spark, sf_dir, "s9_text_source")
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_binary_source_digest_is_map_only(spark, sf_dir):
    """s10's sha2 digest over BinaryType content must be map-side — no
    shuffle of the blob bytes."""
    plan = _plan(spark, sf_dir, "s10_binary_source")
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan


def test_salted_join_carries_salt_key(spark, sf_dir):
    plan = _plan(spark, sf_dir, "j13_salted_join")
    # the equi-join must run on the widened (user_id, salt) key space,
    # and nothing may degrade to a nested-loop/cartesian shape
    assert "salt" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_zorder_layout_skips_row_groups(spark, sf_dir):
    """The Z-ordered lineitem copy must let parquet min/max stats prune
    a majority of row groups for the 2-D box probe (the point of s12)."""
    import glob

    import pyarrow.parquet as pq

    from nipd_spark.streaming.harness import scratch_dir

    registry.all_specs()["s12_zorder_skipping"].fn(spark, sf_dir).collect()
    d = scratch_dir(sf_dir, "lineitem_zorder")
    total = hit = 0
    for f in glob.glob(d + "/*.parquet"):
        md = pq.ParquetFile(f).metadata
        names = [md.schema.column(i).name for i in range(md.num_columns)]
        ip, isup = names.index("l_partkey"), names.index("l_suppkey")
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            sp, ss = g.column(ip).statistics, g.column(isup).statistics
            total += 1
            if sp.min <= 59 and sp.max >= 20 and ss.min <= 5 and ss.max >= 2:
                hit += 1
    assert total >= 4  # layout actually produced multiple row groups
    assert hit / total <= 0.5  # stats prune at least half for the box

    plan = _plan(spark, sf_dir, "s12_zorder_skipping")
    assert "PushedFilters" in plan and "l_partkey" in plan


def test_compaction_reduces_file_count(spark, sf_dir):
    import glob

    from nipd_spark.streaming.harness import scratch_dir

    registry.all_specs()["s13_compaction"].fn(spark, sf_dir).collect()
    frag = glob.glob(scratch_dir(sf_dir, "orders_fragmented") + "/*.parquet")
    compact = glob.glob(scratch_dir(sf_dir, "orders_compacted") + "/*.parquet")
    assert len(frag) >= 32
    assert len(compact) <= 2
    n_frag = spark.read.parquet(scratch_dir(sf_dir, "orders_fragmented")).count()
    n_comp = spark.read.parquet(scratch_dir(sf_dir, "orders_compacted")).count()
    assert n_frag == n_comp


def test_j15_bloom_filter_injected(spark, sf_dir):
    """InjectRuntimeFilter fired: the selective orders build side pushes
    a bloom might-contain onto the lineitem probe BEFORE the join, and
    the join itself is the pinned shuffle (sort-merge) shape — the
    100 TB posture where neither side broadcasts."""
    df = registry.all_specs()["j15_bloom_filter_join"].fn(spark, sf_dir)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
    assert "bloom" in optimized.lower()
    # conf overrides used to pin the shape must NOT leak into the session
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") != "-1"


def test_a17_plan_matches_coverage_certificate(spark, sf_dir):
    """a17's plan is DATA-ADAPTIVE: the bounded broadcast-semi recount
    only when the runtime coverage certificate (kth·m > n) proves it
    exact; otherwise the exact GROUP BY over the partials. The chosen
    branch must correspond to the certificate computed independently
    here — and the test corpus's flat bigram domain fails it, so the
    shipped plan on this corpus is the fallback (no LeftSemi). The
    fast path's broadcast-semi shape is pinned on a skewed corpus in
    test_heavy_hitter_guard_falls_back_on_flat_distribution."""
    import pyspark.sql.functions as F

    from nipd_spark.catalog import load
    from nipd_spark.operators import text

    plan = _plan(spark, sf_dir, "a17_heavy_hitters")
    assert "CartesianProduct" not in plan

    bigrams = load(spark, sf_dir, "documents").select(
        F.explode(text.shingles(F.col("text"), 2)).alias("bigram")
    )
    counts = bigrams.groupBy("bigram").agg(F.count("*").alias("n"))
    top = counts.orderBy(F.col("n").desc(), F.col("bigram").asc()).limit(25)
    kth = top.collect()[-1]["n"]
    n_total = counts.agg(F.sum("n")).first()[0]
    certificate_passes = int(kth) * 256 > int(n_total)
    assert ("LeftSemi" in plan) == certificate_passes
    assert not certificate_passes, (
        "corpus distribution changed: if the certificate now passes, "
        "move the fast-path plan pin here"
    )


def test_c14_attribution_no_cartesian(spark, sf_dir):
    """Time-decay attribution's time-band pairing must ride the user_id
    equi-key — no cartesian/BNLJ over the band predicate."""
    plan = _plan(spark, sf_dir, "c14_time_decay_attribution")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sql4_lateral_is_decorrelated(spark, sf_dir):
    """The LATERAL subquery must decorrelate to a window-over-join plan
    — a correlated re-execution would show as BNLJ/cartesian."""
    plan = _plan(spark, sf_dir, "sql4_lateral_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" in plan


def test_l36_chunking_stays_jvm_side(spark, sf_dir):
    """Chunk generation is pure JVM expression work — no Python eval
    stage anywhere in the plan."""
    plan = _plan(spark, sf_dir, "l36_chunk_documents")
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_aqe_skew_join_splits(spark, sf_dir):
    """Runtime skew evidence: with AQE skew-join enabled and a fact
    table where 90% of rows share one key, the executed plan must carry
    the skew=true marker (OptimizeSkewedJoin split the hot partition).
    This is the engine's answer to hot keys at 100 TB alongside the
    explicit salting patterns (a1b/j13); thresholds are shrunk to make
    toy data register as skewed, then restored."""
    from pyspark.sql import functions as F

    overrides = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in overrides}
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        fact = spark.range(0, 200_000).select(
            F.when(F.col("id") % 10 != 0, 0).otherwise(F.col("id")).alias("k"),
            F.col("id").alias("v"),
        )
        dim = spark.range(0, 200_000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        j = fact.join(dim, "k").groupBy().agg(F.count("*").alias("n"))
        [row] = j.collect()
        assert row.n == 200_000  # every fact row matched exactly once
        plan = j._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
        assert "skew=true" in plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_cached_table_scans_in_memory(spark, sf_dir):
    """spark.catalog caching: after cacheTable + materialization, plans
    against the view must read the InMemoryRelation (columnar cache),
    not re-scan parquet — the interactive-reuse posture for dimension
    tables hit by many queries in one session."""
    from nipd_spark.catalog import load

    load(spark, sf_dir, "nation").createOrReplaceTempView("nation_cache_probe")
    spark.catalog.cacheTable("nation_cache_probe")
    try:
        spark.table("nation_cache_probe").count()  # materialize
        df = spark.table("nation_cache_probe").groupBy("n_regionkey").count()
        plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), "formatted"
        )
        assert "InMemoryRelation" in plan  # cached columnar source
        assert "Scan parquet" not in plan.split("InMemoryRelation")[0]
    finally:
        spark.catalog.uncacheTable("nation_cache_probe")


def test_sargable_predicate_pushes_nonsargable_does_not(spark, sf_dir):
    """SARGability evidence: a raw range predicate on o_orderdate
    reaches the parquet scan as a PushedFilter; wrapping the column in
    date_trunc() silences pushdown (the scan reads everything and
    filters after) — the classic query-author footgun, pinned so the
    repo's own queries keep using the range form (q3/q5/s6c all do)."""
    from pyspark.sql import functions as F

    from nipd_spark.catalog import load

    o = load(spark, sf_dir, "orders")
    good = o.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("o_orderkey")
    bad = o.filter(
        F.date_trunc("year", "o_orderdate")
        == F.lit("1996-01-01").cast("timestamp")
    ).select("o_orderkey")

    def plan(df):
        return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), "formatted"
        )

    assert "PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual" in plan(good)
    assert "GreaterThanOrEqual(o_orderdate" not in plan(bad)
    # both produce identical rows — the cost, not the answer, differs
    assert good.count() == bad.count()


def test_semdedup_pair_join_is_equi_on_cluster(spark, sf_dir):
    """l46's pairwise stage must plan as an equi join on the cluster id
    (plus the vec_id band filter) — never a cartesian pair blow-up."""
    plan = _plan(spark, sf_dir, "l46_semdedup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dsir_weight_table_broadcasts_no_python(spark, sf_dir):
    """l48: the 256-bucket weight table broadcasts (map-side scoring)
    and the whole pipeline stays JVM-side."""
    plan = _plan(spark, sf_dir, "l48_dsir_importance")
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_repeated_spans_no_pairwise_join(spark, sf_dir):
    """l49: dup-gram detection is groupBy + semi-join — nothing
    pairwise, no nested-loop fallback."""
    plan = _plan(spark, sf_dir, "l49_repeated_spans")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftSemi" in plan


def test_balanced_shards_sorts_metadata_only(spark, sf_dir):
    """l47: the global row_number window must see only the (doc_id, n)
    metadata projection — the text column never reaches the sort."""
    plan = _plan(spark, sf_dir, "l47_balanced_shards")
    import re

    w = re.search(r"\(\d+\) Window[\s\S]*?Input \[\d+\]: \[([^\]]*)\]", plan)
    assert w is not None
    assert "text" not in w.group(1)


def test_interval_overlap_is_equi_not_bnlj(spark, sf_dir):
    """j20's interval-interval overlap joins on (bucket, suppkey) — the
    raw two-sided inequality must never plan as a nested loop."""
    plan = _plan(spark, sf_dir, "j20_interval_overlap")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_l10d_band_join_is_equi(spark, sf_dir):
    """The perceptual-hash band join must plan as a hash equi join on
    (band, bkey) — never a nested loop over fingerprints — and the
    fingerprint must be computed map-side (no Python eval)."""
    plan = _plan(spark, sf_dir, "l10d_perceptual_neardup")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_l68_lang_pairing_is_equi(spark, sf_dir):
    """Cross-language pairing must go through the lang-pair equi joins
    — the tiny-dim theta self-join variant planned as a Cartesian and
    is the shape this test exists to forbid."""
    plan = _plan(spark, sf_dir, "l68_margin_bitext")
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan  # global top-20, no full sort


def test_l65_fusion_joins_are_not_nested_loop(spark, sf_dir):
    """l65: the only nested-loop join allowed is the broadcast of the
    fixed 4-row query-vector table onto the embeddings scan; the
    fusion of the two k-bounded legs must stay a hash join and the
    BM25 leg's term filter must reach the join before any aggregation
    (no CartesianProduct anywhere)."""
    plan = _plan(spark, sf_dir, "l65_rrf_hybrid")
    assert "CartesianProduct" not in plan
    # tree nodes only (each also repeats in the details section)
    assert plan.count("BroadcastNestedLoopJoin Cross") <= 2  # qv + stats


def test_margin_bitext_ivf_no_cartesian(spark, sf_dir):
    """l68b: the only pair-producing stage is the list_id equi-join —
    no CartesianProduct anywhere; the sole nested-loop join is the
    broadcast of the C-centroid quantizer (ALLOW-listed), and the
    global top-20 stays TakeOrderedAndProject."""
    plan = _plan(spark, sf_dir, "l68b_margin_bitext_ivf")
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_l70_metric_joins_k_bounded_no_cartesian(spark, sf_dir):
    """l70's only nested-loop is the deliberate broadcast of the 4-row
    query-vector table; the metric joins (DCG/IDCG) are hash joins on
    query_id over k-bounded tables."""
    plan = _plan(spark, sf_dir, "l70_retrieval_eval")
    assert "CartesianProduct" not in plan
    # exactly the two dense-leg scans may broadcast-nested-loop the
    # 4-row query vectors; nothing fact-sized joins unkeyed
    assert plan.count("BroadcastNestedLoopJoin") <= 2


def test_l69_candidate_leg_no_cartesian(spark, sf_dir):
    plan = _plan(spark, sf_dir, "l69_mmr_diversify")
    assert "CartesianProduct" not in plan
    # ONE BNLJ instance (the 4-row query-vector broadcast); formatted
    # explain prints each node twice (tree + detail block)
    assert plan.count("BroadcastNestedLoopJoin") <= 2
    # the MMR python stage runs on grouped k-bounded candidates
    assert "FlatMapGroupsInPandas" in plan


def test_g4_supersteps_are_equi_joins(spark, sf_dir):
    plan = _plan(spark, sf_dir, "g4_bfs_hops")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_c35_no_per_nation_raw_row_window(spark, sf_dir):
    """The per-nation prefix sum must come from the grouped histogram
    cumsum (bucketed windows), never a Window partitioned only by the
    25-value n_name over per-customer rows."""
    plan = _plan(spark, sf_dir, "c35_gini_by_nation")
    assert "CartesianProduct" not in plan
    for line in plan.splitlines():
        if "Window" in line and "n_name" in line and "__rk_bucket" not in line:
            raise AssertionError(f"raw per-nation window leaked: {line}")


def test_w22_topk_is_take_ordered(spark, sf_dir):
    plan = _plan(spark, sf_dir, "w22_spearman_corr")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_l72_estep_is_map_in_pandas_over_collapsed_vocab(spark, sf_dir):
    plan = _plan(spark, sf_dir, "l72_unigram_lm_em")
    assert "CartesianProduct" not in plan
    assert "MapInPandas" in plan


def test_l73_postings_filtered_before_shuffle(spark, sf_dir):
    """l73's adjacency join must be hash/broadcast equi — never a
    nested loop over raw postings — and per-phrase ranking must not
    window raw posting lists. Since the r12 optimization the 3-row
    phrase table is localCheckpointed (two broadcast consumers must not
    re-run the fact-sized selection aggregate), so its
    TakeOrderedAndProject subplan is materialized separately and the
    main plan reads it as an RDD scan; both adjacency sides derive from
    the single checkpointed phrase-word postings table."""
    plan = _plan(spark, sf_dir, "l73_phrase_search")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Scan ExistingRDD" in plan  # checkpointed phrase/postings feed


def test_l73_precheckpoint_shape_pinned(spark, sf_dir, monkeypatch):
    """The subplans BEHIND l73's checkpoints, re-pinned (r12 ADVICE:
    the generic RDD-scan check above is satisfiable by ANY checkpoint —
    the r11 vacuous-probe lesson). NIPD_SPARK_NO_CHECKPOINT makes the
    checkpoint helpers identity, so the FULL plan is visible: the
    top-3 phrase selection must be a TakeOrderedAndProject (no full
    sort of the candidate aggregate), the adjacency joins stay
    equi/broadcast, and no checkpoint-hidden cartesian sneaks in."""
    monkeypatch.setenv("NIPD_SPARK_NO_CHECKPOINT", "1")
    plan = _plan(spark, sf_dir, "l73_phrase_search")
    assert "TakeOrderedAndProject" in plan   # phrase selection, visible again
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Scan ExistingRDD" not in plan    # nothing left hidden


def test_l50_shared_pair_agg_no_distinct(spark, sf_dir):
    """r13 gopher-rules shape: the function-word and repetition rules
    fold out of ONE (doc, token) count aggregate — the former
    broadcast-semi + countDistinct pass (6.0 s isolated at the 100x
    replica, the query's most expensive leg) must not reappear, and
    the corpus is scanned exactly three times (stats, freq, pair agg),
    not four."""
    import re

    plan = _plan(spark, sf_dir, "l50_gopher_rules")
    assert "(distinct" not in plan  # no two-level distinct aggregate
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 3


def test_l67_single_scan_broadcast_scoring(spark, sf_dir):
    """r13 KN shape: the vocab²-bounded bigram-type table cb is
    plan_checkpoint'ed (computed once) and every LM table derives from
    it, so the main plan must carry exactly ONE parquet scan — the
    scoring bigram stream; the r12 spelling re-ran the fact scan FIVE
    times (one per cb re-derivation). The scoring join must be a
    broadcast, never a SortMergeJoin that exchanges+sorts every bigram
    instance by (u, w)."""
    import re

    plan = _plan(spark, sf_dir, "l67_kneser_ney_logprob")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "SortMergeJoin" not in plan
    assert "Scan ExistingRDD" in plan  # the checkpointed cb feed


def test_l67_precheckpoint_shape_pinned(spark, sf_dir, monkeypatch):
    """The subplan BEHIND l67's cb checkpoint, pinned under
    NIPD_SPARK_NO_CHECKPOINT (the r11/r12 lesson: a generic RDD-scan
    probe is satisfiable by any checkpoint): with the helpers as
    identity the FULL plan is visible and must still contain no
    SortMergeJoin (the scoring join stays broadcast), no cartesian,
    and a partial_count bigram-type aggregate keyed (u, w)."""
    monkeypatch.setenv("NIPD_SPARK_NO_CHECKPOINT", "1")
    plan = _plan(spark, sf_dir, "l67_kneser_ney_logprob")
    assert "Scan ExistingRDD" not in plan  # nothing left hidden
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Keys [2]: [u" in plan  # the (u, w) type aggregate


def test_a32_no_global_raw_row_window(spark, sf_dir):
    """a32's global row number must come from the bucketed two-pass
    rank, never Window.orderBy over the raw table (single partition)."""
    jvm, qe = _qe(spark, sf_dir, "a32_equidepth_histogram")
    plan = _fmt(jvm, qe)
    assert "CartesianProduct" not in plan
    assert not _qe_has_global_window(qe)  # only __rk_bucket-keyed windows


def test_l74_single_pass_no_udf(spark, sf_dir):
    plan = _plan(spark, sf_dir, "l74_length_bucket_packing")
    assert "BatchEvalPython" not in plan
    assert "Exchange" in plan  # exactly the one bucket agg shuffle
    assert plan.count("Scan parquet") == 2  # tree + detail of ONE scan


def test_j21_asof_sql_splice_shape(spark, sf_dir):
    """The ASOF-SQL rewrite (j21) must produce the same physical shape
    the DataFrame as-of (j9) pins: one key-partitioned window carrying
    the match (never a range cross product), hash aggregation around
    the splice, and no nested-loop join anywhere."""
    jvm, qe = _qe(spark, sf_dir, "j21_asof_sql_surface")
    plan = _fmt(jvm, qe)
    assert "windowspecdefinition" in plan           # union+window as-of
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashAggregate" in plan                  # the GROUP BY rides Catalyst
    assert not _qe_has_global_window(qe)            # window is key-partitioned


def test_dq10_single_bucket_pass(spark, sf_dir):
    """dq10's two ECDFs must come from ONE bucketed running-sum pass
    (r9 VERDICT finding 1): a single bucket-partitioned Window
    computing both prefix sums, not two chained single-column calls
    whose second totals-agg re-derives the first join's lineage."""
    df = registry.all_specs()["dq10_ks_two_sample"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert plan.count("Window") == 1
    assert "CartesianProduct" not in plan


def test_sql7_qualify_plan_shape(spark, sf_dir):
    """The QUALIFY rewrite (sql7) must emit the plan Catalyst builds
    for the subquery spelling: both window functions share the ONE
    o_custkey shuffle (a growing partition key — never a
    bounded-domain raw-row funnel), a plain Filter — no
    CartesianProduct, no Python, no global window."""
    jvm, qe = _qe(spark, sf_dir, "sql7_qualify")
    plan = _fmt(jvm, qe)
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "windowspecdefinition" in plan
    assert not _qe_has_global_window(qe)  # windows are key-partitioned
    assert plan.count("Exchange") <= 2  # one shuffle feeds both windows


@pytest.mark.parametrize(
    "name", ["dq10c_ks_sketch_binned", "dq10d_ks_sketch_certificate"]
)
def test_sketch_binned_ks_has_no_ranks_pass(spark, sf_dir, name):
    """The binned-ONLY KS production path must be two map passes + a
    31-row aggregate: NO distinct-value collapse feeding the bucketed
    rank machinery (no __rk_ columns anywhere) and, for the statistic
    itself, no window at all — the whole point of the sketch-edge
    variant (dq10b's in-plan exact-D twin keeps the ranks pass; this
    one must not)."""
    plan = _plan(spark, sf_dir, name)
    assert "__rk_" not in plan
    if name == "dq10c_ks_sketch_binned":
        assert "windowspecdefinition" not in plan


@pytest.mark.parametrize(
    "name", ["o7_skyline", "o7b_skyline_continuous", "o7c_skyline_grid3d"]
)
def test_skyline_join_back_strategy_tolerant(spark, sf_dir, name):
    """The skyline join-backs must never be a CartesianProduct, and the
    frontier join-back must be an EQUI join the optimizer is free to
    plan as broadcast OR shuffle (r11: the forced F.broadcast on the
    data-dependent frontier was removed — an anti-correlated frontier
    is O(distinct keys) and must not be forced driver-side). o7c's
    BNLJs are the bounded ≤G³-row cell-table passes, allowed by the
    lint entry; the point-level joins stay equi."""
    plan = _plan(spark, sf_dir, name)
    assert "CartesianProduct" not in plan
    # the join-back exists as SOME hash/merge equi join — any of the
    # three strategies is acceptable, a forced one is not pinned
    assert (
        "BroadcastHashJoin" in plan
        or "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
    )


@pytest.mark.parametrize(
    "name",
    [
        "w25_pattern_quantified",
        "w25b_pattern_optional",
        "sql9_match_recognize",
        "sql10_match_recognize_quantified",
        "w26_pattern_all_rows",
        "sql11_match_recognize_all_rows",
        "w27_pattern_alternation",
        "sql12_match_recognize_alternation",
        "w28_pattern_overlapping",
        "sql13_match_recognize_skip_to_next",
        "sql15_match_recognize_optional_group",
    ],
)
def test_w10_v2_patterns_stay_all_jvm(spark, sf_dir, name):
    """The quantified/optional W10 queries and the MATCH_RECOGNIZE SQL
    surface must compile to the all-JVM islands plan: key-partitioned
    windows only (user_id grows with data), no Python stage (the
    sequential escape hatch is only for self-overlapping patterns),
    no cartesian blow-up."""
    jvm, qe = _qe(spark, sf_dir, name)
    plan = _fmt(jvm, qe)
    assert "windowspecdefinition" in plan
    assert not _qe_has_global_window(qe)
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "FlatMapGroupsInPandas" not in plan


def test_w27b_permute_python_sees_islands_not_rows(spark, sf_dir):
    """w27b (PERMUTE) deliberately routes through the sequential
    matcher: exactly ONE bucketed applyInPandas stage, fed by the
    keyed island collapse (an aggregate BELOW the Python node — Python
    sees runs, never raw rows), with the label/island windows still
    key-partitioned."""
    jvm, qe = _qe(spark, sf_dir, "w27b_pattern_permute")
    plan = _fmt(jvm, qe)
    assert "windowspecdefinition" in plan
    assert not _qe_has_global_window(qe)
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    # formatted explain prints each node twice (tree + detail block)
    assert 1 <= plan.count("FlatMapGroupsInPandas") <= 2
    # the island collapse exists in the same plan (first() makes it a
    # Sort/ObjectHashAggregate) — Python's input is the aggregated run
    # table, not raw events
    assert "Aggregate" in plan
