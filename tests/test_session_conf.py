"""Work-specific conf lives in child sessions (session.child_session):
the data tier's conf, a stream's state partitions and a query's
optimizer switches never mutate the session a caller hands in.
"""

from __future__ import annotations

import os

import pytest

from nipd_spark import catalog, registry

GIB2 = 2 * 1024**3


def _sql_conf(spark) -> dict[str, str]:
    return {
        r.key: r.value
        for r in spark.sql("SET").collect()
        if r.key.startswith("spark.sql.")
    }


@pytest.fixture
def big_sf01(monkeypatch, sf_dir):
    """sf0.01 sized as a 2 GiB tier (the 16x/100x replicas' path), on the
    default local profile."""
    sf01 = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    if not os.path.isdir(sf01):
        pytest.skip("sf0.01 fixture absent")
    real = catalog._dir_bytes
    monkeypatch.setattr(
        catalog, "_dir_bytes", lambda d: GIB2 if d == sf01 else real(d)
    )
    return sf01


def test_big_tier_plan_keeps_its_partitions_after_small_load(
    spark, sf_dir, big_sf01
):
    """A frame built at a big tier executes at that tier's partition
    count even when a small tier is loaded between build and action:
    the tier conf lives in the frame's session, not in session-global
    keys that Spark reads only when the action runs."""
    import re

    from pyspark.sql import functions as F

    before = spark.conf.get("spark.sql.shuffle.partitions")
    df = (
        catalog.load(spark, big_sf01, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n"))
    )
    catalog.load(spark, sf_dir, "lineitem")  # a small tier in between
    assert df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    widths = re.findall(r"hashpartitioning\([^()]*, (\d+)\)", plan)
    assert widths and set(widths) == {"128"}, plan
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_queries_leave_the_callers_conf_unchanged(spark, sf_dir):
    """Queries that need their own conf (the CBO switches, sql14's
    recursion limit, t1's 2-partition reduce, j15's shuffle-join pin,
    s6e's dynamic overwrite) run and leave every spark.sql.* key of the
    caller's session as it was; t1 still plans its 2 reduce partitions."""
    specs = registry.all_specs()
    before = _sql_conf(spark)
    for name in (
        "cbo1_stats_join_reorder",
        "cbo2_filter_cardinality",
        "sql14_recursive_cte",
        "t1_tumbling_hourly",
        "j15_bloom_filter_join",
        "s6e_dynamic_overwrite",
    ):
        df = specs[name].fn(spark, sf_dir)
        assert df.collect(), name
        if name == "t1_tumbling_hourly":
            assert df.rdd.getNumPartitions() == 2
    assert _sql_conf(spark) == before


@pytest.mark.parametrize(
    "name", ["sql1_sql_api", "p8_not_in_nulls", "d12_udtf_analyze"]
)
def test_big_tier_session_queries_match_oracle(spark, big_sf01, name):
    """Queries that register temp views or a UDTF and then call
    spark.sql still find them at a big tier, where they run in the tier
    session: the registry hands every query that session, so the views
    land where its SQL looks."""
    from nipd_spark.testing import compare_spec, make_duck

    con = make_duck(big_sf01)
    try:
        ok, detail = compare_spec(spark, con, registry.all_specs()[name], big_sf01)
    finally:
        con.close()
    assert ok, detail
    tier = catalog.tier_session(spark, big_sf01)
    assert tier is not spark
    assert tier.conf.get("spark.sql.shuffle.partitions") == "128"


def test_conf_is_set_only_where_a_session_is_made():
    """Every conf.set/conf.unset call in nipd_spark/ sits in
    child_session (which sets a new child's overrides), in the
    ns-vintage branches of catalog.load and harness.events_stream, or in
    harness.state_store_provider: five calls in all. Any other write
    would mutate a session some caller handed in. No Spark needed."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / "nipd_spark"
    owners = []
    for path in sorted(pkg.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        funcs = [n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)]
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("set", "unset")
                and isinstance(node.func.value, ast.Attribute)
                and node.func.value.attr == "conf"
            ):
                names = [
                    f.name for f in funcs if f.lineno <= node.lineno <= f.end_lineno
                ]
                owners.append(
                    (path.relative_to(pkg).as_posix(), names[-1] if names else None)
                )
    assert len(owners) <= 5, owners
    assert set(owners) <= {
        ("session.py", "child_session"),
        ("catalog.py", "load"),
        ("streaming/harness.py", "events_stream"),
        ("streaming/harness.py", "state_store_provider"),
    }, owners
