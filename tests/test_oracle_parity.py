"""Differential-oracle parity for every registered query (SURVEY.md §5.2.1).

Mirrors the driver's sf0.01 gate at sf0.001: row count + schema +
order-insensitive canonical values vs the DuckDB twin.
"""

from __future__ import annotations

import pytest

from nipd_spark import registry
from nipd_spark.testing import compare_spec

SPECS = registry.all_specs()


@pytest.mark.parametrize("name", sorted(SPECS))
def test_query_matches_oracle(name, spark, duck, sf_dir):
    ok, detail = compare_spec(spark, duck, SPECS[name], sf_dir)
    assert ok, f"{name}: {detail}"


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns[0] == "l_returnflag"


def test_s20_follows_the_tier_not_the_stage(spark, sf_dir):
    """s20 stages events as 4 chunk files. Run at sf0.001 and then at
    sf0.01 in one process, each tier must count every one of its own
    events and match the oracle derived from its events table (a fixed
    stage path once served sf0.01 the 1000 rows staged for sf0.001,
    and an oracle reading those same files agreed)."""
    import os

    from pyspark.sql import functions as F

    from nipd_spark.testing import make_duck

    tiers = [sf_dir, os.path.join(os.path.dirname(sf_dir), "sf0.01")]
    if not os.path.isdir(tiers[1]):
        pytest.skip("sf0.01 fixture absent")
    spec = SPECS["s20_file_provenance"]
    for d in tiers:
        con = make_duck(d)
        try:
            n_events = con.execute("SELECT count(*) FROM events").fetchone()[0]
            n_rows = spec.fn(spark, d).agg(F.sum("n_rows")).first()[0]
            assert n_rows == n_events, (d, n_rows, n_events)
            ok, detail = compare_spec(spark, con, spec, d)
            assert ok, f"{d}: {detail}"
        finally:
            con.close()


def test_every_query_has_unique_name():
    assert len(SPECS) == len(set(SPECS))


def test_oracle_keys_subset_of_queries():
    import __spark_entry__ as e

    q, o = e.queries(), e.oracle_sql()
    assert set(o) <= set(q)
