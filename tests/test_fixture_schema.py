"""Fixture-drift guard (VERDICT.md r2 item 4).

The driver re-materializes /root/testdata between rounds and has already
changed encodings once (events.ts: ns in r1 → µs in r2), which broke 26
operators at plan-build time with opaque AnalysisExceptions. This module
pins every table's parquet footer schema with pyarrow — no Spark session,
so it fails in milliseconds with a message naming the drifted column.

Run first: pytest orders files alphabetically within a dir, but to be
safe this is also wired into conftest-free plain collection; any drift
shows up as test_fixture_schema failures before the Spark suites start.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_SMALL", "/root/testdata/sf0.001")

# column -> set of acceptable arrow type strings. Multiple entries where
# the generator has legitimately shipped different encodings across
# rounds AND the loader (nipd_spark.catalog.load) adapts to each.
EXPECTED: dict[str, dict[str, set[str]]] = {
    "region": {"r_regionkey": {"int32"}, "r_name": {"string", "large_string"}},
    "nation": {
        "n_nationkey": {"int32"},
        "n_name": {"string", "large_string"},
        "n_regionkey": {"int32"},
    },
    "customer": {
        "c_custkey": {"int64"},
        "c_name": {"string", "large_string"},
        "c_nationkey": {"int32"},
        "c_acctbal": {"double"},
        "c_mktsegment": {"string", "large_string"},
    },
    "supplier": {
        "s_suppkey": {"int64"},
        "s_name": {"string", "large_string"},
        "s_nationkey": {"int32"},
        "s_acctbal": {"double"},
    },
    "part": {
        "p_partkey": {"int64"},
        "p_name": {"string", "large_string"},
        "p_brand": {"string", "large_string"},
        "p_type": {"string", "large_string"},
        "p_size": {"int32"},
        "p_retailprice": {"double"},
    },
    "orders": {
        "o_orderkey": {"int64"},
        "o_custkey": {"int64"},
        "o_orderstatus": {"string", "large_string"},
        "o_totalprice": {"double"},
        "o_orderdate": {"timestamp[ms]", "timestamp[us]", "timestamp[ns]"},
        "o_orderpriority": {"string", "large_string"},
    },
    "lineitem": {
        "l_orderkey": {"int64"},
        "l_partkey": {"int64"},
        "l_suppkey": {"int64"},
        "l_linenumber": {"int32"},
        "l_quantity": {"double"},
        "l_extendedprice": {"double"},
        "l_discount": {"double"},
        "l_tax": {"double"},
        "l_returnflag": {"string", "large_string"},
        "l_linestatus": {"string", "large_string"},
        "l_shipdate": {"timestamp[ms]", "timestamp[us]", "timestamp[ns]"},
    },
    "events": {
        "event_id": {"int64"},
        # ns (r1 vintage), µs (r2+): catalog.load._events_ts_is_ns adapts.
        "ts": {"timestamp[us]", "timestamp[ns]", "int64"},
        "user_id": {"int64"},
        "event_type": {"string", "large_string"},
        "value": {"double"},
        "props": {"string", "large_string"},
    },
    "documents": {
        "doc_id": {"int64"},
        "text": {"string", "large_string"},
        "lang": {"string", "large_string"},
        "source": {"string", "large_string"},
        "n_chars": {"int64"},
    },
    "embeddings": {
        "vec_id": {"int64"},
        "embedding": {"list<item: float>", "list<element: float>"},
        "label": {"int32"},
    },
}


@pytest.mark.parametrize("table", sorted(EXPECTED))
def test_footer_schema_matches_contract(table: str) -> None:
    path = f"{SF_DIR}/{table}.parquet"
    schema = pq.read_schema(path)
    actual = {f.name: str(f.type) for f in schema}
    expected = EXPECTED[table]
    assert set(actual) == set(expected), (
        f"FIXTURE DRIFT: {path} columns changed.\n"
        f"  missing: {sorted(set(expected) - set(actual))}\n"
        f"  unexpected: {sorted(set(actual) - set(expected))}\n"
        f"Update nipd_spark/catalog.py + FIXTURES.md + this contract."
    )
    for col, allowed in expected.items():
        assert actual[col] in allowed, (
            f"FIXTURE DRIFT: {path} column '{col}' is {actual[col]}, "
            f"expected one of {sorted(allowed)}. The test-data generator "
            f"re-materialized with a new encoding — update "
            f"nipd_spark/catalog.py (loader adaptation), FIXTURES.md, "
            f"and this contract together."
        )


def test_all_sf_dirs_consistent() -> None:
    """The three SF dirs must agree on the events.ts encoding — the
    loader sniffs per-dir, but mixed eras would make bench (sf0.1) and
    correctness (sf0.01) silently diverge."""
    types = {}
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        d = f"/root/testdata/{sf}"
        if os.path.isdir(d):
            types[sf] = str(pq.read_schema(f"{d}/events.parquet").field("ts").type)
    assert len(set(types.values())) == 1, f"events.ts encoding differs: {types}"


def test_catalog_adapts_to_both_ts_encodings(spark, tmp_path):
    """catalog.load must yield identical TimestampType values whether
    events.ts is stored as µs timestamp (current fixtures) or ns
    timestamp (round-1 vintage) — the drift class that broke round 2.
    Builds tiny synthetic parquets of both encodings and loads each."""
    import pyarrow as pa

    import nipd_spark.catalog as catalog

    vals_us = [1704067200_000_000, 1704070800_123_456]  # 2024-01-01 UTC
    rows = {
        "event_id": pa.array([0, 1], pa.int64()),
        "user_id": pa.array([0, 1], pa.int64()),
        "event_type": pa.array(["click", "view"]),
        "value": pa.array([1.0, 2.0], pa.float64()),
        "props": pa.array(['{"k": 1}', '{"k": 2}']),
    }
    cases = {
        "us": pa.array(vals_us, pa.timestamp("us")),
        "ns": pa.array([v * 1000 for v in vals_us], pa.timestamp("ns")),
    }
    results = {}
    for tag, ts_arr in cases.items():
        d = str(tmp_path / tag)
        os.makedirs(d)
        t = pa.table({"event_id": rows["event_id"], "ts": ts_arr, **{
            k: v for k, v in rows.items() if k != "event_id"}})
        pq.write_table(t, f"{d}/events.parquet")
        df = catalog.load(spark, d, "events")
        assert df.schema["ts"].dataType.simpleString() == "timestamp", tag
        results[tag] = [r["ts"] for r in df.orderBy("event_id").collect()]
    assert results["us"] == results["ns"]


def test_timestamp_types_independent_of_load_order(spark, sf_dir):
    """Parquet timestamps read as TimestampType whichever table a
    session loads first: the no-NTZ-inference conf is set once when
    the session is built (child sessions inherit it), not when events
    happens to be loaded. A fresh child session that loads orders
    before events, then lineitem, must see `timestamp` on all three."""
    import nipd_spark.catalog as catalog

    s = spark.newSession()
    got = {
        col: catalog.load(s, sf_dir, table).schema[col].dataType.simpleString()
        for table, col in (
            ("orders", "o_orderdate"),
            ("events", "ts"),
            ("lineitem", "l_shipdate"),
        )
    }
    assert got == dict.fromkeys(got, "timestamp"), got
