"""bench.py's JSON line is a contract: BASELINE.json and the BENCH_r*
series read its keys, and perfbench/worker.py imports bench._calibrate.
Pin the key sets so a refactor of the timing code cannot drift them."""

from __future__ import annotations

import json

HEADLINE_KEYS = {
    "q1", "q3", "q5", "topk_window", "events_hourly", "token_tf", "knn_cosine",
}
CALIB_KEYS = {"noop_floor_sec", "calib_jvm_sec", "calib_duckdb_sec"}
TOP_KEYS = {
    "metric", "value", "unit", "queries", "plan_build_total_sec",
    "fresh_value", "fresh_queries", "fresh_noop_value", "fresh_noop_queries",
    "sf", "warm_floor_bound_queries",
} | CALIB_KEYS
TIER_KEYS = {
    "sf_dir", "copies_of_sf0.1", "value", "queries", "fresh_value",
    "fresh_queries", "fresh_noop_value", "fresh_noop_queries", "skipped",
    "duckdb_value", "duckdb_queries",
}


def test_bench_output_schema(spark, sf_dir, monkeypatch, capsys):
    import bench

    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", sf_dir)
    monkeypatch.setenv("NIPD_BENCH_TIER16", "0")
    monkeypatch.setenv("NIPD_BENCH_TIER100", "0")
    calib = []
    real_calibrate = bench._calibrate

    def calibrate(s):
        calib.append(real_calibrate(s))
        return calib[-1]

    monkeypatch.setattr(bench, "_calibrate", calibrate)
    bench.main()
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    assert set(out) == TOP_KEYS
    assert out["metric"] == "headline_warm_total"
    assert out["unit"] == "sec"
    assert out["sf"] == 0.001
    for section in ("queries", "fresh_queries", "fresh_noop_queries"):
        assert set(out[section]) == HEADLINE_KEYS, section
        assert all(v > 0 for v in out[section].values()), section
    assert set(out["warm_floor_bound_queries"]) <= HEADLINE_KEYS
    # the keys perfbench's traced run reads off bench._calibrate
    assert len(calib) == 1 and set(calib[0]) == CALIB_KEYS
    assert all(out[k] == calib[0][k] > 0 for k in CALIB_KEYS)


def test_bench_tier_schema(spark, sf_dir):
    """The 16×/100× tier blocks share one builder; pin its keys (run on
    the tiny corpus — only the shape is under test)."""
    import bench
    from nipd_spark import registry

    specs = registry.all_specs()
    tier = bench._bench_tier(spark, specs, sf_dir, 16, 2, 2, None)
    assert set(tier) == TIER_KEYS
    expect = HEADLINE_KEYS - bench.TIER16_SKIP
    for section in (
        "queries", "fresh_queries", "fresh_noop_queries", "duckdb_queries"
    ):
        assert set(tier[section]) == expect, section
    assert tier["skipped"] == sorted(bench.TIER16_SKIP)
    # only the 100× tier carries the extra "note" key
    assert [t[0] for t in bench.TIERS if t[-1]] == ["tier100x"]
