"""Bench harness (SURVEY.md §6): headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Timing discipline per BASELINE.md: one shared warm session (JVM startup
excluded); every timing goes through nipd_spark.profile.time_runs. Each
metric's methodology:
  - "queries"/"value" — the PREPARED plan: built once, then 1 cold run
    plus N-1 warm Arrow collects of the same DataFrame; the min of the
    warm runs. Spark reuses completed shuffle map stages across runs,
    so this is the latency floor of a prepared, partially-materialized
    plan — the recurring cost where plans are built once and re-run;
  - "plan_build_total_sec" — the sum of those one-off builds (Python →
    JVM analysis round-trips, plus any jobs a query fires while
    building); the DuckDB equivalent (SQL parse) is sub-ms and inside
    its numbers;
  - "fresh_queries"/"fresh_value" — 1 warm-up, then N runs on a FRESH
    DataFrame each (new lineage, every stage re-executes), timing the
    Arrow collect only; the min. The full-work number comparable to
    DuckDB's warm re-execution, which always re-runs its operators;
  - "fresh_noop_queries"/"fresh_noop_value" — the same with the noop
    sink: every column of every row is computed and discarded, so
    Arrow collection of the result set is excluded (o4's 100× fresh
    number proved to be ~70% driver-side collection of its 4.5M-row
    result). It is NOT a lower bound of "fresh_queries": the noop write
    job adds a fixed setup-and-commit cost that a collect does not pay,
    so for small-result queries it reads higher (at 16×, events_hourly
    0.27-0.40 s noop vs 0.23-0.29 s collect, token_tf 0.38-0.68 s vs
    0.34-0.48 s). It isolates compute only where the collect it drops
    outweighs that fixed cost;
  - "duckdb_queries"/"duckdb_value" — the DuckDB twins on the same
    parquet dir (scale tiers only): N executes, the first untimed; the
    min of the rest;
  - "noop_floor_sec", "calib_jvm_sec", "calib_duckdb_sec" — host-drift
    normalizers with zero repo code (see _calibrate), measured the same
    way: N runs, the first untimed; the min of the rest.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from nipd_spark import registry
from nipd_spark.catalog import TABLES
from nipd_spark.profile import collect, duck_execute, noop, time_runs
from nipd_spark.session import get_spark

# registry name -> short bench key (mirrors BASELINE.md rows)
HEADLINE = [
    ("q1_pricing_summary", "q1"),
    ("q3_shipping_priority", "q3"),
    ("q5_local_supplier", "q5"),
    ("o4_pergroup_topk", "topk_window"),
    ("t1_tumbling_hourly", "events_hourly"),
    ("l6_token_tf", "token_tf"),
    ("l4_knn_bruteforce", "knn_cosine"),
]


# Key-shifted replicas of sf0.1 (tools/gen_scale.py), one row per tier:
# (out key, copies, dir, env switch, generation timeout s, warm runs,
#  DuckDB runs, note). At sf0.1 several headline queries are
# floor-bound — Spark's fixed per-action cost (~0.04 s) dwarfs ~6 ms
# of work — so the 16× tier (VERDICT r8 item 6) makes work dominate.
# The 100× tier (VERDICT r9 item 3; ~sf10: 600M lineitem rows) is
# where the single-threaded-ingest portions of DuckDB's plans dominate
# (topk_window's twin was already 1.9 s at 16×): the twin becomes a
# documentation row quantifying when the distributed plan's constant
# factors amortize.
TIERS = (
    ("tier16x", 16, "/tmp/nipd_scale16", "NIPD_BENCH_TIER16", 600, 4, 4, None),
    (
        "tier100x", 100, "/tmp/nipd_scale100", "NIPD_BENCH_TIER100", 1200, 3, 2,
        "DuckDB twin re-measured at 100x for scaling documentation; "
        "single-node warm-best stops being a like-for-like baseline at "
        "this tier",
    ),
)

# Scale-tier exclusions: l4 is the exact O(n²) GEMM correctness ANCHOR —
# its cost is quadratic by definition (32k² = 1B pair dot products at
# 16×, and its DuckDB twin is far worse), and its scale path is the
# IVF/LSH candidate-set tier (CLAUDE.md; SCALE.md). Benching the anchor
# at 16× would measure the quadratic wall both repos deliberately route
# around, not engine efficiency.
TIER16_SKIP = {"knn_cosine"}


def _ensure_scale(n: int, out_dir: str, timeout: int) -> str | None:
    """Materialize the n× key-shifted replica of sf0.1 (reused across
    runs; 16× ≈ 280 MB / ~1 min, 100× ≈ 1.8 GB / ~6 min one-off). None
    on any failure — scale tiers are additive, never allowed to sink
    the headline run."""
    if all(os.path.exists(f"{out_dir}/{t}.parquet") for t in TABLES):
        return out_dir
    try:
        subprocess.run(
            [sys.executable, f"{REPO}/tools/gen_scale.py", str(n), out_dir],
            check=True,
            capture_output=True,
            timeout=timeout,
        )
        return out_dir
    except Exception:
        return None


def _best(runs) -> float:
    return round(min(runs.times), 4)


def _headline(specs, skip):
    """(bench key, spec) for each headline query present and not skipped."""
    for name, key in HEADLINE:
        spec = specs.get(name)
        if spec is not None and key not in skip:
            yield key, spec


def _bench_specs(spark, specs, sf_dir, n_runs, skip=frozenset()):
    """Prepared-plan warm minimum per query, and the summed build time."""
    timings: dict[str, float] = {}
    build = 0.0
    for key, spec in _headline(specs, skip):
        r = time_runs(lambda: spec.fn(spark, sf_dir), collect, n_runs - 1, reuse=True)
        build += r.build_s
        timings[key] = _best(r)
    return timings, build


def _bench_fresh(spark, specs, sf_dir, n_runs, sink, skip=frozenset()):
    """Fresh-lineage minimum per query, timing ``sink`` only."""
    return {
        key: _best(time_runs(lambda: spec.fn(spark, sf_dir), sink, n_runs))
        for key, spec in _headline(specs, skip)
    }


def _bench_duck(specs, sf_dir, n_runs, skip=frozenset()):
    """DuckDB twins on the same parquet dir — the warm-best baseline
    methodology of BASELINE.md, re-measured at this tier so the ratio
    is work-vs-work, not Spark's ~0.04 s local-mode action floor vs
    sub-ms DuckDB dispatch."""
    from nipd_spark.testing import make_duck

    run = duck_execute(make_duck(sf_dir))
    return {
        key: _best(time_runs(lambda: spec.sql, run, n_runs - 1))
        for key, spec in _headline(specs, skip)
        if spec.sql
    }


def _calibrate(spark) -> dict[str, float]:
    """Host-variance normalizers (r11 VERDICT item 4 — three headline
    rises in a row were indistinguishable from host drift):

      - noop_floor_sec: best toPandas() of a trivial 3,600-row
        1-partition frame (events_hourly's result size; the compute is
        ~µs of xxhash64) — the fixed per-action cost (job submit +
        1-task schedule + Arrow collect). Any warm per-query number is
        bounded below by this; events_hourly's 2.2x-of-DuckDB r11
        driver reading is graded against it (measured: the floor ≈
        the whole events_hourly warm number).
      - calib_jvm_sec: a fixed pure-JVM aggregate over spark.range
        (64M xxhash64 sums, 32 splits, fresh lineage per run) — zero
        repo code, zero IO, so round-over-round movement here is the
        HOST, not the engine.
      - calib_duckdb_sec: the DuckDB twin of the same hash-sum loop,
        normalizing the baseline side identically.
    """
    import duckdb
    from pyspark.sql import functions as F

    floor = time_runs(
        lambda: spark.range(0, 3600, 1, 1).select(
            F.col("id"), F.xxhash64("id").alias("h")
        ),
        collect, 9, reuse=True,
    )
    jvm = time_runs(
        lambda: spark.range(0, 64_000_000, 1, 32).select(
            # pmod keeps the ANSI sum far from long overflow
            F.sum(F.pmod(F.xxhash64("id"), F.lit(1000))).alias("s")
        ),
        collect, 5,
    )
    duck = time_runs(
        lambda: "SELECT sum(hash(r) % 1000) FROM range(64000000) t(r)",
        duck_execute(duckdb.connect()), 3,
    )
    return {
        "noop_floor_sec": _best(floor),
        "calib_jvm_sec": _best(jvm),
        "calib_duckdb_sec": _best(duck),
    }


def _bench_tier(spark, specs, sf_dir, copies, n_warm, n_duck, note):
    """One scale tier: the three Spark metrics plus the DuckDB twins."""
    q, _ = _bench_specs(spark, specs, sf_dir, n_warm, TIER16_SKIP)
    f = _bench_fresh(spark, specs, sf_dir, 2, collect, TIER16_SKIP)
    fn = _bench_fresh(spark, specs, sf_dir, 2, noop, TIER16_SKIP)
    d = _bench_duck(specs, sf_dir, n_duck, TIER16_SKIP)
    out = {
        "sf_dir": sf_dir,
        "copies_of_sf0.1": copies,
        "value": round(sum(q.values()), 4),
        "queries": q,
        "fresh_value": round(sum(f.values()), 4),
        "fresh_queries": f,
        "fresh_noop_value": round(sum(fn.values()), 4),
        "fresh_noop_queries": fn,
        "skipped": sorted(TIER16_SKIP),
        "duckdb_value": round(sum(d.values()), 4),
        "duckdb_queries": d,
    }
    if note:
        out["note"] = note
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("nipd-bench")
    specs = registry.all_specs()
    calib = _calibrate(spark)
    timings, build_total = _bench_specs(spark, specs, sf_dir, n_runs=8)
    fresh = _bench_fresh(spark, specs, sf_dir, 2, collect)
    # compute-only split at the HEADLINE sf too (r13, VERDICT r12 item 2):
    # the warm per-query values sit at/below the measured noop_floor_sec,
    # so the longitudinal regression/scaling flags computed on them read
    # collection latency, not the engine. fresh_noop is the floor-proof
    # twin.
    fresh_noop = _bench_fresh(spark, specs, sf_dir, 3, noop)
    out = {
        "metric": "headline_warm_total",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "plan_build_total_sec": round(build_total, 4),
        "fresh_value": round(sum(fresh.values()), 4),
        "fresh_queries": fresh,
        "fresh_noop_value": round(sum(fresh_noop.values()), 4),
        "fresh_noop_queries": fresh_noop,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        # compare these across BENCH_r{N}.json before reading a headline
        # delta as an engine change
        **calib,
    }
    # Floor-bound declaration (r13): a warm per-query value within 2x of
    # the measured per-action floor times job submit + Arrow collect, not
    # the plan — round-over-round deltas and core-scaling ratios on those
    # entries are NOT engine signals; use fresh_noop_queries instead.
    out["warm_floor_bound_queries"] = sorted(
        k for k, v in timings.items() if v <= 2 * calib["noop_floor_sec"]
    )
    for key, copies, out_dir, env, timeout, n_warm, n_duck, note in TIERS:
        if os.environ.get(env, "1") == "0":
            continue
        tier_dir = _ensure_scale(copies, out_dir, timeout)
        if tier_dir is None:
            continue
        try:
            out[key] = _bench_tier(spark, specs, tier_dir, copies, n_warm, n_duck, note)
        except Exception as e:  # additive tier: never sink headline
            out[f"{key}_error"] = str(e).splitlines()[0][:200]
    print(json.dumps(out))


if __name__ == "__main__":
    main()
