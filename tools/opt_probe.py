"""Optimization-round probe (guide §1): time ONE registered query in
isolation — fresh DataFrame lineage per run so every stage re-executes
(the scale_probe standard) — against the noop sink, which computes
every column of every row and discards the result (§1.4: toPandas adds
Arrow-collect cost that varies with result size; count() lets the
optimizer prune the query).

Usage:  python tools/opt_probe.py <query> [sf_dir] [n_runs] [--pandas]

Env:    SPARK_GRAFT_PROFILE / SPARK_GRAFT_CPUS respected via
        nipd_spark.session.
        NIPD_OPT_CONF="k=v;k=v" applies extra runtime conf overrides to
        the session the query runs in, its tier session (measurement
        experiments only — shipped defaults live in session.py and
        catalog.tier_conf).

Prints one line per run plus min/median, and the conf the query ran
with (its tier session's shuffle partitions, AQE, split size) so probe
logs are self-describing.
"""

from __future__ import annotations

import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    use_pandas = "--pandas" in sys.argv
    name = args[0]
    sf_dir = args[1] if len(args) > 1 else "/root/testdata/sf0.1"
    n_runs = int(args[2]) if len(args) > 2 else 3

    extra = os.environ.get("NIPD_OPT_CONF", "")
    overrides = dict(
        kv.split("=", 1) for kv in filter(None, extra.split(";"))
    )
    from nipd_spark import registry
    from nipd_spark.catalog import tier_session
    from nipd_spark.profile import collect, noop, time_runs
    from nipd_spark.session import get_spark

    spark = get_spark("opt-probe")
    # the session the query runs in (at >=64MB dirs a child carrying
    # catalog.tier_conf), so the overrides win over the tier's values
    conf = tier_session(spark, sf_dir).conf
    for k, v in overrides.items():
        conf.set(k, v)  # runtime confs only; static confs raise here
    spec = registry.all_specs()[name]

    sink = collect if use_pandas else noop
    spark.sparkContext.setJobDescription(f"opt-probe {name}")
    times = time_runs(lambda: spec.fn(spark, sf_dir), sink, n_runs).times
    for i, dt in enumerate(times):
        print(f"run{i}: {dt:.3f}s", flush=True)
    print(
        f"{name} @ {sf_dir}: min {min(times):.3f}s  "
        f"median {statistics.median(times):.3f}s  "
        f"(sink={'toPandas' if use_pandas else 'noop'}, "
        f"shuffle.partitions={conf.get('spark.sql.shuffle.partitions')}, "
        f"aqe={conf.get('spark.sql.adaptive.enabled')}, "
        f"maxPartitionBytes={conf.get('spark.sql.files.maxPartitionBytes')})"
    )


if __name__ == "__main__":
    main()
