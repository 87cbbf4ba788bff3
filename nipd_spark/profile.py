"""One timing path for bench.py and the probe tools.

``time_runs`` runs ``action(build())`` once as an untimed warm-up
(parquet footers, JIT, broadcast caches), then ``runs`` more times, and
returns every run's wall time. Callers only reduce the list (min,
median, ...), so each methodology differs in arguments, not in loops:

  - fresh (default): every run calls ``build()`` anew — a new lineage,
    so every stage re-executes; only the action is timed;
  - ``reuse=True``: ``build()`` is called (and timed) once, and every
    run re-executes that same DataFrame — Spark then reuses completed
    shuffle map stages, so warm runs time the prepared plan's floor;
  - ``include_build=True``: each run's timer opens before ``build()``,
    because several queries fire Spark jobs while building
    (supersteps, certificate collects, GEMM blocks).

The actions are the two sinks, :func:`collect` (Arrow ``toPandas`` —
what a real consumer pays) and :func:`noop` (every column of every row
computed and discarded, so result collection is excluded), plus
:func:`duck_execute` for the DuckDB twins (``build`` returns the SQL).
"""

from __future__ import annotations

import time
from typing import Any, Callable, NamedTuple


class Runs(NamedTuple):
    times: list[float]  # wall seconds of each timed run, in order
    build_s: float  # the one timed build under reuse=True, else 0.0
    last: Any  # what the last timed action returned


def time_runs(
    build: Callable[[], Any],
    action: Callable[[Any], Any],
    runs: int,
    *,
    reuse: bool = False,
    include_build: bool = False,
) -> Runs:
    """One untimed warm-up, then ``runs`` timed runs (module docstring)."""
    plan, build_s = None, 0.0
    if reuse:
        t0 = time.perf_counter()
        plan = build()
        build_s = time.perf_counter() - t0
    action(plan if reuse else build())  # warm-up
    times, last = [], None
    for _ in range(runs):
        t0 = time.perf_counter()
        df = plan if reuse else build()
        if not include_build:
            t0 = time.perf_counter()
        last = action(df)
        times.append(time.perf_counter() - t0)
    return Runs(times, build_s, last)


def collect(df):
    return df.toPandas()


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def duck_execute(con) -> Callable[[str], Any]:
    return lambda sql: con.execute(sql).fetch_arrow_table()
