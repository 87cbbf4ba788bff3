"""Local mirror of the driver's correctness gate (SURVEY.md §5.2).

Usage:  python tools/diffcheck.py [sf_dir] [name_prefix ...]
Defaults to /root/testdata/sf0.001 (fast); the driver runs sf0.01.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nipd_spark import registry
from nipd_spark.session import get_spark
from nipd_spark.testing import compare_spec, make_duck


def run(sf_dir: str, prefixes: list[str]) -> int:
    spark = get_spark("diffcheck")
    con = make_duck(sf_dir)
    specs = registry.all_specs()
    names = [
        n for n in sorted(specs) if not prefixes or any(n.startswith(p) for p in prefixes)
    ]
    n_pass = n_fail = n_rows_only = 0
    for name in names:
        t0 = time.time()
        try:
            ok, detail = compare_spec(spark, con, specs[name], sf_dir)
        except Exception as e:
            ok, detail = False, f"error: {str(e).splitlines()[0][:200]}"
        dt = time.time() - t0
        if not ok:
            print(f"FAIL {name}: {detail}")
            n_fail += 1
        elif detail.startswith("rows-only"):
            print(f"rows {name}: {detail} [{dt:.2f}s]")
            n_rows_only += 1
        else:
            print(f"PASS {name}: {detail} [{dt:.2f}s]")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only, {len(names)} total")
    return 1 if n_fail else 0


if __name__ == "__main__":
    args = sys.argv[1:]
    sf_dir = args[0] if args and "/" in args[0] else "/root/testdata/sf0.001"
    prefixes = [a for a in args if "/" not in a]
    sys.exit(run(sf_dir, prefixes))
