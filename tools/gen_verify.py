"""Run the full round-end verification ritual and write VERIFY_r{N}.txt.

The per-round evidence file is how a judge with no session memory
reconstructs what was actually verified (VERDICT r5 item 3). This tool
makes the artifact a build product instead of hand-written prose, so it
cannot drift from the measured numbers:

1. FULL registry sweep at sf0.01 from a FOREIGN cwd in a fresh
   process (the driver's exact vantage);
2. FULL registry sweep at sf0.001 (tools/diffcheck.py), with the five
   slowest gate entries recorded;
3. pytest tests/ -q;
4. tools/plan_lint.py (must report 0 unexplained);
5. tools/plan_lint.py AGAIN under SPARK_GRAFT_PROFILE=scale (AQE on,
   2000-partition ceiling) — the 100 TB-posture plans are regression-
   gated too, not just the local profile's (VERDICT r7 item 4);
6. bench.py at sf0.1, three consecutive runs.

No stage needs wiping first: every staged artifact lives under the
process's own scratch root (harness.scratch_root), so each sweep starts
from an empty stage and exercises every staging path. The root of a
crashed process is never read by a later process; it costs only disk.

Usage: python tools/gen_verify.py <round_number> [--notes FILE]
       (--notes appends a free-text section, e.g. the round's probe
        results and plan-work narrative)
"""

from __future__ import annotations

import datetime
import json
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def sh(
    cmd: list[str],
    cwd: str = REPO,
    timeout: int = 3600,
    env_extra: dict[str, str] | None = None,
) -> str:
    import os

    env = None
    if env_extra:
        env = {**os.environ, **env_extra}
    r = subprocess.run(
        cmd, cwd=cwd, capture_output=True, text=True, timeout=timeout, env=env
    )
    return r.stdout + r.stderr


def tally(out: str) -> str:
    m = re.search(r"^(\d+ pass, \d+ fail, \d+ rows-only, \d+ total)", out, re.M)
    return m.group(1) if m else "TALLY NOT FOUND — inspect log"


def slowest(out: str, k: int = 5) -> list[str]:
    rows = re.findall(r"^(?:PASS|rows) ([a-z0-9_]+).*\[([0-9.]+)s\]", out, re.M)
    rows.sort(key=lambda r: -float(r[1]))
    return [f"{name} {t}s" for name, t in rows[:k]]


def main() -> None:
    rnd = int(sys.argv[1])
    notes = ""
    if "--notes" in sys.argv:
        notes = open(sys.argv[sys.argv.index("--notes") + 1]).read().strip()

    lines: list[str] = [
        f"Round-{rnd} repo-side verification (pre-driver), "
        f"{datetime.date.today().isoformat()} — generated by "
        "tools/gen_verify.py (numbers below are measured, not typed).",
        "",
    ]

    print("1/5 sf0.01 full sweep from /tmp ...", flush=True)
    out = sh(
        ["python", f"{REPO}/tools/diffcheck.py", "/root/testdata/sf0.01"],
        cwd="/tmp",
        timeout=7200,
    )
    lines += [
        "1. FULL sf0.01 oracle sweep (driver's compare: row count + schema",
        "   + order-insensitive value-hash vs DuckDB), FOREIGN cwd (/tmp),",
        f"   fresh process: **{tally(out)}**",
        "",
    ]
    print("   ", tally(out), flush=True)

    print("2/5 sf0.001 sweep ...", flush=True)
    out = sh(["python", "tools/diffcheck.py"], timeout=3600)
    lines += [
        f"2. tools/diffcheck.py (sf0.001): **{tally(out)}**. Slowest gate",
        "   entries (Spark + DuckDB-oracle time combined): "
        + "; ".join(slowest(out)),
        "",
    ]
    print("   ", tally(out), flush=True)

    print("3/5 pytest ...", flush=True)
    out = sh(["python", "-m", "pytest", "tests/", "-q"], timeout=3600)
    # match the -q summary with or without the ===== banner, and
    # whether it leads with failures or passes — a FAILED run must
    # surface its counts, never "NOT FOUND"
    m = re.search(
        r"^=*\s*((?:\d+ (?:failed|passed|error[s]?|skipped),? ?)+.*?)\s*=*$",
        out,
        re.M,
    )
    pyt = m.group(1).strip() if m else "SUMMARY NOT FOUND"
    lines += [f"3. pytest tests/ -q: **{pyt}**", ""]
    print("   ", pyt, flush=True)

    print("4/6 plan lint (local profile) ...", flush=True)
    out = sh(["python", "tools/plan_lint.py"], timeout=3600)
    m = re.search(r"^plan lint: (.*)$", out, re.M)
    lint = m.group(1).strip() if m else "SUMMARY NOT FOUND"
    lines += [f"4. tools/plan_lint.py (local profile): **{lint}**", ""]
    print("   ", lint, flush=True)

    print("5/6 plan lint (scale profile: AQE on, 2000-part ceiling) ...",
          flush=True)
    out = sh(
        ["python", "tools/plan_lint.py"],
        timeout=3600,
        env_extra={"SPARK_GRAFT_PROFILE": "scale"},
    )
    m = re.search(r"^plan lint: (.*)$", out, re.M)
    lint_scale = m.group(1).strip() if m else "SUMMARY NOT FOUND"
    lines += [
        "5. tools/plan_lint.py under SPARK_GRAFT_PROFILE=scale (AQE on,",
        f"   2000-partition ceiling — the 100 TB posture): **{lint_scale}**",
        "",
    ]
    print("   ", lint_scale, flush=True)

    print("6/6 bench x3 ...", flush=True)
    vals, queries, last = [], "{}", None
    for _ in range(3):
        out = sh(["python", "bench.py"], timeout=1800)
        for ln in out.splitlines():
            try:
                j = json.loads(ln)
                vals.append(j["value"])
                queries = json.dumps(j["queries"])
                last = j
            except (json.JSONDecodeError, KeyError):
                continue
    ratio = [round(v / 0.476, 2) for v in vals]  # BASELINE.md headline
    lines += [
        f"6. bench.py at sf0.1, three consecutive runs: headline "
        f"{' / '.join(f'{v:.4f}' for v in vals)} s "
        f"(vs DuckDB 0.476 s -> ratios {ratio}; bar = 2x = 0.952 s).",
        f"   Last per-query split: {queries}",
        "",
    ]
    if last is not None and "fresh_value" in last:
        lines += [
            f"   full-work twin (fresh lineage per run, every stage "
            f"re-executed): {last['fresh_value']:.4f} s "
            f"(queries: {json.dumps(last['fresh_queries'])})",
            "",
        ]
    for tag in ("tier16x", "tier100x"):
        t = (last or {}).get(tag)
        if t:
            line = (
                f"   {tag}: spark {t['value']:.4f} s"
            )
            if "fresh_value" in t:
                line += f" prepared / {t['fresh_value']:.4f} s full-work"
            line += (
                f" vs re-measured DuckDB {t['duckdb_value']:.4f} s = "
                f"{t['value'] / t['duckdb_value']:.3f}x"
            )
            if "fresh_value" in t:
                line += f" / {t['fresh_value'] / t['duckdb_value']:.2f}x"
            lines += [line, f"   (queries: {json.dumps(t['queries'])})", ""]
    print("   ", vals, flush=True)

    # regenerate README's bench block from this run's measured JSON —
    # no hand-typed measured numbers anywhere (r9 VERDICT item 5)
    if last is not None:
        out = sh(
            ["python", "tools/gen_readme_bench.py", json.dumps(last)],
            timeout=120,
        )
        print("   ", out.strip(), flush=True)

    if notes:
        lines += ["Round notes (builder-written):", "", notes, ""]

    path = f"{REPO}/VERIFY_r{rnd:02d}.txt"
    open(path, "w").write("\n".join(lines))
    print(f"wrote {path}")


if __name__ == "__main__":
    main()
