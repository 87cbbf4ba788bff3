"""The Snakemake-facing job script runs end-to-end as a subprocess —
the exact shape an external orchestrator invokes (SURVEY.md §3.1)."""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_spark_job_cli_roundtrip(tmp_path, sf_dir):
    out = str(tmp_path / "q1")
    res = subprocess.run(
        [
            sys.executable,
            "integration/spark_job.py",
            "--sf-dir",
            sf_dir,
            "--query",
            "q1_pricing_summary",
            "--out",
            out,
            "--coalesce",
            "1",
        ],
        capture_output=True,
        text=True,
        cwd=ROOT,
        timeout=300,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    import duckdb

    n = duckdb.sql(f"SELECT count(*) FROM read_parquet('{out}/*.parquet')").fetchone()[0]
    assert n == 6  # q1 groups at sf0.001


def test_snakefile_rule_contract(tmp_path, sf_dir):
    """The Snakefile's analysis rule contract, exercised without
    snakemake (absent from this container — no pip installs): the
    rule's shell template is `{SPARK_CMD} integration/spark_job.py
    --sf-dir .. --query <name> --out <outdir>/<name>`, and `rule all`
    waits on `<outdir>/<name>/_SUCCESS`. Run the exact command for one
    ANALYSES entry and assert the sentinel the DAG edge depends on
    lands where the Snakefile expects it (r11 VERDICT item 8)."""
    import os
    import re

    snakefile = open(os.path.join(ROOT, "integration", "Snakefile")).read()
    # the test follows the REAL rule template, not a copy: extract the
    # shell line and the first ANALYSES entry from the Snakefile text
    assert '"{SPARK_CMD} integration/spark_job.py"' in snakefile
    assert '"{outdir}/{name}/_SUCCESS"' in snakefile
    name = re.search(r'ANALYSES = \[\s*"(\w+)"', snakefile).group(1)
    outdir = str(tmp_path / "run")
    res = subprocess.run(
        [
            sys.executable,
            "integration/spark_job.py",
            "--sf-dir",
            sf_dir,
            "--query",
            name,
            "--out",
            f"{outdir}/{name}",
        ],
        capture_output=True,
        text=True,
        cwd=ROOT,
        timeout=300,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    assert os.path.exists(f"{outdir}/{name}/_SUCCESS")


def test_snakemake_dry_run(sf_dir, tmp_path):
    """The real `snakemake -n` dry-run of the DAG — runs only where
    snakemake is importable (it is not baked into this container;
    capability-probe and skip with reason, the CLAUDE.md discipline
    for absent connectors)."""
    import pytest

    pytest.importorskip("snakemake", reason="snakemake not installed")
    res = subprocess.run(
        [
            sys.executable,
            "-m",
            "snakemake",
            "-s",
            "integration/Snakefile",
            "-n",
            "-j",
            "1",
            "--config",
            f"sf_dir={sf_dir}",
            f"outdir={tmp_path}/run",
        ],
        capture_output=True,
        text=True,
        cwd=ROOT,
        timeout=120,
    )
    assert res.returncode == 0, res.stderr[-2000:]
