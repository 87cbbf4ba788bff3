"""Benchmark of nipd_spark: one workload, one seed, one fresh process.

Usage (from the root of a checkout):

  python3 perfbench/run.py --workload plan_mix_sf0.01 --seed 1 \
      --seconds 20 --trace 0

Steps:
  1. Generate the seeded input corpus under perfbench/.work/data (once
     per seed; outside every timed region).
  2. Wipe the run directory, which holds everything the engine writes:
     temp files, Spark local dirs, streaming stage and checkpoints.
  3. Start the worker (perfbench/worker.py) and take ``setup_s`` as its
     time from process start to session up and registry imported; one
     sample a run, the seeds of several runs give the spread.
  4. Let the worker run the workload and wait for it and its JVM to end.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``; names and units in
BENCHMARK.json). The line before it records the seed and input sizes.
With ``--trace 1`` the spans are written to perfbench/.work/traces/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DEADLINE_S = 170  # the whole run, so that it ends within 180 s
CPUS = "4"

sys.path.insert(0, HERE)

from gen_data import write as write_corpus  # noqa: E402
from worker import SF, WORKLOADS  # noqa: E402


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def metric_specs() -> tuple[list[dict], list[dict]]:
    """(end_to_end, per_layer) metric lists of BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec["end_to_end"], spec["per_layer"]


def corpus(sf: float, seed: int) -> tuple[str, dict]:
    """The seeded corpus directory (generated if absent) and its table
    sizes. Corpora of other seeds are removed to bound disk use."""
    name = f"sf{sf}-seed{seed}"
    base = os.path.join(WORK, "data")
    path = os.path.join(base, name)
    if not os.path.exists(os.path.join(path, "_rows.json")):
        shutil.rmtree(path, ignore_errors=True)
        rows = write_corpus(path, sf, seed)
        with open(os.path.join(path, "_rows.json"), "w") as f:
            json.dump(rows, f)
    for other in os.listdir(base):
        if other != name:
            shutil.rmtree(os.path.join(base, other), ignore_errors=True)
    with open(os.path.join(path, "_rows.json")) as f:
        rows = json.load(f)
    sizes = {
        t: {"rows": n, "bytes": os.path.getsize(os.path.join(path, f"{t}.parquet"))}
        for t, n in rows.items()
    }
    return path, sizes


def worker_env(run_dir: str) -> dict[str, str]:
    """The engine's environment: fixed core count and heap, and every
    scratch location inside the run directory."""
    env = {
        k: v
        for k, v in os.environ.items()
        if not k.startswith(("SPARK_GRAFT_", "NIPD_SPARK_", "PYSPARK_"))
    }
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    env.update(
        PYTHONPATH=os.pathsep.join([ROOT, HERE]),
        SPARK_GRAFT_CPUS=CPUS,
        NIPD_SPARK_DRIVER_MEM="2g",
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        PYSPARK_SUBMIT_ARGS=(
            f"--driver-java-options '-Djava.io.tmpdir={tmp}' "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
        PYTHONWARNINGS="ignore::FutureWarning",
        # every JVM, the spark-submit launcher too: no /tmp/hsperfdata_* file
        JAVA_TOOL_OPTIONS="-XX:-UsePerfData",
    )
    return env


class Worker:
    def __init__(self, args: list[str], env, cwd: str, log: str):
        self.log = open(log, "w")
        self.t_start = time.time()
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), *args],
            env=env,
            cwd=cwd,
            stdin=subprocess.DEVNULL,
            stdout=subprocess.PIPE,
            stderr=self.log,
            text=True,
            start_new_session=True,
        )
        self.jvm_pid: int | None = None

    def read(self, event: str) -> dict:
        """The next ``@@`` message, which must be ``event``. Reads block;
        the alarm set in ``main`` bounds them."""
        for line in self.proc.stdout:
            if line.startswith("@@"):
                msg = json.loads(line[2:])
                if msg["event"] != event:
                    raise RuntimeError(f"expected {event}, got {msg['event']}")
                if event == "ready":
                    self.jvm_pid = msg["jvm_pid"]
                return msg
        raise RuntimeError(f"worker exited before {event}; see {self.log.name}")

    def stop(self, timeout: float) -> None:
        """Wait for the worker and its JVM to end; kill what outlives
        ``timeout``."""
        try:
            self.proc.wait(timeout=max(timeout, 1))
        except subprocess.TimeoutExpired:
            os.killpg(self.proc.pid, signal.SIGKILL)
            self.proc.wait()
        t_end = time.time() + 10
        while self.jvm_pid and os.path.exists(f"/proc/{self.jvm_pid}"):
            if time.time() > t_end:
                os.kill(self.jvm_pid, signal.SIGKILL)
                t_end = time.time() + 10
            time.sleep(0.05)
        self.log.close()


def _interrupt(signum, _frame) -> None:
    raise TimeoutError(f"stopped by signal {signum}")


def main() -> None:
    ap = argparse.ArgumentParser(description="nipd_spark benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "nipd_spark", "registry.py")):
        fail(f"no nipd_spark package under {ROOT}; run from a checkout's root")
    end_to_end, per_layer = metric_specs()
    # the deadline and a termination request both end the run through
    # the clean-up path below, so that no worker or JVM outlives it
    for sig in (signal.SIGALRM, signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, _interrupt)
    signal.alarm(DEADLINE_S)

    data, sizes = corpus(SF, a.seed)
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    env = worker_env(run_dir)
    trace_dir = os.path.join(WORK, "traces")
    os.makedirs(trace_dir, exist_ok=True)
    args = [
        "--workload", a.workload,
        "--data", data,
        "--seed", str(a.seed),
        "--seconds", str(a.seconds),
        "--trace", str(a.trace),
        "--stage-root", os.path.join(run_dir, "stage"),
        "--trace-out", os.path.join(trace_dir, f"{a.workload}-seed{a.seed}.jsonl"),
    ]
    logs = os.path.join(run_dir, "logs")
    os.makedirs(logs)
    w = Worker(args, env, run_dir, os.path.join(logs, "worker.log"))
    try:
        ready = w.read("ready")
        res = w.read("result")
        w.stop(timeout=30)
    except Exception as e:
        if w.proc.poll() is None:
            os.killpg(w.proc.pid, signal.SIGKILL)
        w.stop(timeout=1)
        fail(f"{e}")
    signal.alarm(0)

    metrics = dict(res["metrics"])
    metrics.update(
        setup_s=ready["t"] - w.t_start,
        **{"session.start_s": ready["session_s"],
           "registry.import_s": ready["registry_s"]},
    )
    wanted = per_layer if a.trace else end_to_end
    missing = [m["name"] for m in wanted if m["name"] not in metrics]
    if missing:
        fail(f"worker reported no {missing}")
    names = {m["name"] for m in wanted}
    print(json.dumps({
        "workload": a.workload,
        "seed": a.seed,
        "inputs": sizes,
        "other": {k: v for k, v in metrics.items() if k not in names},
    }))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {
            m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in wanted
        },
    }))


if __name__ == "__main__":
    main()
