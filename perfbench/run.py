"""Benchmark entry point.

    python3 perfbench/run.py --workload {serve,live,batch} --seed N --seconds S --trace {0,1}

Run from the repository root.  Each workload runs in a fresh child process
(``workload.py``) with the environment the program needs: the repository
root on ``PYTHONPATH`` (Spark's Python workers import the package), a
JVM heap well below the host's memory, ``SPARK_GRAFT_CPUS`` = CPU count,
and every scratch file under ``.perfbench_work/`` in the checkout.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` -- the end-to-end metrics with
``--trace 0``; with ``--trace 1`` the per-layer metrics of a traced run plus
the tracing overhead (traced minus untraced end-to-end figures, from an
untraced run of the same seed made first).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "bigdata_weather_system_spark"
#: Every run, traced ones (two workload processes) included, ends within this.
RUN_TIMEOUT_S = 165
DRIVER_MEMORY = "1g"

#: Per-layer figures reported as traced minus untraced.
OVERHEAD_OF = ("op_p50_ms", "op_p90_ms", "ops_per_s")
#: Layers a workload does not exercise (its ``why`` in BENCHMARK.json says
#: so); their per-layer metrics read 0 there.  Any other metric a run did not
#: compute fails the run.
BYPASSED = {
    "live": ("contract.",),
    "batch": ("service.", "http_app.", "streaming.", "sources.", "bench.generator_"),
}


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    return {
        "workloads": [w["name"] for w in spec["workloads"]],
        "end_to_end": {m["name"]: m["unit"] for m in spec["end_to_end"]},
        "per_layer": {m["name"]: m["unit"] for m in spec["per_layer"]},
    }


def _group_alive(pgid: int) -> bool:
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def _reap(pgid: int) -> None:
    """Stop what is left of a child's process group (the JVM, Python
    workers) and wait until it has gone."""
    for sig, wait_s in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        if not _group_alive(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + wait_s
        while time.monotonic() < deadline and _group_alive(pgid):
            time.sleep(0.05)


def child_env(work: str) -> dict:
    """The environment of a workload process whose scratch files go under
    ``work`` (made here)."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub))
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        # the launcher JVM of spark-submit would write /tmp/hsperfdata_*
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "TMPDIR": os.path.join(work, "tmp"),
        "TZ": "UTC",
    })
    env.pop("SPARK_MASTER", None)
    return env


def run_child(args, trace: int, tag: str, deadline: float) -> dict:
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    env = child_env(work)
    out = os.path.join(work, "report.json")
    cmd = [
        sys.executable, os.path.join(HERE, "workload.py"), "--workload", args.workload,
        "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace),
        "--work", work, "--out", out,
    ]
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, start_new_session=True, stdout=sys.stderr)
    code = None
    try:
        code = proc.wait(timeout=max(deadline - time.monotonic(), 1.0))
    except subprocess.TimeoutExpired:
        pass
    finally:  # also on SIGTERM/SIGINT: the child's group is ours to stop
        _reap(proc.pid)
        proc.wait()
    try:
        if code != 0:
            raise SystemExit(f"workload process failed (exit {code})")
        with open(out, encoding="utf-8") as f:
            return json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _terminate(signum, frame):
    raise SystemExit(128 + signum)


def main() -> int:
    signal.signal(signal.SIGTERM, _terminate)
    spec = load_spec()
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=spec["workloads"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: the program ({PACKAGE}/) is not in {ROOT}", file=sys.stderr)
        return 2

    deadline = time.monotonic() + RUN_TIMEOUT_S
    report = run_child(args, 0, "plain", deadline)
    if args.trace:
        traced = run_child(args, 1, "traced", deadline)
        layer = traced["layer"]
        for name in OVERHEAD_OF:
            layer[f"bench.trace_overhead.{name}"] = traced["metrics"][name] - report["metrics"][name]
        report = traced
        wanted = spec["per_layer"]
    else:
        layer = {}
        wanted = spec["end_to_end"]

    for note in report["notes"]:
        print(f"# {note}")
    fail_ratio = report["failed"] / max(report["attempted"], 1)
    print(f"# fail_ratio = {fail_ratio:.6f} ({report['failed']} of {report['attempted']} operations failed or wrong)")
    values = {**report["metrics"], **layer}
    if args.trace:
        bypassed = BYPASSED.get(args.workload, ())
        values.update({n: 0.0 for n in wanted if n not in values and n.startswith(bypassed)})
    missing = [n for n in wanted if not math.isfinite(values.get(n, math.nan))]
    if missing:
        print(f"error: not computed: {', '.join(missing)}", file=sys.stderr)
        return 1
    metrics = {}
    for name, unit in wanted.items():
        v = float(values[name])
        metrics[name] = {"value": v, "unit": unit}
        print(f"# {name} = {v:.6g} {unit}")
    print(json.dumps({
        "correct": report["failed"] == 0,
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
