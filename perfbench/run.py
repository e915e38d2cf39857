"""Benchmark entry point: one run of one workload in a fresh process.

Usage:
    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
        [--sf sf0.1] [--max-ops N]

Run from the root of a checkout. The run's work happens in a child
process (perfbench/worker.py) with `SPARK_GRAFT_CPUS` set to the number
of usable cores and `TMPDIR`, `SPARK_LOCAL_DIRS`, the JVM's
`java.io.tmpdir` and its working directory pointed at a directory this
script owns; that directory is deleted afterwards (sinks included), and
every process of the child's process group is stopped and waited for.

Prints one `perfbench:` line per metric (name, value, unit), a
`perfbench-drift:` line with the machine-drift receipt taken before and
after the run, and, last, one JSON object:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end metrics; with --trace 1,
the per-layer metrics (the span file goes to .perfbench_out/).
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
sys.path.insert(0, HERE)

import probes  # noqa: E402
import workloads  # noqa: E402

#: A run must end well inside the 180 s a caller allows it.
CHILD_TIMEOUT_S = 165
PROGRAM = os.path.join(ROOT, "etl_portfolio_project_spark")


def _group_alive(pgid: int) -> bool:
    """Whether any process of the group is still running (not a zombie)."""
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[2]) == pgid and fields[0] != "Z":
                return True
    return False


def _stop_group(child: subprocess.Popen) -> None:
    """Kill the child's process group and wait until all of it has ended."""
    try:
        os.killpg(child.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    child.wait()
    while _group_alive(child.pid):
        time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", default="sf0.1", help="data set under perfbench/data")
    ap.add_argument("--max-ops", type=int, help="cap on ops (smoke mode)")
    args = ap.parse_args()

    if not os.path.isdir(PROGRAM):
        print(f"perfbench: program not found at {PROGRAM}", file=sys.stderr)
        return 2
    sf_dir = os.path.join(HERE, "data", args.sf)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    result = os.path.join(work, "result.json")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--sf-dir", sf_dir, "--work-dir", work, "--result", result,
    ]
    if args.trace:
        os.makedirs(out_dir, exist_ok=True)
        cmd += ["--trace-file",
                os.path.join(out_dir, f"trace_{args.workload}.json")]
    if args.max_ops:
        cmd += ["--max-ops", str(args.max_ops)]
    env = dict(os.environ)
    env.pop("OMP_NUM_THREADS", None)
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        # the JVM ignores TMPDIR; streaming queries without a checkpoint
        # location put a temporary one under java.io.tmpdir
        JAVA_TOOL_OPTIONS=" ".join(filter(None, (
            env.get("JAVA_TOOL_OPTIONS"),
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp")))),
        PYTHONDONTWRITEBYTECODE="1",
    )

    drift_before = probes.drift_receipt()
    env["PERFBENCH_T0"] = repr(time.time())
    child = subprocess.Popen(
        cmd, cwd=work, env=env, stdout=sys.stderr, start_new_session=True
    )
    try:
        code = child.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = None
        print("perfbench: run timed out", file=sys.stderr)
    finally:
        _stop_group(child)
    drift_after = probes.drift_receipt()
    try:
        with open(result) as f:
            report = json.load(f) if code == 0 else None
    except FileNotFoundError:
        report = None
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))
    except OSError:
        pass
    if report is None:
        print(f"perfbench: worker failed (exit {code})", file=sys.stderr)
        return 1

    for f in report["failures"]:
        print(f"perfbench: FAILED op {f['op']} {f['name']}: {f['error']}",
              file=sys.stderr)
    w = args.workload
    shown = dict(report["end_to_end"], **report["summary"])
    if args.trace:
        shown.update(report["per_layer"])
    for name, (value, unit) in shown.items():
        print(f"perfbench: {w} {name} = {value:.6g} {unit}")
    print("perfbench-ops: " + json.dumps(
        [[n, t] for n, t in zip(report["ops"], report["op_latency_s"])]))
    print("perfbench-drift: " + json.dumps(
        {"before": drift_before, "after": drift_after}))
    chosen = report["per_layer"] if args.trace else report["end_to_end"]
    print(json.dumps({
        "correct": report["failed"] == 0,
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
