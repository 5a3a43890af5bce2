"""Benchmark entry point.

    python3 perfbench/run.py --workload llm-loops --seed 1 --seconds 20 --trace 0

Run from the repository root. Workloads: llm-loops and etl (see
``perfbench/README.md``). With ``--trace 0`` the run reports the
end-to-end metrics; with ``--trace 1`` it makes one traced pass and
reports the per-layer metrics, and writes its spans to
``.perfbench_out/<workload>-seed<n>-spans.json``.

The launcher prepares the environment, runs ``worker.py`` in its own process
group, and afterwards stops whatever that group left behind:

* ``PYTHONPATH`` starts with the repository root, so Spark's Python
  workers import the program too;
* ``SPARK_GRAFT_CPUS`` is the number of usable cores and
  ``SPARK_GRAFT_DRIVER_MEM`` stays well below the host's memory;
* Spark's local dirs, temp files, the store, the artifact roots and the
  event log live in a fresh directory under ``.perfbench_work/``, which
  is deleted at exit; generated input tables are cached in
  ``.perfbench_data/``.

It prints a human-readable report, then one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. It exits non-zero,
naming the failed operations, when any operation failed or any output
check did not hold.
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
WORKLOADS = ("llm-loops", "etl")
#: a run must end within 180 s; leave room to stop the process group
CHILD_TIMEOUT_S = 165
#: small enough that the JVM's heap sizing, and with it peak RSS, does not
#: wander from run to run; large enough for both workloads
DRIVER_MEM = "2g"


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def _stop_group(pgid: int) -> None:
    """SIGTERM, then SIGKILL, every process left in the worker's group and
    wait until none is left."""
    for sig, wait_s in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        if not _group_alive(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + wait_s
        while _group_alive(pgid) and time.monotonic() < deadline:
            time.sleep(0.05)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")
    for need in ("finanalyzer_spark/__init__.py", "tests/oracle.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a "
                  "checkout of the repository", file=sys.stderr)
            return 2

    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub))
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_ARTIFACT_DIR", None)
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    env.update({
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, env.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
    })
    out = os.path.join(work, "result.json")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--out", out]
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, start_new_session=True,
                            stdout=sys.stderr)
    rc = None
    try:
        rc = proc.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {CHILD_TIMEOUT_S} s", file=sys.stderr)
    finally:
        _stop_group(proc.pid)
        proc.wait()
    try:
        if rc != 0 or not os.path.exists(out):
            print(f"perfbench: worker failed (exit {rc})", file=sys.stderr)
            return 1
        with open(out) as fh:
            result = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    report = result.pop("report")
    print_report(args, result, report)
    print(json.dumps(result))
    sys.stdout.flush()
    if report["failed_names"]:
        print("perfbench: failed: " + ", ".join(report["failed_names"]),
              file=sys.stderr)
    return 0 if result["correct"] and result["failed"] == 0 else 1


def print_report(args, result: dict, report: dict) -> None:
    n_ops = report["attempted_ops"]
    counts = {"setup_s": len(report["setup_samples_s"]),
              "suite_s": report["passes"],
              "latency_p50_s": n_ops, "latency_tail_s": report["tail_n"]}
    ok = "yes" if result["correct"] else "NO"
    print(f"# perfbench {args.workload} seed={args.seed} trace={args.trace}: "
          f"{report['passes']} pass(es) x {report['ops_per_pass']} ops, "
          f"outputs correct: {ok}")
    for name, m in result["metrics"].items():
        n = counts.get(name, 1)
        print(f"{name:40s} {m['value']:>16.6g} {m['unit']:6s} n={n}")
    skip = {"passes", "ops_per_pass", "workload",
            "seed", "trace", "per_op", "tail_n"}
    for name, v in report.items():
        if name in skip:
            continue
        if isinstance(v, dict):
            for k, x in v.items():
                print(f"{name + '.' + k:40s} {x!s:>16}")
        elif not isinstance(v, list):
            print(f"{name:40s} {v!s:>16}")
    for name in ("failed_names", "problems"):
        for line in report[name]:
            print(f"{name}: {line}")


if __name__ == "__main__":
    sys.exit(main())
