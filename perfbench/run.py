"""KBC benchmark: one command per workload, one fresh process per run.

    python3 perfbench/run.py --workload stream --seed 1 --seconds 40 --trace 0

Run it from the repository root. It starts ``perfbench.worker`` in a new
session inside its own temp directory under ``.perfbench_runs/`` (working
directory, ``SPARK_LOCAL_DIRS``, ``TMPDIR``, the JVM's temp dir, corpus,
stage tables and event logs all live there, so JVM crash dumps land there
too), waits for it, and then makes sure no process of that session is left:
the JVM and its Python workers are killed on error or timeout, and a run
that leaves any of them alive fails. The temp directory is removed on exit.

The last line of standard output is the result:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the ``end_to_end`` list of ``BENCHMARK.json``, with
``--trace 1`` the ``per_layer`` list. The line before it holds per-run
diagnostics, which are not metrics: the host steal share over the run and
``nproc``, which identify a run disturbed by other tenants, and the
workload-only figures (``resume_s`` of ``checkpointed``, ``cold_latency_s``
and every wave's wall of ``stream``).

``--seconds`` is recorded but does not stretch a run: each run times one
cold pass of its workload (see ``perfbench/worker.py``), which lasts about
``run_seconds`` at the sizes chosen.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

# no bytecode caches in the checkout: a run writes only in its temp dir
sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))))

from perfbench.proc import session_pids  # noqa: E402

# the worker must end well inside the 180 s a run may take
TIMEOUT_S = 165
# time allowed for the JVM and Python workers to exit after the worker
GRACE_S = 20
# the 48g default heap cannot be reserved on a 15 GB host
DRIVER_MEM = "4g"
RUNS_DIR = ".perfbench_runs"


def kill_session(sid: int) -> None:
    for pid in session_pids(sid):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def leftovers(sid: int, grace_s: float) -> list[int]:
    """Pids of session ``sid`` still alive after ``grace_s``; any found
    are killed before returning."""
    deadline = time.monotonic() + grace_s
    while (pids := session_pids(sid)) and time.monotonic() < deadline:
        time.sleep(0.2)
    if pids:
        kill_session(sid)
        deadline = time.monotonic() + 10
        while session_pids(sid) and time.monotonic() < deadline:
            time.sleep(0.2)
    return pids


def supervise(cmd: list[str], cwd: str, env: dict, timeout_s: float,
              grace_s: float = GRACE_S) -> tuple[int | None, list[int]]:
    """Run ``cmd`` as the leader of a new session. Returns the exit code
    (None on timeout) and the pids that outlived it."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=sys.stderr,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        print(f"worker timed out after {timeout_s} s", file=sys.stderr)
        code = None
    finally:
        if proc.poll() is None:
            kill_session(proc.pid)
            proc.wait()
    return code, leftovers(proc.pid, grace_s)


def _terminate(signum, frame):
    raise SystemExit(128 + signum)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    # smaller corpus for the self-test
    ap.add_argument("--pages", type=int, default=None)
    args = ap.parse_args()

    root = os.getcwd()
    try:
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            bench = json.load(f)
    except (OSError, ValueError) as e:
        print(f"cannot read BENCHMARK.json in {root}: {e}", file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(root, "tecs_hardware_kbc_spark",
                                       "__init__.py")):
        print("run from a checkout of the repository: the "
              "tecs_hardware_kbc_spark package is missing", file=sys.stderr)
        return 2
    if args.workload not in {w["name"] for w in bench["workloads"]}:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    wanted = bench["per_layer" if args.trace else "end_to_end"]

    signal.signal(signal.SIGTERM, _terminate)
    os.makedirs(os.path.join(root, RUNS_DIR), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-",
                           dir=os.path.join(root, RUNS_DIR))
    try:
        for sub in ("local", "tmp"):
            os.makedirs(os.path.join(tmp, sub))
        env = dict(
            os.environ,
            PYTHONPATH=os.pathsep.join(
                p for p in (root, os.environ.get("PYTHONPATH")) if p),
            PYTHONDONTWRITEBYTECODE="1",
            SPARK_DRIVER_MEM=DRIVER_MEM,
            SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
            SPARK_LOCAL_DIRS=os.path.join(tmp, "local"),
            TMPDIR=os.path.join(tmp, "tmp"),
            # JVM temp files in the run dir; no hsperfdata file in /tmp
            JAVA_TOOL_OPTIONS=(f"-Djava.io.tmpdir={tmp}/tmp "
                               "-XX:-UsePerfData"),
        )
        cmd = [sys.executable, "-m", "perfbench.worker",
               "--workload", args.workload, "--seed", str(args.seed),
               "--trace", str(args.trace),
               "--spawned-at", repr(time.time())]
        if args.pages:
            cmd += ["--pages", str(args.pages)]
        code, stray = supervise(cmd, tmp, env, TIMEOUT_S)
        if stray:
            print(f"processes outlived the run and were killed: {stray}",
                  file=sys.stderr)
            return 1
        if code != 0:
            print(f"worker failed (exit {code})", file=sys.stderr)
            return 1
        with open(os.path.join(tmp, "result.json")) as f:
            result = json.load(f)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.join(root, RUNS_DIR))
        except OSError:  # another run's directory is still there
            pass

    values = result["values"]
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        print(f"worker did not report {missing}", file=sys.stderr)
        return 1
    diag = dict(result["diagnostics"], workload=args.workload,
                seed=args.seed, seconds=args.seconds, trace=args.trace)
    print(json.dumps({"diagnostics": diag}))
    print(json.dumps({
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in wanted},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
