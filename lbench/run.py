"""Benchmark entry point.

    python3 lbench/run.py --workload search --seed 1 --seconds 10 --trace 0

Run from the repository root. Starts ``worker.py`` in a process group of
its own with the whole environment set here: the checkout on
``PYTHONPATH``, a driver heap sized from /proc/meminfo, the console
progress bar off, and a private scratch directory for Spark's local
dirs, temp files and the dataset. When the worker ends (or overruns its
deadline) every process it started is killed and reaped, the scratch
directory is deleted, and the worker's result object is printed as the
last line of standard output. Exits non-zero without a result when the
worker fails.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCRATCH = os.path.join(ROOT, ".lbench_tmp")
DEADLINE_S = 170
PR_SET_CHILD_SUBREAPER = 36
MAX_CPUS = 2


def driver_mem() -> str:
    """A quarter of physical memory, between 1 and 4 GiB."""
    with open("/proc/meminfo") as fh:
        kib = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    mib = min(4096, max(1024, kib // 1024 // 4))
    return f"{mib}m"


def children_of(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        fields = stat[stat.rindex(")") + 2:].split()
        if int(fields[1]) == pid:
            out.append(int(entry))
    return out


def reap_all(pgid: int) -> None:
    """Kill the worker's process group, then every process left under this
    one (orphans re-parent here: this process is a child subreaper), and
    wait for each to end."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            break
        time.sleep(0.5)
    deadline = time.time() + 30
    while time.time() < deadline:
        kids = children_of(os.getpid())
        if not kids:
            return
        for pid in kids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return
        time.sleep(0.2)
    raise RuntimeError(f"processes still running: {children_of(os.getpid())}")


def main() -> int:
    t0 = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int, ctypes.c_ulong, ctypes.c_ulong, ctypes.c_ulong, ctypes.c_ulong]
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")

    work = os.path.join(SCRATCH, f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    result_path = os.path.join(work, "result.json")
    cpus = min(MAX_CPUS, len(os.sched_getaffinity(0)))
    env = dict(os.environ)
    env.pop("OMP_NUM_THREADS", None)
    env.update({
        "PYTHONPATH": os.pathsep.join([ROOT, HERE]),
        "PYTHONHASHSEED": "0",
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": driver_mem(),
        "SPARK_GRAFT_CONSOLE_PROGRESS": "false",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
        "OMP_NUM_THREADS": "1",
        "LBENCH_T0": repr(t0),
    })
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--result", result_path,
    ]
    # a SIGTERM or SIGINT while waiting still runs the clean-up below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    result, code = None, -1
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr, start_new_session=True)
    try:
        code = proc.wait(timeout=DEADLINE_S)
    except subprocess.TimeoutExpired:
        print(f"worker overran {DEADLINE_S}s", file=sys.stderr)
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        try:
            reap_all(proc.pid)
            if code == 0 and os.path.exists(result_path):
                with open(result_path) as fh:
                    result = json.load(fh)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(SCRATCH)
            except OSError:
                pass
    if result is None:
        print(f"benchmark failed (worker exit code {code})", file=sys.stderr)
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
