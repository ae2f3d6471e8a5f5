"""Benchmark entry point.

    python3 perfbench/run.py --workload {etl_merge,query_mix} --seed N --seconds S --trace {0,1}

Run from the root of a checkout.  One closed-loop client drives a
``local[nproc]`` session built by the program's own ``session.get_spark``
defaults.  With ``--trace 0`` the run measures the end-to-end metrics; with
``--trace 1`` it records spans and Spark counters and reports the per-layer
metrics instead (plus the tracing overhead).  Every operation's output is
checked; the last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  Earlier stdout lines
name the workload-specific figures (and their sample counts).

Every process the run starts (the JVM and the Python workers it forks) is
stopped and waited for before it exits, on every path out.

``--smoke`` swaps in the sf0.001 tables and a tiny ``etl_merge`` input so
the benchmark's own tests run in seconds.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PR_SET_CHILD_SUBREAPER = 36  # <linux/prctl.h>


def process_age_s() -> float:
    """Seconds since this process was started (kernel start time)."""
    with open("/proc/self/stat", encoding="utf-8") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    started = int(fields[19]) / os.sysconf("SC_CLK_TCK")
    return time.clock_gettime(time.CLOCK_BOOTTIME) - started


def _adopt_orphans() -> None:
    """Become the reaper of this process's orphaned descendants (Linux
    ``PR_SET_CHILD_SUBREAPER``): the Python workers the JVM forks come back
    to this process when the JVM exits, so they can be waited for too."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _descendants() -> list[int]:
    """Pids of this process's children, grandchildren and so on, from /proc."""
    children: dict[int, list[int]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat", encoding="utf-8") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(pid))
    out, todo = [], [os.getpid()]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def _stop_children(grace_s: float = 30.0) -> None:
    """Stop every process the run started and wait until each has ended.

    Closing the JVM's stdin makes pyspark's gateway exit on its own; whatever
    is still running after half the grace period gets SIGTERM, and after
    all of it SIGKILL.  Returns once this process has no children left."""
    try:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None and proc.stdin is not None:
            proc.stdin.close()
    except Exception:  # no session was ever started, or it is half torn down
        pass
    deadline = time.monotonic() + grace_s
    sent = None
    while True:
        try:
            pid, _status = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        left = deadline - time.monotonic()
        sig = signal.SIGKILL if left <= 0 else signal.SIGTERM if left <= grace_s / 2 else None
        if sig is not None and sig != sent:
            for child in _descendants():
                try:
                    os.kill(child, sig)
                except ProcessLookupError:
                    pass
            sent = sig
        time.sleep(0.02)


def _terminate(signum, _frame):
    raise SystemExit(128 + signum)


def _environment(work: str) -> None:
    """Keep every file the run writes inside ``work`` and size the session to
    this machine's cores; the package is found from the checkout root (the
    Python workers Spark starts need it too)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"  # no /tmp/hsperfdata_*
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, HERE, os.environ.get("PYTHONPATH")]))
    sys.path[:0] = [ROOT, HERE]
    os.chdir(work)  # spark-warehouse/, derby.log and friends land here


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("etl_merge", "query_mix"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)

    _adopt_orphans()
    signal.signal(signal.SIGTERM, _terminate)  # clean up on the way out below
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    real_stdout = os.dup(1)
    os.dup2(2, 1)  # the JVM inherits fd 1: keep its chatter off the result line
    try:
        _environment(work)
        import workloads  # noqa: E402  (perfbench/ is on sys.path now)

        result = workloads.run(args, work, process_age_s)
    except workloads.VacuousRun as e:
        print(f"vacuous run: {e}", file=sys.stderr)
        return 3
    finally:
        _stop_children()
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    lines = [f"{k} {v}" for k, v in result.report] + [json.dumps(result.line())]
    os.write(real_stdout, ("\n".join(lines) + "\n").encode())
    return 0 if result.correct else 1


if __name__ == "__main__":
    sys.exit(main())
