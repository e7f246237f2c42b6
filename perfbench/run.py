#!/usr/bin/env python3
"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload frontier_default --seed 1234 \\
        --seconds 20 --trace 0

Run it from the root of a checkout. The run pins itself to at most four
CPUs, starts the workload in a fresh Python process and JVM
(``perfbench.worker``) with a private scratch directory under
``.perfbench/`` that is deleted afterwards, samples the peak resident
memory (PSS) of the whole process tree (driver, JVM and Python workers) from
``/proc``, and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a traced run, whose spans are also written to
``.perfbench/traces/``. The exit code is 0 only when a result was printed.
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
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
MAX_CPUS = 4
CHILD_TIMEOUT_S = 170


def _tree(root_pid: int) -> list[int]:
    """root_pid and all its descendants, from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident memory with pages shared between
    processes (the forked Python workers share the daemon's) split among
    them, so a sum over a process tree counts each page once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakRss(threading.Thread):
    """Samples the summed PSS of a process tree every 0.2 s."""

    def __init__(self, pid: int) -> None:
        super().__init__(daemon=True)
        self.pid, self.peak_kb = pid, 0
        self._halt = threading.Event()

    def run(self) -> None:
        while not self._halt.wait(0.2):
            self.peak_kb = max(self.peak_kb,
                               sum(_pss_kb(p) for p in _tree(self.pid)))

    def stop(self) -> None:
        self._halt.set()
        self.join()


def _set_subreaper() -> None:
    """Make this process the reaper of every orphaned descendant, so that a
    process that leaves its parent's process group (PySpark's Python worker
    daemon starts a group of its own) and outlives its parent still belongs
    to this run's tree and is stopped with it."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _descendants() -> list[int]:
    me = os.getpid()
    return [p for p in _tree(me) if p != me]


def _reap() -> None:
    """Collect every child of this process that has exited."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _stop_descendants(grace_s: float = 5.0) -> None:
    """Give every process this run started ``grace_s`` seconds to exit (the
    JVM and its Python daemon exit after the worker), then SIGKILL what is
    left, and wait until each has ended and been reaped."""
    for sig, wait_s in ((None, grace_s), (signal.SIGKILL, 30.0)):
        if sig is not None:
            for pid in _descendants():
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        deadline = time.time() + wait_s
        while True:
            _reap()
            if not _descendants():
                return
            if time.time() >= deadline:
                break
            time.sleep(0.1)


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    from perfbench.worker import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="tiny: minute-scale inputs for the harness self-test")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "crawler4j_spark")):
        print("perfbench: crawler4j_spark/ not found next to perfbench/; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2

    def on_term(*_):
        # unwind once through the finally blocks, which stop the run; a
        # second SIGTERM must not cut that clean-up short
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        sys.exit(143)

    signal.signal(signal.SIGTERM, on_term)
    _set_subreaper()
    try:
        return _run(args)
    finally:
        _stop_descendants()


def _run(args) -> int:
    from perfbench import inputs

    allowed = sorted(os.sched_getaffinity(0))
    cpus = allowed[:MAX_CPUS]
    os.sched_setaffinity(0, cpus)  # inherited by the worker, JVM and UDF workers
    os.makedirs(WORK, exist_ok=True)
    corpus = inputs.corpus_dir(os.path.join(WORK, "cache"), args.scale,
                               args.seed, len(cpus))
    scratch = tempfile.mkdtemp(prefix=f"run-{args.workload}-", dir=WORK)
    os.makedirs(os.path.join(scratch, "tmp"))
    out = os.path.join(scratch, "result.json")
    env = dict(
        os.environ,
        PYTHONPATH=ROOT,
        PYSPARK_PYTHON=sys.executable,
        TMPDIR=os.path.join(scratch, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(scratch, "local"),
        SPARK_GRAFT_CPUS=str(len(cpus)),
        SPARK_DRIVER_MEM="3g",
    )
    cmd = [sys.executable, "-m", "perfbench.worker",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--scale", args.scale, "--cpus", str(len(cpus)),
           "--scratch", scratch, "--corpus", corpus,
           "--out", out,
           "--trace-out", os.path.join(
               WORK, "traces", f"{args.workload}-s{args.seed}.json")]
    try:
        child = subprocess.Popen(cmd, cwd=ROOT, env=env, start_new_session=True)
        rss = PeakRss(child.pid)
        rss.start()
        try:
            rc = child.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"perfbench: run exceeded {CHILD_TIMEOUT_S} s",
                  file=sys.stderr)
            rc = None
        finally:
            rss.stop()
            if child.returncode is None:
                child.kill()
                child.wait()
            _stop_descendants()
        if rc != 0:
            print(f"perfbench: worker failed (rc={rc})", file=sys.stderr)
            return 1
        with open(out) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    metrics = res["layer"] if args.trace else res["e2e"]
    if not metrics:
        print("perfbench: no crawl completed: " + "; ".join(res["problems"]),
              file=sys.stderr)
        return 1
    if not args.trace:
        metrics["peak_rss_mb"] = (rss.peak_kb / 1024.0, "MB")
        metrics["output_ok"] = (0 if res["problems"] else 1, "bool")
    print(json.dumps({
        "correct": not res["problems"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in sorted(metrics.items())},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
