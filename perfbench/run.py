"""Benchmark entry point: runs one workload in a fresh child process.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 30 --trace 0

Run from the root of a checkout of the repository. The run settings are
pinned here, before the child starts:

- ``SPARK_GRAFT_CPUS`` = the CPUs this process may use (``local[N]``);
- ``PYTHONPATH`` = the checkout root, so pandas-UDF workers import the engine;
- ``SPARK_LOCAL_DIRS`` and ``TMPDIR`` under a per-run scratch directory,
  ``.perfbench_work/run-<pid>``, deleted when the run ends;
- ``SPARK_DRIVER_MEMORY`` = 1g: keeps the run small on a shared machine,
  and caps the JVM heap growth that made the peak memory swing between runs.

The child (``worker.py``) and everything it starts (the JVM, Python
workers) share one session id. This process samples their summed PSS to
get ``peak_rss_mb``, kills whatever of that session is left when the child
ends, and waits until it is gone. The last line printed is the result JSON;
on any failure nothing is printed there and the exit code is not 0.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CHILD_TIMEOUT_S = 160


def session_pids(sid: int) -> list[int]:
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # after the command name: state ppid pgrp session ...
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(entry))
    return pids


def tree_pss_bytes(sid: int) -> int:
    """Summed proportional set size of a session's processes: pages shared
    between the forked Python workers are counted once, not per worker."""
    total = 0
    for pid in session_pids(sid):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


class PssSampler(threading.Thread):
    """Peak summed PSS of one session while ``measuring`` is set.

    One sample reads every process's ``smaps_rollup``, which costs tens of
    milliseconds of CPU for the JVM alone, so samples are a second apart:
    sampled faster, the sampler itself slowed the run it measured."""

    def __init__(self, sid: int, period_s: float = 1.0) -> None:
        super().__init__(daemon=True)
        self.sid, self.period_s = sid, period_s
        self.peak = 0
        self.measuring = threading.Event()
        self.done = threading.Event()

    def run(self) -> None:
        while not self.done.wait(self.period_s):
            if self.measuring.is_set():
                self.peak = max(self.peak, tree_pss_bytes(self.sid))


def stop_session(sid: int, grace_s: float = 5.0, timeout_s: float = 20.0) -> bool:
    """Wait for the child's session to exit, kill what is left after the
    grace period, and wait until it is gone."""
    t0 = time.time()
    while True:
        left = session_pids(sid)
        if not left:
            return True
        if time.time() - t0 > timeout_s:
            return False
        if time.time() - t0 < grace_s:
            time.sleep(0.1)
            continue
        for pid in left:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.2)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "aml_feature_store_spark", "__init__.py")):
        print("perfbench: engine package aml_feature_store_spark not found in "
              f"{ROOT}; run from a checkout of the repository", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d))
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        PYTHONPATH=ROOT,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_DRIVER_MEMORY="1g",
        # the launcher JVM that spark-submit runs first
        SPARK_LAUNCHER_OPTS=f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    )
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work]
    # on SIGTERM, unwind through the finally below so the child's session is
    # stopped and the scratch directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    child = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                             text=True, start_new_session=True)
    sampler = PssSampler(child.pid)
    sampler.start()
    timer = threading.Timer(CHILD_TIMEOUT_S, child.kill)
    timer.start()
    last = None
    try:
        for line in child.stdout:
            line = line.rstrip("\n")
            if line.startswith("perfbench phase:"):
                phase = json.loads(line.split(":", 1)[1])
                if phase in ("setup", "measure"):
                    sampler.measuring.set()
                else:
                    sampler.measuring.clear()
            if line.startswith("{"):
                last = line
            else:
                print(line, flush=True)
        code = child.wait()
    finally:
        timer.cancel()
        sampler.done.set()
        sampler.join()
        stopped = stop_session(child.pid)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    if code != 0 or last is None or not stopped:
        print(f"perfbench: run failed (exit {code}, result "
              f"{'present' if last else 'missing'}, processes stopped: {stopped})",
              file=sys.stderr)
        return 1
    result = json.loads(last)
    if not args.trace:
        result["metrics"]["peak_rss_mb"] = {"value": sampler.peak / 1048576.0, "unit": "MB"}
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
