#!/usr/bin/env python3
"""Extraction benchmark: ``run_extraction_job`` over seeded pages tables.

    python3 extbench/run.py --workload crawl_batch --seed 1 --seconds 16 --trace 0

Run from the repository root.  The last line of standard output is the
result: ``{"correct", "attempted", "failed", "metrics"}``; the line before
it records the host, versions and per-job wall times.  ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer ones (see
``extbench/README.md``).

This file is the launcher: it gives the measured run a fresh work dir
inside the checkout (``.extbench_work``), starts it as a child in its own
process group, and on exit, error or timeout stops and reaps every
process the run started (it is the children's subreaper, so a JVM or
Python worker orphaned by a crash is reaped here too).
"""

from __future__ import annotations

import argparse
import ctypes
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".extbench_work"
LIMIT_S = 165  # a run must end within 180 s, reaping included
PR_SET_CHILD_SUBREAPER = 36


def _children() -> list[int]:
    me = str(os.getpid())
    out = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    s = f.read()
            except OSError:
                continue
            if s[s.rfind(")") + 2 :].split()[1] == me:
                out.append(int(name))
    return out


def _signal_all(pgid: int, sig: int) -> None:
    try:
        os.killpg(pgid, sig)
    except ProcessLookupError:
        pass
    for pid in _children():
        try:
            os.kill(pid, sig)
        except ProcessLookupError:
            pass


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    return True


def stop_and_reap(pgid: int, grace_s: float = 10.0) -> None:
    """TERM the run's process group and every orphan reparented to us
    (the PySpark daemon runs in a process group of its own), again each
    half second as more orphans arrive, KILL after ``grace_s``, and wait
    until none remains."""
    deadline = time.monotonic() + grace_s
    next_signal = 0.0
    while True:
        try:
            if os.waitpid(-1, os.WNOHANG)[0]:
                continue
        except ChildProcessError:
            if not _group_alive(pgid):
                return
        if time.monotonic() >= next_signal:
            late = time.monotonic() > deadline
            _signal_all(pgid, signal.SIGKILL if late else signal.SIGTERM)
            next_signal = time.monotonic() + 0.5
        time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="self-test table sizes")
    ap.add_argument(
        "--corrupt-row", action="store_true",
        help="self-test: corrupt one committed row before the oracle check",
    )
    args = ap.parse_args()

    if not (ROOT / "textextraction_spark").is_dir() or not (ROOT / "job.py").is_file():
        print(f"no program to measure under {ROOT}", file=sys.stderr)
        return 2

    shutil.rmtree(WORK, ignore_errors=True)
    (WORK / "tmp").mkdir(parents=True)
    (WORK / "local").mkdir()
    env = {
        k: v for k, v in os.environ.items()
        if k not in ("PYSPARK_SUBMIT_ARGS", "SPARK_CONF_DIR")
    }
    env.update(
        PYTHONPATH=str(ROOT),
        TMPDIR=str(WORK / "tmp"),
        SPARK_LOCAL_DIRS=str(WORK / "local"),
        PYTHONDONTWRITEBYTECODE="1",
    )
    out = WORK / "result.txt"
    cmd = [
        sys.executable, str(HERE / "harness.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", str(WORK), "--out", str(out),
    ] + ["--tiny"] * args.tiny + ["--corrupt-row"] * args.corrupt_row

    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    # a TERM from outside unwinds through the finally below, which reaps
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    log = WORK / "harness.log"
    with open(log, "wb") as logf:
        child = subprocess.Popen(
            cmd, cwd=ROOT, env=env, stdout=logf, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            rc = child.wait(timeout=LIMIT_S)
        except subprocess.TimeoutExpired:
            rc = None
            print(f"run exceeded {LIMIT_S} s; stopped", file=sys.stderr)
        finally:
            stop_and_reap(child.pid)

    if rc != 0 or not out.exists():
        sys.stderr.write(log.read_text(errors="replace")[-6000:])
        return 1
    sys.stdout.write(out.read_text())
    shutil.rmtree(WORK, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
