#!/usr/bin/env python
"""CPU seconds of every JVM thread a command starts, grouped by role.
Usage:

    python scripts/jvm_threads.py -- command [arg ...]

Runs the command and, until it exits, polls ``/proc/<pid>/task/*/stat``
of every ``java`` process descended from it, every ``POLL_S`` seconds.
Each thread keeps the last CPU time seen, so a thread's final interval
before it exits is lost.  When the command exits, prints CPU-s per group
(summed over the whole life of every JVM, the short-lived launcher JVM
of ``spark-submit`` included when a poll caught it), then one JSON line
of the same figures:

- ``C2`` / ``C1``: the HotSpot compiler threads;
- ``GC``: the collector threads (``GC Thread#N``, ``G1 ...``);
- ``executor``: Spark's task threads (``Executor task launch worker``);
- ``py4j``: ``Thread-N``, the threads py4j serves Python calls on;
- ``main``: the thread named ``java``, which runs JVM start and the class
  loading before the py4j gateway is up;
- ``exchange``: AQE's ``shuffle-exchange-*``, ``broadcast-exchange-*``,
  ``ResultQueryStage*`` and ``QueryStageCreator*`` pools, where stage
  planning and codegen run;
- ``other``: the rest (Spark's own services).

Linux keeps the first 15 characters of a thread name, so the groups match
on those.

Only reads under ``/proc``; exits with the command's return code.
"""
from __future__ import annotations

import argparse
import json
import os
import re
import subprocess
import sys
import time

TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")
POLL_S = 0.25
GROUPS = ("C2", "C1", "GC", "executor", "py4j", "main", "exchange", "other")


def _stat(path: str) -> tuple[str, list[str]] | None:
    """``(comm, fields after comm)`` of a ``stat`` file, None once gone."""
    try:
        with open(path) as fh:
            raw = fh.read()
    except OSError:
        return None
    head, _, rest = raw.rpartition(")")
    return head.partition("(")[2], rest.split()


def _java_pids(root: int) -> list[int]:
    """``java`` processes descended from ``root``."""
    children: dict[int, list[int]] = {}
    comm: dict[int, str] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit() and (st := _stat(f"/proc/{entry}/stat")):
            children.setdefault(int(st[1][1]), []).append(int(entry))
            comm[int(entry)] = st[0]
    found, todo = [], [root]
    while todo:
        for child in children.get(todo.pop(), []):
            todo.append(child)
            if comm[child] == "java":
                found.append(child)
    return found


def group(name: str) -> str:
    if name.startswith("C2 Compiler"):
        return "C2"
    if name.startswith("C1 Compiler"):
        return "C1"
    if name.startswith(("GC Thread", "G1 ")):
        return "GC"
    if name.startswith("Executor task"):
        return "executor"
    if re.fullmatch(r"Thread-\d+", name):
        return "py4j"
    if name == "java":
        return "main"
    if name.startswith(
        ("shuffle-exchang", "broadcast-excha", "ResultQueryStag", "QueryStageCreat")
    ):
        return "exchange"
    return "other"


def poll(root: int, seen: dict[tuple[int, int], tuple[str, float]]) -> None:
    """Record the current name and CPU-s of every thread of every JVM."""
    for pid in _java_pids(root):
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            if st := _stat(f"/proc/{pid}/task/{tid}/stat"):
                # utime and stime are fields 14 and 15 of stat(5)
                seen[(pid, int(tid))] = (st[0], (int(st[1][11]) + int(st[1][12])) * TICK_S)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("command", nargs=argparse.REMAINDER)
    args = ap.parse_args()
    cmd = args.command[1:] if args.command[:1] == ["--"] else args.command
    if not cmd:
        ap.error("no command given")

    proc = subprocess.Popen(cmd)
    seen: dict[tuple[int, int], tuple[str, float]] = {}
    while proc.poll() is None:
        poll(proc.pid, seen)
        time.sleep(POLL_S)

    totals = dict.fromkeys(GROUPS, 0.0)
    for name, cpu_s in seen.values():
        totals[group(name)] += cpu_s
    totals = {k: round(v, 2) for k, v in totals.items()}
    totals["total"] = round(sum(totals.values()), 2)
    totals["jvms"] = len({pid for pid, _ in seen})
    for k, v in totals.items():
        print(f"{k:>9} {v:9.2f}" if k != "jvms" else f"{k:>9} {v:9d}")
    print(json.dumps(totals))
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main())
