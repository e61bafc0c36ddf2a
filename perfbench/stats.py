"""Small statistics and digest helpers shared by the benchmark's parts."""

from __future__ import annotations

import hashlib
import math
import os
import statistics


def median(values) -> float:
    """Median, 0.0 for no values (a result line must stay valid JSON)."""
    values = list(values)
    return statistics.median(values) if values else 0.0


def tail(values, beyond: int = 10) -> tuple[int, float, int] | None:
    """The highest whole percentile that still has at least ``beyond``
    samples above it, as ``(percentile, value, n)``; ``None`` when there
    are not more than ``beyond`` samples.  Nearest-rank: the value is the
    ``ceil(p/100 * n)``-th smallest sample."""
    ordered = sorted(values)
    n = len(ordered)
    if n <= beyond:
        return None
    pct = math.floor(100 * (n - beyond) / n)
    rank = math.ceil(pct * n / 100)
    while n - rank < beyond:  # guard float rounding at exact multiples
        pct -= 1
        rank = math.ceil(pct * n / 100)
    return pct, ordered[rank - 1], n


def _cell(v) -> bytes:
    if v is None:
        return b"\x00N"
    if isinstance(v, bytes):
        return b"\x01" + v
    return b"\x01" + str(v).encode()


def row_digest(rows) -> str:
    """Order-insensitive digest of a result: rows are encoded cell by cell
    (``None`` distinct from any text), sorted, then hashed."""
    encoded = sorted(
        b"\x1f".join(_cell(v) for v in row) for row in rows
    )
    h = hashlib.sha256()
    for r in encoded:
        h.update(len(r).to_bytes(4, "big"))
        h.update(r)
    return h.hexdigest()[:32]


def _proc_table() -> dict[int, tuple[int, int]]:
    """``pid -> (parent pid, CPU ticks)`` for every live process.  The
    ticks are user plus system time of the process and of the children it
    has reaped."""
    table = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        table[int(entry)] = (int(fields[1]), sum(int(f) for f in fields[11:15]))
    return table


def _tree(table: dict, root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root] if root in table else []
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_pids(root: int) -> list[int]:
    """``root`` and every live process descended from it, whatever its
    process group or session (PySpark's worker daemon starts its own)."""
    return _tree(_proc_table(), root)


def tree_cpu_s(root: int) -> float:
    """User plus system CPU seconds of ``root``'s process tree: its live
    processes and the children they have reaped.  Unlike wall time this
    leaves out the time the host gave the CPUs to other guests."""
    table = _proc_table()
    ticks = sum(table[pid][1] for pid in _tree(table, root))
    return ticks / os.sysconf("SC_CLK_TCK")
