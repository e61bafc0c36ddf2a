"""Auto-generated correctness-window rotation.

The per-round driver samples the FIRST ~50 entries of
``__spark_entry__._PRIORITY`` and records a row-count/schema/value-hash
check for each (``CORRECTNESS_r{N}.json``).  With a 50-slot window over a
150+-query registry, the best achievable freshness bar is ~3 rounds — so
the ordering policy must be enforced by code, not a hand-maintained list:

0. queries CHANGED this round (implementation or oracle values moved
   since their latest driver row — hand-declared per round, because the
   JSON history cannot know what the current tree changed);
1. queries with NO driver row in any ``CORRECTNESS_r*.json`` (new);
2. queries whose LATEST row is not fully green (red rows re-queue
   immediately);
3. everything else stalest-first (ascending latest-checked round).

Ties break by registry order, so the result is deterministic for a given
tree + history.
"""

from __future__ import annotations

import glob
import json
import os
import re

_ROUND_RE = re.compile(r"_r(\d+)\.json$")


def iter_round_files(repo_dir: str, prefix: str):
    """Yield ``(round_number, parsed_json)`` for every readable
    ``<prefix>_r<N>.json`` ledger file in ``repo_dir``, ascending by
    filename.  Unreadable or non-JSON files are skipped (the rotation
    degrades gracefully rather than crash the driver's import)."""
    for path in sorted(glob.glob(os.path.join(repo_dir, f"{prefix}_r*.json"))):
        m = _ROUND_RE.search(path)
        if not m:
            continue
        try:
            with open(path) as f:
                data = json.load(f)
        except (OSError, ValueError):
            continue
        yield int(m.group(1)), data


def load_history(repo_dir: str) -> dict[str, tuple[int, bool]]:
    """name -> (latest round with a driver row, was that row fully green).

    A row is green only if rows/schema/hash all matched and no error was
    recorded; a hash-less (rows-only) pass still counts as green — the
    weaker check is all the driver runs for non-SQL-expressible queries.
    Unreadable files are skipped (the rotation degrades to registry order
    rather than crashing the driver's import of ``__spark_entry__``).
    """
    hist: dict[str, tuple[int, bool]] = {}
    for rnd, data in iter_round_files(repo_dir, "CORRECTNESS"):
        if not isinstance(data, dict):
            continue
        for name, row in data.items():
            if not isinstance(row, dict):
                continue
            green = (
                bool(row.get("rows_match"))
                and bool(row.get("schema_match"))
                and row.get("hash_match") in (True, None)
                and not row.get("err")
            )
            prev = hist.get(name)
            if prev is None or rnd >= prev[0]:
                hist[name] = (rnd, green)
    return hist


def rotation_order(
    names: list[str],
    history: dict[str, tuple[int, bool]],
    changed: tuple[str, ...] = (),
) -> list[str]:
    """Order ``names`` (registry order) by the window policy above."""
    changed_set = set(changed)

    def key(item: tuple[int, str]) -> tuple[int, int, int]:
        idx, name = item
        if name in changed_set:
            return (0, 0, idx)
        row = history.get(name)
        if row is None:
            return (1, 0, idx)
        rnd, green = row
        if not green:
            return (2, 0, idx)
        return (3, rnd, idx)

    return [name for _, name in sorted(enumerate(names), key=lambda t: key(t))]


def window_report(
    names: list[str],
    history: dict[str, tuple[int, bool]],
    changed: tuple[str, ...] = (),
    window: int = 50,
) -> dict:
    """The actual window math, computed — not estimated by hand (the r8
    COVERAGE note miscounted the carry by prose arithmetic; VERDICT r8
    asked for the generator to print the real list).  Returns the
    in-window names, the queries that MISS the window despite being
    stale/new/changed (the carry), and the post-window freshness floor
    (the oldest latest-checked round among CARRIED green entries —
    carried red/new entries have no meaningful 'last green' age — i.e.
    what the bar becomes after the driver runs this window)."""
    order = rotation_order(names, history, changed)
    in_window = order[:window]
    carried = order[window:]
    changed_set = set(changed)

    def cls(name: str) -> str:
        if name in changed_set:
            return "changed"
        row = history.get(name)
        if row is None:
            return "new"
        return "green" if row[1] else "red"

    stale_after = [
        history[n][0] for n in carried if cls(n) == "green"
    ]
    return {
        "window": window,
        "in_window": in_window,
        "carried": carried,
        "carried_detail": [
            (n, cls(n), history.get(n, (None,))[0]) for n in carried
        ],
        "freshness_floor_after": min(stale_after) if stale_after else None,
    }


def _main() -> None:  # pragma: no cover - CLI convenience
    """``python -m dataclod_spark.rotation [window]``: print the window
    cut for the CURRENT tree (registry + _CHANGED_THIS_ROUND from
    __spark_entry__) so the COVERAGE ledger can paste facts."""
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    import __spark_entry__ as entry_mod

    from dataclod_spark.registry import load_all_queries

    window = int(sys.argv[1]) if len(sys.argv) > 1 else 50
    rep = window_report(
        list(load_all_queries()),
        load_history(entry_mod._REPO_DIR),
        entry_mod._CHANGED_THIS_ROUND,
        window,
    )
    print(f"window={rep['window']}  in={len(rep['in_window'])}  "
          f"carried={len(rep['carried'])}")
    print("first in window:", ", ".join(rep["in_window"][:20]), "...")
    if rep["carried_detail"]:
        print("carried (name, class, latest_round):")
        for n, c, r in rep["carried_detail"]:
            print(f"  {n}  {c}  r{r}")
    print("freshness floor after this window:",
          f"r{rep['freshness_floor_after']}"
          if rep["freshness_floor_after"] is not None else "none")


if __name__ == "__main__":  # pragma: no cover
    _main()
