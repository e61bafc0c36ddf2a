"""The correctness-window rotation is code, not prose (VERDICT r5 #2).

Synthetic-history tests pin the policy; the repo-history test pins the
actual round guarantee: every never-driver-checked or changed-this-round
query lands inside the driver's ~50-slot window.
"""

import os

from dataclod_spark.rotation import iter_round_files, load_history, rotation_order

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WINDOW = 50


def test_policy_order_synthetic():
    names = ["a", "b", "c", "d", "e", "f"]
    history = {
        "a": (5, True),   # freshest green
        "b": (3, True),   # stalest green
        "c": (4, True),
        "d": (5, False),  # latest row red -> re-queue ahead of greens
        # e: never checked
        # f: never checked, but declared changed
    }
    order = rotation_order(names, history, changed=("f",))
    assert order == ["f", "e", "d", "b", "c", "a"]


def test_ties_break_by_registry_order():
    names = ["z", "y", "x"]
    history = {n: (2, True) for n in names}
    assert rotation_order(names, history) == ["z", "y", "x"]


def test_red_row_definitions():
    import json

    import dataclod_spark.rotation as rot

    fixture = {
        "ok": {"rows_match": True, "schema_match": True, "hash_match": True, "err": None},
        "rows_only_ok": {"rows_match": True, "schema_match": True, "hash_match": None, "err": None},
        "hash_red": {"rows_match": True, "schema_match": True, "hash_match": False, "err": None},
        "errored": {"rows_match": True, "schema_match": True, "hash_match": True, "err": "boom"},
    }
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        with open(os.path.join(d, "CORRECTNESS_r03.json"), "w") as f:
            json.dump(fixture, f)
        hist = rot.load_history(d)
    assert hist["ok"] == (3, True)
    assert hist["rows_only_ok"] == (3, True)
    assert hist["hash_red"] == (3, False)
    assert hist["errored"] == (3, False)


def test_latest_round_wins():
    import json
    import tempfile

    import dataclod_spark.rotation as rot

    with tempfile.TemporaryDirectory() as d:
        with open(os.path.join(d, "CORRECTNESS_r02.json"), "w") as f:
            json.dump({"q": {"rows_match": True, "schema_match": True, "hash_match": False}}, f)
        with open(os.path.join(d, "CORRECTNESS_r04.json"), "w") as f:
            json.dump({"q": {"rows_match": True, "schema_match": True, "hash_match": True}}, f)
        hist = rot.load_history(d)
    assert hist["q"] == (4, True)


def test_repo_window_covers_new_and_changed():
    """Against the REAL repo history + registry: the generated order puts
    every never-checked / changed / non-green query inside the window."""
    import __spark_entry__ as entry
    from dataclod_spark.registry import load_all_queries

    names = list(load_all_queries())
    history = load_history(REPO)
    order = entry._PRIORITY
    assert sorted(order) == sorted(names), "rotation must cover the whole registry"

    window = set(order[:WINDOW])
    must_cover = [
        n
        for n in names
        if n in entry._CHANGED_THIS_ROUND
        or n not in history
        or not history[n][1]
    ]
    assert len(must_cover) <= WINDOW, (
        f"{len(must_cover)} must-cover queries exceed the {WINDOW}-slot window"
    )
    missing = [n for n in must_cover if n not in window]
    assert not missing, f"must-cover queries outside the window: {missing}"


def test_repo_window_is_stalest_first():
    """Within the green remainder, no fresher query may precede a staler
    one (the 3-round freshness bar depends on strict stalest-first)."""
    import __spark_entry__ as entry

    history = load_history(REPO)
    greens = [
        n
        for n in entry._PRIORITY
        if n in history and history[n][1] and n not in entry._CHANGED_THIS_ROUND
    ]
    rounds = [history[n][0] for n in greens]
    assert rounds == sorted(rounds)


def test_window_report_matches_rotation_order():
    """window_report is the generated replacement for hand-written carry
    notes (the r8 ledger miscount): its in_window/carried must be exactly
    the rotation order's prefix/suffix, the carried detail classes must
    be consistent with the history, and the freshness floor must equal
    the oldest carried green round."""
    from dataclod_spark.rotation import rotation_order, window_report

    names = [f"q{i}" for i in range(10)]
    history = {f"q{i}": (3 + (i % 4), i != 5) for i in range(8)}  # q8,q9 new; q5 red
    changed = ("q7",)
    rep = window_report(names, history, changed, window=6)
    order = rotation_order(names, history, changed)
    assert rep["in_window"] == order[:6]
    assert rep["carried"] == order[6:]
    classes = {n: c for n, c, _ in rep["carried_detail"]}
    for n in rep["carried"]:
        if n == "q7":
            assert classes[n] == "changed"
        elif n not in history:
            assert classes[n] == "new"
        else:
            assert classes[n] == ("green" if history[n][1] else "red")
    greens = [history[n][0] for n in rep["carried"] if classes.get(n) == "green"]
    assert rep["freshness_floor_after"] == (min(greens) if greens else None)


def test_iter_round_files(tmp_path):
    (tmp_path / "BENCH_r03.json").write_text('{"a": 1}')
    (tmp_path / "BENCH_r11.json").write_text('{"a": 2}')
    (tmp_path / "BENCH_rX.json").write_text('{"a": 3}')   # no round number
    (tmp_path / "BENCH_r04.json").write_text('{oops')     # unreadable: skipped
    got = list(iter_round_files(str(tmp_path), "BENCH"))
    assert got == [(3, {"a": 1}), (11, {"a": 2})]
    assert list(iter_round_files(str(tmp_path), "CORRECTNESS")) == []
