"""Tests for the benchmark's own helpers.

    python3 -m pytest perfbench/tests -q

The wire test starts a JVM and a pgwire server over sf0.001 tables built
by ``datagen`` in a temporary directory (about half a minute).
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from stats import row_digest, tail, tree_cpu_s  # noqa: E402
from tracing import busy_seconds, layer_totals, parse_metric  # noqa: E402


@pytest.mark.parametrize("n", [11, 12, 57, 99, 100, 101, 250, 1000])
def test_tail_keeps_at_least_ten_samples_beyond(n):
    values = [float(i) for i in range(n)]
    pct, value, count = tail(values)
    assert count == n
    beyond = sum(v > value for v in values)
    assert beyond >= 10
    # one whole percentile higher would leave fewer than ten beyond it
    rank_next = -(-(pct + 1) * n // 100)
    assert n - rank_next < 10 or pct == 99


def test_tail_exact_cases():
    assert tail(range(10)) is None
    assert tail(range(100)) == (90, 89, 100)
    assert tail(range(1000)) == (99, 989, 1000)


def test_digest_catches_one_wrong_row():
    rows = [(b"1", b"alice", None), (b"2", b"bob", b"3.5"), (b"3", b"carol", b"0")]
    ref = row_digest(rows)
    assert row_digest(list(reversed(rows))) == ref  # order-insensitive
    wrong = [rows[0], (b"2", b"bob", b"3.6"), rows[2]]
    assert row_digest(wrong) != ref
    assert row_digest(rows[:2]) != ref  # a missing row
    assert row_digest(rows + [rows[0]]) != ref  # a duplicated row
    assert row_digest([(b"1", b"alice", b"")] + rows[1:]) != ref  # NULL is not ''


_SETSID_CHILD = r"""
import os, sys, time
pid = os.fork()
if pid == 0:
    os.setsid()  # as PySpark's worker daemon leaves its parent's group
    t0 = time.process_time()
    while time.process_time() - t0 < 0.5:
        pass
    print("burned", os.getpid(), flush=True)
    sys.stdin.readline()
    os._exit(0)
os.waitpid(pid, 0)
print("reaped", flush=True)
sys.stdin.readline()
"""


def test_tree_cpu_counts_a_setsid_child():
    proc = subprocess.Popen([sys.executable, "-c", _SETSID_CHILD], stdin=subprocess.PIPE,
                            stdout=subprocess.PIPE, text=True)
    try:
        word, child = proc.stdout.readline().split()
        assert word == "burned"
        assert os.getpgid(int(child)) != os.getpgid(proc.pid)
        assert tree_cpu_s(proc.pid) >= 0.45  # live, in another process group
        proc.stdin.write("\n")
        proc.stdin.flush()
        assert proc.stdout.readline().strip() == "reaped"
        assert tree_cpu_s(proc.pid) >= 0.45  # reaped: in its parent's child time
        proc.stdin.write("\n")
        proc.stdin.flush()
        assert proc.wait(timeout=10) == 0
    finally:
        proc.kill()
        proc.wait()


def test_parse_metric_and_busy_seconds():
    assert parse_metric("3.1 s") == pytest.approx(3.1)
    assert parse_metric("total (min, med, max (stageId: taskId))\n12.5 MiB (1 KiB, 2 KiB, "
                        "3 KiB (stage 1.0: task 2))") == pytest.approx(12.5 * 2**20)
    assert parse_metric("448 ms") == pytest.approx(0.448)
    assert busy_seconds([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4.0)


def test_layer_self_time_subtracts_children():
    spans = [
        {"id": 1, "layer": "session", "parent": None, "start": 0.0, "end": 10.0, "py4j": 2},
        {"id": 2, "layer": "plans.rewrite", "parent": 1, "start": 1.0, "end": 3.0, "py4j": 1},
        {"id": 3, "layer": "session", "parent": 1, "start": 4.0, "end": 8.0, "py4j": 5},
    ]
    t = layer_totals(spans)
    assert t["session"]["calls"] == 1 and t["session"]["s"] == pytest.approx(10.0)
    assert t["session"]["self_s"] == pytest.approx(4.0 + 4.0)
    assert t["session"]["py4j_incl"] == 8
    assert t["plans.rewrite"]["self_s"] == pytest.approx(2.0)


@pytest.fixture(scope="module")
def wire_server(tmp_path_factory):
    import datagen
    from dataclod_spark.server.pgwire import PgWireServer
    from dataclod_spark.session import EngineSession, get_spark

    data = datagen.ensure(str(tmp_path_factory.mktemp("sf0001")), 0.001)
    spark = get_spark(app_name="perfbench_tests", shuffle_partitions=4,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    engine = EngineSession(spark)
    engine.load_tables(data, ("orders", "customer"))
    os.environ["DATACLOD_PASSWORD"] = "secret"
    try:
        server = PgWireServer(engine, port=0)
    finally:
        del os.environ["DATACLOD_PASSWORD"]
    server.start()
    yield server
    server.stop()


def test_client_framing_against_live_server(wire_server):
    from pgclient import PgClient, PgError

    with PgClient("127.0.0.1", wire_server.port, password="secret") as c:
        cols, rows = c.query("SELECT 1 AS one, 'x' AS s, NULL AS n")
        assert cols == ["one", "s", "n"] and rows == [(b"1", b"x", None)]
        assert c.last_tag == "SELECT 1"
        cols, rows = c.execute("SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey = $1",
                               [7])
        assert cols == ["o_orderkey", "o_custkey"] and len(rows) == 1 and rows[0][0] == b"7"
        _, rows = c.execute("SELECT count(*) FROM orders WHERE o_orderkey < $1", [100])
        assert rows == [(b"100",)]
        with pytest.raises(PgError):
            c.query("SELECT no_such_column FROM orders")
        _, rows = c.query("SELECT 2")  # the connection survives an error
        assert rows == [(b"2",)]
    with pytest.raises(PgError) as err:
        PgClient("127.0.0.1", wire_server.port, password="wrong")
    assert err.value.code == "28P01"
