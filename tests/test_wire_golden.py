"""Byte-level golden of the pgwire result path.

Each case sends a fixed sequence of frontend messages over a fresh
connection and records every backend message, tag and payload, up to the
ReadyForQuery that closes the exchange.  ``tests/data/wire_golden.json``
holds those streams; the test replays the cases and compares byte for
byte.  The cases cover the simple protocol (0 rows, 1 row, the 1024-row
cap, several statements in one string, SET, the COPY tag, an error in the
middle of a string) and the extended protocol (``max_rows`` 0, 3, 10 and
2000 over short and long ordered results, binary and mixed result
formats, Describe of a statement and of a portal, and the late
RowDescription of EXECUTE IMMEDIATE).

Re-record the golden file (only when a change of the wire output is
intended) with ``python tests/test_wire_golden.py``.
"""

from __future__ import annotations

import json
import os
import struct
import sys
import tempfile

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
GOLDEN = os.path.join(HERE, "data", "wire_golden.json")


def _query(sql: str):
    return b"Q", sql.encode() + b"\x00"


def _parse(sql: str, name: str = "", oids: tuple = ()):
    body = name.encode() + b"\x00" + sql.encode() + b"\x00" + struct.pack("!h", len(oids))
    return b"P", body + b"".join(struct.pack("!i", o) for o in oids)


def _bind(portal: str = "", stmt: str = "", params: tuple = (), formats: tuple = ()):
    body = portal.encode() + b"\x00" + stmt.encode() + b"\x00" + struct.pack("!hh", 0, len(params))
    body += b"".join(struct.pack("!i", len(p)) + p for p in params)
    return b"B", body + struct.pack("!h", len(formats)) + b"".join(struct.pack("!h", f) for f in formats)


def _describe(kind: bytes, name: str = ""):
    return b"D", kind + name.encode() + b"\x00"


def _execute(max_rows: int, portal: str = ""):
    return b"E", portal.encode() + b"\x00" + struct.pack("!i", max_rows)


_SYNC = (b"S", b"")

_TYPED_ROW = (
    "SELECT CAST(7 AS INT) AS i, CAST(2.5 AS DOUBLE) AS f, 'x' AS s, "
    "DATE '2020-01-02' AS d, CAST(1.25 AS DECIMAL(10,2)) AS n, CAST(NULL AS BIGINT) AS z"
)


def _cases(tmp: str) -> dict[str, list[tuple[bytes, bytes]]]:
    """Case name → the frontend messages it sends; the last one is a
    Query or a Sync, answered by the ReadyForQuery that ends the case."""
    cases = {
        "simple_zero_rows": [_query("SELECT id FROM range(0)")],
        "simple_one_row": [_query("SELECT 1 + 1 AS two, 'hi' AS s, true AS b, "
                                  "CAST(NULL AS INT) AS n, CAST(2.5 AS DOUBLE) AS f")],
        "simple_cap_1024": [_query("SELECT id FROM range(5000)")],
        "simple_multi_statement": [_query(
            "SELECT 1 AS a; SELECT 'x' AS b, DATE '2020-01-02' AS d; "
            "SELECT id FROM range(3) ORDER BY id"
        )],
        "simple_set": [_query("SET search_path = public")],
        "simple_copy": [_query(f"COPY (SELECT id FROM range(5)) TO '{tmp}/copy' (FORMAT parquet)")],
        "simple_error_mid_string": [_query(
            "SELECT 1 AS a; SELECT * FROM wire_golden_missing_table; SELECT 3 AS c"
        )],
    }
    for n in (7, 3000):
        for max_rows in (0, 3, 10, 2000):
            # two Executes: the second resumes a suspended portal or
            # re-answers an exhausted one
            cases[f"extended_{n}_rows_max_{max_rows}"] = [
                _parse(f"SELECT id FROM range({n}) ORDER BY id"),
                _bind(),
                _execute(max_rows),
                _execute(max_rows),
                _SYNC,
            ]
    cases["extended_binary_formats"] = [
        _parse(_TYPED_ROW), _bind(formats=(1,)), _describe(b"P"), _execute(0), _SYNC,
    ]
    cases["extended_mixed_formats"] = [
        _parse(_TYPED_ROW), _bind(formats=(0, 1, 0, 1, 0, 1)), _describe(b"P"), _execute(0), _SYNC,
    ]
    cases["extended_describe_statement_and_portal"] = [
        _parse("SELECT $1 + 1 AS x, 'a' AS y", name="s1", oids=(23,)),
        _describe(b"S", "s1"),
        _bind(portal="p1", stmt="s1", params=(b"41",), formats=(1, 0)),
        _describe(b"P", "p1"),
        _execute(0, "p1"),
        _SYNC,
    ]
    cases["extended_execute_immediate_late_row_description"] = [
        _parse("EXECUTE IMMEDIATE 'SELECT 7 AS x'"), _bind(), _describe(b"P"), _execute(0), _SYNC,
    ]
    return cases


CASE_NAMES = list(_cases(""))


def _stream(port: int, messages: list[tuple[bytes, bytes]]) -> list[list[str]]:
    """Send ``messages`` on a fresh connection; every backend message up
    to ReadyForQuery as ``[tag, payload hex]``."""
    from test_pgwire import MiniPgClient

    client = MiniPgClient(port)
    try:
        assert client.login()[-1][0] == b"Z"
        for tag, body in messages:
            client.send(tag, body)
        out = []
        while True:
            tag, body = client.read_message()
            out.append([tag.decode(), body.hex()])
            if tag == b"Z":
                return out
    finally:
        client.close()


def _dumps(streams: dict) -> str:
    """The golden file's layout: one backend message per line."""
    items = [
        f"{json.dumps(k)}: [\n" + ",\n".join(f"  {json.dumps(m)}" for m in v) + "\n ]"
        for k, v in streams.items()
    ]
    return "{\n " + ",\n ".join(items) + "\n}\n"


@pytest.fixture(scope="module")
def port(engine):
    from dataclod_spark.server.pgwire import PgWireServer

    srv = PgWireServer(engine, port=0)
    srv.start()
    yield srv.port
    srv.stop()


@pytest.fixture(scope="module")
def golden():
    with open(GOLDEN) as f:
        return json.load(f)


def test_golden_holds_every_case(golden):
    assert list(golden) == CASE_NAMES


@pytest.mark.parametrize("name", CASE_NAMES)
def test_wire_stream_matches_golden(name, port, golden, tmp_path):
    got = _stream(port, _cases(str(tmp_path))[name])
    want = golden[name]
    first = next((i for i, (g, w) in enumerate(zip(got, want)) if g != w), min(len(got), len(want)))
    assert got == want, (first, got[first:first + 2], want[first:first + 2])


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    from dataclod_spark.server.pgwire import PgWireServer
    from dataclod_spark.session import EngineSession, get_spark

    spark = get_spark(app_name="wire_golden", shuffle_partitions=8,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    srv = PgWireServer(EngineSession(spark), port=0)
    srv.start()
    with tempfile.TemporaryDirectory() as tmp:
        streams = {name: _stream(srv.port, msgs) for name, msgs in _cases(tmp).items()}
    srv.stop()
    with open(GOLDEN, "w") as f:
        f.write(_dumps(streams))
    spark.stop()
    print("wrote", GOLDEN)
