"""PostgreSQL wire-protocol (v3) endpoint over :class:`EngineSession`.

The reference's front door is a pgwire server (``src/server/src/postgres/``:
``server.rs``, ``handler.rs:35-74``, ``auth.rs``, ``types.rs``) so psql and
BI tools can speak to the engine directly.  This module is the Spark-side
equivalent: a thread-per-connection TCP server that authenticates with MD5
(user ``postgres``, password from ``$DATACLOD_PASSWORD``, default
``dataclod`` — ``auth.rs:18,107-116``), advertises the same server
parameters (``auth.rs:91-103``), and executes SQL through
``EngineSession.sql`` (the analogue of ``QueryContext`` in ``handler.rs``).

Protocol scope (matching the reference's handlers):

* **Simple protocol** (``handler.rs:34-77``): ``Q`` messages; each
  statement runs as a text-format portal through the extended protocol's
  Execute path, its result capped at ``DEFAULT_ROW_LIMIT`` = 1024 rows
  (``handler.rs:21,74``).  Transaction control (BEGIN, START TRANSACTION,
  COMMIT, END, ROLLBACK, ABORT, each with or without WORK / TRANSACTION)
  is a no-op (no real txn, as in the reference) answered with PG's tag:
  END answers COMMIT, ABORT answers ROLLBACK.
* **Extended protocol** (``handler.rs:96-147``, ``parser.rs:31-44``):
  Parse / Bind / Describe / Execute / Close / Sync / Flush; ``$n``
  placeholders are bound positionally (plans/rewrites.rewrite_dollar_params
  mirrors the reference's ``LogicalPlan::with_param_values``); Execute
  honours its ``max_rows`` portal limit.
* **Encoding** (``types.rs:112-386`` + ``utils.rs``): text-format results
  for the full primitive matrix (bool ``t``/``f``, numerics, UTF-8 text,
  ``\\x``-hex bytea, ISO dates/timestamps, decimals, PG-style intervals),
  structs/maps as their PostgreSQL-style text forms; **binary results** for
  the primitive matrix (bool, int2/4/8, float4/8, bytea, text, date,
  timestamp, time, numeric, interval — the ``encode_value`` binary arm,
  ``types.rs:191-386``) plus 1-D arrays of those primitives (real array
  OIDs int4[]/int8[]/float8[]/text[]/... with PG array binary format),
  honoring the Bind message's result-format codes; remaining non-primitive
  columns requested in binary raise a clean protocol error.

Bounded fetch with cursor fallback: a statement's first Execute collects
``df.limit(k + 1)`` once (a top-N or early-stopping plan), ``k`` being its
row limit capped at ``DEFAULT_ROW_LIMIT``.  A result of at most ``k`` rows
is sent whole and no cursor is opened.  The simple protocol cuts a longer
one at the cap; the extended protocol opens one local-iterator cursor,
which holds at most one partition on the driver (the reference streams
record batches the same way, ``types.rs:71-108``) and suspends at each
Execute's row limit.

Start programmatically::

    from dataclod_spark.server.pgwire import PgWireServer
    srv = PgWireServer(session, port=5432); srv.start()

or ``python -m dataclod_spark.server.pgwire --port 5432``.
"""

from __future__ import annotations

import hashlib
import os
import re
import socket
import socketserver
import struct
import threading
from datetime import date, datetime, time as dtime, timedelta
from decimal import Decimal
from typing import Iterable, Optional

DEFAULT_ROW_LIMIT = 1024  # handler.rs:21
PG_VERSION = "10.0"  # auth.rs:17
_DEFAULT_PASSWORD = "dataclod"  # auth.rs:18

# -- pg type OIDs (types.rs into_pg_type matrix) ------------------------------
_OID_BOOL = 16
_OID_BYTEA = 17
_OID_INT8 = 20
_OID_INT2 = 21
_OID_INT4 = 23
_OID_TEXT = 25
_OID_FLOAT4 = 700
_OID_FLOAT8 = 701
_OID_DATE = 1082
_OID_TIME = 1083
_OID_TIMESTAMP = 1114
_OID_INTERVAL = 1186
_OID_NUMERIC = 1700

# 1-D array OIDs of the primitive matrix (types.rs into_pg_type List arm)
_OID_ARRAY_OF = {
    _OID_BOOL: 1000,
    _OID_BYTEA: 1001,
    _OID_INT2: 1005,
    _OID_INT4: 1007,
    _OID_INT8: 1016,
    _OID_TEXT: 1009,
    _OID_FLOAT4: 1021,
    _OID_FLOAT8: 1022,
    _OID_NUMERIC: 1231,
    _OID_DATE: 1182,
    _OID_TIME: 1183,
    _OID_TIMESTAMP: 1115,
    _OID_INTERVAL: 1187,
}
_ELEM_OF = {v: k for k, v in _OID_ARRAY_OF.items()}

# element OID → Spark SQL type name, for typed empty-array parameters
_SPARK_TYPE_OF_OID = {
    _OID_BOOL: "boolean",
    _OID_BYTEA: "binary",
    _OID_INT2: "smallint",
    _OID_INT4: "int",
    _OID_INT8: "bigint",
    _OID_TEXT: "string",
    _OID_FLOAT4: "float",
    _OID_FLOAT8: "double",
    _OID_NUMERIC: "decimal(38,18)",
    _OID_DATE: "date",
    _OID_TIMESTAMP: "timestamp",
    _OID_INTERVAL: "interval day to second",
}


def _spark_type_oid(dt) -> int:
    from pyspark.sql import types as T

    if isinstance(dt, T.ArrayType):
        # 1-D arrays of the primitive matrix get real array OIDs; nested
        # arrays / arrays of structs stay in their text form (oid 25)
        elem = _spark_type_oid(dt.elementType)
        if not isinstance(dt.elementType, (T.ArrayType, T.MapType, T.StructType)):
            return _OID_ARRAY_OF.get(elem, _OID_TEXT)
        return _OID_TEXT
    if isinstance(dt, T.BooleanType):
        return _OID_BOOL
    if isinstance(dt, T.BinaryType):
        return _OID_BYTEA
    if isinstance(dt, (T.ByteType, T.ShortType)):
        return _OID_INT2
    if isinstance(dt, T.IntegerType):
        return _OID_INT4
    if isinstance(dt, T.LongType):
        return _OID_INT8
    if isinstance(dt, T.FloatType):
        return _OID_FLOAT4
    if isinstance(dt, T.DoubleType):
        return _OID_FLOAT8
    if isinstance(dt, T.DecimalType):
        return _OID_NUMERIC
    if isinstance(dt, T.DateType):
        return _OID_DATE
    if isinstance(dt, T.TimestampType):
        return _OID_TIMESTAMP
    if isinstance(dt, T.DayTimeIntervalType):
        return _OID_INTERVAL
    return _OID_TEXT  # strings, arrays, maps, structs → text form


def _text_encode(v) -> Optional[bytes]:
    """PostgreSQL text-format encoding of one value (types.rs encode_value)."""
    if v is None:
        return None
    if isinstance(v, bool):
        return b"t" if v else b"f"
    if isinstance(v, (bytes, bytearray)):
        return b"\\x" + bytes(v).hex().encode()
    if isinstance(v, float):
        # shortest round-trip repr, pg-style NaN/Infinity spellings
        if v != v:
            return b"NaN"
        if v == float("inf"):
            return b"Infinity"
        if v == float("-inf"):
            return b"-Infinity"
        return repr(v).encode()
    if isinstance(v, Decimal):
        return format(v, "f").encode()
    if isinstance(v, datetime):
        s = v.strftime("%Y-%m-%d %H:%M:%S")
        if v.microsecond:
            s += f".{v.microsecond:06d}".rstrip("0")
        return s.encode()
    if isinstance(v, date):
        return v.isoformat().encode()
    if isinstance(v, timedelta):
        # PG "postgres" interval output style, sign on each component
        total = v.days * 86_400_000_000 + v.seconds * 1_000_000 + v.microseconds
        neg = total < 0
        days, rem = divmod(abs(total), 86_400_000_000)
        h, rem = divmod(rem, 3_600_000_000)
        m, rem = divmod(rem, 60_000_000)
        s, us = divmod(rem, 1_000_000)
        sign = "-" if neg else ""
        parts = []
        if days:
            # PG pluralizes on the SIGNED value ('-1 days', '1 day')
            signed_days = -days if neg else days
            parts.append(f"{sign}{days} day" + ("s" if signed_days != 1 else ""))
        if h or m or s or us or not parts:
            t = f"{sign}{h:02d}:{m:02d}:{s:02d}"
            if us:
                t += f".{us:06d}".rstrip("0")
            parts.append(t)
        return " ".join(parts).encode()
    if isinstance(v, (list, tuple)):
        parts = []
        for e in v:
            t = _text_encode(e)
            if t is None:
                parts.append(b"NULL")
            else:
                s = t.decode("utf-8", "replace")
                # a real string "NULL" must be quoted or every PG client
                # reads it back as SQL NULL (PG quotes it for this reason)
                if any(c in s for c in ',{}" \\') or s == "" or s.upper() == "NULL":
                    s = '"' + s.replace("\\", "\\\\").replace('"', '\\"') + '"'
                parts.append(s.encode())
        return b"{" + b",".join(parts) + b"}"
    if isinstance(v, dict):
        return str(v).encode()
    if hasattr(v, "asDict"):  # Row (struct)
        inner = ",".join(
            (_text_encode(x) or b"").decode("utf-8", "replace") for x in v
        )
        return ("(" + inner + ")").encode()
    return str(v).encode()


_PG_EPOCH_DATE = date(2000, 1, 1)
_PG_EPOCH_DT = datetime(2000, 1, 1)


def _numeric_binary(d: Decimal) -> bytes:
    """PostgreSQL NUMERIC binary format: int16 ndigits/weight/sign/dscale
    then base-10000 digit groups, most significant first."""
    if d.is_nan():
        return struct.pack("!hhHh", 0, 0, 0xC000, 0)
    sign = 0x4000 if d < 0 else 0x0000
    ad = abs(d)
    exp = ad.as_tuple().exponent
    dscale = max(0, -exp) if isinstance(exp, int) else 0
    s = format(ad, "f")
    intpart, _, frac = s.partition(".")
    intpart = intpart.lstrip("0")
    if intpart:
        intpart = "0" * ((-len(intpart)) % 4) + intpart
        igroups = [int(intpart[i : i + 4]) for i in range(0, len(intpart), 4)]
    else:
        igroups = []
    if frac:
        frac = frac + "0" * ((-len(frac)) % 4)
        fgroups = [int(frac[i : i + 4]) for i in range(0, len(frac), 4)]
    else:
        fgroups = []
    digits = igroups + fgroups
    weight = len(igroups) - 1
    while digits and digits[0] == 0:
        digits.pop(0)
        weight -= 1
    while digits and digits[-1] == 0:
        digits.pop()
    if not digits:
        weight = 0
    return struct.pack("!hhHh", len(digits), weight, sign, dscale) + b"".join(
        struct.pack("!h", g) for g in digits
    )


def _binary_encode(v, oid: int) -> Optional[bytes]:
    """Binary-format encoding of one value (types.rs:191-386 binary arm)."""
    if v is None:
        return None
    if oid == _OID_BOOL:
        return b"\x01" if v else b"\x00"
    if oid == _OID_INT2:
        return struct.pack("!h", int(v))
    if oid == _OID_INT4:
        return struct.pack("!i", int(v))
    if oid == _OID_INT8:
        return struct.pack("!q", int(v))
    if oid == _OID_FLOAT4:
        return struct.pack("!f", float(v))
    if oid == _OID_FLOAT8:
        return struct.pack("!d", float(v))
    if oid == _OID_BYTEA:
        return bytes(v)
    if oid == _OID_NUMERIC:
        return _numeric_binary(v if isinstance(v, Decimal) else Decimal(str(v)))
    if oid == _OID_DATE:
        return struct.pack("!i", (v - _PG_EPOCH_DATE).days)
    if oid == _OID_TIMESTAMP:
        delta = v.replace(tzinfo=None) - _PG_EPOCH_DT
        micros = (delta.days * 86_400 + delta.seconds) * 1_000_000 + delta.microseconds
        return struct.pack("!q", micros)
    if oid == _OID_TIME:
        micros = ((v.hour * 60 + v.minute) * 60 + v.second) * 1_000_000 + v.microsecond
        return struct.pack("!q", micros)
    if oid == _OID_INTERVAL:
        # int64 micros-of-day, int32 days, int32 months (types.rs interval
        # arm).  Integer truncation toward zero — float division could round
        # across a day boundary for large totals and emit a micros component
        # whose sign disagrees with the day field
        total = v.days * 86_400_000_000 + v.seconds * 1_000_000 + v.microseconds
        if total >= 0:
            days = total // 86_400_000_000
        else:
            days = -((-total) // 86_400_000_000)
        return struct.pack("!qii", total - days * 86_400_000_000, days, 0)
    if oid in _ELEM_OF:
        # 1-D array: int32 ndim, hasnull, elem oid; per-dim len/lbound;
        # then int32 length + payload per element (-1 = NULL)
        elem_oid = _ELEM_OF[oid]
        elems = list(v)
        if not elems:
            return struct.pack("!iii", 0, 0, elem_oid)
        has_null = any(e is None for e in elems)
        out = [struct.pack("!iiiii", 1, 1 if has_null else 0, elem_oid, len(elems), 1)]
        for e in elems:
            p = _binary_encode(e, elem_oid)
            out.append(struct.pack("!i", -1) if p is None else struct.pack("!i", len(p)) + p)
        return b"".join(out)
    if oid == _OID_TEXT:
        # text payload is identical in binary format for textual types
        return _text_encode(v)
    raise ValueError(f"no binary result encoding for oid {oid}")


def _has_code(s: str) -> bool:
    """True when ``s`` contains any CODE (non-whitespace outside
    comments).  A quoted literal counts as code (executing it yields the
    same parse error PG gives); a comment-only segment does not — PG
    ignores a trailing comment after the last semicolon rather than
    executing it as a statement."""
    from dataclod_spark.plans.sqltext import uncommented

    return bool(uncommented(s).strip())


def md5_password_hash(user: str, password: str, salt: bytes) -> str:
    """``md5`` + hex(md5(md5(password+user) + salt)) — the exchange hashed
    on both ends (pgwire ``hash_md5_password``, used by auth.rs:111)."""
    inner = hashlib.md5((password + user).encode()).hexdigest()
    return "md5" + hashlib.md5(inner.encode() + salt).hexdigest()


# -- low-level message plumbing ----------------------------------------------


class _Proto:
    """Framed read/write over one client socket."""

    def __init__(self, sock: socket.socket):
        self.sock = sock
        self._buf = b""

    def _recv_exact(self, n: int) -> bytes:
        while len(self._buf) < n:
            chunk = self.sock.recv(65536)
            if not chunk:
                raise ConnectionError("client closed")
            self._buf += chunk
        out, self._buf = self._buf[:n], self._buf[n:]
        return out

    def read_startup(self) -> tuple[int, bytes]:
        ln = struct.unpack("!i", self._recv_exact(4))[0]
        if ln < 4:
            # a negative body length would negative-slice the buffer and
            # desync framing for the rest of the connection — fail HERE
            raise ConnectionError(f"invalid startup message length {ln}")
        return ln, self._recv_exact(ln - 4)

    def read_message(self) -> tuple[bytes, bytes]:
        tag = self._recv_exact(1)
        ln = struct.unpack("!i", self._recv_exact(4))[0]
        if ln < 4:
            raise ConnectionError(
                f"invalid message length {ln} for tag {tag!r}"
            )
        return tag, self._recv_exact(ln - 4)

    def send(self, tag: bytes, payload: bytes = b"") -> None:
        self.sock.sendall(tag + struct.pack("!i", len(payload) + 4) + payload)

    # -- composite messages --
    def send_error(self, code: str, message: str, severity: str = "ERROR") -> None:
        fields = b"S" + severity.encode() + b"\x00"
        fields += b"C" + code.encode() + b"\x00"
        fields += b"M" + message.encode("utf-8", "replace") + b"\x00\x00"
        self.send(b"E", fields)

    def send_ready(self, status: bytes = b"I") -> None:
        self.send(b"Z", status)

    def send_parameter(self, k: str, v: str) -> None:
        self.send(b"S", k.encode() + b"\x00" + v.encode() + b"\x00")

    def send_row_description(
        self, fields: list[tuple[str, int]], fmts: Optional[list[int]] = None
    ) -> None:
        out = struct.pack("!h", len(fields))
        for i, (name, oid) in enumerate(fields):
            fmt = fmts[i] if fmts else 0
            out += name.encode() + b"\x00"
            out += struct.pack("!ihihih", 0, 0, oid, -1, -1, fmt)
        self.send(b"T", out)

    def send_data_row(self, values: Iterable[Optional[bytes]]) -> None:
        vals = list(values)
        out = struct.pack("!h", len(vals))
        for v in vals:
            out += struct.pack("!i", -1) if v is None else struct.pack("!i", len(v)) + v
        self.send(b"D", out)

    def send_command_complete(self, tag: str) -> None:
        self.send(b"C", tag.encode() + b"\x00")


# -- per-connection handler ---------------------------------------------------

class _PreparedStatement:
    __slots__ = ("sql", "n_params", "param_oids")

    def __init__(self, sql: str, n_params: int, param_oids: list[int]):
        self.sql = sql
        self.n_params = n_params
        self.param_oids = param_oids


class _Portal:
    __slots__ = ("stmt", "params", "result_formats", "iter", "oids", "fmts",
                 "pushback", "done", "tag", "failed", "df")

    def __init__(self, stmt: _PreparedStatement, params: list, result_formats: list[int]):
        self.stmt = stmt
        self.params = params
        self.result_formats = result_formats
        # partial-fetch state (PG portal suspension): Execute with a row
        # limit keeps the result iterator on the portal and answers
        # PortalSuspended; the next Execute resumes where it stopped
        self.iter = None
        self.oids: list[int] = []
        self.fmts: list[int] = []
        self.pushback = None  # one-row lookahead used to detect exhaustion
        self.done = False
        # tag set on completed tag-only (DML/DDL) portals: PG refuses to
        # run those again (55000), unlike exhausted SELECT portals which
        # re-answer zero rows
        self.tag: Optional[str] = None
        # a portal whose Execute raised must never be re-run — PG marks it
        # FAILED; re-running could repeat a partially-applied side effect
        self.failed = False
        # planned (lazy) DataFrame cached by Describe so Execute does not
        # re-plan — spatial dispatch runs sampling jobs at PLAN time, so
        # a Describe-then-Execute client would otherwise pay them twice
        self.df = None

    def column_formats(self, n_cols: int) -> list[int]:
        """Per-column result format per the Bind rules: none → all text,
        one → applies to every column, else positional."""
        rf = self.result_formats
        if not rf:
            return [0] * n_cols
        if len(rf) == 1:
            return [rf[0]] * n_cols
        return [rf[i] if i < len(rf) else 0 for i in range(n_cols)]


class _Connection:
    def __init__(self, proto: _Proto, engine, password: str):
        self.p = proto
        self.engine = engine
        self.password = password
        self.statements: dict[str, _PreparedStatement] = {}
        self.portals: dict[str, _Portal] = {}
        # PG extended-protocol error state: after an ErrorResponse the
        # server ignores further messages until Sync, so a pipelining
        # client can never execute a stale portal from an earlier Bind
        self.skip_to_sync = False

    def _ext_error(self, code: str, message: str) -> None:
        """ErrorResponse inside the extended protocol ⇒ enter the
        skip-until-Sync state (PG protocol §55.2.3)."""
        self.skip_to_sync = True
        self.p.send_error(code, message)

    # -- startup / auth (auth.rs on_startup) --
    def startup(self) -> bool:
        while True:
            ln, payload = self.p.read_startup()
            code = struct.unpack("!i", payload[:4])[0]
            if code == 80877103:  # SSLRequest → not supported, keep cleartext
                self.p.sock.sendall(b"N")
                continue
            if code == 80877102:  # CancelRequest: no job tracking, just close
                return False
            break
        params: dict[str, str] = {}
        parts = payload[4:].split(b"\x00")
        for k, v in zip(parts[::2], parts[1::2]):
            if k:
                params[k.decode()] = v.decode()
        user = params.get("user", "")
        salt = os.urandom(4)
        self.p.send(b"R", struct.pack("!i", 5) + salt)  # AuthenticationMD5Password
        tag, body = self.p.read_message()
        if tag != b"p":
            return False
        given = body.rstrip(b"\x00").decode()
        expected = md5_password_hash(user, self.password, salt)
        # reference requires user == postgres AND password match (auth.rs:63)
        if user != "postgres" or given != expected:
            self.p.send_error("28P01", "Password authentication failed", "FATAL")
            return False
        self.p.send(b"R", struct.pack("!i", 0))  # AuthenticationOk
        for k, v in (
            ("server_version", PG_VERSION),
            ("server_encoding", "UTF8"),
            ("client_encoding", "UTF8"),
            ("DateStyle", "ISO YMD"),
            ("integer_datetimes", "on"),
        ):  # auth.rs:94-101
            self.p.send_parameter(k, v)
        self.p.send(b"K", struct.pack("!ii", threading.get_ident() & 0x7FFFFFFF, 0))
        self.p.send_ready()
        return True

    # -- query execution --
    def _run_sql(self, sql: str, params: Optional[list] = None):
        """Returns (DataFrame|None, tag_word).  None DataFrame = tag-only."""
        bare = sql.strip().rstrip(";").strip()
        if not bare:
            return None, ""
        df = self.engine.sql(bare, args=params if params else None)
        if not df.columns:
            # SET/txn shims (handler.rs:44-66) and Spark DML/DDL commands
            # return zero-column frames: answer the PG command tag.
            # Spark does not report affected-row counts for file-format
            # DML, so the count in INSERT/UPDATE/DELETE tags is 0.
            return None, _command_tag(bare)
        return df, "SELECT"

    @staticmethod
    def _count_frame_tag(head: str, df) -> str:
        """CommandComplete tag for a side-effecting statement whose eager
        result is a count/status frame (COPY row count, DML command
        output).  INSERT tags carry a leading oid field — PQcmdTuples
        parses the LAST space-separated token as the count."""
        frame = df.limit(1).collect()
        n = frame[0][0] if frame and len(frame[0]) else 0
        tag_head = "INSERT 0" if head == "insert" else head.upper()
        return f"{tag_head} {n}"

    def _send_portal_row(self, po: _Portal, row) -> None:
        """One DataRow in the portal's negotiated per-column formats."""
        self.p.send_data_row(
            _binary_encode(v, oid) if fmt == 1 else _text_encode(v)
            for v, oid, fmt in zip(row, po.oids, po.fmts)
        )

    def _send_row_description(self, df, po: Optional[_Portal] = None) -> None:
        """RowDescription of ``df``'s columns in ``po``'s result formats
        (all text without a portal: Describe of a statement)."""
        fields = [(f.name, _spark_type_oid(f.dataType)) for f in df.schema.fields]
        self.p.send_row_description(fields, po.column_formats(len(fields)) if po else None)

    def _run_portal(self, po: _Portal, max_rows: int, simple: bool = False) -> bool:
        """First Execute of ``po``: plan its statement unless Describe did,
        then answer it.  Returns False only when the result overflowed the
        first fetch and waits on the ``po.iter`` cursor for the caller.

        Without a result set: the command tag (for COPY and DML the count
        frame's; Describe answered NoData, so no DataRow may follow).  With
        one: a RowDescription when no Describe could have sent it (simple
        protocol; statements Describe must not plan, e.g. EXECUTE
        IMMEDIATE), then one ``limit(k + 1)`` fetch, ``k`` the row limit
        capped at DEFAULT_ROW_LIMIT.  On overflow the simple protocol sends
        the first DEFAULT_ROW_LIMIT rows (handler.rs:74); the extended one
        discards the probe and opens the one cursor, so every row a client
        sees comes from one iteration of a possibly nondeterministic plan.
        """
        sql = po.stmt.sql
        # a frame Describe planned is read, not consumed: later Describes
        # of a suspended portal answer from it without re-planning
        df = po.df
        if df is None:
            df, tag = self._run_sql(sql, po.params or None)
            if df is None:
                po.done, po.tag = True, (tag or "SET")
                self.p.send_command_complete(po.tag)
                return True
        returns_rows = _returns_rows(sql)
        if not returns_rows and (head := _statement_head(sql)) in _COMMAND_TAG_HEADS:
            po.done, po.tag = True, self._count_frame_tag(head, df)
            self.p.send_command_complete(po.tag)
            return True
        if simple or not returns_rows:
            self._send_row_description(df, po)
        po.oids = [_spark_type_oid(f.dataType) for f in df.schema.fields]
        po.fmts = po.column_formats(len(po.oids))
        k = max_rows if 0 < max_rows <= DEFAULT_ROW_LIMIT else DEFAULT_ROW_LIMIT
        rows = df.limit(k + 1).collect()
        if len(rows) > k and not simple:
            po.iter = df.toLocalIterator()
            return False
        del rows[k:]
        for row in rows:
            self._send_portal_row(po, row)
        po.done = True
        self.p.send_command_complete(f"SELECT {len(rows)}")
        return True

    @staticmethod
    def _split_statements(sql: str) -> list[str]:
        """Split a simple-protocol query string on semicolons in code
        (the PG simple protocol executes each statement in order).
        Literals (Spark tokenization: backslash and doubled escapes),
        dollar-quoting (tags may contain digits after the first char, e.g.
        $q1$), line comments and nesting block comments never split: the
        rules come from the engine's one SQL lexer (``plans/sqltext.py``),
        the same one behind the statement-head classifier and the
        rewrites."""
        from dataclod_spark.plans.sqltext import split_top

        out = split_top(sql, ";")
        # a segment with no CODE at all ("-- done", "/* tag */", "") is
        # not a statement: PG ignores trailing comments after the last
        # semicolon rather than executing them (and Parse must not count
        # one as a second command)
        return [
            s for s in (p.strip() for p in out)
            if s and _has_code(s)
        ]

    def handle_simple(self, sql: str) -> None:
        # PG simple protocol: execute every ';'-separated statement in
        # order with one CommandComplete each; an error aborts the rest of
        # the query string; a single ReadyForQuery closes the exchange
        # (reference handler.rs processes the same way via pgwire-rs).
        statements = self._split_statements(sql)
        if not statements:
            # empty query string (or only ';'/comments): PG answers
            # EmptyQueryResponse, NOT CommandComplete — libpq drivers
            # branch on PGRES_EMPTY_QUERY
            self.p.send(b"I")
            self.p.send_ready()
            return
        for stmt in statements:
            try:
                # a local text-format portal (psql shows "COPY 5", not rows)
                self._run_portal(_Portal(_PreparedStatement(stmt, 0, []), [], []), 0, simple=True)
            except Exception as e:  # noqa: BLE001 - protocol boundary
                self.p.send_error("XX000", str(e)[:1000])
                break
        self.p.send_ready()

    # -- extended protocol --
    def handle_parse(self, body: bytes) -> None:
        name, rest = body.split(b"\x00", 1)
        sql, rest = rest.split(b"\x00", 1)
        (n_oids,) = struct.unpack("!h", rest[:2])
        oids = list(struct.unpack(f"!{n_oids}i", rest[2 : 2 + 4 * n_oids]))
        text = sql.decode()
        # PG forbids multiple commands in one prepared statement (the
        # simple protocol is the multi-statement path)
        if len(self._split_statements(text)) > 1:
            # drop any previous statement under this name — same stale-
            # execution hazard as portals on Bind failure
            self.statements.pop(name.decode(), None)
            self._ext_error(
                "42601", "cannot insert multiple commands into a prepared statement"
            )
            return
        from dataclod_spark.plans.rewrites import rewrite_dollar_params

        _, used = rewrite_dollar_params(text)
        n_params = used[-1] if used else 0
        self.statements[name.decode()] = _PreparedStatement(text, n_params, oids)
        self.p.send(b"1")  # ParseComplete

    def handle_bind(self, body: bytes) -> None:
        portal, rest = body.split(b"\x00", 1)
        stmt_name, rest = rest.split(b"\x00", 1)
        (n_fmt,) = struct.unpack("!h", rest[:2])
        fmts = list(struct.unpack(f"!{n_fmt}h", rest[2 : 2 + 2 * n_fmt]))
        rest = rest[2 + 2 * n_fmt :]
        (n_params,) = struct.unpack("!h", rest[:2])
        rest = rest[2:]
        stmt = self.statements.get(stmt_name.decode())
        if stmt is None:
            # drop the name being bound too: a pipelining client must not
            # be able to Execute a stale portal after this error + Sync
            self.portals.pop(portal.decode(), None)
            self._ext_error("26000", f"unknown statement {stmt_name!r}")
            return
        params = []
        for i in range(n_params):
            (ln,) = struct.unpack("!i", rest[:4])
            rest = rest[4:]
            if ln == -1:
                params.append(None)
                continue
            raw, rest = rest[:ln], rest[ln:]
            fmt = fmts[i] if i < len(fmts) else (fmts[0] if len(fmts) == 1 else 0)
            oid = stmt.param_oids[i] if i < len(stmt.param_oids) else 0
            params.append(_decode_param(raw, fmt, oid))
        # trailing result-format codes (Bind message tail)
        result_formats: list[int] = []
        if len(rest) >= 2:
            (n_rf,) = struct.unpack("!h", rest[:2])
            result_formats = list(struct.unpack(f"!{n_rf}h", rest[2 : 2 + 2 * n_rf]))
        self.portals[portal.decode()] = _Portal(stmt, params, result_formats)
        self.p.send(b"2")  # BindComplete

    def handle_describe(self, body: bytes) -> None:
        kind, name = body[:1], body[1:].split(b"\x00", 1)[0].decode()
        if kind not in (b"S", b"P"):
            # PG: 'invalid DESCRIBE message subtype' — falling through to
            # the portal branch would describe (and run) the unnamed portal
            self._ext_error("08P01", f"invalid DESCRIBE message subtype {kind!r}")
            return
        # name resolution FIRST, outside the broad catch: a KeyError deep
        # in the engine path must surface as XX000, not masquerade as a
        # missing statement (26000) / portal (34000)
        target = self.statements if kind == b"S" else self.portals
        obj = target.get(name)
        if obj is None:
            if kind == b"S":
                self._ext_error("26000", f"unknown statement {name!r}")
            else:
                self._ext_error("34000", f"portal {name!r} does not exist")
            return
        stmt = obj if kind == b"S" else None
        po = obj if kind == b"P" else None
        try:
            if kind == b"S":
                # ParameterDescription then RowDescription
                oids = stmt.param_oids + [_OID_TEXT] * (
                    stmt.n_params - len(stmt.param_oids)
                )
                self.p.send(
                    b"t", struct.pack("!h", stmt.n_params)
                    + b"".join(struct.pack("!i", o or _OID_TEXT) for o in oids[: stmt.n_params]),
                )
                if not _returns_rows(stmt.sql):
                    self.p.send(b"n")  # NoData — never execute DML for a schema
                    return
                if _statement_head(stmt.sql) == "explain":
                    # EXPLAIN's schema is statically one text column
                    # ("plan", session shim + Spark's ExplainCommand
                    # agree) — planning it through _run_sql would execute
                    # an EXPLAIN [ANALYZE] DML body during Describe
                    self.p.send_row_description([("plan", _OID_TEXT)])
                    return
                df, _ = self._run_sql(stmt.sql, [None] * stmt.n_params or None)
                if df is None:
                    self.p.send(b"n")  # NoData
                else:
                    self._send_row_description(df)
                return
            if not _returns_rows(po.stmt.sql):
                # Describe of an INSERT/CTAS/COPY portal is NoData in PG;
                # executing it here would run the side effect twice
                # (psycopg3 sends Describe before every Execute)
                self.p.send(b"n")
                return
            if _statement_head(po.stmt.sql) == "explain":
                self.p.send_row_description([("plan", _OID_TEXT)], po.column_formats(1))
                return
            # an already-planned frame answers repeated Describes without
            # re-running _run_sql (a psycopg3/JDBC client Describes before
            # every Execute and on suspended-portal fetch loops — re-
            # planning re-pays spatial-dispatch sampling jobs each time)
            df = po.df
            if df is None:
                df, _ = self._run_sql(po.stmt.sql, po.params or None)
            if df is None:
                self.p.send(b"n")  # NoData
            else:
                # cache unconditionally: the first Execute consumes the
                # frame (iter None, not done); a suspended/completed
                # portal resumes its iterator and only ever reads the
                # cached frame's SCHEMA here — without the cache, every
                # Describe of a suspended-portal fetch loop re-planned
                # the statement (second-pass review find, round 5)
                po.df = df
                self._send_row_description(df, po)
        except Exception as e:  # noqa: BLE001
            self._ext_error("XX000", str(e)[:1000])

    def handle_execute(self, body: bytes) -> None:
        name, rest = body.split(b"\x00", 1)
        (max_rows,) = struct.unpack("!i", rest[:4])
        po = self.portals.get(name.decode())
        if po is None:
            # 34000 invalid_cursor_name — PG's code for a missing portal
            # (26000 is for prepared STATEMENTS)
            self._ext_error("34000", f"portal {name.decode()!r} does not exist")
            return
        # PG refuses to run completed tag-only (DML/utility) portals — a
        # duplicate success tag would misreport work that never happened;
        # exhausted SELECT portals re-answer 0 rows.  (FAILED portals never
        # reach here: the error set skip-until-Sync, and Sync drops them.)
        if po.done and po.iter is None and po.pushback is None and po.tag is not None:
            self._ext_error("55000", f"portal {name.decode()!r} cannot be run")
            return
        try:
            if po.done and po.iter is None and po.pushback is None:
                self.p.send_command_complete("SELECT 0")
                return
            if po.iter is None and not po.done and self._run_portal(po, max_rows):
                return
            n = 0
            while po.iter is not None:
                if po.pushback is not None:
                    row, po.pushback = po.pushback, None
                else:
                    row = next(po.iter, None)
                    if row is None:
                        po.iter, po.done = None, True
                        break
                self._send_portal_row(po, row)
                n += 1
                if max_rows > 0 and n == max_rows:
                    # row limit hit: suspend only if more rows exist —
                    # one-row lookahead, stashed for the next Execute
                    po.pushback = next(po.iter, None)
                    if po.pushback is not None:
                        self.p.send(b"s")  # PortalSuspended
                        return
                    po.iter, po.done = None, True
                    break
            self.p.send_command_complete(f"SELECT {n}")
        except Exception as e:  # noqa: BLE001
            # release the cursor too: a FAILED portal can never run again,
            # so a pinned cursor would leak driver-side state
            po.failed, po.iter, po.pushback = True, None, None
            self._ext_error("XX000", str(e)[:1000])

    def serve(self) -> None:
        if not self.startup():
            return
        while True:
            tag, body = self.p.read_message()
            if tag == b"X":  # Terminate
                return
            if tag == b"S":  # Sync — also clears the error state
                self.skip_to_sync = False
                # PG destroys portals at (implicit) transaction end.  This
                # server keeps suspended/ready portals alive across Sync —
                # cursor clients (JDBC fetchSize) resume them, and our
                # BEGIN/COMMIT are no-ops — but FAILED portals are dead
                # weight: drop them so a later Execute answers PG's 34000
                # "portal does not exist" rather than a code PG can't
                # produce in that sequence
                self.portals = {
                    k: p for k, p in self.portals.items() if not p.failed
                }
                self.p.send_ready()
            elif self.skip_to_sync:
                # discard EVERYTHING until Sync (PG error-recovery rule:
                # ignore_till_sync) — including simple Query (running it
                # would emit ReadyForQuery while the error state still
                # swallows extended messages) and unknown tags (answering
                # them with an error + ready would desync the client)
                continue
            elif tag == b"Q":
                try:
                    text = body.rstrip(b"\x00").decode()
                except UnicodeDecodeError as e:
                    # PG: recoverable ERROR, session survives (simple
                    # protocol has its own ready cycle — no skip state)
                    self.p.send_error(
                        "22021", f"invalid byte sequence for encoding UTF8: {e}"[:300]
                    )
                    self.p.send_ready()
                    continue
                self.handle_simple(text)
            elif tag == b"B":
                try:
                    self.handle_bind(body)
                except Exception as e:  # noqa: BLE001 — bad param encodings
                    # drop the name being bound: a pipelining client must
                    # not Execute a stale portal from a previous Bind
                    self.portals.pop(body.split(b"\x00", 1)[0].decode(errors="replace"), None)
                    self._ext_error("22P03", f"invalid parameter: {e}"[:500])
            elif tag in (b"P", b"D", b"E", b"C"):
                # a malformed body (missing NUL, truncated header) must
                # produce ErrorResponse + skip-until-Sync, not an uncaught
                # exception that kills the connection with a bare EOF
                try:
                    if tag == b"P":
                        self.handle_parse(body)
                    elif tag == b"D":
                        self.handle_describe(body)
                    elif tag == b"E":
                        self.handle_execute(body)
                    else:  # Close statement/portal
                        kind, name = body[:1], body[1:].split(b"\x00", 1)[0].decode()
                        if kind not in (b"S", b"P"):
                            # PG validates the subtype; treating junk as a
                            # portal close could drop a live portal
                            self._ext_error(
                                "08P01", f"invalid CLOSE message subtype {kind!r}"
                            )
                        else:
                            (self.statements if kind == b"S" else self.portals).pop(
                                name, None
                            )
                            self.p.send(b"3")  # CloseComplete
                except Exception as e:  # noqa: BLE001 — protocol boundary
                    if tag == b"P":
                        # best effort: drop the statement being parsed
                        self.statements.pop(
                            body.split(b"\x00", 1)[0].decode(errors="replace"), None
                        )
                    self._ext_error("08P01", f"malformed {tag.decode()} message: {e}"[:500])
            elif tag == b"H":  # Flush — we write eagerly; nothing buffered
                pass
            elif tag == b"F":
                # fastpath FunctionCall: PG answers with a recoverable
                # ErrorResponse + ReadyForQuery (its own mini-cycle), not
                # a FATAL — libpq PQfn sessions survive
                self.p.send_error("0A000", "fast-path function calls are not supported")
                self.p.send_ready()
            elif tag in (b"d", b"c", b"f"):
                # COPY sub-protocol data outside a COPY operation: PG
                # discards these silently
                continue
            else:
                # truly invalid message type: PG treats it as a protocol
                # violation — FATAL and close.  (Entering the skip state
                # would deadlock simple-protocol clients, which never
                # send Sync; error+ready would desync pipelining ones.)
                self.p.send_error(
                    "08P01", f"invalid frontend message type {tag!r}", severity="FATAL"
                )
                return


_ROW_RETURNING_HEADS = frozenset(
    (
        "select", "with", "values", "show", "describe", "desc", "explain",
        "table", "from",
        # a fully parenthesized query contributes only its set-op / suffix
        # words at depth 0: "(SELECT 1) UNION (SELECT 2)" → ["union"]
        "union", "intersect", "except", "minus", "order", "limit", "offset",
    )
)
_DML_HEADS = frozenset(("insert", "update", "delete", "merge"))
# Statements whose eager-executed DataFrame is a count/status frame (COPY
# row count, DML/DDL command output), not a user result set: Execute
# surfaces the first cell in the CommandComplete tag.  Heads outside this
# set that still reach the no-Describe path (EXECUTE IMMEDIATE, future
# Spark statements) stream their rows with a late RowDescription instead.
_COMMAND_TAG_HEADS = _DML_HEADS | frozenset(
    (
        "copy", "create", "drop", "alter", "truncate", "msck", "repair",
        "refresh", "cache", "uncache", "clear", "use", "reset", "analyze",
        "grant", "revoke", "comment", "load", "import", "vacuum",
        "optimize", "call", "begin", "commit", "rollback", "abort",
        "start", "end", "declare", "deallocate", "prepare", "add",
    )
)


# a word, or the placeholder a quoted identifier becomes
_WORD_OR_IDENT_RE = re.compile(r"[^\W\d]\w*|\x01+")


def _top_level_words(sql: str):
    """Yield lowercased word tokens at parenthesis depth 0, outside string
    literals, comments (line + nesting block) and dollar-quoted strings —
    the rules of the engine's one SQL lexer (``plans/sqltext.py``, also
    behind ``_split_statements``).  Quoted/backticked IDENTIFIERS yield a
    ``"?"`` placeholder token so grammar positions survive (a backticked
    CTE name must still count as a name)."""
    from dataclod_spark.plans.sqltext import code_matches, masked

    for m in code_matches(_WORD_OR_IDENT_RE, masked(sql, ident="\x01"), depth=0):
        yield "?" if m.group()[0] == "\x01" else m.group().lower()


def _statement_head(sql: str) -> str:
    """The statement's first depth-0 word, with WITH-chains resolved to
    the head that follows the CTE list (``""`` when the statement is all
    parens/comments, e.g. ``(SELECT 1)``)."""
    words = list(_top_level_words(sql))
    if not words:
        return ""
    if words[0] != "with":
        return words[0]
    # WITH: Spark allows CTEs on DML (WITH … INSERT INTO …).  At depth 0
    # the token stream is: with [recursive] (name as)* HEAD … — CTE bodies
    # and column lists are inside parens, so consume name/as pairs until
    # the first word that is not one; that word is the statement head.
    idx = 1
    if (
        idx < len(words)
        and words[idx] == "recursive"
        # a CTE literally NAMED recursive ("WITH recursive AS (...)") is
        # followed by "as"; the RECURSIVE keyword is followed by a name
        and not (idx + 1 < len(words) and words[idx + 1] == "as")
    ):
        idx += 1
    while idx + 1 < len(words) and words[idx + 1] == "as":
        idx += 2
    return words[idx] if idx < len(words) else "select"


# modifier words skipped when deriving the object type in CREATE/DROP/
# ALTER command tags: CREATE OR REPLACE TEMPORARY VIEW → "CREATE VIEW"
_DDL_MODIFIERS = frozenset(
    ("or", "replace", "temp", "temporary", "global", "local", "external",
     "unique", "if", "not", "exists", "concurrently")
)

# PG's tag for the transaction-control verbs that are not their own tag
# (BEGIN, COMMIT and ROLLBACK are); session._TXN_RE accepts the spellings
_TXN_VERB_TAGS = {"end": "COMMIT", "abort": "ROLLBACK", "start": "START TRANSACTION"}


def _command_tag(sql: str) -> str:
    """PG CommandComplete tag for a statement that produced no result set.

    libpq's PQcmdTuples parses counts out of these, so the shapes matter:
    INSERT carries a leading oid field ("INSERT 0 <rows>"), UPDATE/DELETE
    a bare count, CREATE/DROP/ALTER the object type.  Spark's eager DML
    returns no affected-row count for file-format tables, so counts are 0.
    """
    head = _statement_head(sql)
    if head == "insert" or head == "from":
        # head "from" reaching a zero-column frame is Hive-style
        # multi-insert (FROM t INSERT INTO ... [INSERT INTO ...])
        return "INSERT 0 0"
    if head in ("update", "delete", "merge"):
        return f"{head.upper()} 0"
    if head == "truncate":
        return "TRUNCATE TABLE"
    if head in ("create", "drop", "alter"):
        words = list(_top_level_words(sql))
        idx = words.index(head) + 1
        while idx < len(words) and words[idx] in _DDL_MODIFIERS:
            idx += 1
        obj = words[idx].upper() if idx < len(words) else ""
        return f"{head.upper()} {obj}".strip()
    if head in _TXN_VERB_TAGS:
        from dataclod_spark.session import _TXN_RE

        if _TXN_RE.match(sql):
            return _TXN_VERB_TAGS[head]
    return head.upper() if head else "SET"


def _returns_rows(sql: str) -> bool:
    """Whether a statement's Describe may safely plan it for a schema.

    ``spark.sql`` executes DML/DDL eagerly, so Describe must never run a
    statement whose execution has side effects — clients (psycopg3) send
    Describe before every Execute, and executing there would double every
    INSERT.  PG answers NoData for those anyway.  Keywords are read at
    parenthesis depth 0 outside literals/comments, so 'delete' inside a
    string, a comment, or a CTE body never misclassifies a SELECT; a CTE
    *named* delete is recognized by its following AS.
    """
    words = list(_top_level_words(sql))
    if not words:
        # nothing but parens/comments at depth 0 — "(SELECT 1)" is a query
        return bool(sql.strip())
    head = words[0]
    if head == "with":
        return _statement_head(sql) not in _DML_HEADS
    if head == "from":
        # Hive-style multi-insert: FROM t INSERT INTO a SELECT … [INSERT
        # INTO b SELECT …] is DML with a row-returning head word — the
        # INSERTs sit at depth 0, unlike any subquery in a plain FROM query
        return not any(w in _DML_HEADS for w in words[1:])
    if head == "set":
        # SET key=value / SET key TO value is the session's conf shim (a
        # command, no result set).  Bare SET / SET key / SET -v reach
        # spark.sql and return (key, value) rows — and are side-effect-free
        # to plan during Describe.  Delegate to the session's own regex so
        # the two layers cannot disagree about which form is which.
        from dataclod_spark.session import _SET_RE

        return not _SET_RE.match(sql)
    return head in _ROW_RETURNING_HEADS


def _typed_empty_array(elem_oid: int):
    """An empty array parameter must keep its declared element type: a
    bare ``[]`` would bind as ``array<void>``.  Spark's parameterized
    ``sql()`` rejects cast expressions as args, so the type travels as a
    server-generated fragment the session splices textually."""
    from dataclod_spark.plans.rewrites import SqlFragmentParam

    spark_elem = _SPARK_TYPE_OF_OID.get(elem_oid)
    if spark_elem is None:
        # e.g. time[] — Spark has no TIME type; a silent array<void> bind
        # would be worse than a clean protocol error
        raise ValueError(
            f"empty array parameter with unsupported element oid {elem_oid}"
        )
    return SqlFragmentParam(f"CAST(array() AS array<{spark_elem}>)")


def _array_fragment(values: list, elem_oid: int):
    """An array parameter containing NULL elements has no
    ``spark.sql(args=...)`` representation either (Spark rejects a list
    with None as an invalid arg) — render it as a typed server-generated
    ``array(...)`` fragment.  Elements are DECODED typed values, and
    string elements are escaped (backslash + quote), so the spliced text
    is not client-controlled SQL."""
    from dataclod_spark.plans.rewrites import SqlFragmentParam

    spark_elem = _SPARK_TYPE_OF_OID.get(elem_oid)
    if spark_elem is None:
        raise ValueError(
            f"array parameter with unsupported element oid {elem_oid}"
        )
    parts = []
    for v in values:
        if v is None:
            parts.append(f"CAST(NULL AS {spark_elem})")
        elif isinstance(v, (bytes, bytearray)):
            parts.append(f"CAST(X'{bytes(v).hex()}' AS {spark_elem})")
        else:
            if isinstance(v, datetime):
                s = v.isoformat(sep=" ")
            elif isinstance(v, float):
                s = repr(v)  # full precision round-trip
            else:
                s = str(v)
            lit = "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
            parts.append(f"CAST({lit} AS {spark_elem})")
    return SqlFragmentParam(f"array({', '.join(parts)})")


def _numeric_binary_decode(raw: bytes) -> Decimal:
    """Inverse of :func:`_numeric_binary` (PG NUMERIC wire format)."""
    ndigits, weight, sign, dscale = struct.unpack("!hhHh", raw[:8])
    if sign == 0xC000:
        return Decimal("NaN")
    if sign == 0xD000:  # PG 14+ numeric +Infinity
        return Decimal("Infinity")
    if sign == 0xF000:  # PG 14+ numeric -Infinity
        return Decimal("-Infinity")
    digits = struct.unpack(f"!{ndigits}h", raw[8 : 8 + 2 * ndigits])
    val = Decimal(0)
    for k, d in enumerate(digits):
        val += Decimal(d) * (Decimal(10000) ** (weight - k))
    if sign == 0x4000:
        val = -val
    return val.quantize(Decimal(1).scaleb(-dscale)) if dscale > 0 else val


def _decode_param(raw: bytes, fmt: int, oid: int):
    """Bind-parameter decode — text format plus the full binary matrix
    (primitives, numeric, date/timestamp/interval, and 1-D arrays of the
    primitive matrix; types.rs:24-68)."""
    if fmt == 1:  # binary
        if oid == _OID_INT2:
            return struct.unpack("!h", raw)[0]
        if oid == _OID_INT4:
            return struct.unpack("!i", raw)[0]
        if oid == _OID_INT8:
            return struct.unpack("!q", raw)[0]
        if oid == _OID_FLOAT4:
            return struct.unpack("!f", raw)[0]
        if oid == _OID_FLOAT8:
            return struct.unpack("!d", raw)[0]
        if oid == _OID_BOOL:
            return raw != b"\x00"
        if oid == _OID_BYTEA:
            return raw
        if oid == _OID_NUMERIC:
            return _numeric_binary_decode(raw)
        if oid == _OID_DATE:
            return _PG_EPOCH_DATE + timedelta(days=struct.unpack("!i", raw)[0])
        if oid == _OID_TIMESTAMP:
            return _PG_EPOCH_DT + timedelta(microseconds=struct.unpack("!q", raw)[0])
        if oid == _OID_INTERVAL:
            micros, days, months = struct.unpack("!qii", raw)
            if months:
                # month length varies — flattening to 30 days would
                # silently change the bound value; clean protocol error
                raise ValueError(
                    "INTERVAL parameters with a month component are not "
                    "supported (month length is not a fixed number of days)"
                )
            return timedelta(days=days, microseconds=micros)
        if oid in _ELEM_OF:
            # 1-D array parameter in PG array binary format
            ndim, _hasnull, elem_oid = struct.unpack("!iii", raw[:12])
            if ndim == 0:
                return _typed_empty_array(elem_oid or _ELEM_OF[oid])
            if ndim != 1:
                raise ValueError(f"only 1-D binary array parameters (got ndim={ndim})")
            nelems = struct.unpack("!ii", raw[12:20])[0]
            if nelems == 0:
                # some clients encode empty arrays as one zero-length
                # dimension instead of ndim=0 — same typed-empty handling
                return _typed_empty_array(elem_oid or _ELEM_OF[oid])
            off, out = 20, []
            for _ in range(nelems):
                (ln,) = struct.unpack("!i", raw[off : off + 4])
                off += 4
                if ln == -1:
                    out.append(None)
                else:
                    out.append(_decode_param(raw[off : off + ln], 1, elem_oid))
                    off += ln
            if any(e is None for e in out):
                return _array_fragment(out, elem_oid)
            return out
        if oid == _OID_TEXT:
            return raw.decode()
        return raw  # pass through
    text = raw.decode()
    if oid in (_OID_INT2, _OID_INT4, _OID_INT8):
        return int(text)
    if oid in (_OID_FLOAT4, _OID_FLOAT8):
        return float(text)
    if oid == _OID_NUMERIC:
        return Decimal(text)
    if oid == _OID_BOOL:
        return text in ("t", "true", "1", "on")
    if oid == _OID_DATE:
        return date.fromisoformat(text)
    if oid == _OID_TIMESTAMP:
        return datetime.fromisoformat(text)
    if oid in _ELEM_OF:
        # TEXT-format array (psycopg3's default): '{1,2,NULL,"a,b"}' —
        # without this branch an array param silently binds as the raw
        # string and the query compares against '{1,2,3}' instead of an
        # array
        return _parse_text_array(text, _ELEM_OF[oid])
    return text


def _parse_text_array(text: str, elem_oid: int):
    """Parse a 1-D PG text-format array literal: ``{}`` empty, elements
    comma-separated, double-quoted with backslash escapes, unquoted
    ``NULL`` is SQL NULL.  Elements decode through the scalar text matrix
    for ``elem_oid``.  Multi-dim arrays raise a clean protocol error."""
    s = text.strip()
    if not (s.startswith("{") and s.endswith("}")):
        raise ValueError(f"malformed array literal {text!r}")
    body = s[1:-1]
    if body.strip() == "":
        return _typed_empty_array(elem_oid)
    out: list = []
    i, n = 0, len(body)
    while True:
        while i < n and body[i] == " ":
            i += 1
        if i < n and body[i] == "{":
            raise ValueError("only 1-D text array parameters are supported")
        if i < n and body[i] == '"':
            i += 1
            buf: list[str] = []
            while i < n and body[i] != '"':
                if body[i] == "\\" and i + 1 < n:
                    i += 1
                buf.append(body[i])
                i += 1
            if i >= n:
                raise ValueError(f"unterminated quoted element in {text!r}")
            i += 1  # past the closing quote
            out.append(_decode_param("".join(buf).encode(), 0, elem_oid))
        else:
            j = body.find(",", i)
            j = n if j < 0 else j
            tok = body[i:j].strip()
            out.append(
                None if tok.upper() == "NULL"
                else _decode_param(tok.encode(), 0, elem_oid)
            )
            i = j
        while i < n and body[i] == " ":
            i += 1
        if i >= n:
            if any(e is None for e in out):
                return _array_fragment(out, elem_oid)
            return out
        if body[i] != ",":
            raise ValueError(f"malformed array literal {text!r}")
        i += 1


# -- server -------------------------------------------------------------------


class PgWireServer:
    """Threaded pgwire endpoint bound to one EngineSession.

    Spark is thread-safe for concurrent ``sql`` calls, so connections share
    the one session (reference: one ``QueryContext`` shared across handlers,
    ``server.rs:19-24``)."""

    def __init__(self, engine, host: str = "127.0.0.1", port: int = 5432):
        self.engine = engine
        self.password = os.environ.get("DATACLOD_PASSWORD", _DEFAULT_PASSWORD)
        outer = self

        class Handler(socketserver.BaseRequestHandler):
            def handle(self) -> None:
                try:
                    _Connection(
                        _Proto(self.request), outer.engine, outer.password
                    ).serve()
                except (ConnectionError, OSError):
                    pass

        class Server(socketserver.ThreadingTCPServer):
            allow_reuse_address = True
            daemon_threads = True

        self._server = Server((host, port), Handler)
        self.port = self._server.server_address[1]
        self._thread: Optional[threading.Thread] = None

    def start(self) -> None:
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._server.shutdown()
        self._server.server_close()


def main() -> None:  # pragma: no cover - manual entry point
    import argparse

    from dataclod_spark.session import EngineSession

    ap = argparse.ArgumentParser(description="dataclod-spark pgwire endpoint")
    ap.add_argument("--host", default="127.0.0.1")
    ap.add_argument("--port", type=int, default=5432)
    args = ap.parse_args()
    srv = PgWireServer(EngineSession(), host=args.host, port=args.port)
    srv.start()
    print(f"pgwire listening on {args.host}:{srv.port}")
    threading.Event().wait()


if __name__ == "__main__":  # pragma: no cover
    main()
