"""Minimal PostgreSQL wire-protocol (v3) client for the benchmark.

Covers what the BI mix sends: MD5 password login, the simple query
protocol, and the extended protocol (Parse/Bind/Describe/Execute/Sync)
with ``$n`` parameters sent as text.  Every result value comes back as the
server's text encoding (``bytes`` or ``None`` for NULL), which is what the
benchmark digests.
"""

from __future__ import annotations

import hashlib
import socket
import struct


class PgError(Exception):
    """An ErrorResponse from the server, with its SQLSTATE code."""

    def __init__(self, code: str, message: str):
        super().__init__(f"{code}: {message}")
        self.code = code


_OID_INT8 = 20


def md5_password(user: str, password: str, salt: bytes) -> str:
    inner = hashlib.md5((password + user).encode()).hexdigest()
    return "md5" + hashlib.md5(inner.encode() + salt).hexdigest()


def _cstr(s: str) -> bytes:
    return s.encode() + b"\x00"


class PgClient:
    """One connection.  ``query`` and ``execute`` return
    ``(columns, rows)`` where rows are tuples of ``bytes | None``."""

    def __init__(self, host: str, port: int, user: str = "postgres",
                 password: str = "", timeout: float = 120.0):
        self.sock = socket.create_connection((host, port), timeout=timeout)
        self._buf = b""
        self.last_tag = ""  # CommandComplete tag of the last statement
        params = _cstr("user") + _cstr(user) + _cstr("database") + _cstr("postgres") + b"\x00"
        body = struct.pack("!i", 196608) + params
        self.sock.sendall(struct.pack("!i", len(body) + 4) + body)
        self._login(user, password)

    # -- framing ----------------------------------------------------------
    def _send(self, tag: bytes, payload: bytes = b"") -> None:
        self.sock.sendall(tag + struct.pack("!i", len(payload) + 4) + payload)

    def _recv_exact(self, n: int) -> bytes:
        while len(self._buf) < n:
            chunk = self.sock.recv(max(65536, n - len(self._buf)))
            if not chunk:
                raise ConnectionError("server closed the connection")
            self._buf += chunk
        out, self._buf = self._buf[:n], self._buf[n:]
        return out

    def _read(self) -> tuple[bytes, bytes]:
        head = self._recv_exact(5)
        (length,) = struct.unpack("!i", head[1:])
        return head[:1], self._recv_exact(length - 4)

    @staticmethod
    def _error(body: bytes) -> PgError:
        fields = {}
        for part in body.split(b"\x00"):
            if part:
                fields[part[:1]] = part[1:].decode(errors="replace")
        return PgError(fields.get(b"C", "?????"), fields.get(b"M", ""))

    # -- startup ----------------------------------------------------------
    def _login(self, user: str, password: str) -> None:
        error = None
        while True:
            tag, body = self._read()
            if tag == b"R":
                (kind,) = struct.unpack("!i", body[:4])
                if kind == 5:  # AuthenticationMD5Password
                    self._send(b"p", _cstr(md5_password(user, password, body[4:8])))
                elif kind != 0:
                    raise PgError("28000", f"unsupported authentication method {kind}")
            elif tag == b"E":
                error = self._error(body)
                if b"SFATAL" in body:
                    raise error
            elif tag == b"Z":
                if error is not None:
                    raise error
                return
            # ParameterStatus (S) and BackendKeyData (K) need no action

    # -- results ------------------------------------------------------------
    def _collect(self) -> tuple[list[str], list[tuple]]:
        """Read messages until ReadyForQuery; raise the first error."""
        columns: list[str] = []
        rows: list[tuple] = []
        error = None
        while True:
            tag, body = self._read()
            if tag == b"T":
                (n,) = struct.unpack("!h", body[:2])
                pos, columns = 2, []
                for _ in range(n):
                    end = body.index(b"\x00", pos)
                    columns.append(body[pos:end].decode())
                    pos = end + 1 + 18
            elif tag == b"D":
                (n,) = struct.unpack("!h", body[:2])
                pos, row = 2, []
                for _ in range(n):
                    (ln,) = struct.unpack("!i", body[pos:pos + 4])
                    pos += 4
                    if ln < 0:
                        row.append(None)
                    else:
                        row.append(body[pos:pos + ln])
                        pos += ln
                rows.append(tuple(row))
            elif tag == b"C":
                self.last_tag = body.rstrip(b"\x00").decode()
            elif tag == b"E":
                error = error or self._error(body)
            elif tag == b"Z":
                if error is not None:
                    raise error
                return columns, rows
            # ParseComplete, BindComplete, NoData,
            # EmptyQueryResponse, NoticeResponse, PortalSuspended: no data

    def query(self, sql: str) -> tuple[list[str], list[tuple]]:
        """Simple protocol: one Query message, results of its last statement."""
        self._send(b"Q", _cstr(sql))
        return self._collect()

    def execute(self, sql: str, params: list | tuple = ()) -> tuple[list[str], list[tuple]]:
        """Extended protocol on the unnamed statement and portal; each
        parameter is sent as text (``None`` as NULL), declared ``int8`` when
        it is a Python int and left to the server otherwise."""
        oids = [_OID_INT8 if isinstance(p, int) else 0 for p in params]
        parse = _cstr("") + _cstr(sql) + struct.pack(f"!h{len(oids)}i", len(oids), *oids)
        bind = _cstr("") + _cstr("") + struct.pack("!h", 0) + struct.pack("!h", len(params))
        for p in params:
            if p is None:
                bind += struct.pack("!i", -1)
            else:
                raw = str(p).encode()
                bind += struct.pack("!i", len(raw)) + raw
        bind += struct.pack("!h", 0)  # all result columns as text
        self._send(b"P", parse)
        self._send(b"B", bind)
        self._send(b"D", b"P\x00")
        self._send(b"E", _cstr("") + struct.pack("!i", 0))
        self._send(b"S")
        return self._collect()

    def close(self) -> None:
        try:
            self._send(b"X")
        except OSError:
            pass
        self.sock.close()

    def __enter__(self) -> "PgClient":
        return self

    def __exit__(self, *exc) -> None:
        self.close()
