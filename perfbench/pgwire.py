"""Minimal PostgreSQL v3 simple-query client.

One persistent socket per connection. Handles the startup exchange
(trust auth only), ``Q`` messages, RowDescription, DataRow,
CommandComplete, EmptyQueryResponse and ErrorResponse; notices,
parameter-status and notification frames are read and dropped. Values
come back in text format (``str``), NULL as ``None``.
"""

from __future__ import annotations

import socket
import struct
from dataclasses import dataclass, field

_PROTOCOL_V3 = 196608


class PgError(Exception):
    """ErrorResponse from the server; ``fields`` maps the one-letter
    field codes (S, C, M, ...) to their values."""

    def __init__(self, fields: dict[str, str]):
        self.fields = fields
        super().__init__(f"{fields.get('C', '?')}: {fields.get('M', '')}")


@dataclass
class QueryResult:
    columns: list[str] = field(default_factory=list)
    rows: list[tuple] = field(default_factory=list)
    tag: str = ""


class PgConnection:
    """``PgConnection(host, port)`` connects and completes startup;
    ``query(sql)`` sends one simple-query message and returns the last
    result set of the (possibly multi-statement) text."""

    def __init__(
        self, host: str, port: int, user: str = "bench",
        database: str = "bench", timeout: float = 120.0,
    ):
        self._sock = socket.create_connection((host, port), timeout=timeout)
        self._sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        self._rf = self._sock.makefile("rb")
        params = b"".join(
            k.encode() + b"\0" + v.encode() + b"\0"
            for k, v in (("user", user), ("database", database))
        ) + b"\0"
        body = struct.pack("!i", _PROTOCOL_V3) + params
        self._sock.sendall(struct.pack("!i", len(body) + 4) + body)
        while True:
            kind, payload = self._read_message()
            if kind == b"R":
                (code,) = struct.unpack("!i", payload[:4])
                if code != 0:
                    self.close()
                    raise PgError({"C": "28000", "M": f"unsupported auth request {code}"})
            elif kind == b"E":
                self.close()
                raise PgError(_error_fields(payload))
            elif kind == b"Z":
                return

    def _read_exact(self, n: int) -> bytes:
        data = self._rf.read(n)
        if data is None or len(data) != n:
            raise ConnectionError("server closed the connection")
        return data

    def _read_message(self) -> tuple[bytes, bytes]:
        head = self._read_exact(5)
        (length,) = struct.unpack("!i", head[1:])
        return head[:1], self._read_exact(length - 4)

    def query(self, sql: str) -> QueryResult:
        body = sql.encode() + b"\0"
        self._sock.sendall(b"Q" + struct.pack("!i", len(body) + 4) + body)
        result, error = QueryResult(), None
        while True:
            kind, payload = self._read_message()
            if kind == b"T":
                result = QueryResult(columns=_row_description(payload))
            elif kind == b"D":
                result.rows.append(_data_row(payload))
            elif kind == b"C":
                result.tag = payload.rstrip(b"\0").decode()
            elif kind == b"E":
                error = PgError(_error_fields(payload))
            elif kind == b"Z":
                if error is not None:
                    raise error
                return result
            # 'I' empty query, 'N' notice, 'S' parameter status,
            # 'A' notification: nothing to keep

    def close(self) -> None:
        try:
            self._sock.sendall(b"X" + struct.pack("!i", 4))
        except OSError:
            pass
        self._rf.close()
        self._sock.close()

    def __enter__(self) -> "PgConnection":
        return self

    def __exit__(self, *exc) -> None:
        self.close()


def _row_description(payload: bytes) -> list[str]:
    (n,) = struct.unpack("!h", payload[:2])
    cols, pos = [], 2
    for _ in range(n):
        end = payload.index(b"\0", pos)
        cols.append(payload[pos:end].decode())
        pos = end + 1 + 18  # table oid, attnum, type oid, len, mod, format
    return cols


def _data_row(payload: bytes) -> tuple:
    (n,) = struct.unpack("!h", payload[:2])
    vals, pos = [], 2
    for _ in range(n):
        (length,) = struct.unpack("!i", payload[pos:pos + 4])
        pos += 4
        if length < 0:
            vals.append(None)
        else:
            vals.append(payload[pos:pos + length].decode())
            pos += length
    return tuple(vals)


def _error_fields(payload: bytes) -> dict[str, str]:
    fields, pos = {}, 0
    while pos < len(payload) and payload[pos] != 0:
        end = payload.index(b"\0", pos + 1)
        fields[chr(payload[pos])] = payload[pos + 1:end].decode(errors="replace")
        pos = end + 1
    return fields
