"""Minimal PostgreSQL simple-query client for the serving workload: the
subset of the v3 wire protocol the engine's server speaks (startup,
'Q' queries, text-format results, errors)."""

from __future__ import annotations

import socket
import struct


class PgError(Exception):
    pass


class PgConn:
    def __init__(self, host: str, port: int, timeout: float = 120.0) -> None:
        self.sock = socket.create_connection((host, port), timeout=timeout)
        self.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        self.rfile = self.sock.makefile("rb")
        params = b"user\x00bench\x00database\x00bench\x00\x00"
        body = struct.pack("!I", 196608) + params
        self.sock.sendall(struct.pack("!I", len(body) + 4) + body)
        self._until_ready()

    def _read(self) -> tuple[bytes, bytes]:
        head = self.rfile.read(5)
        if len(head) < 5:
            raise PgError("server closed the connection")
        (length,) = struct.unpack("!I", head[1:])
        return head[:1], self.rfile.read(length - 4)

    def _until_ready(self) -> None:
        while True:
            tag, body = self._read()
            if tag == b"E":
                raise PgError(_error_text(body))
            if tag == b"Z":
                return

    def query(self, sql: str) -> tuple[list[str], list[list[str | None]]]:
        """Run one simple query; return the last result's column names
        and its rows as text (None for NULL).  A server error raises
        PgError after the server is ready again."""
        payload = sql.encode() + b"\x00"
        self.sock.sendall(b"Q" + struct.pack("!I", len(payload) + 4) + payload)
        cols: list[str] = []
        rows: list[list[str | None]] = []
        error = None
        while True:
            tag, body = self._read()
            if tag == b"T":
                (n,) = struct.unpack("!H", body[:2])
                cols, pos = [], 2
                for _ in range(n):
                    end = body.index(b"\x00", pos)
                    cols.append(body[pos:end].decode())
                    pos = end + 1 + 18
                rows = []
            elif tag == b"D":
                rows.append(_data_row(body))
            elif tag == b"E":
                error = _error_text(body)
            elif tag == b"Z":
                if error is not None:
                    raise PgError(error)
                return cols, rows

    def close(self) -> None:
        try:
            self.sock.sendall(b"X" + struct.pack("!I", 4))
        except OSError:
            pass
        self.rfile.close()
        self.sock.close()


def _data_row(body: bytes) -> list[str | None]:
    (n,) = struct.unpack("!H", body[:2])
    pos, out = 2, []
    for _ in range(n):
        (size,) = struct.unpack("!i", body[pos:pos + 4])
        pos += 4
        if size < 0:
            out.append(None)
        else:
            out.append(body[pos:pos + size].decode())
            pos += size
    return out


def _error_text(body: bytes) -> str:
    fields = {}
    for part in body.split(b"\x00"):
        if part:
            fields[part[:1]] = part[1:].decode(errors="replace")
    return fields.get(b"M", "unknown error")
