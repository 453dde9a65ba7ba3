r"""Minimal PostgreSQL wire-protocol server over the engine.

The reference serves the simple-query protocol via pgwire on :5432
(reference: src/server/mod.rs:18-37, src/server/processor.rs:26-75 —
NoopStartupHandler, every result field sent as text).  This is the
same surface in pure Python on top of the shared dialect/executor
layer, so any Postgres client (psql, psycopg, JDBC) can run
reference-dialect SQL against Spark:

    python -m risinglight_spark.server [--port 5432] [--data DIR]

Protocol subset (all a simple-query client needs):
- SSLRequest -> 'N' (no TLS), StartupMessage -> AuthenticationOk +
  ParameterStatus + ReadyForQuery,
- 'Q' simple query -> RowDescription / DataRow* / CommandComplete /
  ReadyForQuery (every field text-format, like the reference),
- errors -> ErrorResponse ('S'/'C'/'M' fields) + ReadyForQuery,
- 'X' terminate.

Scale note: the server is a thin coordinator -- each connection drives
Spark jobs on the shared session.  A query result is collected once, as
Arrow columns (one Spark job), formatted column-at-a-time to the text
``dialect.fmt_value`` gives, and packed into DataRows by a numpy kernel,
``_ROWS_PER_WRITE`` rows per socket write.  So the driver holds one
whole result set per connection: its Arrow columns and their text.  For
a fetch of four numeric columns (bigint, int, two doubles) that is 28
bytes/row of Arrow and about 39 bytes/row of text.
"""

from __future__ import annotations

import argparse
import os
import socketserver
import struct
import sys
import threading

import numpy as np
import pyarrow as pa

from risinglight_spark.sql.dialect import fmt_column
from risinglight_spark.sql.shell import Shell, split_statements

_SSL_REQUEST = 80877103
_CANCEL_REQUEST = 80877102

# every field is sent as text, like the reference (processor.rs: all
# FieldInfo are Type::CHAR / FieldFormat::Text)
_TEXT_OID = 25
# DataRows are packed and written this many rows at a time
_ROWS_PER_WRITE = 1 << 16


def _msg(tag: bytes, payload: bytes) -> bytes:
    return tag + struct.pack("!I", len(payload) + 4) + payload


def _cstr(s: str) -> bytes:
    return s.encode() + b"\x00"


def _collect_text(df):
    """Run ``df`` (one Spark job) and return its columns as text
    (``large_string`` arrays, NULL kept) and its row count."""
    # not df.toArrow(): its final cast to the schema rejects a NULL
    # struct whose fields are NOT NULL
    table = pa.Table.from_batches(df._collect_as_arrow(empty_list_if_zero_records=False))
    cols = [fmt_column(c, f.dataType) for c, f in zip(table.columns, df.schema.fields)]
    return cols, table.num_rows


def _put_be(buf: np.ndarray, pos: np.ndarray, values, width: int) -> None:
    """Write ``values`` as big-endian ints of ``width`` bytes at ``pos``."""
    raw = np.asarray(values, dtype=f">i{width}").view(np.uint8).reshape(-1, width)
    buf[pos[:, None] + np.arange(width)] = raw


def _data_rows(cols, n: int) -> bytes:
    """The DataRow messages of ``n`` rows of text columns, in one buffer:
    per row 'D', int32 length, int16 field count, then per field an
    int32 byte length (-1 for NULL) and the UTF-8 bytes."""
    k = len(cols)
    lens = np.zeros((k, n), np.int64)
    offsets, datas = [], []
    for j, col in enumerate(cols):
        _, offs, data = col.buffers()
        offsets.append(np.frombuffer(offs, np.int64, n + 1, col.offset * 8))
        datas.append(np.frombuffer(data, np.uint8) if data is not None else None)
        lens[j] = np.diff(offsets[j])
        if col.null_count:
            lens[j][~col.is_valid().to_numpy(zero_copy_only=False)] = -1
    nbytes = np.maximum(lens, 0)
    field_end = np.cumsum(4 + nbytes, axis=0)  # per row, after the count
    body = 6 + (field_end[-1] if k else np.zeros(n, np.int64))
    row = np.zeros(n + 1, np.int64)
    np.cumsum(1 + body, out=row[1:])
    buf = np.empty(row[-1], np.uint8)
    row = row[:-1]
    buf[row] = ord("D")
    _put_be(buf, row + 1, body, 4)
    _put_be(buf, row + 5, np.full(n, k), 2)
    for j in range(k):
        head = row + 7 + field_end[j] - 4 - nbytes[j]
        _put_be(buf, head, lens[j], 4)
        m = nbytes[j]
        total = int(m.sum())
        if total:
            within = np.arange(total) - np.repeat(np.cumsum(m) - m, m)
            src = np.repeat(offsets[j][:-1], m) + within
            buf[np.repeat(head + 4, m) + within] = datas[j][src]
    return buf.tobytes()


def _data_row_blocks(cols, n: int):
    """``_data_rows`` over ``_ROWS_PER_WRITE``-row slices of the columns."""
    for lo in range(0, n, _ROWS_PER_WRITE):
        block = [c.slice(lo, _ROWS_PER_WRITE) for c in cols]
        yield _data_rows(block, min(n - lo, _ROWS_PER_WRITE))


class _Handler(socketserver.StreamRequestHandler):
    # buffered: a response goes to the socket at ReadyForQuery's flush,
    # not one send per message (DataRow blocks larger than the buffer
    # are written through)
    wbufsize = 1 << 16

    def _send(self, tag: bytes, payload: bytes) -> None:
        self.wfile.write(_msg(tag, payload))

    def _ready(self) -> None:
        self._send(b"Z", b"I")
        self.wfile.flush()

    def _error(self, message: str) -> None:
        fields = b"".join(
            [b"S" + _cstr("ERROR"), b"C" + _cstr("XX000"), b"M" + _cstr(message)]
        ) + b"\x00"
        self._send(b"E", fields)

    def _startup(self) -> bool:
        while True:
            raw = self.rfile.read(4)
            if len(raw) < 4:
                return False
            (length,) = struct.unpack("!I", raw)
            body = self.rfile.read(length - 4)
            (code,) = struct.unpack("!I", body[:4])
            if code == _SSL_REQUEST:
                self.wfile.write(b"N")
                self.wfile.flush()
                continue
            if code == _CANCEL_REQUEST:
                return False
            # StartupMessage (protocol 3.0) — accept anyone, like the
            # reference's NoopStartupHandler
            self._send(b"R", struct.pack("!I", 0))  # AuthenticationOk
            for k, v in (
                ("server_version", "15.0 (risinglight_spark)"),
                ("client_encoding", "UTF8"),
                ("DateStyle", "ISO"),
            ):
                self._send(b"S", _cstr(k) + _cstr(v))
            self._ready()
            return True

    def _run_query(self, sql: str) -> None:
        shell: Shell = self.server.shell  # type: ignore[attr-defined]
        for stmt in split_statements(sql):
            out = shell.run(stmt)
            if out is None:
                continue
            if isinstance(out, str):  # statement outcome
                self._send(b"C", _cstr("OK"))
                continue
            # run the query before RowDescription, so a failure is an
            # ErrorResponse alone
            cols, n = _collect_text(out)
            rowdesc = struct.pack("!H", len(cols)) + b"".join(
                _cstr(c)
                + struct.pack("!IhIhih", 0, 0, _TEXT_OID, -1, -1, 0)
                for c in out.columns
            )
            self._send(b"T", rowdesc)
            for block in _data_row_blocks(cols, n):
                self.wfile.write(block)
            self._send(b"C", _cstr(f"SELECT {n}"))

    def handle(self) -> None:
        if not self._startup():
            return
        while True:
            tag = self.rfile.read(1)
            if not tag or tag == b"X":
                return
            raw = self.rfile.read(4)
            if len(raw) < 4:
                return
            (length,) = struct.unpack("!I", raw)
            body = self.rfile.read(length - 4)
            if tag != b"Q":
                self._error(f"unsupported message type {tag!r} "
                            "(simple query protocol only)")
                self._ready()
                continue
            sql = body.rstrip(b"\x00").decode()
            try:
                self._run_query(sql)
            except Exception as exc:  # surface as ErrorResponse
                self._error(str(exc).splitlines()[0][:500])
            self._ready()


class PgServer(socketserver.ThreadingTCPServer):
    allow_reuse_address = True
    daemon_threads = True

    def __init__(self, addr, shell: Shell):
        super().__init__(addr, _Handler)
        self.shell = shell


def serve(
    spark=None,
    host: str = "127.0.0.1",
    port: int = 5432,
    data_dir: str | None = None,
    background: bool = False,
) -> PgServer:
    if spark is None:
        from risinglight_spark.session import get_spark

        spark = get_spark(app_name="risinglight_spark_server")
    shell = Shell(spark, data_dir)
    server = PgServer((host, port), shell)
    if background:
        threading.Thread(target=server.serve_forever, daemon=True).start()
        return server
    print(f"listening on {host}:{server.server_address[1]}")
    try:
        server.serve_forever()
    except KeyboardInterrupt:
        pass
    return server


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="python -m risinglight_spark.server")
    ap.add_argument("--host", default="127.0.0.1")
    ap.add_argument("--port", type=int, default=5432)
    ap.add_argument(
        "--data",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    args = ap.parse_args(argv)
    serve(
        host=args.host,
        port=args.port,
        data_dir=args.data if os.path.isdir(args.data) else None,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
