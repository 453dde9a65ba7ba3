"""pgwire server tests: drive the wire protocol with a minimal
in-test Postgres simple-query client (no client libs in the
container).  Parity target: reference src/server/ — simple query
protocol, text-format fields, OK tag for non-SELECT."""

from __future__ import annotations

import socket
import struct

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from risinglight_spark.server import pgwire
from risinglight_spark.server.pgwire import _msg, serve
from risinglight_spark.sql.dialect import fmt_value


@pytest.fixture(scope="module")
def server(spark, sf_dir):
    srv = serve(spark, host="127.0.0.1", port=0, data_dir=sf_dir, background=True)
    yield srv
    srv.shutdown()


class MiniPgClient:
    def __init__(self, port: int):
        self.sock = socket.create_connection(("127.0.0.1", port), timeout=60)
        self.buf = b""
        params = b"user\x00test\x00database\x00postgres\x00\x00"
        payload = struct.pack("!I", 196608) + params
        self.sock.sendall(struct.pack("!I", len(payload) + 4) + payload)
        self._drain_until_ready()

    def _read(self, n: int) -> bytes:
        while len(self.buf) < n:
            chunk = self.sock.recv(65536)
            if not chunk:
                raise EOFError
            self.buf += chunk
        out, self.buf = self.buf[:n], self.buf[n:]
        return out

    def _msg(self):
        tag = self._read(1)
        (length,) = struct.unpack("!I", self._read(4))
        return tag, self._read(length - 4)

    def _drain_until_ready(self) -> list[tuple[bytes, bytes]]:
        out = []
        while True:
            tag, body = self._msg()
            out.append((tag, body))
            if tag == b"Z":
                return out

    def messages(self, sql: str) -> list[tuple[bytes, bytes]]:
        payload = sql.encode() + b"\x00"
        self.sock.sendall(b"Q" + struct.pack("!I", len(payload) + 4) + payload)
        return self._drain_until_ready()

    def query(self, sql: str):
        cols, rows, tags, errs = [], [], [], []
        for tag, body in self.messages(sql):
            if tag == b"T":
                (n,) = struct.unpack("!H", body[:2])
                off = 2
                for _ in range(n):
                    end = body.index(b"\x00", off)
                    cols.append(body[off:end].decode())
                    off = end + 1 + 18
            elif tag == b"D":
                (n,) = struct.unpack("!H", body[:2])
                off, vals = 2, []
                for _ in range(n):
                    (ln,) = struct.unpack("!i", body[off : off + 4])
                    off += 4
                    if ln == -1:
                        vals.append(None)
                    else:
                        vals.append(body[off : off + ln].decode())
                        off += ln
                rows.append(vals)
            elif tag == b"C":
                tags.append(body.rstrip(b"\x00").decode())
            elif tag == b"E":
                errs.append(body)
        return cols, rows, tags, errs

    def close(self):
        self.sock.sendall(b"X" + struct.pack("!I", 4))
        self.sock.close()


@pytest.fixture(scope="module")
def client(server):
    c = MiniPgClient(server.server_address[1])
    yield c
    c.close()


def test_select_over_wire(client):
    cols, rows, tags, errs = client.query(
        "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey"
    )
    assert not errs
    assert cols == ["r_regionkey", "r_name"]
    assert len(rows) == 5 and rows[0][1] == "AFRICA"
    assert tags == ["SELECT 5"]


def test_null_and_types_text_format(client):
    _, rows, _, errs = client.query(
        "SELECT CAST(NULL AS INT) AS a, 1.5 AS b, true AS c"
    )
    assert not errs
    assert rows == [[None, "1.5", "true"]]


def test_statement_gets_ok_tag(client):
    _, _, tags, errs = client.query(
        "CREATE TABLE pg_t(v1 INT NOT NULL, PRIMARY KEY(v1))"
    )
    assert not errs and tags == ["OK"]
    _, _, tags, _ = client.query("INSERT INTO pg_t VALUES (7)")
    assert tags == ["OK"]
    _, rows, _, _ = client.query("SELECT * FROM pg_t")
    assert rows == [["7"]]
    client.query("DROP TABLE pg_t")


def test_error_then_recovers(client):
    *_, errs = client.query("SELECT * FROM nonexistent_table_xyz")
    assert errs
    _, rows, _, errs = client.query("SELECT 1 AS x")
    assert not errs and rows == [["1"]]


def test_multi_statement_query(client):
    _, rows, tags, errs = client.query("SELECT 1 AS a; SELECT 2 AS b")
    assert not errs
    assert tags == ["SELECT 1", "SELECT 1"] and rows == [["1"], ["2"]]


def test_quoted_semicolon_is_one_statement(client):
    _, rows, tags, errs = client.query("SELECT 'a;b' AS s")
    assert not errs
    assert rows == [["a;b"]] and tags == ["SELECT 1"]


def test_runtime_error_sends_no_row_description(client):
    msgs = client.messages("SELECT raise_error('boom') AS x")
    assert [tag for tag, _ in msgs] == [b"E", b"Z"]
    assert b"boom" in msgs[0][1]
    _, rows, _, errs = client.query("SELECT 2 AS y")
    assert not errs and rows == [["2"]]


def test_multi_batch_result_complete_and_ordered(client):
    # more rows than one Arrow batch (maxRecordsPerBatch = 10,000)
    n = 25_000
    _, rows, tags, errs = client.query(
        f"SELECT id, CAST(id AS STRING) AS s FROM range(0, {n}, 1, 4) ORDER BY id DESC"
    )
    assert not errs and tags == [f"SELECT {n}"]
    assert rows == [[str(i), str(i)] for i in range(n - 1, -1, -1)]


def test_wire_bytes_match_row_encoder(server, client):
    sql = ("SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, "
           "l_shipdate, l_returnflag FROM lineitem ORDER BY l_orderkey, l_linenumber")
    got = b"".join(_msg(tag, body) for tag, body in client.messages(sql) if tag == b"D")
    assert got and got == _row_encoder(server.shell.run(sql))


def test_concurrent_clients(server):
    import threading

    port = server.server_address[1]
    results: dict[int, object] = {}

    def worker(i: int) -> None:
        try:
            c = MiniPgClient(port)
            _, rows, _, errs = c.query(
                f"SELECT count(*) AS n FROM lineitem WHERE l_orderkey % 4 = {i % 4}"
            )
            results[i] = rows[0][0] if not errs else f"err:{errs}"
            c.close()
        except Exception as exc:
            results[i] = f"exc:{exc}"

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert len(results) == 4
    assert all(str(v).isdigit() for v in results.values()), results

    # three connections fetch the same 20k-row range at once
    fetch = ("SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, id "
             "FROM lineitem CROSS JOIN range(8) "
             "ORDER BY l_orderkey, l_linenumber, id LIMIT 20000")
    fetched: dict[int, object] = {}

    def fetcher(i: int) -> None:
        try:
            c = MiniPgClient(port)
            _, rows, _, errs = c.query(fetch)
            fetched[i] = rows if not errs else f"err:{errs}"
            c.close()
        except Exception as exc:
            fetched[i] = f"exc:{exc}"

    threads = [threading.Thread(target=fetcher, args=(i,)) for i in range(3)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert len(fetched) == 3
    first = fetched[0]
    assert isinstance(first, list) and len(first) == 20_000, str(first)[:500]
    assert fetched[1] == first and fetched[2] == first


# -- DataRow bytes against the per-row encoder the server used before ------


def _row_encoder(df) -> bytes:
    """Every DataRow of ``df``, encoded one Python Row at a time off
    ``toLocalIterator`` with ``fmt_value``: the oracle for the server's
    columnar encoder."""
    out = []
    for row in df.toLocalIterator():
        fields = [fmt_value(v) if v is not None else None for v in row]
        payload = [struct.pack("!H", len(fields))]
        for f in fields:
            if f is None:
                payload.append(struct.pack("!i", -1))
            else:
                b = f.encode()
                payload.append(struct.pack("!I", len(b)) + b)
        out.append(_msg(b"D", b"".join(payload)))
    return b"".join(out)


def _columnar_encoder(df) -> bytes:
    return b"".join(pgwire._data_row_blocks(*pgwire._collect_text(df)))


_DOUBLES = ("NaN", "inf", "-inf", "0.0", "-0.0", "1.0", "-3.0", "0.1", "-2.5",
            "1e-7", "1e20", "-1e20", "9007199254740993", "9223372036854775807",
            "-9223372036854775808", "1e19", "123456.789", "3.4028234663852886e38")

_TYPE_QUERIES = {
    "ints": "SELECT * FROM VALUES "
            "(CAST(-128 AS TINYINT), CAST(-32768 AS SMALLINT), -2147483648, "
            "CAST(-9223372036854775808 AS BIGINT)), "
            "(CAST(127 AS TINYINT), CAST(32767 AS SMALLINT), 2147483647, "
            "9223372036854775807), (0, 0, 0, 0), (NULL, NULL, NULL, NULL) "
            "AS t(a, b, c, d)",
    "doubles": "SELECT CAST(v AS DOUBLE) AS d, CAST(v AS FLOAT) AS f FROM VALUES "
               + ", ".join(f"('{v}')" for v in _DOUBLES) + ", (NULL) AS t(v)",
    "decimals": "SELECT * FROM VALUES "
                "(CAST(1.5 AS DECIMAL(10,2)), CAST(0 AS DECIMAL(20,10)), "
                "CAST(0.0000001 AS DECIMAL(38,18)), CAST(123 AS DECIMAL(38,0))), "
                "(CAST(-12.34 AS DECIMAL(10,2)), CAST(1E-10 AS DECIMAL(20,10)), "
                "CAST(-0.000001 AS DECIMAL(38,18)), "
                "CAST('99999999999999999999999999999999999999' AS DECIMAL(38,0))), "
                "(CAST(0 AS DECIMAL(10,2)), CAST(-1.2E-9 AS DECIMAL(20,10)), "
                "CAST(12345.678 AS DECIMAL(38,18)), CAST(-1 AS DECIMAL(38,0))), "
                "(NULL, NULL, NULL, NULL) AS t(a, b, c, d)",
    "decimal_table": "SELECT CAST(id * 1e-10 AS DECIMAL(20,10)) AS a, "
                     "CAST(id AS DECIMAL(30,12)) / 7 AS b, "
                     "CAST(id - 2 AS DECIMAL(38,18)) / 1000000 AS c "
                     "FROM range(0, 5, 1, 2)",
    "strings": "SELECT * FROM VALUES ('', 'plain'), ('héllo wörld', '日本語'), "
               "('🙂 a;b', 'tab\there'), ('(empty)', ' '), (NULL, NULL) AS t(a, b)",
    "bool_date_ntz": "SELECT * FROM VALUES "
                     "(true, DATE'2024-01-02', TIMESTAMP_NTZ'2024-01-02 03:04:05'), "
                     "(false, DATE'0001-01-01', TIMESTAMP_NTZ'2024-01-02 03:04:05.123'), "
                     "(true, DATE'9999-12-31', TIMESTAMP_NTZ'0001-01-01 00:00:00.000001'), "
                     "(NULL, NULL, NULL) AS t(a, b, c)",
    "ltz_timestamp": "SELECT * FROM VALUES (TIMESTAMP'2024-01-02 03:04:05'), "
                     "(TIMESTAMP'1999-12-31 23:59:59.5'), (NULL) AS t(a)",
    "binary_and_arrays": "SELECT * FROM VALUES "
                         "(X'00FF41', array(1.0f, 2.5f, -0.0f)), "
                         "(X'', array(CAST('NaN' AS FLOAT), 0.1f)), "
                         "(CAST('back\\slash' AS BINARY), array()), "
                         "(CAST('x' AS BINARY), array(CAST(NULL AS FLOAT))), "
                         "(NULL, NULL) AS t(a, b)",
    "nested": "SELECT * FROM VALUES "
              "(named_struct('a', 1, 'b', 'x', 'c', CAST(1.5 AS DECIMAL(4,2))), "
              "map('k', 1), parse_json('{\"a\": [1, 2.5, null]}'), "
              "INTERVAL '1 2:03:04' DAY TO SECOND), "
              "(NULL, NULL, NULL, NULL) AS t(a, b, c, d)",
    "nested_small_decimals": "SELECT array(v, 0.5BD) AS a, "
                             "named_struct('x', v, 'y', array(v)) AS s, "
                             "map('k', v) AS m FROM VALUES "
                             "(CAST(1E-10 AS DECIMAL(20,10))), "
                             "(CAST(-1.2E-9 AS DECIMAL(20,10))) AS t(v)",
    "zero_rows": "SELECT 1 AS a, 'x' AS b, 1.5D AS c WHERE false",
}


@pytest.mark.parametrize("name", sorted(_TYPE_QUERIES))
def test_columnar_encoder_matches_row_encoder(spark, name):
    df = spark.sql(_TYPE_QUERIES[name])
    want = _row_encoder(df)
    assert (want == b"") == (name == "zero_rows")
    assert _columnar_encoder(df) == want


def test_columnar_encoder_blocks(spark, monkeypatch):
    # blocks that start mid-column, across NULLs and multi-byte text
    monkeypatch.setattr(pgwire, "_ROWS_PER_WRITE", 3)
    df = spark.sql(
        "SELECT id, IF(id % 3 = 0, NULL, repeat('é', CAST(id % 5 AS INT))) AS s, "
        "IF(id % 4 = 1, NULL, id / 7) AS d FROM range(0, 40, 1, 3)"
    )
    assert _columnar_encoder(df) == _row_encoder(df)


def test_year_month_interval_still_fails(spark):
    df = spark.sql("SELECT INTERVAL '1-2' YEAR TO MONTH AS ym")
    with pytest.raises(Exception):
        _row_encoder(df)
    with pytest.raises(Exception):
        _columnar_encoder(df)


_int64 = st.integers(-(2**63), 2**63 - 1)
_row = st.tuples(
    st.one_of(st.none(), _int64),
    st.one_of(st.none(), st.floats(width=64), _int64.map(float)),
    st.one_of(st.none(), st.text(max_size=12)),
)


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=st.lists(_row, max_size=30), block=st.integers(1, 8))
def test_columnar_encoder_property(spark, rows, block):
    df = spark.createDataFrame(rows, "i BIGINT, d DOUBLE, s STRING")
    saved = pgwire._ROWS_PER_WRITE
    pgwire._ROWS_PER_WRITE = block
    try:
        assert _columnar_encoder(df) == _row_encoder(df)
    finally:
        pgwire._ROWS_PER_WRITE = saved
