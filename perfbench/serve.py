"""Generator process for ``serve_mixed``: the engine's pgwire server in
its own process, driven by closed-loop client connections.

``run.py`` starts this process in the run's work dir; the server it
starts inherits that working directory's ``server/`` subdir, the package
root on ``PYTHONPATH`` and a ``TMPDIR`` inside the work dir, which holds
the ``rl_sql_*`` temporary directory every server start creates.  The
server is stopped with SIGINT, which its serve loop turns into a normal
exit, and those directories are deleted afterwards.

Each of ``CONNECTIONS`` clients runs rounds with zero think time.  A
round is a seeded order of a fixed statement mix (``MIX``) with seeded
parameters, so every round does the same kinds of work:

- seven point lookups on ``orders`` by primary key,
- one small aggregate over ``lineitem`` with a seeded date cut-off,
- two fetches of a ``lineitem`` key range holding about ``fetch_rows`` rows,
- one INSERT (VALUES), one DELETE and one UPDATE on a table each
  connection owns, so writes (copy-on-write rewrites) run beside reads.

The first round of each connection is its cold round; hot rounds follow
until ``--seconds`` have gone by (at least ``rounds_min``).  A traced
run starts the server through ``serve_traced.py`` and runs a fixed
schedule of rounds -- cold traced, hot traced, hot untraced, hot traced
-- switching the server's tracing between rounds.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import socket
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import corpus  # noqa: E402
import metrics  # noqa: E402
from pgclient import PgConn, PgError  # noqa: E402

CONNECTIONS = 3
# Point lookups and INSERTs take about the same time and are over half
# the mix, fetches (the slowest) over a tenth, so the median and the
# 90th percentile each fall inside one class, not on a class boundary.
MIX = ("point",) * 7 + ("fetch",) * 2 + ("agg", "insert", "delete", "update")
WRITES = frozenset({"insert", "delete", "update"})
INSERT_ROWS = 5
SETUP_REPEATS = 3
# traced run: server tracing on or off per round (cold, then three hot)
TRACE_SCHEDULE = (True, True, False, True)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=("serve_mixed",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, required=True)
    ap.add_argument("--scale", required=True)
    ap.add_argument("--cache", required=True)
    args = ap.parse_args()
    spawned = float(os.environ["PERFBENCH_SPAWNED"])
    sizes = metrics.SCALES[args.scale]

    dbgen_dir = os.path.join(args.cache, f"dbgen_sf{sizes['sf']:g}")
    if not os.path.isdir(dbgen_dir):
        subprocess.run([sys.executable, os.path.join(HERE, "corpus.py"),
                        args.cache, str(sizes["sf"])], check=True)
    one_off = time.time() - spawned
    builds = []
    for rep in range(SETUP_REPEATS):
        t = time.perf_counter()
        corpus_dir = corpus.build(os.path.abspath(f"corpus{rep}"), dbgen_dir, args.seed, sizes)
        builds.append(time.perf_counter() - t)

    flag = os.path.abspath("trace.on")
    summary = os.path.abspath("server_trace.json")
    server = Server(corpus_dir, flag if args.trace else None, summary)
    try:
        t = time.perf_counter()
        server.start()
        clients = [Client(i, server.port, args.seed, sizes)
                   for i in range(CONNECTIONS)]
        setup_s = one_off + statistics.median(builds) + time.perf_counter() - t
        if args.trace:
            run_schedule(clients, flag)
        else:
            run_window(clients, args.seconds, sizes["rounds_min"])
        for c in clients:
            c.finish()
    finally:
        server.stop()
    for name in os.listdir(os.environ["TMPDIR"]):
        shutil.rmtree(os.path.join(os.environ["TMPDIR"], name), ignore_errors=True)

    failed = sum(c.failed for c in clients) + check(clients, corpus_dir)
    attempted = sum(c.attempted for c in clients)
    hot = [s for c in clients for s in c.hot_stmts()]
    if args.trace:
        result = trace_report(clients, summary)
    else:
        result = {
            "setup_s": setup_s,
            "cold_s": statistics.mean(c.rounds[0] for c in clients),
            "hot_s": statistics.median(r for c in clients for r in c.rounds[1:]),
            "ops_per_s": sum(len(c.hot_stmts()) / sum(c.rounds[1:]) for c in clients),
            "op_p50_ms": 1e3 * statistics.median_low(s[1] for s in hot),
            "op_p90_ms": 1e3 * metrics.quantile([s[1] for s in hot], 90),
        }
    with open("result.json", "w") as f:
        json.dump({"attempted": attempted, "failed": failed, "metrics": result,
                   "note": class_note(hot)}, f)
    return 0


class Server:
    def __init__(self, corpus_dir: str, flag: str | None, summary: str) -> None:
        self.corpus_dir, self.flag, self.summary = corpus_dir, flag, summary
        self.proc = None

    def start(self) -> None:
        with socket.socket() as s:
            s.bind(("127.0.0.1", 0))
            self.port = s.getsockname()[1]
        if self.flag is None:
            cmd = [sys.executable, "-m", "risinglight_spark.server"]
        else:
            cmd = [sys.executable, os.path.join(HERE, "serve_traced.py"),
                   "--flag", self.flag, "--summary", self.summary]
        cmd += ["--port", str(self.port), "--data", self.corpus_dir]
        cwd = os.path.abspath("server")
        os.makedirs(cwd, exist_ok=True)
        self.proc = subprocess.Popen(
            cmd, cwd=cwd, env=dict(os.environ, PYTHONUNBUFFERED="1"),
            stdout=subprocess.PIPE, text=True, process_group=0,
        )
        line = self.proc.stdout.readline()
        if not line.startswith("listening on"):
            raise RuntimeError(f"server did not start: {line!r}")
        threading.Thread(target=self.proc.stdout.read, daemon=True).start()

    def stop(self) -> None:
        if self.proc is None or self.proc.poll() is not None:
            return
        self.proc.send_signal(signal.SIGINT)
        try:
            self.proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            os.killpg(self.proc.pid, signal.SIGKILL)
            self.proc.wait()


class Client:
    """One closed-loop connection.  Records (kind, seconds, round) per
    statement, and the result of every read for the oracle check."""

    def __init__(self, idx: int, port: int, seed: int, sizes: dict):
        self.rng = random.Random(seed * 1000 + idx)
        self.n_orders = max(int(1_500_000 * sizes["sf"]), 150)
        self.fetch_rows = sizes["fetch_rows"]
        self.table = f"bench_w{idx}"
        self.conn = PgConn("127.0.0.1", port)
        self.conn.query(f"CREATE TABLE {self.table} (k BIGINT, v BIGINT)")
        self.live: list[int] = []
        self.next_key = 0
        self.stmts: list[tuple[str, float, int]] = []
        self.rounds: list[float] = []
        self.reads: list[tuple[str, str, list]] = []
        self.attempted = self.failed = 0

    def _order_key(self) -> int:
        # dbgen's sparse order keys: 8 of every 32
        i = self.rng.randrange(self.n_orders)
        return (i // 8) * 32 + i % 8 + 1

    def _statement(self, kind: str) -> str:
        if kind == "point":
            return ("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice "
                    f"FROM orders WHERE o_orderkey = {self._order_key()}")
        if kind == "agg":
            day = f"199{self.rng.randrange(2, 9)}-{self.rng.randrange(1, 13):02d}-01"
            return ("SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS qty "
                    f"FROM lineitem WHERE l_shipdate < DATE '{day}' "
                    "GROUP BY l_returnflag")
        if kind == "fetch":
            # order keys spread over 4 * n_orders with about 4 lines each
            lo = self.rng.randrange(max(4 * self.n_orders - self.fetch_rows, 1))
            return ("SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice "
                    f"FROM lineitem WHERE l_orderkey >= {lo} "
                    f"AND l_orderkey < {lo + self.fetch_rows}")
        if kind == "insert":
            keys = range(self.next_key, self.next_key + INSERT_ROWS)
            self.next_key += INSERT_ROWS
            self.live.extend(keys)
            values = ", ".join(f"({k}, {self.rng.randrange(1000)})" for k in keys)
            return f"INSERT INTO {self.table} VALUES {values}"
        if kind == "delete":
            k = self.live.pop(self.rng.randrange(len(self.live))) if self.live else -1
            return f"DELETE FROM {self.table} WHERE k = {k}"
        return f"UPDATE {self.table} SET v = v + 1 WHERE k % 2 = 0"

    def run_round(self) -> None:
        kinds = list(MIX)
        self.rng.shuffle(kinds)
        n = len(self.rounds)
        t0 = time.perf_counter()
        for kind in kinds:
            sql = self._statement(kind)
            self.attempted += 1
            t = time.perf_counter()
            try:
                _, rows = self.conn.query(sql)
            except PgError as exc:
                print(f"# {kind} failed: {exc}"[:500], file=sys.stderr)
                self.failed += 1
                rows = None
            self.stmts.append((kind, time.perf_counter() - t, n))
            if kind not in WRITES and rows is not None:
                self.reads.append((kind, sql, rows))
        self.rounds.append(time.perf_counter() - t0)

    def hot_stmts(self) -> list[tuple[str, float, int]]:
        return [s for s in self.stmts if s[2] > 0]

    def finish(self) -> None:
        """Read the owned table back: its row count must match the writes."""
        self.attempted += 1
        try:
            _, rows = self.conn.query(f"SELECT count(*) FROM {self.table}")
            if int(rows[0][0]) != len(self.live):
                print(f"# {self.table}: {rows[0][0]} rows, expected {len(self.live)}",
                      file=sys.stderr)
                self.failed += 1
        except PgError as exc:
            print(f"# read-back failed: {exc}", file=sys.stderr)
            self.failed += 1
        self.conn.close()


def run_window(clients: list[Client], seconds: float, rounds_min: int) -> None:
    """Every client runs its cold round, then hot rounds until ``seconds``
    have gone by since the hot rounds began."""

    def loop(c: Client, start: threading.Barrier) -> None:
        c.run_round()
        start.wait()
        t0 = time.perf_counter()
        while len(c.rounds) <= rounds_min or time.perf_counter() - t0 < seconds:
            c.run_round()

    start = threading.Barrier(len(clients))
    _join([threading.Thread(target=loop, args=(c, start)) for c in clients])


def run_schedule(clients: list[Client], flag: str) -> None:
    """Run one round per ``TRACE_SCHEDULE`` entry on every client
    together, with the server's tracing on or off as the entry says."""
    for traced in TRACE_SCHEDULE:
        if traced:
            open(flag, "w").close()
        elif os.path.exists(flag):
            os.remove(flag)
        _join([threading.Thread(target=c.run_round) for c in clients])
    if os.path.exists(flag):
        os.remove(flag)


def _join(threads: list[threading.Thread]) -> None:
    for t in threads:
        t.start()
    for t in threads:
        t.join()


def check(clients: list[Client], corpus_dir: str) -> int:
    """Compare every read against DuckDB over the same parquet; return
    the number of mismatches."""
    from check import Oracle, rows_match

    oracle = Oracle(corpus_dir)
    bad = 0
    for c in clients:
        for kind, sql, rows in c.reads:
            want = oracle.con.sql(sql).fetchall()
            if kind == "fetch":
                ok = len(rows) == len(want)
            else:
                ok = rows_match([tuple(_num(v) for v in r) for r in rows], want)
            if not ok:
                print(f"# {kind} result differs from DuckDB: {sql}", file=sys.stderr)
                bad += 1
    return bad


def _num(text):
    try:
        return float(text)
    except (TypeError, ValueError):
        return text


def class_note(hot) -> str:
    """Per-class latencies of the hot statements, with sample counts."""
    parts = []
    for kind in ("point", "agg", "fetch", "insert", "delete", "update"):
        xs = [s[1] for s in hot if s[0] == kind]
        if xs:
            parts.append(f"{kind} p50 {1e3 * statistics.median(xs):.0f} ms (n={len(xs)})")
    return f"{len(hot)} hot statements on {CONNECTIONS} connections; " + ", ".join(parts)


def trace_report(clients, summary_path) -> dict:
    with open(summary_path) as f:
        summary = json.load(f)
    traced_rounds = {i for i, on in enumerate(TRACE_SCHEDULE) if on}
    lat = [s[1] for c in clients for s in c.stmts if s[2] in traced_rounds]
    values = dict(summary["values"])
    # the server's counter reads after each traced statement delay the
    # reply too, and are not time the statement waited
    waited = sum(lat) - summary["handler_s"] - values["trace.harness_s"]
    values["pgwire.wait_ms"] = 1e3 * waited / max(len(lat), 1)
    hot_on = [c.rounds[i] for c in clients for i in traced_rounds if i > 0]
    hot_off = [c.rounds[i] for c in clients for i, on in enumerate(TRACE_SCHEDULE) if not on]
    values["trace.overhead_s"] = statistics.median(hot_on) - statistics.median(hot_off)
    values["trace.cold_s"] = statistics.mean(c.rounds[0] for c in clients)
    return metrics.per_layer(values)


if __name__ == "__main__":
    sys.exit(main())
