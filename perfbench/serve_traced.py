"""The engine's pgwire server with spans around its layers, for traced
``serve_mixed`` runs:

    python3 serve_traced.py --flag FILE --summary OUT --port N --data DIR

It imports the server, wraps ``Shell.run``,
``StatementExecutor.execute_query``, ``execute_statement``,
``copy_statement``, ``dialect.rewrite_query``, ``tables.load`` and the
connection handler's ``_run_query``, then serves exactly as
``python -m risinglight_spark.server`` does.  Statements are traced only
while FILE exists, so the generator can time traced and untraced rounds
against one server.  Each traced query also runs once into Spark's noop
sink -- before or after the rows stream, alternately -- to split
execution from transfer.  On SIGINT the server stops and the per-layer
sums are written to OUT as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tracing import SparkCounters, Tracer  # noqa: E402

_COW = ("delete", "update")


def group_write_bytes() -> int:
    """Bytes written to storage by this server's process group (the
    server and its JVM)."""
    pgrp, total = os.getpgrp(), 0
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            if int(stat[stat.rindex(")") + 2:].split()[2]) != pgrp:
                continue
            with open(f"/proc/{name}/io") as f:
                for line in f:
                    if line.startswith("write_bytes:"):
                        total += int(line.split()[1])
        except (OSError, ValueError):
            continue
    return total


class ServerLayers:
    def __init__(self, spark, flag: str) -> None:
        self.spark, self.flag = spark, flag
        self.tracer = Tracer()
        self.counters = SparkCounters()
        self.local = threading.local()
        self.lock = threading.Lock()
        self.ops = 0
        self.rows_sent = 0

    def install(self) -> None:
        from pyspark.sql import DataFrame

        from risinglight_spark import tables
        from risinglight_spark.server import pgwire
        from risinglight_spark.sql import dialect, executor, shell

        t, layers = self.tracer, self

        t.patch(tables, "load", "tables.load")
        t.patch(dialect, "rewrite_query", "dialect.rewrite")
        t.patch(executor.StatementExecutor, "execute_query", "executor.query")
        t.patch(executor.StatementExecutor, "copy_statement", "executor.copy")

        def statement(orig):
            def traced(self_, sql):
                cow = sql.lstrip()[:6].lower() in _COW and t.enabled
                before = group_write_bytes() if cow else 0
                with t.span("executor.statement"):
                    out = orig(self_, sql)
                if cow:
                    layers.counters.add("executor.cow_write_bytes",
                                        group_write_bytes() - before)
                return out
            return traced

        t.patch(executor.StatementExecutor, "execute_statement", "", statement)

        def run(orig):
            def traced(self_, sql):
                with t.span("shell.run"):
                    out = orig(self_, sql)
                if isinstance(out, DataFrame) and t.enabled:
                    layers.local.df = out
                    if t.current_op() % 2:
                        layers.noop(out)
                return out
            return traced

        t.patch(shell.Shell, "run", "", run)

        def run_query(orig):
            def traced(self_, sql):
                t.enabled = os.path.exists(layers.flag)
                if not t.enabled:
                    return orig(self_, sql)
                with layers.lock:
                    layers.ops += 1
                    op = layers.ops
                group = f"op{op}"
                sc = layers.spark.sparkContext
                sc.setJobGroup(group, "serve")
                layers.local.df = None
                with t.span("pgwire.handler", op):
                    orig(self_, sql)
                    df = layers.local.df
                    if df is not None and not op % 2:
                        layers.noop(df)
                t0 = time.perf_counter()
                layers.counters.after(sc, group, df)
                layers.counters.add("harness_s", time.perf_counter() - t0)
            return traced

        t.patch(pgwire._Handler, "_run_query", "", run_query)

        def send(orig):
            def traced(self_, tag, payload):
                if tag == b"D" and t.enabled:
                    with layers.lock:
                        layers.rows_sent += 1
                return orig(self_, tag, payload)
            return traced

        t.patch(pgwire._Handler, "_send", "", send)

    def noop(self, df) -> None:
        sc = self.spark.sparkContext
        group = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(f"{group}-noop", "serve")
        with self.tracer.span("exec.noop"):
            df.write.format("noop").mode("overwrite").save()
        sc.setJobGroup(group, "serve")

    def summary(self, session_s: float) -> dict:
        t = self.tracer
        self_s = t.self_times()
        s = self.counters.sums
        handler = t.total("pgwire.handler")
        noop = t.total("exec.noop")
        send = self_s.get("pgwire.handler", 0.0)
        values = {
            "session.start_s": session_s,
            "tables.load_s": self_s.get("tables.load", 0.0),
            "tables.load_calls": t.count("tables.load"),
            **self.counters.values(),
            "exec.noop_s": noop,
            "transfer.collect_s": send - noop,
            "dialect.rewrite_ms": 1e3 * t.total("dialect.rewrite") / max(t.count("dialect.rewrite"), 1),
            "executor.query_ms": 1e3 * self_s.get("executor.query", 0.0) / max(t.count("executor.query"), 1),
            "executor.statement_ms": 1e3 * self_s.get("executor.statement", 0.0) / max(t.count("executor.statement"), 1),
            "executor.cow_write_mb": s["executor.cow_write_bytes"] / 1e6,
            "pgwire.rows_sent": self.rows_sent,
            "pgwire.send_s": send,
            "trace.wall_s": handler,
            "trace.self_sum_s": sum(self_s.values()) - self_s.get("tables.load", 0.0),
            "trace.harness_s": s["harness_s"],
        }
        return {"values": values, "handler_s": handler}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--flag", required=True)
    ap.add_argument("--summary", required=True)
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--data", required=True)
    args = ap.parse_args()

    t0 = time.perf_counter()
    from risinglight_spark.session import get_spark

    spark = get_spark(app_name="risinglight_spark_server")
    session_s = time.perf_counter() - t0
    from risinglight_spark.server import pgwire

    layers = ServerLayers(spark, args.flag)
    layers.install()
    pgwire.serve(spark=spark, port=args.port, data_dir=args.data)
    with open(args.summary, "w") as f:
        json.dump(layers.summary(session_s), f)
    layers.tracer.dump(os.path.join(os.path.dirname(args.summary), "spans.json"))
    return 0


if __name__ == "__main__":
    sys.exit(main())
