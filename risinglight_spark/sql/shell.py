r"""Interactive SQL shell — the user-facing surface of the engine.

The reference is an interactive SQL database (`cargo run` drops into a
REPL; reference: src/main.rs, src/db.rs:63-80 for the `\`-command to
SQL mapping).  This module gives the Spark engine the same front door:

    python -m risinglight_spark.sql                  # REPL over sf0.1
    python -m risinglight_spark.sql --data DIR       # another dataset
    python -m risinglight_spark.sql -c "SELECT 1;"   # one-shot
    python -m risinglight_spark.sql -f script.sql    # run a file

Every statement goes through the shared dialect layer
(risinglight_spark.sql.dialect + .executor) — the same code path the
sqllogictest corpus runs — so reference-dialect DDL/DML (CREATE TABLE
with constraints, SQL-UDF macros, DELETE, PRAGMA, vector operators,
blob literals) work at the prompt.

Metacommands match the reference (db.rs:63-80):
    \dt              list tables
    \di              list indexes
    \d <table>       describe a table's columns
    \stat <t> [col]  row/distinct counts (the reference reads stored
                     block stats — db.rs:129-158; we compute them)
    \q               quit
"""

from __future__ import annotations

import argparse
import os
import sys

from pyspark.sql import DataFrame, SparkSession

from risinglight_spark.sql.dialect import fmt_value
from risinglight_spark.sql.executor import StatementExecutor

_QUERY_HEADS = (
    "select",
    "with",
    "values",
    "show",
    "describe",
    "desc",
    "explain",
    "table",
)


def is_query(sql: str) -> bool:
    head = sql.lstrip().split(None, 1)
    return bool(head) and head[0].lower() in _QUERY_HEADS


class Shell:
    def __init__(self, spark: SparkSession, data_dir: str | None = None):
        self.spark = spark
        self.ex = StatementExecutor(spark)
        if data_dir:
            from risinglight_spark.tables import register_views

            register_views(spark, data_dir)

    # -- metacommands ------------------------------------------------------

    def _tables(self) -> list[str]:
        return sorted(t.name for t in self.spark.catalog.listTables())

    def command_to_df(self, cmd: str) -> DataFrame:
        # shared with the slt runner (StatementExecutor.metacommand);
        # the shell additionally lists its pre-registered data views
        return self.ex.metacommand(cmd, include_session_tables=True)

    # -- execution ---------------------------------------------------------

    def run(self, sql: str) -> DataFrame | str | None:
        """Execute one statement/query/metacommand.  Returns a
        DataFrame for queries, a status string for statements."""
        sql = sql.strip().rstrip(";").strip()
        if not sql:
            return None
        if sql.startswith("\\"):
            return self.command_to_df(sql[1:])
        if is_query(sql):
            return self.ex.execute_query(sql)
        return self.ex.execute_statement(sql)

    def render(self, df: DataFrame, max_rows: int = 200) -> str:
        from risinglight_spark.sql.dialect import reference_render_datetimes

        df = reference_render_datetimes(df)
        rows = df.take(max_rows + 1)
        truncated = len(rows) > max_rows
        rows = rows[:max_rows]
        header = df.columns
        table = [[fmt_value(v) for v in r] for r in rows]
        widths = [
            max(len(h), *(len(r[i]) for r in table)) if table else len(h)
            for i, h in enumerate(header)
        ]
        sep = "-+-".join("-" * w for w in widths)
        out = [
            " | ".join(h.ljust(w) for h, w in zip(header, widths)),
            sep,
        ]
        out += [
            " | ".join(c.ljust(w) for c, w in zip(r, widths)) for r in table
        ]
        n = len(table)
        out.append(f"({n}{'+' if truncated else ''} row{'s' if n != 1 else ''})")
        return "\n".join(out)


def split_statements(text: str) -> list[str]:
    """Split on top-level semicolons (not inside quotes)."""
    parts, buf, q = [], [], None
    for ch in text:
        if q:
            buf.append(ch)
            if ch == q:
                q = None
        elif ch in ("'", '"'):
            q = ch
            buf.append(ch)
        elif ch == ";":
            parts.append("".join(buf))
            buf = []
        else:
            buf.append(ch)
    if "".join(buf).strip():
        parts.append("".join(buf))
    return [p for p in (s.strip() for s in parts) if p]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        prog="python -m risinglight_spark.sql",
        description="SQL shell over the risinglight_spark engine",
    )
    ap.add_argument("-c", "--command", help="run these statements and exit")
    ap.add_argument("-f", "--file", help="run statements from a file and exit")
    ap.add_argument(
        "--data",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
        help="directory of parquet tables to register as views "
        "(default: $SPARK_GRAFT_SF_DIR or /root/testdata/sf0.1)",
    )
    args = ap.parse_args(argv)

    from risinglight_spark.session import get_spark

    spark = get_spark(app_name="risinglight_spark_shell")
    spark.sparkContext.setLogLevel("ERROR")
    shell = Shell(spark, args.data if os.path.isdir(args.data) else None)

    def run_one(stmt: str) -> None:
        out = shell.run(stmt)
        if isinstance(out, DataFrame):
            print(shell.render(out))
        elif isinstance(out, str) and out != "ok":
            print(f"-- {out}")

    if args.command or args.file:
        text = args.command or open(args.file).read()
        for stmt in split_statements(text):
            run_one(stmt)
        return 0

    print("risinglight_spark shell — \\q quits, \\dt lists tables")
    buf: list[str] = []
    while True:
        try:
            line = input("... " if buf else "rl> ")
        except (EOFError, KeyboardInterrupt):
            print()
            return 0
        if line.strip() in (r"\q", "exit", "quit"):
            return 0
        if line.lstrip().startswith("\\"):
            try:
                run_one(line.strip())
            except Exception as exc:
                print(f"error: {exc}")
            continue
        buf.append(line)
        if line.rstrip().endswith(";"):
            stmt = "\n".join(buf)
            buf = []
            try:
                for s in split_statements(stmt):
                    run_one(s)
            except Exception as exc:
                print(f"error: {exc}")


if __name__ == "__main__":
    sys.exit(main())
