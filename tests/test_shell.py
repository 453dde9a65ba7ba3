"""The interactive shell (risinglight_spark.sql.shell): the same
dialect/executor path the slt corpus runs, exposed as the user-facing
front door.  Matches the reference's REPL surface (src/db.rs:63-80)."""

from __future__ import annotations

import pytest
from pyspark.sql import DataFrame

from risinglight_spark.sql.shell import Shell, split_statements, is_query


@pytest.fixture(scope="module")
def shell(spark, sf_dir):
    sh = Shell(spark, sf_dir)
    yield sh
    sh.ex.cleanup()


def test_metacommand_dt_lists_tables(shell):
    df = shell.run(r"\dt")
    names = {r.tablename for r in df.collect()}
    assert {"lineitem", "orders", "nation", "documents"} <= names


def test_metacommand_describe(shell):
    df = shell.run(r"\d nation")
    cols = [r.column_name for r in df.orderBy("ordinal").collect()]
    assert cols[:2] == ["n_nationkey", "n_name"]


def test_metacommand_stat(shell):
    row = shell.run(r"\stat region r_name").collect()[0]
    assert row.row_count == 5 and row.r_name_distinct == 5


def test_reference_ddl_dml_roundtrip(shell):
    assert shell.run(
        "CREATE TABLE sh_t(v1 INT NOT NULL, v2 VARCHAR(8), PRIMARY KEY(v1))"
    ) == "ok"
    assert shell.run("INSERT INTO sh_t VALUES (1,'a'), (2,'b'), (3,'c')") == "ok"
    assert shell.run("DELETE FROM sh_t WHERE v1 = 2") == "ok"
    got = [tuple(r) for r in shell.run("SELECT * FROM sh_t ORDER BY v1").collect()]
    assert got == [(1, "a"), (3, "c")]
    assert shell.run("DROP TABLE sh_t") == "ok"


def test_sql_udf_macro(shell):
    assert (
        shell.run(
            "CREATE FUNCTION sh_addone(x INT) RETURNS INT LANGUAGE SQL"
            " RETURN x + 1"
        )
        == "ok"
    )
    assert shell.run("SELECT sh_addone(41) AS a").collect()[0].a == 42


def test_vector_operator_dialect(shell):
    row = shell.run(
        "SELECT '[1,2,3]'::VECTOR(3) <#> '[4,5,6]'::VECTOR(3) AS negdot"
    ).collect()[0]
    assert row.negdot == -32.0


def test_render_is_aligned(shell):
    out = shell.render(shell.run("SELECT 1 AS a, 'xy' AS b"))
    assert "a | b" in out.replace("  ", " ") and "(1 row)" in out


def test_is_query_and_split():
    assert is_query("SELECT 1") and is_query("  with x as (select 1) select * from x")
    assert not is_query("INSERT INTO t VALUES (1)")
    assert split_statements("select ';'; select 2;") == ["select ';'", "select 2"]


def test_set_mock_rowcount_accepted(spark):
    """Reference planner-test hook (src/db.rs:175-193): SET
    mock_rowcount_<table> = N is accepted and recorded."""
    from risinglight_spark.sql.executor import StatementExecutor

    ex = StatementExecutor(spark)
    ex.execute_statement("CREATE TABLE mock_rc_t (a INT)")
    assert ex.execute_statement("SET mock_rowcount_mock_rc_t = 777") == "ok"
    assert spark.conf.get("mock_rowcount_mock_rc_t") == "777"
    props = {
        r["key"]: r["value"]
        for r in spark.sql("SHOW TBLPROPERTIES mock_rc_t").collect()
    }
    assert props.get("spark.sql.statistics.numRows") == "777"
    ex.execute_statement("DROP TABLE mock_rc_t")


def test_create_index_records_method(spark):
    """IndexType parity (binder/create_index.rs:33-41): btree, hnsw,
    and ivfflat USING clauses are each recorded distinctly."""
    from risinglight_spark.sql.executor import StatementExecutor

    ex = StatementExecutor(spark)
    ex.execute_statement("CREATE TABLE idx_t (k INT, v INT)")
    ex.execute_statement("CREATE INDEX i_bt ON idx_t USING btree (k)")
    ex.execute_statement("CREATE INDEX i_hn ON idx_t USING hnsw (v)")
    ex.execute_statement("CREATE INDEX i_default ON idx_t (k)")
    assert ex.index_types == {
        "i_bt": "btree",
        "i_hn": "hnsw",
        "i_default": "btree",
    }
    ex.execute_statement("DROP TABLE idx_t")


def test_create_index_with_options(spark):
    """ivfflat WITH clause parsed like the reference binder
    (create_index.rs:95-150): distfn lowercased, nlists/nprobe ints."""
    from risinglight_spark.sql.executor import StatementExecutor

    ex = StatementExecutor(spark)
    ex.execute_statement("CREATE TABLE ivf_t (a ARRAY<DOUBLE>, b STRING)")
    ex.execute_statement(
        "CREATE INDEX t_ivfflat ON ivf_t USING ivfflat (a) "
        "WITH (distfn = 'L2', nlists = 3, nprobe = 2)"
    )
    assert ex.index_types["t_ivfflat"] == "ivfflat"
    assert ex.index_options["t_ivfflat"] == {
        "distfn": "l2",
        "nlists": 3,
        "nprobe": 2,
    }
    ex.execute_statement("DROP TABLE ivf_t")


def test_update_statement_superset(shell):
    """UPDATE is a deliberate superset (the reference never binds
    Statement::Update): per-column CASE rewrite + the DELETE-style
    copy-on-write staging, types preserved."""
    assert shell.run(
        "CREATE TABLE sh_u(v1 INT NOT NULL, v2 VARCHAR(8), v3 DOUBLE,"
        " PRIMARY KEY(v1))"
    ) == "ok"
    assert shell.run(
        "INSERT INTO sh_u VALUES (1,'a',1.5), (2,'b',2.5), (3,'c',3.5)"
    ) == "ok"
    # conditional multi-assignment, expression references old values
    assert shell.run(
        "UPDATE sh_u SET v2 = upper(v2), v3 = v3 + 10 WHERE v1 >= 2"
    ) == "ok"
    got = [tuple(r) for r in shell.run(
        "SELECT * FROM sh_u ORDER BY v1").collect()]
    assert got == [(1, "a", 1.5), (2, "B", 12.5), (3, "C", 13.5)]
    # unconditional update touches every row
    assert shell.run("UPDATE sh_u SET v3 = 0") == "ok"
    vals = [r.v3 for r in shell.run("SELECT v3 FROM sh_u").collect()]
    assert vals == [0.0, 0.0, 0.0]
    # unknown column is rejected
    import pytest as _pytest

    with _pytest.raises(Exception):
        shell.run("UPDATE sh_u SET nope = 1")
    assert shell.run("DROP TABLE sh_u") == "ok"


def test_update_quote_aware_parsing(shell):
    """String literals containing ',' or ' where ' must not confuse
    the SET-list / WHERE split (round-5 advisor finding)."""
    shell.run("CREATE TABLE qsplit (id INT, v VARCHAR, w VARCHAR)")
    shell.run("INSERT INTO qsplit VALUES (1, 'a', 'b'), (2, 'c', 'd')")
    shell.run(
        "UPDATE qsplit SET v = 'x,y where z', w = 'it''s' WHERE id = 1"
    )
    rows = {r.id: (r.v, r.w) for r in shell.run("SELECT * FROM qsplit").collect()}
    assert rows[1] == ("x,y where z", "it's")
    assert rows[2] == ("c", "d")
    shell.run("DROP TABLE qsplit")


def test_split_helpers_quote_handling():
    from risinglight_spark.sql.dialect import (
        split_assignments,
        split_set_where,
    )

    assert split_assignments("v = 'a,b', z = 1") == [
        ("v", "'a,b'"),
        ("z", "1"),
    ]
    s, w = split_set_where("v = 'a where b' WHERE id = 1")
    assert (s, w) == ("v = 'a where b'", "id = 1")
    s, w = split_set_where("v = (SELECT 1 WHERE true) where id=2")
    assert (s, w) == ("v = (SELECT 1 WHERE true)", "id=2")
    s, w = split_set_where("v = 'it''s where'")
    assert w is None


def test_copy_to_empty_table_and_dir_refusal(shell, tmp_path):
    """COPY TO on an empty table still writes a file; a non-empty
    directory target is refused, not silently deleted (round-5
    advisor finding)."""
    import os

    shell.run("CREATE TABLE qcopy (id INT)")
    target = str(tmp_path / "out.csv")
    shell.run(f"COPY qcopy TO '{target}'")
    assert os.path.isfile(target) and open(target).read() == ""
    keep = tmp_path / "data"
    keep.mkdir()
    (keep / "precious.txt").write_text("!")
    with pytest.raises(Exception):
        shell.run(f"COPY qcopy TO '{keep}'")
    assert (keep / "precious.txt").read_text() == "!"
    shell.run("DROP TABLE qcopy")
