"""The local correctness gate: every registry entry with an oracle must
match DuckDB on row count, column names, and order-insensitive value
hash at sf0.001 (the driver repeats this at sf0.01).

Mirrors the reference's sqllogictest strategy (reference:
tests/sqllogictest.rs:17-61 — every .slt file runs against both
engines); here the 'two engines' are our Spark implementation and
DuckDB.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

sys.path.insert(
    0,
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"),
)
from oracle_check import value_hash  # noqa: E402

from risinglight_spark.registry import GATE, REGISTRY, collect, queries  # noqa: E402

ENTRIES = collect()


@pytest.mark.parametrize("name", sorted(ENTRIES))
def test_query_matches_oracle(name, spark, sf_dir, oracle):
    e = ENTRIES[name]
    sdf = e.fn(spark, sf_dir).toPandas()
    if e.oracle is None:
        # rows-only contract: must run and be deterministic across reruns
        sdf2 = e.fn(spark, sf_dir).toPandas()
        assert len(sdf) == len(sdf2)
        assert value_hash(sdf) == value_hash(sdf2)
        return
    odf = oracle.sql(e.oracle).df()
    assert len(sdf) == len(odf), f"row count {len(sdf)} != oracle {len(odf)}"
    assert sorted(sdf.columns) == sorted(odf.columns)
    assert value_hash(sdf) == value_hash(odf), "value hash mismatch vs DuckDB"


def test_gate_heads_the_registry():
    # the driver grades the first 50 entries of queries(), in GATE order
    assert list(queries())[:50] == list(GATE)
    assert len(set(GATE)) == 50
    assert set(GATE) <= set(REGISTRY)
    assert sorted(collect()) == sorted(REGISTRY)


def test_udf_entry_runs_outside_the_repo(tmp_path, sf_dir):
    # Python UDF workers import the package, so they must find it with
    # neither the cwd nor PYTHONPATH pointing at the repo.
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "import sys; sys.path.insert(0, sys.argv[1])\n"
        "from risinglight_spark.registry import collect\n"
        "from risinglight_spark.session import get_spark\n"
        "spark = get_spark(master='local[2]', shuffle_partitions=4)\n"
        "print(collect()['dedup_minhash_lsh'].fn(spark, sys.argv[2]).count())\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", code, repo, os.path.abspath(sf_dir)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.split()[-1].isdigit(), out.stdout
