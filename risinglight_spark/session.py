"""SparkSession factory.

Config choices and why (scale notes for a 1000-executor / 100 TB cluster):

- ``spark.sql.ansi.enabled=false``: reference semantics are non-ANSI —
  division by zero yields NULL (reference: src/array/ops.rs:159-168
  "safen" of the divisor validity bitmap), casts are permissive, and
  integer overflow wraps.  Spark 4 defaults ANSI *on*, so this must be
  pinned explicitly.
- AQE on (+skew join): at 100 TB, static shuffle-partition counts are
  always wrong for some stage; AQE coalesces small partitions and splits
  skewed ones at runtime.
- ``spark.sql.shuffle.partitions``: defaults to 2x local cores here; on a
  real cluster set it near 2-3x total executor cores (AQE then adjusts).
- broadcast threshold 64 MB: the dimension tables of this schema
  (region/nation/supplier/part/customer) stay broadcastable far beyond
  SF100; broadcasting them removes the shuffle on the fact-table side of
  every star join.
- Arrow enabled for the few pandas-UDF paths (multimodal decode).
- session timezone UTC so timestamp parity with the DuckDB oracle holds.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _append_pythonpath(path: str) -> None:
    pp = os.environ.get("PYTHONPATH", "")
    if path not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = f"{pp}{os.pathsep}{path}" if pp else path


def get_spark(
    app_name: str = "risinglight_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if master is None:
        master = f"local[{cpus}]"

    # Python WORKERS import this package to run its UDFs, whatever the
    # cwd, and must also see the vendored google.protobuf fallback
    # (transformWithStateInPandas state clients import it in the worker
    # process, where the pickled-by-value processor never triggers a
    # risinglight_spark import).  Workers inherit PYTHONPATH through
    # the JVM, so extend it before the JVM starts; appended, so an
    # existing entry (or a real protobuf installation) still wins.
    import importlib.util

    _append_pythonpath(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

    vendor = os.path.join(os.path.dirname(__file__), "_vendor")
    try:
        _spec = importlib.util.find_spec("google.protobuf")
    except ModuleNotFoundError:
        _spec = None
    # Export when protobuf is absent OR when the driver already
    # resolves it to our vendored copy (risinglight_spark/__init__.py
    # put _vendor on this process's sys.path, which workers do not
    # inherit — only PYTHONPATH reaches them).
    if _spec is None or (_spec.origin or "").startswith(vendor):
        _append_pythonpath(vendor)
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * cpus, 32)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.cbo.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # No console progress bars: they interleave with stdout and can
        # push the bench's closing JSON line past the driver's tail
        # capture (BENCH_r03 failed to parse exactly this way).
        .config("spark.ui.showConsoleProgress", "false")
        # Split-size tuning: target >= #cores scan tasks at the LOCAL
        # test scale (sf0.1 fact files are ~10 MB; the default 128 MB
        # split makes every scan a single task on a 32-core machine —
        # measured 3.5x slower).  On a real cluster with TB-scale
        # inputs, raise this back toward the 128 MB default via
        # $SPARK_GRAFT_MAX_PARTITION_BYTES: many-MB splits amortize
        # task overhead there, and files outnumber cores anyway.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "1m"),
        )
        .config("spark.sql.files.openCostInBytes", "64k")
    )
    spark = builder.getOrCreate()
    # Pin non-ANSI semantics even when attaching to a pre-existing session.
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark
