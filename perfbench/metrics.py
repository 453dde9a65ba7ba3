"""Metric names, units, input sizes and the arithmetic shared by the
workloads.  ``BENCHMARK.json`` lists the same names; the smoke test
checks that the two agree."""

from __future__ import annotations

import statistics

# Input sizes per scale.  "full" is what BENCHMARK.json runs; "smoke" is
# the quick end-to-end check in test_smoke.py.
SCALES = {
    "full": {"sf": 0.01, "docs": 1500, "vecs": 750, "events": 6000,
             "fetch_rows": 20_000, "passes_min": 2, "rounds_min": 3},
    "smoke": {"sf": 0.001, "docs": 150, "vecs": 60, "events": 600,
              "fetch_rows": 500, "passes_min": 1, "rounds_min": 1},
}

END_TO_END = {
    "setup_s": "s",
    "cold_s": "s",
    "hot_s": "s",
    "ops_per_s": "1/s",
    "op_p50_ms": "ms",
    "op_p90_ms": "ms",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s",
    "tables.load_s": "s",
    "tables.load_calls": "count",
    "operators.construct_s": "s",
    "operators.asset_builds": "count",
    "operators.asset_hits": "count",
    "operators.asset_build_s": "s",
    "operators.persisted_mb": "MB",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.noop_s": "s",
    "exec.jobs": "count",
    "exec.tasks": "count",
    "exec.failed_tasks": "count",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "udf.python_s": "s",
    "udf.rows": "count",
    "transfer.collect_s": "s",
    "dialect.rewrite_ms": "ms",
    "executor.query_ms": "ms",
    "executor.statement_ms": "ms",
    "executor.cow_write_mb": "MB",
    "pgwire.rows_sent": "count",
    "pgwire.send_s": "s",
    "pgwire.wait_ms": "ms",
    "trace.wall_s": "s",
    "trace.self_sum_s": "s",
    "trace.harness_s": "s",
    "trace.overhead_s": "s",
    "trace.cold_s": "s",
}


def quantile(values: list[float], q: int) -> float:
    """The q-th percentile, interpolated between samples."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def end_to_end(setup_s: float, cold: float, hot: list[float],
               latencies: list[float]) -> dict:
    """The end-to-end metrics common to every workload.  A pass is one
    run of the workload's operation list; ``latencies`` are the hot
    operations' seconds.  peak_rss_mb is added by run.py, which watches
    the whole process tree.

    op_p50_ms is the low median, an observed latency: the pipeline's
    twelve hot calls split into six fast and six slow ones, and the mean
    of the middle two would sit in the gap between them, moving with
    whichever entry is slowest that run."""
    return {
        "setup_s": setup_s,
        "cold_s": cold,
        "hot_s": statistics.median(hot),
        "ops_per_s": len(latencies) / sum(hot),
        "op_p50_ms": 1e3 * statistics.median_low(latencies),
        "op_p90_ms": 1e3 * quantile(latencies, 90),
    }


def per_layer(values: dict) -> dict:
    """Every per-layer metric, 0 for a layer the workload bypasses."""
    unknown = set(values) - set(PER_LAYER)
    if unknown:
        raise KeyError(f"not in PER_LAYER: {sorted(unknown)}")
    return {k: values.get(k, 0) for k in PER_LAYER}


def json_metrics(values: dict) -> dict:
    units = {**END_TO_END, **PER_LAYER}
    return {k: {"value": v, "unit": units[k]} for k, v in values.items()}
