"""Generator process for the in-process workloads, ``olap_tpch`` and
``llm_pipeline``.  ``run.py`` starts it with the working directory inside
the run's work dir and the package root on ``PYTHONPATH``; it writes its
result to ``result.json`` there.

One closed-loop stream runs registry entries the way the registry's
callers do: ``entry.fn(spark, corpus_dir)`` builds the DataFrame on the
Spark driver, ``collect()`` runs it.  The stream makes one cold pass
after set-up, then hot passes until ``--seconds`` have gone by (at
least ``passes_min``).  A traced run instead makes a fixed sequence --
a traced cold pass, then traced, untraced and traced hot passes -- and
reports per-layer numbers.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import corpus  # noqa: E402
import metrics  # noqa: E402
from check import Oracle, by_name, result_hash, rows_match  # noqa: E402

TPCH = tuple(f"tpch_q{i}" for i in range(1, 23))
PIPELINE = (
    "dedup_minhash_lsh",
    "dedup_semdedup",
    "ml_knn_eval_ivf",
    "text_decontaminate",
    "join_fuzzy_levenshtein",
    "events_sessionization",
)
# DuckDB runs these two oracles with per-character list lambdas, about
# 15 s each at the full corpus: the smoke scale checks them, a full run
# checks them only for pass-to-pass stability.
SLOW_ORACLES = frozenset({"dedup_minhash_lsh", "text_decontaminate"})
SETUP_REPEATS = 3


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=("olap_tpch", "llm_pipeline"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, required=True)
    ap.add_argument("--scale", required=True)
    ap.add_argument("--cache", required=True)
    args = ap.parse_args()
    spawned = float(os.environ["PERFBENCH_SPAWNED"])
    sizes = metrics.SCALES[args.scale]
    pipeline = args.workload == "llm_pipeline"
    names = PIPELINE if pipeline else TPCH

    t0 = time.perf_counter()
    from risinglight_spark.session import get_spark

    spark = get_spark(app_name=f"perfbench_{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    from risinglight_spark.registry import collect
    from risinglight_spark.tables import register_views

    entries = collect()
    layer = None
    if args.trace:
        from tracing import SparkCounters, Tracer

        layer = Layers(spark, Tracer(), SparkCounters())
        layer.install()
    tracer = layer.tracer if layer else None
    dbgen_dir = corpus.dbgen_tables(lambda: spark, args.cache, sizes["sf"])
    one_off = time.time() - spawned
    builds = []
    for rep in range(SETUP_REPEATS):
        t = time.perf_counter()
        with tracer.span("setup") if tracer else contextlib.nullcontext():
            corpus_dir = corpus.build(os.path.abspath(f"corpus{rep}"), dbgen_dir, args.seed, sizes)
            register_views(spark, corpus_dir)
        builds.append(time.perf_counter() - t)
    setup_s = one_off + statistics.median(builds)

    stream = Stream(spark, entries, corpus_dir, names, args.seed, layer)
    if pipeline:
        from risinglight_spark.operators import clear_cached_assets

        clear_cached_assets()
    cold = stream.run_pass()
    hot: list[float] = []
    if tracer is None:
        start = time.perf_counter()
        while len(hot) < sizes["passes_min"] or time.perf_counter() - start < args.seconds:
            hot.append(stream.run_pass())
    else:
        traced = [stream.run_pass()]
        tracer.enabled = False
        untraced = stream.run_pass()
        tracer.enabled = True
        traced.append(stream.run_pass())
        hot = traced

    t = time.perf_counter()
    oracle = Oracle(corpus_dir)
    for name in names:
        if pipeline and name in SLOW_ORACLES and args.scale != "smoke":
            continue
        want = oracle.rows(entries[name].oracle)
        stream.check(name, lambda got, want=want: rows_match(got, want))
    stream.check_stable()
    check_s = time.perf_counter() - t

    if tracer is None:
        result = metrics.end_to_end(setup_s, cold, hot, stream.hot_latencies())
    else:
        result = layer.report(session_s, cold, hot, untraced)
        tracer.dump("spans.json")
    report = {
        "attempted": stream.attempted,
        "failed": stream.failed,
        "metrics": result,
        "note": f"hot passes {_secs(hot)} s of {len(names)} ops; setup builds "
        f"{_secs(builds)} s; check {check_s:.2f} s; cold/hot s: {stream.note()}",
    }
    with open("result.json", "w") as f:
        json.dump(report, f)
    return 0


def _secs(xs: list[float]) -> str:
    return ", ".join(f"{x:.2f}" for x in xs)


class Stream:
    """One closed-loop stream over registry entries.  Each pass runs
    every entry once in a seeded order; every result is kept for the
    output checks."""

    def __init__(self, spark, entries, corpus_dir, names, seed, layers):
        self.spark, self.entries, self.corpus_dir = spark, entries, corpus_dir
        self.names, self.layers = names, layers
        self.tracer = layers.tracer if layers else None
        self.rng = random.Random(seed)
        self.results: dict[str, list[list[tuple]]] = {n: [] for n in names}
        # seconds per call of each entry, pass by pass; [0] is the cold call
        self.times: dict[str, list[float]] = {n: [] for n in names}
        self.attempted = self.failed = 0
        self.op = 0

    def run_pass(self) -> float:
        order = list(self.names)
        self.rng.shuffle(order)
        t0 = time.perf_counter()
        with self.tracer.span("pass") if self.tracer else contextlib.nullcontext():
            for name in order:
                t = time.perf_counter()
                rows = self._run(name)
                self.times[name].append(time.perf_counter() - t)
                self.results[name].append(rows)
        return time.perf_counter() - t0

    def hot_latencies(self) -> list[float]:
        return [t for ts in self.times.values() for t in ts[1:]]

    def note(self) -> str:
        """Each entry's cold call and median hot call, in seconds."""
        return ", ".join(
            f"{n} {ts[0]:.2f}/{statistics.median(ts[1:]):.2f}"
            for n, ts in self.times.items() if len(ts) > 1
        )

    def _run(self, name: str) -> list[tuple]:
        self.op += 1
        self.attempted += 1
        try:
            if self.tracer is not None and self.tracer.enabled:
                df, rows = self._traced(name)
            else:
                df = self.entries[name].fn(self.spark, self.corpus_dir)
                rows = df.collect()
            return by_name(df.columns, rows)
        except Exception as exc:  # a failed operation is counted, not fatal
            print(f"# {name} failed: {exc!r}"[:500], file=sys.stderr)
            self.failed += 1
            return None

    def _traced(self, name: str):
        sc = self.spark.sparkContext
        group = f"op{self.op}"
        with self.tracer.span("op", self.op):
            sc.setJobGroup(group, name)
            with self.tracer.span("operators.construct"):
                df = self.entries[name].fn(self.spark, self.corpus_dir)
            # alternate the legs so neither always absorbs the warm-up
            legs = ("noop", "collect") if self.op % 2 else ("collect", "noop")
            for leg in legs:
                if leg == "noop":
                    sc.setJobGroup(group + "-noop", name)
                    with self.tracer.span("exec.noop"):
                        df.write.format("noop").mode("overwrite").save()
                    sc.setJobGroup(group, name)
                else:
                    with self.tracer.span("transfer.collect"):
                        rows = df.collect()
        self.layers.after_op(df, group)
        return df, rows

    def check(self, name: str, ok) -> None:
        """Count each stored result of ``name`` that ``ok`` rejects."""
        for rows in self.results[name]:
            if rows is not None and not ok(rows):
                print(f"# {name}: result differs from the oracle", file=sys.stderr)
                self.failed += 1

    def check_stable(self) -> None:
        """Every pass must give the same result for an entry."""
        for name, runs in self.results.items():
            hashes = {result_hash(r) for r in runs if r is not None}
            if len(hashes) > 1:
                print(f"# {name}: result changed between passes", file=sys.stderr)
                self.failed += 1


class Layers:
    """Per-layer counters for a traced run: spans around ``tables.load``
    and the asset cache, Spark counters after each operation."""

    def __init__(self, spark, tracer, counters) -> None:
        self.spark, self.tracer, self.counters = spark, tracer, counters
        self.asset_builds = self.asset_hits = 0
        self.asset_build_s = 0.0
        self.persisted_mb = 0.0

    def install(self) -> None:
        import risinglight_spark.operators as ops
        import risinglight_spark.tables as tables

        self.tracer.patch(tables, "load", "tables.load")
        self.tracer.patch(ops, "_cached_persisted", "operators.asset", self._asset)

    def _asset(self, orig):
        from risinglight_spark.operators import _ASSET_CACHE

        def traced(*args, **kwargs):
            before = dict(_ASSET_CACHE)
            t = time.perf_counter()
            with self.tracer.span("operators.asset"):
                out = orig(*args, **kwargs)
            if any(before.get(k) is not v for k, v in _ASSET_CACHE.items()):
                self.asset_builds += 1
                self.asset_build_s += time.perf_counter() - t
            else:
                self.asset_hits += 1
            return out

        return traced

    def after_op(self, df, group: str) -> None:
        from tracing import persisted_mb

        sc = self.spark.sparkContext
        self.counters.after(sc, group, df)
        self.persisted_mb = max(self.persisted_mb, persisted_mb(sc))

    def report(self, session_s, cold, hot, untraced) -> dict:
        t = self.tracer
        self_s = t.self_times()
        values = {
            "session.start_s": session_s,
            "tables.load_s": self_s.get("tables.load", 0.0),
            "tables.load_calls": t.count("tables.load"),
            "operators.construct_s": self_s.get("operators.construct", 0.0),
            "operators.asset_builds": self.asset_builds,
            "operators.asset_hits": self.asset_hits,
            "operators.asset_build_s": self.asset_build_s,
            "operators.persisted_mb": self.persisted_mb,
            **self.counters.values(),
            "exec.noop_s": t.total("exec.noop"),
            "transfer.collect_s": t.total("transfer.collect") - t.total("exec.noop"),
            "trace.wall_s": t.total("pass"),
            "trace.self_sum_s": sum(self_s.values()) - t.total("setup"),
            "trace.harness_s": self_s.get("pass", 0.0) + self_s.get("op", 0.0),
            "trace.overhead_s": statistics.median(hot) - untraced,
            "trace.cold_s": cold,
        }
        return metrics.per_layer(values)


if __name__ == "__main__":
    sys.exit(main())
