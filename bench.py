"""Benchmark harness: runs the headline query suite (TPC-H q1-q22 plus
the LLM-pipeline headliners) at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line with per-query wall seconds.

Results land in BENCH_r{N}.json and are graded against BASELINE.md
(reference publishes no absolute numbers; the driver target is within
2x of baseline at sf0.1).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Queries that constitute the headline metric.  TPC-H is the reference's
# own bench corpus (reference: benches/tpch.rs); the pipeline ops are the
# north-star additions.
HEADLINE_PREFIXES = ("tpch_",)
HEADLINE_EXTRA = (
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "ann_cosine_topk",
    "vector_l2_topk",
    "text_quality_scores",
    "text_corpus_stats",
    "pipeline_clean_corpus",
    "events_sessionization",
    "events_tumbling_window",
    "events_asof_join",
    "events_range_join",
    "pack_sequences",
    "text_repetition_filter",
    "text_decontaminate",
    "text_line_dedup_c4",
    "pipeline_pretraining_e2e",
    "dedup_substring_contained",
    "dedup_incremental_batch",
    "text_bm25_topk",
    "text_chunk_overlap",
    "events_pattern_seq",
    "join_bloom_prefilter",
    "events_interval_union",
    "pipeline_dataset_card",
    "events_variant_json",
    "agg_incremental_merge",
    "ml_logreg_train_step",
    "dedup_semdedup",
    "text_bigram_lm_score",
    "events_type_islands",
    "text_dsir_importance",
    "text_kl_source_divergence",
    "dedup_duplicate_ngram_spans",
    "ml_knn_eval",
    "ml_knn_eval_ivf",
    "events_scd2_history",
    "graph_triangle_count",
    "vector_pca_power_iteration",
    "ml_naive_bayes_langid",
    "vector_pq_encode",
    "search_hybrid_rrf",
    "ann_pq_adc_topk",
    "pipeline_data_quality",
    "events_pit_join_scd2",
    "events_cooccurrence_lift",
    "agg_histogram_equiwidth",
    "agg_bitmap_exact_distinct",
    "events_cumulative_uniques",
    "join_fuzzy_levenshtein",
    "sample_dsir_resample",
    "events_dau_wau",
    "ann_ivf_pq_search",
    "text_token_entropy",
    "text_mlm_masking",
    "events_ab_ttest",
    "events_forecast_backtest",
    "pipeline_drop_reasons",
    "text_oov_rate",
    "join_interval_bucketed_global",
    "agg_weighted_median",
    "events_ab_ratio_delta",
    "ml_kfold_split",
    "ann_filtered_topk",
    "events_attribution_last_touch",
    "sample_systematic_pps",
    "text_gopher_rules",
    "ann_nsw_graph_search",
    "ann_ivf_incremental_upsert",
    "ann_range_search_ivf",
    "mix_doremi_weight_update",
    "dedup_span_removal",
    "mix_epochs_schedule",
    # NOT in the headline: dedup_multi_signal / dedup_connected_components
    # are iterative (O(diameter) rounds of materialized label joins) —
    # correct but not a throughput-representative single-pass query.
    # join_salted_skew deliberately forces the shuffle-join fallback (a
    # pattern demo; broadcast wins at this dim size), and
    # join_dpp_partition_pruned's cost is its in-query partitioned
    # write — neither is a throughput-representative read query.
)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # Attribute the measurement to the exact tree state AT START (the
    # tree can move while a long bench runs): drift across snapshots is
    # only explainable if each JSON records the commit it measured.
    try:
        import subprocess

        sha = subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"],
            cwd=os.path.dirname(os.path.abspath(__file__)),
            capture_output=True,
            text=True,
            timeout=10,
        ).stdout.strip() or None
        # -uno: tracked changes only.  The driver's own untracked
        # artifacts (BENCH_r{N}.json, CORRECTNESS_r{N}.json) are not
        # code drift, and counting them forced git_dirty=true on every
        # driver run for three rounds — defeating the flag's purpose of
        # binding the measurement to a code identity.
        dirty = bool(
            subprocess.run(
                ["git", "status", "--porcelain", "-uno"],
                cwd=os.path.dirname(os.path.abspath(__file__)),
                capture_output=True,
                text=True,
                timeout=10,
            ).stdout.strip()
        )
    except Exception:
        sha, dirty = None, None

    from risinglight_spark.registry import collect
    from risinglight_spark.session import get_spark

    # Shuffle-partition count sized to the BENCH scale, not the cluster
    # default: at sf0.1 every exchange carries a few MB, so 16 map-side
    # partitions beat the session's 2x-cores default by ~15% (pure task
    # scheduling overhead).  On a real cluster this knob scales with
    # data (thousands of partitions at 100 TB) and AQE re-coalesces.
    parts = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "16"))
    spark = get_spark(app_name="risinglight_spark_bench", shuffle_partitions=parts)
    entries = collect()
    names = [n for n in sorted(entries) if n.startswith(HEADLINE_PREFIXES)]
    names += [n for n in HEADLINE_EXTRA if n in entries]

    # Warm-up: run the whole suite once at sf0.001 first.  The tiny SF
    # has identical schemas, so every generated whole-stage-codegen
    # class, Python UDF worker, and shuffle path is compiled/spawned
    # before timing starts — the measured numbers are steady-state
    # query latency, matching the reference's own criterion
    # methodology (benches/tpch.rs: warm-up + sample_size=10), not
    # one-off JIT compile cost that is irrelevant at scale.
    warm_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir
    for name in names:
        try:
            entries[name].fn(spark, warm_dir).collect()
        except Exception as exc:  # never let warm-up kill the bench
            print(f"# warm-up {name} failed: {exc}", file=sys.stderr)
    # Warm the timed SF too: file-index listing + parquet footers are
    # one-time driver metadata work, not query cost (at cluster scale
    # the catalog/metastore amortizes them across every query).
    from risinglight_spark.tables import TABLES, load

    for t in TABLES:
        load(spark, sf_dir, t).count()
    entries["tpch_q6"].fn(spark, sf_dir).collect()

    # Machine calibration: a fixed synthetic workload (hash-agg over a
    # generated range — no I/O, no Python) timed median-of-3.  Box
    # drift between rounds showed as 20-40% swings on IDENTICAL code
    # (r6->r7, and twice within round 8); query/calib ratios are the
    # cross-round-comparable numbers.
    #
    # Hardened after BENCH_r11 (VERDICT r11 item 2): a single-shot
    # pre-suite probe said the box ran 18% FAST while the suite ran 31%
    # SLOW — whatever drifted did so DURING the run, invisible to one
    # sample.  Two additions: (a) the single-stream probe runs before
    # AND after the timed suite, so mid-run drift shows as a
    # before/after gap instead of being inferred from per-query
    # medians; (b) a scheduling-latency probe (32 tiny jobs submitted
    # back-to-back from one thread — job-dispatch round-trip bound,
    # the regime the r11 NSW outlier lived in) complements the single-big-job kernel, which is
    # blind to scheduling-latency drift (SCALE.md: round-12 outlier
    # adjudication).
    import statistics as _stats
    from pyspark.sql import functions as _F

    def _calib() -> float:
        t0 = time.perf_counter()
        spark.range(2_000_000_000).select(
            _F.xxhash64("id").alias("h")
        ).agg(_F.sum("h")).collect()
        return time.perf_counter() - t0

    def _calib_parallel() -> float:
        # 32 tiny independent jobs submitted back-to-back from one
        # thread: measures job-scheduling round-trip latency, which the
        # big single-stage kernel amortizes away entirely.
        t0 = time.perf_counter()
        for _ in range(32):
            spark.range(1_000).agg(_F.sum("id")).collect()
        return time.perf_counter() - t0

    _calib()  # compile
    calib = round(_stats.median(_calib() for _ in range(3)), 3)
    _calib_parallel()  # compile
    calib_sched_before = round(
        _stats.median(_calib_parallel() for _ in range(3)), 3
    )
    # Reference calibration: BENCH_r08's calib_sec on the box state
    # that produced the round-8 baseline.  Calibrated totals are
    # raw * (CALIB_REF / calib) — i.e. "what this run would read on
    # the r8 box" — so cross-round comparisons divide out drift.
    # Read from the baseline ARTIFACT, not a hardcoded copy, so a
    # regenerated r8 baseline can never silently diverge from the
    # constant that claims to mirror it (ADVICE r9).
    CALIB_REF = 0.343  # fallback if the artifact is unreadable
    try:
        with open(
            os.path.join(
                os.path.dirname(os.path.abspath(__file__)), "BENCH_r08.json"
            )
        ) as f:
            CALIB_REF = float(json.load(f)["parsed"]["calib_sec"])
    except Exception as exc:
        print(f"# calib ref fallback ({exc})", file=sys.stderr)

    # Median-of-N timing (criterion-style: the reference benches with
    # sample_size=10 and reports the distribution median).  The median
    # resists both one-off machine-load spikes AND lucky cache hits —
    # ml_knn_eval_ivf showed +/-50% run-to-run min variance, and the
    # r6->r7 "regression" was pure environment drift that best-of-2
    # couldn't smooth (VERDICT r7).
    import statistics

    samples = int(os.environ.get("SPARK_GRAFT_BENCH_SAMPLES", "3"))
    # In-headline asset-residency cap (VERDICT r15 item 2): the 96-entry
    # pass accumulates ~60 persisted assets; by its tail the storage
    # pressure read four UNTOUCHED entries at 3-7x their pins in the
    # r15 driver run (ann_filtered_topk, events_ab_ratio_delta,
    # agg_weighted_median, ml_kfold_split — all at/under pin in a fresh
    # session).  Dropping dead assets every N entries bounds residency;
    # an affected entry's FIRST sample rebuilds what it needs and the
    # median-of-3 discards that sample, so the per-entry steady-state
    # methodology (and comparability with every pinned envelope) is
    # unchanged.  Parameterized: on a real cluster the _ASSET_CACHE LRU
    # bound plays this role against executor storage; 0 disables.
    clear_every = int(os.environ.get("SPARK_GRAFT_ASSET_CLEAR_EVERY", "24"))
    from risinglight_spark.operators import clear_cached_assets as _clear_assets

    per_query: dict[str, float] = {}
    total = 0.0
    for qi, name in enumerate(names):
        if clear_every and qi and qi % clear_every == 0:
            _clear_assets()
        obs = []
        for _ in range(samples):
            t0 = time.perf_counter()
            entries[name].fn(spark, sf_dir).collect()
            obs.append(time.perf_counter() - t0)
        dt = round(statistics.median(obs), 3)
        per_query[name] = dt
        total += dt
        print(f"# {name}: {dt:.3f}s", file=sys.stderr)

    # Post-suite probes: a before/after gap on EITHER kernel means the
    # box drifted mid-run and the raw total is not attributable to code.
    calib_after = round(_stats.median(_calib() for _ in range(3)), 3)
    calib_sched_after = round(
        _stats.median(_calib_parallel() for _ in range(3)), 3
    )

    # Rotating annex: the headline suite covers 92 of 309 registry
    # entries; the other 215 have scale probes but no per-round
    # wall-time trend.  Each round benches a different 50-entry slice
    # (1 sample each — trend data, not a latency claim), rotating on
    # the highest round N among files named exactly BENCH_r<N>.json.
    annex: dict[str, float] = {}
    slice_idx = 0
    # Entries whose single-sample annex timings tripped the 1.5x drift
    # gate on rounds with NO code change (sub-0.5s, pure sampling
    # noise): re-time these median-of-3 every round so the drift table
    # compares stable statistics (VERDICT r9 item 5).
    ANNEX_RECHECK = (
        "subquery_scalar",
        "text_fingerprint",
        "vector_distance_ops",
        "vector_quantize_int8",
    )
    if os.environ.get("SPARK_GRAFT_BENCH_ANNEX", "1") != "0":
        repo = os.path.dirname(os.path.abspath(__file__))
        pool = [n for n in sorted(entries) if n not in per_query]
        width = 50
        n_slices = max(1, -(-len(pool) // width))
        rounds = [
            int(m.group(1))
            for f in os.listdir(repo)
            if (m := re.fullmatch(r"BENCH_r(\d+)\.json", f))
        ]
        slice_idx = max(rounds, default=0) % n_slices
        chunk = pool[slice_idx * width : (slice_idx + 1) * width]
        chunk += [
            n for n in ANNEX_RECHECK if n in entries and n not in chunk
        ]
        for name in chunk:
            n_samp = 3 if name in ANNEX_RECHECK else 1
            try:
                entries[name].fn(spark, warm_dir).collect()  # compile/warm
                obs = []
                for _ in range(n_samp):
                    t0 = time.perf_counter()
                    entries[name].fn(spark, sf_dir).collect()
                    obs.append(time.perf_counter() - t0)
                annex[name] = round(statistics.median(obs), 3)
                print(f"# annex {name}: {annex[name]:.3f}s", file=sys.stderr)
            except Exception as exc:  # annex is telemetry, never fatal
                print(f"# annex {name} failed: {exc}", file=sys.stderr)

    # Compute-bound PIPELINE pass (VERDICT r14 item 2): the heavy
    # pipeline entries' sf0.1 pins sit in the 1-2 s dispatch-noise
    # band, so like TPC-H they need a scale where wall tracks compute.
    # tools/pipeline_scale_bench.py --pin wrote the `pipeline_scale`
    # block (480k known-dup-structure docs / 129.6k vecs / 16x
    # events+customer, each entry ~5-30 s); this pass re-times the
    # same 12 entries on the same (deterministically rebuilt) corpus,
    # median-of-3 after an untimed priming pass, and emits
    # vs_pinned_pipeline_scale.  ON by default; SPARK_GRAFT_
    # PIPELINE_SCALE=0 skips (quick local loops).  Runs BEFORE the
    # SF1 pass: these entries read parquet via Tables(), not the
    # TPC-H temp views, but the SF1 pass must stay the LAST view
    # consumer (see the ordering constraint below).
    vs_pinned_pipeline_scale = None
    if os.environ.get("SPARK_GRAFT_PIPELINE_SCALE", "1") == "1":
        try:
            sys.path.insert(
                0,
                os.path.join(
                    os.path.dirname(os.path.abspath(__file__)), "tools"
                ),
            )
            # Free the headline/annex passes' memoized assets first
            # (r15): the pinned envelope was recorded in a fresh
            # session, and carrying ~60 dead persisted assets into
            # this pass squeezed execution memory enough to read
            # sample_dsir_resample at 4.4x its pin (pure storage
            # pressure, not code).  Cleared assets rebuild during the
            # priming pass below, so the timed samples stay
            # steady-state.
            from risinglight_spark.operators import clear_cached_assets

            clear_cached_assets()
            from pipeline_scale_bench import (
                build_corpus as _ps_build,
                prime as _ps_prime,
                run_entries as _ps_run,
                run_entries_cold as _ps_run_cold,
            )

            with open(
                os.path.join(
                    os.path.dirname(os.path.abspath(__file__)),
                    "BASELINE_BENCH.json",
                )
            ) as f:
                _ps_pin = json.load(f)["pipeline_scale"]
            _ps_build(spark)
            _ps_prime(spark)
            _ps_cb = round(_stats.median(_calib() for _ in range(3)), 3)
            ps_q = _ps_run(spark, samples=3, stat="median")
            _ps_ca = round(_stats.median(_calib() for _ in range(3)), 3)
            # Cold-call pass AFTER the bracketed hot window (VERDICT
            # r15 item 6): per entry, one sample with assets force-
            # dropped first, so memoized-asset wins are attributed
            # honestly (hot = steady state, cold = first call after a
            # cache wipe, asset builds included).
            ps_cold = None
            if os.environ.get("SPARK_GRAFT_PIPELINE_COLD", "1") == "1":
                ps_cold = _ps_run_cold(spark)
            _ps_scale = float(_ps_pin["calib_ref"]) / ((_ps_cb + _ps_ca) / 2)
            _ps_pq = _ps_pin["queries"]
            _ps_r = {
                n: round(ps_q[n] * _ps_scale / _ps_pq[n], 3)
                for n in ps_q
                if n in _ps_pq
            }
            vs_pinned_pipeline_scale = {
                "queries": ps_q,
                # raw (uncalibrated) this-box total: the compute-bound
                # number a low-core run can be compared against for
                # scaling signal (VERDICT r15 item 4 — the sf0.1
                # headline is dispatch-bound and cannot show scaling).
                "raw_total": round(sum(ps_q.values()), 3),
                "cold_queries": ps_cold,
                "samples": 3,
                "calib_before": _ps_cb,
                "calib_after": _ps_ca,
                "kernel_drift": round(
                    max(_ps_cb, _ps_ca) / min(_ps_cb, _ps_ca), 3
                )
                > 1.25,
                "total_ratio": round(
                    sum(ps_q[n] * _ps_scale for n in _ps_r)
                    / sum(_ps_pq[n] for n in _ps_r),
                    3,
                ),
                "median_ratio": round(
                    _stats.median(_ps_r.values()), 3
                ),
                "worst5": dict(
                    sorted(_ps_r.items(), key=lambda kv: -kv[1])[:5]
                ),
            }
        except Exception as exc:
            print(f"# pipeline_scale pass failed ({exc})", file=sys.stderr)

    # Compute-bound TPC-H pass at dbgen SF1 (VERDICT r13 item 1, made
    # part of the official per-round record in r15 per VERDICT r14
    # item 1): the sf0.1 TPC-H slice is all sub-second dispatch noise
    # (BASELINE.md: +/-70%), so without this block the flagship
    # queries were the least-protected part of the 2x gate.  The pass
    # runs the reference's q1-q22 verbatim at SF1 (6M-row lineitem;
    # dbgen parquet reused across rounds at /tmp/dbgen_sf1) bracketed
    # by its own kernels, and vs_pinned_sf1 compares against the
    # pinned `sf1` block (tools/tpch_sf1_bench.py --pin).  ON by
    # default — every BENCH_r{N}.json carries a non-null
    # vs_pinned_sf1; set SPARK_GRAFT_SF1=0 to skip (e.g. a quick local
    # iteration loop that only cares about one sf0.1 entry).
    vs_pinned_sf1 = None
    if os.environ.get("SPARK_GRAFT_SF1", "1") == "1":
        try:
            sys.path.insert(
                0,
                os.path.join(
                    os.path.dirname(os.path.abspath(__file__)), "tools"
                ),
            )
            from tpch_sf1_bench import (
                drop_sf1_tables,
                register_sf1_tables,
                run_sf1_queries,
            )

            # Same hygiene as the pipeline_scale pass (r15): drop the
            # pipeline corpus's memoized assets (span edit lists and
            # gram indexes over 480k docs are hundreds of MB of
            # storage) before the SF1 broadcasts build — the r15
            # baseline run's SF1 pass died in BroadcastExchange with
            # "Not enough memory to build and broadcast" purely from
            # the accumulated residency.
            from risinglight_spark.operators import clear_cached_assets

            clear_cached_assets()
            with open(
                os.path.join(
                    os.path.dirname(os.path.abspath(__file__)),
                    "BASELINE_BENCH.json",
                )
            ) as f:
                _sf1_pin = json.load(f)["sf1"]
            # ORDERING CONSTRAINT (ADVICE r14): register_sf1_tables
            # drops the eight TPC-H temp-view names and registers
            # catalog tables under them on the shared session.  This is
            # safe ONLY because (a) this pass is the last view consumer
            # in main() — everything after it is arithmetic (and the
            # tables are dropped right after the timed window) — and
            # (b) every registry entry re-registers its own sf_dir's
            # views per call (operators/tpch.py: register_views inside
            # fn), so even a future section added below heals itself IF
            # it goes through the registry.  Any future direct
            # spark.sql() against the TPC-H names below this line would
            # silently read SF1 data — don't.
            #
            # r16 (VERDICT r15 item 5, guide §3.1): catalog tables +
            # ANALYZE column stats + CBO join reorder instead of
            # stat-less temp views — the setup (untimed, ~20 s) gives
            # the planner real ndv/rowcounts and q5 drops ~4x (the
            # pinned block's largest entry); see tpch_sf1_bench.py
            # docstring for the measured A/B.
            register_sf1_tables(spark)
            run_sf1_queries(spark, samples=1)  # warm pass, untimed
            # Median-of->=3 regardless of SPARK_GRAFT_BENCH_SAMPLES
            # (ADVICE r14): the headline knob may be dropped to 1 for
            # quick loops, but a single contended SF1 sample would put
            # a misleading ratio on the official line.
            _sf1_n = max(3, samples)
            _sf1_cb = round(_stats.median(_calib() for _ in range(3)), 3)
            sf1_q = run_sf1_queries(spark, samples=_sf1_n, stat="median")
            _sf1_ca = round(_stats.median(_calib() for _ in range(3)), 3)
            _sf1_scale = float(_sf1_pin["calib_ref"]) / (
                (_sf1_cb + _sf1_ca) / 2
            )
            _pq = _sf1_pin["queries"]
            _r = {
                n: round(sf1_q[n] * _sf1_scale / _pq[n], 3)
                for n in sf1_q
                if n in _pq
            }
            vs_pinned_sf1 = {
                "queries": sf1_q,
                # raw this-box total for cross-core-count scaling
                # comparisons (VERDICT r15 item 4).
                "raw_total": round(sum(sf1_q.values()), 3),
                "samples": _sf1_n,
                "calib_before": _sf1_cb,
                "calib_after": _sf1_ca,
                # Mid-run drift annotation (ADVICE r14): the pinner
                # REFUSES on >1.25x kernel drift; a per-round bench
                # can't refuse, so it flags instead — a flagged ratio
                # is adjudicated via tools/outlier_recheck.py, not
                # read at face value.
                "kernel_drift": round(
                    max(_sf1_cb, _sf1_ca) / min(_sf1_cb, _sf1_ca), 3
                )
                > 1.25,
                "total_ratio": round(
                    sum(sf1_q[n] * _sf1_scale for n in _r)
                    / sum(_pq[n] for n in _r),
                    3,
                ),
                "median_ratio": round(
                    _stats.median(_r.values()), 3
                ),
                "worst5": dict(
                    sorted(_r.items(), key=lambda kv: -kv[1])[:5]
                ),
            }
            drop_sf1_tables(spark)
        except Exception as exc:
            print(f"# sf1 pass failed ({exc})", file=sys.stderr)

    # Pinned fixed baseline (VERDICT r12 item 2): BASELINE_BENCH.json
    # holds per-query medians expressed in r10-box seconds (r10's
    # driver medians verbatim; later-landed queries filled from a clean
    # run calibrated onto the same kernel).  Every ratio below converts
    # THIS run onto that box via the calibration kernel and divides by
    # the pinned number — so "within 2x" is checked against a fixed
    # number, not adjudicated against round-over-round drift essays.
    vs_pinned = None
    try:
        with open(
            os.path.join(
                os.path.dirname(os.path.abspath(__file__)),
                "BASELINE_BENCH.json",
            )
        ) as f:
            _pin = json.load(f)
        _pin_q = _pin["queries"]
        _scale = float(_pin["calib_ref"]) / ((calib + calib_after) / 2)
        _shared = [n for n in per_query if n in _pin_q]
        _ratios = {
            n: round(per_query[n] * _scale / _pin_q[n], 3) for n in _shared
        }
        _srt = sorted(_ratios.items(), key=lambda kv: -kv[1])
        # Scheduling-latency ratio alongside: sub-second queries (all
        # of TPC-H at sf0.1) are dispatch-bound, not compute-bound, so
        # their drift tracks this kernel, not the single-stream one
        # (the r12 NSW adjudication's regime split).
        _sched_ref = _pin.get("calib_sched_ref")
        _sched_ratio = (
            round(
                ((calib_sched_before + calib_sched_after) / 2) / _sched_ref,
                3,
            )
            if _sched_ref
            else None
        )
        vs_pinned = {
            "n_shared": len(_shared),
            "sched_kernel_ratio": _sched_ratio,
            "total_ratio": round(
                sum(per_query[n] * _scale for n in _shared)
                / sum(_pin_q[n] for n in _shared),
                3,
            ),
            "median_ratio": round(
                statistics.median(_ratios.values()), 3
            ),
            "worst5": dict(_srt[:5]),
        }
    except Exception as exc:
        print(f"# pinned baseline unavailable ({exc})", file=sys.stderr)

    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    full = {
        "metric": "headline_suite_total",
        "value": round(total, 3),
        "unit": "sec",
        "queries": per_query,
        "sf": float(sf) if sf else None,
        "n_queries": len(per_query),
        "git_sha": sha,
        "git_dirty": dirty,
        "samples": samples,
        "sample_stat": "median",
        "calib_sec": calib,
        "calib_sec_after": calib_after,
        "calib_sched_sec": calib_sched_before,
        "calib_sched_sec_after": calib_sched_after,
        "calib_ref_sec": CALIB_REF,
        # Calibrated totals use the MEAN of the before/after probes —
        # the best single estimate of box speed over the suite window.
        # When before/after disagree materially the gap itself is the
        # finding (mid-run drift; see calib_sec vs calib_sec_after).
        "value_calibrated": round(
            total * (CALIB_REF / ((calib + calib_after) / 2)), 3
        ),
        "vs_pinned_baseline": vs_pinned,
        "vs_pinned_sf1": vs_pinned_sf1,
        "vs_pinned_pipeline_scale": vs_pinned_pipeline_scale,
        "annex": annex,
        "annex_slice": slice_idx,
        "annex_total": round(sum(annex.values()), 3),
        "annex_n": len(annex),
    }
    # The driver captures only the LAST 2000 chars of output and parses
    # a JSON line out of them.  The full per-query dict (88 queries) is
    # ~3 KB, which is why BENCH_r03/r04 recorded "parsed": null — the
    # line's HEAD fell outside the tail window.  Emit a compact line as
    # the sole stdout line (guaranteed < 1.5 KB: TPC-H per-query + the
    # slowest 12 others; the rest summarized), and persist the full
    # result to BENCH_RESULT.json.
    tpch_q = {n: v for n, v in per_query.items() if n.startswith("tpch_q")}
    extras = {n: v for n, v in per_query.items() if not n.startswith("tpch_q")}
    # FIXED print window (VERDICT r15 item 6): the old "slowest 12"
    # selection swapped entries between rounds, and the driver's
    # per-query prev/now comparison read each swap as queries
    # dropped/newly-passing (r15: a false "6 dropped" signal for the
    # six entries that got FASTER).  The printed extras are now the
    # exact 12 the r15 line carried, so consecutive rounds compare the
    # same set; the full per-query dict for all entries is in
    # BENCH_RESULT.json (committed as BENCH_FULL_r{N}.json each round).
    PRINTED_EXTRAS = (
        "agg_weighted_median",
        "events_ab_ratio_delta",
        "ann_filtered_topk",
        "dedup_duplicate_ngram_spans",
        "dedup_semdedup",
        "events_sessionization",
        "dedup_minhash_lsh",
        "events_type_islands",
        "ann_nsw_graph_search",
        "events_scd2_history",
        "events_cooccurrence_lift",
        "ml_kfold_split",
    )
    slow = {n: extras[n] for n in PRINTED_EXTRAS if n in extras}
    compact = dict(full)
    compact.pop("annex")  # 50 entries; summarized by annex_total/annex_n
    if vs_pinned_sf1:
        # keep the ratios on the line; the 22-query dict lives in the file
        compact["vs_pinned_sf1"] = {
            k: v for k, v in vs_pinned_sf1.items() if k != "queries"
        }
    if vs_pinned_pipeline_scale:
        # per-query dicts (hot + cold) live in the full file; the line
        # keeps the ratios and raw_total only (2000-char tail budget)
        compact["vs_pinned_pipeline_scale"] = {
            k: v
            for k, v in vs_pinned_pipeline_scale.items()
            if k not in ("queries", "cold_queries")
        }
    compact["queries"] = {**tpch_q, **slow}
    compact["queries_elided"] = len(per_query) - len(compact["queries"])
    compact["full_results"] = "BENCH_RESULT.json"
    line = json.dumps(compact, separators=(",", ":"))
    # Belt and braces: stop the executor pool before printing so no late
    # stderr interleaves; write the full file copy FIRST (a failed file
    # write must never take the stdout line down with it), then emit the
    # compact line with an explicit flush as the final stdout output.
    spark.stop()
    try:
        with open(
            os.path.join(
                os.path.dirname(os.path.abspath(__file__)), "BENCH_RESULT.json"
            ),
            "w",
        ) as f:
            f.write(json.dumps(full) + "\n")
    except OSError as exc:
        print(f"# BENCH_RESULT.json not written: {exc}", file=sys.stderr)
    print(line, flush=True)


if __name__ == "__main__":
    main()
