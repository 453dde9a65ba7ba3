"""Degenerate-input regressions for the round-3 advisor findings:

- text_mlm_masking on a zero-token / whitespace-only / NULL document
  (Spark sequence(1, 0) yields descending [1, 0] and element_at(t, 0)
  throws — the masking transform must iterate the token array itself);
- agg_histogram_equiwidth on a constant-valued column (hi == lo makes
  the bin width 0; engines disagree on x/0, so the degenerate case is
  pinned to bin 0 on both sides).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_mlm_masking_empty_docs(spark, tmp_path):
    docs = spark.createDataFrame(
        [
            (1, "hello world foo bar", "en", "web", 19),
            (2, "", "en", "web", 0),
            (3, "   ", "en", "web", 3),
            (4, None, "en", "web", 0),
        ],
        "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars INT",
    )
    sf = str(tmp_path)
    docs.write.mode("overwrite").parquet(f"{sf}/documents.parquet")
    from risinglight_spark.operators.text_analysis import text_mlm_masking

    rows = {r["doc_id"]: r for r in text_mlm_masking(spark, sf).collect()}
    assert rows[1]["n_tokens"] == 4
    assert rows[2]["n_tokens"] == 0 and rows[2]["n_masked"] == 0
    assert rows[3]["n_tokens"] == 0 and rows[3]["n_masked"] == 0


def test_histogram_constant_column(spark, tmp_path):
    ev = spark.createDataFrame(
        [(i, 7.5) for i in range(10)], "event_id BIGINT, value DOUBLE"
    ).withColumns(
        {
            "user_id": F.lit(1).cast("bigint"),
            "event_type": F.lit("x"),
            "ts": F.lit("2024-01-01 00:00:00").cast("timestamp_ntz"),
            "properties": F.lit(None).cast("string"),
        }
    )
    sf = str(tmp_path)
    ev.write.mode("overwrite").parquet(f"{sf}/events.parquet")
    from risinglight_spark.operators.aggregates import agg_histogram_equiwidth

    out = agg_histogram_equiwidth(spark, sf).collect()
    assert len(out) == 1
    assert out[0]["bin"] == 0 and out[0]["n"] == 10
    assert out[0]["bin_lo"] == 7.5 and out[0]["bin_hi"] == 7.5


def test_gopher_rules_degenerate_docs(spark, tmp_path):
    """text_gopher_rules on empty / whitespace-only / NULL / single-line
    documents: NULL text is excluded; zero-token docs keep all-NULL
    ratios and keep=false (no division-by-zero divergence between
    engines)."""
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox and that dog be with it of", "en",
             "web", 47),
            (2, "", "en", "web", 0),
            (3, "   \n  \n ", "en", "web", 8),
            (4, None, "en", "web", 0),
            (5, "- bullet\n- bullet two\n- three", "en", "web", 29),
        ],
        "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars INT",
    )
    sf = str(tmp_path)
    docs.write.mode("overwrite").parquet(f"{sf}/documents.parquet")
    from risinglight_spark.operators.text_analysis import text_gopher_rules

    rows = {r["doc_id"]: r for r in text_gopher_rules(spark, sf).collect()}
    assert 4 not in rows  # NULL text excluded
    assert rows[2]["word_count"] == 0
    assert rows[2]["mean_word_len"] is None
    assert rows[2]["keep"] is False
    assert rows[3]["word_count"] == 0 and rows[3]["keep"] is False
    # short doc: word-count rule fails but per-rule columns are exact
    assert rows[1]["stop_hits"] >= 2 and rows[1]["keep"] is False
    assert abs(rows[5]["bullet_line_frac"] - 1.0) < 1e-9


def test_semdedup_zero_and_duplicate_vectors(spark, tmp_path):
    """dedup_semdedup replica collapse: identical embeddings keep only
    the min-vec_id representative; zero vectors (cos undefined) are
    never dropped."""
    import risinglight_spark.operators.dedup as D

    dim = D.DIM
    v1 = [1.0] + [0.0] * (dim - 1)
    z = [0.0] * dim
    emb = spark.createDataFrame(
        [
            (1, v1, 0),
            (2, v1, 0),  # exact replica of 1 -> dropped
            (3, z, 0),   # zero vector -> never dropped
            (4, z, 0),   # zero replica -> still not dropped (cos NaN)
        ],
        f"vec_id BIGINT, embedding ARRAY<DOUBLE>, label INT",
    )
    sf = str(tmp_path)
    emb.write.mode("overwrite").parquet(f"{sf}/embeddings.parquet")
    rows = {
        r["vec_id"]: r["is_dropped"]
        for r in D.dedup_semdedup(spark, sf).collect()
    }
    assert rows[1] is False
    assert rows[2] is True
    assert rows[3] is False and rows[4] is False


@pytest.mark.parametrize("case", ["zero", "every_other_nan"])
def test_sem_miner_degenerate_cell_memory(case):
    """A full SEM_MAX_CELL group whose GEMM cosines are all non-finite
    sends every pair to the exact fold; its scratch must stay O(pairs),
    never O(pairs x dim) (539 MiB for zero vectors at dim 64 when the
    fold gathered (pairs, dim) row blocks).  tracemalloc counts numpy's
    allocations exactly, so the bound holds on any machine."""
    import tracemalloc

    import numpy as np
    import pandas as pd

    from risinglight_spark.operators.dedup import (
        SEM_MAX_CELL,
        _sem_mine_group_pdf,
    )

    m, dim = SEM_MAX_CELL, 64
    if case == "zero":
        emb = np.zeros((m, dim))
    else:
        emb = np.random.default_rng(0).standard_normal((m, dim))
        emb[::2] = np.nan
    pdf = pd.DataFrame(
        {
            "rep": np.arange(m, dtype=np.int64),
            "embedding": list(emb),
            "nrm": np.sqrt((emb * emb).sum(axis=1)),
        }
    )
    tracemalloc.start()
    try:
        with np.errstate(invalid="ignore"):
            _sem_mine_group_pdf(pdf)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak < 96 * 2**20, f"peak {peak / 2**20:.1f} MiB"


def _write_docs(spark, tmp_path, rows):
    docs = spark.createDataFrame(
        rows,
        "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars INT",
    )
    sf = str(tmp_path)
    docs.write.mode("overwrite").parquet(f"{sf}/documents.parquet")
    return sf


def test_zipf_fit_empty_and_tiny_corpus(spark, tmp_path):
    """The distributed rank must survive an empty vocabulary (no
    bucket offsets at all) and a single-token corpus (one log point
    makes the regression denominator 0 -> NULL slope, not a crash)."""
    from risinglight_spark.operators.text_analysis import text_zipf_fit

    sf = _write_docs(spark, tmp_path / "a", [(1, "", "en", "w", 0), (2, None, "en", "w", 0)])
    row = text_zipf_fit(spark, sf).collect()[0]
    assert row["n_types"] == 0

    sf = _write_docs(spark, tmp_path / "b", [(1, "word word word", "en", "w", 14)])
    row = text_zipf_fit(spark, sf).collect()[0]
    assert row["n_types"] == 1
    assert row["zipf_slope"] is None  # single point: no slope


def test_reservoir_smaller_than_k(spark, tmp_path):
    from risinglight_spark.operators.pipeline_ops import (
        RESERVOIR_K,
        sample_reservoir_weighted,
    )

    sf = _write_docs(
        spark,
        tmp_path,
        [(1, "a b c", "en", "w", 5), (2, "", "en", "w", 0), (3, None, "en", "w", 0)],
    )
    rows = sample_reservoir_weighted(spark, sf).collect()
    # only the weighted (w > 0) doc qualifies; fewer rows than K is fine
    assert len(rows) == 1 and rows[0]["doc_id"] == 1
    assert len(rows) <= RESERVOIR_K


def test_containment_degenerate_docs(spark, tmp_path):
    from risinglight_spark.operators.dedup import dedup_containment

    sf = _write_docs(
        spark,
        tmp_path,
        [
            (1, "alpha beta gamma delta epsilon zeta", "en", "w", 10),
            (2, "alpha beta gamma delta epsilon zeta eta theta", "en", "w", 10),
            (3, "", "en", "w", 0),
            (4, None, "en", "w", 0),
            (5, "xy", "en", "w", 2),  # unshingleable (< 3 tokens)
        ],
    )
    rows = dedup_containment(spark, sf).collect()
    pairs = {(r["doc_a"], r["doc_b"]): r for r in rows}
    # doc 1's shingles are a subset of doc 2's -> containment 1.0 a->b
    assert (1, 2) in pairs and pairs[(1, 2)]["contain_ab"] == 1.0
    # degenerate docs never appear
    assert all(a not in (3, 4, 5) and b not in (3, 4, 5) for a, b in pairs)


def test_asof_nearest_no_views_for_user(spark, tmp_path):
    from risinglight_spark.operators.events_ops import events_asof_nearest

    ev = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", 10, "click", 1.0, None),
            (2, "2024-01-01 00:01:00", 20, "view", 1.0, None),
            (3, "2024-01-01 00:02:00", 20, "click", 1.0, None),
        ],
        "event_id BIGINT, ts STRING, user_id BIGINT, event_type STRING, "
        "value DOUBLE, props STRING",
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    sf = str(tmp_path)
    ev.write.mode("overwrite").parquet(f"{sf}/events.parquet")
    rows = {r["user_id"]: r for r in events_asof_nearest(spark, sf).collect()}
    assert rows[10]["nearest_view_ts"] is None
    assert rows[10]["direction"] is None
    assert rows[20]["direction"] == "backward"


def test_ivf_upsert_degenerate_bases(spark, tmp_path):
    """ann_ivf_incremental_upsert: an all-delta corpus has no base to
    train on (no centroids -> nothing assignable -> 0 rows, matching
    the SQL oracle's empty probe); a single-cell base still makes the
    delta batch searchable with is_new flagged."""
    from risinglight_spark.operators import vector_search as V

    dim = V.DIM
    mod = V.UPSERT_DELTA_MOD

    def vec(seed):
        return [float(0.01 * ((i * seed) % 9 - 4)) for i in range(dim)]

    # every id = mod-1 (mod mod) -> pure delta, empty base
    all_delta = spark.createDataFrame(
        [(mod - 1 + mod * k, vec(k + 2), 0) for k in range(4)],
        "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
    )
    sf1 = str(tmp_path / "all_delta")
    all_delta.write.mode("overwrite").parquet(f"{sf1}/embeddings.parquet")
    assert V.ann_ivf_incremental_upsert(spark, sf1).count() == 0

    # one-label base + deltas: deltas assign to the only cell and are
    # searchable
    rows = [(k, vec(3), 0) for k in (1, 2, 3)] + [
        (mod - 1, vec(5), 0),
        (2 * mod - 1, vec(7), 0),
    ]
    base_delta = spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"
    )
    sf2 = str(tmp_path / "one_cell")
    base_delta.write.mode("overwrite").parquet(f"{sf2}/embeddings.parquet")
    got = {
        r["vec_id"]: r["is_new"]
        for r in V.ann_ivf_incremental_upsert(spark, sf2).collect()
    }
    assert got == {1: False, 2: False, 3: False,
                   mod - 1: True, 2 * mod - 1: True}


def test_ranked_by_score_desc_degenerate_groups(spark):
    """All-equal scores (the lo==hi single-bin branch), a 1-row group,
    and NULL-free determinism: ranks must be 1..n by id within the tie
    group, and n_grp exact — deterministically, not just under the
    hypothesis sampler."""
    from risinglight_spark.operators import ranked_by_score_desc

    rows = (
        [(i, "flat", 7.5) for i in range(10)]  # all ties -> one bin
        + [(99, "solo", -1.0)]  # single-row group
        + [(i, "mix", float(i % 3)) for i in range(20, 26)]
    )
    df = spark.createDataFrame(rows, "id BIGINT, grp STRING, q DOUBLE")
    got = {
        r["id"]: (r["grp"], r["rk"], r["n_grp"])
        for r in ranked_by_score_desc(df, "grp", "q", "id").collect()
    }
    # flat: ties broken by id ascending
    for i in range(10):
        assert got[i] == ("flat", i + 1, 10)
    assert got[99] == ("solo", 1, 1)
    # mix (q = id % 3): 2.0 -> ids 20,23; 1.0 -> 22,25; 0.0 -> 21,24
    assert [got[i][1] for i in (20, 23, 22, 25, 21, 24)] == [1, 2, 3, 4, 5, 6]


def test_ccnet_ntile_arithmetic_matches_spark_ntile(spark):
    """text_ccnet_buckets derives ntile(3) from (rk, n) integer logic
    (first n%3 tiles get the extra row); verify the boundary formula
    against Spark's own F.ntile for every group size 1..12 in one
    shot — off-by-ones at n%3 boundaries are the exact failure mode."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    rows = [(n, i) for n in range(1, 13) for i in range(n)]
    df = spark.createDataFrame(rows, "grp INT, id INT")
    w = Window.partitionBy("grp").orderBy("id")
    want = df.select("grp", "id", F.ntile(3).over(w).alias("t"))
    # the formula under test, applied to rk = id+1 and n_grp = grp
    base = F.floor(F.col("grp") / 3)
    rem = F.col("grp") % 3
    b1 = base + F.when(rem >= 1, 1).otherwise(0)
    b2 = b1 + base + F.when(rem >= 2, 1).otherwise(0)
    rk = F.col("id") + 1
    got = df.select(
        "grp",
        "id",
        F.when(rk <= b1, 1).when(rk <= b2, 2).otherwise(3).alias("t"),
    )
    assert {tuple(r) for r in got.collect()} == {
        tuple(r) for r in want.collect()
    }
