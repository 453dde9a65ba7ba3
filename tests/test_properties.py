"""Property-based tests (hypothesis) for the semantic shims.

The reference tests these surfaces with hand-picked slt cases; here we
check the general contracts:

- substring_rl == a direct Python transcription of the reference's
  Rust formula (src/array/ops.rs:304-335) on arbitrary inputs,
- fpsum is bit-identical across partitionings (the property that makes
  oracle hashes stable at any parallelism),
- the Arrow shingle UDF replays the built-in Catalyst expression
  exactly (they must agree because different queries/oracles use each).

Each hypothesis example is a BATCH of inputs evaluated in one Spark
job, so the suite stays fast.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from risinglight_spark.functions import text as T
from risinglight_spark.functions.scalar import substring_rl
from risinglight_spark.operators import fpsum

I32 = 2**31 - 1

SETTINGS = dict(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _substring_model(s: str | None, b: int, c: int) -> str | None:
    """Direct transcription of the reference's substring kernel
    (src/array/ops.rs:304-335): 1-based, negative start from the end,
    end = start saturating_add(i32) length, swap when inverted, clamp
    to [0, chars]."""
    if s is None:
        return None
    chars = len(s)
    start = b - 1 if b >= 0 else chars + b
    end = max(min(start + c, I32), -I32 - 1)  # i32 saturating_add
    if start > end:
        start, end = end, start
    skip = max(start, 0)
    take = max(end - skip, 0)
    return s[skip : skip + take]


text_st = st.one_of(
    st.none(),
    st.text(
        alphabet=st.characters(min_codepoint=32, max_codepoint=126),
        max_size=24,
    ),
)
i32_st = st.one_of(
    st.integers(min_value=-40, max_value=40),
    st.integers(min_value=-I32 - 1, max_value=I32),
)


@settings(**SETTINGS)
@given(st.lists(st.tuples(text_st, i32_st, i32_st), min_size=1, max_size=32))
def test_substring_rl_matches_reference_formula(spark, cases):
    df = spark.createDataFrame(cases, "s STRING, b INT, c INT")
    got = [
        r[0]
        for r in df.select(
            substring_rl(F.col("s"), F.col("b"), F.col("c"))
        ).collect()
    ]
    want = [_substring_model(s, b, c) for s, b, c in cases]
    assert got == want


@settings(**SETTINGS)
@given(
    st.lists(
        st.floats(
            min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
        ),
        min_size=1,
        max_size=64,
    )
)
def test_fpsum_is_partition_invariant(spark, xs):
    rows = [(float(x),) for x in xs]
    df = spark.createDataFrame(rows, "x DOUBLE")
    a = df.repartition(1).agg(fpsum(F.col("x")).alias("s")).collect()[0].s
    b = df.repartition(7).agg(fpsum(F.col("x")).alias("s")).collect()[0].s
    # bit-identical, not approximately equal — this is the property the
    # oracle value-hash depends on
    assert repr(a) == repr(b)


@settings(**SETTINGS)
@given(
    st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=32, max_codepoint=126),
            max_size=60,
        ),
        min_size=1,
        max_size=16,
    )
)
def test_arrow_shingles_match_catalyst_expression(spark, texts):
    df = spark.createDataFrame([(t,) for t in texts], "text STRING")
    udf_out = [
        list(r[0])
        for r in df.select(
            T.shingle_hashes_pandas()(F.col("text"))
        ).collect()
    ]
    expr_out = [
        list(r[0])
        for r in df.select(
            T.shingle_hashes(T.token_hashes(F.col("text")))
        ).collect()
    ]
    assert udf_out == expr_out


@settings(**SETTINGS)
@given(
    st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=32, max_codepoint=126),
            max_size=60,
        ),
        min_size=1,
        max_size=16,
    )
)
def test_wide_shingles_refine_narrow(spark, texts):
    """The r15 wide span-dedup key (two independent polynomial chains,
    injectively combined as gh1 * HASH_P2 + gh2) must strictly REFINE
    the narrow shingle hash: wide // HASH_P2 == narrow elementwise, so
    every wide-key equality implies the narrow-key equality the
    pre-r15 oracles asserted (the reverse is where the 2^30-space
    false positives lived — SCALE.md round-15)."""
    from risinglight_spark.functions.text import HASH_P2

    df = spark.createDataFrame([(t,) for t in texts], "text STRING")
    wide = [
        list(r[0])
        for r in df.select(
            T.shingle_hashes_wide_pandas()(F.col("text"))
        ).collect()
    ]
    narrow = [
        list(r[0])
        for r in df.select(
            T.shingle_hashes_pandas()(F.col("text"))
        ).collect()
    ]
    assert [[g // HASH_P2 for g in doc] for doc in wide] == narrow


_uni_text_st = st.one_of(
    st.none(),
    st.text(max_size=80),  # full unicode incl. astral + exotic whitespace
    st.text(
        alphabet=st.characters(
            whitelist_categories=("Zs", "Cc", "Ll", "Lu", "Nd", "So")
        ),
        max_size=80,
    ),
)


@settings(max_examples=60, deadline=None)
@given(st.lists(_uni_text_st, min_size=0, max_size=24))
def test_flat_tokenizer_matches_scalar_replay(texts):
    """The r16 vectorized batch tokenizer (_token_hash_flat /
    _shingle_flat — VERDICT r15 item 7) must be BIT-identical to the
    scalar replay (_token_hash_list / _token_hash_pair_list /
    _doc_shingles) on arbitrary unicode, including the edge cases the
    two implementations could plausibly diverge on: exotic whitespace
    (unicode \\s beyond ASCII), astral codepoints (the utf-32 path),
    empty/None docs, and whitespace-only docs.  Every dedup signature,
    span gram, and DSIR bucket derives from these hashes, so this is
    the oracle-equivalence property for the whole rewritten family."""
    from risinglight_spark.functions.text import (
        HASH_P,
        HASH_P2,
        TOK_MULT,
        TOK_MULT2,
        _doc_shingles,
        _shingle_flat,
        _token_hash_flat,
        _token_hash_list,
        _token_hash_pair_list,
    )

    counts, h1, h2 = _token_hash_flat(texts, wide=True)
    cn, hn, _ = _token_hash_flat(texts)  # narrow fold (group-6 path)
    assert counts.tolist() == cn.tolist()
    off = 0
    for i, t in enumerate(texts):
        ref1 = _token_hash_list(t)
        r1, r2 = _token_hash_pair_list(t)
        assert ref1 == r1
        assert counts[i] == len(ref1)
        assert h1[off : off + counts[i]].tolist() == ref1
        assert hn[off : off + counts[i]].tolist() == ref1
        assert h2[off : off + counts[i]].tolist() == r2
        off += counts[i]
    for n in (2, 3, 5):
        m_doc, sh = _shingle_flat(counts, h1, None, n)
        ref = _doc_shingles(texts, n)
        off = 0
        for i in range(len(texts)):
            assert sh[off : off + m_doc[i]].tolist() == ref[i]
            off += m_doc[i]
    # wide shingles vs the scalar fold
    n = 3
    m_doc, shw = _shingle_flat(counts, h1, h2, n)
    off = 0
    for i, t in enumerate(texts):
        th1, th2 = _token_hash_pair_list(t)
        m = len(th1) - (n - 1)
        if m > 0:
            g1, g2 = th1[:m], th2[:m]
            for k in range(1, n):
                g1 = [
                    (a * TOK_MULT + b) % HASH_P
                    for a, b in zip(g1, th1[k : k + m])
                ]
                g2 = [
                    (a * TOK_MULT2 + b) % HASH_P2
                    for a, b in zip(g2, th2[k : k + m])
                ]
            refw = [a * HASH_P2 + b for a, b in zip(g1, g2)]
        else:
            refw = []
        assert shw[off : off + m_doc[i]].tolist() == refw
        off += m_doc[i]


def test_pack_sequences_invariants(spark, sf_dir):
    from risinglight_spark.operators.pipeline_ops import CHUNK_TOKENS
    from risinglight_spark.registry import collect

    rows = collect()["pack_sequences"].fn(spark, sf_dir).collect()
    by_source: dict[str, list] = {}
    for r in rows:
        by_source.setdefault(r.source, []).append(r)
    assert by_source
    for src, docs in by_source.items():
        docs.sort(key=lambda r: r.doc_id)
        # chunk spans are consistent with the running layout
        offset = 0
        for r in docs:
            assert r.n_tokens > 0
            assert r.first_chunk == offset // CHUNK_TOKENS
            assert r.last_chunk == (offset + r.n_tokens - 1) // CHUNK_TOKENS
            assert r.n_chunks == r.last_chunk - r.first_chunk + 1
            offset += r.n_tokens
        # consecutive docs tile the token stream with no gaps:
        # doc i+1 starts in the same or next chunk as doc i ends
        for a, b in zip(docs, docs[1:]):
            assert b.first_chunk in (a.last_chunk, a.last_chunk + 1)


def test_connected_components_well_formed(spark, sf_dir):
    from risinglight_spark.registry import collect

    rows = collect()["dedup_connected_components"].fn(spark, sf_dir).collect()
    comp: dict[int, int] = {r.doc_id: r.component for r in rows}
    members: dict[int, list[int]] = {}
    for d, c in comp.items():
        members.setdefault(c, []).append(d)
    for c, ds in members.items():
        # the component label IS the minimum member (canonical doc)
        assert c == min(ds)
    for r in rows:
        assert r.is_canonical == (r.doc_id == r.component)


def test_doc_features_udf_matches_expressions(spark, sf_dir):
    # the Arrow single-pass feature UDF must be BIT-identical to the
    # Column-expression formulas the DuckDB oracle replays
    from pyspark.sql import functions as F

    from risinglight_spark.functions import text as T
    from risinglight_spark.tables import load

    docs = load(spark, sf_dir, "documents")
    c = F.col("text")
    expr_side = docs.select(
        "doc_id",
        T.lang_id(c).alias("lang_detected"),
        T.quality_score(c).alias("q"),
        T.fingerprint(c).alias("fp"),
        T.token_count(c).alias("ws"),
    )
    udf_side = docs.select(
        "doc_id", T.doc_features_pandas()(c).alias("f")
    ).select("doc_id", "f.*")
    a = {r.doc_id: (r.lang_detected, r.q, r.fp, r.ws) for r in expr_side.collect()}
    b = {r.doc_id: (r.lang_detected, r.q, r.fp, r.ws) for r in udf_side.collect()}
    assert a == b  # exact, including float bits


def test_doc_features_cache_invalidates_on_rewrite(spark, tmp_path):
    # the shared memoized feature table must rebuild when the corpus
    # directory is rewritten (the _corpus_fingerprint guard), not serve
    # stale persisted rows
    import time

    from risinglight_spark.operators.text_analysis import doc_features_cached

    sf = str(tmp_path)

    def write(texts):
        spark.createDataFrame(
            [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)],
            "doc_id BIGINT, text STRING, lang STRING, source STRING, "
            "n_chars INT",
        ).write.mode("overwrite").parquet(f"{sf}/documents.parquet")

    from risinglight_spark.operators import _corpus_fingerprint

    write(["hello world", "the quick brown fox"])
    first = {r.doc_id: r.ws for r in doc_features_cached(spark, sf).collect()}
    assert first == {0: 2, 1: 4}
    # cached: same object served (no rebuild) while the corpus is
    # untouched
    again = doc_features_cached(spark, sf)
    assert again is doc_features_cached(spark, sf)
    # rewrite until the fingerprint actually ticks (filesystems with
    # coarse mtime granularity could otherwise serve the stale cache)
    before = _corpus_fingerprint(sf)
    for _ in range(50):
        write(["one two three", "a", "b c d e f"])
        if _corpus_fingerprint(sf) != before:
            break
        time.sleep(0.1)
    assert _corpus_fingerprint(sf) != before
    second = {r.doc_id: r.ws for r in doc_features_cached(spark, sf).collect()}
    assert second == {0: 3, 1: 1, 2: 5}


def test_pack_greedy_bins_invariants(spark, sf_dir):
    from risinglight_spark.operators.pipeline_ops import BIN_CAP_TOKENS
    from risinglight_spark.registry import collect

    fn = collect()["pack_greedy_bins"].fn
    rows = fn(spark, sf_dir).collect()
    rows2 = fn(spark, sf_dir).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))  # deterministic
    by_bin: dict[tuple, int] = {}
    for r in rows:
        by_bin[(r.source, r.bin_id)] = by_bin.get((r.source, r.bin_id), 0) + r.n_tokens
    docs_per_bin: dict[tuple, int] = {}
    for r in rows:
        docs_per_bin[(r.source, r.bin_id)] = docs_per_bin.get((r.source, r.bin_id), 0) + 1
    for k, tot in by_bin.items():
        # capacity respected unless a single oversize doc owns the bin
        assert tot <= BIN_CAP_TOKENS or docs_per_bin[k] == 1
    # every source's doc set is fully assigned exactly once
    from risinglight_spark.functions import text as T
    from risinglight_spark.tables import load
    from pyspark.sql import functions as F

    n_docs = (
        load(spark, sf_dir, "documents")
        .filter(T.token_count(F.col("text")) > 0)
        .count()
    )
    assert len(rows) == n_docs
    assert len({r.doc_id for r in rows}) == n_docs


def test_word_shingles_udf_matches_expression(spark, sf_dir):
    # the Arrow word-shingle UDF must equal the Column word_shingles
    # formula the DuckDB oracle replays (same normalization/splitter)
    from pyspark.sql import functions as F

    from risinglight_spark.functions import text as T
    from risinglight_spark.tables import load

    docs = load(spark, sf_dir, "documents")
    c = F.col("text")
    for n in (2, 5):
        a = {
            r.doc_id: r.sh
            for r in docs.select(
                "doc_id", T.word_shingles(c, n).alias("sh")
            ).collect()
        }
        b = {
            r.doc_id: r.sh
            for r in docs.select(
                "doc_id", T.word_shingles_pandas(n)(c).alias("sh")
            ).collect()
        }
        assert a == b


def test_repetition_counts_udf_matches_expression(spark, sf_dir):
    # dup counts from the Arrow pass == array_distinct arithmetic on
    # the Column shingle/sentence formulas
    from pyspark.sql import functions as F

    from risinglight_spark.functions import text as T
    from risinglight_spark.tables import load

    docs = load(spark, sf_dir, "documents")
    sents = F.filter(
        F.transform(
            F.split(F.lower(F.col("text")), r"[.!?]+"), lambda s: F.trim(s)
        ),
        lambda s: s != "",
    )
    g2 = T.word_shingles(F.col("text"), 2)
    expr_side = docs.select(
        "doc_id",
        F.size(sents).alias("n_sents"),
        (F.size(sents) - F.size(F.array_distinct(sents))).alias("dup_sents"),
        F.size(g2).alias("n_g2"),
        (F.size(g2) - F.size(F.array_distinct(g2))).alias("dup_g2"),
    )
    udf_side = docs.select(
        "doc_id", T.repetition_counts_pandas()(F.col("text")).alias("c")
    ).select("doc_id", "c.n_sents", "c.dup_sents", "c.n_g2", "c.dup_g2")
    a = {r.doc_id: tuple(r)[1:] for r in expr_side.collect()}
    b = {r.doc_id: tuple(r)[1:] for r in udf_side.collect()}
    assert a == b


def test_ewma_matches_pandas_ewm(spark, sf_dir):
    # independent cross-check: our applyInPandas fold == pandas'
    # ewm(adjust=False) recurrence (identical definition, different
    # implementation)
    import pandas as pd

    from risinglight_spark.operators.events_ops import EWMA_ALPHA
    from risinglight_spark.registry import collect
    from risinglight_spark.tables import load

    ours = {
        r.user_id: r.ewma
        for r in collect()["events_ewma_user"].fn(spark, sf_dir).collect()
    }
    pdf = (
        load(spark, sf_dir, "events")
        .filter("value IS NOT NULL")
        .select("user_id", "ts", "event_id", "value")
        .toPandas()
    )
    for uid, g in pdf.groupby("user_id"):
        s = g.sort_values(["ts", "event_id"])["value"]
        expect = s.ewm(alpha=EWMA_ALPHA, adjust=False).mean().iloc[-1]
        assert abs(ours[uid] - expect) < 1e-6, (uid, ours[uid], expect)


def test_training_order_positions_are_contiguous(spark, sf_dir):
    # every doc appears exactly once; per-shard positions are exactly
    # 1..n_shard (a valid, gap-free training order)
    from collections import defaultdict

    from risinglight_spark.registry import collect
    from risinglight_spark.tables import load

    rows = collect()["sample_training_order"].fn(spark, sf_dir).collect()
    n_docs = load(spark, sf_dir, "documents").count()
    assert len(rows) == n_docs
    assert len({r.doc_id for r in rows}) == n_docs
    by_shard = defaultdict(list)
    for r in rows:
        by_shard[r.shard].append(r.pos_in_shard)
    for shard, ps in by_shard.items():
        assert sorted(ps) == list(range(1, len(ps) + 1)), shard


def test_chunk_overlap_reconstructs_tokens(spark, sf_dir):
    # chunks tile the token sequence: starts step by the stride, the
    # last chunk reaches the end, and stitching chunk tokens back
    # together (dropping each chunk's overlap prefix) rebuilds the doc
    from risinglight_spark.operators.text_analysis import (
        CHUNK_STRIDE,
        CHUNK_TOKENS,
    )
    from risinglight_spark.registry import collect
    from risinglight_spark.tables import load

    rows = collect()["text_chunk_overlap"].fn(spark, sf_dir).collect()
    toks = {
        r.doc_id: r.tk
        for r in load(spark, sf_dir, "documents")
        .select("doc_id", T.tokens(F.col("text")).alias("tk"))
        .collect()
    }
    from collections import defaultdict

    by_doc = defaultdict(list)
    for r in rows:
        by_doc[r.doc_id].append(r)
    for doc_id, chunks in by_doc.items():
        chunks.sort(key=lambda r: r.chunk_id)
        n = len(toks[doc_id])
        assert [c.start_tok for c in chunks] == list(
            range(0, n, CHUNK_STRIDE)
        )
        rebuilt = []
        for c in chunks:
            ct = c.chunk_text.split(" ") if c.chunk_text else []
            assert len(ct) == c.n_chunk_tokens <= CHUNK_TOKENS
            rebuilt.extend(ct[len(rebuilt) - c.start_tok :])
        assert rebuilt == toks[doc_id], doc_id


def test_interval_union_bounds(spark, sf_dir):
    # merged coverage per user is bounded below by one window and above
    # by n_events * window (no overlap double-counting)
    from risinglight_spark.operators.events_ops import COVER_WIN_MIN
    from risinglight_spark.registry import collect
    from risinglight_spark.tables import load

    rows = collect()["events_interval_union"].fn(spark, sf_dir).collect()
    counts = {
        r.user_id: r.n
        for r in load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    win = COVER_WIN_MIN * 60
    assert set(counts) == {r.user_id for r in rows}
    for r in rows:
        assert win <= r.covered_sec <= counts[r.user_id] * win, r
        assert 1 <= r.n_intervals <= counts[r.user_id], r


def test_bm25_scores_are_sane(spark, sf_dir):
    # positive, bounded by sum of max idf * (k1+1), and sorted desc
    import math

    from risinglight_spark.operators.text_analysis import (
        BM25_K1,
        BM25_TERMS,
    )
    from risinglight_spark.registry import collect
    from risinglight_spark.tables import load

    rows = collect()["text_bm25_topk"].fn(spark, sf_dir).collect()
    assert rows, "top-k must not be empty on this corpus"
    n_docs = load(spark, sf_dir, "documents").count()
    max_idf = math.log(1.0 + (n_docs - 0.5) / 0.5)
    bound = len(BM25_TERMS) * max_idf * (BM25_K1 + 1)
    scores = [r.score for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert all(0 < s <= bound for s in scores), scores


def test_covariance_matrix_is_consistent(spark, sf_dir):
    # diagonal entries are variances (>= 0); matrix values match a
    # numpy recomputation to quantization precision
    import numpy as np

    from risinglight_spark.operators.vector_search import COV_DIMS
    from risinglight_spark.registry import collect
    from risinglight_spark.tables import load

    rows = collect()["vector_covariance_matrix"].fn(spark, sf_dir).collect()
    emb = np.array(
        [
            r.embedding[:COV_DIMS]
            for r in load(spark, sf_dir, "embeddings")
            .select("embedding")
            .collect()
        ],
        dtype=np.float64,
    )
    ref = np.cov(emb, rowvar=False)
    for r in rows:
        if r.i == r.j:
            assert r.cov >= 0, r
        assert abs(r.cov - ref[r.i][r.j]) < 1e-4, (r, ref[r.i][r.j])


def test_concurrent_queries_match_serial(spark, sf_dir):
    # one SparkSession serving parallel clients (the pgwire reality):
    # 8 threads re-running a mixed workload must reproduce the serial
    # results exactly — no cross-query state bleed (temp views, confs)
    from concurrent.futures import ThreadPoolExecutor

    from risinglight_spark.registry import collect

    entries = collect()
    names = [
        "tpch_q6", "agg_hash_group", "join_semi", "window_row_number",
        "text_token_counts", "dedup_exact", "events_tumbling_window",
        "vector_l2_topk",
    ]

    def run(name):
        df = entries[name].fn(spark, sf_dir)
        return sorted(map(tuple, df.collect()))

    serial = {n: run(n) for n in names}
    with ThreadPoolExecutor(max_workers=8) as ex:
        futs = {n: ex.submit(run, n) for n in names * 2}
    for n, f in futs.items():
        assert f.result() == serial[n], n


@settings(**SETTINGS)
@given(st.lists(st.tuples(text_st, i32_st, i32_st), min_size=1, max_size=32))
def test_substring_sql_rewrite_matches_reference_formula(spark, cases):
    # the dialect layer's textual substring rewrite (shell/pgwire/slt
    # path) must agree with the same reference kernel the Column shim
    # is tested against above
    from risinglight_spark.sql.dialect import rewrite_substring

    rows = [(i, s, b, c) for i, (s, b, c) in enumerate(cases)]
    df = spark.createDataFrame(rows, "i INT, s STRING, b INT, c INT")
    df.createOrReplaceTempView("subq_prop")
    sql = rewrite_substring(
        "SELECT i, substring(s, b, c) AS r FROM subq_prop"
    )
    got = {r.i: r.r for r in spark.sql(sql).collect()}
    for i, (s, b, c) in enumerate(cases):
        want = _substring_model(s, b, c)
        assert got[i] == want, (s, b, c, got[i], want)


def test_era_literal_rewrite_roundtrip(spark):
    # BC literals -> proleptic negative years -> reference-format
    # rendering must reproduce the original display text
    from risinglight_spark.sql.dialect import (
        reference_render_datetimes,
        rewrite_era_literals,
    )

    cases = [
        ("'1991-01-10 04:05:06 BC'", "1991-01-10 04:05:06 BC"),
        ("'1991-01-09 04:05:06 AD'", "1991-01-09 04:05:06"),
        ("'0001-12-31 23:59:59 BC'", "0001-12-31 23:59:59 BC"),
    ]
    for lit, want in cases:
        sql = rewrite_era_literals(
            f"SELECT CAST({lit} AS TIMESTAMP_NTZ) AS ts"
        )
        out = reference_render_datetimes(spark.sql(sql)).collect()[0].ts
        assert out == want, (lit, out, want)


# -- distributed count-desc rank (operators/__init__.ranked_by_count_desc) ---


@settings(**{**SETTINGS, "max_examples": 8, "deadline": None})
@given(
    counts=st.lists(
        st.integers(min_value=1, max_value=1 << 40),
        min_size=1,
        max_size=60,
    )
)
def test_ranked_by_count_desc_is_exact(spark, tmp_path_factory, counts):
    """rk must be a bijection onto 1..N consistent with count DESC
    (tie assignment free), and cum must equal the exact running sum of
    counts over ranks 1..rk — for arbitrary count multisets including
    heavy ties and values spanning many log2 buckets."""
    from risinglight_spark.operators import ranked_by_count_desc

    items = [(f"item{i:04d}", int(c)) for i, c in enumerate(counts)]
    sf_tag = tmp_path_factory.mktemp("rankprop")

    def build():
        return spark.createDataFrame(items, "item string, n bigint")

    ranked, n_items, total = ranked_by_count_desc(
        spark, str(sf_tag), f"prop_{abs(hash(tuple(counts)))}", build,
        "item", "n",
    )
    rows = ranked.collect()
    assert n_items == len(items)
    assert total == sum(c for _, c in items)
    # bijection onto 1..N
    rks = sorted(r["rk"] for r in rows)
    assert rks == list(range(1, len(items) + 1))
    # rank order consistent with n DESC
    by_rk = sorted(rows, key=lambda r: r["rk"])
    ns = [r["n"] for r in by_rk]
    assert ns == sorted(ns, reverse=True)
    # cum = exact prefix sum over ranks
    acc = 0
    for r in by_rk:
        acc += r["n"]
        assert r["cum"] == acc


# -- NSW collapsed graph build vs a pure-Python direct model -----------------

_nsw_pool_vec = st.lists(
    st.floats(
        min_value=-1.0, max_value=1.0, allow_nan=False, allow_infinity=False,
        width=32,
    ),
    min_size=3, max_size=3,
)


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    pool=st.lists(_nsw_pool_vec, min_size=2, max_size=4),
    rows=st.lists(
        st.tuples(
            # index into the (up to 4-element) pool PLUS the appended
            # NaN slot: max_value must cover len(pool) so the NaN
            # vector is actually reachable when with_nan draws true
            st.integers(min_value=0, max_value=4),  # pool index
            st.integers(min_value=0, max_value=1),  # cell
            st.integers(min_value=0, max_value=1),  # bkt
        ),
        min_size=1, max_size=18,
    ),
    with_nan=st.booleans(),
)
def test_nsw_collapsed_edges_match_python_model(spark, pool, rows, with_nan):
    """The replica-collapsed NSW graph build must equal an INDEPENDENT
    direct model (pure Python, not Spark-vs-Spark): for each node, rank
    every same-(cell,bkt) other node by (l2, vec_id) — NaN distances
    last like Spark's ordering — and keep the first NSW_M.  Pool-drawn
    vectors force duplicate classes; the optional NaN vector exercises
    the non-finite ordering path."""
    import math

    import numpy as np

    from risinglight_spark.operators.vector_search import NSW_M, nsw_edges

    if with_nan:
        pool = pool + [[float("nan"), 0.0, 0.0]]
    nodes = [
        (3 * i + 1, pool[pi % len(pool)], cell, bkt)
        for i, (pi, cell, bkt) in enumerate(rows)
    ]

    def f32(v):
        return [float(np.float32(x)) for x in v]

    def l2(a, b):
        acc = 0.0
        for x, y in zip(f32(a), f32(b)):
            d = x - y
            acc = acc + d * d
        return math.sqrt(acc)

    want = set()
    for vid, emb, cell, bkt in nodes:
        cands = [
            (l2(emb, e2), v2)
            for v2, e2, c2, b2 in nodes
            if (c2, b2) == (cell, bkt) and v2 != vid
        ]
        cands.sort(key=lambda t: (math.isnan(t[0]), t[0] if not math.isnan(t[0]) else 0.0, t[1]))
        want |= {(vid, dst) for _, dst in cands[:NSW_M]}

    df = spark.createDataFrame(
        [(vid, f32(emb), cell, bkt) for vid, emb, cell, bkt in nodes],
        "vec_id BIGINT, embedding ARRAY<FLOAT>, cell INT, bkt INT",
    )
    got = {(r["src"], r["dst"]) for r in nsw_edges(df).collect()}
    assert got == want


# ---------------------------------------------------------------------------
# Distributed rank / prefix-sum helpers vs pure-Python models.  These
# helpers replace single-partition windows (the 100-TB funnels) with
# histogram-offset derivations; each must reproduce the sequential
# semantics EXACTLY, including tie groups, empty/gapped buckets, and
# the all-equal-scores degenerate bin.
# ---------------------------------------------------------------------------

_HYP_TAG = iter(range(10**9))  # unique _cached_persisted tag per example


@settings(**SETTINGS)
@given(
    st.lists(
        st.integers(min_value=1, max_value=40),  # heavy tie mass
        min_size=1,
        max_size=48,
    )
)
def test_ranked_by_count_desc_matches_python_model(spark, counts):
    """rk must be a bijection onto 1..N consistent with count DESC
    (each item lands inside its tie group's rank span), and cum must
    be the exact running sum of counts over ranks 1..rk — for any tie
    structure, including single-item and all-ties multisets."""
    from risinglight_spark.operators import ranked_by_count_desc

    items = [(f"it{i:03d}", int(n)) for i, n in enumerate(counts)]
    tag = f"hyp_cnt_{next(_HYP_TAG)}"
    ranked, n_items, total = ranked_by_count_desc(
        spark,
        "/root/testdata/sf0.001",
        tag,
        lambda: spark.createDataFrame(items, "item STRING, n BIGINT"),
        "item",
        "n",
        sub_buckets=3,  # force multi-sub-bucket tie numbering
    )
    got = {r["item"]: (r["n"], r["rk"], r["cum"]) for r in ranked.collect()}
    assert n_items == len(items) and total == sum(counts)
    # model: s_n items strictly heavier, c_n their count mass
    from collections import Counter

    hist = Counter(counts)
    s = {n: sum(m for n2, m in hist.items() if n2 > n) for n in hist}
    c = {n: sum(n2 * m for n2, m in hist.items() if n2 > n) for n in hist}
    assert sorted(rk for _, rk, _ in got.values()) == list(
        range(1, len(items) + 1)
    )
    for item, n in items:
        gn, rk, cum = got[item]
        assert gn == n
        assert s[n] < rk <= s[n] + hist[n]  # inside the tie-group span
        assert cum == c[n] + (rk - s[n]) * n  # exact running total


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=100),  # weight
            st.integers(min_value=0, max_value=7),  # bucket delta (gaps)
        ),
        min_size=1,
        max_size=48,
    )
)
def test_bucketed_prefix_sum_matches_python_model(spark, rows):
    """cw must equal the sequential prefix sum in (bkt, id) order for
    ANY range bucketing — gapped bucket ids, empty buckets between
    used ids, single-bucket and one-row-per-bucket extremes."""
    from risinglight_spark.operators import bucketed_prefix_sum

    data, bkt = [], 0
    for i, (w, delta) in enumerate(rows):
        bkt += delta  # non-decreasing with gaps: a valid range bucketing
        data.append((i, int(bkt), int(w)))
    tag = f"hyp_pps_{next(_HYP_TAG)}"
    out, total = bucketed_prefix_sum(
        spark,
        "/root/testdata/sf0.001",
        tag,
        lambda: spark.createDataFrame(data, "id BIGINT, bkt INT, w BIGINT"),
        "bkt",
        ("id",),
        "w",
    )
    got = {r["id"]: r["cw"] for r in out.collect()}
    acc = 0
    for i, _, w in data:  # data is already in (bkt, id) order
        acc += w
        assert got[i] == acc
    assert total == acc


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(
            # dyadic float weights (k/8, incl. negatives): exactly
            # representable, so the sequential Python prefix sum is the
            # bit-exact oracle.  This is the latent path the int
            # accumulator broke — DoubleType offsets reject Python int.
            st.integers(min_value=-800, max_value=800),
            st.integers(min_value=0, max_value=7),  # bucket delta (gaps)
        ),
        min_size=1,
        max_size=48,
    )
)
def test_bucketed_prefix_sum_float_weights(spark, rows):
    """cw must be exact for FRACTIONAL (double) weights, including
    negative ones: the offsets frame's schema mirrors the weight-sum
    dtype, so the driver-side accumulator must be a float when the
    sum is fractional (a Python int 0 raises TypeError under PySpark
    schema verification for DoubleType)."""
    from risinglight_spark.operators import bucketed_prefix_sum

    data, bkt = [], 0
    for i, (k, delta) in enumerate(rows):
        bkt += delta
        data.append((i, int(bkt), k / 8.0))
    tag = f"hyp_ppsf_{next(_HYP_TAG)}"
    out, total = bucketed_prefix_sum(
        spark,
        "/root/testdata/sf0.001",
        tag,
        lambda: spark.createDataFrame(data, "id BIGINT, bkt INT, w DOUBLE"),
        "bkt",
        ("id",),
        "w",
    )
    got = {r["id"]: r["cw"] for r in out.collect()}
    acc = 0.0
    for i, _, w in data:  # data is already in (bkt, id) order
        acc += w
        assert got[i] == acc
    assert total == acc


def test_bucketed_prefix_sum_decimal_weights(spark):
    """DECIMAL weights are FractionalType too, but PySpark schema
    verification demands decimal.Decimal (not float) for DecimalType
    offsets — the accumulator must branch on the concrete type.  Exact
    by construction: Decimal + Decimal never rounds at this scale."""
    import decimal

    from risinglight_spark.operators import bucketed_prefix_sum

    data = [
        (0, 0, decimal.Decimal("1.25")),
        (1, 0, decimal.Decimal("-0.75")),
        (2, 3, decimal.Decimal("10.00")),
        (3, 3, decimal.Decimal("0.05")),
        (4, 7, decimal.Decimal("-2.30")),
    ]
    out, total = bucketed_prefix_sum(
        spark,
        "/root/testdata/sf0.001",
        "hyp_ppsd_decimal",
        lambda: spark.createDataFrame(
            data, "id BIGINT, bkt INT, w DECIMAL(10,2)"
        ),
        "bkt",
        ("id",),
        "w",
    )
    got = {r["id"]: r["cw"] for r in out.collect()}
    acc = decimal.Decimal(0)
    for i, _, w in data:  # data is already in (bkt, id) order
        acc += w
        assert got[i] == acc
    assert total == acc


score_pool = [-3.5, -1.0, 0.0, 0.25, 1.0, 7.125]  # forces tie groups


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["en", "fr", "de"]),
            st.one_of(
                st.sampled_from(score_pool),
                st.floats(
                    min_value=-1e6,
                    max_value=1e6,
                    allow_nan=False,
                    allow_infinity=False,
                ),
            ),
        ),
        min_size=1,
        max_size=48,
    )
)
def test_ranked_by_score_desc_matches_python_model(spark, rows):
    """rk must equal the exact per-group row_number in
    (score DESC, id ASC) order — deterministic (id tiebreak), so the
    comparison is equality, not tie-span membership.  Covers score
    ties, all-equal groups (the lo==hi single-bin branch), and
    negative scores."""
    from risinglight_spark.operators import ranked_by_score_desc

    data = [(i, g, float(q)) for i, (g, q) in enumerate(rows)]
    df = spark.createDataFrame(data, "id BIGINT, grp STRING, q DOUBLE")
    got = {
        r["id"]: (r["rk"], r["n_grp"])
        for r in ranked_by_score_desc(df, "grp", "q", "id").collect()
    }
    by_grp: dict[str, list[tuple[int, float]]] = {}
    for i, g, q in data:
        by_grp.setdefault(g, []).append((i, q))
    for g, members in by_grp.items():
        members.sort(key=lambda t: (-t[1], t[0]))
        for rank0, (i, _) in enumerate(members):
            assert got[i] == (rank0 + 1, len(members))


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c"]),  # skewed groups
            st.text(
                alphabet=st.characters(min_codepoint=97, max_codepoint=102),
                max_size=4,
            ),
        ),
        min_size=1,
        max_size=48,
    )
)
def test_ranked_by_range_sort_matches_python_model(spark, rows):
    """rn must equal the exact per-group row_number over the
    (string sort key, id) order for any group skew and any range
    boundary placement — string keys are the case the score-histogram
    rank can't bin, incl. duplicate keys, empty strings, and groups
    spanning multiple range partitions (n_parts=5 forces spans)."""
    from risinglight_spark.operators import ranked_by_range_sort

    data = [(i, g, s) for i, (g, s) in enumerate(rows)]
    df = spark.createDataFrame(data, "id BIGINT, grp STRING, s STRING")
    out = ranked_by_range_sort(df, "grp", ("s", "id"), n_parts=5)
    got = {r["id"]: r["rn"] for r in out.collect()}
    by_grp: dict[str, list[tuple[str, int]]] = {}
    for i, g, s in data:
        by_grp.setdefault(g, []).append((s, i))
    for members in by_grp.values():
        members.sort()
        for rank0, (_, i) in enumerate(members):
            assert got[i] == rank0 + 1


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["s1", "s2"]),  # skewed groups
            st.integers(min_value=0, max_value=50),
        ),
        min_size=1,
        max_size=48,
    )
)
def test_grouped_prefix_sum_matches_python_model(spark, rows):
    """cum must equal the exact per-group running sum in id order for
    any group skew and any range-boundary placement (n_parts=5 forces
    groups to span partitions); zero weights included."""
    from risinglight_spark.operators import grouped_prefix_sum

    data = [(i, g, int(w)) for i, (g, w) in enumerate(rows)]
    df = spark.createDataFrame(data, "id BIGINT, grp STRING, w BIGINT")
    out = grouped_prefix_sum(df, "grp", ("id",), "w", n_parts=5)
    got = {r["id"]: r["cum"] for r in out.collect()}
    acc: dict[str, int] = {}
    for i, g, w in data:  # data already in id order
        acc[g] = acc.get(g, 0) + w
        assert got[i] == acc[g]


def test_rank_primitive_persist_cache_is_bounded(spark):
    """ranked_by_range_sort/grouped_prefix_sum persist their
    range-partitioned relation for _pid stability; the plan-keyed
    bounded LRU must (a) dedup repeat ranking of the identical plan
    to ONE cached relation (Spark's CacheManager keys on the analyzed
    plan, so a second persist of the same plan shares the relation —
    evicting by object identity would uncache a live entry), and
    (b) unpersist old DISTINCT plans so a long session (303-entry
    driver gate, bench loops) never accumulates cached relations
    without bound.  Assertions use before/after DELTAS, not global
    caps: earlier tests in a full-session run legitimately hold up to
    _ASSET_CACHE_MAX memoized assets, so any absolute bound is
    order-dependent (the r9 absolute assertion failed only inside the
    full suite)."""
    from risinglight_spark import operators as ops
    from risinglight_spark.operators import ranked_by_range_sort

    df = spark.createDataFrame(
        [(i, "g", f"s{i % 7}") for i in range(40)],
        "id BIGINT, grp STRING, s STRING",
    )
    # (a) repeat-identical-plan: 13 calls must pin exactly one NEW
    # relation (plan-keyed dedup), and values must stay exact.
    n_before = spark.sparkContext._jsc.getPersistentRDDs().size()
    for _ in range(ops._RP_LRU_MAX + 5):
        out = ranked_by_range_sort(df, "grp", ("s", "id"), n_parts=3)
        out.collect()
    n_after = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert n_after - n_before <= 1
    got = sorted(
        (r["s"], r["id"], r["rn"]) for r in out.collect()
    )
    expect = sorted((f"s{i % 7}", i) for i in range(40))
    for rank0, (s, i) in enumerate(expect):
        assert (s, i, rank0 + 1) in got
    # (b) distinct plans: 13 different filters -> 13 distinct analyzed
    # plans; the LRU must evict down to _RP_LRU_MAX and the persisted
    # delta must stay within the bound.
    n_before = spark.sparkContext._jsc.getPersistentRDDs().size()
    for k in range(ops._RP_LRU_MAX + 5):
        out = ranked_by_range_sort(
            df.filter(F.col("id") < 40 - (k % 13)),
            "grp",
            ("s", "id"),
            n_parts=3,
        )
        out.collect()
    with ops._ASSET_LOCK:
        assert len(ops._RP_LRU) <= ops._RP_LRU_MAX
    n_after = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert n_after - n_before <= ops._RP_LRU_MAX
    # eviction never uncached the *repeat* relation's values: the last
    # distinct-plan result is still exact (rn over the filtered rows).
    rows = out.collect()
    assert len(rows) == 40 - ((ops._RP_LRU_MAX + 4) % 13)
    assert sorted(r["rn"] for r in rows) == list(range(1, len(rows) + 1))


# ---------------------------------------------------------------------------
# functions/vector.fold_sqdist / fold_dot: the one numpy form of the
# engine's float64 left fold.  Every value must equal the scalar fold
# 0.0 + t0 + t1 + ... bit for bit (NaN payloads aside), in both the
# cross-matrix and the paired form, on every IEEE special.
# ---------------------------------------------------------------------------

_fold_special = st.one_of(
    st.sampled_from(
        [0.0, -0.0, float("nan"), float("inf"), -float("inf"), 5e-324,
         -2.5e-308]
    ),
    st.floats(),
)


@st.composite
def _fold_vec(draw, dim):
    """Moderate values (so a different summation order shows in the
    last bits), with up to two IEEE specials or arbitrary doubles."""
    v = draw(st.lists(st.floats(-8, 8), min_size=dim, max_size=dim))
    spots = st.tuples(st.integers(0, dim - 1), _fold_special)
    for i, x in draw(st.lists(spots, max_size=2)):
        v[i] = x
    return v


@st.composite
def _fold_operands(draw):
    dim = draw(st.integers(1, 70))
    a = draw(st.lists(_fold_vec(dim), min_size=1, max_size=4))
    # duplicate rows: b may reuse a's rows, and repeat its own
    b = draw(st.lists(_fold_vec(dim) | st.sampled_from(a), min_size=1,
                      max_size=4))
    b += draw(st.lists(st.sampled_from(b), max_size=2))
    pairs = draw(
        st.lists(
            st.tuples(
                st.integers(0, len(a) - 1), st.integers(0, len(b) - 1)
            ),
            max_size=10,
        )
    )
    return a, b, pairs


def _scalar_fold(x, y, square):
    acc = 0.0
    for u, v in zip(x, y):
        acc = acc + ((u - v) * (u - v) if square else u * v)
    return acc


@settings(max_examples=80, deadline=None)
@given(_fold_operands())
@example(([[-0.0]], [[1.0]], [(0, 0)]))  # 0.0 + -0.0 is +0.0
def test_fold_kernels_match_scalar_fold(operands):
    import math

    import numpy as np

    from risinglight_spark.functions import vector as V

    a, b, pairs = operands
    rows = np.asarray([i for i, _ in pairs], dtype=np.int64)
    cols = np.asarray([j for _, j in pairs], dtype=np.int64)

    def bits(x):
        return "nan" if math.isnan(x) else np.float64(x).view(np.int64)

    for fold, square in ((V.fold_sqdist, True), (V.fold_dot, False)):
        with np.errstate(all="ignore"):
            cross = fold(a, b)
            paired = fold(a, b, rows, cols)
        assert cross.shape == (len(a), len(b))
        assert [[bits(x) for x in r] for r in cross.tolist()] == [
            [bits(_scalar_fold(x, y, square)) for y in b] for x in a
        ]
        assert [bits(x) for x in paired.tolist()] == [
            bits(_scalar_fold(a[i], b[j], square)) for i, j in pairs
        ]


def test_knn_local_topk_matches_bruteforce(spark):
    """r15: _knn_local_topk's GEMM-prefilter + exact-fold recompute
    must emit exactly the per-partition top-k the one-phase form
    produced — same rows, same exact-left-fold distances — including
    under duplicate embeddings (tie storms), NaN embeddings (NaN
    distances rank last, as in Spark and DuckDB; a partition may hold
    fewer than k finite rows) and both code paths (exact and
    probe_cells/IVF)."""
    import math

    import numpy as np
    import pandas as pd

    from risinglight_spark.operators.pipeline_ops import _knn_local_topk

    rng = np.random.default_rng(1234)
    dim, k = 8, 5
    # duplicate-heavy pool: quantized values force exact distance ties
    pool = np.round(rng.random((12, dim)) * 4, 1)
    m, nt = 90, 25
    cemb = pool[rng.integers(0, len(pool), m)].astype(np.float32)
    temb = pool[rng.integers(0, len(pool), nt)].astype(np.float64)
    tids = np.arange(100, 100 + nt, dtype=np.int64)
    tlab = rng.integers(0, 4, nt).astype(np.int64)
    tid = rng.permutation(10_000)[:m].astype(np.int64)
    lab = rng.integers(0, 4, m).astype(np.int64)
    cells = rng.integers(0, 3, m)
    probe_cells = {
        c: np.flatnonzero(rng.random(nt) < 0.6).astype(np.int64)
        for c in range(3)
    }
    # NaN input: most train rows and one test vector are all-NaN
    cemb_nan = cemb.copy()
    cemb_nan[rng.random(m) < 0.8] = np.nan
    temb_nan = temb.copy()
    temb_nan[3] = np.nan

    def nan_last(dist):
        """(dist NaN-last) sort key; Spark returns a NaN dist as NULL."""
        nan = dist is None or math.isnan(dist)
        return (nan, 0.0 if nan else dist)

    def brute(rows_iter, tsel, temb):
        """one-phase reference: exact fold over every (test, row)."""
        out = []
        rows = list(rows_iter)
        for j in tsel:
            cand = []
            for (rid, emb, rlab) in rows:
                acc = 0.0
                e64 = np.asarray(emb, dtype=np.float64)
                for i in range(dim):
                    d = e64[i] - temb[j][i]
                    acc += d * d
                cand.append((np.sqrt(acc), rid, rlab))
            cand.sort(key=lambda c: (nan_last(c[0]), c[1]))
            for dist, rid, rlab in cand[: min(k, len(cand))]:
                out.append(
                    (int(tids[j]), int(tlab[j]), int(rid), nan_last(dist),
                     int(rlab))
                )
        return sorted(out)

    def emitted(df):
        return sorted(
            (r.test_id, r.true_label, r.train_id, nan_last(r.dist),
             r.nn_label)
            for r in df.collect()
        )

    for cemb, temb in ((cemb, temb), (cemb_nan, temb_nan)):
        pdf = pd.DataFrame(
            {
                "train_id": tid,
                "c_emb": [cemb[i] for i in range(m)],
                "nn_label": lab,
                "cell": cells,
            }
        )
        # hash-partition by value (round-robin repartition(4) assigns
        # rows plan-dependently, so two executions need not agree on
        # partition contents); the pid map makes the reference
        # partition-faithful
        train = spark.createDataFrame(pdf).repartition(4, "train_id")
        pid_of = {
            r.train_id: r.pid
            for r in train.withColumn("pid", F.spark_partition_id())
            .select("train_id", "pid")
            .collect()
        }
        by_pid: dict = {}
        for i in range(m):
            by_pid.setdefault(pid_of[int(tid[i])], []).append(
                (int(tid[i]), cemb[i], int(lab[i]), int(cells[i]))
            )

        # exact path
        got = emitted(_knn_local_topk(train, tids, temb, tlab, k))
        want = []
        for rows in by_pid.values():
            want += brute(
                [(r[0], r[1], r[2]) for r in rows], range(nt), temb
            )
        assert got == sorted(want)

        # IVF path: each cell scores only its probing tests
        got = emitted(
            _knn_local_topk(
                train, tids, temb, tlab, k, probe_cells=probe_cells
            )
        )
        want = []
        for rows in by_pid.values():
            by_cell: dict = {}
            for rid, emb, rlab, c in rows:
                by_cell.setdefault(c, []).append((rid, emb, rlab))
            for c, crows in by_cell.items():
                tsel = probe_cells.get(int(c))
                if tsel is not None and len(tsel):
                    want += brute(crows, tsel, temb)
        assert got == sorted(want)


# ---------------------------------------------------------------------------
# r16: the semdedup GEMM pair miner (dedup._sem_mine_group_pdf) must
# reproduce the former shuffle_merge pair join's decisions EXACTLY:
# b dropped iff exists a.rep < b.rep in the group with
# left-fold-dot(a,b) / (nrm_a * nrm_b) >= SEM_TAU, under IEEE-754
# double semantics (0.0/0.0 -> NaN -> never dropped).
# ---------------------------------------------------------------------------


def _sem_reference_dropped(rows, tau):
    """Scalar replay of the old pair join: rows = [(rep, emb, nrm)],
    strict left-fold dot (0.0 + p0 + p1 + ...), IEEE division."""
    import numpy as np

    rows = sorted(rows, key=lambda r: r[0])
    dropped = set()
    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            acc = np.float64(0.0)
            for x, y in zip(rows[i][1], rows[j][1]):
                acc = acc + np.float64(x) * np.float64(y)
            with np.errstate(divide="ignore", invalid="ignore"):
                c = acc / (np.float64(rows[i][2]) * np.float64(rows[j][2]))
            if c >= tau:
                dropped.add(rows[j][0])
    return dropped


def _sem_kernel_dropped(rows):
    import pandas as pd

    from risinglight_spark.operators.dedup import _sem_mine_group_pdf

    pdf = pd.DataFrame(
        {
            "rep": [r[0] for r in rows],
            "embedding": [r[1] for r in rows],
            "nrm": [r[2] for r in rows],
        }
    )
    return set(_sem_mine_group_pdf(pdf)["rep"].tolist())


def _fold_nrm(emb):
    import numpy as np

    acc = np.float64(0.0)
    for x in emb:
        acc = acc + np.float64(x) * np.float64(x)
    return float(np.sqrt(acc))


_sem_vec_st = st.lists(
    st.floats(
        min_value=-2.0, max_value=2.0, allow_nan=False, allow_infinity=False
    ),
    min_size=6,
    max_size=6,
)


@settings(max_examples=40, deadline=None)
@given(st.lists(_sem_vec_st, min_size=0, max_size=14), st.randoms())
def test_sem_gemm_miner_matches_pair_join_replay(vecs, rnd):
    """Arbitrary groups, with deliberate exact duplicates (cos = 1) and
    zero vectors (NaN cosine) mixed in."""
    import numpy as np

    from risinglight_spark.operators.dedup import SEM_TAU

    rows = []
    for i, v in enumerate(vecs):
        rows.append((i * 7 + 3, list(v), _fold_nrm(v)))
        if rnd.random() < 0.3:  # exact duplicate under a later rep id
            rows.append((i * 7 + 4, list(v), _fold_nrm(v)))
    if rnd.random() < 0.5:
        rows.append((1, [0.0] * 6, 0.0))  # zero vector: never dropped
    assert _sem_kernel_dropped(rows) == _sem_reference_dropped(
        rows, SEM_TAU
    ) if rows else True


def test_sem_gemm_miner_band_and_chunking():
    """Near-threshold pairs (cos within fp distance of SEM_TAU) must be
    decided by the exact fold, and the row-blocked GEMM must agree with
    the unblocked one (force multi-block via a tiny chunk cap)."""
    import math

    import numpy as np

    from risinglight_spark.functions import vector as V
    from risinglight_spark.operators import dedup as D

    tau = D.SEM_TAU
    rng = np.random.default_rng(7)
    rows = []
    rid = 100
    base = [1.0, 0.0, 0.0, 0.0]
    for k in range(12):
        # engineered cos ~= tau (within ~1e-16): tau*e1 + sqrt(1-tau^2)*e2
        eps = (k - 6) * 5e-16
        v = [tau + eps, math.sqrt(max(0.0, 1.0 - tau * tau)), 0.0, 0.0]
        rows.append((rid, list(v), _fold_nrm(v)))
        rid += 1
    rows.append((1, list(base), _fold_nrm(base)))  # the low-id anchor
    for _ in range(20):  # bulk rows to make blocking meaningful
        v = rng.uniform(-1, 1, 4).tolist()
        rows.append((rid, v, _fold_nrm(v)))
        rid += 1
    want = _sem_reference_dropped(rows, tau)
    assert _sem_kernel_dropped(rows) == want
    old_chunk = V.SCRATCH_ELEMS
    try:
        V.SCRATCH_ELEMS = 8  # block of <=1 row per GEMM
        assert _sem_kernel_dropped(rows) == want
        V.SCRATCH_ELEMS = 64
        assert _sem_kernel_dropped(rows) == want
    finally:
        V.SCRATCH_ELEMS = old_chunk
