"""Training-data pipeline operators beyond single-pass dedup/scoring:
dedup *clustering* (connected components), sequence packing, stratified
sampling, percentile-based quality cuts, and event range joins.

These are the ops a 100 TB corpus-curation pipeline runs after the
per-document passes in operators/dedup.py and operators/text_analysis.py:
near-dup PAIRS are not enough — you need components (a dup cluster is
the transitive closure of pairs) to pick one canonical doc per cluster;
packed token windows are what the trainer actually consumes; sampling
must be deterministic (hash-based, not rand()) so re-runs are
reproducible across cluster sizes.

Scale design:
- Connected components uses min-label propagation: each round is one
  shuffle (edges join labels -> groupBy min), O(diameter) rounds.  Dup
  graphs are overwhelmingly tiny star clusters (diameter ~2), so 2-3
  rounds close them; the loop is capped and convergence-checked with a
  single scalar count per round (a convergence probe, not data on the
  driver).  At trillion-edge scale you'd switch the round body to the
  alternating large-star/small-star of Kiveris et al. "Connected
  Components in MapReduce and Beyond" (SOCC'14) — same join shape,
  O(log n) rounds; the per-round dataflow below is the building block.
- Sequence packing is the concat-and-chunk scheme GPT-style pretraining
  uses: within each source shard, lay documents end-to-end in doc_id
  order and cut fixed token windows.  The running offset is a window
  cumsum PARTITIONED BY source — fully parallel across shards, and the
  per-shard sort is exactly the parquet write order at scale.
- Stratified sampling keys off the engine-portable polynomial hash
  (functions/text.py), never rand(): the kept set is a pure function of
  (doc_id, rates), identical on any cluster size, any engine.
- The range join is an equi-join on user_id with the interval predicate
  as residual — Spark executes it as a hash join + filter, never a
  cartesian; fan-in per user is bounded by the window length.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from risinglight_spark.functions import text as T
from risinglight_spark.functions import vector as V
from risinglight_spark.operators import Tables, fpsum, fpsum_sql
from risinglight_spark.operators.dedup import (
    _jaccard_oracle,
    _minhash_verified_oracle,
    _simhash_oracle,
    dedup_minhash_verified,
    dedup_ngram_jaccard,
    dedup_simhash,
)
from risinglight_spark.registry import register

# -- connected components ---------------------------------------------------

CC_MAX_ROUNDS = 15


def _propagate_min_labels(pairs: DataFrame) -> DataFrame:
    """Min-label propagation over an undirected pair graph: returns
    (doc_id, component) for every vertex, component = min reachable id.
    One keyed shuffle per round, O(diameter) rounds; localCheckpoint
    cuts lineage.  Labels only ever decrease, so sum(component) is
    strictly decreasing until the fixed point: an unchanged sum IS
    convergence — one scalar agg per round, no compare join."""
    sym = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionAll(pairs.select(F.col("doc_b"), F.col("doc_a")))
    sym = sym.localCheckpoint()  # pairs plan is wide; evaluate once

    labels = (
        sym.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("component", F.col("doc_id"))
    )
    prev_sum = None
    for _ in range(CC_MAX_ROUNDS):
        nbr_min = sym.join(labels, sym.src == labels.doc_id).select(
            F.col("dst").alias("doc_id"), "component"
        )
        labels = (
            nbr_min.unionAll(labels)
            .groupBy("doc_id")
            .agg(F.min("component").alias("component"))
            .localCheckpoint()
        )
        cur_sum = labels.agg(F.sum("component")).collect()[0][0]
        if cur_sum == prev_sum:
            return labels
        prev_sum = cur_sum
    raise RuntimeError(
        f"label propagation did not converge in {CC_MAX_ROUNDS} rounds"
    )



@register(
    "dedup_connected_components",
    oracle=f"""
    WITH RECURSIVE pairs AS (
      SELECT doc_a, doc_b FROM ({_jaccard_oracle()}) j
    ),
    sym AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b, doc_a FROM pairs
    ),
    reach(src, dst) AS (
      SELECT src, dst FROM sym
      UNION
      SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src
    ),
    comp AS (
      SELECT src AS doc_id, least(src, min(dst)) AS component
      FROM reach GROUP BY src
    )
    SELECT d.doc_id,
           coalesce(c.component, d.doc_id) AS component,
           (coalesce(c.component, d.doc_id) = d.doc_id) AS is_canonical
    FROM documents d LEFT JOIN comp c USING (doc_id)
    """,
    doc="Dup-cluster assignment: word-3-gram Jaccard pairs (>= 0.5) form "
    "an undirected graph; every doc gets component = min doc_id reachable "
    "from it, is_canonical = (component == doc_id).  Spark side runs "
    "min-label propagation (one shuffle per round, O(diameter) rounds, "
    "localCheckpoint to cut lineage); the oracle replays it as a "
    "recursive-CTE transitive closure.  Reference has no graph ops — this "
    "is the LLM-pipeline step that turns near-dup PAIRS into KEEP/DROP "
    "decisions.",
)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    labels = _propagate_min_labels(pairs)

    return (
        t.documents.select("doc_id")
        .join(labels, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).alias("component"),
        )
        .withColumn("is_canonical", F.col("component") == F.col("doc_id"))
    )


@register(
    "dedup_cluster_keep_best",
    oracle=f"""
    WITH RECURSIVE pairs AS (
      SELECT doc_a, doc_b FROM ({_jaccard_oracle()}) j
    ),
    sym AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b, doc_a FROM pairs
    ),
    reach(src, dst) AS (
      SELECT src, dst FROM sym
      UNION
      SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src
    ),
    comp AS (
      SELECT src AS doc_id, least(src, min(dst)) AS component
      FROM reach GROUP BY src
    ),
    scored AS (
      SELECT d.doc_id,
             coalesce(c.component, d.doc_id) AS component,
             {T.quality_score_sql("text")} AS q
      FROM documents d LEFT JOIN comp c USING (doc_id)
    ),
    ranked AS (
      SELECT component, doc_id,
             row_number() OVER (PARTITION BY component
                                ORDER BY q DESC, doc_id DESC) AS rn,
             count(*) OVER (PARTITION BY component) AS n
      FROM scored
    )
    SELECT component, n AS n_members, doc_id AS keeper
    FROM ranked WHERE rn = 1
    """,
    doc="Quality-aware survivor selection over NEAR-dup clusters — the "
    "step real curation pipelines run after pair mining: word-3-gram "
    "Jaccard pairs close into components (min-label propagation, "
    "O(diameter) rounds), then each cluster keeps its BEST member "
    "(highest composite quality score, doc_id tiebreak) rather than "
    "the arbitrary min id.  Composition of verified blocks "
    "(dedup_ngram_jaccard + the CC closure + dedup_exact_keep_best's "
    "argmax discipline); one extra quality-scored argmax groupBy on "
    "top of the closure — map-side combinable, one row of state per "
    "cluster.  Singleton docs are their own keeper.",
)
def dedup_cluster_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    labels = _propagate_min_labels(pairs)
    scored = (
        t.documents.select(
            "doc_id", T.quality_score(F.col("text")).alias("q")
        )
        .join(labels, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).alias(
                "component"
            ),
            "q",
        )
    )
    return scored.groupBy("component").agg(
        F.count("*").alias("n_members"),
        F.max_by(
            "doc_id",
            F.struct(
                F.col("q").alias("q"),
                F.col("doc_id").cast("double").alias("tb"),
            ),
        ).alias("keeper"),
    )


@register(
    "dedup_soft_weights",
    oracle=f"""
    WITH RECURSIVE pairs AS (
      SELECT doc_a, doc_b FROM ({_jaccard_oracle()}) j
    ),
    sym AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b, doc_a FROM pairs
    ),
    reach(src, dst) AS (
      SELECT src, dst FROM sym
      UNION
      SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src
    ),
    comp AS (
      SELECT src AS doc_id, least(src, min(dst)) AS component
      FROM reach GROUP BY src
    ),
    all_docs AS (
      SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
      FROM documents d LEFT JOIN comp c USING (doc_id)
    ),
    sizes AS (
      SELECT component, count(*) AS cluster_size
      FROM all_docs GROUP BY component
    )
    SELECT a.doc_id, a.component, s.cluster_size,
           round(CAST(1.0 AS DOUBLE) / CAST(s.cluster_size AS DOUBLE), 8)
               AS soft_weight
    FROM all_docs a JOIN sizes s USING (component)
    """,
    doc="Soft deduplication (the SoftDedup recipe, He et al. 2024): "
    "instead of DROPPING near-duplicates, every document gets a "
    "sampling weight of 1/cluster_size, so each dup cluster "
    "contributes one document's worth of expected training mass while "
    "no text is discarded — the reweighting alternative when hard "
    "dedup is too lossy (sum of weights == number of clusters, "
    "singletons keep weight 1.0).  Pure composition of verified "
    "blocks: the Jaccard pair graph closes into components (shared "
    "min-label propagation, O(diameter) rounds), one component-keyed "
    "size rollup (map-side combinable), one keyed join back — no new "
    "shuffle shapes, and at 100 TB the weights column rides along the "
    "same write the hard-dedup keep/drop decision would.",
)
def dedup_soft_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    labels = _propagate_min_labels(pairs)
    comp = (
        t.documents.select("doc_id")
        .join(labels, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).alias(
                "component"
            ),
        )
    )
    sizes = comp.groupBy("component").agg(
        F.count("*").alias("cluster_size")
    )
    return comp.join(sizes, "component").select(
        "doc_id",
        "component",
        "cluster_size",
        F.round(
            F.lit(1.0) / F.col("cluster_size").cast("double"), 8
        ).alias("soft_weight"),
    )


# -- leakage-safe train/val split --------------------------------------------

VAL_BUCKET_MOD = 10  # ~10% of dup CLUSTERS (not docs) go to validation


@register(
    "sample_leakage_safe_split",
    oracle=f"""
    WITH RECURSIVE pairs AS (
      SELECT doc_a, doc_b FROM ({_jaccard_oracle()}) j
    ),
    sym AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b, doc_a FROM pairs
    ),
    reach(src, dst) AS (
      SELECT src, dst FROM sym
      UNION
      SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src
    ),
    comp AS (
      SELECT src AS doc_id, least(src, min(dst)) AS component
      FROM reach GROUP BY src
    ),
    all_docs AS (
      SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
      FROM documents d LEFT JOIN comp c USING (doc_id)
    )
    SELECT doc_id, component,
           (CASE WHEN {T.char_hash_sql("CAST(component AS VARCHAR)")}
                      % {VAL_BUCKET_MOD} = 0
                 THEN 'val' ELSE 'train' END) AS split
    FROM all_docs
    """,
    doc="Leakage-safe train/validation split: the unit of assignment is "
    "the NEAR-DUP CLUSTER, not the document — a doc and its near-copy "
    "can never straddle the split, the train/test contamination that "
    "inflates eval scores (Lee et al. 2022 found benchmark dups in "
    "C4; Kapoor & Narayanan 2023 catalog it as the most common "
    "leakage class; scikit-learn's GroupShuffleSplit is the "
    "single-node version of the semantics).  Composition of verified "
    "blocks: Jaccard pairs close into components (shared min-label "
    "propagation), then split = portable-hash(component) % "
    f"{VAL_BUCKET_MOD} — deterministic, engine-portable, and "
    "assignment rides the existing component column with no new "
    "shuffle shapes.",
)
def sample_leakage_safe_split(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    t = Tables(spark, sf_dir)
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    labels = _propagate_min_labels(pairs)
    comp = (
        t.documents.select("doc_id")
        .join(labels, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).alias(
                "component"
            ),
        )
    )
    return comp.select(
        "doc_id",
        "component",
        F.when(
            T.char_hash(F.col("component").cast("string"))
            % VAL_BUCKET_MOD
            == 0,
            F.lit("val"),
        )
        .otherwise(F.lit("train"))
        .alias("split"),
    )


# -- Pareto-front (skyline) quality selection --------------------------------

PARETO_SALT = 32  # phase-1 chunking fan-out for the local fronts
PARETO_SALT_MID = 8  # salt-tree middle level: 32 -> 8 -> 1 per source


def _pareto_local_front(pdf):
    """Exact skyline of one Arrow batch (all rows share a source):
    maximize (n_tok, n_uniq, alpha_ratio).  A point survives iff no
    other point is >= on every dimension and > on at least one —
    identical points never dominate each other, matching the oracle's
    NOT EXISTS.

    Kung/Luccio/Preparata 3-d maxima sweep (JACM 1975), O(n log n):
    points sorted lexicographically descending; a point can only be
    dominated by a point sorting no later.  For strictly-greater-x
    dominators the sweep answers "exists processed point with Y >= py
    and Z >= pz" with a max-FENWICK TREE over rank-compressed y
    (ranks reversed so the Y >= py suffix becomes a prefix): query
    and update are O(log n) for EVERY input orientation — the first
    cut kept a sorted-list staircase whose front-inserts were O(n)
    shifts, re-creating the quadratic cliff on the orientation that
    grows y downward (caught by the round-12 adversarial review;
    both orientations are probed now).  Equal-x runs are checked 2-d
    within the run (running max-z over strictly-greater y, plus a
    strict-z test inside equal-(x,y) ties), then merged into the
    tree.  The pre-round-12 kernel compared each point against ALL
    kept points (O(n * |front|) numpy broadcast): harmless on real
    text where fronts are tiny, but an adversarial all-on-front
    antichain made the single root-merge task do ~n^2/2 comparisons
    (~25M at n=5k) — the cliff tools/pareto_front_probe.py records
    and VERDICT r11 item 5 ordered flattened."""
    import numpy as np

    x = pdf["n_tok"].to_numpy(dtype="int64")
    y = pdf["n_uniq"].to_numpy(dtype="int64")
    z = pdf["alpha_ratio"].to_numpy(dtype="float64")
    order = np.lexsort((pdf["doc_id"].to_numpy(), -z, -y, -x))
    x, y, z = x[order], y[order], z[order]
    n = len(x)
    keep = np.zeros(n, dtype=bool)
    # Max-Fenwick over reversed y-ranks: tree index i covers a prefix
    # of the DESCENDING-y order, i.e. a suffix of ascending y — so
    # query(rev_rank(py)) = max z among processed points with Y >= py.
    uy = np.unique(y)  # ascending
    m = len(uy)
    rev = m - np.searchsorted(uy, y)  # y -> 1-based reversed rank
    tree = np.full(m + 1, -np.inf)

    def _query(i: int) -> float:
        best = -np.inf
        while i > 0:
            if tree[i] > best:
                best = tree[i]
            i -= i & -i
        return best

    def _update(i: int, val: float) -> None:
        while i <= m:
            if tree[i] < val:
                tree[i] = val
            i += i & -i

    g0 = 0
    while g0 < n:
        g1 = g0
        while g1 < n and x[g1] == x[g0]:
            g1 += 1
        # within-run 2-d check: rows sorted y desc, z desc
        maxz_gt = float("-inf")  # max z among strictly-greater y
        r0 = g0
        while r0 < g1:
            r1 = r0
            while r1 < g1 and y[r1] == y[r0]:
                r1 += 1
            run_max_z = z[r0]  # z desc within equal (x, y)
            for k in range(r0, r1):
                if maxz_gt >= z[k] or run_max_z > z[k]:
                    continue  # dominated within the equal-x run
                if _query(int(rev[k])) >= z[k]:
                    continue  # dominated by a strictly-greater-x point
                keep[k] = True
            maxz_gt = max(maxz_gt, run_max_z)
            r0 = r1
        # merge the run's survivors into the tree AFTER the whole
        # equal-x run is judged (tree semantics are strict-x)
        for k in range(g0, g1):
            if keep[k]:
                _update(int(rev[k]), float(z[k]))
        g0 = g1
    return pdf.iloc[order[keep]][
        ["doc_id", "source", "n_tok", "n_uniq", "alpha_ratio"]
    ]


@register(
    "pipeline_pareto_front",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, source,
             {T.token_count_sql("text")} AS n_tok,
             len(list_distinct({T.tokens_sql("text")}))::BIGINT AS n_uniq,
             round(length(regexp_replace(lower(text), '[^a-z]', '', 'g'))::DOUBLE
                   / greatest(length(text), 1)::DOUBLE, 8) AS alpha_ratio
      FROM documents
    )
    SELECT a.doc_id, a.source, a.n_tok, a.n_uniq, a.alpha_ratio
    FROM s a
    WHERE NOT EXISTS (
      SELECT 1 FROM s b
      WHERE b.source = a.source
        AND b.n_tok >= a.n_tok AND b.n_uniq >= a.n_uniq
        AND b.alpha_ratio >= a.alpha_ratio
        AND (b.n_tok > a.n_tok OR b.n_uniq > a.n_uniq
             OR b.alpha_ratio > a.alpha_ratio)
    )
    """,
    doc="Per-source Pareto front (the skyline operator, Börzsönyi/"
    "Kossmann/Stocker ICDE 2001) over three quality signals — token "
    "count, distinct-token count, alphabetic-character ratio, all "
    "maximized: the documents no other same-source doc beats on every "
    "axis, i.e. multi-signal exemplar selection WITHOUT scalarizing "
    "weights (the step before a weighted quality cut commits to a "
    "trade-off).  Distributed divide-and-conquer: dominance is "
    "transitive, so skyline(union of chunk skylines) == skyline — a "
    "salt-tree of local fronts per (source, salt-of-32) Arrow group, "
    "merged 32 -> 8 -> 1 per source; the full corpus never gathers "
    "anywhere, and the signals themselves are one JVM-side scan.  "
    "Each group runs the Kung/Luccio/Preparata O(n log n) staircase "
    "sweep (see _pareto_local_front), so even the adversarial "
    "all-on-front antichain costs n log n at the root merge instead "
    "of the former n^2/2 pairwise comparisons.  The naive formulation "
    "is the O(n^2) NOT EXISTS self-join the oracle runs.",
)
def pipeline_pareto_front(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    toks = T.tokens(F.col("text"))
    sig = t.documents.select(
        "doc_id",
        "source",
        T.token_count(F.col("text")).alias("n_tok"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_uniq"),
        F.round(
            F.length(
                F.regexp_replace(F.lower(F.col("text")), "[^a-z]", "")
            ).cast("double")
            / F.greatest(F.length("text"), F.lit(1)).cast("double"),
            8,
        ).alias("alpha_ratio"),
    )
    schema = (
        "doc_id bigint, source string, n_tok bigint, n_uniq bigint, "
        "alpha_ratio double"
    )
    local = (
        sig.withColumn(
            "_salt", F.pmod(F.xxhash64("doc_id"), F.lit(PARETO_SALT))
        )
        .groupBy("source", "_salt")
        .applyInPandas(lambda pdf: _pareto_local_front(pdf), schema)
    )
    # Salt-tree merge (the round-11 docstring promise, VERDICT r11 item
    # 5): 32 local fronts -> 8 mid-level groups -> 1 per source.
    # Dominance is transitive, so skyline(union of skylines) == skyline
    # at every level.  The middle level bounds the fan-in any single
    # merge task absorbs to PARETO_SALT/PARETO_SALT_MID fronts; on an
    # all-on-front antichain the root still ingests the full front
    # (that IS the output), where the O(n log n) staircase kernel —
    # not the fan-in — is what flattens the former ~n^2/2-comparison
    # cliff (probe table in SCALE.md).
    mid = (
        local.withColumn(
            "_salt", F.pmod(F.xxhash64("doc_id"), F.lit(PARETO_SALT_MID))
        )
        .groupBy("source", "_salt")
        .applyInPandas(lambda pdf: _pareto_local_front(pdf), schema)
    )
    return mid.groupBy("source").applyInPandas(
        lambda pdf: _pareto_local_front(pdf), schema
    )


# -- sequence packing -------------------------------------------------------

CHUNK_TOKENS = 256


@register(
    "pack_sequences",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, {T.token_count_sql("text")} AS n_tokens
      FROM documents
      WHERE {T.token_count_sql("text")} > 0
    ),
    laid AS (
      SELECT doc_id, source, n_tokens,
             sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) AS end_tok
      FROM toks
    )
    SELECT doc_id, source, n_tokens,
           CAST(floor((end_tok - n_tokens) / {CHUNK_TOKENS}.0) AS BIGINT) AS first_chunk,
           CAST(floor((end_tok - 1) / {CHUNK_TOKENS}.0) AS BIGINT) AS last_chunk,
           (CAST(floor((end_tok - 1) / {CHUNK_TOKENS}.0) AS BIGINT)
            - CAST(floor((end_tok - n_tokens) / {CHUNK_TOKENS}.0) AS BIGINT) + 1) AS n_chunks
    FROM laid
    """,
    doc=f"Concat-and-chunk sequence packing: within each source shard, "
    f"documents are laid end-to-end in doc_id order and cut into "
    f"{CHUNK_TOKENS}-token training windows; each doc reports the chunk "
    f"span it lands in.  The running offset is the DISTRIBUTED grouped "
    f"prefix sum (grouped_prefix_sum: range-partitioned local cumsums "
    f"+ broadcast per-(source, partition) offsets) — exact doc_id-order "
    f"layout without funneling a source's whole shard through one "
    f"window task.",
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from risinglight_spark.operators import grouped_prefix_sum

    t = Tables(spark, sf_dir)
    toks = t.documents.select(
        "doc_id", "source", T.token_count(F.col("text")).alias("n_tokens")
    ).filter(F.col("n_tokens") > 0)
    laid = grouped_prefix_sum(
        toks, "source", ("doc_id",), "n_tokens", out_col="end_tok"
    )
    first = F.floor((F.col("end_tok") - F.col("n_tokens")) / CHUNK_TOKENS).cast("long")
    last = F.floor((F.col("end_tok") - 1) / CHUNK_TOKENS).cast("long")
    return laid.select(
        "doc_id",
        "source",
        "n_tokens",
        first.alias("first_chunk"),
        last.alias("last_chunk"),
        (last - first + F.lit(1)).alias("n_chunks"),
    )


# -- greedy bin packing (applyInPandas) -------------------------------------

BIN_CAP_TOKENS = 512


def _pack_bins(pdf):
    """First-fit-decreasing bin packing of one source shard.
    Deterministic: docs sorted by (tokens desc, doc_id); each goes into
    the lowest-numbered bin with room, else opens a new bin."""
    import pandas as pd

    pdf = pdf.sort_values(
        ["n_tokens", "doc_id"], ascending=[False, True]
    ).reset_index(drop=True)
    bins: list[int] = []  # remaining capacity per bin
    rows = []
    for doc_id, n in zip(pdf["doc_id"], pdf["n_tokens"]):
        for i, rem in enumerate(bins):
            if n <= rem:
                bins[i] = rem - n
                rows.append((doc_id, i))
                break
        else:
            bins.append(max(BIN_CAP_TOKENS - n, 0))
            rows.append((doc_id, len(bins) - 1))
    out = pd.DataFrame(rows, columns=["doc_id", "bin_id"])
    out["source"] = pdf["source"].iloc[0] if len(pdf) else None
    out["n_tokens"] = pdf["n_tokens"].values
    return out[["source", "bin_id", "doc_id", "n_tokens"]]


def _ffd_oracle() -> str:
    """First-fit-decreasing replayed as a DuckDB recursive CTE: items
    ranked (tokens DESC, doc_id) per source; each recursion step
    places the next item into the first bin with room (list_position
    over the remaining-capacity list) or opens a new bin — the exact
    loop _pack_bins runs, advanced one item per source per step."""
    toks = T.token_count_sql("text")
    pos = "list_position(list_transform(f.rem, r -> i.sz <= r), true)"
    return f"""
    WITH RECURSIVE items AS (
      SELECT source, doc_id, {toks} AS sz,
             row_number() OVER (PARTITION BY source
                                ORDER BY {toks} DESC, doc_id) AS rk
      FROM documents WHERE {toks} > 0
    ),
    fit(source, rk, rem, bin_id) AS (
      SELECT source, 0::BIGINT, []::BIGINT[], NULL::BIGINT
      FROM (SELECT DISTINCT source FROM items)
      UNION ALL
      SELECT f.source, f.rk + 1,
             CASE WHEN coalesce({pos}, 0) = 0
                  THEN list_append(f.rem,
                                   greatest({BIN_CAP_TOKENS} - i.sz, 0))
                  ELSE f.rem[1:{pos} - 1]
                       || [f.rem[{pos}] - i.sz]
                       || f.rem[{pos} + 1:len(f.rem)]
             END,
             CASE WHEN coalesce({pos}, 0) = 0 THEN len(f.rem)::BIGINT
                  ELSE {pos}::BIGINT - 1
             END
      FROM fit f JOIN items i ON i.source = f.source AND i.rk = f.rk + 1
    )
    SELECT f.source, f.bin_id, i.doc_id, CAST(i.sz AS BIGINT) AS n_tokens
    FROM fit f JOIN items i ON i.source = f.source AND i.rk = f.rk
    """


@register(
    "pack_greedy_bins",
    oracle=_ffd_oracle(),
    doc=f"First-fit-decreasing bin packing of documents into "
    f"{BIN_CAP_TOKENS}-token training bins, per source shard via "
    f"applyInPandas (grouped Arrow batches).  Unlike pack_sequences' "
    f"concat-and-chunk, FFD minimizes padding waste when documents "
    f"must not span bins.  Shuffles once on source; each group packs "
    f"independently — the per-shard sequential scan is the "
    f"algorithm's nature, parallelism comes from shard count.",
)
def pack_greedy_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    toks = t.documents.select(
        "doc_id", "source", T.token_count(F.col("text")).alias("n_tokens")
    ).filter(F.col("n_tokens") > 0)
    return toks.groupBy("source").applyInPandas(
        _pack_bins,
        schema="source string, bin_id long, doc_id long, n_tokens long",
    )


# -- deterministic stratified sampling --------------------------------------

SAMPLE_BUCKETS = 1000
EN_KEEP = 200  # downsample the over-represented stratum to 20%
OTHER_KEEP = 500  # keep 50% of everything else


@register(
    "sample_hash_stratified",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, lang,
             {T.char_hash_sql("CAST(doc_id AS VARCHAR)")} % {SAMPLE_BUCKETS} AS bucket
      FROM documents
    )
    SELECT doc_id, lang, bucket
    FROM b
    WHERE bucket < (CASE WHEN lang = 'en' THEN {EN_KEEP} ELSE {OTHER_KEEP} END)
    """,
    doc="Deterministic stratified sampling: bucket = portable polynomial "
    "hash(doc_id) % 1000; keep en docs with bucket < 200 (20%), others "
    "< 500 (50%).  No rand() anywhere — the sample is a pure function "
    "of doc_id, so re-runs reproduce exactly at any parallelism, and "
    "upsampling a stratum later only ADDS docs (bucket threshold "
    "monotonicity), never reshuffles the kept set.",
)
def sample_hash_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    bucket = (
        T.char_hash(F.col("doc_id").cast("string")) % SAMPLE_BUCKETS
    ).alias("bucket")
    keep = F.when(F.col("lang") == "en", EN_KEEP).otherwise(OTHER_KEEP)
    return (
        t.documents.select("doc_id", "lang", bucket)
        .filter(F.col("bucket") < keep)
    )


# -- per-language quality percentile cut ------------------------------------


@register(
    "text_quality_percentile_cut",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang, {T.quality_score_sql("text")} AS quality
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, lang, quality,
             percent_rank() OVER (PARTITION BY lang
                                  ORDER BY quality DESC, doc_id) AS pct
      FROM scored
    )
    SELECT doc_id, lang, quality, pct
    FROM ranked WHERE pct <= 0.5
    """,
    doc="Keep the top half of each language by quality score.  Rank-based "
    "(percent_rank over a TOTAL order — doc_id tiebreak), not a "
    "percentile-value threshold, so the cut is exact integer logic with "
    "no interpolation drift.  The rank is the DISTRIBUTED per-group "
    "rank (ranked_by_score_desc: score-histogram prefix + per-bin "
    "row_number), never a per-lang window over the corpus — a "
    "90%-English corpus would funnel 90% of 100 TB through one window "
    "task otherwise; pct = (rk-1)/(n-1) reproduces percent_rank "
    "bit-exactly (same integer division).",
)
def text_quality_percentile_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    from risinglight_spark.operators import ranked_by_score_desc

    t = Tables(spark, sf_dir)
    scored = t.documents.select(
        "doc_id", "lang", T.quality_score(F.col("text")).alias("quality")
    )
    ranked = ranked_by_score_desc(scored, "lang", "quality", "doc_id")
    pct = F.when(F.col("n_grp") == 1, F.lit(0.0)).otherwise(
        (F.col("rk") - 1).cast("double") / (F.col("n_grp") - 1)
    )
    return (
        ranked.withColumn("pct", pct)
        .filter(F.col("pct") <= 0.5)
        .select("doc_id", "lang", "quality", "pct")
    )


# -- event range join -------------------------------------------------------

LOOKBACK_MIN = 10


@register(
    "events_range_join",
    oracle=f"""
    WITH p AS (
      SELECT event_id AS purchase_id, user_id, ts
      FROM events WHERE event_type = 'purchase'
    ),
    c AS (
      SELECT user_id, ts, value FROM events WHERE event_type = 'click'
    )
    SELECT p.purchase_id,
           count(c.ts) AS n_clicks,
           {fpsum_sql("c.value")} AS click_value
    FROM p LEFT JOIN c
      ON p.user_id = c.user_id
     AND c.ts >= p.ts - INTERVAL {LOOKBACK_MIN} MINUTE
     AND c.ts <= p.ts
    GROUP BY p.purchase_id
    """,
    doc=f"Interval range join: for each purchase, the clicks by the same "
    f"user in the preceding {LOOKBACK_MIN} minutes.  Executes as an "
    f"equi hash join on user_id with the time predicate as residual — "
    f"never a cartesian; per-key fan-in is bounded by the lookback "
    f"window.  At heavy per-user skew you'd additionally bin time into "
    f"{LOOKBACK_MIN}-minute epochs and join on (user_id, epoch±1).",
)
def events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    ev = t.events
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("value"),
    )
    lo = F.col("p_ts") - F.expr(f"INTERVAL {LOOKBACK_MIN} MINUTES")
    joined = p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= lo)
        & (F.col("c_ts") <= F.col("p_ts")),
        "left",
    )
    return joined.groupBy("purchase_id").agg(
        F.count("c_ts").alias("n_clicks"),
        fpsum(F.col("value")).alias("click_value"),
    )


# -- token-budget selection & mixture weighting -----------------------------

TOKEN_BUDGET_PER_SOURCE = 5_000


@register(
    "sample_token_budget",
    oracle=f"""
    WITH sized AS (
      SELECT doc_id, source, {T.token_count_sql("text")} AS n_tokens
      FROM documents
    ), cum AS (
      SELECT doc_id, source, n_tokens,
             sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW)::BIGINT AS cum_tokens
      FROM sized
    )
    SELECT doc_id, source, n_tokens, cum_tokens
    FROM cum WHERE cum_tokens <= {TOKEN_BUDGET_PER_SOURCE}
    """,
    doc="Per-source token-budget fill: lay docs in deterministic "
    "doc_id order and keep each source's prefix up to a fixed token "
    "budget — how pretraining mixtures cap over-represented sources. "
    "The cumsum is the DISTRIBUTED grouped prefix sum "
    "(grouped_prefix_sum: range-partitioned local cumsums + broadcast "
    "per-(source, partition) offsets) — a per-source window would "
    "funnel each source's whole corpus slice through one task; the "
    "budget predicate prunes everything past the cutoff before any "
    "downstream stage.",
)
def sample_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    from risinglight_spark.operators import grouped_prefix_sum

    t = Tables(spark, sf_dir)
    sized = t.documents.select(
        "doc_id",
        "source",
        T.token_count(F.col("text")).alias("n_tokens"),
    )
    return (
        grouped_prefix_sum(
            sized, "source", ("doc_id",), "n_tokens", out_col="cum_tokens"
        )
        .filter(F.col("cum_tokens") <= TOKEN_BUDGET_PER_SOURCE)
        .select("doc_id", "source", "n_tokens", "cum_tokens")
    )


@register(
    "mix_source_weights",
    oracle=f"""
    WITH per_source AS (
      SELECT source, count(*) AS n_docs,
             sum({T.token_count_sql("text")})::BIGINT AS tokens
      FROM documents GROUP BY source
    ), tot AS (
      SELECT source, n_docs, tokens,
             sum(tokens) OVER ()::BIGINT AS total_tokens,
             count(*) OVER () AS n_sources
      FROM per_source
    )
    SELECT source, n_docs, tokens,
           round(tokens::DOUBLE / total_tokens, 10) AS actual_share,
           round((1.0 / n_sources)
                 / (tokens::DOUBLE / total_tokens), 10) AS weight,
           round(least((1.0 / n_sources)
                 / (tokens::DOUBLE / total_tokens), 4.0), 10) AS epochs
    FROM tot
    """,
    doc="Pretraining mixture weighting: per-source token shares and "
    "the up/down-sampling factor to reach a uniform target mix, "
    "capped at 4 epochs (the standard repetition-harm bound). "
    "The per-source rollup is a map-side-combined aggregate; the "
    "share window runs over K source rows — driver-scale metadata, "
    "not data.",
)
def mix_source_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    per = t.documents.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(T.token_count(F.col("text"))).alias("tokens"),
    )
    w = Window.partitionBy()
    share = F.col("tokens").cast("double") / F.sum("tokens").over(w)
    weight = (F.lit(1.0) / F.count("*").over(w)) / share
    return per.select(
        "source",
        "n_docs",
        "tokens",
        F.round(share, 10).alias("actual_share"),
        F.round(weight, 10).alias("weight"),
        F.round(F.least(weight, F.lit(4.0)), 10).alias("epochs"),
    )


# Data-constrained epoch scheduling (Muennighoff et al. 2023, "Scaling
# Data-Constrained Language Models"): repeating data has decaying value
# per epoch.  Allocate a raw-token budget across sources by greedy
# water-filling over (source, epoch) marginal values u_s * d^k — the
# principled version of mix_source_weights' flat 4-epoch cap.
EPOCH_DECAY = 0.6
EPOCH_MAX = 8
# per-epoch value weights as 1e6-scaled integers, computed ONCE in
# Python and injected as literals into BOTH engines — no cross-engine
# pow() in the plan, so the ranking key is exact integer arithmetic
_EPOCH_W_FP = tuple(
    round(EPOCH_DECAY**k * 1_000_000) for k in range(EPOCH_MAX)
)
_EPOCH_W_SQL = "[" + ", ".join(str(w) for w in _EPOCH_W_FP) + "]"


@register(
    "mix_epochs_schedule",
    oracle=f"""
    WITH per AS (
      SELECT source, sum({T.token_count_sql("text")})::BIGINT AS u
      FROM documents GROUP BY source HAVING sum({T.token_count_sql("text")}) > 0
    ),
    b AS (SELECT (3 * sum(u)) // 2 AS budget FROM per),
    pairs AS (
      SELECT source, u, k0, ({_EPOCH_W_SQL})[k0 + 1]::BIGINT AS w
      FROM per CROSS JOIN
           (SELECT unnest(generate_series(0, {EPOCH_MAX - 1})) AS k0)
    ),
    ranked AS (
      SELECT source, u, k0, w,
             sum(u) OVER (ORDER BY u * w DESC, source, k0
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW)::BIGINT AS cum
      FROM pairs
    ),
    funded AS (
      SELECT source, u, w,
             greatest(least((SELECT budget FROM b) - (cum - u), u),
                      0)::BIGINT AS f
      FROM ranked
    )
    SELECT source,
           max(u)::BIGINT AS unique_tokens,
           sum(CASE WHEN f = u THEN 1 ELSE 0 END)::BIGINT AS epochs_full,
           round(sum(CASE WHEN f > 0 AND f < u THEN f ELSE 0 END)::DOUBLE
                 / max(u), 10) AS frac_epoch,
           sum(f)::BIGINT AS raw_alloc,
           round(sum(f * w)::DOUBLE / 1000000.0, 4) AS effective_tokens
    FROM funded GROUP BY source
    """,
    doc=f"Data-constrained epoch schedule (Muennighoff et al. 2023): "
    f"the k-th epoch of a source is worth u_s * {EPOCH_DECAY}^k "
    f"effective tokens (weights pinned as 1e6-scaled integer literals, "
    f"epochs 0..{EPOCH_MAX - 1}); a raw-token budget of 1.5x the "
    "corpus is spent greedily on the globally highest-marginal-value "
    "(source, epoch) pairs — water-filling, with the boundary epoch "
    "funded fractionally (budget - prefix, exact integer).  Emits "
    "full/fractional epochs, raw allocation, and effective tokens per "
    "source.  Everything after the per-source token rollup (one "
    "map-side-combined aggregate) runs on |sources| x "
    f"{EPOCH_MAX} rows — bounded metadata, the documented-safe global-"
    "window input class; ranking key u*w and funded amounts are pure "
    "int64, so both engines agree bit-exactly.  The corpus-total "
    "collect is a 1-row metadata read (the text_unigram_logprob "
    "pattern).  The principled upgrade of mix_source_weights' flat "
    "4-epoch cap; composes with mix_doremi_weight_update (quality-"
    "aware weights) and sample_token_budget (the doc-level fill).",
)
def mix_epochs_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    from risinglight_spark.operators import _cached_persisted

    t = Tables(spark, sf_dir)
    # the |sources|-row token rollup is the only corpus-touching stage;
    # memoized, so repeat calls run entirely on K-row metadata
    per = _cached_persisted(
        spark,
        sf_dir,
        "source_token_counts",
        lambda: t.documents.groupBy("source")
        .agg(F.sum(T.token_count(F.col("text"))).alias("u"))
        .filter(F.col("u") > 0),
    )
    # 1-row metadata collect: the budget must be an exact integer
    # literal shared with the oracle's (3*total)//2
    total = per.agg(F.sum("u")).collect()[0][0] or 0
    budget = (3 * int(total)) // 2
    w_arr = F.array(*[F.lit(int(w)).cast("long") for w in _EPOCH_W_FP])
    pairs = per.select(
        "source", "u", F.posexplode(w_arr).alias("k0", "w")
    )
    marg = F.col("u") * F.col("w")
    win = Window.orderBy(F.desc(marg), "source", "k0").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = pairs.withColumn("cum", F.sum("u").over(win))
    funded = ranked.select(
        "source",
        "u",
        "w",
        F.greatest(
            F.least(F.lit(budget) - (F.col("cum") - F.col("u")), F.col("u")),
            F.lit(0).cast("long"),
        ).alias("f"),
    )
    return funded.groupBy("source").agg(
        F.max("u").alias("unique_tokens"),
        F.sum(
            F.when(F.col("f") == F.col("u"), 1).otherwise(0)
        ).cast("long").alias("epochs_full"),
        F.round(
            F.sum(
                F.when(
                    (F.col("f") > 0) & (F.col("f") < F.col("u")),
                    F.col("f"),
                ).otherwise(0)
            ).cast("double")
            / F.max("u"),
            10,
        ).alias("frac_epoch"),
        F.sum("f").alias("raw_alloc"),
        F.round(
            F.sum(F.col("f") * F.col("w")).cast("double") / 1e6, 4
        ).alias("effective_tokens"),
    )


# -- deterministic training order -------------------------------------------

ORDER_MULT = 2_654_435_761  # Knuth multiplicative hash (fits in int64 math)
ORDER_MOD = 2**31 - 1
N_SHARDS = 64


@register(
    "sample_training_order",
    oracle=f"""
    WITH h AS (
      SELECT doc_id,
             ((doc_id * {ORDER_MULT}) % {ORDER_MOD}) AS order_key
      FROM documents
    )
    SELECT doc_id, order_key,
           (order_key % {N_SHARDS})::INT AS shard,
           row_number() OVER (PARTITION BY (order_key % {N_SHARDS})
                              ORDER BY order_key, doc_id) AS pos_in_shard
    FROM h
    """,
    doc="Deterministic global training-order shuffle WITHOUT a global "
    "sort: a multiplicative hash assigns each doc a pseudo-random "
    "order key, docs land in hash shards, and position-in-shard is "
    "the DISTRIBUTED range-partitioned rank (ranked_by_range_sort) — "
    "so even a single shard never serializes through one task "
    "(corpus/64 per shard at 100 TB is still ~1.5 TB).  The trainer "
    "reads shard files round-robin; the order is a pure function of "
    "doc_id (reproducible on any cluster, restartable mid-epoch).  "
    "This is how you shuffle a 100 TB corpus for training: rand() is "
    "non-reproducible and a global ORDER BY is a "
    "single-range-partition bottleneck.",
)
def sample_training_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from risinglight_spark.operators import ranked_by_range_sort

    t = Tables(spark, sf_dir)
    key = (F.col("doc_id") * F.lit(ORDER_MULT)) % F.lit(ORDER_MOD)
    shard = (F.col("order_key") % N_SHARDS).cast("int")
    sharded = t.documents.select("doc_id", key.alias("order_key")).withColumn(
        "shard", shard
    )
    return (
        ranked_by_range_sort(sharded, "shard", ("order_key", "doc_id"))
        .withColumnRenamed("rn", "pos_in_shard")
        .select("doc_id", "order_key", "shard", "pos_in_shard")
    )


# -- flagship end-to-end pretraining corpus pipeline ------------------------

E2E_MIN_QUALITY = 0.3
E2E_MAX_DUP2 = 0.2


def _e2e_oracle() -> str:
    sh5 = T.word_shingles_sql("text", 5)
    g2 = T.word_shingles_sql("text", 2)
    dup2 = (
        f"(CASE WHEN len({g2}) = 0 THEN 0.0 "
        f"ELSE (len({g2}) - len(list_distinct({g2})))::DOUBLE / len({g2}) END)"
    )
    return f"""
    WITH feats AS MATERIALIZED (
      SELECT doc_id, source, text,
             {T.quality_score_sql("text")} AS q,
             {T.fingerprint_sql("text")} AS fp,
             {T.token_count_sql("text")} AS ws,
             {dup2} AS dup2
      FROM documents
    ),
    gated AS MATERIALIZED (
      SELECT doc_id, source, text, q, fp, ws FROM feats
      WHERE q >= {E2E_MIN_QUALITY} AND dup2 <= {E2E_MAX_DUP2}
        AND doc_id % 97 <> 0
    ),
    bench AS (
      SELECT DISTINCT unnest(list_distinct({sh5})) AS s
      FROM documents WHERE doc_id % 97 = 0
    ),
    contaminated AS (
      SELECT DISTINCT g.doc_id
      FROM gated g, unnest(list_distinct({sh5.replace('text', 'g.text')})) AS u(s)
      WHERE u.s IN (SELECT s FROM bench)
    ),
    clean AS (
      SELECT * FROM gated
      WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
    ),
    deduped AS (
      SELECT * FROM clean
      QUALIFY row_number() OVER (PARTITION BY fp ORDER BY doc_id) = 1
    ),
    budgeted AS (
      SELECT *, sum(ws) OVER (PARTITION BY source ORDER BY doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW)::BIGINT AS cum
      FROM deduped
    )
    SELECT source, count(*) AS docs_kept, sum(ws)::BIGINT AS tokens_kept,
           {fpsum_sql("q")} AS sum_quality
    FROM budgeted WHERE cum <= {TOKEN_BUDGET_PER_SOURCE}
    GROUP BY source
    """


@register(
    "pipeline_pretraining_e2e",
    oracle=_e2e_oracle(),
    doc="The full pretraining-corpus build in one query: quality gate "
    "+ within-doc repetition filter -> benchmark decontamination "
    "(5-gram collision vs the held-out split, broadcast) -> exact "
    "dedup (min-id per fingerprint) -> per-source token-budget fill "
    "-> per-source rollup.  Stage order is the cost order: cheap "
    "per-row gates run FIRST so the expensive shingle/dedup stages "
    "see only survivors; the corpus is never shuffled until the "
    "fingerprint dedup, and the only other wide stages are the "
    "budget window (keyed by source) and the tiny final rollup.",
)
def pipeline_pretraining_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    c = F.col("text")
    f = T.doc_features_pandas()(c).alias("f")
    r = T.repetition_counts_pandas()(c).alias("r")
    feats = t.documents.select("doc_id", "source", "text", f, r).select(
        "doc_id", "source", "text", "f.q", "f.fp", "f.ws",
        "r.n_g2", "r.dup_g2",
    )
    dup2 = F.when(F.col("n_g2") == 0, F.lit(0.0)).otherwise(
        F.col("dup_g2").cast("double") / F.col("n_g2")
    )
    gated = feats.filter(
        (F.col("q") >= E2E_MIN_QUALITY)
        & (dup2 <= E2E_MAX_DUP2)
        & (F.col("doc_id") % 97 != 0)
    ).select("doc_id", "source", "text", "q", "fp", "ws")
    # Materialize the survivors: the decontamination branch and the
    # anti-join both read `gated`, and plan-level reuse does not
    # dedupe Python stages — without this the two doc-feature UDFs
    # re-score the whole corpus twice.  At cluster scale this is the
    # post-gate corpus you'd write back to storage between stages —
    # and the storage level says exactly that: DISK_ONLY streams the
    # columnar batches to local disk instead of unrolling each
    # partition's TEXT column in the MemoryStore first.  The default
    # MEMORY_AND_DISK put must hold a whole partition's deserialized
    # batches in heap per concurrent task; at the 32x bounded-heap
    # probe (57.6M docs, ~1 GB of text per partition x 32 tasks under
    # a 16 GB heap) that OOM'd the executor — the round-12 escalation
    # find (SCALE.md).  Memoized via _cached_persisted (one cache per
    # corpus): a bare per-call persist leaked one never-unpersisted
    # cache entry per invocation, and the cache manager's sameResult
    # scan over the growing entry list showed up as per-call DRIVER
    # latency in long sessions (bench/driver) — the same leak class
    # the round-12 review caught on the argmin broadcast.
    from pyspark import StorageLevel
    from risinglight_spark.operators import _cached_persisted

    def build_gated(g=gated):
        return g

    gated = _cached_persisted(
        spark, sf_dir, "e2e_gated", build_gated,
        storage_level=StorageLevel.DISK_ONLY,
    )
    sh5 = F.array_distinct(T.word_shingles_pandas(5)(c))
    bench = (
        t.documents.filter(F.col("doc_id") % 97 == 0)
        .select(F.explode(sh5).alias("s"))
        .distinct()
    )
    contaminated = (
        gated.select("doc_id", F.explode(sh5).alias("s"))
        .join(F.broadcast(bench), "s")
        .select("doc_id")
        .distinct()
    )
    clean = gated.join(contaminated, "doc_id", "left_anti").drop("text")
    # keep-lowest-doc_id per fingerprint as min(struct): map-side
    # combine collapses duplicates before the shuffle (vs a row_number
    # window that shuffles every row then sorts each group)
    deduped = (
        clean.groupBy("fp")
        .agg(F.min(F.struct("doc_id", "source", "q", "ws")).alias("m"))
        .select("fp", "m.*")
    )
    from risinglight_spark.operators import grouped_prefix_sum

    budgeted = (
        grouped_prefix_sum(deduped, "source", ("doc_id",), "ws")
        .withColumn("cum", F.col("cum").cast("bigint"))
        .filter(F.col("cum") <= TOKEN_BUDGET_PER_SOURCE)
    )
    return budgeted.groupBy("source").agg(
        F.count("*").alias("docs_kept"),
        F.sum("ws").cast("bigint").alias("tokens_kept"),
        fpsum(F.col("q")).alias("sum_quality"),
    )


# -- deterministic per-group top-k sampling ----------------------------------

GROUP_SAMPLE_K = 20


@register(
    "sample_topk_per_group",
    oracle=f"""
    WITH ranked AS (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY {T.char_hash_sql("CAST(doc_id AS VARCHAR)")}, doc_id
             ) AS rn
      FROM documents
    )
    SELECT doc_id, lang, rn::BIGINT AS rn
    FROM ranked WHERE rn <= {GROUP_SAMPLE_K}
    """,
    doc=f"Deterministic per-group sample: the {GROUP_SAMPLE_K} docs with "
    "the smallest portable hash(doc_id) per language — a fixed-size "
    "group-wise sample that is a pure function of doc_ids (re-runs and "
    "cluster-size changes reproduce it exactly, unlike rand()-based "
    "reservoirs).  The rank<=k filter triggers Catalyst's "
    "InferWindowGroupLimit: the executed plan inserts a PARTIAL "
    "WindowGroupLimit before the lang exchange, pruning every input "
    "partition to its own top-k map-side, so the per-lang window task "
    "receives at most k x n_partitions rows — the dominant language "
    "of a 100-TB corpus never funnels through one task "
    "(plan-asserted in tests/test_plans.py).",
)
def sample_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    t = Tables(spark, sf_dir)
    w = Window.partitionBy("lang").orderBy(
        T.char_hash(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        t.documents.select(
            "doc_id", "lang", F.row_number().over(w).cast("bigint").alias("rn")
        )
        .filter(F.col("rn") <= GROUP_SAMPLE_K)
    )


# -- D4-style cluster-balanced sampling ---------------------------------------

D4_BUDGET = 600  # total vectors selected across all clusters
_D4_RSCALE = 100_000_000  # sqrt(size) fixed-point scale for exact quota math


def _d4_oracle() -> str:
    from risinglight_spark.operators.vector_search import (
        DIM,
        _centroid_cols_sql,
    )

    adist = "0.0 + " + " + ".join(
        f"(CAST(e.embedding[{i+1}] AS DOUBLE) - c.c{i})"
        f"*(CAST(e.embedding[{i+1}] AS DOUBLE) - c.c{i})"
        for i in range(DIM)
    )
    return f"""
    WITH cents AS MATERIALIZED (
      SELECT label AS cell, {_centroid_cols_sql()}
      FROM embeddings GROUP BY label
    ),
    assign AS MATERIALIZED (
      SELECT e.vec_id, (array_agg(c.cell ORDER BY sqrt({adist}), c.cell))[1]
               AS cell
      FROM embeddings e CROSS JOIN cents c GROUP BY e.vec_id
    ),
    sizes AS (
      SELECT cell, count(*) AS n_cluster,
             CAST(round(sqrt(CAST(count(*) AS DOUBLE)) * {_D4_RSCALE}.0, 0)
                  AS BIGINT) AS r
      FROM assign GROUP BY cell
    ),
    quotas AS (
      SELECT cell, n_cluster,
             least(n_cluster, greatest(1, CAST(floor(
               {D4_BUDGET}.0 * CAST(r AS DOUBLE)
               / (SELECT CAST(sum(r) AS DOUBLE) FROM sizes)
             ) AS BIGINT))) AS quota
      FROM sizes
    ),
    ranked AS (
      SELECT a.vec_id, a.cell,
             row_number() OVER (
               PARTITION BY a.cell
               ORDER BY {T.char_hash_sql("CAST(a.vec_id AS VARCHAR)")},
                        a.vec_id
             ) AS rn
      FROM assign a
    )
    SELECT r.vec_id, r.cell, q.n_cluster, q.quota
    FROM ranked r JOIN quotas q USING (cell)
    WHERE r.rn <= q.quota
    """


@register(
    "sample_cluster_balanced",
    oracle=_d4_oracle(),
    doc=f"Cluster-balanced diversified sampling (the D4 recipe, "
    "Tirumala et al. 2023: de-duplicate, embed, CLUSTER, then sample "
    "ACROSS clusters instead of iid): per-cluster quotas proportional "
    f"to sqrt(cluster size) under a global budget of {D4_BUDGET}, so "
    "mega-clusters (boilerplate-heavy regions of embedding space) are "
    "down-weighted and tail clusters keep representation — the "
    "diversification that iid sampling cannot give.  Reuses the "
    "memoized IVF assets as the clustering (centroids + argmin "
    "assignment, vector_search.py — train once, sample many); quota "
    "math is exact on both engines (sqrt fixed-pointed to int64 "
    "before the sum, one float64 division, floor); within-cluster "
    "selection ranks by the portable hash(vec_id) — a pure function "
    "of ids, reproducible on any cluster size — via "
    "ranked_by_range_sort, so the rank stays partition-parallel and "
    "no cluster funnels through one task regardless of skew.  At "
    "100 TB: assignment is the stored index, quotas are a "
    "cells-sized table, selection is one range-partitioned pass.",
)
def sample_cluster_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from risinglight_spark.operators import ranked_by_range_sort
    from risinglight_spark.operators.vector_search import ivf_assign_cached

    assign = ivf_assign_cached(spark, sf_dir)
    sizes = assign.groupBy("cell").agg(F.count("*").alias("n_cluster"))
    r = F.round(
        F.sqrt(F.col("n_cluster").cast("double")) * _D4_RSCALE, 0
    ).cast("long")
    w = Window.partitionBy()
    quotas = (
        sizes.withColumn("r", r)
        .select(
            "cell",
            "n_cluster",
            F.least(
                F.col("n_cluster"),
                F.greatest(
                    F.lit(1).cast("long"),
                    F.floor(
                        F.lit(float(D4_BUDGET))
                        * F.col("r").cast("double")
                        / F.sum("r").over(w).cast("double")
                    ).cast("long"),
                ),
            ).alias("quota"),
        )
    )
    tk = T.char_hash(F.col("vec_id").cast("string"))
    ranked = ranked_by_range_sort(
        assign.withColumn("tk", tk), "cell", ("tk", "vec_id")
    )
    return (
        ranked.join(F.broadcast(quotas), "cell")
        .filter(F.col("rn") <= F.col("quota"))
        .select("vec_id", "cell", "n_cluster", "quota")
    )


# -- dataset card ------------------------------------------------------------


@register(
    "pipeline_dataset_card",
    oracle=f"""
    WITH feat AS (
      SELECT source,
             {T.lang_id_sql('text')} AS lang_detected,
             {T.quality_score_sql('text')} AS q,
             md5({T.normalized_text_sql('text')}) AS fp,
             {T.token_count_sql('text')} AS ws,
             length(text)::BIGINT AS n_chars
      FROM documents
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(ws) AS BIGINT) AS n_tokens,
           CAST(sum(n_chars) AS BIGINT) AS n_chars,
           count(DISTINCT fp) AS n_unique,
           round(1.0 - count(DISTINCT fp) / CAST(count(*) AS DOUBLE), 8)
             AS dup_frac,
           ({fpsum_sql('q')} / count(*)) AS mean_quality,
           count(DISTINCT lang_detected) AS n_langs,
           round(count(*) FILTER (lang_detected = 'en')
                 / CAST(count(*) AS DOUBLE), 8) AS en_frac
    FROM feat GROUP BY source
    """,
    doc="Dataset card: the per-source corpus summary a training-data "
    "release ships — doc/token/char counts, exact-dup fraction "
    "(distinct fingerprints), mean quality, language spread.  One "
    "Arrow feature pass (the same shared doc-features UDF every "
    "pipeline stage uses) + one grouped aggregation with a distinct "
    "count; everything downstream of the scan is pre-aggregated "
    "map-side except the fingerprint distinct, which shuffles "
    "(source, fp) pairs once.",
)
def pipeline_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    from risinglight_spark.operators.text_analysis import doc_features_cached

    feat = doc_features_cached(spark, sf_dir).select(
        "source", "n_chars", "lang_detected", "q", "fp", "ws"
    )
    return feat.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("ws").cast("bigint").alias("n_tokens"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
        F.count_distinct("fp").alias("n_unique"),
        F.round(
            1.0 - F.count_distinct("fp") / F.count("*").cast("double"), 8
        ).alias("dup_frac"),
        (fpsum(F.col("q")) / F.count("*")).alias("mean_quality"),
        F.count_distinct("lang_detected").alias("n_langs"),
        F.round(
            F.count_if(F.col("lang_detected") == "en")
            / F.count("*").cast("double"),
            8,
        ).alias("en_frac"),
    )


# -- multi-signal ensemble dedup ---------------------------------------------


@register(
    "dedup_multi_signal",
    oracle=f"""
    WITH RECURSIVE pairs AS (
      SELECT doc_a, doc_b FROM ({_minhash_verified_oracle()}) mv
      UNION
      SELECT doc_a, doc_b FROM ({_simhash_oracle()}) sh
      UNION
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM (SELECT doc_id, md5({T.normalized_text_sql('text')}) AS fp
            FROM documents) a
      JOIN (SELECT doc_id, md5({T.normalized_text_sql('text')}) AS fp
            FROM documents) b
        ON a.fp = b.fp AND a.doc_id < b.doc_id
    ),
    sym AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b, doc_a FROM pairs
    ),
    reach(src, dst) AS (
      SELECT src, dst FROM sym
      UNION
      SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src
    ),
    comp AS (
      SELECT src AS doc_id, least(src, min(dst)) AS component
      FROM reach GROUP BY src
    )
    SELECT d.doc_id,
           coalesce(c.component, d.doc_id) AS keeper,
           (coalesce(c.component, d.doc_id) = d.doc_id) AS survives
    FROM documents d LEFT JOIN comp c USING (doc_id)
    """,
    doc="Ensemble dedup — what production pipelines actually run: the "
    "union of THREE pair signals (exact fingerprint, MinHash-LSH "
    "verified Jaccard >= 0.5, SimHash hamming <= 3) forms one dup "
    "graph; connected components assign every doc its min-id keeper.  "
    "A doc is dropped if ANY signal links it (possibly transitively) "
    "to a smaller-id doc.  Each signal keeps its own bucketed "
    "candidate generation (never all-pairs); the union is a cheap "
    "distinct over (a, b) int pairs; component closure reuses the "
    "shared min-label propagation (O(diameter) rounds).",
)
def dedup_multi_signal(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The whole ensemble runs at the REPRESENTATIVE level (one vertex
    # per distinct normalized text).  This is exact, not approximate:
    #  - the exact-fingerprint signal connects precisely the replicas
    #    of one fp, i.e. it is the within-cluster edge set — on the
    #    rep graph it contributes nothing (a cluster is one vertex);
    #  - minhash/simhash signatures are functions of the normalized
    #    text, so replica pairs mirror their representatives' pairs;
    #  - keeper = min doc_id of the component, and each rep IS the min
    #    doc_id of its cluster, so min over a component's members
    #    equals min over its reps — the rep-graph component label.
    # Closure cost drops from O(replica-clique edges) to O(distinct
    # texts); the only full-corpus work left is the linear fingerprint
    # shuffle and the final membership join.
    from risinglight_spark.operators.dedup import (
        _rep_jaccard_pairs,
        _rep_minhash_pairs,
        _rep_simhash_pairs,
    )

    cand, members, _ = _rep_minhash_pairs(spark, sf_dir)
    exact_jac, _, _ = _rep_jaccard_pairs(spark, sf_dir)
    minhash = (
        cand.join(exact_jac, ["rep_a", "rep_b"])
        .filter(F.col("jaccard") >= 0.5)
        .select("rep_a", "rep_b")
    )
    # On low-dup corpora _rep_simhash_pairs returns doc-level pairs
    # (flat path).  The label propagation is indifferent: replica
    # docs pair mutually at hamming 0, so every doc-graph component
    # contains its reps and shares the rep-graph component's min id.
    simhash, _, _ = _rep_simhash_pairs(spark, sf_dir)
    rep_pairs = (
        minhash.unionAll(simhash.select("rep_a", "rep_b"))
        .select(
            F.col("rep_a").alias("doc_a"), F.col("rep_b").alias("doc_b")
        )
        .distinct()
    )
    rep_labels = _propagate_min_labels(rep_pairs).withColumnRenamed(
        "doc_id", "rep"
    )
    # rep per fp for EVERY doc (incl. unshingled short texts — the
    # exact signal still collapses those clusters); shuffles only
    # (fp, doc_id) pairs, never text.  NULL-text docs have NULL fp,
    # which never equi-joins — keep them via left joins with keeper
    # falling back to doc_id (the oracle's LEFT JOIN does the same).
    reps_all = members.groupBy("fp").agg(F.min("doc_id").alias("rep"))
    doc_rep = members.join(reps_all, "fp", "left").select("doc_id", "rep")
    return (
        doc_rep.join(rep_labels, "rep", "left")
        .select(
            "doc_id",
            F.coalesce(
                F.col("component"), F.col("rep"), F.col("doc_id")
            ).alias("keeper"),
        )
        .withColumn("survives", F.col("keeper") == F.col("doc_id"))
    )


@register(
    "ml_logreg_train_step",
    oracle="""
    WITH f AS (
      SELECT CASE WHEN lang = 'en' THEN -1 ELSE 1 END AS s,
             CAST(n_chars AS BIGINT) AS k1,
             CAST(length(text) - length(replace(text, ' ', ''))
                  AS BIGINT) AS k2
      FROM documents
    )
    SELECT count(*) AS n,
           CAST(sum(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pos,
           CAST(sum(s) AS DOUBLE) / 2.0 AS grad_bias,
           CAST(sum(s * k1) AS DOUBLE) / 2000.0 AS grad_len,
           CAST(sum(s * k2) AS DOUBLE) / 200.0 AS grad_spaces,
           -(CAST(sum(s) AS DOUBLE) / 2.0) / count(*) AS w_bias,
           -(CAST(sum(s * k1) AS DOUBLE) / 2000.0) / count(*) AS w_len,
           -(CAST(sum(s * k2) AS DOUBLE) / 200.0) / count(*) AS w_spaces
    FROM f
    """,
    doc="Distributed ML training step as pure aggregation: one full-"
    "batch gradient-descent step of a logistic-regression quality "
    "classifier (label: lang='en'; features: bias, n_chars/1000, "
    "space-count/100) from w=0.  At w=0 every per-row gradient is "
    "(sigmoid(0)-y)*x = +-x/2, so the whole step reduces to signed "
    "integer sums — computed exactly as longs, making the result "
    "bit-identical to the oracle at any parallelism (the same "
    "trick events_linear_trend uses for exact moments).  Later "
    "steps add a sigmoid whose exp() would be quantized the same "
    "fixed-point way.  The shape is the scale story: each GD step "
    "over a 10^12-row corpus is ONE map-side-combined aggregate "
    "(feature count x 8 bytes of state per partition), the pattern "
    "MLlib/Photon-style distributed linear model training runs; "
    "iterating = vector_kmeans_step's loop with this as the body.",
)
def ml_logreg_train_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    f = t.documents.select(
        F.when(F.col("lang") == "en", -1).otherwise(1).alias("s"),
        F.col("n_chars").cast("long").alias("k1"),
        (
            F.length("text")
            - F.length(F.regexp_replace("text", " ", ""))
        )
        .cast("long")
        .alias("k2"),
    )
    agg = f.agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("s") == -1, 1).otherwise(0))
        .cast("long")
        .alias("n_pos"),
        F.sum("s").alias("s0"),
        F.sum(F.col("s") * F.col("k1")).alias("s1"),
        F.sum(F.col("s") * F.col("k2")).alias("s2"),
    )
    return agg.select(
        "n",
        "n_pos",
        (F.col("s0").cast("double") / 2.0).alias("grad_bias"),
        (F.col("s1").cast("double") / 2000.0).alias("grad_len"),
        (F.col("s2").cast("double") / 200.0).alias("grad_spaces"),
        (-(F.col("s0").cast("double") / 2.0) / F.col("n")).alias("w_bias"),
        (-(F.col("s1").cast("double") / 2000.0) / F.col("n")).alias(
            "w_len"
        ),
        (-(F.col("s2").cast("double") / 200.0) / F.col("n")).alias(
            "w_spaces"
        ),
    )


@register(
    "pairs_contrastive_mining",
    oracle=f"""
    WITH pos AS (
      SELECT doc_a AS anchor, min(doc_b) AS positive
      FROM ({_jaccard_oracle()}) jp
      GROUP BY doc_a
    ),
    scored AS (
      SELECT doc_id, source, {T.token_count_sql("text")} AS ws
      FROM documents
    ),
    af AS (
      SELECT p.anchor, p.positive, s.source, s.ws,
             CAST(floor(s.ws / 8.0) AS INT) AS bkt
      FROM pos p JOIN scored s ON s.doc_id = p.anchor
    ),
    cand AS (
      SELECT a.anchor, a.positive, s.doc_id AS negative,
             row_number() OVER (
               PARTITION BY a.anchor
               ORDER BY abs(s.ws - a.ws), s.doc_id
             ) AS rn
      FROM af a
      JOIN scored s
        ON s.source = a.source
       AND CAST(floor(s.ws / 8.0) AS INT) = a.bkt
       AND s.doc_id <> a.anchor AND s.doc_id <> a.positive
      WHERE NOT EXISTS (
        SELECT 1 FROM ({_jaccard_oracle()}) j2
        WHERE (j2.doc_a = a.anchor AND j2.doc_b = s.doc_id)
           OR (j2.doc_b = a.anchor AND j2.doc_a = s.doc_id)
      )
    )
    SELECT anchor, positive, negative FROM cand WHERE rn = 1
    """,
    doc="Contrastive training-pair mining for embedding models: "
    "anchors and positives come from near-dup pairs (word-3-gram "
    "Jaccard >= 0.5 — known-similar-content pairs), and each anchor "
    "gets a deterministic HARD negative: the closest-length document "
    "from the same source that is NOT similar to it (length-matched "
    "negatives are the standard trick to stop the model learning "
    "'length' as the signal; the not-similar anti-join keeps false "
    "negatives out).  Scale shape: the candidate join is keyed on "
    "(source, length-bucket), never all-pairs — per-anchor "
    "candidates are bounded by bucket occupancy, the same bounded-"
    "bucket pattern as LSH dedup; every choice is a pure function of "
    "the corpus (similarity pairs, token counts, id tiebreaks), so "
    "pair sets reproduce bit-identically across cluster sizes.",
)
def pairs_contrastive_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    # the similarity pairs feed THREE plan branches (positives, the
    # anchor-feature join, the false-negative anti-join); materialize
    # the bounded pair set once or the inverted-index self-join
    # re-executes per branch (measured by tools/shuffle_audit.py:
    # 26 MB shuffle + 25 MB spill before, 2 MB and none after)
    pairs = (
        dedup_ngram_jaccard(spark, sf_dir)
        .select("doc_a", "doc_b")
        .localCheckpoint()
    )
    pos = (
        pairs.groupBy("doc_a")
        .agg(F.min("doc_b").alias("positive"))
        .withColumnRenamed("doc_a", "anchor")
    )
    scored = t.documents.select(
        "doc_id", "source", T.token_count(F.col("text")).alias("ws")
    )
    af = pos.join(
        scored.select(
            F.col("doc_id").alias("anchor"),
            "source",
            "ws",
            F.floor(F.col("ws") / 8).cast("int").alias("bkt"),
        ),
        "anchor",
    )
    cand = af.join(
        scored.select(
            F.col("doc_id").alias("negative"),
            F.col("source").alias("nsource"),
            F.col("ws").alias("nws"),
        ),
        (F.col("nsource") == F.col("source"))
        & (F.floor(F.col("nws") / 8).cast("int") == F.col("bkt"))
        & (F.col("negative") != F.col("anchor"))
        & (F.col("negative") != F.col("positive")),
    )
    sym = pairs.unionByName(
        pairs.select(
            F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
        )
    )
    cand = cand.join(
        sym.select(
            F.col("doc_a").alias("anchor"), F.col("doc_b").alias("negative")
        ),
        ["anchor", "negative"],
        "left_anti",
    )
    w = Window.partitionBy("anchor").orderBy(
        F.abs(F.col("nws") - F.col("ws")), "negative"
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("anchor", "positive", "negative")
    )


# -- PageRank over the near-dup graph ---------------------------------------
# Iterative link analysis on the same undirected Jaccard-pair graph the
# connected-components pass uses: within a dup cluster, PageRank ranks
# the "most central" variant (the one sharing content with most
# siblings) — a principled canonical-document pick, and the classic
# distributed iterative-algorithm shape (scatter contributions, gather
# by destination) beyond simple label propagation.
#
# Representative-graph rounds: the expanded near-dup graph is a blowup
# of the CLUSTER graph — every exact-replica cluster A (csize c_A,
# identical text) fans out to a c_A-clique plus complete-bipartite
# c_A x c_B edges per mined rep pair (A, B) (see dedup._fan_out).  All
# members of a cluster are therefore structurally interchangeable:
# degree, rank, and triangle membership are identical across members,
# and the iterative rounds can run on the cluster graph with integer
# multiplicities (w = neighbor cluster size; a self-edge of weight
# c_A - 1 for the within-clique), fanning results out to members ONCE
# at the end.  Exactness is preserved because every per-edge term in
# the expanded rounds is fixed-point QUANTIZED before summing
# (fpsum), and c identical quantized longs sum to exactly
# c * q — integer multiplication.  Rounds cost O(cluster edges), flat
# in the replication factor, where the expanded rounds paid
# O(sum c_A * c_B) — quadratic in cluster size.


def _rep_graph(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Collapsed near-dup graph: (sym, cl, member_of).

    ``sym``: symmetric cluster-level adjacency (src, dst) over the
    jaccard >= 0.5 rep pairs (no self-edges); ``cl``: (cid, csize) for
    every ELIGIBLE cluster (shingle-bearing text; cid = min doc_id of
    the cluster); ``member_of``: (doc_id, cid) for every doc in an
    eligible cluster.  Checkpointed so the rep-level mining runs once
    across all per-round consumers."""
    from risinglight_spark.operators.dedup import _rep_jaccard_pairs

    rep_pairs, members, rep_of = _rep_jaccard_pairs(spark, sf_dir)
    rp = (
        rep_pairs.filter(F.col("jaccard") >= 0.5)
        .select(F.col("rep_a").alias("src"), F.col("rep_b").alias("dst"))
        .localCheckpoint()
    )
    sym = rp.unionAll(rp.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    cl = rep_of.select(F.col("rep_m").alias("cid"), "csize").localCheckpoint()
    member_of = members.join(rep_of, "fp").select(
        "doc_id", F.col("rep_m").alias("cid")
    )
    return sym, cl, member_of


PR_DAMP = 0.85
PR_ITERS = 3


def _pagerank_oracle() -> str:
    from risinglight_spark.operators import fpsum_sql

    ctes = [
        f"pairs AS (SELECT doc_a, doc_b FROM ({_jaccard_oracle()}) j)",
        "sym AS (SELECT doc_a AS src, doc_b AS dst FROM pairs"
        " UNION ALL SELECT doc_b, doc_a FROM pairs)",
        "deg AS MATERIALIZED (SELECT src, count(*) AS deg"
        " FROM sym GROUP BY src)",
        "nn AS (SELECT count(*) AS n FROM deg)",
        "edges AS MATERIALIZED (SELECT s.src, s.dst, d.deg"
        " FROM sym s JOIN deg d USING (src))",
        "r0 AS (SELECT src AS node, 1.0 / (SELECT n FROM nn) AS r FROM deg)",
    ]
    for k in range(1, PR_ITERS + 1):
        ctes.append(
            f"r{k} AS (SELECT e.dst AS node,"
            f" (1.0 - {PR_DAMP}) / (SELECT n FROM nn)"
            f" + {PR_DAMP} * {fpsum_sql('r.r / e.deg', 1e12)} AS r"
            f" FROM edges e JOIN r{k-1} r ON e.src = r.node"
            f" GROUP BY e.dst)"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT r{PR_ITERS}.node AS doc_id, d.deg AS deg,"
        f" round(r{PR_ITERS}.r, 12) AS pagerank"
        f" FROM r{PR_ITERS} JOIN deg d ON r{PR_ITERS}.node = d.src"
    )


@register(
    "graph_pagerank",
    oracle=_pagerank_oracle(),
    doc=f"PageRank ({PR_ITERS} power iterations, damping {PR_DAMP}) over "
    "the undirected word-3-gram Jaccard near-dup graph.  Each round is "
    "one edge-keyed join (contributions r/deg scattered to neighbors) "
    "+ one destination-keyed aggregate with map-side partials; "
    "per-node sums are fixed-point quantized (1e-12) so ranks are "
    "bit-identical at any parallelism — and replayable in DuckDB as "
    "unrolled CTEs.  At 100 TB the edge list is the shuffled asset "
    "(partition by src once, reuse across rounds); rank state is "
    "O(nodes), rebroadcast each round.  Rounds run on the COLLAPSED "
    "cluster graph with integer edge multiplicities (see _rep_graph) "
    "— flat in exact-replica inflation — and fan out to member docs "
    "once at the end.",
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    sym, cl, member_of = _rep_graph(spark, sf_dir)
    # Cluster-level weighted edges: a cross edge B -> A carries the
    # c_B identical member contributions; the within-clique is a
    # self-edge of weight c_A - 1 (absent for singleton clusters).
    cross = sym.join(
        cl.select(F.col("cid").alias("src"), F.col("csize").alias("mult")),
        "src",
    ).select("src", "dst", "mult")
    self_e = cl.filter(F.col("csize") >= 2).select(
        F.col("cid").alias("src"),
        F.col("cid").alias("dst"),
        (F.col("csize") - 1).alias("mult"),
    )
    edges = cross.unionAll(self_e).localCheckpoint()
    # Member-level degree, identical across a cluster's members:
    # deg(a in A) = (c_A - 1) + sum of neighbor csize.
    deg = edges.groupBy("dst").agg(F.sum("mult").alias("deg")).select(
        F.col("dst").alias("cid"), "deg"
    )
    # n = member nodes with >= 1 edge = sum csize over participating
    # clusters (bounded driver scalar, same as before).
    n = (
        deg.join(cl, "cid")
        .agg(F.sum("csize").alias("n"))
        .collect()[0]["n"]
    )
    esrc = edges.join(
        deg.select(F.col("cid").alias("src"), F.col("deg").alias("sdeg")),
        "src",
    )
    r = deg.select("cid", F.lit(1.0 / n).alias("r"))
    for _ in range(PR_ITERS):
        # Quantize each member term r/deg THEN multiply by the integer
        # multiplicity: equals the expanded graph's fpsum of c
        # identical quantized terms exactly.
        q = F.round(
            (F.col("r") / F.col("sdeg")).cast("double") * 1e12, 0
        ).cast("long")
        contrib = esrc.join(r, esrc["src"] == r["cid"]).select(
            F.col("dst"), (F.col("mult") * q).alias("cq")
        )
        r = contrib.groupBy("dst").agg(
            (
                F.lit((1.0 - PR_DAMP) / n)
                + F.lit(PR_DAMP) * (F.sum("cq").cast("double") / F.lit(1e12))
            ).alias("r")
        ).select(F.col("dst").alias("cid"), "r")
    out_cl = r.join(deg, "cid")
    return member_of.join(out_cl, "cid").select(
        F.col("doc_id"),
        F.col("deg"),
        F.round(F.col("r"), 12).alias("pagerank"),
    )


# -- temperature-scaled mixture (UniMax / multilingual-T5 style) -------------

TEMP_POW_NOTE = 0.5  # alpha = 1/2 via sqrt: IEEE-exact on both engines


@register(
    "mix_temperature_resample",
    oracle=f"""
    WITH per_source AS (
      SELECT source, sum({T.token_count_sql("text")})::BIGINT AS tokens
      FROM documents GROUP BY source
    ),
    shares AS (
      SELECT source, tokens,
             tokens::DOUBLE / (sum(tokens) OVER ())::BIGINT AS share
      FROM per_source
    ),
    q AS (
      SELECT source, tokens, share,
             CAST(round(sqrt(share) * 10000000000.0, 0) AS BIGINT) AS qi
      FROM shares
    )
    SELECT source, tokens, round(share, 10) AS share,
           round(qi::DOUBLE / (sum(qi) OVER ())::BIGINT, 10) AS temp_share,
           round((qi::DOUBLE / (sum(qi) OVER ())::BIGINT) / share, 10)
               AS boost
    FROM q
    """,
    doc="Temperature-scaled source mixture (alpha=0.5, the "
    "multilingual-T5 / UniMax recipe): per-source token share, "
    "share^alpha renormalized to the sampling mix, and the resulting "
    "up/down-sampling boost.  alpha=1/2 is computed as sqrt — IEEE "
    "correctly-rounded on both engines, so no transcendental drift — "
    "and the renormalizing total sums fixed-point int64 (exact at any "
    "partitioning).  One map-side-combined rollup; the share windows "
    "run over K source rows — metadata, not data.",
)
def mix_temperature_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    per = t.documents.groupBy("source").agg(
        F.sum(T.token_count(F.col("text"))).alias("tokens")
    )
    w = Window.partitionBy()
    share = F.col("tokens").cast("double") / F.sum("tokens").over(w)
    qi = F.round(F.sqrt(share) * 1e10, 0).cast("long")
    q = per.select("source", "tokens", share.alias("share"), qi.alias("qi"))
    temp_share = F.col("qi").cast("double") / F.sum("qi").over(w)
    return q.select(
        "source",
        "tokens",
        F.round(F.col("share"), 10).alias("share"),
        F.round(temp_share, 10).alias("temp_share"),
        F.round(temp_share / F.col("share"), 10).alias("boost"),
    )


# -- kNN classifier evaluation over the embedding corpus ---------------------

KNN_K = 5
KNN_TEST_MOD = 5  # vec_id % 5 == 0 -> held-out test split
_VOTE_RADIX = 1024  # argmax key packing: (K - votes) * radix + label
# Bounded eval batch: the scaled eval holds out test vectors only from
# a fixed id range, so eval cost grows with the TRAIN corpus (linear
# scan partitioned by cell), not quadratically with corpus x corpus.
# Every driver SF (<= sf1-equivalent ids) is unaffected; the 10x/100x
# replica probes (ids shifted by 1e7 per replica) keep a constant-size
# test batch, which is exactly how a production eval is run.  Enforced
# in-code by BOTH evals (exact + IVF) and both oracles.
KNN_TEST_CAP = 1_000_000


def _knn_oracle() -> str:
    from risinglight_spark.operators.vector_search import DIM

    sq = " + ".join(
        f"(CAST(a.embedding[{i+1}] AS DOUBLE) - CAST(b.embedding[{i+1}] AS DOUBLE))"
        f" * (CAST(a.embedding[{i+1}] AS DOUBLE) - CAST(b.embedding[{i+1}] AS DOUBLE))"
        for i in range(DIM)
    )
    return f"""
    WITH pairs AS (
      SELECT a.vec_id AS test_id, a.label AS true_label,
             b.label AS nn_label,
             row_number() OVER (
               PARTITION BY a.vec_id
               ORDER BY sqrt(0.0 + {sq}), b.vec_id
             ) AS rn
      FROM embeddings a, embeddings b
      WHERE a.vec_id % {KNN_TEST_MOD} = 0 AND a.vec_id <= {KNN_TEST_CAP}
        AND b.vec_id % {KNN_TEST_MOD} <> 0
    ),
    votes AS (
      SELECT test_id, true_label, nn_label, count(*) AS v
      FROM pairs WHERE rn <= {KNN_K}
      GROUP BY test_id, true_label, nn_label
    ),
    pred AS (
      SELECT test_id, true_label,
             min(({KNN_K} - v) * {_VOTE_RADIX} + nn_label) % {_VOTE_RADIX}
                 AS predicted
      FROM votes GROUP BY test_id, true_label
    )
    SELECT true_label AS label, count(*) AS n_test,
           sum(CASE WHEN predicted = true_label THEN 1 ELSE 0 END)::BIGINT
               AS n_correct,
           round(sum(CASE WHEN predicted = true_label THEN 1 ELSE 0 END)
                 / count(*), 10) AS accuracy
    FROM pred GROUP BY true_label
    """


def _knn_local_topk(
    train: DataFrame,
    test_ids,
    test_emb,
    test_labels,
    k: int,
    probe_cells: "dict | None" = None,
) -> DataFrame:
    """Distributed exact-kNN candidate generation: per-partition
    vectorized top-k, then the caller's tiny global merge.

    This is the standard two-phase distributed kNN: each train
    partition scores the (bounded) test batch against its own rows in
    one Arrow/numpy pass and emits only its local k best per test
    vector, so the shuffle carries ``partitions x |test| x k`` rows
    instead of the full ``|train| x |test|`` pair set — at 1000
    executors over 100 TB that is the difference between a multi-TB
    exchange and a few MB.  The global top-k per test is always
    contained in the union of local top-ks because every global
    winner is, within its own partition, among the k smallest by the
    same total order (dist, train_id).

    With ``probe_cells`` (IVF path) the train side carries a ``cell``
    column and each partition scores a cell's rows only against the
    tests probing that cell — the candidate pruning happens inside the
    same Arrow pass, so there is no cell-keyed exchange (which would
    cap parallelism at the cell count) and no broadcast-join blowup.

    Bit-exactness with the DuckDB oracle: embeddings widen
    float32 -> float64 first (exact, = CAST(x AS DOUBLE)), then every
    emitted distance is ``sqrt`` of functions/vector.fold_sqdist — the
    oracle's own IEEE sequence — so distances (and therefore tie-ranks)
    are bit-identical doubles.
    """
    import numpy as np
    import pandas as pd

    tids = np.asarray(test_ids, dtype=np.int64)
    temb = np.asarray(test_emb, dtype=np.float64)
    tlab = np.asarray(test_labels, dtype=np.int64)

    def score_group(out, cemb, tid, lab, tsel):
        """Exact local top-k in two phases (r15, guide §4.2): a GEMM
        computes approximate squared distances (||t||² - 2t·c + ||c||²,
        cache-blocked BLAS — ~10x less memory traffic than the former
        64-pass accumulator loop), which only BOUND the candidate set:
        per test, every row within fp-safety tolerance of its kk-th
        smallest approximate value, NaN ranked as +inf (a test with
        fewer than kk non-NaN distances keeps every row, NaN-last like
        Spark and DuckDB).  The exact distance (vector.fold_sqdist) is
        then recomputed on candidates only — ~kk per test instead of
        m — and ONLY those exact values are ranked or emitted, so
        results match the one-phase form bit-for-bit.  The tolerance
        (1e-9 of the magnitude scale, vs ~1e-14 accumulated fp error
        for dim=64) can only widen the candidate set, never drop a
        true (dist, train_id) winner.  The former per-test
        Python loop (argpartition per column) is replaced by one
        argpartition along contiguous rows plus a single global
        lexsort + groupwise rank filter."""
        m = cemb.shape[0]
        tsel = np.asarray(tsel, dtype=np.int64)
        kk = min(k, m)
        cn2 = np.einsum("ij,ij->i", cemb, cemb)
        cn2max = np.max(cn2, initial=0.0, where=~np.isnan(cn2))
        neg2ct = cemb.T * -2.0
        chunk = max(1, V.SCRATCH_ELEMS // max(m, 1))
        for lo in range(0, len(tsel), chunk):
            tsel_c = tsel[lo : lo + chunk]
            tsub = temb[tsel_c]
            t_n = tsub.shape[0]
            d2 = tsub @ neg2ct
            tn2 = np.einsum("ij,ij->i", tsub, tsub)
            d2 += cn2[None, :]
            d2 += tn2[:, None]
            if m > kk:
                part = np.argpartition(d2, kk - 1, axis=1)[:, :kk]
                bound = np.take_along_axis(d2, part, axis=1).max(axis=1)
                # argpartition puts NaN last, so a NaN bound means fewer
                # than kk non-NaN rows: that test keeps every row
                full = np.isnan(bound)[:, None]
                tol = 1e-9 * (tn2 + cn2max + 1.0)
                rows, colm = np.nonzero((d2 <= (bound + tol)[:, None]) | full)
            else:
                rows = np.repeat(np.arange(t_n), m)
                colm = np.tile(np.arange(m), t_n)
            # ranking and emitted dists use ONLY the exact values; the
            # paired fold's scratch is O(candidates), not O(cand * dim)
            dist = np.sqrt(V.fold_sqdist(tsub, cemb, rows, colm))
            order = np.lexsort((tid[colm], dist, rows))
            rows_s = rows[order]
            starts = np.searchsorted(rows_s, np.arange(t_n))
            rank = np.arange(len(rows_s)) - starts[rows_s]
            sel = order[rank < kk]
            out["test_id"].append(tids[tsel_c[rows[sel]]])
            out["true_label"].append(tlab[tsel_c[rows[sel]]])
            out["train_id"].append(tid[colm[sel]])
            out["dist"].append(dist[sel])
            out["nn_label"].append(lab[colm[sel]])

    all_tests = np.arange(temb.shape[0])

    def part(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            out = {
                "test_id": [],
                "true_label": [],
                "train_id": [],
                "dist": [],
                "nn_label": [],
            }
            if probe_cells is None:
                cemb = np.asarray(
                    np.stack(pdf["c_emb"].to_numpy()), dtype=np.float64
                )
                score_group(
                    out,
                    cemb,
                    pdf["train_id"].to_numpy(),
                    pdf["nn_label"].to_numpy(),
                    all_tests,
                )
            else:
                for cell, grp in pdf.groupby("cell", sort=False):
                    tsel = probe_cells.get(int(cell))
                    if tsel is None or len(tsel) == 0:
                        continue
                    cemb = np.asarray(
                        np.stack(grp["c_emb"].to_numpy()), dtype=np.float64
                    )
                    score_group(
                        out,
                        cemb,
                        grp["train_id"].to_numpy(),
                        grp["nn_label"].to_numpy(),
                        tsel,
                    )
            if out["test_id"] and sum(len(a) for a in out["test_id"]):
                # all-empty columns build object-dtype frames Arrow
                # can't cast to the declared schema — skip the batch
                yield pd.DataFrame(
                    {c: np.concatenate(v) for c, v in out.items()}
                )

    return train.mapInPandas(
        part,
        schema="test_id long, true_label int, train_id long, "
        "dist double, nn_label int",
    )


@register(
    "ml_knn_eval",
    oracle=_knn_oracle(),
    doc=f"kNN classifier evaluation (k={KNN_K}, exact L2) on the "
    "labeled embedding corpus: deterministic hash split (vec_id % "
    f"{KNN_TEST_MOD}), two-phase distributed scoring — each train "
    "partition emits its local top-k per test vector from one "
    "vectorized Arrow pass (_knn_local_topk), a tiny global window "
    "merges them — then majority vote with a portable integer argmax "
    "key, per-label accuracy out.  The test batch is the broadcast "
    "payload (bounded by construction, KNN_TEST_CAP at scale); the "
    "shuffle carries partitions x |test| x k candidate rows, never "
    "the |train| x |test| pair set.  Ties break on (distance, "
    "vec_id): distances are bit-identical doubles on both engines "
    "(same float64 left fold), so the ranking is too.",
)
def ml_knn_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    emb = t.embeddings
    # The bounded eval batch (same payload the broadcast variant ships
    # to every executor — a driver copy of it is the same memory class).
    # KNN_TEST_CAP is ENFORCED, not just documented: a deterministic id
    # range cap (no sort, prunes at the scan) keeps the driver batch
    # and broadcast payload flat at any corpus scale (round-13 fix —
    # the cap never binds at driver SFs, so the oracle is unchanged in
    # effect; it carries the same predicate for exactness).
    test_pdf = (
        emb.filter(
            (F.col("vec_id") % KNN_TEST_MOD == 0)
            & (F.col("vec_id") <= KNN_TEST_CAP)
        )
        .select("vec_id", "embedding", "label")
        .toPandas()
    )
    import numpy as np

    train = emb.filter(F.col("vec_id") % KNN_TEST_MOD != 0).select(
        F.col("vec_id").alias("train_id"),
        F.col("embedding").alias("c_emb"),
        F.col("label").alias("nn_label"),
    )
    cand = _knn_local_topk(
        train,
        test_pdf["vec_id"].to_numpy(),
        np.stack(test_pdf["embedding"].to_numpy()),
        test_pdf["label"].to_numpy(),
        KNN_K,
    )
    w = Window.partitionBy("test_id").orderBy("dist", "train_id")
    top = cand.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= KNN_K
    )
    votes = top.groupBy("test_id", "true_label", "nn_label").agg(
        F.count("*").alias("v")
    )
    key = (F.lit(KNN_K) - F.col("v")) * _VOTE_RADIX + F.col("nn_label")
    pred = votes.groupBy("test_id", "true_label").agg(
        (F.min(key) % _VOTE_RADIX).alias("predicted")
    )
    correct = F.when(F.col("predicted") == F.col("true_label"), 1)
    return pred.groupBy(F.col("true_label").alias("label")).agg(
        F.count("*").alias("n_test"),
        F.count(correct).cast("bigint").alias("n_correct"),
        F.round(F.count(correct) / F.count("*"), 10).alias("accuracy"),
    )


KNN_NPROBE = 3  # coarse cells probed per test vector
KNN_AUDIT_MOD = KNN_TEST_MOD * 10  # recall audited on 1/10 of tests


def _knn_ivf_oracle() -> str:
    from risinglight_spark.operators.vector_search import (
        DIM,
        _centroid_cols_sql,
    )

    adist = "0.0 + " + " + ".join(
        f"(CAST(e.embedding[{i+1}] AS DOUBLE) - c.c{i})"
        f"*(CAST(e.embedding[{i+1}] AS DOUBLE) - c.c{i})"
        for i in range(DIM)
    )
    tdist = "sqrt(0.0 + " + " + ".join(
        f"(CAST(t.t_emb[{i+1}] AS DOUBLE) - c.c{i})"
        f"*(CAST(t.t_emb[{i+1}] AS DOUBLE) - c.c{i})"
        for i in range(DIM)
    ) + ")"
    sq_tc = " + ".join(
        f"(CAST(t.t_emb[{i+1}] AS DOUBLE) - CAST(r.c_emb[{i+1}] AS DOUBLE))"
        f" * (CAST(t.t_emb[{i+1}] AS DOUBLE) - CAST(r.c_emb[{i+1}] AS DOUBLE))"
        for i in range(DIM)
    )
    sq_ab = " + ".join(
        f"(CAST(a.embedding[{i+1}] AS DOUBLE) - CAST(b.embedding[{i+1}] AS DOUBLE))"
        f" * (CAST(a.embedding[{i+1}] AS DOUBLE) - CAST(b.embedding[{i+1}] AS DOUBLE))"
        for i in range(DIM)
    )
    return f"""
    WITH cents AS MATERIALIZED (
      SELECT label AS cell, {_centroid_cols_sql()}
      FROM embeddings GROUP BY label
    ),
    assign AS MATERIALIZED (
      SELECT e.vec_id, (array_agg(c.cell ORDER BY sqrt({adist}), c.cell))[1]
               AS cell
      FROM embeddings e CROSS JOIN cents c GROUP BY e.vec_id
    ),
    test AS (
      SELECT vec_id AS test_id, embedding AS t_emb, label AS true_label
      FROM embeddings
      WHERE vec_id % {KNN_TEST_MOD} = 0 AND vec_id <= {KNN_TEST_CAP}
    ),
    train AS (
      SELECT e.vec_id AS train_id, e.embedding AS c_emb,
             e.label AS nn_label, a.cell
      FROM embeddings e JOIN assign a USING (vec_id)
      WHERE e.vec_id % {KNN_TEST_MOD} <> 0
    ),
    probes AS (
      SELECT test_id, cell FROM (
        SELECT t.test_id, c.cell,
               row_number() OVER (
                 PARTITION BY t.test_id ORDER BY {tdist}, c.cell
               ) AS crn
        FROM test t CROSS JOIN cents c
      ) WHERE crn <= {KNN_NPROBE}
    ),
    topk AS MATERIALIZED (
      SELECT * FROM (
        SELECT t.test_id, t.true_label, r.nn_label, r.train_id,
               row_number() OVER (
                 PARTITION BY t.test_id
                 ORDER BY sqrt(0.0 + {sq_tc}), r.train_id
               ) AS rn
        FROM probes p
        JOIN train r ON p.cell = r.cell
        JOIN test t ON t.test_id = p.test_id
      ) WHERE rn <= {KNN_K}
    ),
    votes AS (
      SELECT test_id, true_label, nn_label, count(*) AS v
      FROM topk GROUP BY test_id, true_label, nn_label
    ),
    pred AS (
      SELECT test_id, true_label,
             min(({KNN_K} - v) * {_VOTE_RADIX} + nn_label) % {_VOTE_RADIX}
                 AS predicted
      FROM votes GROUP BY test_id, true_label
    ),
    acc AS (
      SELECT true_label AS label, count(*) AS n_test,
             sum(CASE WHEN predicted = true_label THEN 1 ELSE 0 END)::BIGINT
                 AS n_correct,
             round(sum(CASE WHEN predicted = true_label THEN 1 ELSE 0 END)
                   / count(*), 10) AS accuracy
      FROM pred GROUP BY true_label
    ),
    exact_top AS (
      SELECT test_id, vec_id AS train_id FROM (
        SELECT a.vec_id AS test_id, b.vec_id,
               row_number() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY sqrt(0.0 + {sq_ab}), b.vec_id
               ) AS rn
        FROM embeddings a, embeddings b
        WHERE a.vec_id % {KNN_AUDIT_MOD} = 0
          AND a.vec_id <= {KNN_TEST_CAP}
          AND b.vec_id % {KNN_TEST_MOD} <> 0
      ) WHERE rn <= {KNN_K}
    ),
    hits AS (
      SELECT au.test_id, au.true_label, count(x.train_id) AS n_hit
      FROM (SELECT * FROM test WHERE test_id % {KNN_AUDIT_MOD} = 0) au
      LEFT JOIN (
        SELECT i.test_id, i.train_id
        FROM topk i JOIN exact_top x
          ON i.test_id = x.test_id AND i.train_id = x.train_id
      ) x ON x.test_id = au.test_id
      GROUP BY au.test_id, au.true_label
    ),
    recl AS (
      SELECT true_label AS label, count(*)::BIGINT AS n_audit,
             round(sum(n_hit)::DOUBLE / ({KNN_K} * count(*)), 10)
                 AS recall_at_k
      FROM hits GROUP BY true_label
    )
    SELECT a.label, a.n_test, a.n_correct, a.accuracy,
           coalesce(r.n_audit, 0)::BIGINT AS n_audit, r.recall_at_k
    FROM acc a LEFT JOIN recl r USING (label)
    """


@register(
    "ml_knn_eval_ivf",
    oracle=_knn_ivf_oracle(),
    doc=f"Bucketed (IVF-cell) kNN evaluation — the scaled path beside "
    f"ml_knn_eval's exact scan: each test vector probes its "
    f"{KNN_NPROBE} nearest coarse cells (the memoized IVF centroid/"
    "assignment assets shared with ann_ivf_pq_search) and scores only "
    "those cells' train vectors through a CELL-KEYED join — no "
    "broadcast-times-full-corpus scan, candidate work ~nprobe/cells "
    "of exact.  A recall@k column audits quality against the exact "
    f"neighbor set on a 1/{KNN_AUDIT_MOD // KNN_TEST_MOD} subsample "
    "of test points (the standard ANN-eval practice: measure recall "
    "on a bounded audit batch, never the full test set).  Exact "
    "integer recall sum (no float-avg drift); distances and argmin "
    "ties order-pinned as everywhere else.",
)
def ml_knn_eval_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from risinglight_spark.operators.vector_search import (
        DIM,
        ivf_assign_cached,
        ivf_centroids_cached,
    )

    t = Tables(spark, sf_dir)
    emb = t.embeddings
    # Bounded eval batch (KNN_TEST_CAP) — the same payload the scoring
    # pass ships to every executor in its closure.
    test_pdf = (
        emb.filter(
            (F.col("vec_id") % KNN_TEST_MOD == 0)
            & (F.col("vec_id") <= KNN_TEST_CAP)
        )
        .select("vec_id", "embedding", "label")
        .toPandas()
    )
    test_ids = test_pdf["vec_id"].to_numpy()
    temb64 = np.asarray(
        np.stack(test_pdf["embedding"].to_numpy()), dtype=np.float64
    )
    test_labels = test_pdf["label"].to_numpy()
    train = (
        emb.filter(F.col("vec_id") % KNN_TEST_MOD != 0)
        .join(ivf_assign_cached(spark, sf_dir), "vec_id")
        .select(
            F.col("vec_id").alias("train_id"),
            F.col("embedding").alias("c_emb"),
            F.col("label").alias("nn_label"),
            "cell",
        )
    )
    # Probe assignment runs where both operands already live: the test
    # batch (bounded) against the centroid asset (driver-sized by
    # construction — it IS the broadcast table in every other IVF op).
    # vector.fold_sqdist is the oracle's sqrt(0.0 + ...) chain, so
    # probed cells match bit-exactly; ties order by (dist, cell).
    cents_pdf = ivf_centroids_cached(spark, sf_dir).toPandas()
    cell_ids = cents_pdf["cell"].to_numpy()
    cmat = cents_pdf[[f"c{i}" for i in range(DIM)]].to_numpy(
        dtype=np.float64
    )
    cd = np.sqrt(V.fold_sqdist(temb64, cmat))
    probe_cells: dict[int, list] = {}
    nprobe = min(KNN_NPROBE, cmat.shape[0])
    for j in range(temb64.shape[0]):
        order = np.lexsort((cell_ids, cd[j]))[:nprobe]
        for c in cell_ids[order]:
            probe_cells.setdefault(int(c), []).append(j)
    probe_cells = {
        c: np.asarray(v, dtype=np.int64) for c, v in probe_cells.items()
    }
    # Cell-pruned scoring in one Arrow pass (see _knn_local_topk): the
    # train scan stays partition-parallel — no cell-keyed exchange
    # (which would cap parallelism at the cell count), no
    # |test x probe| broadcast-join blowup — and the shuffle carries
    # only partitions x |test| x k candidates into the global merge.
    cand = _knn_local_topk(
        train,
        test_ids,
        temb64,
        test_labels,
        KNN_K,
        probe_cells=probe_cells,
    )
    w = Window.partitionBy("test_id").orderBy("dist", "train_id")
    topk = cand.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= KNN_K
    )
    votes = topk.groupBy("test_id", "true_label", "nn_label").agg(
        F.count("*").alias("v")
    )
    key = (F.lit(KNN_K) - F.col("v")) * _VOTE_RADIX + F.col("nn_label")
    pred = votes.groupBy("test_id", "true_label").agg(
        (F.min(key) % _VOTE_RADIX).alias("predicted")
    )
    correct = F.when(F.col("predicted") == F.col("true_label"), 1)
    acc = pred.groupBy(F.col("true_label").alias("label")).agg(
        F.count("*").alias("n_test"),
        F.count(correct).cast("bigint").alias("n_correct"),
        F.round(F.count(correct) / F.count("*"), 10).alias("accuracy"),
    )
    # recall audit on the bounded subsample.  The exact neighbor set is
    # the precomputed GROUND TRUTH of standard ANN evaluation
    # (ann-benchmarks computes it once per corpus and stores it) — a
    # memoized index asset like the centroids, so steady-state eval
    # never re-runs the brute-force scan.
    from risinglight_spark.operators import _cached_persisted

    audit_mask = test_ids % KNN_AUDIT_MOD == 0
    audit = spark.createDataFrame(
        test_pdf[audit_mask][["vec_id", "label"]].rename(
            columns={"vec_id": "test_id", "label": "true_label"}
        )
    )
    we = Window.partitionBy("test_id").orderBy("dist", "train_id")

    def build_ground_truth() -> DataFrame:
        return (
            _knn_local_topk(
                train,
                test_ids[audit_mask],
                temb64[audit_mask],
                test_labels[audit_mask],
                KNN_K,
            )
            .withColumn("rn", F.row_number().over(we))
            .filter(F.col("rn") <= KNN_K)
            .select("test_id", "train_id")
        )

    exact_top = _cached_persisted(
        spark, sf_dir, "knn_audit_ground_truth", build_ground_truth
    )
    matched = topk.join(exact_top, ["test_id", "train_id"]).select(
        "test_id", "train_id"
    )
    hits = (
        audit.select("test_id", "true_label")
        .join(matched, "test_id", "left")
        .groupBy("test_id", "true_label")
        .agg(F.count("train_id").alias("n_hit"))
    )
    recl = hits.groupBy(F.col("true_label").alias("label")).agg(
        F.count("*").cast("bigint").alias("n_audit"),
        F.round(
            F.sum("n_hit").cast("double") / (KNN_K * F.count("*")), 10
        ).alias("recall_at_k"),
    )
    return acc.join(recl, "label", "left").select(
        "label",
        "n_test",
        "n_correct",
        "accuracy",
        F.coalesce(F.col("n_audit"), F.lit(0)).cast("bigint").alias("n_audit"),
        "recall_at_k",
    )


# -- triangle counting on the near-dup graph ---------------------------------


@register(
    "graph_triangle_count",
    oracle=f"""
    WITH pairs AS MATERIALIZED ({_jaccard_oracle()}),
    e AS (SELECT doc_a AS a, doc_b AS b FROM pairs),
    tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM e e1
      JOIN e e2 ON e1.b = e2.a
      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    members AS (
      SELECT x AS doc_id FROM tri
      UNION ALL SELECT y FROM tri
      UNION ALL SELECT z FROM tri
    )
    SELECT doc_id, count(*) AS n_triangles FROM members GROUP BY doc_id
    """,
    doc="Per-node triangle counts on the near-dup graph (clustering-"
    "coefficient numerator — distinguishes tight dup cliques from "
    "chains that transitive closure alone can't tell apart).  Edges "
    "are the exact-Jaccard pairs kept in canonical a<b form, so each "
    "triangle appears exactly once as x<y<z: two edge-keyed self-joins "
    "(wedge build + closing-edge check), then a per-node rollup.  "
    "O(Σ deg²) wedges, never all-pairs; at 100 TB the standard "
    "degree-ordered orientation (already canonical here) keeps wedge "
    "fan-out bounded by the max out-degree, and the closing-edge join "
    "stays keyed on (a, b).",
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Triangle counts decompose over the cluster structure (see
    # _rep_graph): for a member of cluster A with neighbor clusters
    # S_A and cluster-level triangles {A, B, C},
    #   T_A = C(c_A - 1, 2)                       -- two A-siblings
    #       + sum_B [(c_A - 1) * c_B + C(c_B, 2)] -- sibling + B / two Bs
    #       + sum_{A,B,C} c_B * c_C               -- one from each of B, C
    # so the wedge/closing joins run on cluster edges only (flat in
    # replica inflation) and members inherit T_A by one fan-out join.
    sym, cl, member_of = _rep_graph(spark, sf_dir)
    e = sym.filter(F.col("src") < F.col("dst")).select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    )
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    wedges = e1.join(e2, F.col("e1.b") == F.col("e2.a")).select(
        F.col("e1.a").alias("x"), F.col("e1.b").alias("y"), F.col("e2.b").alias("z")
    )
    tri = wedges.join(
        e3,
        (F.col("e3.a") == F.col("x")) & (F.col("e3.b") == F.col("z")),
        "left_semi",
    )
    csz = {
        side: cl.select(
            F.col("cid").alias(side), F.col("csize").alias(f"c_{side}")
        )
        for side in ("x", "y", "z")
    }
    # cluster-triangle contribution: each corner gets the product of
    # the OTHER two corner sizes
    tri_term = (
        tri.join(csz["x"], "x").join(csz["y"], "y").join(csz["z"], "z")
        .select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("x").alias("cid"),
                        (F.col("c_y") * F.col("c_z")).alias("t"),
                    ),
                    F.struct(
                        F.col("y").alias("cid"),
                        (F.col("c_x") * F.col("c_z")).alias("t"),
                    ),
                    F.struct(
                        F.col("z").alias("cid"),
                        (F.col("c_x") * F.col("c_y")).alias("t"),
                    ),
                )
            ).alias("p")
        )
        .select("p.cid", "p.t")
    )
    # per-neighbor term: (c_A - 1) * c_B + C(c_B, 2), gathered at A
    nbr_term = (
        sym.join(
            cl.select(F.col("cid").alias("src"), F.col("csize").alias("c_b")),
            "src",
        )
        .join(
            cl.select(F.col("cid").alias("dst"), F.col("csize").alias("c_a")),
            "dst",
        )
        .select(
            F.col("dst").alias("cid"),
            (
                (F.col("c_a") - 1) * F.col("c_b")
                + F.col("c_b") * (F.col("c_b") - 1) / 2
            ).cast("long").alias("t"),
        )
    )
    # within-clique term: C(c_A - 1, 2)
    self_term = cl.select(
        "cid",
        ((F.col("csize") - 1) * (F.col("csize") - 2) / 2)
        .cast("long")
        .alias("t"),
    )
    t_cl = (
        tri_term.unionAll(nbr_term)
        .unionAll(self_term)
        .groupBy("cid")
        .agg(F.sum("t").alias("n_triangles"))
        .filter(F.col("n_triangles") > 0)
    )
    return member_of.join(t_cl, "cid").select("doc_id", "n_triangles")


# -- naive Bayes language classifier (train + predict + evaluate) ------------

NB_BUCKETS = 256  # hashed-unigram feature space bounds the model size


@register(
    "ml_naive_bayes_langid",
    oracle=f"""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, lang, {T.char_hash_sql("tok")} % {NB_BUCKETS} AS bucket
      FROM (
        SELECT doc_id, lang,
               unnest({T.tokens_sql(T.normalized_text_sql("text"))}) AS tok
        FROM documents
      )
    ),
    model AS MATERIALIZED (
      SELECT lang AS m_lang, bucket, count(*) AS n_lb,
             sum(count(*)) OVER (PARTITION BY lang)::BIGINT AS t_l
      FROM toks GROUP BY lang, bucket
    ),
    priors AS (
      SELECT lang AS p_lang,
             round(ln(count(*)::DOUBLE
                      / (sum(count(*)) OVER ())::BIGINT), 10) AS logprior
      FROM (SELECT DISTINCT doc_id, lang FROM toks) GROUP BY lang
    ),
    scores AS (
      SELECT t.doc_id, t.lang AS true_lang, m.m_lang AS cand,
             any_value(p.logprior)
             + {fpsum_sql(
                 f"round(ln((m.n_lb + 1.0) / (m.t_l + {NB_BUCKETS})), 10)",
                 1000000)} AS score
      FROM toks t
      JOIN model m USING (bucket)
      JOIN priors p ON p.p_lang = m.m_lang
      GROUP BY t.doc_id, t.lang, m.m_lang
    ),
    pred AS (
      SELECT doc_id, true_lang, cand AS predicted,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, cand ASC) AS rn
      FROM scores
    )
    SELECT true_lang AS lang, count(*) AS n_docs,
           sum(CASE WHEN predicted = true_lang THEN 1 ELSE 0 END)::BIGINT
               AS n_correct,
           round(sum(CASE WHEN predicted = true_lang THEN 1 ELSE 0 END)
                 / count(*), 10) AS accuracy
    FROM pred WHERE rn = 1 GROUP BY true_lang
    """,
    doc="Multinomial naive Bayes language classifier, trained AND "
    f"evaluated in one job: hashed-unigram features ({NB_BUCKETS} "
    "buckets), add-one smoothed per-language bucket likelihoods, "
    "document scores as prior + summed log-likelihood per candidate "
    "language, argmax prediction, per-language accuracy out.  The "
    "model is (langs x buckets) rows — fixed size, broadcast for "
    "scoring like the DSIR model; the candidate fan-out multiplies "
    "the token stream by |langs| (bounded, 5 here) before the doc "
    "rollup.  ln rounded to 10 dp + fixed-point sums: bit-identical "
    "scores, so the argmax (ties to lexically-first language) "
    "replays exactly on both engines.",
)
def ml_naive_bayes_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from risinglight_spark.operators import _cached_persisted

    t = Tables(spark, sf_dir)
    # Arrow-batched token hashing (interpreted char_hash lambdas are
    # ~10x slower on a token-stream scan — functions/text.py), then
    # IMMEDIATELY collapsed to the per-document hashed bag
    # (doc_id, lang, bucket, k) — the feature table a real pipeline
    # materializes.  The bag is itself the memoized asset (round 14;
    # previously a PER-CALL lazy local checkpoint, i.e. a scratch
    # write on every fresh call — the storage class the r12/r13
    # rewrites removed elsewhere): <= docs x min(tokens, buckets)
    # rows, never
    # the raw token stream.  First call: one Arrow scan feeds bag,
    # model, and priors; steady state: prediction joins three cached
    # tables, zero corpus scans.
    dbc = _cached_persisted(
        spark,
        sf_dir,
        "nb_langid_bag",
        lambda: (
            t.documents.select(
                "doc_id",
                "lang",
                F.explode(
                    T.token_hashes_pandas()(F.col("text"))
                ).alias("th"),
            )
            .groupBy(
                "doc_id", "lang", (F.col("th") % NB_BUCKETS).alias("bucket")
            )
            .agg(F.count("*").alias("k"))
        ),
    )
    # The TRAINED model (langs x buckets likelihoods + priors) is the
    # stored asset — session-memoized like the dedup signature tables,
    # so steady-state evaluation is one bag scan joined against
    # broadcast model tables, never re-training.
    wl = Window.partitionBy("lang")
    model = _cached_persisted(
        spark,
        sf_dir,
        "nb_langid_model",
        lambda: (
            dbc.groupBy("lang", "bucket")
            .agg(F.sum("k").alias("n_lb"))
            .withColumn("t_l", F.sum("n_lb").over(wl))
            .select(F.col("lang").alias("m_lang"), "bucket", "n_lb", "t_l")
        ),
    )
    wall = Window.partitionBy()
    priors = _cached_persisted(
        spark,
        sf_dir,
        "nb_langid_priors",
        lambda: (
            # distinct over the bag, not documents: a doc with zero
            # tokens has no bag rows, so it contributes nothing to the
            # priors (oracle parity: SELECT DISTINCT doc_id, lang FROM
            # toks)
            dbc.select("doc_id", "lang")
            .distinct()
            .groupBy("lang")
            .agg(F.count("*").alias("n_docs"))
            .select(
                F.col("lang").alias("p_lang"),
                F.round(
                    F.log(
                        F.col("n_docs").cast("double")
                        / F.sum("n_docs").over(wall)
                    ),
                    10,
                ).alias("logprior"),
            )
        ),
    )
    loglik = F.round(
        F.log(
            (F.col("n_lb") + F.lit(1.0)) / (F.col("t_l") + NB_BUCKETS)
        ),
        10,
    )
    # k occurrences of the same rounded fixed-point loglik sum to
    # exactly k * round(loglik * 1e6): identical to the per-occurrence
    # fpsum the oracle replays, by distributivity over the int64 sum.
    fp_weighted = (
        F.sum(
            F.round(loglik * 1e6, 0).cast("long") * F.col("k")
        ).cast("double")
        / 1e6
    )
    scores = (
        dbc.join(F.broadcast(model), "bucket")
        .join(F.broadcast(priors), F.col("p_lang") == F.col("m_lang"))
        .groupBy(
            "doc_id",
            F.col("lang").alias("true_lang"),
            F.col("m_lang").alias("cand"),
        )
        .agg((F.any_value(F.col("logprior")) + fp_weighted).alias("score"))
    )
    wd = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("cand"))
    pred = (
        scores.withColumn("rn", F.row_number().over(wd))
        .filter(F.col("rn") == 1)
        .select("true_lang", (F.col("cand") == F.col("true_lang")).alias("ok"))
    )
    correct = F.when(F.col("ok"), 1)
    return pred.groupBy(F.col("true_lang").alias("lang")).agg(
        F.count("*").alias("n_docs"),
        F.count(correct).cast("bigint").alias("n_correct"),
        F.round(F.count(correct) / F.count("*"), 10).alias("accuracy"),
    )


# -- data-quality / contract validation report -------------------------------


@register(
    "pipeline_data_quality",
    oracle="""
    SELECT 'lineitem_null_shipdate' AS check_name,
           count(*) FILTER (WHERE l_shipdate IS NULL)::BIGINT AS n_violations,
           count(*) AS n_checked
    FROM lineitem
    UNION ALL
    SELECT 'lineitem_qty_range',
           count(*) FILTER (WHERE l_quantity < 1 OR l_quantity > 50)::BIGINT,
           count(*)
    FROM lineitem
    UNION ALL
    SELECT 'lineitem_orphan_orderkey',
           count(*) FILTER (WHERE o.o_orderkey IS NULL)::BIGINT,
           count(*)
    FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    UNION ALL
    SELECT 'orders_duplicate_pk',
           (count(*) - count(DISTINCT o_orderkey))::BIGINT,
           count(*)
    FROM orders
    UNION ALL
    SELECT 'orders_orphan_custkey',
           count(*) FILTER (WHERE c.c_custkey IS NULL)::BIGINT,
           count(*)
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    UNION ALL
    SELECT 'documents_empty_text',
           count(*) FILTER (WHERE text IS NULL OR length(text) = 0)::BIGINT,
           count(*)
    FROM documents
    """,
    doc="Data-contract validation report: null checks, range checks, "
    "primary-key uniqueness, and foreign-key orphan detection across "
    "the star schema, one row per check.  The shape that matters at "
    "100 TB: every check is either a map-side-combined conditional "
    "count over one scan, or an FK probe where the REFERENCED side "
    "builds the (broadcast) hash table — the fact side never "
    "shuffles.  Checks over the same table share its scan via the "
    "UNION ALL arms' common subplan; output is one row per check "
    "regardless of data size.",
)
def pipeline_data_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)

    def check(name, viol, n):
        return [F.lit(name).alias("check_name"), viol.alias("n_violations"), n.alias("n_checked")]

    li = t.lineitem
    c1 = li.agg(
        *check(
            "lineitem_null_shipdate",
            F.count(F.when(F.col("l_shipdate").isNull(), 1)).cast("bigint"),
            F.count("*"),
        )
    )
    c2 = li.agg(
        *check(
            "lineitem_qty_range",
            F.count(
                F.when((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50), 1)
            ).cast("bigint"),
            F.count("*"),
        )
    )
    c3 = (
        li.join(
            F.broadcast(t.orders.select("o_orderkey")),
            li.l_orderkey == F.col("o_orderkey"),
            "left",
        ).agg(
            *check(
                "lineitem_orphan_orderkey",
                F.count(F.when(F.col("o_orderkey").isNull(), 1)).cast("bigint"),
                F.count("*"),
            )
        )
    )
    c4 = t.orders.agg(
        *check(
            "orders_duplicate_pk",
            (F.count("*") - F.count_distinct(F.col("o_orderkey"))).cast("bigint"),
            F.count("*"),
        )
    )
    c5 = (
        t.orders.join(
            F.broadcast(t.customer.select("c_custkey")),
            t.orders.o_custkey == F.col("c_custkey"),
            "left",
        ).agg(
            *check(
                "orders_orphan_custkey",
                F.count(F.when(F.col("c_custkey").isNull(), 1)).cast("bigint"),
                F.count("*"),
            )
        )
    )
    c6 = t.documents.agg(
        *check(
            "documents_empty_text",
            F.count(
                F.when(
                    F.col("text").isNull() | (F.length("text") == 0), 1
                )
            ).cast("bigint"),
            F.count("*"),
        )
    )
    out = c1
    for c in (c2, c3, c4, c5, c6):
        out = out.unionAll(c)
    return out


# -- label-propagation communities on the near-dup graph ---------------------

LPA_ROUNDS = 2


def _lpa_oracle() -> str:
    rounds = []
    for r in range(1, LPA_ROUNDS + 1):
        rounds.append(
            f"""c{r} AS (
      SELECT e.dst AS node, l.label, count(*) AS cnt
      FROM e JOIN l{r-1} l ON e.src = l.node
      GROUP BY e.dst, l.label
    ),
    l{r} AS (
      SELECT node,
             (array_agg(label ORDER BY cnt DESC, label))[1] AS label
      FROM c{r} GROUP BY node
    )"""
        )
    return f"""
    WITH pairs AS MATERIALIZED ({_jaccard_oracle()}),
    e AS MATERIALIZED (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b, doc_a FROM pairs
    ),
    l0 AS (SELECT DISTINCT src AS node, src AS label FROM e),
    {",".join(rounds)}
    SELECT node AS doc_id, label AS community FROM l{LPA_ROUNDS}
    """


@register(
    "graph_label_propagation",
    oracle=_lpa_oracle(),
    doc=f"Label-propagation community detection ({LPA_ROUNDS} "
    "synchronous rounds, majority neighbor label, ties to the "
    "smallest): the classic near-linear community algorithm — on the "
    "dup graph it separates loosely-bridged clusters that min-label "
    "connected components (dedup_connected_components) would merge.  "
    "Each round is one edge-keyed join + two grouped aggregates with "
    "map-side partials — O(edges) per round, O(1) state per node; "
    "the argmax is an order-pinned aggregate, deterministic on both "
    "engines.  Synchronous updates (not async sweep) keep the result "
    "partitioning-independent — the property that matters on a "
    "cluster.",
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Collapsed-graph rounds.  Initial labels are node ids — distinct
    # across a cluster — but the symmetry of the blowup (see
    # _rep_graph) keeps per-cluster label state TWO-valued forever:
    # after round 1 every non-min member of cluster A carries the same
    # label l2_A (their neighbor multisets are identical), and the min
    # member carries l1_A.  Round 1 in closed form (every initial
    # label is globally unique, so all neighbor counts are 1 and the
    # majority-with-min-tiebreak is just the MIN neighbor id); later
    # rounds update the two classes with integer multiplicities.
    # Rounds cost O(cluster edges), flat in replica inflation.
    sym, cl, member_of = _rep_graph(spark, sf_dir)
    nbmin = sym.groupBy("dst").agg(F.min("src").alias("nbmin")).select(
        F.col("dst").alias("cid"), "nbmin"
    )
    m2 = member_of.groupBy("cid").agg(
        F.min(F.when(F.col("doc_id") != F.col("cid"), F.col("doc_id"))).alias(
            "m2"
        )
    )
    # participating clusters only (an eligible singleton with no
    # neighbors has no edges and no LPA row)
    st = (
        cl.join(nbmin, "cid", "left")
        .join(m2, "cid", "left")
        .filter((F.col("csize") >= 2) | F.col("nbmin").isNotNull())
    )
    # round 1: min member sees its siblings (min = m2) and each
    # neighbor cluster's min (= cid_B); non-min members see the
    # cluster min (= cid) and the same neighbor mins.  least() skips
    # NULLs on exactly the sides that don't exist.
    state = st.select(
        "cid",
        "csize",
        F.least(F.col("m2"), F.col("nbmin")).alias("l1"),
        F.when(
            F.col("csize") >= 2, F.least(F.col("cid"), F.col("nbmin"))
        ).alias("l2"),
    ).localCheckpoint()
    for _ in range(LPA_ROUNDS - 1):
        # label supply a cluster presents to its neighbors
        supply = state.select(
            F.col("cid").alias("src"),
            F.col("l1").alias("label"),
            F.lit(1).cast("long").alias("mult"),
        ).unionAll(
            state.filter(F.col("csize") >= 2).select(
                F.col("cid").alias("src"),
                F.col("l2").alias("label"),
                (F.col("csize") - 1).alias("mult"),
            )
        )
        gathered = sym.join(supply, "src").select(
            F.col("dst").alias("cid"), "label", "mult"
        )
        argmax = F.min(
            F.struct((-F.col("cnt")).alias("nc"), F.col("label"))
        ).getField("label")
        # class 0 (min member): siblings all carry l2
        in0 = gathered.unionAll(
            state.filter(F.col("csize") >= 2).select(
                "cid", F.col("l2").alias("label"),
                (F.col("csize") - 1).alias("mult"),
            )
        )
        new_l1 = (
            in0.groupBy("cid", "label")
            .agg(F.sum("mult").alias("cnt"))
            .groupBy("cid")
            .agg(argmax.alias("l1"))
        )
        # class 1 (non-min members): the min sibling carries l1, the
        # other c-2 siblings carry l2
        in1 = gathered.unionAll(
            state.filter(F.col("csize") >= 2).select(
                "cid", F.col("l1").alias("label"),
                F.lit(1).cast("long").alias("mult"),
            )
        ).unionAll(
            state.filter(F.col("csize") >= 3).select(
                "cid", F.col("l2").alias("label"),
                (F.col("csize") - 2).alias("mult"),
            )
        )
        new_l2 = (
            in1.groupBy("cid", "label")
            .agg(F.sum("mult").alias("cnt"))
            .groupBy("cid")
            .agg(argmax.alias("l2"))
        )
        state = (
            state.select("cid", "csize")
            .join(new_l1, "cid")
            .join(new_l2, "cid", "left")
            .localCheckpoint()
        )
    return member_of.join(state, "cid").select(
        F.col("doc_id"),
        F.when(F.col("doc_id") == F.col("cid"), F.col("l1"))
        .otherwise(F.col("l2"))
        .alias("community"),
    )


# -- deterministic k-fold cross-validation split -----------------------------

KFOLD_K = 5


@register(
    "ml_kfold_split",
    oracle=f"""
    WITH assigned AS (
      SELECT label,
             {T.char_hash_sql("CAST(vec_id AS VARCHAR)")} % {KFOLD_K} AS fold
      FROM embeddings
    )
    SELECT fold, count(*) AS n,
           count(DISTINCT label) AS n_labels,
           min(label) AS min_label, max(label) AS max_label
    FROM assigned GROUP BY fold
    """,
    doc=f"Deterministic {KFOLD_K}-fold cross-validation assignment "
    "(portable hash of the id, never rand()): folds are a pure "
    "function of vec_id, so every worker, every re-run, and both "
    "engines agree on membership — the property that makes "
    "distributed CV results reproducible and lets fold models train "
    "in parallel jobs against the SAME split.  Output is the fold "
    "balance report (sizes + label coverage) a CV run sanity-checks "
    "before training.",
)
def ml_kfold_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    fold = T.char_hash(F.col("vec_id").cast("string")) % KFOLD_K
    return (
        t.embeddings.select("label", fold.alias("fold"))
        .groupBy("fold")
        .agg(
            F.count("*").alias("n"),
            F.count_distinct("label").alias("n_labels"),
            F.min("label").alias("min_label"),
            F.max("label").alias("max_label"),
        )
    )


PPS_SAMPLES = 50  # systematic sample size (selection multiplicity sums to this)


@register(
    "sample_systematic_pps",
    oracle=f"""
    WITH wt AS (
      SELECT doc_id, {T.token_count_sql('text')}::BIGINT AS w,
             {T.char_hash_sql('CAST(doc_id AS VARCHAR)')} AS hk
      FROM documents
      WHERE {T.token_count_sql('text')} > 0
    ),
    cum AS (
      SELECT doc_id, w, hk,
             sum(w) OVER (ORDER BY hk, doc_id
                          ROWS UNBOUNDED PRECEDING) AS cw,
             sum(w) OVER () AS total
      FROM wt
    )
    SELECT doc_id, w AS weight,
           (CAST(floor(cw * {PPS_SAMPLES} / total) AS BIGINT)
            - CAST(floor((cw - w) * {PPS_SAMPLES} / total) AS BIGINT))
             AS n_hits
    FROM cum
    WHERE CAST(floor(cw * {PPS_SAMPLES} / total) AS BIGINT)
          > CAST(floor((cw - w) * {PPS_SAMPLES} / total) AS BIGINT)
    """,
    doc=f"Systematic probability-proportional-to-size sampling "
    f"({PPS_SAMPLES} draws, weight = token count): order the corpus "
    "by a deterministic hash key (the portable char-hash — a seeded "
    "shuffle both engines replay exactly), take the exact integer "
    "cumulative weight, and select every doc whose weight interval "
    "[cw-w, cw) crosses a multiple of total/k — pure int64 "
    "floor((cw*k)/total) comparisons, no RNG, no transcendental, so "
    "the draw is bit-identical at any parallelism.  Selection "
    "multiplicity (n_hits) sums to exactly k, and heavy docs can "
    "legitimately be drawn more than once, exactly like classical "
    "systematic PPS.  Scale shape: the cumulative sum is the "
    "DISTRIBUTED prefix-sum — the hash key range-buckets the corpus "
    "(hk is uniform on [0, HASH_P)), each bucket prefix-sums "
    "independently under a bucket-partitioned window, and per-bucket "
    "totals (one row per bucket, bounded driver metadata like a "
    "convergence scalar) become broadcast prefix offsets; no "
    "single-partition Exchange anywhere in the plan "
    "(tests/test_plans.py::test_pps_has_no_single_partition_window).",
)
def sample_systematic_pps(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    # Bucket count scales with the cluster (2 buckets per shuffle
    # partition keeps every bucket-window task busy); correctness is
    # bucket-count-independent because buckets are RANGES of the
    # (hk, doc_id) order — within-bucket prefix + earlier-bucket
    # offsets compose to the exact global prefix for ANY bucketing.
    n_buckets = 2 * int(
        spark.conf.get("spark.sql.shuffle.partitions", "32")
    )
    bucket_width = (T.HASH_P + n_buckets - 1) // n_buckets
    wt = (
        t.documents.select(
            "doc_id",
            T.token_count(F.col("text")).cast("bigint").alias("w"),
            T.char_hash(F.col("doc_id").cast("string")).alias("hk"),
        )
        .filter(F.col("w") > 0)
        .withColumn("bkt", (F.col("hk") / F.lit(bucket_width)).cast("int"))
    )

    # One bucket-keyed window pass (cached: shared across the offsets
    # collect and the final select — a second scan would redo the
    # token-count Arrow stage), via the factored distributed prefix-sum
    # (bucketed_prefix_sum, hypothesis-tested against a pure-Python
    # model in tests/test_properties.py).
    from risinglight_spark.operators import bucketed_prefix_sum

    cum_df, total = bucketed_prefix_sum(
        spark, sf_dir, "pps_part_cum", lambda: wt, "bkt", ("hk", "doc_id"), "w"
    )
    cum = cum_df.select(
        "doc_id", "w", "cw", F.lit(total).alias("total")
    )
    # floor on BOTH engines (a bare CAST rounds in DuckDB but
    # truncates in Spark); the product stays < 2^53 so the double
    # division floors identically
    hi = F.floor(F.col("cw") * PPS_SAMPLES / F.col("total")).cast("bigint")
    lo = F.floor(
        (F.col("cw") - F.col("w")) * PPS_SAMPLES / F.col("total")
    ).cast("bigint")
    return cum.filter(hi > lo).select(
        "doc_id", F.col("w").alias("weight"), (hi - lo).alias("n_hits")
    )



# -- weighted reservoir sampling (Efraimidis–Spirakis A-ES) ------------------

RESERVOIR_K = 100


@register(
    "sample_reservoir_weighted",
    oracle=f"""
    WITH pr AS (
      SELECT doc_id, w,
             ln(CAST(h + 1 AS DOUBLE) / {T.HASH_P + 1}.0) / w AS priority
      FROM (
        SELECT doc_id, {T.token_count_sql("text")} AS w,
               {T.char_hash_sql("CAST(doc_id AS VARCHAR)")} AS h
        FROM documents
      )
      WHERE w > 0
    )
    SELECT doc_id, w AS weight, round(priority, 9) AS priority
    FROM pr ORDER BY priority DESC, doc_id LIMIT {RESERVOIR_K}
    """,
    doc=f"Weighted reservoir sample (k={RESERVOIR_K}) via the "
    "Efraimidis–Spirakis A-ES scheme: priority = u^(1/w) compared in "
    "log space (ln(u)/w), with u the portable char-hash uniform — no "
    "RNG state, so the draw is a pure per-row function and the SAME "
    "sample falls out at any parallelism or cluster size.  Selection "
    "is top-k by priority = TakeOrderedAndProject: per-partition "
    "heaps + a k-row driver merge, the canonical distributed "
    "reservoir (no shuffle of the corpus, no single-partition sort). "
    " Complements sample_systematic_pps (exact integer PPS): A-ES is "
    "the streaming-friendly variant whose reservoirs merge by "
    "re-ranking priorities.",
)
def sample_reservoir_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    base = t.documents.select(
        "doc_id",
        T.token_count(F.col("text")).cast("bigint").alias("w"),
        T.char_hash(F.col("doc_id").cast("string")).alias("h"),
    ).filter(F.col("w") > 0)
    u = (F.col("h") + 1).cast("double") / F.lit(float(T.HASH_P + 1))
    priority = F.log(u) / F.col("w")
    return (
        base.select(
            "doc_id",
            F.col("w").alias("weight"),
            F.round(priority, 9).alias("priority"),
        )
        .orderBy(F.desc("priority"), "doc_id")
        .limit(RESERVOIR_K)
    )


# -- distributed closed-form model fitting ----------------------------------

# Moment names shared by the Spark plan and the DuckDB oracle so the
# Cramer expressions below stay textually identical on both sides.
_OLS_SUMS = ("s1", "s2", "s11", "s12", "s22", "sy", "s1y", "s2y", "syy")


@register(
    "ml_linreg_normal_eq",
    oracle=f"""
    WITH f AS (
      SELECT CAST({T.token_count_sql('text')} AS BIGINT) AS y,
             CAST(n_chars AS BIGINT) AS x1,
             CAST(length(text) - length(replace(text, 'e', ''))
                  AS BIGINT) AS x2
      FROM documents
    ),
    s AS (
      SELECT count(*) AS n,
             sum(x1) AS s1, sum(x2) AS s2,
             sum(x1 * x1) AS s11, sum(x1 * x2) AS s12,
             sum(x2 * x2) AS s22,
             sum(y) AS sy, sum(x1 * y) AS s1y, sum(x2 * y) AS s2y,
             sum(y * y) AS syy,
             greatest(max(abs(x1)), max(abs(x2)), max(abs(y))) AS mx
      FROM f
    ),
    d AS (
      SELECT n, CAST(n AS DOUBLE) AS nd,
             CAST(n AS DOUBLE) * CAST(mx AS DOUBLE) * CAST(mx AS DOUBLE)
               < 9.0e18 AS moments_exact,
             {', '.join(f'CAST({c} AS DOUBLE) AS {c}d' for c in _OLS_SUMS)}
      FROM s
    ),
    m AS (
      SELECT *,
             s11d * s22d - s12d * s12d AS m00,
             s1d * s22d - s12d * s2d AS m01,
             s1d * s12d - s11d * s2d AS m02,
             s1yd * s22d - s12d * s2yd AS a01,
             s1yd * s12d - s11d * s2yd AS a02,
             s1d * s2yd - s1yd * s2d AS b02,
             s11d * s2yd - s1yd * s12d AS c00
      FROM d
    ),
    dets AS (
      SELECT *,
             nd * m00 - s1d * m01 + s2d * m02 AS det,
             syd * m00 - s1d * a01 + s2d * a02 AS det0,
             nd * a01 - syd * m01 + s2d * b02 AS det1,
             nd * c00 - s1d * b02 + syd * m02 AS det2
      FROM m
    ),
    w AS (
      SELECT n, nd, syd, s1yd, s2yd, syyd,
             det0 / (CASE WHEN moments_exact THEN nullif(det, 0.0) END)
               AS w_bias,
             det1 / (CASE WHEN moments_exact THEN nullif(det, 0.0) END)
               AS w_chars,
             det2 / (CASE WHEN moments_exact THEN nullif(det, 0.0) END)
               AS w_echar
      FROM dets
    )
    SELECT n, w_bias, w_chars, w_echar,
           1.0 - (syyd - (w_bias * syd + w_chars * s1yd
                          + w_echar * s2yd))
                 / nullif(syyd - (syd * syd) / nd, 0.0) AS r2
    FROM w
    """,
    doc="Closed-form OLS by distributed normal equations: regress "
    "whitespace token count on (bias, n_chars, occurrences of 'e') "
    "in ONE map-side-combined aggregate that collects the 3x3 moment "
    "matrix X'X and X'y as exact integer sums, then solves by "
    "Cramer's rule on the single aggregated row.  This is the "
    "pattern Spark MLlib's WeightedLeastSquares runs at scale "
    "(one treeAggregate of d^2/2 doubles, O(d^3) solve on the "
    "driver) — here the solve stays in the plan because d is a "
    "literal 3, so the whole fit is a 2-stage job with 10 longs of "
    "shuffle state per partition regardless of corpus size.  All "
    "moments are exact BIGINT sums (bit-identical at any "
    "parallelism, the ml_logreg_train_step trick); the Cramer and "
    "R^2 arithmetic is the same IEEE-754 expression DAG on both "
    "engines, so the coefficients hash-match without rounding.  "
    "Exactness bound (ADVICE r11): every moment is <= n * mx^2 for "
    "mx = max(|x1|, |x2|, |y|), so int64 sums are exact while "
    "n * mx^2 < 2^63 — ~9e10 rows of 10-kB docs; the plan aggregates "
    "mx alongside the moments (3 more longs of state, same single "
    "exchange) and NULLs the fit if the bound is breached, the same "
    "sentinel the oracle computes.  Past it, swap the moment sums to "
    "DECIMAL(38,0) on both sides (DuckDB's HUGEINT promotion).  A "
    "singular design matrix (det = 0) likewise pins to NULL "
    "coefficients on both engines rather than either engine's "
    "double/0 default.",
)
def ml_linreg_normal_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    f = t.documents.select(
        T.token_count(F.col("text")).cast("long").alias("y"),
        F.col("n_chars").cast("long").alias("x1"),
        (F.length("text") - F.length(F.regexp_replace("text", "e", "")))
        .cast("long")
        .alias("x2"),
    )
    s = f.agg(
        F.count("*").alias("n"),
        F.sum("x1").alias("s1"),
        F.sum("x2").alias("s2"),
        F.sum(F.col("x1") * F.col("x1")).alias("s11"),
        F.sum(F.col("x1") * F.col("x2")).alias("s12"),
        F.sum(F.col("x2") * F.col("x2")).alias("s22"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x1") * F.col("y")).alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).alias("s2y"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.greatest(
            F.max(F.abs(F.col("x1"))),
            F.max(F.abs(F.col("x2"))),
            F.max(F.abs(F.col("y"))),
        ).alias("mx"),
    )
    d = s.select(
        "n",
        F.col("n").cast("double").alias("nd"),
        # Overflow sentinel (ADVICE r11): every moment is bounded by
        # n * mx^2, so this double-side check (margin under 2^63 =
        # 9.22e18) certifies the int64 sums did not wrap.  Identical
        # expression in the oracle -> identical boolean.
        (
            F.col("n").cast("double")
            * F.col("mx").cast("double")
            * F.col("mx").cast("double")
            < F.lit(9.0e18)
        ).alias("moments_exact"),
        *[F.col(c).cast("double").alias(c + "d") for c in _OLS_SUMS],
    )
    m = d.select(
        "*",
        (F.col("s11d") * F.col("s22d") - F.col("s12d") * F.col("s12d")).alias("m00"),
        (F.col("s1d") * F.col("s22d") - F.col("s12d") * F.col("s2d")).alias("m01"),
        (F.col("s1d") * F.col("s12d") - F.col("s11d") * F.col("s2d")).alias("m02"),
        (F.col("s1yd") * F.col("s22d") - F.col("s12d") * F.col("s2yd")).alias("a01"),
        (F.col("s1yd") * F.col("s12d") - F.col("s11d") * F.col("s2yd")).alias("a02"),
        (F.col("s1d") * F.col("s2yd") - F.col("s1yd") * F.col("s2d")).alias("b02"),
        (F.col("s11d") * F.col("s2yd") - F.col("s1yd") * F.col("s12d")).alias("c00"),
    )
    dets = m.select(
        "*",
        (F.col("nd") * F.col("m00") - F.col("s1d") * F.col("m01")
         + F.col("s2d") * F.col("m02")).alias("det"),
        (F.col("syd") * F.col("m00") - F.col("s1d") * F.col("a01")
         + F.col("s2d") * F.col("a02")).alias("det0"),
        (F.col("nd") * F.col("a01") - F.col("syd") * F.col("m01")
         + F.col("s2d") * F.col("b02")).alias("det1"),
        (F.col("nd") * F.col("c00") - F.col("s1d") * F.col("b02")
         + F.col("syd") * F.col("m02")).alias("det2"),
    )
    # Degenerate-input pin (ADVICE r11): a singular design matrix
    # (det = 0 — e.g. exactly collinear signals or n < 3) or a corpus
    # past the int64 moment bound yields NULL coefficients on BOTH
    # engines via the same guarded divisor, instead of relying on
    # either engine's double/0 default.
    safe_det = F.when(
        F.col("moments_exact"), F.when(F.col("det") != 0.0, F.col("det"))
    )
    w = dets.select(
        "n",
        "nd",
        "syd",
        "s1yd",
        "s2yd",
        "syyd",
        (F.col("det0") / safe_det).alias("w_bias"),
        (F.col("det1") / safe_det).alias("w_chars"),
        (F.col("det2") / safe_det).alias("w_echar"),
    )
    tss = F.col("syyd") - (F.col("syd") * F.col("syd")) / F.col("nd")
    return w.select(
        "n",
        "w_bias",
        "w_chars",
        "w_echar",
        (
            F.lit(1.0)
            - (
                F.col("syyd")
                - (
                    F.col("w_bias") * F.col("syd")
                    + F.col("w_chars") * F.col("s1yd")
                    + F.col("w_echar") * F.col("s2yd")
                )
            )
            / F.when(tss != 0.0, tss)
        ).alias("r2"),
    )


# -- coreset selection (data pruning) ---------------------------------------

KCENTER_K = 5
_EMB_DIM = 64


def _kc_l2_sql(a: str, b: str) -> str:
    """L2 distance between two embedding columns, expanded to the same
    left-associated term order as functions.vector.l2_distance so the
    doubles match bit-for-bit."""
    terms = " + ".join(
        f"(CAST({a}[{i + 1}] AS DOUBLE) - CAST({b}[{i + 1}] AS DOUBLE))"
        f" * (CAST({a}[{i + 1}] AS DOUBLE) - CAST({b}[{i + 1}] AS DOUBLE))"
        for i in range(_EMB_DIM)
    )
    return f"sqrt(0.0 + {terms})"


def _kcenter_oracle(k: int) -> str:
    """Unrolled greedy k-center in SQL: c1 = lowest vec_id; c{i+1} =
    argmax (min distance to c1..ci), ties by vec_id."""
    parts = [
        "WITH e AS (SELECT vec_id, label, embedding FROM embeddings)",
        "c1 AS (SELECT vec_id, label, embedding FROM e"
        " ORDER BY vec_id LIMIT 1)",
        "d1 AS (SELECT e.vec_id, e.label, e.embedding,"
        f" {_kc_l2_sql('e.embedding', 'c1.embedding')} AS md FROM e, c1)",
    ]
    for i in range(2, k + 1):
        p = i - 1
        parts.append(
            f"c{i} AS (SELECT vec_id, label, embedding, md FROM d{p}"
            f" ORDER BY md DESC, vec_id LIMIT 1)"
        )
        if i < k:
            parts.append(
                f"d{i} AS (SELECT d{p}.vec_id, d{p}.label, d{p}.embedding,"
                f" LEAST(d{p}.md,"
                f" {_kc_l2_sql(f'd{p}.embedding', f'c{i}.embedding')}) AS md"
                f" FROM d{p}, c{i})"
            )
    selects = ["SELECT 1 AS step, vec_id, label, 0.0 AS radius FROM c1"] + [
        f"SELECT {i} AS step, vec_id, label, md AS radius FROM c{i}"
        for i in range(2, k + 1)
    ]
    return ",\n".join(parts) + "\n" + "\nUNION ALL ".join(selects)


@register(
    "sample_coreset_kcenter",
    oracle=_kcenter_oracle(KCENTER_K),
    doc="Greedy k-center coreset selection over the embedding column "
    "(Gonzalez 1985 farthest-point traversal, the 2-approximation "
    "behind coreset/data-pruning pipelines a la Sorscher et al. "
    "2022 'Beyond neural scaling laws'): seed with the lowest "
    "vec_id, then k-1 times pick the point FARTHEST from the "
    "chosen set (ties by vec_id) and fold its distance into the "
    "running min.  Scale shape: each round is one full scan with a "
    "codegen'd least(md, l2) expression and a TakeOrdered(1) "
    "reduction — per-partition max + a 1-row driver merge, never a "
    "shuffle of the corpus; driver state is k*(d+2) doubles.  The "
    "selected centers double as the radius trace (radius = "
    "coverage bound when that center was added, monotonically "
    "non-increasing).  At k in the thousands you'd switch to "
    "k-means||-style oversampling (Bahmani et al. VLDB'12) — same "
    "scan body, O(log n) rounds; this entry pins the exact greedy "
    "semantics those variants approximate.  The DuckDB oracle is "
    "the same greedy loop unrolled into k CTE levels; distances "
    "expand to the identical left-associated IEEE-754 term order, "
    "so selection and radii hash-match bit-for-bit.",
)
def sample_coreset_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from risinglight_spark.functions.vector import l2_distance, lit_vector

    t = Tables(spark, sf_dir)
    emb = t.embeddings.select("vec_id", "label", "embedding")
    # k bounded driver collects of ONE row each (the chosen center) —
    # the same bounded-scalar policy as vector_kmeans_step's centroids.
    seed = emb.orderBy("vec_id").limit(1).collect()[0]
    centers = [(1, seed.vec_id, seed.label, 0.0)]
    cur = emb.withColumn(
        "md", l2_distance(F.col("embedding"), lit_vector(list(seed.embedding)))
    )
    for step in range(2, KCENTER_K + 1):
        pick = cur.orderBy(F.desc("md"), "vec_id").limit(1).collect()[0]
        centers.append((step, pick.vec_id, pick.label, float(pick.md)))
        if step < KCENTER_K:
            cur = cur.withColumn(
                "md",
                F.least(
                    F.col("md"),
                    l2_distance(
                        F.col("embedding"), lit_vector(list(pick.embedding))
                    ),
                ),
            )
    return spark.createDataFrame(
        centers, "step int, vec_id long, label int, radius double"
    )
