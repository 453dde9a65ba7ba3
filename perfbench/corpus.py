"""The benchmark's input corpus: the eight dbgen TPC-H tables plus seeded
``events``, ``documents`` and ``embeddings`` tables.

``tables.register_views`` loads all ten table names the registry knows,
so every workload's corpus directory holds all of them:

- the TPC-H tables come from ``sources.dbgen.generate``.  dbgen takes no
  seed (same scale factor, same bytes), so they are generated once per
  checkout into a shared directory and symlinked into each run's
  corpus; the OLAP workload takes its seed as the query order instead;
- the other three are drawn from ``numpy.random.default_rng(seed)`` on
  every run, in the layout of the repository's test data (one parquet file each,
  naive microsecond timestamps):
  - documents: the pipeline-scale corpus's known duplicate structure --
    a third originals of 40-63 words from a 4096-word vocabulary whose
    head is stopwords, a third exact copies, a third near-copies with
    about one word in eight redrawn;
  - embeddings: 64-dim float32 vectors, three exact replicas per class,
    half of the classes tight around their cell centre and half
    scattered;
  - events: uniform users, event types and timestamps over 30 days.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TPCH_TABLES = (
    "region", "nation", "supplier", "part",
    "partsupp", "customer", "orders", "lineitem",
)
# the ten names tables.register_views loads, in its order
VIEW_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

VOCAB = np.array(
    "the a an and or of to in is it that for on was as with be at by".split()
    + [f"w{i:04d}" for i in range(19, 4096)]
)
EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])
LANGS = np.array(["en"] * 9 + ["de"])
_EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00
_SPAN_US = 30 * 86_400 * 1_000_000


def dbgen_tables(spark_factory, cache_dir: str, sf: float) -> str:
    """Return a directory holding the dbgen tables at ``sf``, generating
    them first if this checkout has none yet.  ``spark_factory`` is only
    called when generation is needed.  The directory appears atomically
    (written aside, then renamed), so a killed run never leaves a
    half-written corpus behind for the next one to reuse."""
    final = os.path.join(cache_dir, f"dbgen_sf{sf:g}")
    if os.path.isdir(final):
        return final
    from risinglight_spark.sources.dbgen import generate

    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    generate(spark_factory(), tmp, sf, partitions=4)
    os.replace(tmp, final)
    return final


def build(out_dir: str, dbgen_dir: str, seed: int, sizes: dict) -> str:
    """Lay out one run's corpus under ``out_dir``: symlinks to the dbgen
    tables and freshly drawn seeded tables.  Returns ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for t in TPCH_TABLES:
        os.symlink(os.path.join(dbgen_dir, f"{t}.parquet"),
                   os.path.join(out_dir, f"{t}.parquet"))
    rng = np.random.default_rng(seed)
    pq.write_table(_events(rng, sizes["events"]), os.path.join(out_dir, "events.parquet"))
    pq.write_table(_documents(rng, sizes["docs"]), os.path.join(out_dir, "documents.parquet"))
    pq.write_table(_embeddings(rng, sizes["vecs"]), os.path.join(out_dir, "embeddings.parquet"))
    return out_dir


def _events(rng, n: int) -> pa.Table:
    ts = _EPOCH_US + rng.integers(0, _SPAN_US, n)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, max(n // 64, 1), n, dtype=np.int64)),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)]),
        "value": pa.array(rng.integers(0, 50_000, n) / 100.0),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def _documents(rng, n: int) -> pa.Table:
    n_base = max(n // 3, 1)
    base = [rng.integers(0, len(VOCAB), rng.integers(40, 64)) for _ in range(n_base)]
    texts = []
    for doc in range(n):
        words = base[doc % n_base]
        if doc // n_base >= 2:  # near-copy: redraw about 1 word in 8
            words = words.copy()
            redraw = rng.random(len(words)) < 0.125
            words[redraw] = rng.integers(0, len(VOCAB), int(redraw.sum()))
        texts.append(" ".join(VOCAB[words]))
    src = np.arange(n) % n_base
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(LANGS[rng.integers(0, len(LANGS), n_base)][src]),
        "source": pa.array([f"src{s % 20}" for s in src]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng, n: int) -> pa.Table:
    n_class = max(n // 3, 1)
    n_cells = max(n_class // 800, 1)
    cls = np.arange(n) % n_class
    cell = (cls % n_cells).astype(np.int32)
    centres = rng.uniform(-1.0, 1.0, (n_cells, 64))
    scatter = np.where(rng.random(n_class) < 0.5, 0.01, 2.0)
    offsets = rng.uniform(-1.0, 1.0, (n_class, 64)) * scatter[:, None]
    vecs = (centres[cell] + offsets[cls]).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(cell),
    })


def duckdb_views(con, corpus_dir: str) -> None:
    """Expose a corpus to DuckDB under the ten names the registry's
    oracles query (dbgen tables are parquet directories)."""
    for t in VIEW_TABLES:
        path = os.path.join(corpus_dir, f"{t}.parquet")
        if os.path.isdir(path):
            path = os.path.join(path, "*.parquet")
        con.sql(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{path}')")


if __name__ == "__main__":
    # python3 corpus.py CACHE_DIR SF -- generate the dbgen tables only
    import sys

    from risinglight_spark.session import get_spark

    dbgen_tables(lambda: get_spark(app_name="perfbench_dbgen"), sys.argv[1], float(sys.argv[2]))
