"""Registry sample of the traced run: registered queries that, between
them, run each of ROADMAP item 4's nine top-k scan sites and item 5's
three pair-GEMM bodies, on small seeded tables.

`write_tables` writes a `documents` table (the corpus generator's rows) and
an `embeddings` table (unit vectors around ten labelled centres) with the
schemas of the repo's test data. `run_sample` calls each query's
`registry.REGISTRY[name].spark_fn` inside a span and times three phases:

  build  the call itself: it builds the plan, and trains or writes any
         layout the query opens (IVF lists, PQ codebooks, the FTS layout);
  plan   the executed physical plan;
  exec   collecting the rows.

The collected rows are then compared with the query's DuckDB oracle the way
tests/oracle_harness.py compares them: column names, row count and the
multiset of rendered rows.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from contextlib import contextmanager

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

import corpus

# one query per site, named by the driver function that owns the site
QUERIES = (
    # item 4: the top-k scan sites
    "ann_brute_topk",                # knn.knn_join
    "embeddings_matryoshka_recall",  # knn.matryoshka_recall
    "embeddings_knn_classify",       # knn.knn_classify_accuracy
    "ann_pq_rescore_recall",         # knn.pq_topk
    "ann_ivfpq_topk",                # knn.ivfpq_topk
    "ann_ivfpq_residual_topk",       # knn.ivfpq_residual_topk
    "embeddings_hard_negatives",     # knn.hard_negatives
    "ann_ivf_topk",                  # ivf_layout.ivf_frozen_layout_topk
    "hybrid_search_batch",           # engine.hybrid_search_batch
    # item 5: the pair-GEMM bodies
    "dedup_embedding_cosine",        # dedup._embedding_pairs_gemm
    "dedup_embedding_ivf",           # cell_pairs in dedup.dedup_embedding_ivf
    "dedup_semantic_cells",          # cell_stats in _semdedup_with_centroids
)
N_ROWS = 500  # the row count of the repo's smallest test scale
DIM = 64
N_LABELS = 10


def write_tables(sf_dir: str, seed: int) -> None:
    os.makedirs(sf_dir)
    docs = corpus.documents(seed, N_ROWS)
    pq.write_table(pa.table({
        "doc_id": pa.array([d[0] for d in docs], pa.int64()),
        "text": [d[3] for d in docs],
        "lang": [d[2] for d in docs],
        "source": [d[1] for d in docs],
        "n_chars": pa.array([len(d[3]) for d in docs], pa.int64()),
    }), os.path.join(sf_dir, "documents.parquet"))
    rng = random.Random(seed)
    centres = [[rng.gauss(0, 1) for _ in range(DIM)] for _ in range(N_LABELS)]
    labels, vecs = [], []
    for _ in range(N_ROWS):
        label = rng.randrange(N_LABELS)
        v = [c + rng.gauss(0, 0.6) for c in centres[label]]
        norm = sum(x * x for x in v) ** 0.5
        labels.append(label)
        vecs.append([x / norm for x in v])
    pq.write_table(pa.table({
        "vec_id": pa.array(range(N_ROWS), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }), os.path.join(sf_dir, "embeddings.parquet"))


def _layouts(root: str) -> set[str]:
    base = os.path.join(root, "spark-warehouse")
    if not os.path.isdir(base):
        return set()
    return {os.path.join(base, kind, key) for kind in os.listdir(base)
            if os.path.isdir(os.path.join(base, kind))
            for key in os.listdir(os.path.join(base, kind))}


@contextmanager
def new_layouts_removed(root: str):
    """Remove the layouts the queries write under <root>/spark-warehouse
    (keyed by table content) when the block ends, so that a later run with
    the same seed builds them again instead of opening them warm."""
    before = _layouts(root)
    try:
        yield
    finally:
        for path in _layouts(root) - before:
            shutil.rmtree(path, ignore_errors=True)


def _check(name: str, cols: list[str], rows: list[tuple], oracle: str,
           con) -> list[str]:
    from tests.oracle_harness import rows_multiset

    res = con.execute(oracle)
    d_cols = [d[0] for d in res.description]
    d_rows = res.fetchall()
    if sorted(cols) != sorted(d_cols):
        return [f"registry {name}: columns {cols} != oracle {d_cols}"]
    if len(rows) != len(d_rows):
        return [f"registry {name}: {len(rows)} rows, oracle {len(d_rows)}"]
    if rows_multiset(cols, rows) != rows_multiset(d_cols, d_rows):
        return [f"registry {name}: values differ from the oracle"]
    return []


def run_sample(spark, tracer, sf_dir: str) -> tuple[dict[str, float],
                                                     list[str]]:
    """Per-query build/plan/exec times and the sample's Spark totals;
    returns (metrics, failures)."""
    from duckdb_hybrid_doc_search_spark.plans import registry

    registry._load_all()
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")
    m: dict[str, float] = {}
    fails: list[str] = []
    spans = []
    try:
        for name in QUERIES:
            q = registry.REGISTRY[name]
            with tracer.span(f"registry.{name}", rest=True) as s:
                t0 = time.perf_counter()
                df = q.spark_fn(spark, sf_dir)
                t1 = time.perf_counter()
                df._jdf.queryExecution().executedPlan()
                t2 = time.perf_counter()
                rows = [tuple(r) for r in df.collect()]
                t3 = time.perf_counter()
            spans.append(s)
            m[f"registry.{name}.build_ms"] = (t1 - t0) * 1000.0
            m[f"registry.{name}.plan_ms"] = (t2 - t1) * 1000.0
            m[f"registry.{name}.exec_ms"] = (t3 - t2) * 1000.0
            fails += _check(name, df.columns, rows, q.oracle, con)
    finally:
        con.close()
    m["registry.spark_jobs"] = sum(len(s.jobs) for s in spans)
    m["registry.spark_stages"] = sum(s.stages for s in spans)
    m["registry.shuffle_bytes"] = sum(s.shuffle_bytes for s in spans)
    return m, fails
