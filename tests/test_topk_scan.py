"""knn.local_topk_scan — the one top-k scan behind the kNN / ANN / hybrid
operators — against a NumPy brute force, with ties that straddle Arrow
batch boundaries and the k-th position, plus the query-side cap and the
empty query side."""

from __future__ import annotations

import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from duckdb_hybrid_doc_search_spark.operators import knn

K = 2
# Arrow batch size forced inside the scan tests: ~20 rows per partition
# split into batches of 12 and 8, each holding more than K copies of a
# vector, so every batch truncates a tie at its local K-th position
BATCH_ROWS = "12"
COPIES = 20

# small-integer vectors: dot products and norms are exact, so a score does
# not depend on which GEMM block (batch) computed it; each score is a
# COPIES-way tie
DISTINCT = [[1, 0, 2], [2, 1, 0], [0, 3, 1]]
QUERIES = [(10, [1, 1, 0], 0), (11, [0, 1, 3], 1), (12, [2, 2, 2], 2)]


def _corpus(spark):
    rng = random.Random(7)
    ids = list(range(len(DISTINCT) * COPIES))
    rng.shuffle(ids)
    rows = [(cid, [float(x) for x in DISTINCT[i % len(DISTINCT)]], cid % 3)
            for i, cid in enumerate(ids)]
    return rows, spark.createDataFrame(
        rows, "c_id long, c_vec array<double>, c_label int").repartition(3)


def _queries(spark):
    df = spark.createDataFrame(
        [(q, [float(x) for x in v], lab) for q, v, lab in QUERIES],
        "q_id long, q_vec array<double>, q_label int")
    return knn.collect_queries(df)


def _brute(rows, ascending, masked):
    X = np.array([r[1] for r in rows])
    ids = np.array([r[0] for r in rows])
    labels = np.array([r[2] for r in rows])
    Q = np.array([v for _, v, _ in QUERIES], dtype=np.float64)
    S = knn.rounded_cosine(X, Q)
    want = set()
    for j, (q, _, q_label) in enumerate(QUERIES):
        cand = [i for i in range(len(ids))
                if not masked or labels[i] != q_label]
        cand.sort(key=lambda i: ((S[i, j] if ascending else -S[i, j]),
                                 ids[i]))
        for rank, i in enumerate(cand[:K], start=1):
            want.add((q, q_label, int(ids[i]), int(labels[i]),
                      float(S[i, j]), rank))
    return want


@pytest.mark.parametrize("ascending", [False, True])
@pytest.mark.parametrize("masked", [False, True])
def test_local_topk_scan_matches_brute_force(spark, ascending, masked):
    rows, corpus = _corpus(spark)

    def scorer(Q, qpdf):
        q_labels = qpdf["q_label"].to_numpy()

        def score_batch(X, pdf):
            keep = pdf["c_label"].to_numpy()[:, None] != q_labels[None, :]
            return knn.rounded_cosine(X, Q), (keep if masked else None)

        return score_batch

    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(conf)
    spark.conf.set(conf, BATCH_ROWS)
    try:
        out = knn.local_topk_scan(
            corpus, "c_id", "c_vec", _queries(spark), scorer, K,
            ascending=ascending, score_col="score", op="test")
        got = {tuple(r) for r in out.collect()}
    finally:
        spark.conf.set(conf, before)
    assert out.columns == ["q_id", "q_label", "c_id", "c_label", "score",
                           "rank"]
    assert got == _brute(rows, ascending, masked)


def test_query_side_cap_raises(spark):
    n = knn.MAX_SCAN_QUERIES + 1
    queries = spark.range(n).select(
        F.col("id").alias("q_id"),
        F.array(F.lit(1.0), F.lit(0.0)).alias("q_vec"))
    corpus = spark.createDataFrame([(0, [1.0, 0.0])],
                                   "c_id long, c_vec array<double>")
    with pytest.raises(ValueError, match=rf"knn_join.*{knn.MAX_SCAN_QUERIES}"):
        knn.knn_join(queries, corpus, 3)


def test_empty_query_side_gives_empty_result(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = knn.hard_negatives(emb, 5, n_queries=0)
    assert out.columns == ["q_id", "q_label", "c_id", "c_label", "cos_sim",
                           "rank"]
    assert out.count() == 0
