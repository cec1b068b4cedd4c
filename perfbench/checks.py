"""DuckDB oracles for the benchmark's outputs.

- `check_index`: recomputes the FTS tables from the written
  `documents.tokens` and requires the written tables to equal them.
- `SearchOracle`: answers a hybrid query over the written index tables
  with the package's DuckDB CTEs (BM25, cosine top-k, fusion, overlap
  rerank) and compares a served result list with it, order included.

Each check returns a list of failure messages; an empty list is a pass.
"""

from __future__ import annotations

import os
import threading

import duckdb

from duckdb_hybrid_doc_search_spark.config import (SCORE_ROUND,
                                                   SCORE_THRESHOLD)
from duckdb_hybrid_doc_search_spark.functions.fusion import dd_fuse_scores
from duckdb_hybrid_doc_search_spark.models.embedder import hash_embed_text
from duckdb_hybrid_doc_search_spark.models.reranker import dd_overlap_rerank
from duckdb_hybrid_doc_search_spark.models.tokenizer import tokenize_query
from duckdb_hybrid_doc_search_spark.operators.bm25 import dd_bm25_scored_cte
from duckdb_hybrid_doc_search_spark.operators.knn import dd_vss_scored_cte

INDEX_TABLES = ("documents", "embeddings", "postings", "docfreq", "docstats",
                "corpus_stats", "postings_scored")

# recomputed table -> (SQL over the written documents, compared columns)
_RECOMPUTED = {
    "postings": ("SELECT term, doc_id, count(*)::BIGINT AS tf FROM "
                 "(SELECT doc_id, unnest(tokens) AS term FROM documents) "
                 "GROUP BY term, doc_id", "term, doc_id, tf"),
    "docfreq": ("SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM "
                "(SELECT doc_id, unnest(tokens) AS term FROM documents) "
                "GROUP BY term", "term, df"),
    "docstats": ("SELECT doc_id, len(tokens)::INTEGER AS dl FROM documents",
                 "doc_id, dl"),
    "postings_scored": (
        "SELECT p.term, p.doc_id, p.tf, d.df, s.dl, c.n_docs, c.avgdl "
        "FROM postings p JOIN docfreq d USING (term) "
        "JOIN docstats s USING (doc_id) CROSS JOIN corpus_stats c",
        "term, doc_id, tf, df, dl, n_docs, avgdl"),
}


def connect(index_dir: str) -> duckdb.DuckDBPyConnection:
    """In-memory copies of the written index tables."""
    con = duckdb.connect()
    for t in INDEX_TABLES:
        path = os.path.join(index_dir, t, "*.parquet")
        con.execute(f"CREATE TABLE {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def check_index(con: duckdb.DuckDBPyConnection) -> list[str]:
    fails = []
    for table, (sql, cols) in _RECOMPUTED.items():
        diff = con.execute(
            f"SELECT (SELECT count(*) FROM ({sql} EXCEPT ALL "
            f"SELECT {cols} FROM {table})) + (SELECT count(*) FROM "
            f"(SELECT {cols} FROM {table} EXCEPT ALL {sql}))"
        ).fetchone()[0]
        if diff:
            fails.append(f"index: {table} differs from the recomputed "
                         f"table in {diff} rows")
    n_docs, avgdl = con.execute(
        "SELECT count(*), avg(len(tokens)) FROM documents").fetchone()
    (w_n, w_avg), = con.execute(
        "SELECT n_docs, avgdl FROM corpus_stats").fetchall()
    # avgdl is a float mean: the two engines may sum in another order
    if w_n != n_docs or abs(w_avg - avgdl) > 1e-9 * avgdl:
        fails.append(f"index: corpus_stats ({w_n}, {w_avg}) != "
                     f"({n_docs}, {avgdl})")
    n_emb, n_joined = con.execute(
        "SELECT (SELECT count(*) FROM embeddings), (SELECT count(*) FROM "
        "embeddings JOIN documents USING (doc_id))").fetchone()
    if not n_emb == n_joined == n_docs:
        fails.append(f"index: {n_docs} documents but {n_emb} embeddings, "
                     f"{n_joined} of them matching a document")
    return fails


class SearchOracle:
    """Expected `search` / `search_batch` results (rerank on) over one
    written index, from DuckDB."""

    def __init__(self, con: duckdb.DuckDBPyConnection, tokenizer: str):
        self.con = con
        self.tokenizer = tokenizer

    def expected(self, query: str, top_k: int) -> list[tuple]:
        qterms = tokenize_query(query, backend=self.tokenizer)
        fused = f"round({dd_fuse_scores()}, " \
                f"{SCORE_ROUND})"
        # the product's rerank keeps the fused score when the query has no
        # terms (DocSearchEngine._rerank)
        score = (f"round({dd_overlap_rerank('d.content', qterms)}, "
                 f"{SCORE_ROUND})" if qterms else fused)
        bm25 = dd_bm25_scored_cte(qterms) if qterms else \
            "bm25_scored AS (SELECT NULL::VARCHAR AS doc_id, " \
            "NULL::DOUBLE AS score WHERE false)"
        sql = f"""
WITH {bm25},
fts_topk AS (
  SELECT doc_id, score AS fts_score FROM bm25_scored
  ORDER BY score DESC, doc_id ASC LIMIT {top_k}
),
{dd_vss_scored_cte(hash_embed_text(query), top_k, id_col="doc_id")},
m AS (
  SELECT doc_id, f.fts_score, v.vss_score
  FROM fts_topk f FULL OUTER JOIN vss_scored v USING (doc_id)
),
d AS MATERIALIZED (
  SELECT m.*, d.content FROM m JOIN documents d USING (doc_id)
),
s AS (SELECT doc_id, fts_score, vss_score, {score} AS score FROM d)
SELECT doc_id, fts_score, vss_score FROM s WHERE score > {SCORE_THRESHOLD}
ORDER BY score DESC, doc_id ASC LIMIT {top_k}
"""
        return self.con.execute(sql).fetchall()

    def check_all(self, items: list[tuple], top_k: int) -> list[str]:
        """items: (query, results, error or None). Oracle queries run on
        4 DuckDB cursors at once."""
        from concurrent.futures import ThreadPoolExecutor

        local = threading.local()

        def one(item):
            query, results, error = item
            if error is not None:
                return [error]
            if not hasattr(local, "oracle"):
                local.oracle = SearchOracle(self.con.cursor(), self.tokenizer)
            return local.oracle.check(query, top_k, results)

        with ThreadPoolExecutor(4) as pool:
            return [f for fs in pool.map(one, items) for f in fs]

    def check(self, query: str, top_k: int, results: list[dict]) -> list[str]:
        fails = []
        keys = [(-r["score"], r["doc_id"]) for r in results]
        if keys != sorted(keys):
            fails.append(f"search {query!r}: not in (score desc, doc_id asc) "
                         "order")
        got = [(r["doc_id"], _r(r["fts_score"]), _r(r["vss_score"]))
               for r in results]
        want = [(d, _r(f), _r(v)) for d, f, v in self.expected(query, top_k)]
        if got != want:
            fails.append(f"search {query!r}: got {got[:3]}... want "
                         f"{want[:3]}... ({len(got)} vs {len(want)} rows)")
        return fails


def _r(v):
    return None if v is None else round(float(v), SCORE_ROUND)
