"""Search over a BUILT index directory — the reference's full search
lifecycle (searcher.py:76-322) against the Parquet index tables.

This is the product surface a reference user lands on: open an index,
issue a query string, get ranked result dicts with the exact field set of
searcher.py:243-255 (doc_id, file_path, header_path, line_start, line_end,
content, score, fts_score, vss_score). All of Q3..Q13 composes into one
lazy plan per query; the index DataFrames persist across queries in the
session (the Spark analogue of the reference's long-lived read-only
connection, cli.py:325).
"""

from __future__ import annotations

import os
from typing import Any

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..config import (FUSION_WEIGHT_SINGLE, SCORE_ROUND, SCORE_THRESHOLD,
                      TOP_K_DEFAULT)
from ..functions.fusion import fuse_scores
from ..functions.vector import cosine_distance, lit_vector
from ..models.embedder import hash_embed_text
from ..models.reranker import cross_encoder_scores
from ..models.tokenizer import tokenize_query
from ..operators.bm25 import bm25_scores
from ..operators.chunker_core import add_path_prefix, trim_path_prefix
from ..utils import round_half_up
from .engine import DISPLAY_COLS  # noqa: F401  (kept for API symmetry)

RESULT_FIELDS = ("doc_id", "file_path", "header_path", "line_start",
                 "line_end", "content", "score", "fts_score", "vss_score")


class DocSearchEngine:
    """Long-lived engine over one index directory."""

    def __init__(self, spark: SparkSession, index_dir: str,
                 embedding_model: str | None = None):
        from ..index.builder import read_meta, resolve_model

        self.spark = spark
        self.index_dir = index_dir
        self.meta = read_meta(index_dir)
        self.model, self.backend, self.dim = resolve_model(
            index_dir, embedding_model
        )
        load = lambda t: spark.read.parquet(f"{index_dir}/{t}")  # noqa: E731
        self.documents = load("documents").persist()
        self.embeddings = load("embeddings").persist()
        self.index = {
            "postings": load("postings").persist(),
            "docfreq": load("docfreq").persist(),
            "docstats": load("docstats").persist(),
            "corpus_stats": load("corpus_stats").persist(),
        }
        # newer indexes carry the denormalized probe table (join-free BM25
        # branch, operators/bm25._matched); older dirs fall back to joins
        if os.path.isdir(os.path.join(index_dir, "postings_scored")):
            self.index["postings_scored"] = load("postings_scored").persist()

    def close(self) -> None:
        """Release the session-held index caches (the engine owns their
        lifecycle; one-shot registered queries never persist at all)."""
        for df in (self.documents, self.embeddings, *self.index.values()):
            df.unpersist()

    def __enter__(self) -> "DocSearchEngine":
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    def _embed_query(self, query: str) -> list[float]:
        if self.backend == "hash":
            return hash_embed_text(query, self.dim)
        from ..models.embedder import _ST_MODELS  # executor/driver cache

        try:  # real model on the driver (Q2, searcher.py:109)
            from sentence_transformers import SentenceTransformer

            m = _ST_MODELS.get(self.model)
            if m is None:
                m = _ST_MODELS[self.model] = SentenceTransformer(self.model)
            return [float(x) for x in m.encode([query])[0]]
        except ImportError:
            return hash_embed_text(query, self.dim)

    def search(self, query: str, top_k: int = TOP_K_DEFAULT,
               rerank: bool = True,
               add_prefix: str | None = None,
               remove_prefix: str | None = None) -> list[dict[str, Any]]:
        qterms = tokenize_query(query, backend=self.meta.get("tokenizer",
                                                            "jp_heuristic"))
        qvec = self._embed_query(query)

        fts = (
            bm25_scores(self.index, qterms)
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(top_k)
            .withColumnRenamed("score", "fts_score")
        )
        vss = (
            self.embeddings.select(
                "doc_id",
                F.round(
                    cosine_distance(F.col("embedding"), lit_vector(qvec)),
                    SCORE_ROUND,
                ).alias("vss_score"),
            )
            .orderBy(F.asc("vss_score"), F.asc("doc_id"))
            .limit(top_k)
        )
        fused = fts.join(vss, "doc_id", "full_outer").withColumn(
            "score",
            F.round(fuse_scores(F.col("fts_score"), F.col("vss_score")),
                    SCORE_ROUND),
        )
        rows = [
            r.asDict()
            for r in fused.join(self.documents, "doc_id").select(
                *[c for c in RESULT_FIELDS if c not in ("score",)],
                "score",
            ).collect()
        ]

        if rerank and rows:
            rows = self._rerank(query, qterms, rows)
        rows.sort(key=lambda r: (-r["score"], r["doc_id"]))
        rows = [r for r in rows if r["score"] > SCORE_THRESHOLD][:top_k]
        for r in rows:
            p = trim_path_prefix(r["file_path"], remove_prefix)
            r["file_path"] = add_path_prefix(p, add_prefix)
        return [{k: r[k] for k in RESULT_FIELDS} for r in rows]

    def search_batch(self, queries: list[str], top_k: int = TOP_K_DEFAULT,
                     rerank: bool = True) -> list[list[dict[str, Any]]]:
        """Bulk search: ALL queries scored in one pair of Spark plans.

        FTS side = one batched postings probe (operators/bm25.bm25_batch_topk
        structure over the persisted index); VSS side = a crossJoin of the
        embeddings table with the broadcast query-vector batch, the cosine
        distance per pair, and a per-query top-k window.
        The reference answers a batch by looping its per-query probe; here
        per-query marginal cost is ~zero once the scan is paid — the shape
        that matters when re-ranking training corpora against thousands of
        probes. Results match per-query `search()` exactly.
        """
        from pyspark.sql import Window

        tok_backend = self.meta.get("tokenizer", "jp_heuristic")
        qterm_rows = [
            (qi, t)
            for qi, q in enumerate(queries)
            for t in sorted(set(tokenize_query(q, backend=tok_backend)))
        ]
        spark = self.spark
        all_terms = sorted({t for _, t in qterm_rows})

        # FTS branch, batched
        postings = self.index["postings"].where(F.col("term").isin(all_terms))
        docfreq = self.index["docfreq"].where(F.col("term").isin(all_terms))
        from ..config import BM25_B, BM25_K1

        if qterm_rows:
            qterms_df = spark.createDataFrame(
                qterm_rows, "query_id int, term string"
            )
            scored = (
                postings.join(F.broadcast(qterms_df), "term")
                .join(F.broadcast(docfreq), "term")
                .join(self.index["docstats"], "doc_id")
                .crossJoin(F.broadcast(self.index["corpus_stats"]))
                .withColumn(
                    "contrib",
                    F.log(
                        F.lit(1.0)
                        + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                        / (F.col("df") + F.lit(0.5))
                    )
                    * F.col("tf") * F.lit(BM25_K1 + 1.0)
                    / (
                        F.col("tf")
                        + F.lit(BM25_K1)
                        * (F.lit(1.0 - BM25_B)
                           + F.lit(BM25_B) * F.col("dl") / F.col("avgdl"))
                    ),
                )
                .groupBy("query_id", "doc_id")
                .agg(F.round(F.sum("contrib"), SCORE_ROUND).alias("fts_score"))
            )
            wf = Window.partitionBy("query_id").orderBy(
                F.desc("fts_score"), F.asc("doc_id")
            )
            fts = (
                scored.withColumn("rn", F.row_number().over(wf))
                .where(F.col("rn") <= top_k)
                .select("query_id", "doc_id", "fts_score")
            )
            fts_rows = fts.collect()
        else:
            fts_rows = []

        # VSS branch, batched: broadcast the query-vector batch against the
        # embeddings scan; round the DISTANCE once, exactly like the
        # single-query path (rounding a rounded similarity double-rounds
        # and diverges in the last digit).
        qvecs = spark.createDataFrame(
            [(qi, self._embed_query(q)) for qi, q in enumerate(queries)],
            "query_id int, q_vec array<float>",
        )
        pair_dist = self.embeddings.crossJoin(F.broadcast(qvecs)).select(
            "query_id",
            "doc_id",
            F.round(
                cosine_distance(F.col("q_vec"), F.col("embedding")),
                SCORE_ROUND,
            ).alias("vss_score"),
        )
        wv = Window.partitionBy("query_id").orderBy(
            F.asc("vss_score"), F.asc("doc_id")
        )
        vss_rows = (
            pair_dist.withColumn("rn", F.row_number().over(wv))
            .where(F.col("rn") <= top_k)
            .select("query_id", "doc_id", "vss_score")
            .collect()
        )

        # fuse + fetch + rerank per query, driver-side over <=2k rows/query
        by_q_fts: dict[int, dict] = {}
        for r in fts_rows:
            by_q_fts.setdefault(r.query_id, {})[r.doc_id] = r.fts_score
        by_q_vss: dict[int, dict] = {}
        for r in vss_rows:
            by_q_vss.setdefault(r.query_id, {})[r.doc_id] = r.vss_score

        all_ids = sorted(
            {d for m in by_q_fts.values() for d in m}
            | {d for m in by_q_vss.values() for d in m}
        )
        docs = {
            r["doc_id"]: r.asDict()
            for r in self.documents.where(
                F.col("doc_id").isin(all_ids)
            ).collect()
        }

        out: list[list[dict[str, Any]]] = []
        for qi, q in enumerate(queries):
            fts_m = by_q_fts.get(qi, {})
            vss_m = by_q_vss.get(qi, {})
            rows = []
            for doc_id in set(fts_m) | set(vss_m):
                f, v = fts_m.get(doc_id), vss_m.get(doc_id)
                score = (
                    round_half_up((f + v) / 2.0, SCORE_ROUND)
                    if f is not None and v is not None
                    else round_half_up(
                        (f if f is not None else v) * FUSION_WEIGHT_SINGLE,
                        SCORE_ROUND,
                    )
                )
                rows.append(
                    {
                        **docs[doc_id],
                        "score": score,
                        "fts_score": f,
                        "vss_score": v,
                    }
                )
            if rerank and rows:
                qterms = tokenize_query(q, backend=tok_backend)
                rows = self._rerank(q, qterms, rows)
            rows.sort(key=lambda r: (-r["score"], r["doc_id"]))
            rows = [r for r in rows if r["score"] > SCORE_THRESHOLD][:top_k]
            out.append([{k: r[k] for k in RESULT_FIELDS} for r in rows])
        return out

    def _rerank(self, query: str, qterms: list[str],
                rows: list[dict[str, Any]]) -> list[dict[str, Any]]:
        """Q11 with the reference's fallback ladder (searcher.py:261-310):
        CrossEncoder if available, else deterministic token overlap; any
        failure keeps the original fused scores."""
        scores = None
        if self.backend == "sentence-transformers":
            scores = cross_encoder_scores(
                query, [r["content"] for r in rows], self.model
            )
        if scores is None:  # deterministic overlap reranker (FIXTURES.md §C)
            qset = set(qterms)
            if not qset:
                return rows
            tok = self.meta.get("tokenizer", "jp_heuristic")
            scores = [
                len(qset & set(tokenize_query(r["content"][:2048], tok)))
                / len(qset)
                for r in rows
            ]
        for r, s in zip(rows, scores):
            r["original_score"] = r["score"]
            r["score"] = round_half_up(float(s), SCORE_ROUND)
        return rows
