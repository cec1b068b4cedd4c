"""Hybrid search — the reference's full query lifecycle as ONE Spark plan.

Reference flow (searcher.py:76-322, traced in SURVEY.md §3.2):
  Q1 tokenize query -> Q2 embed query -> Q3 BM25 top-k -> Q4 cosine top-k ->
  Q5/Q7 candidate merge -> Q8 fusion -> Q6 fetch display cols ->
  Q10 sort -> Q11 rerank -> Q12 threshold(0.01) -> Q13 limit(top_k).

Here Q3..Q13 compose into a single lazy DataFrame: Catalyst pushes the
query-term filter into the postings scan, broadcasts the two <=k-row
candidate sets, and the display-column fetch is a semi-join against the wide
`documents` table that touches only the <=2k candidate row groups. The
driver only computes q_tokens/q_vec (Q1/Q2) — tiny literals bound into the
plan — and collects <=k rows at the end.

Quirks preserved (SURVEY.md §2.6): raw-scale fusion (BM25 desc vs cosine
distance asc), NULL = branch-missing, threshold AFTER rerank, per-branch
top-k AND final top-k.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import SCORE_ROUND, SCORE_THRESHOLD, TOP_K_DEFAULT
from ..functions.fusion import dd_fuse_scores, fuse_scores
from ..functions.vector import cosine_distance, lit_vector
from ..models.embedder import hash_embed_text
from ..models.reranker import dd_overlap_rerank, overlap_rerank_expr
from ..models.tokenizer import tokenize_query
from ..operators.bm25 import (bm25_scores, build_fts_index,
                              dd_bm25_scored_cte, dd_fts_index_ctes)
from ..operators.knn import (cosine_distance_topk, dd_vss_scored_cte,
                              local_topk_scan)

DISPLAY_COLS = ["lang", "source"]


def hybrid_search(docs: DataFrame, embeddings: DataFrame, query: str,
                  top_k: int = TOP_K_DEFAULT, rerank: bool = False,
                  threshold: float = SCORE_THRESHOLD,
                  index: dict[str, DataFrame] | None = None,
                  allowed: DataFrame | None = None,
                  fts_qterms: list[str] | None = None) -> DataFrame:
    """Full hybrid search over (documents, embeddings) driver tables.

    Returns doc_id, score, fts_score, vss_score + display columns, ordered
    by score desc (doc_id tiebreak), <= top_k rows. Pass `index` (e.g. a
    written `index/fts_layout` handle) to probe a prebuilt FTS index
    instead of deriving it in-plan. Pass `allowed` (a doc_id set) to
    pre-filter BOTH branches before their top-k (metadata-filtered
    search: all k results qualify; IDF stays corpus-global).
    """
    # fts_qterms overrides the FTS branch's term set (the BPE analyzer
    # passes the query's subword encoding — §2.6.5 tokenizer identity:
    # the index and the query must use the same analyzer)
    qterms = tokenize_query(query) if fts_qterms is None else fts_qterms
    qvec = hash_embed_text(query)

    if index is None:
        index = build_fts_index(docs)
    fts = bm25_scores(index, qterms)
    vss_corpus = embeddings
    if allowed is not None:
        fts = fts.join(allowed, "doc_id", "left_semi")
        vss_corpus = embeddings.join(
            allowed.select(F.col("doc_id").alias("vec_id")), "vec_id",
            "left_semi",
        )
    fts = (
        fts.orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(top_k)
        .withColumnRenamed("score", "fts_score")
    )
    vss = cosine_distance_topk(vss_corpus, qvec, top_k)

    fused = (
        fts.join(vss, "doc_id", "full_outer")
        .withColumn(
            "score",
            F.round(fuse_scores(F.col("fts_score"), F.col("vss_score")),
                    SCORE_ROUND),
        )
    )

    # Q6 fetch: candidate set is <=2k rows — explicit broadcast guarantees
    # the BroadcastHashJoin shape at any corpus scale (AQE would convert it
    # here, but the hint makes the plan contract unconditional).
    out = F.broadcast(fused).join(docs, "doc_id", "inner")
    if rerank:
        out = out.withColumn(
            "score",
            F.round(overlap_rerank_expr(F.col("text"), qterms), SCORE_ROUND),
        )
    return (
        out.where(F.col("score") > F.lit(threshold))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(top_k)
        .select("doc_id", "score", "fts_score", "vss_score", *DISPLAY_COLS)
    )


def ivf_vss_topk(spark, embeddings: DataFrame, sf_dir: str,
                 qvec: list[float], top_k: int,
                 layout_root: str | None = None) -> DataFrame:
    """VSS branch served from the WRITTEN cell-partitioned IVF layout —
    the vector twin of the postings_scored probe: at 100 TB the full
    embeddings scan of cosine_distance_topk becomes a partition-pruned
    read of the query's NPROBE cells (PartitionFilters on `cell`), so
    scan cost tracks nprobe/n_cells of the corpus. Approximate by
    construction (cells the probe skips can hide true neighbors); the
    oracle carries identical probe semantics, so approximation is pinned,
    not fuzzy. Probe-cell selection is one bounded collect (NPROBE ids)
    off a broadcast centroid scan — same pattern as ivf_partitioned_topk.
    """
    from ..functions.vector import cosine_similarity
    from ..index.ivf_layout import ensure_ivf_layout, probe_cells
    from ..operators.knn import NPROBE, ivf_assign

    # layout_root: synthetic-corpus probes (tools/scale_probe DOC100X)
    # pass a temp root so their layouts never key into the shared
    # warehouse cache
    layout_dir = ensure_ivf_layout(spark, embeddings, sf_dir,
                                   root=layout_root)
    cent, _ = ivf_assign(embeddings)
    top_cells = (
        cent.select(
            "cent_id",
            F.round(
                cosine_similarity(F.col("cvec"), lit_vector(qvec)),
                SCORE_ROUND,
            ).alias("qsim"),
        )
        .orderBy(F.desc("qsim"), F.asc("cent_id"))
        .limit(NPROBE)
    )
    cells = sorted(r.cent_id for r in top_cells.collect())
    return (
        probe_cells(spark, layout_dir, cells)
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(
                cosine_distance(F.col("embedding"), lit_vector(qvec)),
                SCORE_ROUND,
            ).alias("vss_score"),
        )
        .orderBy(F.asc("vss_score"), F.asc("doc_id"))
        .limit(top_k)
    )


def hybrid_search_ivf(spark, docs: DataFrame, embeddings: DataFrame,
                      sf_dir: str, query: str,
                      top_k: int = TOP_K_DEFAULT,
                      threshold: float = SCORE_THRESHOLD,
                      index: dict[str, DataFrame] | None = None,
                      layout_root: str | None = None) -> DataFrame:
    """Hybrid search with BOTH branches served from written layouts:
    BM25 probes the term-range postings_scored layout, VSS probes the
    cell-partitioned IVF layout. Fusion/threshold/ordering identical to
    :func:`hybrid_search`."""
    from ..operators.bm25 import build_fts_index

    qterms = tokenize_query(query)
    qvec = hash_embed_text(query)
    if index is None:
        index = build_fts_index(docs)
    fts = (
        bm25_scores(index, qterms)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(top_k)
        .withColumnRenamed("score", "fts_score")
    )
    vss = ivf_vss_topk(spark, embeddings, sf_dir, qvec, top_k,
                       layout_root=layout_root)
    fused = fts.join(vss, "doc_id", "full_outer").withColumn(
        "score",
        F.round(fuse_scores(F.col("fts_score"), F.col("vss_score")),
                SCORE_ROUND),
    )
    return (
        F.broadcast(fused).join(docs, "doc_id", "inner")
        .where(F.col("score") > F.lit(threshold))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(top_k)
        .select("doc_id", "score", "fts_score", "vss_score", *DISPLAY_COLS)
    )


def dd_hybrid_search_ivf_sql(query: str, top_k: int = TOP_K_DEFAULT,
                             threshold: float = SCORE_THRESHOLD) -> str:
    """Oracle for :func:`hybrid_search_ivf` — same hybrid scaffold with
    the IVF-probed vss CTE swapped in."""
    from ..operators.knn import dd_ivf_vss_cte

    qterms = tokenize_query(query)
    qvec = hash_embed_text(query)
    score_expr = dd_fuse_scores("m.fts_score", "m.vss_score")
    display = ", ".join(f"d.{c}" for c in DISPLAY_COLS)
    return f"""
WITH {dd_fts_index_ctes()},
{dd_bm25_scored_cte(qterms)},
fts_topk AS (
  SELECT doc_id, score AS fts_score FROM bm25_scored
  ORDER BY score DESC, doc_id ASC LIMIT {top_k}
),
{dd_ivf_vss_cte(qvec, top_k)},
merged AS (
  SELECT doc_id, f.fts_score, v.vss_score
  FROM fts_topk f FULL OUTER JOIN vss_scored v USING (doc_id)
)
SELECT m.doc_id, round({score_expr}, {SCORE_ROUND}) AS score,
       m.fts_score, m.vss_score, {display}
FROM merged m JOIN documents d USING (doc_id)
WHERE round({score_expr}, {SCORE_ROUND}) > {threshold}
ORDER BY score DESC, m.doc_id ASC LIMIT {top_k}
""".strip()


def dd_hybrid_search_sql(query: str, top_k: int = TOP_K_DEFAULT,
                         rerank: bool = False,
                         threshold: float = SCORE_THRESHOLD,
                         lang: str | None = None) -> str:
    """DuckDB oracle for :func:`hybrid_search` over the same parquet views.

    `lang` mirrors the engine's `allowed` pre-filter: both branches are
    restricted before their top-k (one oracle builder for every hybrid
    variant, so fusion semantics cannot silently diverge between them).
    """
    qterms = tokenize_query(query)
    qvec = hash_embed_text(query)
    score_expr = (
        dd_overlap_rerank("d.text", qterms)
        if rerank
        else dd_fuse_scores("m.fts_score", "m.vss_score")
    )
    display = ", ".join(f"d.{c}" for c in DISPLAY_COLS)
    allowed_cte = fts_filter = ""
    emb_table = "embeddings"
    if lang is not None:
        allowed_cte = (
            f"allowed AS (SELECT doc_id FROM documents "
            f"WHERE lang = '{lang}'),\n"
        )
        fts_filter = "  WHERE doc_id IN (SELECT doc_id FROM allowed)\n"
        emb_table = (
            "(SELECT e.* FROM embeddings e JOIN allowed a "
            "ON e.vec_id = a.doc_id)"
        )
    return f"""
WITH {dd_fts_index_ctes()},
{dd_bm25_scored_cte(qterms)},
{allowed_cte}fts_topk AS (
  SELECT doc_id, score AS fts_score FROM bm25_scored
{fts_filter}  ORDER BY score DESC, doc_id ASC LIMIT {top_k}
),
{dd_vss_scored_cte(qvec, top_k, table=emb_table)},
merged AS (
  SELECT doc_id, f.fts_score, v.vss_score
  FROM fts_topk f FULL OUTER JOIN vss_scored v USING (doc_id)
)
SELECT m.doc_id, round({score_expr}, {SCORE_ROUND}) AS score,
       m.fts_score, m.vss_score, {display}
FROM merged m JOIN documents d USING (doc_id)
WHERE round({score_expr}, {SCORE_ROUND}) > {threshold}
ORDER BY score DESC, m.doc_id ASC LIMIT {top_k}
""".strip()


def dd_hybrid_search_bpe_sql(query: str, top_k: int = TOP_K_DEFAULT,
                             threshold: float = SCORE_THRESHOLD) -> str:
    """Oracle for the BPE-analyzed hybrid variant: the FTS branch's
    bm25_scored comes from operators/bpe.dd_bpe_bm25_ctes (merges
    derived + recursive encode, the bm25_bpe_topk machinery); fusion /
    threshold / fetch are byte-identical to dd_hybrid_search_sql."""
    from ..operators.bpe import dd_bpe_bm25_ctes

    qvec = hash_embed_text(query)
    score_expr = dd_fuse_scores("m.fts_score", "m.vss_score")
    display = ", ".join(f"d.{c}" for c in DISPLAY_COLS)
    return f"""
WITH RECURSIVE
{dd_bpe_bm25_ctes(query)},
fts_topk AS (
  SELECT doc_id, score AS fts_score FROM bm25_scored
  ORDER BY score DESC, doc_id ASC LIMIT {top_k}
),
{dd_vss_scored_cte(qvec, top_k)},
merged AS (
  SELECT doc_id, f.fts_score, v.vss_score
  FROM fts_topk f FULL OUTER JOIN vss_scored v USING (doc_id)
)
SELECT m.doc_id, round({score_expr}, {SCORE_ROUND}) AS score,
       m.fts_score, m.vss_score, {display}
FROM merged m JOIN documents d USING (doc_id)
WHERE round({score_expr}, {SCORE_ROUND}) > {threshold}
ORDER BY score DESC, m.doc_id ASC LIMIT {top_k}
""".strip()


def hybrid_search_batch(docs: DataFrame, embeddings: DataFrame,
                        queries: list[str],
                        top_k: int = TOP_K_DEFAULT,
                        threshold: float = SCORE_THRESHOLD,
                        index: dict[str, DataFrame] | None = None,
                        rerank: bool = False) -> DataFrame:
    """A whole query batch through the FULL hybrid lifecycle in ONE
    plan — no driver-side fusion loop (unlike DocSearchEngine.
    search_batch, whose per-query rerank forces collects): the FTS
    side is one term-pruned postings probe scoring every query
    (operators/bm25.bm25_batch_topk_from_index), the VSS side one
    local_topk_scan of the query-vector batch over the embeddings,
    fusion a composite-key full-outer join, fetch one broadcast join
    against documents, and the per-query threshold + top-k a single
    window. Per-query results equal hybrid_search(query) exactly (same
    fusion/threshold/tie-break constants, same lit-vector double
    precision) — the UNION-of-singles oracle hash-gates that equality
    on every driver rotation, not just in pytest (r12 VERDICT #7: the
    3.5-4.9x batch amortization lived only in PERF_NOTES).

    Output: query_id, doc_id, score, fts_score, vss_score + display
    columns, <= top_k rows per query."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql import types as T

    from ..operators.bm25 import bm25_batch_topk_from_index

    if index is None:
        index = build_fts_index(docs)
    fts = bm25_batch_topk_from_index(index, queries, top_k).select(
        "query_id", "doc_id", F.col("score").alias("fts_score")
    )
    # VSS: rounded cosine distance with double-precision query vectors,
    # as the single path binds them
    qside = (
        T.StructType([T.StructField("query_id", T.IntegerType()),
                      T.StructField("q_vec", T.ArrayType(T.DoubleType()))]),
        pd.DataFrame({"query_id": range(len(queries)),
                      "q_vec": [hash_embed_text(q) for q in queries]}),
    )

    def scorer(Q, qpdf):
        qnorm = np.sqrt((Q * Q).sum(axis=1))
        return lambda X, pdf: (np.round(
            1.0 - (X @ Q.T)
            / (np.sqrt((X * X).sum(axis=1))[:, None] * qnorm[None, :]),
            SCORE_ROUND,
        ), None)

    vss = local_topk_scan(
        embeddings.select(F.col("vec_id").alias("doc_id"), "embedding"),
        "doc_id", "embedding", qside, scorer, top_k, ascending=True,
        score_col="vss_score", op="hybrid_search_batch",
    ).select("query_id", "doc_id", "vss_score")
    fused = fts.join(vss, ["query_id", "doc_id"], "full_outer").withColumn(
        "score",
        F.round(fuse_scores(F.col("fts_score"), F.col("vss_score")),
                SCORE_ROUND),
    )
    out = F.broadcast(fused).join(docs, "doc_id", "inner")
    if rerank:
        # per-query token-overlap rerank IN-PLAN (the single path's
        # overlap_rerank_expr with per-query term sets joined in —
        # unlike DocSearchEngine.search_batch, no driver-side loop):
        # score <- |distinct_tokens(text[:2048]) ∩ qterms| / |qterms|,
        # replacing the fused score BEFORE threshold/top-k, exactly as
        # hybrid_search(rerank=True) orders the steps
        from ..functions.text import tokenize as text_tokenize
        from ..models.reranker import RERANK_TRUNCATE_CHARS

        spark = docs.sparkSession
        qrows = [
            (qi, sorted(set(tokenize_query(q))))
            for qi, q in enumerate(queries)
        ]
        qdf = spark.createDataFrame(
            qrows, "query_id int, qterms array<string>")
        truncated = F.substring(F.col("text"), 1, RERANK_TRUNCATE_CHARS)
        overlap = F.when(
            F.size("qterms") > 0,
            F.size(F.array_intersect(
                F.array_distinct(text_tokenize(truncated)),
                F.col("qterms"),
            )).cast("double") / F.size("qterms").cast("double"),
        ).otherwise(F.lit(0.0))
        out = (
            out.join(F.broadcast(qdf), "query_id")
            .withColumn("score", F.round(overlap, SCORE_ROUND))
        )
    wq = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id"))
    return (
        out
        .where(F.col("score") > F.lit(threshold))
        .withColumn("rn", F.row_number().over(wq))
        .where(F.col("rn") <= top_k)
        .select("query_id", "doc_id", "score", "fts_score", "vss_score",
                *DISPLAY_COLS)
        .orderBy("query_id", F.desc("score"), F.asc("doc_id"))
    )


def dd_hybrid_search_batch_sql(queries: list[str],
                               top_k: int = TOP_K_DEFAULT,
                               threshold: float = SCORE_THRESHOLD,
                               rerank: bool = False) -> str:
    """Oracle for :func:`hybrid_search_batch`: the UNION ALL of the
    per-query single-search oracles keyed by query id — batch == the
    singles, hash-gated by the driver (one oracle builder per query via
    dd_hybrid_search_sql, so batch fusion — and with ``rerank``, the
    overlap-rerank ladder — cannot silently diverge from the single
    path)."""
    parts = [
        f"SELECT {qi} AS query_id, * FROM (\n"
        f"{dd_hybrid_search_sql(q, top_k, rerank=rerank, threshold=threshold)}\n)"
        for qi, q in enumerate(queries)
    ]
    return "\nUNION ALL\n".join(parts)


def hybrid_search_filtered(docs: DataFrame, embeddings: DataFrame,
                           query: str, lang: str,
                           top_k: int = TOP_K_DEFAULT,
                           threshold: float = SCORE_THRESHOLD,
                           index: dict[str, DataFrame] | None = None
                           ) -> DataFrame:
    """Hybrid search restricted to documents with a given metadata value
    (lang) — the filtered-search shape every production engine serves.

    The filter lands BEFORE each branch's top-k (pre-filtering), so all
    k results satisfy it; post-filtering a top-k would return fewer than
    k (or zero) rows whenever the filter is selective. BM25 stats stay
    corpus-global (the standard choice: IDF describes the corpus, the
    filter restricts candidates). Thin wrapper over :func:`hybrid_search`
    with `allowed` = the lang-filtered id set — fusion/threshold/
    tie-break semantics live in exactly one place.
    """
    return hybrid_search(
        docs, embeddings, query, top_k, rerank=False, threshold=threshold,
        index=index, allowed=docs.where(F.col("lang") == lang)
        .select("doc_id"),
    )


def dd_hybrid_search_filtered_sql(query: str, lang: str,
                                  top_k: int = TOP_K_DEFAULT,
                                  threshold: float = SCORE_THRESHOLD) -> str:
    """DuckDB oracle for :func:`hybrid_search_filtered` — delegates to the
    single hybrid oracle builder."""
    return dd_hybrid_search_sql(query, top_k, rerank=False,
                                threshold=threshold, lang=lang)
