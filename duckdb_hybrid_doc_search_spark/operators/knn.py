"""Exact cosine kNN and corpus-to-corpus similarity joins.

Replaces the reference's HNSW probe (`array_cosine_distance(embedding, ?)
ORDER BY score ASC LIMIT ?`, searcher.py:127-143) with an exact scan: a
whole-stage-codegen'd dot-product expression over a NARROW embeddings table
(doc_id + vector only — §4.3 layout keeps 100 TB of `content` out of this
scan), then TakeOrderedAndProject top-k. Embarrassingly parallel: each
partition scores independently, only (k x partitions) rows reach the driver.

The 1-vs-N query probe generalizes to the M-vs-N similarity join (SURVEY.md
§2.4 extension): broadcast the smaller side, score per pair, per-query top-k
via window row_number — the scale path for ANN (IVF/LSH bucketing) lives in
operators/dedup.py (LSH) and can pre-bucket both sides of this join.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..config import SCORE_ROUND
from ..functions import vector as V


def cosine_distance_topk(embeddings: DataFrame, query_vec: Sequence[float],
                         k: int, id_col: str = "vec_id",
                         vec_col: str = "embedding") -> DataFrame:
    """(doc_id, vss_score=cosine DISTANCE) ascending top-k — Q4 semantics."""
    qv = V.lit_vector(query_vec)
    return (
        embeddings.select(
            F.col(id_col).alias("doc_id"),
            F.round(V.cosine_distance(F.col(vec_col), qv), SCORE_ROUND).alias(
                "vss_score"
            ),
        )
        .orderBy(F.asc("vss_score"), F.asc("doc_id"))
        .limit(k)
    )


# Most query rows one top-k scan takes. Every Arrow batch of the corpus
# (spark.sql.execution.arrow.maxRecordsPerBatch = 4096 rows, session.py)
# holds a float64 score block of 4096 x Q x 8 bytes in its Python worker:
# 4096 queries make that 128 MiB (256 MiB for matryoshka_recall's two
# blocks), next to the batch itself and its Q x k local candidates.
MAX_SCAN_QUERIES = 4096


def as_matrix(vectors):
    """float64 [n, dim] matrix of a pandas Series of vectors (an Arrow
    list column of a scan batch, or a collected query side)."""
    import numpy as np

    return np.array(vectors.tolist(), dtype=np.float64)


def rounded_cosine(X, Q, qnorm=None):
    """[n, q] cosine of every row of X with every row of Q, rounded at
    SCORE_ROUND — the GEMM form of the oracles' round(cosine, SCORE_ROUND),
    value-identical to it. ``qnorm`` is Q's row norms, if precomputed."""
    import numpy as np

    if qnorm is None:
        qnorm = np.sqrt((Q * Q).sum(axis=1))
    return np.round(
        (X @ Q.T) / (np.sqrt((X * X).sum(axis=1))[:, None] * qnorm[None, :]),
        SCORE_ROUND,
    )


def probe_cells_per_query(Q, C, cent_ids, nprobe: int):
    """[q, min(nprobe, n_cent)] ids of each query's probe cells: the top
    ``nprobe`` centroids by (rounded cosine desc, cent_id asc) — the
    oracle window's ordering, by a stable argsort over the cid-sorted
    centroid matrix ``C``."""
    import numpy as np

    take = min(nprobe, len(cent_ids))
    order = np.argsort(-rounded_cosine(Q, C), axis=1, kind="stable")
    return cent_ids[order[:, :take]]


def collect_centroids(cent: DataFrame) -> tuple:
    """(C, cent_ids) of a bounded (cent_id, cvec) centroid table on the
    driver, sorted by cent_id so first-max argmax ties to the lower id."""
    import numpy as np

    rows = sorted(cent.select("cent_id", "cvec").collect(),
                  key=lambda r: r["cent_id"])
    C = np.array([[float(x) for x in r["cvec"]] for r in rows],
                 dtype=np.float64)
    return C, np.array([int(r["cent_id"]) for r in rows], dtype=np.int64)


def collect_queries(queries: DataFrame) -> tuple:
    """The query side of a top-k scan on the driver: ``queries``' schema
    and a pandas frame of its (id, vector, *payload) rows sorted by id.
    At most MAX_SCAN_QUERIES + 1 rows are fetched, so local_topk_scan
    can refuse an oversized side without collecting all of it."""
    import pandas as pd

    rows = queries.limit(MAX_SCAN_QUERIES + 1).collect()
    rows.sort(key=lambda r: r[0])
    return queries.schema, pd.DataFrame.from_records(
        [tuple(r) for r in rows], columns=queries.columns)


def local_topk_scan(corpus: DataFrame, id_col: str, vec_col: str,
                    queries: tuple, scorer, k: int, ascending: bool,
                    score_col: str, op: str) -> DataFrame:
    """Top-k corpus rows per query by (score, ``id_col`` asc) in one
    Arrow-GEMM pass over ``corpus`` plus one window — the scan behind
    the exact kNN, PQ / IVF-PQ, IVF-layout and hybrid-batch top-k
    operators.

    ``queries`` is (schema, frame) as collect_queries returns it: columns
    (id, vector, *payload), at most MAX_SCAN_QUERIES rows (more raise
    ValueError naming ``op``). ``scorer(Q, qpdf)`` sees the query matrix
    and frame once on the driver and returns ``score_batch(X, pdf) ->
    (scores[n, q], keep[n, q] | None)`` for one scan batch: its vectors
    ``X`` and its pandas frame. Only kept pairs are candidates.

    Each batch emits its LOCAL top-k per query by the exact global
    ordering (score, id asc), by a lexsort so ties fall to the
    lower id. The global top-k is a subset of the union of the local
    ones, so the final row_number window over (score, id) per query id
    ranks Q x k x n_batches candidates and selects exactly the rows a
    window over all N x Q pairs would.

    ``corpus`` holds ``id_col``, ``vec_col`` and the payload columns to
    carry. Output: query id and payload, ``id_col`` and the corpus
    payload, ``score_col``, ``rank``."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    schema, qpdf = queries
    if len(qpdf) > MAX_SCAN_QUERIES:
        raise ValueError(
            f"{op}: the query side has more than MAX_SCAN_QUERIES="
            f"{MAX_SCAN_QUERIES} rows; split it into smaller batches")
    q_id, q_vec, *q_cols = schema.names
    c_cols = [c for c in corpus.columns if c not in (id_col, vec_col)]
    out_schema = T.StructType(
        [schema[c] for c in (q_id, *q_cols)]
        + [corpus.schema[c] for c in (id_col, *c_cols)]
        + [T.StructField(score_col, T.DoubleType())]
    )
    if not len(qpdf):
        pairs = corpus.sparkSession.createDataFrame([], out_schema)
    else:
        score_batch = scorer(as_matrix(qpdf[q_vec]), qpdf)
        q_out = {c: qpdf[c].to_numpy() for c in (q_id, *q_cols)}

        def fn(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                scores, keep = score_batch(as_matrix(pdf[vec_col]), pdf)
                ids = pdf[id_col].to_numpy()
                key = scores if ascending else -scores
                rows = np.arange(len(ids))
                qi, ci = [], []
                for j in range(len(qpdf)):
                    cand = rows if keep is None else rows[keep[:, j]]
                    sel = cand[np.lexsort((ids[cand], key[cand, j]))[:k]]
                    qi.append(np.full(len(sel), j, dtype=np.int64))
                    ci.append(sel)
                qi = np.concatenate(qi)
                ci = np.concatenate(ci)
                out = {c: v[qi] for c, v in q_out.items()}
                out.update({c: pdf[c].to_numpy()[ci]
                            for c in (id_col, *c_cols)})
                out[score_col] = scores[ci, qi]
                yield pd.DataFrame(out)

        pairs = corpus.mapInPandas(fn, out_schema)
    order = F.asc(score_col) if ascending else F.desc(score_col)
    w = Window.partitionBy(q_id).orderBy(order, F.asc(id_col))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def cosine_scorer(Q, qpdf):
    """The local_topk_scan scorer of plain cosine kNN: rounded cosine,
    every pair kept."""
    return lambda X, pdf: (rounded_cosine(X, Q), None)


def knn_join(queries: DataFrame, corpus: DataFrame, k: int,
             q_id: str = "q_id", q_vec: str = "q_vec",
             c_id: str = "c_id", c_vec: str = "c_vec") -> DataFrame:
    """Brute-force top-k neighbors per query row (higher similarity first).

    The queries side is bounded by contract (a batch of probe vectors,
    collected to the driver); the corpus streams once through
    local_topk_scan. Output: q_id, c_id, cos_sim, rank.
    """
    return local_topk_scan(
        corpus.select(c_id, c_vec), c_id, c_vec,
        collect_queries(queries.select(q_id, q_vec)), cosine_scorer, k,
        ascending=False, score_col="cos_sim", op="knn_join")


CENTROID_MOD = 50   # deterministic centroid pick: vec_id % CENTROID_MOD == 0
NLIST_MIN = 16      # nlist floor: tiny corpora keep a useful cell count
NPROBE = 2


def derive_nlist(n: int) -> int:
    """nlist ~ sqrt(N), floored at NLIST_MIN — the standard IVF sizing
    rule (FAISS guidance: nlist between sqrt(N) and 16*sqrt(N)), chosen
    ONCE at index-build time from the corpus count and then FROZEN in
    the layout meta (appends assign against the build's centroid set;
    re-deriving is a rebuild). A probe reading NPROBE/nlist of the
    corpus then shrinks as the corpus grows — the r9 VERDICT's point
    that a fixed 16-cell index gives only a constant-factor discount at
    100 TB, not an index. math.isqrt, not floor(sqrt()): exact at the
    >2^52 counts where double sqrt rounds across integer boundaries
    (same rule as dedup.semdedup_mod; the oracle twin corrects the
    double guess by integer comparison — dd_nlist_scalar)."""
    import math

    return max(NLIST_MIN, math.isqrt(n))


def centroid_pred(id_col, nlist: int):
    """The deterministic IVF centroid-sample predicate, shared by every
    IVF variant (query-time assign, written cell layout, IVF-PQ, append
    path). Every CENTROID_MOD-th vector, capped at ``nlist`` centroids.
    ``nlist`` comes from derive_nlist(corpus count) at build time and is
    persisted in the layout meta — frozen thereafter, so assignment is
    O(N*nlist) with an O(sqrt(N))-size centroid broadcast and the cell
    definition never drifts under appends. Without a cap the centroid
    set is N/CENTROID_MOD rows: the assignment crossJoin is O(N^2/mod)
    and the broadcast side grows linearly with the corpus — at 100 TB it
    does not fit. A trained centroid set plugs into the same seam via
    embeddings_kmeans_train."""
    return (F.col(id_col) % CENTROID_MOD == 0) & (
        F.col(id_col) < CENTROID_MOD * nlist
    )


def dd_nlist_scalar(table: str = "embeddings") -> str:
    """Scalar-subquery twin of derive_nlist(count(table)) — EXACT integer
    sqrt: the double guess is corrected over +-2 by integer comparison
    (g*g <= n), so counts where float sqrt rounds across an integer
    boundary still match Python's math.isqrt (the dd_semdedup_sql
    stride pattern, proven oracle-safe since r8)."""
    return (
        f"(SELECT greatest({NLIST_MIN}, max(g)) FROM ("
        f"SELECT n, unnest(generate_series("
        f"greatest(CAST(floor(sqrt(n)) AS BIGINT) - 2, 0), "
        f"CAST(floor(sqrt(n)) AS BIGINT) + 2)) AS g "
        f"FROM (SELECT count(*)::BIGINT AS n FROM {table})"
        f") WHERE g * g <= n)"
    )


def dd_centroid_pred(id_col: str, table: str = "embeddings") -> str:
    """DuckDB twin of centroid_pred with the derived nlist — must stay
    token-equivalent (same modulus, same cap arithmetic)."""
    return (f"{id_col} % {CENTROID_MOD} = 0 "
            f"AND {id_col} < {CENTROID_MOD} * {dd_nlist_scalar(table)}")


def assign_to_centroids(vecs: DataFrame, cent: DataFrame,
                        p: int = 1, with_sim: bool = False,
                        keep_vec: bool = False) -> DataFrame:
    """(c_id, cell): nearest-centroid assignment by cosine, tie -> lower
    centroid id. `vecs` has (c_id, c_vec); `cent` has (cent_id, cvec) and
    is broadcast. The SINGLE source of the assignment rule — build-time
    assignment (ivf_assign) and incremental appends
    (index/ivf_layout.append_ivf_vectors) must use the same rounding and
    tie-break or appended cells drift from built cells.

    ``p`` > 1 keeps each vector's top-p cells (one row per cell) — the
    MULTI-PROBE assignment the cell-bucketed dedup layout persists
    (r11 VERDICT #2: single-probe assignment loses near-dup pairs at
    cell boundaries; top-2 assignment recovers most of them at a
    bounded p^2 pair-space factor). The rank-1 row of a p>1 call is
    identical to the p=1 call by construction (same ordering, same
    tie-break), so probe layouts and dedup layouts never disagree on a
    vector's primary cell.

    r14: one Arrow-GEMM pass over the vectors with the centroid table
    collected to the driver (the same bounded ~sqrt(N) rows the old
    crossJoin broadcast shipped) replaces the N x nlist row
    materialization + per-vector row_number window — the window's
    exchange+sort was the dominant cost of every IVF build at test
    scale and carries N x nlist rows at any scale. Same rule to the
    bit that matters: csim rounded at SCORE_ROUND, argmax ties to the
    LOWER cent_id (centroids are cid-sorted; first-max / stable
    argsort), pinned value-identical to the window form at sf0.001/
    0.01/0.1 and re-verified against every downstream oracle.

    ``with_sim`` adds the kept cell's rounded cosine as ``csim`` and
    ``keep_vec`` passes the vector through — the SemDeDup keep rule
    needs both, and emitting them here keeps the assignment rule in
    this one function instead of a second crossJoin+window plan."""
    import numpy as np
    import pandas as pd

    C, cids = collect_centroids(cent)
    cnorm = np.sqrt((C * C).sum(axis=1))
    take = min(p, len(cids))

    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            sims = rounded_cosine(as_matrix(pdf["c_vec"]), C, cnorm)
            if take == 1:
                best = sims.argmax(axis=1)  # first max = lowest cent_id
                out = {
                    "c_id": pdf["c_id"].to_numpy(),
                    "cell": cids[best],
                }
                if with_sim:
                    out["csim"] = sims[np.arange(len(best)), best]
            else:
                idx = np.argsort(-sims, axis=1, kind="stable")[:, :take]
                out = {
                    "c_id": np.repeat(pdf["c_id"].to_numpy(), take),
                    "cell": cids[idx].ravel(),
                }
                if with_sim:
                    out["csim"] = np.take_along_axis(sims, idx, 1).ravel()
            if keep_vec:
                reps = 1 if take == 1 else take
                vec = pdf["c_vec"]
                out["c_vec"] = (vec if reps == 1
                                else vec.repeat(reps).reset_index(drop=True))
            yield pd.DataFrame(out)

    schema = "c_id long, cell long"
    if with_sim:
        schema += ", csim double"
    if keep_vec:
        schema += ", c_vec array<double>"
    return vecs.select("c_id", "c_vec").mapInPandas(fn, schema)


def ivf_assign(emb: DataFrame, id_col: str = "vec_id",
               vec_col: str = "embedding",
               nlist: int | None = None,
               p: int = 1) -> tuple[DataFrame, DataFrame]:
    """(centroids, assignments) for the IVF index.

    Centroids are a deterministic subsample (centroid_pred — every
    CENTROID_MOD-th id, capped at nlist centroids; a k-means stand-in
    that keeps the oracle exact). ``nlist`` defaults to
    derive_nlist(emb.count()) — one bounded scalar action, the same
    count the oracle computes as a scalar subquery; layout builders over
    a PARTIAL frame (the append-layout 80% base) must pass the
    full-corpus nlist explicitly or append equivalence breaks. Every
    vector is assigned to its nearest centroid by cosine (tie -> lower
    centroid id); ``p`` > 1 keeps the top-p cells per vector (the
    multi-probe dedup assignment — see assign_to_centroids). The
    centroid set is ~sqrt(N) rows and broadcast; assignment is one
    scan. THE single source of the sample-centroid derivation — the
    dedup bucketing and the written layouts must not re-implement it
    (r12 review: drift between copies silently corrupts cell
    membership)."""
    if nlist is None:
        nlist = derive_nlist(emb.count())
    cent = emb.where(centroid_pred(id_col, nlist)).select(
        F.col(id_col).alias("cent_id"), F.col(vec_col).alias("cvec")
    )
    assign = assign_to_centroids(
        emb.select(F.col(id_col).alias("c_id"), F.col(vec_col).alias("c_vec")),
        cent,
        p=p,
    )
    return cent, assign


def _ivf_probe_topk(emb: DataFrame, cent: DataFrame, assign: DataFrame,
                    k: int, n_queries: int, id_col: str,
                    vec_col: str) -> DataFrame:
    """The IVF probe given an arbitrary (cent_id, cvec) centroid table
    and its (c_id, cell) assignment — shared by the deterministic-sample
    index (ivf_topk) and the kmeans-trained variant (ivf_kmeans_recall):
    the centroid SOURCE is a pluggable seam, the probe plan is one."""
    queries = emb.where(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
    )
    qc = queries.crossJoin(F.broadcast(cent)).select(
        "q_id", "q_vec", "cent_id",
        F.round(V.cosine_similarity(F.col("q_vec"), F.col("cvec")),
                SCORE_ROUND).alias("qsim"),
    )
    wq = Window.partitionBy("q_id").orderBy(F.desc("qsim"), F.asc("cent_id"))
    probes = (
        qc.withColumn("rn", F.row_number().over(wq))
        .where(F.col("rn") <= NPROBE)
        .select("q_id", "q_vec", F.col("cent_id").alias("cell"))
    )
    cand = probes.join(assign, "cell").join(
        emb.select(F.col(id_col).alias("c_id"), F.col(vec_col).alias("c_vec")),
        "c_id",
    )
    scored = cand.select(
        "q_id", "c_id",
        F.round(V.cosine_similarity(F.col("q_vec"), F.col("c_vec")),
                SCORE_ROUND).alias("cos_sim"),
    )
    wk = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("c_id"))
    return (
        scored.withColumn("rank", F.row_number().over(wk))
        .where(F.col("rank") <= k)
    )


def ivf_topk(emb: DataFrame, k: int, n_queries: int = 10,
             id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """IVF-bucketed ANN: probe the NPROBE nearest cells per query, exact
    top-k inside the probed cells only — the 100 TB scale path where the
    full-corpus scan of cosine_distance_topk is replaced by reading ~
    nprobe/n_cells of the data. Approximate by construction; recall vs the
    exact scan is a quality metric, not a correctness bug (flagged, not
    hidden — SURVEY.md §4.1)."""
    cent, assign = ivf_assign(emb, id_col, vec_col)
    return _ivf_probe_topk(emb, cent, assign, k, n_queries, id_col, vec_col)


# --- DuckDB oracle SQL ------------------------------------------------------


def dd_ivf_topk_sql(k: int, n_queries: int = 10, table: str = "embeddings",
                    id_col: str = "vec_id", vec_col: str = "embedding") -> str:
    csim = V.dd_cosine_similarity("e.c_vec", "c.cvec")
    qsim = V.dd_cosine_similarity("q.q_vec", "c.cvec")
    sim = V.dd_cosine_similarity("p.q_vec", "e2.c_vec")
    return f"""
WITH cent AS (
  SELECT {id_col} AS cent_id, {vec_col} AS cvec FROM {table}
  WHERE {dd_centroid_pred(id_col, table)}
),
e AS (SELECT {id_col} AS c_id, {vec_col} AS c_vec FROM {table}),
assign AS (
  SELECT c_id, cent_id AS cell FROM (
    SELECT e.c_id, c.cent_id,
           row_number() OVER (PARTITION BY e.c_id
             ORDER BY round({csim}, {SCORE_ROUND}) DESC, c.cent_id ASC) AS rn
    FROM e CROSS JOIN cent c
  ) WHERE rn = 1
),
q AS (SELECT {id_col} AS q_id, {vec_col} AS q_vec FROM {table}
      WHERE {id_col} < {n_queries}),
probes AS (
  SELECT q_id, q_vec, cent_id AS cell FROM (
    SELECT q.q_id, q.q_vec, c.cent_id,
           row_number() OVER (PARTITION BY q.q_id
             ORDER BY round({qsim}, {SCORE_ROUND}) DESC, c.cent_id ASC) AS rn
    FROM q CROSS JOIN cent c
  ) WHERE rn <= {NPROBE}
),
scored AS (
  SELECT p.q_id, a.c_id, round({sim}, {SCORE_ROUND}) AS cos_sim
  FROM probes p JOIN assign a ON p.cell = a.cell
  JOIN e e2 ON e2.c_id = a.c_id
)
SELECT q_id, c_id, cos_sim, rank FROM (
  SELECT q_id, c_id, cos_sim,
         row_number() OVER (PARTITION BY q_id
           ORDER BY cos_sim DESC, c_id ASC) AS rank
  FROM scored
) WHERE rank <= {k}
""".strip()


def dd_cosine_distance_topk_sql(query_vec: Sequence[float], k: int,
                                table: str = "embeddings",
                                id_col: str = "vec_id",
                                vec_col: str = "embedding") -> str:
    qv = V.dd_lit_vector(query_vec)
    dist = V.dd_cosine_distance(vec_col, qv)
    return f"""
SELECT {id_col} AS doc_id, round({dist}, {SCORE_ROUND}) AS vss_score
FROM {table}
ORDER BY vss_score ASC, doc_id ASC LIMIT {k}
""".strip()


def dd_vss_scored_cte(query_vec: Sequence[float], k: int,
                      table: str = "embeddings", id_col: str = "vec_id",
                      vec_col: str = "embedding") -> str:
    qv = V.dd_lit_vector(query_vec)
    dist = V.dd_cosine_distance(vec_col, qv)
    return f"""
vss_scored AS (
  SELECT {id_col} AS doc_id, round({dist}, {SCORE_ROUND}) AS vss_score
  FROM {table}
  ORDER BY vss_score ASC, doc_id ASC LIMIT {k}
)
""".strip()


def dd_ivf_vss_cte(query_vec: Sequence[float], k: int,
                   table: str = "embeddings", id_col: str = "vec_id",
                   vec_col: str = "embedding") -> str:
    """``vss_scored`` CTE with IVF-probe semantics for ONE literal query
    vector: assign every corpus vector to its nearest deterministic
    centroid, pick the query's NPROBE nearest cells, and rank distances
    only inside those cells — the SQL twin of the partition-pruned probe
    over the written ``index/ivf_layout`` (same rounding and tie rules as
    :func:`dd_ivf_topk_sql`)."""
    qv = V.dd_lit_vector(query_vec)
    csim = V.dd_cosine_similarity("e.c_vec", "c.cvec")
    qsim = V.dd_cosine_similarity("c.cvec", qv)
    dist = V.dd_cosine_distance("e.c_vec", qv)
    return f"""
cent AS (
  SELECT {id_col} AS cent_id, {vec_col} AS cvec FROM {table}
  WHERE {dd_centroid_pred(id_col, table)}
),
e AS (SELECT {id_col} AS c_id, {vec_col} AS c_vec FROM {table}),
assign AS (
  SELECT c_id, cent_id AS cell FROM (
    SELECT e.c_id, c.cent_id,
           row_number() OVER (PARTITION BY e.c_id
             ORDER BY round({csim}, {SCORE_ROUND}) DESC, c.cent_id ASC) AS rn
    FROM e CROSS JOIN cent c
  ) WHERE rn = 1
),
probe AS (
  SELECT cent_id FROM cent c
  ORDER BY round({qsim}, {SCORE_ROUND}) DESC, cent_id ASC LIMIT {NPROBE}
),
vss_scored AS (
  SELECT e.c_id AS doc_id, round({dist}, {SCORE_ROUND}) AS vss_score
  FROM e JOIN assign a USING (c_id)
  WHERE a.cell IN (SELECT cent_id FROM probe)
  ORDER BY vss_score ASC, doc_id ASC LIMIT {k}
)
""".strip()


def dd_knn_join_sql(k: int, queries_sql: str, table: str = "embeddings",
                    id_col: str = "vec_id", vec_col: str = "embedding") -> str:
    """Oracle for :func:`knn_join`; `queries_sql` yields (q_id, q_vec)."""
    sim = V.dd_cosine_similarity("q.q_vec", f"c.{vec_col}")
    return f"""
WITH q AS ({queries_sql}),
pairs AS (
  SELECT q.q_id, c.{id_col} AS c_id, round({sim}, {SCORE_ROUND}) AS cos_sim
  FROM {table} c CROSS JOIN q
),
ranked AS (
  SELECT q_id, c_id, cos_sim,
         row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, c_id ASC) AS rank
  FROM pairs
)
SELECT q_id, c_id, cos_sim, rank FROM ranked WHERE rank <= {k}
""".strip()


# --- matryoshka (truncated-dimension) retrieval quality -----------------------

MRL_DIM = 16  # retrieval prefix: first 16 of the 64 embedding dims


def matryoshka_recall(emb: DataFrame, k: int, n_queries: int,
                      dim: int = MRL_DIM, id_col: str = "vec_id",
                      vec_col: str = "embedding") -> DataFrame:
    """Recall@k of truncated-prefix retrieval vs the full-dim exact top-k
    — the evaluation behind Matryoshka-style cheap first-stage retrieval
    (store/scan only the first `dim` dims, rerank survivors full-width).

    ONE corpus scan: each (query, candidate) pair scores BOTH the full
    and the prefix cosine in the same projection, then two rank windows
    over the same shuffled pair set; recall@k = |top-k ∩ top-k_trunc|/k.
    At 100 TB the query set is the bounded broadcast side (an eval
    sample), so cost is one corpus pass regardless of how many metric
    variants are scored per pair.

    Output: q_id, recall_at_k (one row per query, 0.0 when disjoint).

    One query collect feeds two local_topk_scan passes, full and
    truncated, whose windows both partition by q_id, so the join of
    the two top-k sets needs no exchange; recall@k = |top-k_full ∩
    top-k_trunc| / k — identical to counting pairs with rf <= k AND
    rt <= k.
    """
    queries = emb.where(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
    )
    qside = collect_queries(queries)
    scorers = {
        "f": cosine_scorer,
        "t": lambda Q, qpdf: lambda X, pdf: (
            rounded_cosine(X[:, :dim], Q[:, :dim]), None),
    }
    topk = {
        kind: local_topk_scan(
            emb.select(F.col(id_col).alias("c_id"), vec_col), "c_id",
            vec_col, qside, scorer, k, ascending=False, score_col="sim",
            op="matryoshka_recall").select("q_id", "c_id")
        for kind, scorer in scorers.items()
    }
    hits = topk["f"].join(topk["t"], ["q_id", "c_id"]).groupBy("q_id").agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    return (
        queries.select("q_id")
        .join(hits, "q_id", "left")
        .select(
            "q_id",
            F.round(F.coalesce(F.col("n_hit"), F.lit(0)) / k, 6)
            .alias("recall_at_k"),
        )
        .orderBy("q_id")
    )


def dd_matryoshka_recall_sql(k: int, n_queries: int, dim: int = MRL_DIM,
                             table: str = "embeddings",
                             id_col: str = "vec_id",
                             vec_col: str = "embedding") -> str:
    sim_full = V.dd_cosine_similarity("q.q_vec", f"c.{vec_col}")
    sim_trunc = V.dd_cosine_similarity(
        f"list_slice(q.q_vec, 1, {dim})",
        f"list_slice(c.{vec_col}, 1, {dim})",
    )
    return f"""
WITH q AS (
  SELECT {id_col} AS q_id, {vec_col} AS q_vec FROM {table}
  WHERE {id_col} < {n_queries}
),
pairs AS (
  SELECT q.q_id, c.{id_col} AS c_id,
         round({sim_full}, {SCORE_ROUND}) AS cos_full,
         round({sim_trunc}, {SCORE_ROUND}) AS cos_trunc
  FROM {table} c CROSS JOIN q
),
ranked AS (
  SELECT q_id,
         row_number() OVER (PARTITION BY q_id
           ORDER BY cos_full DESC, c_id ASC) AS rf,
         row_number() OVER (PARTITION BY q_id
           ORDER BY cos_trunc DESC, c_id ASC) AS rt
  FROM pairs
)
SELECT q_id,
       round(sum(CASE WHEN rf <= {k} AND rt <= {k} THEN 1 ELSE 0 END)
             * 1.0 / {k}, 6) AS recall_at_k
FROM ranked GROUP BY q_id ORDER BY q_id
""".strip()


# --- kNN label classification (embedding-quality evaluation) ------------------

CLS_K = 5  # neighbors per vote


def knn_classify_accuracy(emb: DataFrame, k: int, n_queries: int,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding",
                          label_col: str = "label") -> DataFrame:
    """Leave-one-out kNN majority-vote accuracy per class — the standard
    "are these embeddings any good" probe over the labeled vector table:
    each query vector is classified by its k nearest neighbors' labels
    (self excluded; cosine ties broken by id, vote ties by smaller label)
    and scored against its true label.

    Scale shape: the evaluation query set is the bounded side, collected
    to the driver; the corpus streams once; per-query state after the
    scan is k rows.

    The neighbors come from local_topk_scan with keep mask c_id != q_id.

    Output per true label: n, n_correct, accuracy.
    """
    queries = emb.where(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"),
        F.col(label_col).alias("q_label"))

    def scorer(Q, qpdf):
        q_ids = qpdf["q_id"].to_numpy()
        return lambda X, pdf: (
            rounded_cosine(X, Q),
            pdf["c_id"].to_numpy()[:, None] != q_ids[None, :])

    nn = local_topk_scan(
        emb.select(F.col(id_col).alias("c_id"), vec_col,
                   F.col(label_col).alias("c_label")),
        "c_id", vec_col, collect_queries(queries), scorer, k,
        ascending=False, score_col="cos_sim", op="knn_classify_accuracy")
    votes = nn.groupBy("q_id", "q_label", "c_label").agg(
        F.count(F.lit(1)).alias("n_votes")
    )
    w_vote = Window.partitionBy("q_id").orderBy(
        F.desc("n_votes"), F.asc("c_label")
    )
    pred = votes.withColumn("rv", F.row_number().over(w_vote)).where(
        F.col("rv") == 1
    )
    correct = F.when(F.col("c_label") == F.col("q_label"), 1).otherwise(0)
    return (
        pred.groupBy(F.col("q_label").alias("label"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(correct).cast("long").alias("n_correct"),
            F.round(F.sum(correct) / F.count(F.lit(1)), 6)
            .alias("accuracy"),
        )
        .orderBy("label")
    )


def dd_knn_classify_sql(k: int, n_queries: int, table: str = "embeddings",
                        id_col: str = "vec_id", vec_col: str = "embedding",
                        label_col: str = "label") -> str:
    sim = V.dd_cosine_similarity("q.q_vec", f"c.{vec_col}")
    return f"""
WITH q AS (
  SELECT {id_col} AS q_id, {vec_col} AS q_vec, {label_col} AS q_label
  FROM {table} WHERE {id_col} < {n_queries}
),
pairs AS (
  SELECT q.q_id, q.q_label, c.{id_col} AS c_id, c.{label_col} AS c_label,
         round({sim}, {SCORE_ROUND}) AS cos_sim
  FROM {table} c CROSS JOIN q
  WHERE c.{id_col} <> q.q_id
),
nn AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id
      ORDER BY cos_sim DESC, c_id ASC) AS rnk
    FROM pairs
  ) WHERE rnk <= {k}
),
votes AS (
  SELECT q_id, q_label, c_label, count(*)::BIGINT AS n_votes
  FROM nn GROUP BY 1, 2, 3
),
pred AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id
      ORDER BY n_votes DESC, c_label ASC) AS rv
    FROM votes
  ) WHERE rv = 1
)
SELECT q_label AS label, count(*)::BIGINT AS n,
       sum(CASE WHEN c_label = q_label THEN 1 ELSE 0 END)::BIGINT
         AS n_correct,
       round(sum(CASE WHEN c_label = q_label THEN 1 ELSE 0 END)
             * 1.0 / count(*), 6) AS accuracy
FROM pred GROUP BY q_label ORDER BY label
""".strip()


# --- IVF nprobe tuning curve ---------------------------------------------------

NPROBE_SWEEP = (1, 2, 4, 8)


def ivf_nprobe_curve(emb: DataFrame, k: int, n_queries: int,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding",
                     cent: DataFrame | None = None,
                     assign: DataFrame | None = None) -> DataFrame:
    """Recall@k vs scan cost across the NPROBE_SWEEP — the tuning curve
    every IVF deployment reads before picking nprobe (quality rises with
    probes, cost rises linearly; the knee is the operating point).

    ONE pass: candidates are gathered once at max(sweep) probes with
    their probe rank attached, each candidate's cosine is scored once,
    then the sweep values fan out by an explode and each (nprobe, query)
    slice ranks the candidates whose probe rank qualifies. Recall is
    against the exact brute-force top-k; mean_candidates records the
    per-query scan cost that bought it.

    ``cent``/``assign`` take a WRITTEN layout's frozen centroid table
    and stored (c_id, cell) assignment — the registered query passes
    them so the curve reads a two-column parquet scan instead of
    recomputing the O(N x nlist) assignment crossJoin per run (with
    derived nlist the in-plan assignment grew with sqrt(N): the r10
    bench paid 44-vs-16 centroid math on every execution; the layout
    already materialized the answer at build time).

    Output per nprobe: mean_recall, mean_candidates.
    """
    if cent is None or assign is None:
        cent, assign = ivf_assign(emb, id_col, vec_col)
    queries = emb.where(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
    )
    qc = queries.crossJoin(F.broadcast(cent)).select(
        "q_id", "q_vec", "cent_id",
        F.round(V.cosine_similarity(F.col("q_vec"), F.col("cvec")),
                SCORE_ROUND).alias("qsim"),
    )
    wq = Window.partitionBy("q_id").orderBy(F.desc("qsim"), F.asc("cent_id"))
    probes = (
        qc.withColumn("rn", F.row_number().over(wq))
        .where(F.col("rn") <= max(NPROBE_SWEEP))
        .select("q_id", "q_vec", F.col("cent_id").alias("cell"),
                F.col("rn").alias("probe_rn"))
    )
    cand = (
        probes.join(assign, "cell")
        .join(
            emb.select(F.col(id_col).alias("c_id"),
                       F.col(vec_col).alias("c_vec")),
            "c_id",
        )
        .select(
            "q_id", "probe_rn", "c_id",
            F.round(V.cosine_similarity(F.col("q_vec"), F.col("c_vec")),
                    SCORE_ROUND).alias("cos_sim"),
        )
    )
    fanned = cand.select(
        "*",
        F.explode(F.array(*[F.lit(n) for n in NPROBE_SWEEP])).alias("nprobe"),
    ).where(F.col("probe_rn") <= F.col("nprobe"))
    wk = Window.partitionBy("nprobe", "q_id").orderBy(
        F.desc("cos_sim"), F.asc("c_id")
    )
    approx = (
        fanned.withColumn("rank", F.row_number().over(wk))
        .where(F.col("rank") <= k)
        .select("nprobe", "q_id", "c_id")
    )
    brute = knn_join(
        queries,
        emb.select(F.col(id_col).alias("c_id"),
                   F.col(vec_col).alias("c_vec")),
        k,
    ).select("q_id", "c_id")
    hits = approx.join(brute, ["q_id", "c_id"]).groupBy(
        "nprobe", "q_id"
    ).agg(F.count(F.lit(1)).alias("n_hit"))
    n_cand = fanned.groupBy("nprobe", "q_id").agg(
        F.count(F.lit(1)).alias("n_cand")
    )
    per_q = n_cand.join(hits, ["nprobe", "q_id"], "left")
    return (
        per_q.groupBy("nprobe")
        .agg(
            F.round(F.avg(F.coalesce(F.col("n_hit"), F.lit(0)) / k), 6)
            .alias("mean_recall"),
            F.round(F.avg("n_cand"), 6).alias("mean_candidates"),
        )
        .orderBy("nprobe")
    )


def dd_ivf_nprobe_curve_sql(k: int, n_queries: int,
                            table: str = "embeddings",
                            id_col: str = "vec_id",
                            vec_col: str = "embedding") -> str:
    csim = V.dd_cosine_similarity("e.c_vec", "c.cvec")
    qsim = V.dd_cosine_similarity("q.q_vec", "c.cvec")
    sim = V.dd_cosine_similarity("p.q_vec", "e2.c_vec")
    bsim = V.dd_cosine_similarity("q.q_vec", "e.c_vec")
    sweep_vals = ", ".join(f"({n})" for n in NPROBE_SWEEP)
    return f"""
WITH cent AS (
  SELECT {id_col} AS cent_id, {vec_col} AS cvec FROM {table}
  WHERE {dd_centroid_pred(id_col, table)}
),
e AS (SELECT {id_col} AS c_id, {vec_col} AS c_vec FROM {table}),
assign AS (
  SELECT c_id, cent_id AS cell FROM (
    SELECT e.c_id, c.cent_id,
           row_number() OVER (PARTITION BY e.c_id
             ORDER BY round({csim}, {SCORE_ROUND}) DESC, c.cent_id ASC) AS rn
    FROM e CROSS JOIN cent c
  ) WHERE rn = 1
),
q AS (SELECT {id_col} AS q_id, {vec_col} AS q_vec FROM {table}
      WHERE {id_col} < {n_queries}),
probes AS (
  SELECT q_id, q_vec, cent_id AS cell, rn AS probe_rn FROM (
    SELECT q.q_id, q.q_vec, c.cent_id,
           row_number() OVER (PARTITION BY q.q_id
             ORDER BY round({qsim}, {SCORE_ROUND}) DESC, c.cent_id ASC) AS rn
    FROM q CROSS JOIN cent c
  ) WHERE rn <= {max(NPROBE_SWEEP)}
),
cand AS (
  SELECT p.q_id, p.probe_rn, a.c_id,
         round({sim}, {SCORE_ROUND}) AS cos_sim
  FROM probes p JOIN assign a ON p.cell = a.cell
  JOIN e e2 ON e2.c_id = a.c_id
),
fanned AS (
  SELECT cand.*, s.nprobe
  FROM cand CROSS JOIN (VALUES {sweep_vals}) s(nprobe)
  WHERE probe_rn <= s.nprobe
),
approx AS (
  SELECT nprobe, q_id, c_id FROM (
    SELECT nprobe, q_id, c_id,
           row_number() OVER (PARTITION BY nprobe, q_id
             ORDER BY cos_sim DESC, c_id ASC) AS rank
    FROM fanned
  ) WHERE rank <= {k}
),
brute AS (
  SELECT q_id, c_id FROM (
    SELECT q.q_id, e.c_id,
           row_number() OVER (PARTITION BY q.q_id
             ORDER BY round({bsim}, {SCORE_ROUND}) DESC, e.c_id ASC) AS rank
    FROM e CROSS JOIN q
  ) WHERE rank <= {k}
),
hits AS (
  SELECT a.nprobe, a.q_id, count(*)::BIGINT AS n_hit
  FROM approx a JOIN brute b ON a.q_id = b.q_id AND a.c_id = b.c_id
  GROUP BY 1, 2
),
n_cand AS (
  SELECT nprobe, q_id, count(*)::BIGINT AS n_cand
  FROM fanned GROUP BY 1, 2
)
SELECT n.nprobe, round(avg(coalesce(h.n_hit, 0) * 1.0 / {k}), 6)
         AS mean_recall,
       round(avg(n.n_cand), 6) AS mean_candidates
FROM n_cand n LEFT JOIN hits h ON n.nprobe = h.nprobe AND n.q_id = h.q_id
GROUP BY n.nprobe ORDER BY n.nprobe
""".strip()


# --- product quantization (IVF-PQ-style compressed ANN) -----------------------

PQ_M = 4         # subspaces (64-dim embeddings -> 4 x 16-dim subvectors)
PQ_CB_MOD = 25   # deterministic codebook pick: vec_id % PQ_CB_MOD == 0
PQ_K = 32        # codebook size CAP per subspace (vec_id < PQ_CB_MOD*PQ_K)
PQ_DIM = 64      # testdata embedding width


def pq_sample_pred(id_col):
    """The deterministic codebook-sample predicate, shared by every PQ
    variant (raw, residual, written layout) and the tests: every PQ_CB_MOD-th
    vector, CAPPED at PQ_K codewords per subspace. The cap is the scale
    contract — a real PQ codebook is a FIXED K (FAISS default 256)
    independent of corpus size, so encode cost is O(N*K), not O(N^2/mod).
    Without it the codebook grows with the corpus and the encode join is
    quadratic (the r6 SCALING.md 1.0-1.17 slopes on the ivfpq rows)."""
    return (F.col(id_col) % PQ_CB_MOD == 0) & (
        F.col(id_col) < PQ_CB_MOD * PQ_K
    )


def dd_pq_sample_pred(id_col: str) -> str:
    """DuckDB twin of pq_sample_pred — must stay token-equivalent."""
    return f"{id_col} % {PQ_CB_MOD} = 0 AND {id_col} < {PQ_CB_MOD * PQ_K}"


def _pq_long(df: DataFrame, id_alias: str, vec_col: str,
             dim: int, m: int, extra: tuple[str, ...] = ()) -> DataFrame:
    """Long-form subvectors: one row per (id, subspace) with the slice
    (plus any `extra` carried columns).

    posexplode of a per-row array of slices — a single projection, no
    M-way union, stays in whole-stage codegen."""
    sub = dim // m
    slices = F.array(*[
        F.slice(F.col(vec_col), i * sub + 1, sub) for i in range(m)
    ])
    return df.select(
        F.col(id_alias),
        *[F.col(c) for c in extra],
        F.posexplode(slices).alias("m", "sub"),
    )


def pq_codebook(emb: DataFrame, id_col: str = "vec_id",
                vec_col: str = "embedding", dim: int = PQ_DIM,
                m: int = PQ_M) -> DataFrame:
    """(m, code, cw): per-subspace codewords sliced from a deterministic
    sample of corpus vectors (pq_sample_pred — every PQ_CB_MOD-th id,
    capped at PQ_K codewords so K is FIXED at scale; a trained codebook
    would plug in here via embeddings_kmeans_train).
    K x M subvectors — a few KB, always the broadcast side."""
    cb = emb.where(pq_sample_pred(id_col)).select(
        F.col(id_col).alias("code"), F.col(vec_col).alias("cw_full")
    )
    return _pq_long(cb, "code", "cw_full", dim, m).select(
        "m", "code", F.col("sub").alias("cw")
    )


def _collect_codebook(cb: DataFrame, m: int) -> tuple:
    """(Cm, codes_m, css) of a bounded (m, code, cw) codebook on the
    driver: per subspace, the codeword matrix in ascending code order,
    its code ids and its squared row norms (None for an empty one)."""
    import numpy as np

    rows = sorted(cb.select("m", "code", "cw").collect(),
                  key=lambda r: (r["m"], r["code"]))
    Cm = [np.array([list(map(float, r["cw"])) for r in rows
                    if r["m"] == mi], dtype=np.float64)
          for mi in range(m)]
    codes_m = [np.array([r["code"] for r in rows if r["m"] == mi])
               for mi in range(m)]
    return Cm, codes_m, [(C * C).sum(axis=1) if len(C) else None
                         for C in Cm]


def nearest_code(S, C, cs):
    """Per row of ``S``, the position of its nearest codeword in ``C``
    (squared norms ``cs``) by squared L2 rounded at SCORE_ROUND — the
    dot-identity form; first-min argmin ties to the lower code."""
    import numpy as np

    return np.round(
        (S * S).sum(axis=1)[:, None] - 2.0 * (S @ C.T) + cs[None, :],
        SCORE_ROUND,
    ).argmin(axis=1)


def _pq_adc(Q, Cm, css, sub: int):
    """ADC for the queries ``Q``: builds the (m, K, q) lookup table
    round(l2sq(q_sub, cw)) once — the oracle's per-subspace distance
    table — and returns ``adc(X)``, the [n, q] distance of each vector's
    PQ code: its M table lookups summed, re-rounded at SCORE_ROUND."""
    import numpy as np

    lut = []
    for mi in range(len(Cm)):
        QS = Q[:, mi * sub:(mi + 1) * sub]
        lut.append(np.round(
            css[mi][:, None] - 2.0 * (Cm[mi] @ QS.T)
            + (QS * QS).sum(axis=1)[None, :],
            SCORE_ROUND,
        ))

    def adc(X):
        d = np.zeros((len(X), len(Q)))
        for mi in range(len(Cm)):
            S = X[:, mi * sub:(mi + 1) * sub]
            d += lut[mi][nearest_code(S, Cm[mi], css[mi]), :]
        return np.round(d, SCORE_ROUND)

    return adc


def pq_encode_with(df: DataFrame, cb: DataFrame, id_col: str = "vec_id",
                   vec_col: str = "embedding", dim: int = PQ_DIM,
                   m: int = PQ_M) -> DataFrame:
    """(vec_id, m, code) against a PREBUILT (m, code, cw) codebook —
    the encode used by incremental append, where the codebook is FROZEN
    at build time and read back from the layout's side table rather than
    rederived from the (now larger) corpus. Same math as pq_encode.

    Scale shape (r14): one Arrow-GEMM map pass over the corpus with the
    bounded K x M codebook collected to the driver (the same rows the
    old broadcast shipped) — the N x M x K row materialization of the
    join + the (vid, m) argmin aggregate's exchange are gone; output IS
    the encoded size (M short rows per vector), map-only. Same rule to
    the bit that matters: per-subspace squared-L2 via the same
    dot-identity, rounded at SCORE_ROUND (np.round — the pinned GEMM
    convention), argmin ties to the LOWER code (codewords scanned in
    ascending code order; first-min argmin), pinned value-identical to
    the join+struct-min form by tests/test_pq.py and every downstream
    oracle."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    sub = dim // m
    Cm, codes_m, css = _collect_codebook(cb, m)
    out_schema = T.StructType([
        T.StructField("vec_id", df.schema[id_col].dataType),
        T.StructField("m", T.IntegerType()),
        T.StructField("code", cb.schema["code"].dataType),
    ])
    if any(len(C) == 0 for C in Cm):
        # empty codebook subspace: the old inner join emitted nothing
        return df.sparkSession.createDataFrame([], out_schema)

    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = as_matrix(pdf[vec_col])
            vids = pdf[id_col].to_numpy()
            frames = []
            for mi in range(m):
                best = nearest_code(X[:, mi * sub:(mi + 1) * sub], Cm[mi],
                                    css[mi])
                frames.append(pd.DataFrame({
                    "vec_id": vids,
                    "m": np.full(len(vids), mi, dtype=np.int32),
                    "code": codes_m[mi][best],
                }))
            yield pd.concat(frames, ignore_index=True)

    return df.select(F.col(id_col), vec_col).mapInPandas(fn, out_schema)


def pq_encode(emb: DataFrame, id_col: str = "vec_id",
              vec_col: str = "embedding", dim: int = PQ_DIM,
              m: int = PQ_M) -> DataFrame:
    """(vec_id, m, code): nearest-codeword assignment per subspace
    (rounded squared-L2, tie -> lower code) — the PQ compression step,
    with the codebook derived from the corpus itself (pq_sample_pred).
    See pq_encode_with for the plan-shape notes."""
    return pq_encode_with(emb, pq_codebook(emb, id_col, vec_col, dim, m),
                          id_col, vec_col, dim, m)


def pq_topk(emb: DataFrame, k: int, n_queries: int = 10,
            id_col: str = "vec_id", vec_col: str = "embedding",
            dim: int = PQ_DIM, m: int = PQ_M) -> DataFrame:
    """ADC (asymmetric distance computation) top-k over PQ codes: each
    query precomputes a (m, code) -> distance lookup table against the
    codebook (n_q x M x K rows — broadcast), then candidates are scored
    by SUMMING M table lookups over their codes — never touching the
    raw vectors. This is the scan that makes 100 TB of vectors readable:
    the codes table is ~dim*4/M times smaller than the embeddings and
    the per-candidate cost is M adds.

    Output: q_id, c_id, adc_dist (ascending = nearer), rank — approximate
    by construction; pq_recall records the quality.

    Encode and ADC scoring fuse into one local_topk_scan: the query LUT
    is built on the driver from the bounded codebook and query batch,
    and each scan batch encodes its vectors and sums their M lookups —
    the corpus streams once, map-only, and never materializes codes.
    """
    sub = dim // m
    Cm, _, css = _collect_codebook(
        pq_codebook(emb, id_col, vec_col, dim, m), m)
    schema, qpdf = collect_queries(
        emb.where(F.col(id_col) < n_queries)
        .select(F.col(id_col).alias("q_id"), vec_col))
    if any(len(C) == 0 for C in Cm):
        qpdf = qpdf.iloc[:0]  # an empty codebook subspace encodes nothing

    def scorer(Q, qpdf):
        adc = _pq_adc(Q, Cm, css, sub)
        return lambda X, pdf: (adc(X), None)

    return local_topk_scan(
        emb.select(F.col(id_col).alias("c_id"), vec_col), "c_id", vec_col,
        (schema, qpdf), scorer, k, ascending=True, score_col="adc_dist",
        op="pq_topk")


def pq_recall(emb: DataFrame, k: int, n_queries: int = 10,
              id_col: str = "vec_id", vec_col: str = "embedding",
              dim: int = PQ_DIM, m: int = PQ_M) -> DataFrame:
    """Recall@k of PQ/ADC retrieval vs the exact cosine top-k, per query
    — the recorded quality number for the compressed scan (same evaluation
    pattern as matryoshka_recall / ivf_nprobe_curve)."""
    approx = pq_topk(emb, k, n_queries, id_col, vec_col, dim, m).select(
        "q_id", "c_id"
    )
    queries = emb.where(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
    )
    exact = knn_join(
        queries,
        emb.select(F.col(id_col).alias("c_id"), F.col(vec_col).alias("c_vec")),
        k,
    ).select("q_id", "c_id")
    hits = approx.join(exact, ["q_id", "c_id"]).groupBy("q_id").agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    return (
        queries.select("q_id")
        .join(hits, "q_id", "left")
        .select(
            "q_id",
            F.round(F.coalesce(F.col("n_hit"), F.lit(0)) / k, 6)
            .alias("recall_at_k"),
        )
        .orderBy("q_id")
    )


def _dd_pq_base(n_queries: int, table: str, id_col: str, vec_col: str,
                dim: int, m: int) -> str:
    """Shared CTE prefix: subspace grid, codebook, encoded corpus, query
    LUT — mirrors pq_encode exactly (same slice bounds, rounding, and
    tie rules). Callers append their own candidate-set / ADC CTEs."""
    sub = dim // m
    ms = ", ".join(f"({i})" for i in range(m))
    lo = f"(s.m * {sub} + 1)"
    hi = f"((s.m + 1) * {sub})"
    d_enc = V.dd_l2sq("c.sub", "b.cw")
    d_lut = V.dd_l2sq("q.sub", "b.cw")
    return f"""
subs AS (SELECT m FROM (VALUES {ms}) t(m)),
cbsub AS (
  SELECT s.m, {id_col} AS code,
         list_slice({vec_col}, {lo}, {hi}) AS cw
  FROM {table} CROSS JOIN subs s WHERE {dd_pq_sample_pred(id_col)}
),
corp AS (
  SELECT {id_col} AS vid, s.m,
         list_slice({vec_col}, {lo}, {hi}) AS sub
  FROM {table} CROSS JOIN subs s
),
enc AS (
  SELECT vid, m, code FROM (
    SELECT c.vid, c.m, b.code,
           row_number() OVER (PARTITION BY c.vid, c.m
             ORDER BY round({d_enc}, {SCORE_ROUND}) ASC, b.code ASC) AS rn
    FROM corp c JOIN cbsub b ON c.m = b.m
  ) WHERE rn = 1
),
qsub AS (
  SELECT {id_col} AS q_id, s.m,
         list_slice({vec_col}, {lo}, {hi}) AS sub
  FROM {table} CROSS JOIN subs s WHERE {id_col} < {n_queries}
),
lut AS (
  SELECT q.q_id, b.m, b.code,
         round({d_lut}, {SCORE_ROUND}) AS d
  FROM qsub q JOIN cbsub b ON q.m = b.m
)
""".strip()


def _dd_pq_common(n_queries: int, table: str, id_col: str, vec_col: str,
                  dim: int, m: int) -> str:
    """PQ base CTEs plus the full-corpus ADC scores."""
    base = _dd_pq_base(n_queries, table, id_col, vec_col, dim, m)
    return f"""
{base},
adc AS (
  SELECT l.q_id, e.vid AS c_id, round(sum(l.d), {SCORE_ROUND}) AS adc_dist
  FROM enc e JOIN lut l ON e.m = l.m AND e.code = l.code
  GROUP BY l.q_id, e.vid
)
""".strip()


def dd_pq_topk_sql(k: int, n_queries: int = 10, table: str = "embeddings",
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   dim: int = PQ_DIM, m: int = PQ_M) -> str:
    common = _dd_pq_common(n_queries, table, id_col, vec_col, dim, m)
    return f"""
WITH {common}
SELECT q_id, c_id, adc_dist, rank FROM (
  SELECT q_id, c_id, adc_dist,
         row_number() OVER (PARTITION BY q_id
           ORDER BY adc_dist ASC, c_id ASC) AS rank
  FROM adc
) WHERE rank <= {k}
""".strip()


def dd_pq_recall_sql(k: int, n_queries: int = 10, table: str = "embeddings",
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     dim: int = PQ_DIM, m: int = PQ_M) -> str:
    common = _dd_pq_common(n_queries, table, id_col, vec_col, dim, m)
    sim = V.dd_cosine_similarity("q.q_vec", f"c.{vec_col}")
    return f"""
WITH {common},
approx AS (
  SELECT q_id, c_id FROM (
    SELECT q_id, c_id,
           row_number() OVER (PARTITION BY q_id
             ORDER BY adc_dist ASC, c_id ASC) AS rank
    FROM adc
  ) WHERE rank <= {k}
),
q AS (
  SELECT {id_col} AS q_id, {vec_col} AS q_vec FROM {table}
  WHERE {id_col} < {n_queries}
),
exact AS (
  SELECT q_id, c_id FROM (
    SELECT q.q_id, c.{id_col} AS c_id,
           row_number() OVER (PARTITION BY q.q_id
             ORDER BY round({sim}, {SCORE_ROUND}) DESC,
                      c.{id_col} ASC) AS rank
    FROM {table} c CROSS JOIN q
  ) WHERE rank <= {k}
),
hits AS (
  SELECT a.q_id, count(*) AS n_hit
  FROM approx a JOIN exact e ON a.q_id = e.q_id AND a.c_id = e.c_id
  GROUP BY a.q_id
)
SELECT q.q_id,
       round(coalesce(h.n_hit, 0) * 1.0 / {k}, 6) AS recall_at_k
FROM q LEFT JOIN hits h ON q.q_id = h.q_id
ORDER BY q.q_id
""".strip()


def ivfpq_topk(emb: DataFrame, k: int, n_queries: int = 10,
               id_col: str = "vec_id", vec_col: str = "embedding",
               dim: int = PQ_DIM, m: int = PQ_M) -> DataFrame:
    """The composed 100 TB ANN shape — IVF cell pruning × PQ compressed
    scoring: a query reads only its NPROBE cells (IVF prunes WHERE to
    look) and scores the survivors by summing M LUT lookups over their
    codes (PQ shrinks WHAT is read ~64x). Production IVF-PQ encodes
    RESIDUALS (vector minus its cell centroid) for tighter quantization;
    codes here are over raw vectors so the DuckDB oracle stays exact —
    the residual refinement slots into pq_encode without changing this
    plan shape.

    Output: q_id, c_id, adc_dist, rank (ascending distance).

    The composed probe is one local_topk_scan. Every side table is
    bounded and collects to the driver: the ~sqrt(N) centroid sample,
    the K x M codebook and the query batch. Each scan batch assigns its
    vectors (the assign_to_centroids rule), encodes them (the
    pq_encode_with rule) and keeps, per query, the rows whose cell is
    among the query's probe cells (probe_cells_per_query).
    """
    import numpy as np

    sub = dim // m
    nlist = derive_nlist(emb.count())
    CC, cc_ids = collect_centroids(
        emb.where(centroid_pred(id_col, nlist))
        .select(F.col(id_col).alias("cent_id"), F.col(vec_col).alias("cvec")))
    Cm, _, css = _collect_codebook(
        pq_codebook(emb, id_col, vec_col, dim, m), m)
    schema, qpdf = collect_queries(
        emb.where(F.col(id_col) < n_queries)
        .select(F.col(id_col).alias("q_id"), vec_col))
    if not len(cc_ids) or any(len(C) == 0 for C in Cm):
        qpdf = qpdf.iloc[:0]  # no cell or code to probe

    def scorer(Q, qpdf):
        pcells = probe_cells_per_query(Q, CC, cc_ids, NPROBE)
        adc = _pq_adc(Q, Cm, css, sub)
        ccn = np.sqrt((CC * CC).sum(axis=1))

        def score_batch(X, pdf):
            # first max = lowest cent_id
            cells = cc_ids[rounded_cosine(X, CC, ccn).argmax(axis=1)]
            keep = (cells[:, None, None] == pcells[None, :, :]).any(axis=2)
            return adc(X), keep

        return score_batch

    return local_topk_scan(
        emb.select(F.col(id_col).alias("c_id"), vec_col), "c_id", vec_col,
        (schema, qpdf), scorer, k, ascending=True, score_col="adc_dist",
        op="ivfpq_topk")


def ivfpq_recall(emb: DataFrame, k: int, n_queries: int = 10,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 dim: int = PQ_DIM, m: int = PQ_M) -> DataFrame:
    """Recall@k of the composed IVF-prune x PQ-ADC retrieval vs the
    exact cosine top-k — the quality number for the full compressed
    100 TB probe shape (IVF misses + quantization error together).
    Same evaluation pattern as pq_recall / sq8_recall: the approx and
    exact sides join on (q_id, c_id); n_queries rows out."""
    approx = ivfpq_topk(emb, k, n_queries, id_col, vec_col, dim, m).select(
        "q_id", "c_id"
    )
    queries = emb.where(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
    )
    exact = knn_join(
        queries,
        emb.select(F.col(id_col).alias("c_id"), F.col(vec_col).alias("c_vec")),
        k,
    ).select("q_id", "c_id")
    hits = approx.join(exact, ["q_id", "c_id"]).groupBy("q_id").agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    return (
        queries.select("q_id")
        .join(hits, "q_id", "left")
        .select(
            "q_id",
            F.round(F.coalesce(F.col("n_hit"), F.lit(0)) / k, 6)
            .alias("recall_at_k"),
        )
        .orderBy("q_id")
    )


def _dd_ivfpq_ctes(n_queries: int, table: str, id_col: str,
                   vec_col: str, dim: int, m: int) -> str:
    """The composed IVF-prune + PQ-ADC CTE body (ends at `adc`), shared
    by the topk and recall twins so both stay token-identical."""
    csim = V.dd_cosine_similarity("e.c_vec", "c.cvec")
    qsim = V.dd_cosine_similarity("q.q_vec", "c.cvec")
    pq_base = _dd_pq_base(n_queries, table, id_col, vec_col, dim, m)
    return f"""
cent AS (
  SELECT {id_col} AS cent_id, {vec_col} AS cvec FROM {table}
  WHERE {dd_centroid_pred(id_col, table)}
),
e AS (SELECT {id_col} AS c_id, {vec_col} AS c_vec FROM {table}),
assign AS (
  SELECT c_id, cent_id AS cell FROM (
    SELECT e.c_id, c.cent_id,
           row_number() OVER (PARTITION BY e.c_id
             ORDER BY round({csim}, {SCORE_ROUND}) DESC, c.cent_id ASC) AS rn
    FROM e CROSS JOIN cent c
  ) WHERE rn = 1
),
q AS (SELECT {id_col} AS q_id, {vec_col} AS q_vec FROM {table}
      WHERE {id_col} < {n_queries}),
probes AS (
  SELECT q_id, cent_id AS cell FROM (
    SELECT q.q_id, c.cent_id,
           row_number() OVER (PARTITION BY q.q_id
             ORDER BY round({qsim}, {SCORE_ROUND}) DESC, c.cent_id ASC) AS rn
    FROM q CROSS JOIN cent c
  ) WHERE rn <= {NPROBE}
),
{pq_base},
cand AS (
  SELECT p.q_id, a.c_id FROM probes p JOIN assign a ON p.cell = a.cell
),
adc AS (
  SELECT cd.q_id, cd.c_id, round(sum(l.d), {SCORE_ROUND}) AS adc_dist
  FROM cand cd
  JOIN enc en ON en.vid = cd.c_id
  JOIN lut l ON l.q_id = cd.q_id AND l.m = en.m AND l.code = en.code
  GROUP BY cd.q_id, cd.c_id
)
""".strip()


def dd_ivfpq_topk_sql(k: int, n_queries: int = 10,
                      table: str = "embeddings", id_col: str = "vec_id",
                      vec_col: str = "embedding", dim: int = PQ_DIM,
                      m: int = PQ_M) -> str:
    ctes = _dd_ivfpq_ctes(n_queries, table, id_col, vec_col, dim, m)
    return f"""
WITH {ctes}
SELECT q_id, c_id, adc_dist, rank FROM (
  SELECT q_id, c_id, adc_dist,
         row_number() OVER (PARTITION BY q_id
           ORDER BY adc_dist ASC, c_id ASC) AS rank
  FROM adc
) WHERE rank <= {k}
""".strip()


def dd_ivfpq_recall_sql(k: int, n_queries: int = 10,
                        table: str = "embeddings", id_col: str = "vec_id",
                        vec_col: str = "embedding", dim: int = PQ_DIM,
                        m: int = PQ_M) -> str:
    ctes = _dd_ivfpq_ctes(n_queries, table, id_col, vec_col, dim, m)
    sim = V.dd_cosine_similarity("q.q_vec", f"c.{vec_col}")
    return f"""
WITH {ctes},
approx AS (
  SELECT q_id, c_id FROM (
    SELECT q_id, c_id,
           row_number() OVER (PARTITION BY q_id
             ORDER BY adc_dist ASC, c_id ASC) AS rank
    FROM adc
  ) WHERE rank <= {k}
),
exact AS (
  SELECT q_id, c_id FROM (
    SELECT q.q_id, c.{id_col} AS c_id,
           row_number() OVER (PARTITION BY q.q_id
             ORDER BY round({sim}, {SCORE_ROUND}) DESC,
                      c.{id_col} ASC) AS rank
    FROM {table} c CROSS JOIN q
  ) WHERE rank <= {k}
),
hits AS (
  SELECT a.q_id, count(*) AS n_hit
  FROM approx a JOIN exact e ON a.q_id = e.q_id AND a.c_id = e.c_id
  GROUP BY a.q_id
)
SELECT q.q_id,
       round(coalesce(h.n_hit, 0) * 1.0 / {k}, 6) AS recall_at_k
FROM q LEFT JOIN hits h ON q.q_id = h.q_id
ORDER BY q.q_id
""".strip()


# --- residual IVF-PQ (the production encoding) --------------------------------


def _residual(vec: "F.Column", cvec: "F.Column") -> "F.Column":
    """Elementwise vec - centroid, widened to double BEFORE subtracting
    so the DuckDB twin (a[i]::DOUBLE - b[i]::DOUBLE) is bit-identical."""
    return F.zip_with(
        vec, cvec, lambda x, y: x.cast("double") - y.cast("double")
    )


def ivfpq_residual_topk(emb: DataFrame, k: int, n_queries: int = 10,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        dim: int = PQ_DIM, m: int = PQ_M) -> DataFrame:
    """Residual IVF-PQ — the PRODUCTION encoding (what FAISS-style
    IVF-PQ indexes actually quantize): each vector is encoded as PQ
    codes of its RESIDUAL against its cell centroid, which concentrates
    the quantizer's dynamic range on the within-cell offset instead of
    the absolute position. The query side builds a PER-PROBED-CELL
    residual LUT (q - centroid, n_q x nprobe x M x K rows — still
    broadcast-bounded), because the query's residual differs per cell.

    Same shape as ivfpq_topk, one local_topk_scan: the bounded sides —
    the ~sqrt(N) centroid sample, the deterministic PQ_CB_MOD sample
    whose residuals form the codebook, the query batch with its
    per-probed-cell residual LUT — collect to the driver, and each scan
    batch assigns, computes residuals, encodes and ADC-scores the rows
    in each query's probe cells. Every distance is rounded at
    SCORE_ROUND with the same tie rules as the joined form; the
    deterministic codebook keeps the DuckDB oracle exact.
    """
    import numpy as np

    sub = dim // m
    nlist = derive_nlist(emb.count())
    CC, cc_ids = collect_centroids(
        emb.where(centroid_pred(id_col, nlist))
        .select(F.col(id_col).alias("cent_id"), F.col(vec_col).alias("cvec")))
    srows = sorted(
        emb.where(pq_sample_pred(id_col))
        .select(F.col(id_col).alias("sid"), vec_col).collect(),
        key=lambda r: r["sid"],
    )
    schema, qpdf = collect_queries(
        emb.where(F.col(id_col) < n_queries)
        .select(F.col(id_col).alias("q_id"), vec_col))
    if not len(cc_ids) or not srows:
        qpdf = qpdf.iloc[:0]  # no cell or code to probe

    def scorer(Q, qpdf):
        ccn = np.sqrt((CC * CC).sum(axis=1))

        def assign_pos(X):
            # the assign_to_centroids rule: first max = lowest cent_id
            return rounded_cosine(X, CC, ccn).argmax(axis=1)

        # residual codebook: residuals of the deterministic sample rows
        # against THEIR OWN cells (a bounded sample)
        Sv = np.array([[float(x) for x in r[1]] for r in srows],
                      dtype=np.float64)
        Rs = Sv - CC[assign_pos(Sv)]
        rcb = [Rs[:, mi * sub:(mi + 1) * sub] for mi in range(m)]
        rss = [(R * R).sum(axis=1) for R in rcb]
        # per (query, probed cell position): the residual LUT over the
        # sample codebook — round(l2sq(q - cvec, cw)) per subspace, the
        # oracle formula verbatim
        ppos = np.searchsorted(
            cc_ids, probe_cells_per_query(Q, CC, cc_ids, NPROBE))
        lut = {}
        for j, cps in enumerate(ppos.tolist()):
            for cp in cps:
                qr = Q[j] - CC[cp]
                ent = []
                for mi in range(m):
                    qs = qr[mi * sub:(mi + 1) * sub]
                    ent.append(np.round(
                        (qs @ qs) - 2.0 * (rcb[mi] @ qs) + rss[mi],
                        SCORE_ROUND,
                    ))
                lut[(j, cp)] = ent

        def score_batch(X, pdf):
            pos = assign_pos(X)
            R = X - CC[pos]
            codes = np.stack([
                nearest_code(R[:, mi * sub:(mi + 1) * sub], rcb[mi], rss[mi])
                for mi in range(m)], axis=1)
            scores = np.zeros((len(X), len(Q)))
            keep = np.zeros((len(X), len(Q)), dtype=bool)
            for (j, cp), ent in lut.items():
                rows = np.flatnonzero(pos == cp)
                adc = np.zeros(len(rows))
                for mi in range(m):
                    adc += ent[mi][codes[rows, mi]]
                scores[rows, j] = np.round(adc, SCORE_ROUND)
                keep[rows, j] = True
            return scores, keep

        return score_batch

    return local_topk_scan(
        emb.select(F.col(id_col).alias("c_id"), vec_col), "c_id", vec_col,
        (schema, qpdf), scorer, k, ascending=True, score_col="adc_dist",
        op="ivfpq_residual_topk")


def dd_ivfpq_residual_topk_sql(k: int, n_queries: int = 10,
                               table: str = "embeddings",
                               id_col: str = "vec_id",
                               vec_col: str = "embedding",
                               dim: int = PQ_DIM, m: int = PQ_M) -> str:
    sub = dim // m
    ms = ", ".join(f"({i})" for i in range(m))
    csim = V.dd_cosine_similarity("e.c_vec", "c.cvec")
    qsim = V.dd_cosine_similarity("q.q_vec", "c.cvec")
    rsub = (f"list_transform(range(1, {dim + 1}), "
            f"i -> e.c_vec[i]::DOUBLE - c.cvec[i]::DOUBLE)")
    q_rsub = (f"list_transform(range(1, {dim + 1}), "
              f"i -> q.q_vec[i]::DOUBLE - c.cvec[i]::DOUBLE)")
    lo = f"(s.m * {sub} + 1)"
    hi = f"((s.m + 1) * {sub})"
    d_enc = V.dd_l2sq("r.sub", "b.cw")
    d_lut = V.dd_l2sq("p.sub", "b.cw")
    return f"""
WITH cent AS (
  SELECT {id_col} AS cent_id, {vec_col} AS cvec FROM {table}
  WHERE {dd_centroid_pred(id_col, table)}
),
e AS (SELECT {id_col} AS c_id, {vec_col} AS c_vec FROM {table}),
assign AS (
  SELECT c_id, cent_id AS cell FROM (
    SELECT e.c_id, c.cent_id,
           row_number() OVER (PARTITION BY e.c_id
             ORDER BY round({csim}, {SCORE_ROUND}) DESC, c.cent_id ASC) AS rn
    FROM e CROSS JOIN cent c
  ) WHERE rn = 1
),
resid AS (
  SELECT e.c_id AS vid, a.cell, {rsub} AS rvec
  FROM e JOIN assign a ON a.c_id = e.c_id
  JOIN cent c ON c.cent_id = a.cell
),
subs AS (SELECT m FROM (VALUES {ms}) t(m)),
rcb AS (
  SELECT s.m, vid AS code, list_slice(rvec, {lo}, {hi}) AS cw
  FROM resid CROSS JOIN subs s WHERE {dd_pq_sample_pred("vid")}
),
rlong AS (
  SELECT vid, cell, s.m, list_slice(rvec, {lo}, {hi}) AS sub
  FROM resid CROSS JOIN subs s
),
codes AS (
  SELECT vid, cell, m, code FROM (
    SELECT r.vid, r.cell, r.m, b.code,
           row_number() OVER (PARTITION BY r.vid, r.m
             ORDER BY round({d_enc}, {SCORE_ROUND}) ASC, b.code ASC) AS rn
    FROM rlong r JOIN rcb b ON r.m = b.m
  ) WHERE rn = 1
),
q AS (SELECT {id_col} AS q_id, {vec_col} AS q_vec FROM {table}
      WHERE {id_col} < {n_queries}),
probes AS (
  SELECT q_id, cell, q_rvec FROM (
    SELECT q.q_id, c.cent_id AS cell, {q_rsub} AS q_rvec,
           row_number() OVER (PARTITION BY q.q_id
             ORDER BY round({qsim}, {SCORE_ROUND}) DESC, c.cent_id ASC) AS rn
    FROM q CROSS JOIN cent c
  ) WHERE rn <= {NPROBE}
),
plong AS (
  SELECT q_id, cell, s.m, list_slice(q_rvec, {lo}, {hi}) AS sub
  FROM probes CROSS JOIN subs s
),
lut AS (
  SELECT p.q_id, p.cell, b.m, b.code,
         round({d_lut}, {SCORE_ROUND}) AS d
  FROM plong p JOIN rcb b ON p.m = b.m
),
adc AS (
  SELECT l.q_id, cd.vid AS c_id, round(sum(l.d), {SCORE_ROUND}) AS adc_dist
  FROM probes p
  JOIN codes cd ON cd.cell = p.cell
  JOIN lut l ON l.q_id = p.q_id AND l.cell = cd.cell
            AND l.m = cd.m AND l.code = cd.code
  GROUP BY l.q_id, cd.vid
)
SELECT q_id, c_id, adc_dist, rank FROM (
  SELECT q_id, c_id, adc_dist,
         row_number() OVER (PARTITION BY q_id
           ORDER BY adc_dist ASC, c_id ASC) AS rank
  FROM adc
) WHERE rank <= {k}
""".strip()


# --- scalar quantization (SQ8) + PQ rescore ----------------------------------
#
# The two remaining standard compressed-ANN shapes (FAISS SQ8 / the
# shortlist-then-rescore pattern every production vector store runs):
#   - SQ8: per-dimension 8-bit codes — 4x smaller than float32, near-
#     lossless ranking (recall ~1.0), the "cheap" compression tier below
#     PQ's ~64x;
#   - rescore: ADC over PQ codes keeps k*RESCORE_MULT candidates, only
#     those fetch raw vectors for exact scoring — the exact math touches
#     O(k * mult * n_queries) rows, never the corpus.

SQ_LEVELS = 255.0   # 8-bit codes 0..255
RESCORE_MULT = 4    # PQ shortlist size = k * RESCORE_MULT


def _to_double(vec):
    return F.transform(vec, lambda v: v.cast("double"))


def sq_stats(emb: DataFrame, id_col: str = "vec_id",
             vec_col: str = "embedding") -> DataFrame:
    """Single-row (mn_l, mx_l): per-dimension corpus min/max — the SQ8
    'codebook'. O(dim) output regardless of corpus size, so it is always
    the broadcast side; computing it is one explode + partial-agg pass."""
    long = emb.select(
        F.posexplode(_to_double(F.col(vec_col))).alias("d", "x")
    )
    per = long.groupBy("d").agg(F.min("x").alias("mn"),
                                F.max("x").alias("mx"))
    return per.agg(
        F.transform(F.array_sort(F.collect_list(F.struct("d", "mn"))),
                    lambda s: s["mn"]).alias("mn_l"),
        F.transform(F.array_sort(F.collect_list(F.struct("d", "mx"))),
                    lambda s: s["mx"]).alias("mx_l"),
    )


def _sq8_dequant(vec, mn_l, mx_l):
    """floor-quantize each dimension to 0..255 against (mn, mx), then
    reconstruct x' = mn + q/255 * (mx - mn); constant dims (mx == mn)
    map to mn. The formula's association mirrors the DuckDB twin
    token-for-token so the doubles are bit-identical before rounding."""
    def one(x, i):
        mn = F.element_at(mn_l, i + F.lit(1))
        mx = F.element_at(mx_l, i + F.lit(1))
        s = mx - mn
        q = F.floor(
            F.greatest(F.least((x - mn) / s, F.lit(1.0)), F.lit(0.0))
            * F.lit(SQ_LEVELS)
        )
        return F.when(s == F.lit(0.0), mn).otherwise(
            mn + q / F.lit(SQ_LEVELS) * s
        )

    return F.transform(vec, one)


def sq8_topk(emb: DataFrame, k: int, n_queries: int = 10,
             id_col: str = "vec_id",
             vec_col: str = "embedding") -> DataFrame:
    """8-bit scalar-quantized top-k: raw query vs dequantized candidate
    squared-L2 (asymmetric, like ADC). One broadcast of the O(dim) stats
    row, one map-side dequant pass over the corpus, one top-k shuffle —
    the SQ8 scan of a 100 TB vector table reads 1/4 the bytes.
    Output: q_id, c_id, sq_dist (ascending = nearer), rank."""
    stats = sq_stats(emb, id_col, vec_col)
    cand = emb.crossJoin(F.broadcast(stats)).select(
        F.col(id_col).alias("c_id"),
        _sq8_dequant(_to_double(F.col(vec_col)),
                     F.col("mn_l"), F.col("mx_l")).alias("deq"),
    )
    queries = emb.where(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("q_id"),
        _to_double(F.col(vec_col)).alias("q_vec"),
    )
    scored = cand.crossJoin(F.broadcast(queries)).select(
        "q_id", "c_id",
        F.round(V.l2sq(F.col("q_vec"), F.col("deq")),
                SCORE_ROUND).alias("sq_dist"),
    )
    w = Window.partitionBy("q_id").orderBy(F.asc("sq_dist"), F.asc("c_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def sq8_recall(emb: DataFrame, k: int, n_queries: int = 10,
               id_col: str = "vec_id",
               vec_col: str = "embedding") -> DataFrame:
    """Recall@k of the SQ8 scan vs exact cosine top-k per query — the
    compression-quality number for the 4x tier (near 1.0 by design;
    contrast with PQ's deterministic-codebook recall)."""
    approx = sq8_topk(emb, k, n_queries, id_col, vec_col).select(
        "q_id", "c_id"
    )
    queries = emb.where(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
    )
    exact = knn_join(
        queries,
        emb.select(F.col(id_col).alias("c_id"),
                   F.col(vec_col).alias("c_vec")),
        k,
    ).select("q_id", "c_id")
    hits = approx.join(exact, ["q_id", "c_id"]).groupBy("q_id").agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    return (
        queries.select("q_id")
        .join(hits, "q_id", "left")
        .select(
            "q_id",
            F.round(F.coalesce(F.col("n_hit"), F.lit(0)) / k, 6)
            .alias("recall_at_k"),
        )
        .orderBy("q_id")
    )


def rescore_exact(short: DataFrame, emb: DataFrame, k: int,
                  n_queries: int, id_col: str = "vec_id",
                  vec_col: str = "embedding") -> DataFrame:
    """Exact cosine rerank of a (q_id, c_id) shortlist: ONLY shortlist
    rows fetch their raw vectors, so the exact math touches
    O(|short|) rows, never the corpus. Output: q_id, c_id, cos_sim,
    rank."""
    cand = short.join(
        emb.select(F.col(id_col).alias("c_id"),
                   F.col(vec_col).alias("c_vec")),
        "c_id",
    )
    queries = emb.where(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
    )
    scored = cand.join(F.broadcast(queries), "q_id").select(
        "q_id", "c_id",
        F.round(V.cosine_similarity(F.col("q_vec"), F.col("c_vec")),
                SCORE_ROUND).alias("cos_sim"),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"),
                                           F.asc("c_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def pq_rescore_topk(emb: DataFrame, k: int, n_queries: int = 10,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    dim: int = PQ_DIM, m: int = PQ_M,
                    mult: int = RESCORE_MULT) -> DataFrame:
    """Compressed-scan shortlist + exact rerank — the production ANN
    pattern: ADC over PQ codes reads the ~64x-compressed table and keeps
    k*mult candidates per query; only those rows fetch their raw vectors
    for exact cosine scoring (rescore_exact). The registered query
    probes the WRITTEN codes layout instead
    (index/ivfpq_layout.pq_layout_rescore_topk — same semantics, encode
    paid at write time); this is the query-time spec."""
    short = pq_topk(emb, k * mult, n_queries, id_col, vec_col, dim,
                    m).select("q_id", "c_id")
    return rescore_exact(short, emb, k, n_queries, id_col, vec_col)


def _dd_sq8_base(n_queries: int, table: str, id_col: str,
                 vec_col: str) -> str:
    """Shared SQ8 CTEs — mirrors sq_stats/_sq8_dequant token-for-token
    (same clamp, floor, association; DuckDB's lambda index i is 1-based
    like the mn_l/mx_l subscripts)."""
    deq = (
        "CASE WHEN (s.mx_l[i] - s.mn_l[i]) = 0.0 THEN s.mn_l[i] "
        "ELSE s.mn_l[i] + floor(greatest(least((x - s.mn_l[i]) / "
        "(s.mx_l[i] - s.mn_l[i]), 1.0), 0.0) * 255.0) / 255.0 * "
        "(s.mx_l[i] - s.mn_l[i]) END"
    )
    return f"""
corp AS (SELECT {id_col} AS vid, {vec_col}::DOUBLE[] AS v FROM {table}),
dims AS (
  SELECT d, min(x) AS mn, max(x) AS mx FROM (
    SELECT unnest(v) AS x, generate_subscripts(v, 1) AS d FROM corp
  ) GROUP BY d
),
stats AS (
  SELECT list(mn ORDER BY d) AS mn_l, list(mx ORDER BY d) AS mx_l
  FROM dims
),
cand AS (
  SELECT c.vid AS c_id,
         list_transform(c.v, (x, i) -> {deq}) AS deq
  FROM corp c CROSS JOIN stats s
),
q AS (
  SELECT vid AS q_id, v AS q_vec FROM corp WHERE vid < {n_queries}
)
""".strip()


def dd_sq8_topk_sql(k: int, n_queries: int = 10,
                    table: str = "embeddings", id_col: str = "vec_id",
                    vec_col: str = "embedding") -> str:
    base = _dd_sq8_base(n_queries, table, id_col, vec_col)
    d = V.dd_l2sq("q.q_vec", "c.deq")
    return f"""
WITH {base}
SELECT q_id, c_id, sq_dist, rank FROM (
  SELECT q.q_id, c.c_id,
         round({d}, {SCORE_ROUND}) AS sq_dist,
         row_number() OVER (PARTITION BY q.q_id
           ORDER BY round({d}, {SCORE_ROUND}) ASC, c.c_id ASC) AS rank
  FROM cand c CROSS JOIN q
) WHERE rank <= {k}
""".strip()


def dd_sq8_recall_sql(k: int, n_queries: int = 10,
                      table: str = "embeddings", id_col: str = "vec_id",
                      vec_col: str = "embedding") -> str:
    base = _dd_sq8_base(n_queries, table, id_col, vec_col)
    d = V.dd_l2sq("q.q_vec", "c.deq")
    sim = V.dd_cosine_similarity("q.q_vec", "c.v")
    return f"""
WITH {base},
approx AS (
  SELECT q_id, c_id FROM (
    SELECT q.q_id, c.c_id,
           row_number() OVER (PARTITION BY q.q_id
             ORDER BY round({d}, {SCORE_ROUND}) ASC, c.c_id ASC) AS rank
    FROM cand c CROSS JOIN q
  ) WHERE rank <= {k}
),
exact AS (
  SELECT q_id, c_id FROM (
    SELECT q.q_id, c.vid AS c_id,
           row_number() OVER (PARTITION BY q.q_id
             ORDER BY round({sim}, {SCORE_ROUND}) DESC,
                      c.vid ASC) AS rank
    FROM corp c CROSS JOIN q
  ) WHERE rank <= {k}
),
hits AS (
  SELECT a.q_id, count(*) AS n_hit
  FROM approx a JOIN exact e ON a.q_id = e.q_id AND a.c_id = e.c_id
  GROUP BY a.q_id
)
SELECT q.q_id,
       round(coalesce(h.n_hit, 0) * 1.0 / {k}, 6) AS recall_at_k
FROM q LEFT JOIN hits h ON q.q_id = h.q_id
ORDER BY q.q_id
""".strip()


def dd_pq_rescore_topk_sql(k: int, n_queries: int = 10,
                           table: str = "embeddings",
                           id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           dim: int = PQ_DIM, m: int = PQ_M,
                           mult: int = RESCORE_MULT) -> str:
    common = _dd_pq_common(n_queries, table, id_col, vec_col, dim, m)
    sim = V.dd_cosine_similarity("q.q_vec", f"c.{vec_col}")
    return f"""
WITH {common},
short AS (
  SELECT q_id, c_id FROM (
    SELECT q_id, c_id,
           row_number() OVER (PARTITION BY q_id
             ORDER BY adc_dist ASC, c_id ASC) AS rank
    FROM adc
  ) WHERE rank <= {k * mult}
),
q AS (
  SELECT {id_col} AS q_id, {vec_col} AS q_vec FROM {table}
  WHERE {id_col} < {n_queries}
)
SELECT q_id, c_id, cos_sim, rank FROM (
  SELECT s.q_id, s.c_id,
         round({sim}, {SCORE_ROUND}) AS cos_sim,
         row_number() OVER (PARTITION BY s.q_id
           ORDER BY round({sim}, {SCORE_ROUND}) DESC, s.c_id ASC) AS rank
  FROM short s
  JOIN {table} c ON c.{id_col} = s.c_id
  JOIN q ON q.q_id = s.q_id
) WHERE rank <= {k}
""".strip()


def pq_rescore_recall(emb: DataFrame, k: int, n_queries: int = 10,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      dim: int = PQ_DIM, m: int = PQ_M,
                      mult: int = RESCORE_MULT) -> DataFrame:
    """Recall@k of raw ADC vs shortlist+exact-rescore, side by side per
    query — the number that justifies the shortlist architecture: the
    rescore pass must recover (most of) the recall the lossy PQ scan
    gives up, at the cost of exact math on only k*mult rows. Both
    retrievals share the same codes/LUT; `recall_rescore >=
    recall_adc` holds by construction whenever the true neighbor is in
    the shortlist but outside ADC's top-k ordering.

    Scale shape: three bounded per-query top-k's over the same broadcast
    pattern as pq_topk/rescore_exact; the comparison itself joins k-row
    sets. Output: q_id, recall_adc, recall_rescore.
    """
    # ONE ADC pass serves both sides: the shortlist is pq_topk at
    # k*mult, and raw-ADC top-k is its rank <= k prefix (same ordering,
    # same tie rule) — at 100 TB the compressed scan is the dominant
    # cost, so it must not run twice for a diagnostic.
    short_full = pq_topk(emb, k * mult, n_queries, id_col, vec_col,
                         dim, m).select("q_id", "c_id", "rank")
    adc = short_full.where(F.col("rank") <= k).select("q_id", "c_id")
    resc = rescore_exact(short_full.select("q_id", "c_id"), emb, k,
                         n_queries, id_col, vec_col).select("q_id", "c_id")
    queries = emb.where(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
    )
    exact = knn_join(
        queries,
        emb.select(F.col(id_col).alias("c_id"),
                   F.col(vec_col).alias("c_vec")),
        k,
    ).select("q_id", "c_id")
    hits_adc = adc.join(exact, ["q_id", "c_id"]).groupBy("q_id").agg(
        F.count(F.lit(1)).alias("n_adc")
    )
    hits_resc = resc.join(exact, ["q_id", "c_id"]).groupBy("q_id").agg(
        F.count(F.lit(1)).alias("n_resc")
    )
    return (
        queries.select("q_id")
        .join(hits_adc, "q_id", "left")
        .join(hits_resc, "q_id", "left")
        .select(
            "q_id",
            F.round(F.coalesce(F.col("n_adc"), F.lit(0)) / k, 6)
            .alias("recall_adc"),
            F.round(F.coalesce(F.col("n_resc"), F.lit(0)) / k, 6)
            .alias("recall_rescore"),
        )
        .orderBy("q_id")
    )


def dd_pq_rescore_recall_sql(k: int, n_queries: int = 10,
                             table: str = "embeddings",
                             id_col: str = "vec_id",
                             vec_col: str = "embedding",
                             dim: int = PQ_DIM, m: int = PQ_M,
                             mult: int = RESCORE_MULT) -> str:
    common = _dd_pq_common(n_queries, table, id_col, vec_col, dim, m)
    sim = V.dd_cosine_similarity("q.q_vec", f"c.{vec_col}")
    bsim = V.dd_cosine_similarity("q.q_vec", f"c.{vec_col}")
    return f"""
WITH {common},
q AS (
  SELECT {id_col} AS q_id, {vec_col} AS q_vec FROM {table}
  WHERE {id_col} < {n_queries}
),
adc_topk AS (
  SELECT q_id, c_id FROM (
    SELECT q_id, c_id,
           row_number() OVER (PARTITION BY q_id
             ORDER BY adc_dist ASC, c_id ASC) AS rank
    FROM adc
  ) WHERE rank <= {k}
),
short AS (
  SELECT q_id, c_id FROM (
    SELECT q_id, c_id,
           row_number() OVER (PARTITION BY q_id
             ORDER BY adc_dist ASC, c_id ASC) AS rank
    FROM adc
  ) WHERE rank <= {k * mult}
),
resc AS (
  SELECT q_id, c_id FROM (
    SELECT s.q_id, s.c_id,
           row_number() OVER (PARTITION BY s.q_id
             ORDER BY round({sim}, {SCORE_ROUND}) DESC, s.c_id ASC) AS rank
    FROM short s
    JOIN {table} c ON c.{id_col} = s.c_id
    JOIN q ON q.q_id = s.q_id
  ) WHERE rank <= {k}
),
exact AS (
  SELECT q_id, c_id FROM (
    SELECT q.q_id, c.{id_col} AS c_id,
           row_number() OVER (PARTITION BY q.q_id
             ORDER BY round({bsim}, {SCORE_ROUND}) DESC,
                      c.{id_col} ASC) AS rank
    FROM {table} c CROSS JOIN q
  ) WHERE rank <= {k}
),
hits_adc AS (
  SELECT a.q_id, count(*) AS n_adc
  FROM adc_topk a JOIN exact e ON a.q_id = e.q_id AND a.c_id = e.c_id
  GROUP BY a.q_id
),
hits_resc AS (
  SELECT r.q_id, count(*) AS n_resc
  FROM resc r JOIN exact e ON r.q_id = e.q_id AND r.c_id = e.c_id
  GROUP BY r.q_id
)
SELECT q.q_id,
       round(coalesce(ha.n_adc, 0) * 1.0 / {k}, 6) AS recall_adc,
       round(coalesce(hr.n_resc, 0) * 1.0 / {k}, 6) AS recall_rescore
FROM q LEFT JOIN hits_adc ha ON q.q_id = ha.q_id
LEFT JOIN hits_resc hr ON q.q_id = hr.q_id
ORDER BY q.q_id
""".strip()


# --- contrastive hard-negative mining ----------------------------------------


def hard_negatives(emb: DataFrame, k: int, n_queries: int,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   label_col: str = "label") -> DataFrame:
    """Mine HARD NEGATIVES for contrastive training: for each query
    vector, the top-k most-similar vectors whose label DIFFERS — the
    near-misses that make the best negative pairs (random negatives are
    too easy; the highest-similarity wrong-label neighbors carry the
    gradient). The standard pair-mining pass of every embedding-training
    pipeline (in-batch negatives' offline counterpart).

    Scale shape: identical to knn_join, with keep mask c_label !=
    q_label in the scan, so per-query state stays k rows. Self-pairs
    are excluded by the label inequality itself.

    Output: q_id, q_label, c_id, c_label, cos_sim, rank.
    """
    queries = emb.where(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("q_vec"),
        F.col(label_col).alias("q_label"),
    )

    def scorer(Q, qpdf):
        q_labels = qpdf["q_label"].to_numpy()
        return lambda X, pdf: (
            rounded_cosine(X, Q),
            pdf["c_label"].to_numpy()[:, None] != q_labels[None, :])

    return local_topk_scan(
        emb.select(F.col(id_col).alias("c_id"), vec_col,
                   F.col(label_col).alias("c_label")),
        "c_id", vec_col, collect_queries(queries), scorer, k,
        ascending=False, score_col="cos_sim", op="hard_negatives")


def dd_hard_negatives_sql(k: int, n_queries: int,
                          table: str = "embeddings",
                          id_col: str = "vec_id",
                          vec_col: str = "embedding",
                          label_col: str = "label") -> str:
    sim = V.dd_cosine_similarity("q.q_vec", f"c.{vec_col}")
    return f"""
WITH q AS (
  SELECT {id_col} AS q_id, {vec_col} AS q_vec, {label_col} AS q_label
  FROM {table} WHERE {id_col} < {n_queries}
),
pairs AS (
  SELECT q.q_id, q.q_label, c.{id_col} AS c_id,
         c.{label_col} AS c_label,
         round({sim}, {SCORE_ROUND}) AS cos_sim
  FROM {table} c CROSS JOIN q
  WHERE c.{label_col} <> q.q_label
)
SELECT q_id, q_label, c_id, c_label, cos_sim, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id
    ORDER BY cos_sim DESC, c_id ASC) AS rank
  FROM pairs
) WHERE rank <= {k}
""".strip()


# --- kmeans-trained centroids plugged into the IVF seam -----------------------

KMEANS_IVF_ITERS = 4


def kmeans_centroids(emb: DataFrame, k: int | None = None,
                     iters: int = KMEANS_IVF_ITERS,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """TRAINED centroid table for the IVF seam: Lloyd's k-means (init =
    first k rows by id, the embeddings_kmeans_train recipe), returning
    (cent_id, cvec) shaped exactly like ivf_assign's deterministic
    sample — so trained centroids drop into _ivf_probe_topk,
    assign_to_centroids, SemDeDup, or the written layouts unchanged.

    Scale shape: the driver loop holds only k x dim floats; each
    iteration is one Arrow-GEMM assignment pass plus a k-row aggregate
    (analytics._kmeans_assign_arrow — constant plan shape across
    iterations). Centroid coords round to SCORE_ROUND so downstream
    tie-breaks stay stable. Index build cost, paid once at write time.
    """
    from .analytics import _kmeans_iter_partials

    if k is None:
        # same nlist the deterministic sample would use, so the trained
        # and sampled probes in ivf_kmeans_recall compare like-for-like
        k = derive_nlist(emb.count())
    init = (
        emb.orderBy(id_col).select(id_col, vec_col).limit(k).collect()
    )
    cents = [(i, [float(x) for x in r[vec_col]])
             for i, r in enumerate(init)]
    emb_only = emb.select(F.col(vec_col).alias("embedding"))
    for _ in range(iters):
        # map-only partials merged driver-side (k x dim floats) — same
        # r14 swap as embeddings_kmeans_train: no exchange, no 2·dim
        # aggregate expressions, no N-row Arrow return per iteration
        agg: dict[int, tuple[int, list[float]]] = {}
        for r in _kmeans_iter_partials(emb_only, cents):
            cid = int(r["cluster_id"])
            n0, s0 = agg.get(cid, (0, None))
            sums = list(r["sums"]) if s0 is None else [
                a + b for a, b in zip(s0, r["sums"])
            ]
            agg[cid] = (n0 + int(r["n"]), sums)
        # empty clusters keep their previous centroid (standard Lloyd fix)
        cents = [
            (cid, [s / agg[cid][0] for s in agg[cid][1]]
             if cid in agg else vec)
            for cid, vec in cents
        ]
    rounded = [
        (cid, [round(x, SCORE_ROUND) for x in vec]) for cid, vec in cents
    ]
    return emb.sparkSession.createDataFrame(
        rounded, f"cent_id long, cvec array<double>"
    )


def ivf_kmeans_recall(emb: DataFrame, k: int, n_queries: int = 10,
                      id_col: str = "vec_id",
                      vec_col: str = "embedding",
                      tcent: DataFrame | None = None,
                      tassign: DataFrame | None = None) -> DataFrame:
    """Per-query recall@k of the IVF probe with TRAINED centroids vs
    with the deterministic id-sample, side by side against the exact
    cosine top-k — the diagnostic that shows the centroid source is a
    pluggable quality knob on an unchanged probe plan (the claim the
    deterministic sample's docstrings make; this row records it).

    ``tcent``/``tassign`` (r12, r11 VERDICT #4): callers holding a
    WRITTEN trained layout pass its frozen centroid table and stored
    (c_id, cell) assignment instead of retraining Lloyd in-plan per
    execution — the registered bench row was re-paying the write-time
    training cost (9.85s driver) on every run even though
    ensure_ivf_trained_layout persists the identical centroid set
    (identity pytest-pinned: the trainer is deterministic). Left None,
    both are computed in-plan — the seam-proving form the unit tests
    exercise.

    Rows-only by design: the kmeans iteration is a float loop whose
    assignment boundaries can flip across engines (same reason
    embeddings_kmeans_train is rows-only); the probe itself reuses the
    oracled _ivf_probe_topk plan. Output: q_id, recall_kmeans,
    recall_sample.
    """
    if tcent is None:
        tcent = kmeans_centroids(emb, None, KMEANS_IVF_ITERS,
                                 id_col, vec_col)
    if tassign is None:
        tassign = assign_to_centroids(
            emb.select(F.col(id_col).alias("c_id"),
                       F.col(vec_col).alias("c_vec")),
            tcent,
        )
    trained = _ivf_probe_topk(emb, tcent, tassign, k, n_queries,
                              id_col, vec_col).select("q_id", "c_id")
    sampled = ivf_topk(emb, k, n_queries, id_col, vec_col).select(
        "q_id", "c_id"
    )
    queries = emb.where(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
    )
    exact = knn_join(
        queries,
        emb.select(F.col(id_col).alias("c_id"),
                   F.col(vec_col).alias("c_vec")),
        k,
    ).select("q_id", "c_id")
    hits_t = trained.join(exact, ["q_id", "c_id"]).groupBy("q_id").agg(
        F.count(F.lit(1)).alias("n_t")
    )
    hits_s = sampled.join(exact, ["q_id", "c_id"]).groupBy("q_id").agg(
        F.count(F.lit(1)).alias("n_s")
    )
    return (
        queries.select("q_id")
        .join(hits_t, "q_id", "left")
        .join(hits_s, "q_id", "left")
        .select(
            "q_id",
            F.round(F.coalesce(F.col("n_t"), F.lit(0)) / k, 6)
            .alias("recall_kmeans"),
            F.round(F.coalesce(F.col("n_s"), F.lit(0)) / k, 6)
            .alias("recall_sample"),
        )
        .orderBy("q_id")
    )
