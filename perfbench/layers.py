"""Traced run: the workload's end-to-end phase with and without tracing,
then per-layer measurements through each module's public functions.

Every call below is wrapped in a `spans.Tracer` span, so each Spark job it
launches carries the span's job group. Layers and what they should move
(workload in brackets):

  session                  session.start_s -> setup_s
  index.builder            index.cold_chunks_per_s, the cold build that
                           set-up runs -> setup_s
  sources/chunker/models/index.builder (stage probes, noop sink in the warm
                           session) -> setup_s, and the per-table bytes ->
                           index_bytes_per_input_byte
  server/mcp_http          server.startup_s -> setup_s [serve_mcp];
                           mcp_http.overhead_ms -> call_p50_ms [serve_mcp]
  search.doc_engine, operators.bm25, functions.vector, models.reranker
                           -> call_p50_ms, queries_per_s [serve_mcp]
  search_batch path        -> call_p50_ms, queries_per_s [search_batch]
  plans.registry/operators registry.<query>.build_ms|plan_ms|exec_ms and
                           the sample's Spark totals (registry_sample.py);
                           no workload reaches these layers, so they move
                           no end-to-end metric

vss.vectors_scanned_per_request is derived, not measured: see
`waste_ratios`.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

import registry_sample
import run as R
import streams
from spans import Tracer, union_seconds


def _ms(s: float) -> float:
    return s * 1000.0


def _p50(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def index_layers(p: R.Product) -> dict[str, float]:
    from pyspark.sql import functions as F

    from duckdb_hybrid_doc_search_spark.index.builder import (
        build_fts_index_from_tokens)
    from duckdb_hybrid_doc_search_spark.models.embedder import (
        embed_udf, hash_embed_text)
    from duckdb_hybrid_doc_search_spark.models.tokenizer import \
        tokenize_query
    from duckdb_hybrid_doc_search_spark.operators.chunker import (
        chunk_documents, with_doc_ids)
    from duckdb_hybrid_doc_search_spark.sources.markdown import \
        read_markdown_dirs

    m: dict[str, float] = {"session.start_s": p.session_start_s,
                           "index.cold_chunks_per_s":
                               p.counts["documents"] / p.build_s}
    build = p.tracer.by_name("index.build")[0]
    m["index.spark.jobs"] = len(build.jobs)
    m["index.spark.stages"] = build.stages
    m["index.spark.tasks"] = build.tasks
    for t, n in p.counts.items():
        m[f"index.rows.{t}"] = n
        m[f"index.bytes.{t}"] = p.index_bytes[t]

    spark, t = p.spark, p.tracer
    with t.span("sources.read") as s_read:
        files = read_markdown_dirs(spark, [p.corpus_dir])
        _noop(files)
    with t.span("chunker.chunk") as s_chunk:
        chunks = with_doc_ids(chunk_documents(files)).persist()
        chunks.count()
    with t.span("models.embedder.embed") as s_emb:
        _noop(chunks.select(embed_udf()(F.col("content"))))
    with t.span("index.fts_build") as s_fts:
        for df in build_fts_index_from_tokens(chunks).values():
            _noop(df)
    chunks.unpersist()
    m["sources.read_s"] = s_read.seconds
    # chunking re-reads the files: its self time excludes the read probe
    m["chunker.chunk_s"] = max(0.0, s_chunk.seconds - s_read.seconds)
    m["embedder.embed_s"] = s_emb.seconds
    m["index.fts_build_s"] = s_fts.seconds

    # driver single-thread kernels over every written chunk
    import pyarrow.parquet as pq

    contents = pq.read_table(os.path.join(p.index_dir, "documents"),
                             columns=["content"]).column(0).to_pylist()
    tok = p.engine.meta.get("tokenizer", "jp_heuristic")
    with t.span("models.tokenizer.chunks", group=False) as s:
        for c in contents:
            tokenize_query(c, backend=tok)
    m["tokenizer.us_per_chunk"] = s.seconds * 1e6 / len(contents)
    with t.span("models.embedder.chunks", group=False) as s:
        for c in contents:
            hash_embed_text(c, p.engine.dim)
    m["embedder.us_per_chunk"] = s.seconds * 1e6 / len(contents)
    return m


class TracedTool:
    """The MCP tool body, with a span per call when `mode` is "on", or on
    every second call when it is "alternate" (an interleaved A/B of the
    tracing cost). Every call is logged as (query, start, end, traced)."""

    def __init__(self, p: R.Product, classes: dict[str, str]):
        from duckdb_hybrid_doc_search_spark.server import make_search_tool

        self.tool = make_search_tool(
            p.engine, add_path_prefix=os.path.dirname(p.index_dir))
        self.tracer = p.tracer
        self.classes = classes
        self.seen: set[str] = set()
        self.mode = "off"
        self.calls: list[tuple[str, float, float, bool]] = []

    def __call__(self, query: str, top_k: int = 5):
        with self.tracer._lock:
            n = len(self.calls)
            # pairs of calls, so the A/B does not alias with the stream's
            # class cycle
            traced = self.mode == "on" or (self.mode == "alternate"
                                           and n // 2 % 2 == 1)
            cls = "repeat" if query in self.seen else \
                self.classes.get(query, "other")
            self.seen.add(query)
        t0 = time.perf_counter()
        try:
            if not traced:
                return self.tool(query=query, top_k=top_k)
            with self.tracer.span("doc_engine.search",
                                  request_id=f"req-{n}") as s:
                s.attrs["cls"] = cls
                return self.tool(query=query, top_k=top_k)
        finally:
            with self.tracer._lock:
                self.calls.append((query, t0, time.perf_counter(), traced))

    def traced_flags(self, samples: list[dict]) -> list[bool]:
        """Whether the server traced each client sample: the logged call
        with the same query that ran inside the sample's round trip."""
        out = []
        for r in samples:
            out.append(any(q == r["query"] and r["start"] <= a and b <= r["end"]
                           and t for q, a, b, t in self.calls))
        return out


def serve_layers(p: R.Product, tool: TracedTool, samples: list[dict],
                 startup_s: float) -> dict[str, float]:
    from duckdb_hybrid_doc_search_spark.models.embedder import \
        hash_embed_text
    from duckdb_hybrid_doc_search_spark.models.tokenizer import \
        tokenize_query
    from duckdb_hybrid_doc_search_spark.operators.bm25 import bm25_scores
    from duckdb_hybrid_doc_search_spark.config import SCORE_ROUND
    from duckdb_hybrid_doc_search_spark.functions.vector import (
        cosine_distance, lit_vector)
    from pyspark.sql import functions as F

    spans = p.tracer.by_name("doc_engine.search")
    m = {"server.startup_s": startup_s}
    m["doc_engine.search_p50_ms"] = _p50(_ms(s.seconds) for s in spans)
    for cls in ("broad", "selective", "miss", "repeat"):
        m[f"doc_engine.search_p50_ms.{cls}"] = _p50(
            _ms(s.seconds) for s in spans if s.attrs.get("cls") == cls)
    rt = [_ms(r["end"] - r["start"]) for r in samples if r["error"] is None]
    t0 = min(r["start"] for r in samples)
    m["mcp_http.overhead_ms"] = _p50(rt) - _p50(
        _ms(b - a) for _, a, b, _ in tool.calls if a >= t0)
    n = max(1, len(spans))
    m["spark.jobs_per_request"] = sum(len(s.jobs) for s in spans) / n
    m["spark.stages_per_request"] = sum(s.stages for s in spans) / n
    m["spark.tasks_per_request"] = sum(s.tasks for s in spans) / n

    tok = p.engine.meta.get("tokenizer", "jp_heuristic")
    queries = [r["query"] for r in samples] or ["spark window"]
    reps = max(1, 2000 // len(queries))
    t0 = time.perf_counter()
    for _ in range(reps):
        for q in queries:
            tokenize_query(q, backend=tok)
    m["tokenizer.query_us"] = (time.perf_counter() - t0) * 1e6 / (
        reps * len(queries))
    t0 = time.perf_counter()
    for q in queries[:200]:
        hash_embed_text(q, p.engine.dim)
    m["embedder.query_us"] = (time.perf_counter() - t0) * 1e6 / len(
        queries[:200])

    # the two Spark probes of `search`, alone, on served broad queries
    probe_qs = [r["query"] for r in samples if r["cls"] == "broad"][:3]
    bm25_ms, vss_ms, rerank_ms = [], [], []
    for q in probe_qs:
        qterms = tokenize_query(q, backend=tok)
        with p.tracer.span("operators.bm25.probe") as s:
            (bm25_scores(p.engine.index, qterms)
             .orderBy(F.desc("score"), F.asc("doc_id")).limit(R.TOP_K)
             .collect())
        bm25_ms.append(_ms(s.seconds))
        with p.tracer.span("functions.vector.probe") as s:
            (p.engine.embeddings.select(
                "doc_id", F.round(cosine_distance(
                    F.col("embedding"),
                    lit_vector(hash_embed_text(q, p.engine.dim))),
                    SCORE_ROUND).alias("d"))
             .orderBy("d", "doc_id").limit(R.TOP_K).collect())
        vss_ms.append(_ms(s.seconds))
    # the rerank stage of `search` alone (it has no public entry point),
    # on the rows the server returned
    for r in samples:
        if r["error"] is None and r["results"]:
            rows = [dict(x) for x in r["results"]]
            qterms = tokenize_query(r["query"], backend=tok)
            t0 = time.perf_counter()
            p.engine._rerank(r["query"], qterms, rows)
            rerank_ms.append(_ms(time.perf_counter() - t0))
    m["bm25.probe_ms"] = _p50(bm25_ms)
    m["vss.probe_ms"] = _p50(vss_ms)
    m["reranker.rerank_ms"] = _p50(rerank_ms)
    return m


def waste_ratios(p: R.Product, samples: list[dict]) -> dict[str, float]:
    """Postings rows the BM25 probe reads per FTS top-k row it returns,
    counted in DuckDB over the written table; vectors the VSS branch scans
    per request, which is every embedding (the branch has no filter)."""
    import duckdb

    from duckdb_hybrid_doc_search_spark.models.tokenizer import \
        tokenize_query

    tok = p.engine.meta.get("tokenizer", "jp_heuristic")
    table = os.path.join(p.index_dir, "postings_scored", "*.parquet")
    read = useful = 0
    with duckdb.connect() as con:
        for q in {r["query"] for r in samples}:
            terms = sorted(set(tokenize_query(q, backend=tok)))
            if not terms:
                continue
            rows, docs = con.execute(
                "SELECT count(*), count(DISTINCT doc_id) FROM "
                f"read_parquet('{table}') "
                "WHERE term IN (SELECT unnest(?::VARCHAR[]))", [terms]
            ).fetchone()
            read += rows
            useful += min(R.TOP_K, docs)
    return {"bm25.postings_rows_per_result": read / max(1, useful),
            "vss.vectors_scanned_per_request": float(p.counts["embeddings"])}


def batch_layers(p: R.Product) -> dict[str, float]:
    spans = p.tracer.by_name("doc_engine.search_batch")
    n = max(1, len(spans))
    m = {
        "spark.jobs_per_batch": sum(len(s.jobs) for s in spans) / n,
        "spark.stages_per_batch": sum(s.stages for s in spans) / n,
        "spark.tasks_per_batch": sum(s.tasks for s in spans) / n,
        "spark.shuffle_bytes_per_batch":
            sum(s.shuffle_bytes for s in spans) / n,
        "spark.executor_s_per_batch": sum(s.executor_s for s in spans) / n,
    }
    # search_batch collects three times, in this order: FTS top-k, VSS
    # top-k, document fetch. Jobs are attributed by call site, in order of
    # first submission.
    parts = {"fts": 0.0, "vss": 0.0, "fetch": 0.0}
    driver = 0.0
    for s in spans:
        sites: list[str] = []
        for _, site, wall in sorted(s.job_walls):
            if site not in sites:
                sites.append(site)
            key = ("fts", "vss", "fetch")[min(2, sites.index(site))]
            parts[key] += wall
        driver += s.seconds - union_seconds(s.job_intervals)
    for k, v in parts.items():
        m[f"doc_engine.batch_{k}_job_s"] = v / n
    m["doc_engine.batch_driver_s"] = driver / n
    return m


def run_traced(args, root: str, work: str) -> dict:
    """One traced run; returns the result with every per-layer metric."""
    p = R.Product(root, work, args.seed, tracer_factory=Tracer)
    try:
        metrics = index_layers(p)
        R.log("index layers timed")
        stream = R.timed_requests(args.seed, args.seconds)
        tool = TracedTool(p, {q: c for c, q in stream if c != "repeat"})
        t0 = time.perf_counter()
        port = p.start_server(tool)
        bind_s = time.perf_counter() - t0
        startup_s = p.engine_s + bind_s
        # traced.setup_s leaves out the index layer probes above. The other
        # workload's layers come from a few cold calls, which keeps the
        # traced run inside its time limit.
        if args.workload == "serve_mcp":
            t0 = time.perf_counter()
            R.warm_server(port, args.seed)
            setup_s = p.setup_base_s + bind_s + time.perf_counter() - t0
            R.log("server warm")
            tool.mode = "alternate"
            mcp = R.mcp_loop(port, stream)
            tool.mode = "off"
            # the batch layers, from one cold traced call
            batch = R.batch_loop(p.engine, R.batch_setup(p, args.seed, 1, 0),
                                 p.span)
            e2e = R.serve_samples_metrics(mcp)
            flags = tool.traced_flags(mcp)
            lat = [(_ms(r["end"] - r["start"]), f) for r, f in zip(mcp, flags)
                   if r["error"] is None]
        else:
            t0 = time.perf_counter()
            # one warm-up and four timed calls, untraced, traced, traced,
            # untraced: the order cancels a steady drift
            timed = R.batch_setup(p, args.seed, 4, 1)
            setup_s = p.setup_base_s + time.perf_counter() - t0
            R.log("batch warm")
            batch = R.batch_loop(p.engine, timed, p.span, alternate=True)
            tool.mode = "on"
            # the serving layers, from one cold cycle of the query stream
            mcp = R.mcp_loop(port, stream[:len(streams.MCP_CYCLE)])
            e2e = R.batch_samples_metrics(batch)
            lat = [(_ms(r["end"] - r["start"]), r["traced"]) for r in batch]
        e2e.update(setup_s=setup_s, serving_rss_mb=R.peak_rss_mb(),
                   **p.metrics())
        for k, v in e2e.items():
            metrics[f"traced.{k}"] = v
        metrics["overhead.call_p50_ms"] = (
            _p50(x for x, f in lat if f) - _p50(x for x, f in lat if not f))
        R.log("timed phases done")
        metrics.update(serve_layers(p, tool, mcp, startup_s))
        metrics.update(batch_layers(p))
        metrics.update(waste_ratios(p, mcp))
        attempted, check_fails = R.check_outputs(
            p, [("serve_mcp", mcp), ("search_batch", batch)])
        R.log("outputs checked")
        # last, so that its plans and layouts do not warm the serving path
        sf_dir = os.path.join(work, "sf")
        registry_sample.write_tables(sf_dir, args.seed)
        with registry_sample.new_layouts_removed(root):
            reg, fails = registry_sample.run_sample(p.spark, p.tracer, sf_dir)
        metrics.update(reg)
        fails += check_fails
        attempted += len(registry_sample.QUERIES)
        R.log("registry sample timed and checked")
        metrics["failed_frac"] = len(fails) / attempted
        spans_path = os.path.join(
            root, ".perfbench_work", f"spans-{args.workload}-{args.seed}.json")
        p.tracer.dump(spans_path)
        print(f"perfbench: spans written to {spans_path}", file=sys.stderr)
    finally:
        p.close()
    return R.result(attempted, fails, metrics, unit_of)


UNITS = {"failed_frac": "ratio", "bm25.postings_rows_per_result": "rows/result",
         "vss.vectors_scanned_per_request": "rows/request",
         "tokenizer.us_per_chunk": "us", "embedder.us_per_chunk": "us",
         "index.cold_chunks_per_s": "1/s",
         "spark.executor_s_per_batch": "s",
         "spark.shuffle_bytes_per_batch": "B"}


def unit_of(name: str) -> str:
    if name in UNITS:
        return UNITS[name]
    if name.startswith("traced."):
        return R.UNITS[name[len("traced."):]]
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_us", "us"),
                         ("bytes", "B")):
        if name.endswith(suffix) or f"{suffix}." in name:
            return unit
    return "count"
