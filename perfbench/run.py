"""Product benchmark: index a seeded Markdown corpus, then serve it.

Each run renders the seeded 1x corpus (corpus.py), builds its index with
`index.builder.index_directories` (what `cli index` runs) in a fresh
Spark session, opens a `DocSearchEngine` on it and measures one serving
workload for about --seconds:

  serve_mcp     the MCP streamable-HTTP server that `cli serve --transport
                streamable-http` runs (`server.make_search_tool` behind
                `mcp_http.serve_http`) on a localhost port, driven by a
                closed loop of 2 MCP sessions;
  search_batch  `DocSearchEngine.search_batch` over batches of
                distinct queries.

Both warm up and time a number of calls, not a span of time: the JVM keeps
speeding calls up for tens of them, so a count puts every host's timed
phase on the same calls of that curve. The timed count is set from
--seconds and the call time on a 4-vCPU host.

The index and every served result are then checked against DuckDB
(checks.py). With --trace 1 the same workload runs traced and layers.py
adds the per-layer metrics.

Run from the repository root:

    python3 perfbench/run.py --workload serve_mcp --seed 1 --seconds 10 --trace 0

The last line of stdout is one JSON object: correct, attempted, failed
and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
T_START = time.perf_counter()


def log(msg: str) -> None:
    """Phase marks on stderr, with seconds since the process started."""
    print(f"perfbench: {time.perf_counter() - T_START:7.2f}s {msg}",
          file=sys.stderr, flush=True)


WORKLOADS = ("serve_mcp", "search_batch")
TOP_K = 5
BATCH_SIZE = 16
# a fresh engine's first batch call takes 2-3 times a warm one, the second
# 1.2 times; later ones stay within the host's noise
WARMUP_BATCHES = 2
BATCH_CALL_S = 3.5  # a warm call on a 4-vCPU host
# MCP round trips in a fresh server (2 sessions) get faster for about 100
# requests: steeply over the first ~20, then by ~0.5% a request
SERVE_WARMUP_REQUESTS = 20
SERVE_REQUESTS_PER_S = 2.2  # the closed loop after warm-up, 4-vCPU host
MCP_SESSIONS = 2
TOOL = "search_documents"
# the end-to-end metrics, printed by every untraced run
UNITS = {"setup_s": "s",
         "index_bytes_per_input_byte": "B/B", "call_p50_ms": "ms",
         "queries_per_s": "1/s", "serving_rss_mb": "MB"}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", choices=WORKLOADS, required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_env(work: str, trace: bool) -> None:
    """Spark settings for this host; set before the JVM starts."""
    with open("/proc/meminfo") as f:
        total_gb = int(f.readline().split()[1]) // (1024 * 1024)
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 4)
    # session.py defaults to 48g; a quarter of the host, at most 4g, holds
    # a 1x index and a 32-query batch
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{max(1, min(4, total_gb // 4))}g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_UI"] = "true" if trace else "false"
    os.environ["PYSPARK_PYTHON"] = sys.executable


def dir_bytes(path: str) -> dict[str, int]:
    """Bytes of every file under each top-level entry of path."""
    out = {}
    for entry in os.listdir(path):
        full = os.path.join(path, entry)
        if os.path.isfile(full):
            out[entry] = os.path.getsize(full)
            continue
        out[entry] = sum(os.path.getsize(os.path.join(r, f))
                         for r, _, fs in os.walk(full) for f in fs)
    return out


def peak_rss_mb() -> float:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not in /proc/self/status")


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - any failure to exit: kill it
            proc.kill()
            proc.wait()


class Product:
    """One product session: corpus -> index -> engine (-> MCP server)."""

    def __init__(self, root: str, work: str, seed: int, tracer_factory=None):
        import corpus
        from duckdb_hybrid_doc_search_spark.index.builder import \
            index_directories
        from duckdb_hybrid_doc_search_spark.search.doc_engine import \
            DocSearchEngine
        from duckdb_hybrid_doc_search_spark.session import get_spark

        self.t0 = time.perf_counter()
        self.corpus_dir = os.path.join(work, "corpus")
        self.index_dir = os.path.join(work, "index")
        self.corpus = corpus.render(self.corpus_dir, seed,
                                    os.path.join(root, "fixtures", "docs"))
        log("corpus rendered")
        t = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.spark.range(1).count()
        self.session_start_s = time.perf_counter() - t
        self.tracer = tracer_factory(self.spark) if tracer_factory else None
        t = time.perf_counter()
        with self.span("index.build", rest=True):
            self.counts = index_directories(self.spark, [self.corpus_dir],
                                            self.index_dir)
        self.build_s = time.perf_counter() - t
        log("index built")
        self.index_bytes = dir_bytes(self.index_dir)
        t = time.perf_counter()
        self.engine = DocSearchEngine(self.spark, self.index_dir)
        self.engine_s = time.perf_counter() - t
        self.setup_base_s = time.perf_counter() - self.t0
        self.server = None

    def span(self, name, **kw):
        if self.tracer is None:
            from contextlib import nullcontext

            return nullcontext()
        return self.tracer.span(name, **kw)

    def start_server(self, tool_fn=None) -> int:
        """Serve the engine over MCP HTTP on a free localhost port."""
        from duckdb_hybrid_doc_search_spark.mcp_http import serve_http
        from duckdb_hybrid_doc_search_spark.mcp_stdio import \
            SEARCH_TOOL_SCHEMA
        from duckdb_hybrid_doc_search_spark.server import make_search_tool

        # `cli serve` defaults the path prefix to the index's parent dir
        tool = tool_fn or make_search_tool(
            self.engine, add_path_prefix=os.path.dirname(self.index_dir))
        ready = threading.Event()
        self.server_thread = threading.Thread(
            target=serve_http,
            args=(TOOL, "Search for local documents", SEARCH_TOOL_SCHEMA,
                  tool),
            kwargs={"host": "127.0.0.1", "port": 0, "ready": ready},
            daemon=True)
        self.server_thread.start()
        if not ready.wait(60):
            raise RuntimeError("MCP server did not bind")
        self.server = ready.server
        return self.server.server_address[1]

    def close(self) -> None:
        if self.server is not None:
            self.server.shutdown()
            self.server_thread.join(30)
        stop_spark(self.spark)  # drops the engine's cached tables too

    def metrics(self) -> dict[str, float]:
        return {
            "index_bytes_per_input_byte":
                sum(self.index_bytes.values()) / self.corpus["input_bytes"],
        }


# --- workloads: each returns the timed samples -------------------------------

def mcp_loop(port: int, stream: list[tuple[str, str]]) -> list[dict]:
    """Closed loop of MCP_SESSIONS sessions: each sends its next query when
    the previous reply arrives, until `stream` is used up. Queries are
    taken from `stream` in order, shared by the sessions. A call that fails
    in any way is kept as a sample with its error."""
    from mcp_client import McpSession

    lock = threading.Lock()
    pos = iter(range(len(stream)))
    samples: list[dict] = []
    errors: list[BaseException] = []

    def client():
        try:
            s = McpSession(port)
        except Exception as e:  # noqa: BLE001 - re-raised below
            errors.append(e)
            return
        try:
            while True:
                with lock:
                    i = next(pos, None)
                if i is None:
                    break
                cls, q = stream[i]
                rec = {"i": i, "cls": cls, "query": q, "error": None}
                t = time.perf_counter()
                try:
                    rec["results"] = s.search(TOOL, q, TOP_K)
                except Exception as e:  # noqa: BLE001 - counted as failed
                    rec["error"] = f"{type(e).__name__}: {e}"
                rec["start"], rec["end"] = t, time.perf_counter()
                with lock:
                    samples.append(rec)
        finally:
            s.close()

    threads = [threading.Thread(target=client) for _ in range(MCP_SESSIONS)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    if errors:
        raise RuntimeError(f"MCP session failed to start: {errors[0]}")
    return sorted(samples, key=lambda r: r["i"])


def timed_batch_calls(seconds: float) -> int:
    """Batch calls in the timed phase: at least 3, for a median."""
    return max(3, round(seconds / BATCH_CALL_S))


def timed_requests(seed: int, seconds: float) -> list[tuple[str, str]]:
    """The MCP queries of the timed phase, about --seconds' worth."""
    import streams

    # whole cycles of the stream's class sequence, so every run sends the
    # same mix
    cycle = len(streams.MCP_CYCLE)
    n = cycle * max(1, round(seconds * SERVE_REQUESTS_PER_S / cycle))
    return streams.mcp_stream(seed, n)


def batch_loop(engine, batches, span=None, alternate: bool = False
               ) -> list[dict]:
    """Run every batch, back to back. With `span`, batches run inside a
    span: every batch, or when `alternate` the middle two of each four
    (untraced, traced, traced, untraced), which cancels a steady drift."""
    samples = []
    for b in batches:
        queries = [q for _, q in b]
        traced = span is not None and (not alternate
                                       or len(samples) % 4 in (1, 2))
        t = time.perf_counter()
        if traced:
            with span("doc_engine.search_batch", rest=True):
                results = engine.search_batch(queries, top_k=TOP_K)
        else:
            results = engine.search_batch(queries, top_k=TOP_K)
        samples.append({"batch": b, "results": results, "traced": traced,
                        "start": t, "end": time.perf_counter()})
    return samples


def warm_server(port: int, seed: int) -> None:
    """Warm the MCP server with SERVE_WARMUP_REQUESTS calls from a query
    stream of its own, as the JVM keeps compiling the per-request planning
    path for tens of requests. A count, not a time, so that the timed
    phase starts at the same point of that curve on any host."""
    import streams

    warm = streams.mcp_stream(seed + 1, SERVE_WARMUP_REQUESTS)
    failed = [r for r in mcp_loop(port, warm) if r["error"] is not None]
    if failed:
        raise RuntimeError(f"MCP warm-up call failed: {failed[0]['error']}")


def batch_setup(product: Product, seed: int, n_timed: int,
                n_warm: int = WARMUP_BATCHES) -> list:
    """Run n_warm full batches, which compile the batch plans and let the
    JVM level off; returns the n_timed batches for the timed phase."""
    import streams

    all_batches = streams.batches(seed, n_warm + n_timed, BATCH_SIZE)
    for b in all_batches[:n_warm]:
        product.engine.search_batch([q for _, q in b], top_k=TOP_K)
    return all_batches[n_warm:]


def serve_samples_metrics(samples: list[dict]) -> dict[str, float]:
    ok = [r for r in samples if r["error"] is None]
    lat = [(r["end"] - r["start"]) * 1000.0 for r in ok]
    span = max(r["end"] for r in samples) - min(r["start"] for r in samples)
    return {"call_p50_ms": statistics.median(lat),
            "queries_per_s": len(ok) / span}


def batch_samples_metrics(samples: list[dict]) -> dict[str, float]:
    walls = [r["end"] - r["start"] for r in samples]
    return {"call_p50_ms": statistics.median(walls) * 1000.0,
            "queries_per_s": BATCH_SIZE * len(samples) / sum(walls)}


def check_samples(oracle, workload: str, samples: list[dict]) -> list[str]:
    """Oracle check of every served result list; one failure message per
    wrong or failed query."""
    if workload == "serve_mcp":
        items = [(r["query"], r["results"], r["error"]) for r in samples]
    else:
        items = [(q, res, None) for r in samples
                 for (_, q), res in zip(r["batch"], r["results"])]
    return oracle.check_all(items, TOP_K)


def check_outputs(product: Product, runs: list[tuple[str, list[dict]]]):
    """DuckDB checks of the index and of every (workload, samples) run;
    returns (attempted, failures)."""
    import checks

    con = checks.connect(product.index_dir)
    try:
        fails = checks.check_index(con)
        oracle = checks.SearchOracle(con, product.engine.meta.get(
            "tokenizer", "jp_heuristic"))
        for workload, samples in runs:
            fails += check_samples(oracle, workload, samples)
    finally:
        con.close()
    n_ops = sum(len(s) if w == "serve_mcp" else BATCH_SIZE * len(s)
                for w, s in runs)
    return 1 + n_ops, fails  # 1: the index build


def result(attempted: int, fails: list[str], metrics: dict[str, float],
           unit_of) -> dict:
    """The benchmark's result object; reports the first failures on
    stderr."""
    for f in fails[:20]:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    return {"correct": not fails, "attempted": attempted,
            "failed": len(fails),
            "metrics": {k: {"value": float(v), "unit": unit_of(k)}
                        for k, v in sorted(metrics.items())}}


def run_workload(product: Product, workload: str, seed: int,
                 seconds: float) -> dict:
    """Set up the workload's serving side, then run the timed phase.
    Returns {"metrics", "samples"}."""
    import streams

    if workload == "serve_mcp":
        port = product.start_server()
        warm_server(port, seed)
        setup_s = time.perf_counter() - product.t0
        log("server warm")
        samples = mcp_loop(port, timed_requests(seed, seconds))
        out = serve_samples_metrics(samples)
        classes = [r["cls"] for r in samples]
    else:
        timed = batch_setup(product, seed, timed_batch_calls(seconds))
        setup_s = time.perf_counter() - product.t0
        log("batch warm")
        samples = batch_loop(product.engine, timed)
        out = batch_samples_metrics(samples)
        classes = [c for r in samples for c, _ in r["batch"]]
    out.update(setup_s=setup_s, serving_rss_mb=peak_rss_mb())
    log(f"timed phase done: {len(samples)} calls, query classes "
        f"{json.dumps(streams.shares(classes))}")
    return {"metrics": out, "samples": samples}


def run(args, root: str, work: str) -> dict:
    product = Product(root, work, args.seed)
    try:
        res = run_workload(product, args.workload, args.seed, args.seconds)
        metrics = {**res["metrics"], **product.metrics()}
        attempted, fails = check_outputs(
            product, [(args.workload, res["samples"])])
        log("outputs checked")
    finally:
        product.close()
        log("session stopped")
    return result(attempted, fails, {k: metrics[k] for k in UNITS},
                  UNITS.get)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not (os.path.isdir(os.path.join(root, "duckdb_hybrid_doc_search_spark"))
            and os.path.isdir(os.path.join(root, "fixtures", "docs"))):
        print("perfbench: run from the repository root: the package and "
              "fixtures/docs are missing here", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, root]
    work = os.path.join(root, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    configure_env(work, bool(args.trace))
    try:
        if args.trace:
            import layers

            result = layers.run_traced(args, root, work)
        else:
            result = run(args, root, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
