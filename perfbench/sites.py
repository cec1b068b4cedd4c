"""Which top-k scan sites and dedup cell-pair bodies a workload reaches.

Runs one workload (run.py, traced or not) under a profile hook that
records every function of the package entered on the driver, then reports,
per site, whether the driver function that owns it was entered. A site's
body runs on executors only inside the plan that function builds, so a
function never entered means its site never ran. `cell_pairs` and
`cell_stats` are nested functions that run only in Python workers, so
their enclosing driver functions stand for them.

Sites: the nine copies of the top-k scan body (operators/knn.py,
index/ivf_layout.py, search/engine.py) and the three pair-GEMM bodies of
operators/dedup.py.

Run from the repository root:

    python3 perfbench/sites.py --workload serve_mcp --seed 1 --seconds 10 --trace 1
"""

from __future__ import annotations

import json
import os
import sys
import threading

SITES = {
    "operators/knn.py": ("knn_join", "matryoshka_recall",
                         "knn_classify_accuracy", "pq_topk", "ivfpq_topk",
                         "ivfpq_residual_topk", "hard_negatives"),
    "index/ivf_layout.py": ("ivf_frozen_layout_topk",),
    "search/engine.py": ("hybrid_search_batch",),
    # _embedding_pairs_gemm, and the functions around cell_pairs and
    # cell_stats
    "operators/dedup.py": ("_embedding_pairs_gemm", "dedup_embedding_ivf",
                           "_semdedup_with_centroids"),
}


def main() -> int:
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path.insert(0, here)
    import run

    pkg = os.path.join(os.getcwd(), "duckdb_hybrid_doc_search_spark") + os.sep
    entered: set[tuple[str, str]] = set()

    def hook(frame, event, arg):
        if event == "call":
            f = frame.f_code.co_filename
            if f.startswith(pkg):
                entered.add((f[len(pkg):], frame.f_code.co_name))

    sys.setprofile(hook)
    threading.setprofile(hook)
    try:
        code = run.main(sys.argv[1:])
    finally:
        sys.setprofile(None)
        threading.setprofile(None)
    report = {f"{path}:{fn}": (path, fn) in entered
              for path, fns in SITES.items() for fn in fns}
    # controls: serve_mcp enters `search`, search_batch `search_batch`
    controls = {f"search/doc_engine.py:{fn}": ("search/doc_engine.py", fn)
                in entered for fn in ("search", "search_batch")}
    print(json.dumps({"sites_entered": report, "controls": controls}))
    return code


if __name__ == "__main__":
    sys.exit(main())
