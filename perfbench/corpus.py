"""Seeded Markdown corpora for the benchmark.

The documents mimic the repo's synthetic `documents` table: a 31-word
vocabulary, 5 languages, 20 sources, 44-577 characters per text. They are
generated from the seed, never read from outside the checkout. Each source
becomes one Markdown file:

    # <source> part 0
    ## <lang> doc <id>
    <text>

`fixtures/docs` is copied in beside the rendered files, as the product must
index it too.
"""

from __future__ import annotations

import os
import random
import shutil

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
N_SOURCES = 20
DOCS_PER_CORPUS = 5000


def documents(seed: int, n: int = DOCS_PER_CORPUS) -> list[tuple[int, str, str, str]]:
    """(doc_id, source, lang, text) rows; 1 in 20 texts ends with 'dup'."""
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        words = [rng.choice(VOCAB) for _ in range(rng.randint(8, 96))]
        if rng.random() < 0.05:
            words.append("dup")
        rows.append((i, f"src{i % N_SOURCES}", rng.choice(LANGS), " ".join(words)))
    return rows


def render(out_dir: str, seed: int, fixtures_dir: str) -> dict:
    """Write the corpus under out_dir; returns its size facts."""
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    docs = documents(seed)
    by_src: dict[str, list[str]] = {}
    for doc_id, src, lang, text in docs:
        by_src.setdefault(src, []).append(f"## {lang} doc {doc_id}\n\n{text}\n")
    n_bytes = n_files = 0
    for src, sections in sorted(by_src.items()):
        body = f"# {src} part 0\n\n" + "\n".join(sections)
        with open(os.path.join(out_dir, f"{src}_part0.md"), "w",
                  encoding="utf-8") as f:
            f.write(body)
        n_bytes += len(body.encode("utf-8"))
        n_files += 1
    dst = os.path.join(out_dir, "fixtures")
    shutil.copytree(fixtures_dir, dst)
    for root, _, files in os.walk(dst):
        for name in files:
            if name.endswith(".md"):
                n_bytes += os.path.getsize(os.path.join(root, name))
                n_files += 1
    return {"input_bytes": n_bytes, "files": n_files, "docs": len(docs)}
