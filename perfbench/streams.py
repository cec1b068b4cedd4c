"""Seeded query streams for the serving workloads.

Four query classes, chosen by what the search path does with them:

- broad: 1-4 corpus-vocabulary words; their postings span most chunks.
- selective: one document id from a `## <lang> doc <id>` header; the id
  term is in exactly one chunk of the 1x corpus.
- miss: words that occur nowhere in the corpus, so the FTS side is empty.
- repeat: an earlier query of the stream, verbatim (MCP stream only).

The sequence of classes, and the word count of each broad query, follow a
fixed cycle; the seed picks the words, ids and repeated queries. Seeds then
change what is searched, not how much of each kind, which keeps run-to-run
spread down.
"""

from __future__ import annotations

import random
import string
from collections import Counter

from corpus import DOCS_PER_CORPUS, VOCAB

CLASSES = ("broad", "selective", "miss", "repeat")
MCP_CYCLE = ("broad", "selective", "broad", "repeat", "miss",
             "broad", "selective", "broad", "repeat", "broad")
BATCH_CYCLE = ("broad", "selective", "broad", "miss",
               "broad", "selective", "broad", "broad")


def _miss_word(rng: random.Random) -> str:
    # no vocabulary word or number starts with "qx"
    return "qx" + "".join(rng.choice(string.ascii_lowercase) for _ in range(5))


def query(rng: random.Random, cls: str, n_words: int) -> str:
    """A fresh query of class `cls`; broad queries have n_words words, miss
    queries 1 or 2."""
    if cls == "broad":
        return " ".join(rng.sample(VOCAB, n_words))
    if cls == "selective":
        # ids below 100 also occur as small numbers in fixture documents
        return str(rng.randrange(100, DOCS_PER_CORPUS))
    return " ".join(_miss_word(rng) for _ in range(1 + n_words % 2))


def mcp_stream(seed: int, n: int) -> list[tuple[str, str]]:
    """n (class, query) pairs following MCP_CYCLE."""
    rng = random.Random(seed)
    out: list[tuple[str, str]] = []
    for i in range(n):
        cls = MCP_CYCLE[i % len(MCP_CYCLE)]
        if cls == "repeat":
            out.append((cls, rng.choice(out)[1]))
        else:
            out.append((cls, query(rng, cls, 1 + i % 4)))
    return out


def batches(seed: int, n_batches: int, size: int) -> list[list[tuple[str, str]]]:
    """n_batches batches of `size` queries following BATCH_CYCLE, broad
    ones of 2-4 words by position, so every batch has the same make-up; no
    query appears twice across all batches, so nothing repeats."""
    rng = random.Random(seed)
    seen: set[str] = set()
    out = []
    for _ in range(n_batches):
        batch: list[tuple[str, str]] = []
        while len(batch) < size:
            pos = len(batch)
            cls = BATCH_CYCLE[pos % len(BATCH_CYCLE)]
            q = query(rng, cls, 2 + (pos // len(BATCH_CYCLE)) % 3)
            if q not in seen:
                seen.add(q)
                batch.append((cls, q))
        out.append(batch)
    return out


def shares(classes: list[str]) -> dict[str, float]:
    """Share of each class among the queries actually sent."""
    c = Counter(classes)
    n = max(1, len(classes))
    return {k: round(c[k] / n, 4) for k in CLASSES}
