"""Seeded documents and delta batches for the corpus workload.

Documents are random word sequences over a fixed vocabulary with English
stop words mixed in, so every document passes the curation gates (English
by the stop-word heuristic, 5..1000 tokens). A delta batch mixes, in fixed
counts:

- exact copies of already indexed documents (dropped as corpus dups);
- word-reversed copies of indexed documents (new shingles, kept);
- fresh documents (kept);
- exact copies of the batch's own fresh documents under larger ids
  (removed by curation's exact dedup, which keeps the smallest id).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

STOP = ("the", "a", "of", "and", "to")
# 880 content words of 4-5 letters: none is a stop word of any language
# the curation heuristic scores
VOCAB = tuple(
    c1 + v + c2 + v2 + s
    for c1 in "bdfgklmprst"
    for v in "aeiou"
    for c2 in "nrsx"
    for v2 in "ao"
    for s in ("", "l")
)

BOOTSTRAP_DOCS = 120
DELTA = {"exact": 20, "reversed": 20, "fresh": 50, "intra": 10}


def make_doc(rng: np.random.Generator) -> str:
    """20..60 words; every fourth is an English stop word, which keeps the
    stop-word ratio well above curation's 0.05 floor."""
    n = int(rng.integers(20, 61))
    words = []
    for i in range(n):
        if i % 4 == 3:
            words.append(STOP[int(rng.integers(len(STOP)))])
        else:
            words.append(VOCAB[int(rng.integers(len(VOCAB)))])
    return " ".join(words)


@dataclass
class Batch:
    batch_id: str
    rows: list[tuple[int, str]]
    expect: dict  # input / curated / kept / dropped_dup


class CorpusGen:
    """Tracks the indexed documents so later deltas can copy them."""

    def __init__(self, rng: np.random.Generator):
        self.rng = rng
        self.next_id = 0
        self.indexed: list[str] = []
        # reversal sources: never reversed before and not themselves
        # reversals, so a reversed copy is never an indexed text
        self.originals: list[str] = []
        self.n_batches = 0

    def _ids(self, n: int) -> list[int]:
        ids = list(range(self.next_id, self.next_id + n))
        self.next_id += n
        return ids

    def bootstrap(self) -> Batch:
        texts = [make_doc(self.rng) for _ in range(BOOTSTRAP_DOCS)]
        self.indexed.extend(texts)
        self.originals.extend(texts)
        n = len(texts)
        return Batch("b0000", list(zip(self._ids(n), texts)),
                     {"input": n, "curated": n, "kept": n, "dropped_dup": 0})

    def delta(self) -> Batch:
        self.n_batches += 1
        exact = [
            self.indexed[int(i)]
            for i in self.rng.choice(len(self.indexed), DELTA["exact"], replace=False)
        ]
        chosen = set(
            int(i) for i in self.rng.choice(len(self.originals), DELTA["reversed"], replace=False)
        )
        rev = [" ".join(reversed(self.originals[i].split(" "))) for i in sorted(chosen)]
        self.originals = [t for i, t in enumerate(self.originals) if i not in chosen]
        fresh = [make_doc(self.rng) for _ in range(DELTA["fresh"])]
        intra = [fresh[int(i)] for i in self.rng.choice(len(fresh), DELTA["intra"], replace=False)]
        # intra copies come last, so their ids are larger than the originals'
        texts = exact + rev + fresh + intra
        rows = list(zip(self._ids(len(texts)), texts))
        self.indexed.extend(rev + fresh)
        self.originals.extend(fresh)
        n_in = len(texts)
        n_cur = n_in - DELTA["intra"]
        n_kept = DELTA["reversed"] + DELTA["fresh"]
        return Batch(f"b{self.n_batches:04d}", rows,
                     {"input": n_in, "curated": n_cur, "kept": n_kept, "dropped_dup": n_cur - n_kept})
