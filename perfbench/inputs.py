"""Seeded inputs for the benchmark workloads.

Everything the program receives is generated here from ``--seed``:
the same seed gives the same corpus, queries and planted duplicates.

- Corpora are ``corpus.synth_pages`` pages with a Zipf vocabulary of
  ``n_docs // 10`` terms (the shape every scaling record uses).
- Queries draw 1-7 terms from that SAME vocabulary size and Zipf
  exponent, so tail terms are in vocabulary (``corpus.synth_queries``
  defaults to a fixed 20 000-term vocabulary, which a corpus of
  ``n_docs // 10`` terms does not cover).
- The dedup corpus plants near-duplicate copies of long pages. Each
  copy differs from its source by a few substituted tokens, kept only
  while the exact 3-shingle Jaccard stays at or above ``PLANT_MIN_JACCARD``
  (well above the program's 0.8 threshold). The planted pairs are the
  ground truth the dedup check measures recall against.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

ZIPF_S = 1.1
MAX_LEN = 200
MAX_QUERY_TERMS = 7
SHINGLE_K = 3
# Planted copies stay far enough above the 0.8 threshold that banded
# LSH (8 bands x 4 rows) misses one with probability < 1e-3.
PLANT_MIN_JACCARD = 0.9
PLANT_MIN_TOKENS = 80


def vocab_size(n_docs: int) -> int:
    return max(50, n_docs // 10)


def synth_corpus(spark, n_docs: int, seed: int):
    """Seeded ``pages`` DataFrame (lazy; callers persist it to disk)."""
    from pisa_spark.corpus import synth_pages

    return synth_pages(
        spark, n_docs, seed=seed, vocab_size=vocab_size(n_docs),
        zipf_s=ZIPF_S, max_len=MAX_LEN,
    )


def zipf_queries(n_queries: int, n_docs: int, seed: int,
                 prefix: str = "q") -> pd.DataFrame:
    """(query_id, terms, k=10): Zipf terms over the corpus's own
    vocabulary (duplicates allowed, as weighted query terms). Query i
    has 1 + i % 7 terms, so any run of consecutive queries holds the
    same length mix whatever the seed; the terms come from the seed."""
    from pisa_spark.corpus import zipf_cdf

    rng = np.random.default_rng([seed, 1])
    cdf = zipf_cdf(vocab_size(n_docs), ZIPF_S)
    n_terms = 1 + np.arange(n_queries) % MAX_QUERY_TERMS
    ranks = np.searchsorted(cdf, rng.random(int(n_terms.sum())), side="right")
    rows, at = [], 0
    for i, n in enumerate(n_terms):
        rows.append((f"{prefix}{i:05d}",
                     [f"term{r:06d}" for r in ranks[at:at + n]], 10))
        at += n
    return pd.DataFrame(rows, columns=["query_id", "terms", "k"])


_SPLIT = re.compile(r"\s+")


def shingle_set(text: str, k: int = SHINGLE_K) -> set[str]:
    """The program's shingle rule (datapipe.tokens): lowercase, split
    on whitespace runs, drop empty tokens, k-token windows."""
    toks = [t for t in _SPLIT.split(text.lower()) if t]
    return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if (a or b) else 0.0


def plant_duplicates(texts: list[str], n_planted: int, n_docs: int,
                     seed: int) -> tuple[list[str], list[tuple[int, int]]]:
    """Copies of ``n_planted`` distinct long source texts, each with a
    few tokens substituted. Returns (copy texts, planted pairs) where a
    pair is (source index, copy index) and copy index counts on from
    ``len(texts)``."""
    rng = np.random.default_rng([seed, 2])
    long_ids = [i for i, t in enumerate(texts)
                if len(t.split()) >= PLANT_MIN_TOKENS]
    if len(long_ids) < n_planted:
        raise ValueError(
            f"only {len(long_ids)} sources of >= {PLANT_MIN_TOKENS} tokens "
            f"for {n_planted} planted copies")
    sources = rng.choice(long_ids, size=n_planted, replace=False)
    v = vocab_size(n_docs)
    copies, pairs = [], []
    for src in sorted(int(s) for s in sources):
        toks = texts[src].split()
        base = shingle_set(texts[src])
        edits = int(rng.integers(1, 4))
        while True:
            out = list(toks)
            for pos in rng.choice(len(toks), size=edits, replace=False):
                out[pos] = f"term{int(rng.integers(0, v)):06d}"
            text = " ".join(out)
            if edits == 0 or jaccard(base, shingle_set(text)) >= PLANT_MIN_JACCARD:
                break
            edits -= 1
        pairs.append((src, len(texts) + len(copies)))
        copies.append(text)
    return copies, pairs
