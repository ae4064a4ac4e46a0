"""Reference top-k answers, computed apart from the code they check.

The scores come straight from the index's long-format ``postings``
(term_id, doc_id, tf), its ``doc_sizes`` and the lexicon's term -> id
map, in numpy. Segments, codecs, the parser and the query executor
are not used, so a bug in block encoding, decoding or the executor's
per-batch setup shows as a wrong answer instead of being repeated on
both sides.

The scoring contract is the program's (``functions.scoring``): BM25
per posting with df = the term's posting count; each term's score
times its multiplicity in the query, rounded to integer micros;
micros summed per doc; positive sums only; the k best by score, ties
to the lower doc id; score = micros / 1e6.
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pandas as pd


def reference_topk(index, queries: pd.DataFrame) -> dict[str, tuple]:
    """query_id -> (doc ids, scores) in rank order, for every query in
    ``queries`` (query_id, terms, k)."""
    from pyspark.sql import functions as F

    from pisa_spark.functions.scoring import MICRO, bm25_score_np, to_micro_np

    if index.config.index.quantize_bits:
        raise ValueError("the reference scores BM25, not quantized impacts")
    bm25 = index.config.bm25
    wanted = sorted({t for terms in queries["terms"] for t in terms})
    lex = (index.lexicon.filter(F.col("term").isin(wanted))
           .select("term", "term_id").toPandas())
    sizes = index.doc_sizes.toPandas()
    num_docs = len(sizes)
    avg_len = int(sizes["doc_len"].sum()) / num_docs
    ids = [int(t) for t in lex["term_id"]]
    post = (index.postings.filter(F.col("term_id").isin(ids)).toPandas()
            .merge(sizes, on="doc_id").sort_values(["term_id", "doc_id"]))

    # term -> (doc ids, unweighted BM25 score per posting)
    lists = {}
    term_of = dict(zip(lex["term_id"].astype(int), lex["term"]))
    for term_id, g in post.groupby("term_id", sort=False):
        n = len(g)
        lists[term_of[int(term_id)]] = (
            g["doc_id"].to_numpy(np.int64),
            bm25_score_np(g["tf"].to_numpy(), np.full(n, n),
                          g["doc_len"].to_numpy(), num_docs, avg_len,
                          k1=bm25.k1, b=bm25.b),
        )

    out = {}
    for qid, terms, k in zip(queries["query_id"], queries["terms"],
                             queries["k"]):
        parts = [(lists[t][0], to_micro_np(lists[t][1], float(w)))
                 for t, w in Counter(terms).items() if t in lists]
        if not parts:
            out[qid] = (np.empty(0, np.int64), np.empty(0))
            continue
        docs, inv = np.unique(np.concatenate([d for d, _ in parts]),
                              return_inverse=True)
        micros = np.zeros(len(docs), np.int64)
        np.add.at(micros, inv, np.concatenate([m for _, m in parts]))
        keep = micros > 0
        docs, micros = docs[keep], micros[keep]
        order = np.lexsort((docs, -micros))[:int(k)]
        out[qid] = (docs[order], micros[order] / MICRO)
    return out
