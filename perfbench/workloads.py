"""The four benchmark workloads (BENCHMARK.json lists query_batch and
dedup; query_interactive and build are for by-hand runs).

Each workload has the same life cycle, driven by ``run.py``:

- ``setup()``    generate and persist the seeded inputs, warm the path
                 the ops take (its time is part of ``setup_s``);
- ``op(i, traced)``  one timed operation; returns (items, result);
- ``answer(i, result)``  untimed: turn the result into the answer to
                 check (the build workload answers its probe set here);
- ``check(answers)``  untimed: op index -> error for every wrong answer;
- ``corrupt(answer)``  deliberately break one answer (benchmark self-test).

A traced op runs each layer as its own action inside a span named
after the layer's module and reads Spark's plan metrics for it; an
untraced op is the plain public call a user makes.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd

from inputs import (
    jaccard, plant_duplicates, shingle_set, synth_corpus, zipf_queries,
)
from layers import TermLists, collect_timed, kernel_replay, plan_metrics
from reference import reference_topk

ALGORITHM = "block_max_wand"
JACCARD_MIN = 0.8  # datapipe.dedup.TAU_MICRO / 1e6
PLANTED_RECALL_MIN = 0.99


@dataclass(frozen=True)
class Sizes:
    build_docs: int
    probe_queries: int
    query_docs: int
    batch_queries: int
    interactive_pool: int
    dedup_docs: int
    dedup_planted: int
    gen_reps: int


SIZES = {
    "full": Sizes(build_docs=8000, probe_queries=20, query_docs=8000,
                  batch_queries=250, interactive_pool=200, dedup_docs=4000,
                  dedup_planted=400, gen_reps=2),
    # self-test size: every code path, seconds instead of minutes
    "tiny": Sizes(build_docs=600, probe_queries=5, query_docs=600,
                  batch_queries=40, interactive_pool=10, dedup_docs=400,
                  dedup_planted=20, gen_reps=1),
}


class Context:
    def __init__(self, spark, seed: int, sizes: Sizes, work: str, tracer):
        self.spark = spark
        self.seed = seed
        self.sizes = sizes
        self.work = work
        self.tracer = tracer
        self.gen_s: list[float] = []  # one entry per input generation

    def generate(self, make) -> None:
        """Run the input generation ``gen_reps`` times (same seed, same
        bytes) and keep each time: setup reports their median."""
        for _ in range(self.sizes.gen_reps):
            t = time.perf_counter()
            make()
            self.gen_s.append(time.perf_counter() - t)

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def write_corpus(self, n_docs: int) -> None:
        """Generate the seeded pages and persist them."""
        self.generate(lambda: synth_corpus(self.spark, n_docs, self.seed)
                      .write.mode("overwrite").parquet(self.path("pages")))

    def pages(self):
        return self.spark.read.parquet(self.path("pages"))


def _force(df) -> tuple[int, dict]:
    """Materialize a persisted frame with its own action; returns its
    row count and the plan metrics of the job that built it."""
    from pyspark.sql import functions as F

    act = df.agg(F.count(F.lit(1)).alias("n"))
    n = int(act.collect()[0]["n"])
    return n, plan_metrics(act, through_cache=True)


def staged_build(pages, tracer, request: str):
    """``index.build_index`` (cache=True) with each stage forced by its
    own action inside a span: forward, invert, segments. The stage
    calls and their order are build_index's default-config path; every
    staged index is compared with a ``build_index`` one by
    ``fingerprint`` (see ``_Query.setup`` and ``Build.answer``), so a
    change to build_index that this copy misses fails the run."""
    from pyspark.sql import functions as F

    from pisa_spark.build import (
        build_doc_sizes, build_postings, build_segments, build_term_ids,
        build_term_meta, collection_stats, lexicon_with_df, tokenize_pages,
    )
    from pisa_spark.build.forward import ID_BROADCAST_ROWS
    from pisa_spark.build.segments import scored_postings
    from pisa_spark.config import EngineConfig
    from pisa_spark.index import InvertedIndex

    config = EngineConfig()
    if config.index.quantize_bits or config.index.compress_blockmax:
        raise ValueError("staged_build covers neither quantize_bits nor "
                         "compress_blockmax, which the default config "
                         "now turns on")
    bcast = config.index.lexicon_broadcast_threshold
    id_stats: dict = {}
    with tracer.span("forward", request) as attrs:
        docs = tokenize_pages(
            pages, config.analyzer, stats_out=id_stats,
            id_broadcast_rows=min(bcast, ID_BROADCAST_ROWS),
        ).persist()
        _, m = _force(docs)
        attrs["python_total_s"] = m.get("pythonTotalTime", 0.0)
    with tracer.span("invert", request) as attrs:
        vocab: dict = {}
        term_ids = build_term_ids(docs, count_out=vocab)
        doc_sizes = build_doc_sizes(docs)
        postings = build_postings(
            docs, term_ids, lexicon_size=vocab["n_rows"],
            broadcast_threshold=bcast, carry_doc_len=True,
        ).persist()
        n_postings, m = _force(postings)
        lexicon = lexicon_with_df(term_ids, postings).localCheckpoint(
            eager=False)
        stats = collection_stats(doc_sizes).collect()[0]
        attrs.update(postings=n_postings,
                     shuffle_bytes=m.get("shuffleBytesWritten", 0.0),
                     shuffle_write_s=m.get("shuffleWriteTime", 0.0))
    num_docs, avg_len = int(stats["num_docs"]), float(stats["avg_len"])
    if id_stats and num_docs != id_stats["n_rows"]:
        raise ValueError("duplicate urls in input")  # as build_index
    with tracer.span("segments", request) as attrs:
        scored = scored_postings(
            postings, doc_sizes, lexicon, num_docs, avg_len,
            lexicon_size=vocab["n_rows"], broadcast_threshold=bcast,
        )
        term_meta = build_term_meta(scored, num_docs, avg_len,
                                    config.bm25).persist()
        segments = build_segments(scored, num_docs, avg_len, config.index,
                                  config.bm25).persist()
        size = (F.length("doc_bytes") + F.length("tf_bytes")
                + F.length("len_bytes"))
        act = segments.agg(F.count(F.lit(1)).alias("blocks"),
                           F.sum(size).alias("bytes"))
        row = act.collect()[0]
        m = plan_metrics(act, through_cache=True)
        _force(term_meta)
        attrs.update(python_total_s=m.get("pythonTotalTime", 0.0),
                     blocks=int(row["blocks"]), bytes=int(row["bytes"]),
                     bytes_per_posting=int(row["bytes"]) / n_postings)
    return InvertedIndex(
        lexicon=lexicon, docmap=docs.select("doc_id", "url"),
        doc_sizes=doc_sizes, postings=postings.select("term_id", "doc_id", "tf"),
        segments=segments, term_meta=term_meta, num_docs=num_docs,
        avg_len=avg_len, collection_len=int(stats["collection_len"]),
        config=config, num_terms=int(vocab["n_rows"]),
    )


def fingerprint(index) -> dict:
    """What a staged build must reproduce of ``build_index``: the
    segment rows (count, payload bytes, content hash), a content hash
    of term_meta and the collection stats."""
    from pyspark.sql import functions as F

    def row_hash(df):
        return F.sum(F.hash(*df.columns).cast("long"))

    seg = index.segments
    size = (F.length("doc_bytes") + F.length("tf_bytes")
            + F.length("len_bytes"))
    row = seg.agg(F.count(F.lit(1)).alias("blocks"),
                  F.sum(size).alias("bytes"),
                  row_hash(seg).alias("segments_hash")).collect()[0]
    meta = index.term_meta.agg(row_hash(index.term_meta)).collect()[0][0]
    return {**row.asDict(), "term_meta_hash": meta,
            "num_docs": index.num_docs, "avg_len": index.avg_len}


def built_index(ctx: Context, traced: bool, request: str):
    """A fully built index with segments and term_meta materialized."""
    if traced:
        return staged_build(ctx.pages(), ctx.tracer, request)
    from pisa_spark.index import build_index

    index = build_index(ctx.spark, ctx.pages())
    index.segments.persist().count()
    index.term_meta.persist().count()
    return index


def rows_by_query(rows) -> dict[str, tuple]:
    """Collected (query_id, rank, doc_id, score) rows -> query_id ->
    (doc ids, scores) in rank order."""
    out: dict[str, list] = {}
    for r in rows:
        out.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], r["score"]))
    return {
        q: (np.array([d for _, d, _ in sorted(v)], np.int64),
            np.array([s for _, _, s in sorted(v)], np.float64))
        for q, v in out.items()
    }


def same_answer(got_docs, got_scores, ref) -> bool:
    """Rank-identical: same doc ids in the same order, same scores."""
    ref_docs, ref_scores = ref
    return (len(got_docs) == len(ref_docs)
            and np.array_equal(np.asarray(got_docs, np.int64), ref_docs)
            and np.array_equal(np.asarray(got_scores, np.float64),
                               np.asarray(ref_scores, np.float64)))


def topk_errors(got: dict, ref: dict) -> list[str]:
    empty = (np.empty(0, np.int64), np.empty(0))
    bad = [q for q in ref if not same_answer(*got.get(q, empty), ref[q])]
    bad += [q for q in got if q not in ref]
    return [f"query {q}: top-k differs from the reference" for q in bad[:5]]


def corrupt_topk(answer: dict) -> dict:
    """Shift the top score of the first non-empty answer by one micro."""
    for q, (docs, scores) in answer.items():
        if len(scores):
            return {**answer, q: (docs, scores + np.where(
                np.arange(len(scores)) == 0, 1e-6, 0.0))}
    return answer


class Build:
    name = "build"

    def __init__(self, ctx: Context):
        self.ctx = ctx

    def setup(self):
        ctx = self.ctx
        ctx.write_corpus(ctx.sizes.build_docs)
        self.probes = zipf_queries(ctx.sizes.probe_queries,
                                   ctx.sizes.build_docs, ctx.seed, "p")
        with ctx.tracer.span("warmup", "setup"):
            index = built_index(ctx, False, "setup")
            self.reference = reference_topk(index, self.probes)
            self.fingerprint = fingerprint(index)
        ctx.spark.catalog.clearCache()

    def op(self, i: int, traced: bool):
        return self.ctx.sizes.build_docs, built_index(self.ctx, traced, f"op{i}")

    def answer(self, i: int, index):
        """The fresh index answers the probe set through the executor
        and has its fingerprint taken (the staged build of a traced op
        must equal build_index); then its cache is dropped before the
        next build."""
        from pisa_spark.query.executor import topk_search_batch
        from pisa_spark.query.parser import parse_queries

        qdf = self.ctx.spark.createDataFrame(
            self.probes, schema="query_id string, terms array<string>, k int")
        parsed = parse_queries(qdf, index.lexicon, pre_tokenized=True)
        rows = topk_search_batch(index, parsed, algorithm=ALGORITHM).collect()
        got = fingerprint(index)
        self.ctx.spark.catalog.clearCache()
        return rows_by_query(rows), got

    def check(self, answers: dict) -> dict[int, str]:
        errors = {}
        for i, (got, print_) in answers.items():
            bad = topk_errors(got, self.reference)
            if print_ != self.fingerprint:
                bad.append(f"index {print_} differs from build_index's "
                           f"{self.fingerprint}")
            if bad:
                errors[i] = "; ".join(bad)
        return errors

    def corrupt(self, answer):
        got, print_ = answer
        return corrupt_topk(got), print_


class _Query:
    """Shared setup of the query workloads: the seeded corpus built
    once into a cached in-memory index (a long-lived query session),
    then one warm-up op."""

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.used: dict[int, pd.DataFrame] = {}

    def setup(self):
        ctx = self.ctx
        ctx.write_corpus(ctx.sizes.query_docs)
        if ctx.tracer.enabled:
            # the traced run queries a staged build: it must be the
            # index build_index makes of the same pages
            with ctx.tracer.span("build_index", "setup"):
                want = fingerprint(built_index(ctx, False, "setup"))
                ctx.spark.catalog.clearCache()
        self.index = built_index(ctx, ctx.tracer.enabled, "setup")
        if ctx.tracer.enabled:
            got = fingerprint(self.index)
            if got != want:
                raise RuntimeError(
                    f"staged_build made {got}, build_index made {want}")
        self.pool = self.make_pool()
        with ctx.tracer.span("warmup", "setup"):
            self.run_queries(self.pool_slice(-1), traced=False, request="warmup")

    def op(self, i: int, traced: bool):
        queries = self.pool_slice(i)
        self.used[i] = queries
        rows = self.run_queries(queries, traced, f"op{i}")
        return len(queries), rows

    def answer(self, i: int, rows):
        return rows_by_query(rows)

    def check(self, answers: dict) -> dict[int, str]:
        if not answers:
            return {}
        queries = pd.concat([self.used[i] for i in answers]).drop_duplicates(
            "query_id")
        ref = reference_topk(self.index, queries)
        errors = {}
        for i, got in answers.items():
            mine = {q: ref[q] for q in self.used[i]["query_id"]}
            bad = topk_errors(got, mine)
            if bad:
                errors[i] = "; ".join(bad)
        return errors

    corrupt = staticmethod(corrupt_topk)

    def traced_search(self, search, parsed, queries, request):
        """parser and executor each forced in their own span, with the
        executor's segment-row scan alone timed as a separate action,
        then the kernel replay over the same queries' decoded lists."""
        from pyspark.sql import functions as F

        tracer = self.ctx.tracer
        with tracer.span("parser", request):
            parsed = parsed.localCheckpoint(eager=True)
        with tracer.span("executor.scan", request):
            terms = F.broadcast(parsed.select("term_id").distinct())
            self.index.segments.join(terms, "term_id").agg(
                F.count(F.lit(1))).collect()
        with tracer.span("executor", request) as attrs:
            df = search(self.index, parsed, algorithm=ALGORITHM)
            rows, collect_s = collect_timed(df)
            m = plan_metrics(df)
            attrs.update(
                collect_s=collect_s,
                shuffle_bytes=m.get("shuffleBytesWritten", 0.0),
                # worker boot is 0 once workers are reused; init (UDF
                # deserialization and setup) is paid on every task
                python_boot_s=m.get("pythonBootTime", 0.0)
                + m.get("pythonInitTime", 0.0),
                python_total_s=m.get("pythonTotalTime", 0.0),
                python_bytes_sent=m.get("pythonDataSent", 0.0),
                python_bytes_received=m.get("pythonDataReceived", 0.0),
            )
        lists = TermLists(self.index, parsed.toPandas())
        kernel_replay(lists, list(queries["query_id"]), tracer, request)
        return rows


class QueryBatch(_Query):
    name = "query_batch"

    def make_pool(self):
        s = self.ctx.sizes
        return zipf_queries(16 * s.batch_queries, s.query_docs, self.ctx.seed)

    def pool_slice(self, i: int) -> pd.DataFrame:
        n = self.ctx.sizes.batch_queries
        b = i % (len(self.pool) // n)
        return self.pool.iloc[b * n:(b + 1) * n]

    def run_queries(self, queries, traced, request):
        from pisa_spark.query.executor import topk_search_batch
        from pisa_spark.query.parser import parse_queries

        qdf = self.ctx.spark.createDataFrame(
            queries, schema="query_id string, terms array<string>, k int")
        parsed = parse_queries(qdf, self.index.lexicon, pre_tokenized=True)
        if traced:
            return self.traced_search(topk_search_batch, parsed, queries,
                                      request)
        return topk_search_batch(self.index, parsed,
                                 algorithm=ALGORITHM).collect()


class QueryInteractive(_Query):
    name = "query_interactive"

    def make_pool(self):
        s = self.ctx.sizes
        return zipf_queries(s.interactive_pool, s.query_docs, self.ctx.seed)

    def pool_slice(self, i: int) -> pd.DataFrame:
        j = i % len(self.pool)
        return self.pool.iloc[j:j + 1]

    def run_queries(self, queries, traced, request):
        """One query as a user sends it: raw text through the analyzer
        (``parse_queries`` text path), query-major ``topk_search``."""
        from pisa_spark.query.executor import topk_search
        from pisa_spark.query.parser import parse_queries

        q = queries.iloc[0]
        qdf = self.ctx.spark.createDataFrame(
            [(q["query_id"], " ".join(q["terms"]), int(q["k"]))],
            schema="query_id string, text string, k int")
        parsed = parse_queries(qdf, self.index.lexicon)
        if traced:
            return self.traced_search(topk_search, parsed, queries, request)
        return topk_search(self.index, parsed, algorithm=ALGORITHM).collect()


class Dedup:
    name = "dedup"

    def __init__(self, ctx: Context):
        self.ctx = ctx

    def setup(self):
        ctx = self.ctx
        s = ctx.sizes
        n_base = s.dedup_docs - s.dedup_planted

        def make():
            texts = [r["text"] for r in synth_corpus(
                ctx.spark, n_base, ctx.seed).select("text").collect()]
            copies, self.planted = plant_duplicates(
                texts, s.dedup_planted, n_base, ctx.seed)
            self.texts = texts + copies
            ctx.spark.createDataFrame(
                pd.DataFrame({"doc_id": np.arange(len(self.texts),
                                                  dtype=np.int64),
                              "text": self.texts})
            ).write.mode("overwrite").parquet(ctx.path("dedup_docs"))

        ctx.generate(make)
        # the MinHash path is still getting faster after one run (JIT);
        # two warm-up runs put every timed run past the steep part
        with ctx.tracer.span("warmup", "setup"):
            for _ in range(2):
                self.op(-1, traced=False)

    def docs(self):
        return self.ctx.spark.read.parquet(self.ctx.path("dedup_docs"))

    def op(self, i: int, traced: bool):
        from pisa_spark.datapipe.dedup import minhash_lsh_pairs

        if traced:
            return len(self.texts), self.traced_pairs(f"op{i}")
        return len(self.texts), minhash_lsh_pairs(self.docs()).collect()

    def traced_pairs(self, request: str):
        from pisa_spark.datapipe.dedup import (
            MAX_BUCKET, minhash_bands, minhash_lsh_pairs,
        )
        from pisa_spark.datapipe.tokens import shingles_df

        tracer = self.ctx.tracer
        docs = self.docs()
        with tracer.span("dedup", request) as attrs:
            with tracer.span("dedup.signatures", request):
                shd = shingles_df(docs).persist()
                _, m_shd = _force(shd)
                bands = minhash_bands(docs, shd=shd).persist()
                _, m_sig = _force(bands)
            with tracer.span("dedup.pairs", request):
                pairs = minhash_lsh_pairs(docs, shd=shd, bands=bands)
                rows = pairs.collect()
                m_pairs = plan_metrics(pairs)
            b = bands.toPandas()
            shd.unpersist()
            bands.unpersist()
        sizes = b.groupby(["band_id", "band_key"])["doc_id"].transform("size")
        cand = set()
        for _, g in b[sizes <= MAX_BUCKET].groupby(["band_id", "band_key"]):
            ids = sorted(g["doc_id"])
            cand.update((x, y) for k, x in enumerate(ids) for y in ids[k + 1:])
        found = {(r["doc_a"], r["doc_b"]) for r in rows}
        attrs.update(
            shuffle_bytes=sum(m.get("shuffleBytesWritten", 0.0)
                              for m in (m_shd, m_sig, m_pairs)),
            candidates=len(cand), verified_pairs=len(rows),
            candidate_precision=len(rows) / len(cand) if cand else 0.0,
            planted_recall=len(found & set(self.planted)) / len(self.planted),
        )
        return rows

    def answer(self, i: int, rows):
        return {(int(r["doc_a"]), int(r["doc_b"])) for r in rows}

    def check(self, answers: dict) -> dict[int, str]:
        planted = set(self.planted)
        shingles: dict[int, set] = {}

        def sh(d):
            if d not in shingles:
                shingles[d] = shingle_set(self.texts[d])
            return shingles[d]

        errors = {}
        for i, pairs in answers.items():
            low = [p for p in pairs if jaccard(sh(p[0]), sh(p[1])) < JACCARD_MIN]
            recall = len(pairs & planted) / len(planted)
            msg = []
            if low:
                msg.append(f"{len(low)} pairs below Jaccard {JACCARD_MIN}, "
                           f"e.g. {sorted(low)[0]}")
            if recall < PLANTED_RECALL_MIN:
                msg.append(f"planted recall {recall:.4f} < {PLANTED_RECALL_MIN}")
            if msg:
                errors[i] = "; ".join(msg)
        return errors

    def corrupt(self, answer: set) -> set:
        """Report a pair of two unrelated base documents."""
        return answer | {(0, 1)}


WORKLOADS = {w.name: w for w in (Build, QueryBatch, QueryInteractive, Dedup)}
