"""Distributed query execution: fan kernels out with applyInPandas.

Every ranked top-k call runs through ONE executor (``_topk``): one
prologue (Stats, threshold guard, k default), one kernel-task body
(``_run_group``: term prototypes built once per group by
``_build_batch_protos``, walked per query by ``_walk_batch_queries``)
and one output assembly. The two public entry points differ only in
how they group work:

- ``topk_search`` (query-major, mirrors tools/queries.cpp:175-288):
  one group per query; its terms' segment rows reach it through a
  broadcast-hash join against the big segment table (the query side
  broadcasts — segments never move). The low-latency shape.
- ``topk_search_batch`` (batch-major): queries hash into ``batches``
  groups cogrouped with each batch's DISTINCT term lists, so a list
  shared by many queries ships and decodes once per batch. The
  throughput shape.

``ranges=True`` on either wraps the same body in doc-range execution
(range_query.hpp:8-37 — a wrapper around any algorithm, not a second
engine): groups split further by docID bucket, kernels produce partial
top-k per bucket, and one window merges the heaps. This is the
10^12-doc path: no task ever sees a full head-term posting list.

No shape touches any global per-document structure: doc lengths are
encoded inside each segment block (segments.py ``len_bytes``), so
there is no driver-side collect and no broadcast of anything
proportional to the corpus — the reference's design of keeping
lengths with the wand data (wand_data.hpp:38-117), in Spark form.
"""

from __future__ import annotations

import math
from dataclasses import replace

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, Window

from pisa_spark.build.segments import blocks_per_bucket
from pisa_spark.codecs import CODECS
from pisa_spark.functions.scoring import MICRO
from pisa_spark.index import InvertedIndex
from pisa_spark.query.kernels import (
    CappedBlockCache,
    adaptive_kernel,
    PRUNE_EPS,
    Profiler,
    Stats,
    TermPostings,
    and_kernel,
    block_max_maxscore_kernel,
    block_max_ranked_and_kernel,
    block_max_wand_kernel,
    maxscore_kernel,
    or_kernel,
    ranked_and_kernel,
    ranked_or_kernel,
    wand_kernel,
)

RANKED_KERNELS = {
    # per-query algorithm selection from pre-decode metadata
    # (kernels.choose_algorithm) — latency-only, answers identical
    "adaptive": adaptive_kernel,
    "ranked_or": ranked_or_kernel,
    "ranked_and": ranked_and_kernel,
    "block_max_ranked_and": block_max_ranked_and_kernel,
    "wand": wand_kernel,
    "block_max_wand": block_max_wand_kernel,
    "block_max_maxscore": block_max_maxscore_kernel,
    "maxscore": maxscore_kernel,
}
BOOLEAN_KERNELS = {"and": and_kernel, "or": or_kernel}

# Algorithms whose score is a sum over ALL matching terms of >= 0
# contributions (disjunctive semantics). Only for these is a cached
# k-th best SINGLE-TERM score a lower bound on the query's k-th final
# score. Conjunctive algorithms (ranked_and / block_max_ranked_and)
# restrict candidates to the intersection, whose k-th score can be
# LOWER than one term's k-th score — bootstrapping them with the same
# cache silently drops valid results, so _topk rejects it.
DISJUNCTIVE_ALGORITHMS = frozenset(
    {"ranked_or", "wand", "block_max_wand", "block_max_maxscore",
     "maxscore", "adaptive"}  # adaptive dispatches to disjunctive only
)

# Scan pruning: push the workload's distinct term_ids into the parquet
# segment scan as a literal IN filter. The broadcast-hash join already
# restricts ROWS, but a join alone prunes nothing at the SCAN — every
# query batch reads the full 100TB segment table. An IN(term_id)
# predicate reaches the parquet reader (PushedFilters) and skips whole
# row groups via min/max + dictionary stats, which is what makes the
# per-batch read O(workload lists), not O(corpus) — provided segments
# were written sorted by term_id (build/pipeline.py does). The id list
# is WORKLOAD-sized (distinct query terms, capped), never corpus-sized.
SCAN_PRUNE_MAX_TERMS = 4096
# Auto mode additionally disengages when the workload covers more than
# this fraction of the vocabulary: with terms spread across most row
# groups the IN filter skips nothing and just adds a collect job plus
# per-row filter work (measured 12% slower on a 3200-query batch over
# a 6.4k-term vocab). At 10^12-doc scale (vocab >= 10^8) any workload
# under SCAN_PRUNE_MAX_TERMS passes trivially — the fraction gate only
# bites small-vocab corpora, exactly where pruning cannot help.
# scan_prune=True bypasses the fraction gate (forced).
SCAN_PRUNE_MAX_VOCAB_FRAC = 0.02


def _is_bare_relation(df: DataFrame) -> bool:
    """True iff ``df`` is a direct table read (file-source relation at
    the analyzed-plan root, no computation on top) — the artifact-backed
    index shape produced by BuildPipeline.run / IncrementalIndexer._read
    where an extra tiny collect to build the pushdown filter is always
    worth one avoided full scan. In-memory indexes (the test/bench gate
    builds) skip pruning: their segment "scan" is a computed DAG, so
    there is no row group to skip and the filter would only add a job."""
    try:
        plan = df._jdf.queryExecution().analyzed().toString()
    except Exception:
        return False
    return plan.split("\n", 1)[0].startswith("Relation")


def _pruned_segments(
    index: InvertedIndex, parsed: DataFrame, scan_prune: bool | None
) -> DataFrame:
    """index.segments, IN-filtered to the workload's term_ids when
    pruning applies. ``scan_prune=None`` auto-enables for file-backed
    segment tables only; True forces (useful when segments sit under a
    view/filter the heuristic does not see); False disables. The
    collect here is workload-sized and capped (SCAN_PRUNE_MAX_TERMS) —
    beyond the cap the IN literal would bloat the plan, so we fall back
    to the plain join (still correct, just unpruned)."""
    auto = scan_prune is None
    if auto:
        scan_prune = index.segments_file_backed or _is_bare_relation(
            index.segments
        )
    if not scan_prune:
        return index.segments
    cap = SCAN_PRUNE_MAX_TERMS
    if auto and index.num_terms:
        # vocab-fraction gate (see SCAN_PRUNE_MAX_VOCAB_FRAC)
        cap = min(cap, int(SCAN_PRUNE_MAX_VOCAB_FRAC * index.num_terms))
    if cap < 1:
        return index.segments
    ids = [
        r[0]
        for r in parsed.select("term_id")
        .distinct()
        .limit(cap + 1)
        .collect()
    ]
    if not ids or len(ids) > cap:
        return index.segments
    return index.segments.filter(F.col("term_id").isin(ids))


def _factored_segment_rows(
    index: InvertedIndex,
    parsed: DataFrame,
    query_side: DataFrame,
    scan_prune: bool | None,
) -> DataFrame:
    """parsed-side ⨝ term_meta ⨝ segments: the segment rows every
    kernel group reads. term_meta columns join the broadcast-sized
    ``query_side`` (parsed queries, or a batch term set), and the
    result is broadcast into the workload-pruned segment scan (driven
    by ``parsed``), so the segment table (the 100TB side) is scanned
    once and never shuffled — and for file-backed indexes the scan
    itself is row-group-pruned by the workload's term_ids
    (_pruned_segments).

    The ONE place the bound-factor contract is applied, so every
    execution shape gets the same pruning bounds. Incrementally-built
    indexes carry a per-term ``bound_factor`` in term_meta
    (streaming/incremental.py): the sound upper-bound inflation for
    terms whose stored blocks were encoded under older global stats.
    It multiplies into the term max and the block maxes HERE, so
    stored segments stay immutable while every kernel's pruning
    bounds stay one-sided. Batch indexes have no such column (factor
    1 by construction)."""
    # Broadcast the query-sized side into the vocabulary-sized
    # term_meta (never the reverse), then the result into the
    # segment scan.
    tm = index.term_meta
    has_factor = "bound_factor" in tm.columns
    cols = ["term_id", "df", F.col("max_score").alias("term_max_score")]
    if has_factor:
        cols.append("bound_factor")
    qt = tm.select(*cols).join(F.broadcast(query_side), "term_id")
    rows = _pruned_segments(index, parsed, scan_prune).join(
        F.broadcast(qt), "term_id"
    )
    if has_factor:
        rows = rows.withColumn(
            "term_max_score", F.col("term_max_score") * F.col("bound_factor")
        )
        if "max_score" in rows.columns:
            rows = rows.withColumn(
                "max_score", F.col("max_score") * F.col("bound_factor")
            )
        # compressed block maxes (max_score_q) are relative to the
        # term max and inherit its scaling automatically
        rows = rows.drop("bound_factor")
    return rows


def _bound(weight, max_micro):
    """THE pruning upper bound of a weighted term or block max given in
    MICRO units: +1 covers the <=0.5-micro quantization shift, so it
    stays sound against micro-int scores. Plain arithmetic, so the
    kernels' numpy bounds and live_ranges' Catalyst bound share it."""
    return weight * max_micro + 1.0


# Working-set cap for the batch-major decoded-block cache: beyond
# this many cached postings per term the cache stops growing (blocks
# decode again per query, exactly as query-major execution). Bounds
# task memory at ~24 bytes/posting regardless of batch composition.
BATCH_CACHE_MAX_POSTINGS = 1 << 22

# Row cap under which ranged batch-major execution's (batch x bucket)
# query-replication table keeps its broadcast hint: it grows with the
# corpus (n_buckets = docs / salt_bucket_docs), and hints go on
# known-small sides only — above the cap the planner decides.
RANGE_BB_BROADCAST_ROWS = 1 << 20


def _build_batch_protos(left: pd.DataFrame, decode, cache: bool = True):
    """(protos, base_bm) for one kernel group's distinct term segment
    rows: per term, a weight-neutral TermPostings prototype (its
    max_score and block maxes are raw MICRO-unit maxima, not bounds —
    ``_weighted`` turns a proto into one query's kernel term) and its
    block maxes. With ``cache`` the protos carry a per-term
    decoded-block cache shared by the group's queries
    (CappedBlockCache beyond the working-set cap); query-major groups
    hold one query and build none."""
    protos: dict[int, TermPostings] = {}
    base_bm: dict[int, np.ndarray] = {}
    for term_id, g in left.groupby("term_id", sort=True):
        g = g.sort_values("block_id")
        tmax = float(g["term_max_score"].iloc[0])
        if "max_score_q" in g.columns:
            # wand_data_compressed recovery: u8 relative to term max
            # (quantization rounded up at build -> still one-sided)
            bm = g["max_score_q"].to_numpy(np.float64) / 255.0 * tmax
        else:
            bm = g["max_score"].to_numpy(np.float64)
        tid = int(term_id)
        base_bm[tid] = bm * MICRO
        block_cache = None
        if cache:
            block_cache = {}
            if int(g["count"].sum()) > BATCH_CACHE_MAX_POSTINGS:
                # over-cap term: cache its first cap-worth of blocks
                # (first-come) instead of disabling caching — see
                # kernels.CappedBlockCache
                block_cache = CappedBlockCache(BATCH_CACHE_MAX_POSTINGS)
        protos[tid] = TermPostings(
            term_id=tid,
            df=float(g["df"].iloc[0]),
            weight=1.0,
            max_score=tmax * MICRO,
            block_max_doc=g["max_doc_id"].to_numpy(np.uint64),
            block_max_score=base_bm[tid],
            block_count=g["count"].to_numpy(np.int64),
            doc_payloads=[bytes(x) for x in g["doc_bytes"]],
            tf_payloads=[bytes(x) for x in g["tf_bytes"]],
            len_payloads=[bytes(x) for x in g["len_bytes"]],
            decode=decode,
            block_cache=block_cache,
        )
    return protos, base_bm


def _weighted(proto: TermPostings, weight: float, bm_micro) -> TermPostings:
    """``proto`` as a query term of ``weight``: its own bounds over the
    proto's shared payloads and caches."""
    return replace(
        proto,
        weight=weight,
        max_score=_bound(weight, proto.max_score),
        block_max_score=_bound(weight, bm_micro),
    )


def _group_to_terms(pdf: pd.DataFrame, decode) -> list[TermPostings]:
    """One query's segment rows as its kernel term list, in term_id
    order and with no block cache."""
    protos, base_bm = _build_batch_protos(pdf, decode, cache=False)
    weight = pdf.groupby("term_id")["weight"].first()
    return [_weighted(p, float(weight[t]), base_bm[t]) for t, p in protos.items()]


def _walk_batch_queries(right: pd.DataFrame, protos, base_bm, kernel, stats):
    """Column-array walk over a group's (query-sorted) parsed rows —
    no per-query pandas groupby/iterrows. Yields (query_id, docs,
    scores) per query: protos weighted per query (shared
    payload/caches), threshold bootstrap honored, per-query k from
    the mandatory k column, idf caches shared back into the protos."""
    r = right.sort_values("query_id", kind="stable")
    q_ids = r["query_id"].to_numpy()
    t_ids = r["term_id"].to_numpy()
    weights = r["weight"].to_numpy(np.float64)
    ks = r["k"].to_numpy()
    thr = (
        r["threshold_micro"].to_numpy(np.float64)
        if "threshold_micro" in r
        else None
    )
    i, n_rows = 0, len(r)
    while i < n_rows:
        j = i
        terms = []
        while j < n_rows and q_ids[j] == q_ids[i]:
            proto = protos.get(int(t_ids[j]))
            if proto is not None:
                terms.append(_weighted(
                    proto, float(weights[j]), base_bm[proto.term_id]
                ))
            j += 1
        init = 0.0
        if thr is not None and not np.isnan(thr[i]):
            # estimate is a true lower bound; keep the quantization
            # slack so boundary ties are never pruned
            init = float(thr[i]) - PRUNE_EPS
        docs, scores = kernel(terms, int(ks[i]), stats, init_threshold=init)
        for tp in terms:  # idf grows once, shared thereafter
            if tp.idf_cache is not None:
                protos[tp.term_id].idf_cache = tp.idf_cache
        yield q_ids[i], docs, scores
        i = j


def _run_group(left: pd.DataFrame, right: pd.DataFrame, decode, kernel,
               stats: Stats, cache: bool, ranked: bool,
               profile: bool = False) -> pd.DataFrame:
    """The one kernel-task body. ``left``: a group's distinct term
    segment rows (+ term stats); ``right``: its parsed query rows
    (query_id, k, term_id, weight[, threshold_micro]). Returns
    (query_id, rank, doc_id, score), or the unranked (query_id,
    doc_id, score) partials of range execution, plus the group's
    Profiler counters with ``profile``."""
    if len(left) and not len(right):
        # Ranged batch-major execution replicates each batch's queries
        # to every real bucket (_topk). Fail loudly — returning empty
        # here would silently drop this bucket's docs from the top-k.
        raise RuntimeError(
            "segment bucket "
            f"{int(left['bucket'].iloc[0]) if 'bucket' in left else '?'} "
            "outside the replicated query range — non-dense doc ids?"
        )
    Profiler.reset()
    protos, base_bm = _build_batch_protos(left, decode, cache=cache)
    out_q, out_d, out_s = [], [], []
    for qid, docs, scores in _walk_batch_queries(
        right, protos, base_bm, kernel, stats
    ):
        out_q.append(qid)
        out_d.append(docs)
        out_s.append(scores)
    counts = [len(d) for d in out_d]
    out = {"query_id": np.repeat(np.asarray(out_q, dtype=object), counts)}
    if ranked:
        out["rank"] = np.concatenate(
            [np.arange(1, c + 1, dtype=np.int32) for c in counts]
            + [np.empty(0, np.int32)]
        )
    out["doc_id"] = np.concatenate(out_d + [np.empty(0, np.int64)])
    out["score"] = np.concatenate(out_s + [np.empty(0)])
    out = pd.DataFrame(out)
    if profile:
        out["blocks_decoded"] = np.int64(Profiler.blocks)
        out["postings_decoded"] = np.int64(Profiler.postings)
    return out


def live_ranges(rows: DataFrame) -> DataFrame:
    """(query_id, bucket) ranges that can still beat their query's
    threshold — the Catalyst form of wand_data_range.hpp
    compute_live_blocks. ``rows`` is the (segments ⨝ parsed-with-
    thresholds ⨝ bucket) table; a range's score upper bound is the
    sum over query terms of the term's best ``_bound`` inside the
    range. Queries with NULL thresholds keep every range."""
    if "max_score_q" in rows.columns:  # wand_data_compressed segments
        bm = F.col("max_score_q") / F.lit(255.0) * F.col("term_max_score")
    else:
        bm = F.col("max_score")
    term_ub = rows.groupBy("query_id", "bucket", "term_id").agg(
        F.max(_bound(F.col("weight"), bm * F.lit(MICRO))).alias("t_ub"),
        F.first("threshold_micro").alias("thr"),
    )
    return (
        term_ub.groupBy("query_id", "bucket")
        .agg(
            F.sum("t_ub").alias("range_ub"),
            F.first("thr").alias("thr"),
        )
        .filter(
            F.col("thr").isNull()
            | (F.col("range_ub") > F.col("thr") - F.lit(float(PRUNE_EPS)))
        )
        .select("query_id", "bucket")
    )


def _merge_range_partials(partial: DataFrame, parsed: DataFrame) -> DataFrame:
    """Shared heap merge for range execution (range_query.hpp's single
    heap across ranges, in window form): rank the per-bucket partial
    top-k rows per query and cap at the query's own k — the partials
    already honored it. Query-count-sized k side -> broadcast."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    qk = parsed.select("query_id", F.col("k").alias("merge_k")).distinct()
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .join(F.broadcast(qk), "query_id")
        .filter(F.col("rank") <= F.col("merge_k"))
        .select("query_id", F.col("rank").cast("int"), "doc_id", "score")
    )


def _topk(index: InvertedIndex, parsed: DataFrame, algorithm: str, k: int,
          thresholds: DataFrame | None, scan_prune: bool | None,
          ranges: bool, batched: bool = False, batches: int | None = None,
          profile: bool = False) -> DataFrame:
    """The ONE ranked top-k executor behind topk_search (one group per
    query) and topk_search_batch (``batched``: ``batches`` hashed,
    cogrouped groups); ``ranges`` splits every group by docID bucket
    and merges the partial top-k."""
    kernel = RANKED_KERNELS[algorithm]
    cfg = index.config
    decode = CODECS[cfg.index.codec][1]
    stats = Stats(
        float(index.num_docs), float(index.avg_len), cfg.bm25.k1,
        cfg.bm25.b, bool(cfg.index.quantize_bits),
    )
    if profile and ranges:
        raise ValueError("profile counts whole-list queries, not ranges")
    if thresholds is not None:
        if algorithm not in DISJUNCTIVE_ALGORITHMS:
            raise ValueError(
                f"threshold bootstrapping is unsound for conjunctive "
                f"algorithm {algorithm!r}: the cached k-th single-term "
                f"score can exceed the intersection's k-th score"
            )
        parsed = parsed.join(F.broadcast(thresholds), "query_id", "left")
    # A parsed frame without a per-query k column falls back to the k
    # argument (the kernel groups and the range merge read the column).
    if "k" not in parsed.columns:
        parsed = parsed.withColumn("k", F.lit(int(k)))
    schema = "query_id string, " + ("" if ranges else "rank int, ")
    schema += "doc_id long, score double"
    if profile:
        schema += ", blocks_decoded long, postings_decoded long"
    keys = ["batch_id" if batched else "query_id"]
    if ranges:
        keys.append("bucket")

    def segment_rows(query_side: DataFrame) -> DataFrame:
        rows = _factored_segment_rows(index, parsed, query_side, scan_prune)
        if ranges:
            # docID bucket = the segment salt bucket: range execution
            # never re-shuffles segments across buckets
            stride = F.lit(blocks_per_bucket(cfg.index))
            rows = rows.withColumn(
                "bucket", (F.col("block_id") / stride).cast("long")
            )
        return rows

    if not batched:
        rows = segment_rows(parsed)
        if ranges and thresholds is not None:
            # Live-range pruning in Catalyst. No broadcast hint: at
            # 10^12 docs the live set can be large; the join keys
            # match the following groupBy, so the shuffle is shared
            # (AQE broadcasts small live sets on its own).
            rows = rows.join(live_ranges(rows), keys)

        def run(pdf: pd.DataFrame) -> pd.DataFrame:
            # one query's rows; its distinct term rows are its parsed
            # rows, in term_id order
            right = pdf.drop_duplicates("term_id").sort_values("term_id")
            return _run_group(pdf, right, decode, kernel, stats, cache=False,
                              ranked=not ranges, profile=profile)

        out = rows.groupBy(*keys).applyInPandas(run, schema)
        return _merge_range_partials(out, parsed) if ranges else out

    spark = index.segments.sparkSession
    par = spark.sparkContext.defaultParallelism
    n_buckets = max(
        1, math.ceil(max(int(index.num_docs), 1) / cfg.index.salt_bucket_docs)
    )
    if batches is None:
        # Whole lists: 2x the cores (see topk_search_batch). Ranges:
        # buckets are the parallelism axis at scale (batches -> 1,
        # maximal payload sharing per bucket) and small corpora keep
        # the cores busy via query batching; 1x, not 2x, because each
        # (batch, bucket) group is already bucket-bounded, so a second
        # wave buys less than the extra payload copies cost (measured
        # at 100q/sf0.1: 1x par 0.63 s, 2x par 0.87 s).
        batches = max(1, math.ceil(par / n_buckets)) if ranges else 2 * par
    batch_expr = F.pmod(F.xxhash64("query_id"), F.lit(batches)).cast("int")
    pq = parsed.withColumn("batch_id", batch_expr)
    # Segments side: DISTINCT terms per batch (this dedup is the whole
    # point) joined with term stats, then broadcast into the segment
    # scan — segments still never shuffle and are never broadcast.
    # batch_id is recomputed from `parsed` (not projected off `pq`) so
    # the cogroup's two sides carry distinct attribute ids.
    rows = segment_rows(
        parsed.select(batch_expr.alias("batch_id"), "term_id").distinct()
    )
    n_parts = batches
    if ranges and thresholds is not None:
        # Live-range pruning in Catalyst (metadata columns only, so
        # column pruning keeps payload bytes out of this pass): the
        # (query, bucket) live set filters the replicated query side
        # (the inner join adds each query's live buckets); its
        # per-batch projection filters the payload-carrying side.
        live = live_ranges(segment_rows(parsed)).localCheckpoint()
        live_b = (
            live.join(pq.select("query_id", "batch_id").distinct(), "query_id")
            .select("batch_id", "bucket")
            .distinct()
        )
        rows = rows.join(live_b, ["batch_id", "bucket"])
        pq = pq.join(live, ["query_id"])
    elif ranges:
        # Replicate the batch's queries to every bucket: a pure
        # driver-side (batches x n_buckets) literal table — NO segment
        # pass (a data-derived distinct(batch, bucket) costs a full
        # workload-metadata aggregation per call; measured ~0.2 s of
        # the bench job). Sound because this engine's doc ids are
        # DENSE by construction (build/ids.assign_global_ids;
        # incremental generations stack contiguous offsets), so every
        # real bucket < n_buckets; _run_group still fails loudly on a
        # bucket outside the range rather than dropping its results.
        bb = spark.range(int(batches)).select(
            F.col("id").cast("int").alias("batch_id")
        ).crossJoin(
            spark.range(int(n_buckets)).select(F.col("id").alias("bucket"))
        )
        # broadcast hint only while the table is known small (it grows
        # with the corpus; beyond the cap the planner chooses)
        if batches * n_buckets <= RANGE_BB_BROADCAST_ROWS:
            bb = F.broadcast(bb)
        pq = pq.join(bb, "batch_id")
    if ranges:
        # ~one (batch, bucket) group per partition up to 4x the cores
        # — beyond that, groups within a partition run sequentially
        # inside one task, which is the right shape when buckets
        # vastly outnumber cores (10^12-doc corpora).
        n_parts = int(max(batches, min(batches * n_buckets, 4 * par)))
    # Explicit repartition on BOTH cogroup sides: the cogroup's
    # required hash distribution is then already satisfied, so no
    # extra shuffle is planned — and the user-specified partition
    # count is exempt from AQE coalescing, which otherwise merges
    # these byte-light but CPU-heavy Python groups onto a fraction of
    # the cores (measured: AQE coalesced 512 batches to 10 tasks).
    rows = rows.repartition(n_parts, *keys)
    pq = pq.repartition(n_parts, *keys)
    out = rows.groupBy(*keys).cogroup(pq.groupBy(*keys)).applyInPandas(
        lambda left, right: _run_group(
            left, right, decode, kernel, stats, cache=True, ranked=not ranges
        ),
        schema,
    )
    return _merge_range_partials(out, parsed) if ranges else out


def topk_search(
    index: InvertedIndex,
    parsed: DataFrame,
    algorithm: str = "block_max_wand",
    k: int = 10,
    thresholds: DataFrame | None = None,
    profile: bool = False,
    scan_prune: bool | None = None,
    ranges: bool = False,
) -> DataFrame:
    """(query_id, rank, doc_id, score) — query-major execution: one
    kernel group per query, the low-latency shape.

    ``thresholds``: optional (query_id, threshold_micro) sound lower
    bounds (thresholds.estimate_thresholds) that bootstrap each
    kernel's heap threshold — the fork's kth_threshold pipeline, but
    safe by construction (no --safe rerun needed). Only valid for
    DISJUNCTIVE_ALGORITHMS (see above): passing thresholds with a
    conjunctive algorithm raises ValueError instead of silently
    dropping intersection results below the single-term bound.

    ``profile``: adds (blocks_decoded, postings_decoded) per query —
    the reference's profile_queries/block_profiler counters — making
    pruning effectiveness measurable (a pruned kernel must decode
    fewer blocks than the exhaustive one on the same query).
    Whole-list execution only.

    ``ranges``: doc-range-major execution (range_query.hpp: the
    algorithm runs per docID range with a shared heap) — partial
    top-k per (query, bucket) group, then a window merge. With
    ``thresholds``, wand_data_range.hpp's live-block pruning drops a
    range whose summed block-max bound cannot beat the threshold in a
    Catalyst pre-filter, before any kernel task runs."""
    return _topk(
        index, parsed, algorithm, k, thresholds, scan_prune, ranges,
        profile=profile,
    )


def topk_search_batch(
    index: InvertedIndex,
    parsed: DataFrame,
    algorithm: str = "block_max_maxscore",
    k: int = 10,
    thresholds: DataFrame | None = None,
    batches: int | None = None,
    scan_prune: bool | None = None,
    ranges: bool = False,
) -> DataFrame:
    """(query_id, rank, doc_id, score) — BATCH-major execution: queries
    hash into ``batches`` groups, each cogrouped with its batch's
    DISTINCT term segment rows, so a term shared by Q queries crosses
    the wire once per batch (query-major ships it Q times) and a
    shared per-term block cache (TermPostings.block_cache, capped at
    BATCH_CACHE_MAX_POSTINGS postings/term) decodes each block at most
    once per batch. Same kernels, same results: only the per-query
    weight/bound arrays are rebuilt per query. This is the amortized
    shape a production workload wants (the reference amortizes the
    same way through the OS page cache, tools/queries.cpp batch loop);
    query-major stays the low-latency path.

    ``batches`` defaults to 2x the cluster's default parallelism —
    the sharing/parallelism sweet spot measured in BENCH.md (at 3200
    queries, sf0.1: 1x par = 3.7x over query-major but the largest
    per-task frames; 2x = 2.9x; 4x = 2.3x; AQE-uncoalesced 16x =
    1.2x): 2x halves 1x's working sets and smooths hash-collision
    stragglers across two waves.

    ``ranges``: the batch form of topk_search's range execution,
    cogrouped on (batch_id, bucket): the batch's distinct terms'
    blocks within the bucket against its queries replicated per live
    bucket (metadata rows only — payloads never replicate), so no
    task ever sees a full posting list. ``batches`` then defaults to
    ceil(defaultParallelism / bucket count), and ``thresholds`` prune
    dead (query, bucket) ranges off both sides before payloads ship.
    """
    return _topk(
        index, parsed, algorithm, k, thresholds, scan_prune, ranges,
        batched=True, batches=batches,
    )


def topk_search_safe(
    index: InvertedIndex,
    parsed: DataFrame,
    algorithm: str = "block_max_wand",
    k: int = 10,
    thresholds: DataFrame | None = None,
    scan_prune: bool | None = None,
) -> DataFrame:
    """topk_search bootstrapped by POSSIBLY-UNSOUND threshold
    estimates, made exact by the reference's --safe rerun
    (tools/queries.cpp:74-90: a heap that did not fill to k under the
    initial threshold is rerun from threshold 0).

    The sound estimators (kth_score_cache / pairs / combine_did /
    intersection / lookup) never need this — topk_search alone is
    already exact with them. This is the companion of the RISKY
    sampling estimator (thresholds.sampling_kth_thresholds): its
    estimate over-shoots the true k-th score with probability <=
    target_o, in which case the bootstrapped heap under-fills; the
    rerun restores exactness, so the pipeline trades a bounded
    probability of one extra (cheap, per-query) pass for starting
    every heap near its final threshold.

    Under-fill is counted over RELIABLE entries only — those scoring
    >= the query's estimate. The reference's topk_queue never admits
    a sub-threshold entry, so its heap size is that count by
    construction; these kernels admit any doc they happened to score
    (a decoded block can contain sub-threshold docs), and with an
    over-shot threshold such lucky entries could fill the heap while
    a true top-k doc's block was pruned. Counting entries >= the
    estimate restores the WAND invariant the rerun rests on: every
    doc scoring >= theta is provably enumerated (its upper bound
    exceeds theta), so k reliable entries == the exact top-k, and
    fewer means rerun. Scores must be in the engine's micro scale
    (non-quantized indexes — same contract as the estimators).

    Spark shape: one bootstrapped pass over all queries, one
    unbootstrapped pass over ONLY the under-filled queries (per-query
    k respected when the workload carries a k column), stitched by an
    anti-join. The rerun side is workload-sized — never a second full
    pass."""
    first = topk_search(
        index, parsed, algorithm=algorithm, k=k,
        thresholds=thresholds, scan_prune=scan_prune,
    )
    if thresholds is None:
        return first
    # `first` feeds the under-fill count AND both stitch branches —
    # pin it eagerly so the kernel pass runs once, not per consumer
    # (eager localCheckpoint over persist per the repo rule:
    # CacheManager entries leak in per-micro-batch callers).
    first = first.localCheckpoint()
    reliable = (
        first.join(F.broadcast(thresholds), "query_id", "left")
        .filter(
            F.col("threshold_micro").isNull()
            | (
                F.floor(F.col("score") * F.lit(1e6) + F.lit(0.5))
                >= F.col("threshold_micro")
            )
        )
    )
    counts = reliable.groupBy("query_id").agg(F.count("*").alias("nres"))
    qk = parsed.select(
        "query_id",
        (F.col("k") if "k" in parsed.columns else F.lit(k)).alias("qk"),
    ).distinct()
    # only a genuinely bootstrapped heap (non-negative estimate) can
    # under-fill from over-pruning; NULL/sentinel-threshold queries
    # already ran unbootstrapped and exact — rerunning them would
    # just repeat the identical pass
    under = (
        qk.join(counts, "query_id", "left")
        .join(F.broadcast(thresholds), "query_id", "left")
        .filter(
            (F.coalesce(F.col("nres"), F.lit(0)) < F.col("qk"))
            & (F.coalesce(F.col("threshold_micro"), F.lit(-1)) >= 0)
        )
        .select("query_id")
    )
    rerun = topk_search(
        index,
        parsed.join(F.broadcast(under), "query_id"),
        algorithm=algorithm, k=k, thresholds=None, scan_prune=scan_prune,
    )
    kept = first.join(F.broadcast(under), "query_id", "left_anti")
    return kept.unionByName(rerun)


def boolean_query(
    index: InvertedIndex,
    parsed: DataFrame,
    op: str = "and",
    scan_prune: bool | None = None,
) -> DataFrame:
    """(query_id, doc_id) Boolean AND/OR result sets."""
    kernel = BOOLEAN_KERNELS[op]
    decode = CODECS[index.config.index.codec][1]

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        docs = kernel(_group_to_terms(pdf, decode))
        return pd.DataFrame({"query_id": pdf["query_id"].iloc[0], "doc_id": docs})

    rows = _factored_segment_rows(index, parsed, parsed, scan_prune)
    return rows.groupBy("query_id").applyInPandas(
        run, "query_id string, doc_id long"
    )
