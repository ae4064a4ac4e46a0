"""Index artifact bundle + the one index-build graph.

The Spark-side equivalents of the reference's on-disk artifacts
(SURVEY §1.3): lexicon, doc map/sizes, long-format postings, block
segments, per-term WAND metadata, global stats. ``_build_graph`` is
the reference's parse_collection → invert → create_wand_data →
compress_inverted_index chain (docs/source/indexing_pipeline.md:1-60)
as shuffle stages with no serial section, written once:

    pages -> docs -> term_ids -> postings -> lexicon -> segments
                  \\-> stats                     \\-> term_meta

(each arrow a shuffle boundary, SURVEY §3.1; quantized builds add a
term_meta_raw stage whose max feeds segments, and compressed-blockmax
segments read term_meta)

Its callers differ only in the store step ``stage(name, parents,
compute) -> DataFrame`` that each stage's output goes through:
``build_index`` keeps the graph in memory (``_in_memory``), and
``build.pipeline.BuildPipeline`` checkpoints every stage to parquet
with a manifest and resumes finished stages — the way the reference's
invert spills ``.batch.N`` files without being a second pipeline.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from pisa_spark.build import (
    build_doc_sizes,
    build_postings,
    build_segments,
    build_term_ids,
    build_term_meta,
    collection_stats,
    lexicon_with_df,
    tokenize_pages,
)
from pisa_spark.build.forward import ID_BROADCAST_ROWS
from pisa_spark.build.segments import compress_block_maxes, scored_postings
from pisa_spark.config import EngineConfig

# stage(name, parents, compute) -> the stage's output, as stored
Stage = Callable[[str, list, Callable[[], DataFrame]], DataFrame]


@dataclass
class InvertedIndex:
    lexicon: DataFrame  # (term, term_id, df)
    docmap: DataFrame  # (doc_id, url)
    doc_sizes: DataFrame  # (doc_id, doc_len)
    postings: DataFrame  # (term_id, doc_id, tf) — long format
    segments: DataFrame  # block-encoded (segments.py layout)
    term_meta: DataFrame  # (term_id, df, occurrence_count, max_score)
    num_docs: int
    avg_len: float
    collection_len: int
    config: EngineConfig
    # True when `segments` reads stored parquet (BuildPipeline /
    # IncrementalIndexer): the executor then pushes the workload's
    # term_ids into the scan (executor._pruned_segments) so each query
    # batch reads O(workload lists), not O(corpus). In-memory builds
    # leave it False — there is no scan to prune.
    segments_file_backed: bool = False
    # Vocabulary size when known (the build graph counts it for the
    # broadcast gate). The executor's auto scan-prune uses it to disengage
    # when the workload covers so much of the vocabulary that an
    # IN(term_id) filter cannot skip row groups (executor.
    # SCAN_PRUNE_MAX_VOCAB_FRAC). None = unknown -> no fraction check.
    num_terms: int | None = None
    # NOTE deliberately no doc_lens_array(): per-posting doc lengths
    # are encoded inside the segment blocks (segments.py len_bytes),
    # so query execution never collects or broadcasts anything
    # proportional to the corpus.


class DuplicateUrlError(ValueError):
    """The id join fanned out on a duplicated url (url is the corpus
    key, forward._with_assigned_ids contract)."""


def quantized_rescale(term_meta: DataFrame, quantize_bits: int):
    """(index_max_score, rescaled term_meta) for an impact-quantized
    build: index_max_score is the index-wide max term weight
    (wand_data ``index_max_term_weight``); per-term bounds become
    quantized-impact bounds (ceil is monotone, so
    max_q = ceil(max_score * scale))."""
    from pyspark.sql import functions as F

    index_max_score = float(term_meta.agg(F.max("max_score")).collect()[0][0])
    scale = float(1 << quantize_bits) / index_max_score
    rescaled = term_meta.withColumn(
        "max_score",
        F.greatest(F.ceil(F.col("max_score") * scale), F.lit(1)).cast("double"),
    )
    return index_max_score, rescaled


def _lazy(name: str, parents: list, compute: Callable[[], DataFrame]):
    return compute()


def encode_scored(scored: DataFrame, num_docs: int, avg_len: float,
                  config: EngineConfig, stage: Stage = _lazy):
    """scored postings -> (term_meta, segments): the create_wand_data +
    compress tail shared by the build graph and the incremental
    indexer. Quantized configs need the index-wide max term weight
    BEFORE segment encoding, and the final term_meta carries quantized
    bounds, so the raw metadata is its own stage (``term_meta_raw``).
    Compressed block maxima are relative to the STORED term max."""
    upstream = ["postings", "lexicon", "stats"]
    bits = config.index.quantize_bits
    term_meta = stage(
        "term_meta_raw" if bits else "term_meta", upstream,
        lambda: build_term_meta(scored, num_docs, avg_len, config.bm25),
    )
    index_max_score = None
    seg_parents = upstream
    if bits:
        index_max_score, rescaled = quantized_rescale(term_meta, bits)
        term_meta = stage("term_meta", ["term_meta_raw"], lambda: rescaled)
        seg_parents = seg_parents + ["term_meta_raw"]
    if config.index.compress_blockmax:
        seg_parents = seg_parents + ["term_meta"]

    def _segments():
        seg = build_segments(
            scored, num_docs, avg_len, config.index, config.bm25,
            index_max_score=index_max_score,
        )
        if config.index.compress_blockmax:
            seg = compress_block_maxes(seg, term_meta)
        return seg

    return term_meta, stage("segments", seg_parents, _segments)


def _in_memory(name: str, parents: list, compute: Callable[[], DataFrame]):
    """``build_index``'s store step: persist the corpus-sized frames
    every later stage re-reads (docs, postings), lazily checkpoint the
    lexicon, leave the rest lazy. The lexicon gets a LAZY
    localCheckpoint (not persist): the first downstream action
    (typically the segment encode) materializes postings cache +
    lexicon in ONE job — no extra barrier — and every plan built
    afterwards sees a cut lineage. It is reused intra-build and joins
    into parsed queries and query-side broadcasts, where its postings
    self-reference (df comes FROM postings) would bloat analysis and
    nest corpus lineage under broadcast hints. term_ids needs no cut:
    assign_global_ids already pins its range partitioning with an
    eager localCheckpoint, so only a vocabulary-sized window sits
    above it."""
    df = compute()
    if name in ("docs", "postings"):
        return df.persist()
    if name == "lexicon":
        return df.localCheckpoint(eager=False)
    return df


def _build_graph(pages: DataFrame, config: EngineConfig,
                 stage: Stage) -> InvertedIndex:
    """pages(url, warc_ts, html, text, lang[, doc_id]) -> InvertedIndex,
    every stage's output passed through ``stage``.

    Stage layout (each boundary is a shuffle, not a serial merge):
      1. tokenize (native expressions, or mapInPandas with a stemmer)
         + docID assignment: docIDs are a function of url alone, so
         they are numbered over the column-pruned url projection of
         the input and joined back (broadcast when the counted doc
         count is known small) — the corpus itself never moves for ids
      2. term ids (distinct terms + sort — tiny shuffle after map-side
         dedup), postings (explode + broadcast join + hash agg with
         map-side combine: the ONE corpus-pair shuffle), lexicon df
         counted off the postings (vocabulary-sized) instead of a
         second corpus-wide distinct(term, doc) pass
         (invert.build_lexicon docstring)
      3. term_meta + segments (salted groupBy + Arrow-batched numpy
         block encode), ``encode_scored``
    """
    bcast = config.index.lexicon_broadcast_threshold
    id_stats: dict = {}
    docs = stage("docs", [], lambda: tokenize_pages(
        pages, config.analyzer, stats_out=id_stats,
        # the configured broadcast threshold caps the id-side hint too
        # (threshold 0 disables)
        id_broadcast_rows=min(bcast, ID_BROADCAST_ROWS),
    ))
    # Vocabulary size (gating the maybe_broadcast hints) comes free
    # from assign_global_ids' offset collect when term_ids is computed
    # here; a resumed term_ids stage is counted instead.
    vocab: dict = {}
    term_ids = stage(
        "term_ids", ["docs"], lambda: build_term_ids(docs, count_out=vocab)
    )
    lexicon_size = vocab["n_rows"] if vocab else term_ids.count()
    # doc_sizes / docmap are column-pruned projections of docs, not
    # stages of their own.
    doc_sizes = build_doc_sizes(docs)
    # One corpus-column aggregate over the stored docs. The docID
    # assignment does not range-shuffle the tokenized corpus
    # (url-projection + join in tokenize_pages), so there is no
    # ride-along sum over its offsets — this single agg job is the
    # trade for removing a full-corpus shuffle + localCheckpoint per
    # build.
    stats = stage(
        "stats", ["docs"], lambda: collection_stats(doc_sizes)
    ).collect()[0]
    num_docs = int(stats["num_docs"])
    avg_len = float(stats["avg_len"] or 0.0)
    collection_len = int(stats["collection_len"] or 0)
    if id_stats and num_docs != id_stats["n_rows"]:
        # Duplicate-url guard (free: the stats row counts docs): the id
        # join fans out on duplicate urls — a corrupted index (doubled
        # tf, inflated stats) must fail the build, not ship. NULL urls
        # were already rejected inside the id assignment's offset
        # collect (forward._with_assigned_ids forbid_null). A resumed
        # docs stage leaves ``id_stats`` empty, so a store step that
        # resumes must drop the stages it wrote before re-raising.
        # Drop the cache entry on the error path (a no-op for stored
        # stages): CacheManager entries survive driver GC (CLAUDE.md),
        # so a long-lived session retrying bad inputs must not
        # accumulate corpus copies.
        docs.unpersist()
        raise DuplicateUrlError(
            f"duplicate urls in input: {id_stats['n_rows']} distinct-"
            f"numbered urls joined into {num_docs} doc rows "
            "(url is the corpus key and must be unique)"
        )
    # carry_doc_len: postings carry doc_len too (~1 varint-packed
    # column), so scored_postings never re-shuffles the pairs on
    # doc_id for the doc_sizes join.
    postings = stage("postings", ["docs", "term_ids"], lambda: build_postings(
        docs, term_ids,
        lexicon_size=lexicon_size, broadcast_threshold=bcast,
        carry_doc_len=True,
    ))
    lexicon = stage(
        "lexicon", ["term_ids", "postings"],
        lambda: lexicon_with_df(term_ids, postings),
    )
    scored = scored_postings(
        postings, doc_sizes, lexicon, num_docs, avg_len,
        lexicon_size=lexicon_size, broadcast_threshold=bcast,
    )
    term_meta, segments = encode_scored(scored, num_docs, avg_len, config,
                                        stage)
    return InvertedIndex(
        lexicon=lexicon,
        docmap=docs.select("doc_id", "url"),
        doc_sizes=doc_sizes,
        # Public postings contract stays (term_id, doc_id, tf); the
        # doc_len-carrying frame is a build-internal shuffle shape
        # (the select reuses the same stored data).
        postings=postings.select("term_id", "doc_id", "tf"),
        segments=segments,
        term_meta=term_meta,
        num_docs=num_docs,
        avg_len=avg_len,
        collection_len=collection_len,
        config=config,
        num_terms=int(lexicon_size),
    )


def build_index(
    spark: SparkSession,
    pages: DataFrame,
    config: EngineConfig | None = None,
) -> InvertedIndex:
    """pages(url, warc_ts, html, text, lang[, doc_id]) -> InvertedIndex
    held in memory: the build graph (``_build_graph``) under the
    ``_in_memory`` store step. For a checkpointed, resumable build of
    the same graph use ``build.pipeline.BuildPipeline``."""
    return _build_graph(pages, config or EngineConfig(), _in_memory)
