"""Measurement at layer boundaries: spans, plan metrics, kernel replay.

- ``Tracer`` keeps spans (name, start, end, parent, request id) in
  memory; the run writes them out when it ends. A disabled tracer
  records nothing, so untraced runs pay only a context-manager call.
- ``plan_metrics`` walks the executed plan of the DataFrame that ran
  an action, through ``AdaptiveSparkPlan`` and ``*QueryStage`` nodes,
  and sums Spark's own per-operator metrics (no UI, no network).
- ``collect_timed`` splits an action into job execution and the
  driver-side transfer of the collected rows into Python.
- ``TermLists`` decodes a workload's posting lists in-process for the
  traced kernel replay, through the executor's own per-batch helpers,
  so the replay does the kernel work one executor batch does.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np
import pandas as pd


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, request: str | None = None):
        """Yields the span's attribute dict (None when disabled);
        counters set on it ride along with the span."""
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans), "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "request": request, "start": time.perf_counter(), "end": None,
            "attrs": {},
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec["attrs"]
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def by_request(self, request: str) -> dict[str, dict]:
        """name -> span of one request (last one wins)."""
        return {s["name"]: s for s in self.spans if s["request"] == request}


def span_s(span: dict) -> float:
    return span["end"] - span["start"]


# Spark SQLMetric types -> multiplier into the unit we report
# (seconds for times, bytes for sizes, plain counts otherwise).
_SCALE = {"timing": 1e-3, "nsTiming": 1e-9, "size": 1.0, "sum": 1.0}
_REUSED = {"ReusedExchangeExec", "ReusedSubqueryExec"}


def plan_metrics(df, through_cache: bool = False) -> dict[str, float]:
    """Sum of every SQLMetric by name over the executed plan of ``df``
    (call after an action on ``df`` itself: a bare ``df.count()`` plans
    a throwaway Aggregate whose metrics are unreachable). Reused
    exchanges are not descended into, so nothing is counted twice.

    ``through_cache`` also walks the plan that built the first level of
    cached relations under ``df`` — for an action whose job is the one
    that materializes a ``persist()``ed frame. Deeper caches were built
    by earlier actions and are never walked."""
    out: dict[str, float] = {}
    todo = [(df._jdf.queryExecution().executedPlan(), through_cache)]
    while todo:
        node, cache_ok = todo.pop()
        cls = node.getClass().getSimpleName()
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            metric = kv._2()
            scale = _SCALE.get(metric.metricType())
            if scale is not None:
                out[kv._1()] = out.get(kv._1(), 0.0) + metric.value() * scale
        if cls in _REUSED:
            continue
        if cls == "InMemoryTableScanExec":
            if cache_ok:
                todo.append((node.relation().cachedPlan(), False))
        elif cls == "AdaptiveSparkPlanExec":
            todo.append((node.executedPlan(), cache_ok))
        elif cls.endswith("QueryStageExec"):
            todo.append((node.plan(), cache_ok))
        else:
            kids = node.children()
            todo.extend((kids.apply(i), cache_ok) for i in range(kids.size()))
    return out


def collect_timed(df) -> tuple[list, float]:
    """``df.collect()`` that also returns the seconds spent moving the
    collected rows from the driver JVM into Python (the job itself has
    finished before the transfer starts)."""
    from pyspark.serializers import BatchedSerializer, CPickleSerializer
    from pyspark.util import _load_from_socket

    sock_info = df._jdf.collectToPython()
    t = time.perf_counter()
    rows = list(_load_from_socket(sock_info,
                                  BatchedSerializer(CPickleSerializer())))
    return rows, time.perf_counter() - t


@dataclass
class DecodeClock:
    """Codec decode function wrapper that accumulates its own time."""

    decode: object
    seconds: float = 0.0
    concat_safe: bool = field(init=False)

    def __post_init__(self):
        self.concat_safe = getattr(self.decode, "concat_safe", False)

    def __call__(self, payload, n):
        t = time.perf_counter()
        try:
            return self.decode(payload, n)
        finally:
            self.seconds += time.perf_counter() - t


class TermLists:
    """A workload's posting lists pulled once to the driver (only the
    workload's terms) and walked in-process by the same kernels the
    executor runs."""

    def __init__(self, index, parsed_rows: pd.DataFrame):
        from pyspark.sql import functions as F

        from pisa_spark.codecs import CODECS
        from pisa_spark.query.kernels import Stats

        self.parsed = parsed_rows
        term_ids = sorted({int(t) for t in parsed_rows["term_id"]})
        meta = index.term_meta.select(
            "term_id", "df", F.col("max_score").alias("term_max_score"))
        self.rows = (
            index.segments.filter(F.col("term_id").isin(term_ids))
            .join(meta, "term_id").toPandas()
        ) if term_ids else pd.DataFrame()
        self.decode = CODECS[index.config.index.codec][1]
        self.stats = Stats(
            num_docs=float(index.num_docs), avg_len=float(index.avg_len),
            k1=index.config.bm25.k1, b=index.config.bm25.b,
            quantized=bool(index.config.index.quantize_bits),
        )

    def run(self, kernel, query_ids, decode) -> dict[str, tuple]:
        """query_id -> (doc_ids, scores) for the given queries, decoded
        blocks shared within the call (as one executor batch shares
        them). ``decode`` wraps the codec decode (for timing)."""
        from pisa_spark.query.executor import (
            _build_batch_protos, _walk_batch_queries,
        )

        right = self.parsed[self.parsed["query_id"].isin(set(query_ids))]
        out = {q: (np.empty(0, np.int64), np.empty(0)) for q in query_ids}
        if right.empty:
            return out
        left = self.rows[self.rows["term_id"].isin(set(right["term_id"]))]
        protos, base_bm = _build_batch_protos(left, decode)
        for qid, docs, scores in _walk_batch_queries(
                right, protos, base_bm, kernel, self.stats):
            out[qid] = (np.asarray(docs, np.int64), np.asarray(scores))
        return out


def kernel_replay(lists: TermLists, query_ids, tracer: Tracer,
                  request: str) -> None:
    """Traced in-process replay of the BMW kernel over the same decoded
    lists: busy time, decode time and the Profiler block counters."""
    from pisa_spark.query.executor import RANKED_KERNELS
    from pisa_spark.query.kernels import Profiler

    kernel = RANKED_KERNELS["block_max_wand"]
    clock = DecodeClock(lists.decode)
    busy = [0.0]

    def timed_kernel(*args, **kwargs):
        t = time.perf_counter()
        try:
            return kernel(*args, **kwargs)
        finally:
            busy[0] += time.perf_counter() - t

    Profiler.reset()
    with tracer.span("kernels", request) as attrs:
        lists.run(timed_kernel, query_ids, decode=clock)
    if attrs is not None:
        attrs.update(busy_s=busy[0], decode_s=clock.seconds,
                     blocks_decoded=Profiler.blocks,
                     postings_decoded=Profiler.postings)

