"""Checkpointed, resumable store step for the one index-build graph.

North-rule requirement: the build must be "resumable from
per-partition checkpoints with lineage and row/byte metrics recorded
per partition". The reference's analogue is its batch-spill files
(`.batch.N.{docs,freqs,sizes}`, src/invert.cpp:139-165) which let a
crashed invert restart from finished batches — a storage choice
inside the one build lifecycle, not a second pipeline. Likewise
``BuildPipeline.run`` runs the same graph as ``index.build_index``
(``index._build_graph``) and differs only in its store step
``_stage``: each STAGE is a parquet checkpoint directory and each
written part-file is the per-partition unit:

    out_dir/<stage>/part-*.parquet      stage output, partitioned
    out_dir/<stage>/_MANIFEST.json      lineage + per-partition metrics

A manifest records: the stage's config fingerprint, its parents'
manifest fingerprints (lineage chain), wall seconds, and per
part-file rows/bytes (read from parquet footers — no extra scan).
``run`` skips any stage whose manifest exists and whose fingerprint
(config + parents) is unchanged — so a killed build resumes from the
last finished stage, and a config change invalidates exactly the
stages downstream of it.

Stages (the graph in ``pisa_spark.index``): docs, term_ids, stats,
postings, lexicon, term_meta (plus term_meta_raw when quantized),
segments. doc_sizes / docmap are column-pruned projections of the
docs checkpoint, not separate stages.
"""

from __future__ import annotations

import hashlib
import json
import shutil
import time
from dataclasses import asdict, replace
from pathlib import Path
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from pisa_spark.codecs import WIRE_VERSION
from pisa_spark.config import EngineConfig
from pisa_spark.index import DuplicateUrlError, _build_graph

MANIFEST = "_MANIFEST.json"

# Checkpoint parquet codec: zstd compresses the corpus-sized stage
# checkpoints ~2x tighter than snappy at a small CPU cost — fewer
# bytes through the page cache / disk on every write AND every
# downstream re-read (parquet is self-describing, so resuming across
# a codec change is safe).
CHECKPOINT_CODEC = "zstd"


def _fingerprint(payload: dict) -> str:
    return hashlib.sha256(
        json.dumps(payload, sort_keys=True).encode()
    ).hexdigest()[:16]


def _partition_metrics(stage_dir: Path) -> list[dict]:
    """Per part-file (rows, bytes) from parquet footers only."""
    import pyarrow.parquet as pq

    out = []
    for f in sorted(stage_dir.glob("*.parquet")):
        out.append(
            {
                "file": str(f.relative_to(stage_dir)),
                "rows": pq.ParquetFile(f).metadata.num_rows,
                "bytes": f.stat().st_size,
            }
        )
    return out


class BuildPipeline:
    """Drives the build DAG with per-stage checkpoints.

    >>> pipe = BuildPipeline(spark, out_dir, config)
    >>> index = pipe.run(pages)        # full build or resume
    >>> pipe.report()                  # lineage + metrics per stage
    """

    def __init__(self, spark: SparkSession, out_dir: str,
                 config: EngineConfig | None = None,
                 input_desc: dict | None = None):
        """``input_desc`` identifies the input corpus (e.g. source
        path / doc count / generator seed) and is part of every stage
        fingerprint — without it a checkpoint dir reused with a
        different input would wrongly resume."""
        self.spark = spark
        self.out = Path(out_dir)
        self.config = config or EngineConfig()
        self.cfg_fp = _fingerprint(
            {
                "analyzer": asdict(self.config.analyzer) | {"stopwords": sorted(self.config.analyzer.stopwords)},
                "bm25": asdict(self.config.bm25),
                "index": asdict(self.config.index),
                "input": input_desc or {},
                # encoded-segment byte layout: a checkpoint written
                # under a different wire version must re-encode, not
                # resume (a resumed pef stage would mis-decode)
                "codec_wire": WIRE_VERSION,
            }
        )
        self.executed: list[str] = []  # stages actually computed this run
        self.skipped: list[str] = []

    # ------------------------------------------------------------- stages

    def _manifest_path(self, stage: str) -> Path:
        return self.out / stage / MANIFEST

    def _load_manifest(self, stage: str) -> dict | None:
        p = self._manifest_path(stage)
        if p.exists():
            return json.loads(p.read_text())
        return None

    def _stage(self, stage: str, parents: list[str],
               compute: Callable[[], DataFrame]) -> DataFrame:
        """Run-or-resume one stage; returns the checkpointed DataFrame."""
        parent_fps = {
            p: (self._load_manifest(p) or {}).get("fingerprint", "?")
            for p in parents
        }
        want_fp = _fingerprint({"config": self.cfg_fp, "parents": parent_fps})
        man = self._load_manifest(stage)
        stage_dir = self.out / stage
        if man and man.get("fingerprint") == want_fp:
            self.skipped.append(stage)
            return self.spark.read.parquet(str(stage_dir))

        t0 = time.perf_counter()
        df = compute()
        if stage == "segments":
            # Cluster the stored table by term_id so parquet row-group
            # min/max + dictionary stats are tight: the executor's
            # workload IN(term_id) pushdown (_pruned_segments) then
            # skips whole row groups instead of reading the corpus per
            # query batch. Per-partition sort only — no extra shuffle.
            df = df.sortWithinPartitions("term_id", "block_id")
        df.write.mode("overwrite").option(
            "compression", CHECKPOINT_CODEC
        ).parquet(str(stage_dir))
        wall = time.perf_counter() - t0
        parts = _partition_metrics(stage_dir)
        manifest = {
            "stage": stage,
            "fingerprint": want_fp,
            "config": self.cfg_fp,
            "parents": parent_fps,
            "wall_s": round(wall, 3),
            "n_rows": sum(p["rows"] for p in parts),
            "n_bytes": sum(p["bytes"] for p in parts),
            "n_partitions": len(parts),
            "partitions": parts,
            "finished_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        self._manifest_path(stage).write_text(json.dumps(manifest, indent=1))
        self.executed.append(stage)
        return self.spark.read.parquet(str(stage_dir))

    # ---------------------------------------------------------------- run

    def run(self, pages: DataFrame):
        """Build (or resume) the full index; returns InvertedIndex
        backed by the checkpoint parquet (every artifact re-readable
        without recompute)."""
        try:
            index = _build_graph(pages, self.config, self._stage)
        except DuplicateUrlError as err:
            # The corrupt checkpoints are DELETED before re-raising:
            # otherwise a rerun would resume the docs stage with the
            # url count unknown and the guard skipped, shipping
            # exactly the corruption it blocks.
            for stage in self.executed:
                shutil.rmtree(self.out / stage, ignore_errors=True)
            err.add_note(f"removed checkpoints: {self.executed}")
            raise
        return replace(index, segments_file_backed=True)

    # ------------------------------------------------------------- report

    def report(self) -> dict:
        """Lineage + metrics summary across all stage manifests."""
        stages = {}
        for p in sorted(self.out.glob(f"*/{MANIFEST}")):
            m = json.loads(p.read_text())
            stages[m["stage"]] = {
                "fingerprint": m["fingerprint"],
                "parents": m["parents"],
                "wall_s": m["wall_s"],
                "n_rows": m["n_rows"],
                "n_bytes": m["n_bytes"],
                "n_partitions": m["n_partitions"],
            }
        return {
            "config": self.cfg_fp,
            "executed": self.executed,
            "skipped": self.skipped,
            "stages": stages,
        }
