"""SparkSession factory with scale-appropriate defaults.

Single place that owns the session config so tests, bench, and
spark-submit entrypoints agree. Defaults target the sandbox
(``local[N]``) but every knob is the one you would set on a real
multi-executor cluster: AQE on (runtime re-planning + skew-join
handling), Arrow on (pandas-UDF batches), shuffle partitions sized to
cores at small scale (on a 1000-executor cluster you would raise
``spark.sql.shuffle.partitions`` to ~2-3x total cores or rely on AQE
coalescing, which is enabled here).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "pisa_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores=None`` -> ``local[$SPARK_GRAFT_CPUS]`` when set, else
    ``local[*]``; ``$SPARK_GRAFT_DRIVER_MEM`` sets the driver memory
    (default 8g). ``shuffle_partitions`` defaults to
    the core count (small-scale local runs); cluster deployments should
    override via ``extra_conf`` or spark-submit ``--conf``.
    """
    if cores is None:
        cores_env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cores_env}]" if cores_env else "local[*]"
        n_cores = int(cores_env) if cores_env else (os.cpu_count() or 4)
    else:
        master = f"local[{cores}]"
        n_cores = cores

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or n_cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Floor small-input scans at 2 tasks/core: Spark's default
        # bytesPerCore heuristic gives exactly one task wave, so one
        # straggler split stalls the whole stage. Scale-safe: for big
        # inputs maxPartitionBytes (128M) caps splits long before this
        # floor matters (measured: tokens stage -30% wall at local[8]).
        .config("spark.sql.files.minPartitionNum", str(2 * n_cores))
        # Shuffle compression stays on Spark's lz4 default for this
        # shared session factory (tests + query-shaped work). zstd
        # halves the corpus-pair shuffle's bytes and buys ~+15-23%
        # BUILD throughput where the memory bus saturates (local[8]+,
        # BENCH.md A/B) — but it taxes every small query job ~25%
        # (zstd context setup per shuffle block dominates tiny
        # shuffles; measured e2e 12.4 s lz4 vs 16.4-17.1 s zstd on the
        # full bench, with sf-build throughput flat). The PHASED
        # profile in scripts/run_pipeline.py is the shipped answer:
        # the build application runs zstd, the query application
        # lz4 — on a cluster those are separate spark-submit jobs
        # with their own --conf anyway.
        # Posting-list arrays can be large; keep Arrow batches bounded.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
