"""SparkSession factory tuned for the dedup pipeline.

Local-mode settings mirror what the job would ship with via
``spark-submit --py-files`` on a real cluster: AQE on (skew joins,
partition coalescing), Arrow for every pandas UDF, shuffle partitions
sized to the core count. The reference sizes its worker pool to
num_cpus (deduplicator/src/lib/deduplicator.rs:28-35); here that is the
``local[N]`` master and the N -> 4N scaling axis.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "addresses-importer-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)
    if shuffle_partitions is None:
        # 2 partitions per core as the SESSION default. Round 4 set 4
        # here after a 390k-clip win (agg-skew smoothing: AQE splits
        # skew only in JOINS), but the round-5 A/B at sf0.1 / local[32]
        # (3 interleaved reps per setting, same session config)
        # measured the flat 4/core as a pure small-data tax: total
        # 94.5 s -> 120.1 s median, lsh_candidates 3.7 -> 8.4 s,
        # pipeline_full 36.8 -> 45.7 s — scheduling overhead, with AQE
        # coalescing unable to undo the finer aggregation partitions.
        # The 390k win is kept where it was earned: run_pipeline
        # doubles the setting at runtime when the input clears
        # MIN_ROWS_PER_SHUFFLE_PARTITION per doubled partition
        # (plans/pipeline.py), so big jobs get 4/core and everything
        # else keeps 2/core.
        shuffle_partitions = max(2 * cores, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        # AQE: runtime re-plan, skew-join splitting, small-partition coalescing.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # NOTE on AQE coalescing (round 6): a session-wide
        # parallelismFirst=false + small advisory size was A/B'd here
        # and REJECTED — it cut the checkpointed pipeline ~3 s (fewer
        # near-empty reduce tasks across 7 stages) but serialized the
        # amplification-shaped contract chains (prefix-join fan-out,
        # per-row array math) whose shuffle bytes under-represent their
        # CPU: ngram_jaccard_pairs went 13.6 s -> 35.7 s when its
        # stages coalesced to a handful of few-MB partitions. The
        # pipeline win is kept where it was earned: the dedup stages
        # run under a scoped size-targeted coalescing conf
        # (plans/pipeline.stage_conf), and the session keeps Spark's
        # default parallelism-first behavior for ad-hoc queries.
        # Arrow batches for every pandas UDF (zero per-row Python).
        # 512 rows/batch: clips carry ~30KB audio payloads, so the
        # default 10k-row batches were ~330MB of Arrow per task — memory
        # traffic that serialized the UDF stage regardless of cores.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        # Audio payloads are binary; keep task results compact.
        .config("spark.sql.parquet.compression.codec", "zstd")
        # Vectorized-reader batches sized for 30 KB payload rows: the
        # default 4096 rows/batch allocates ~120 MB of contiguous column
        # vector PER TASK on the clips table, which OOMs an 8 GB driver
        # at 8+ concurrent scan tasks (observed at 260k clips). 512 rows
        # ≈ 15 MB/task; same reasoning as the Arrow batch size above.
        .config("spark.sql.parquet.columnarReaderBatchSize", "512")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def iceberg_session_conf(warehouse: str,
                         catalog: str = "local") -> dict[str, str]:
    """Session confs for an Iceberg hadoop catalog — pass as
    ``extra_conf`` to get_spark (must be set before JVM start) together
    with ``spark.jars`` pointing at an iceberg-spark-runtime jar.

    The sandbox container ships no Iceberg runtime jar and has no
    network, so this path is exercised by tests/test_iceberg.py only
    when a jar is present (it skips with a reason otherwise); the
    production spark-submit would add
    ``--packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13``."""
    return {
        "spark.sql.extensions":
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
        f"spark.sql.catalog.{catalog}": "org.apache.iceberg.spark.SparkCatalog",
        f"spark.sql.catalog.{catalog}.type": "hadoop",
        f"spark.sql.catalog.{catalog}.warehouse": warehouse,
    }
