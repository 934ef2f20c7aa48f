"""SparkSession factory.

One place to encode the engine's execution posture:

- AQE on (runtime re-planning, partition coalescing, skew-join splitting)
  so plans adapt between sf0.001 local runs and 100 TB cluster runs.
- Arrow on for any pandas-boundary crossing (ingest, pandas UDFs).
- ``spark.sql.shuffle.partitions`` sized to the local core count rather
  than the 200 default; on a real cluster AQE's coalescing makes the
  initial number mostly a ceiling.
- Session timezone pinned to UTC so timestamp semantics are stable and
  match the DuckDB oracle (naive parquet timestamps).
- Parquet TIMESTAMP(NANOS) columns read as BIGINT
  (``spark.sql.legacy.parquet.nanosAsLong``), which ``queries._events``
  rebuilds into micros. Pinned here, once per session, because it
  changes the schema parquet inference lands on and the query
  registry caches inferred schemas per file.
- PySpark's DataFrame call-site capture off
  (``spark.python.sql.dataFrameDebugging.enabled``): it costs ~6 py4j
  round trips per DataFrame or ``functions`` call and only feeds the
  Python call-site text of Spark error messages.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "nhs_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Honors ``SPARK_GRAFT_CPUS`` for local-mode parallelism so the bench
    harness can pin core counts.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else (os.cpu_count() or 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Blob-aware Arrow batching (r11, measured): the 64m default
        # lets a 10k-record mapInPandas batch of ~200 KB media blobs
        # reach 64 MB per batch per worker — 32 workers of in-flight
        # pandas copies churn memory and the decode path's median
        # spikes 2.5x (7.5 -> 18.8 s on the 256x256-BMP throughput
        # bench). 4m keeps blob batches small and stable (median ==
        # min) and costs numeric pandas-UDF paths nothing (measured
        # equal-or-faster on the 20k x 64-dim cell-assignment UDF);
        # SCALE.md r11 has the A/B table.
        .config("spark.sql.execution.arrow.maxBytesPerBatch", "4m")
        # Whole-stage-codegen class cache (r12, measured): the default
        # 100-entry LRU cannot hold one multi-query session's generated
        # classes (the 254-query gate compiles thousands of units), so
        # the big fused stages — the audit panel's six-signal join, the
        # 64-expression simhash/minhash aggregates — were being Janino-
        # recompiled on nearly every run (jstack: 28/32 executor
        # threads blocked on the codegen KeyLock; the audit panel
        # measured 10-130 s/run compile-bound vs ~6 s steady).
        # Sizing: each entry pins a generated classloader in metaspace
        # until evicted, so the cap is a metaspace ceiling as much as a
        # recompile shield. 512 holds the largest composite query's
        # unit set (the panel: ~100-300) plus its bench-rep neighbors —
        # an unbounded 4096 cap measured a progressive ~15% tail
        # inflation over the 247-query suite (retained classloaders +
        # GC scan growth), while 100 measured 10-130 s recompile storms
        # on the composite queries. 512 is the measured middle.
        .config("spark.sql.codegen.cache.maxEntries", "512")
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.ui.enabled", "false")
        # Call-site capture off (measured): PySpark 4.1 wraps every
        # DataFrame/Column/functions call in _with_origin, which sends
        # getActiveSession, a conf read of
        # spark.sql.stackTracesInDataFrameContext and a
        # PySparkCurrentOrigin set/clear (with reflection lookups) to
        # the JVM before the call itself — about half of the 1,885 py4j
        # commands a perfbench panel build's run_series sent. The only loss
        # is the Python call-site text in Spark error messages. PySpark
        # caches the flag per process at its first read.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def cluster_conf(
    target_tb: float = 100.0,
    executors: int = 1000,
    cores_per_executor: int = 4,
    executor_mem_gb: int = 16,
) -> dict[str, str]:
    """The recommended Spark conf for running this engine against a
    real cluster at ~``target_tb`` TB — the settings local[32] cannot
    exercise but every operator here was shaped for. Returned as a
    dict so deploy tooling can splat it into ``get_spark(extra_conf=
    cluster_conf())`` or spark-submit ``--conf`` flags; each value
    carries its sizing rationale:

    - ``spark.sql.shuffle.partitions``: the LARGER of ~2 tasks per core
      across the fleet and ``target_tb / advisory partition size`` — a
      full-corpus shuffle at the target volume must land under the
      128 MiB advisory per-partition size (AQE's coalescing only
      merges, never splits, so the initial number is a ceiling the
      data size sets, not the core count alone: at 100 TB that is
      ~819k initial partitions, coalesced down for smaller stages).
    - ``spark.sql.files.maxPartitionBytes`` 256m: scan tasks sized so
      a row-group-dense parquet split decompresses comfortably inside
      a task's share of executor memory.
    - AQE on, with skew-join splitting — the synthetic-data salting
      ops (ops/skew.py) cover the cases AQE cannot (aggregation skew);
      ``skewedPartitionThresholdInBytes`` matches advisory size so
      detection actually fires.
    - ``autoBroadcastJoinThreshold`` 64m: the engine broadcasts its
      model-sized tables EXPLICITLY (broadcast hints at every
      eqNullSafe join; plan-hygiene tests enforce it), so the
      stats-based threshold is a backstop, not the mechanism.
    - shuffle compression/spill settings left at defaults (zstd via
      ``spark.io.compression.codec`` is the one worth pinning).
    """
    fleet_cores = executors * cores_per_executor
    advisory_bytes = 128 * 1024 * 1024
    target_bytes = int(target_tb * (1 << 40))
    # enough partitions that a full-corpus shuffle fits the advisory
    # size, never fewer than 2 waves of tasks across the fleet
    shuffle_parts = max(
        fleet_cores * 2, -(-target_bytes // advisory_bytes)
    )
    return {
        "spark.sql.shuffle.partitions": str(shuffle_parts),
        "spark.sql.files.maxPartitionBytes": str(256 * 1024 * 1024),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(
            128 * 1024 * 1024
        ),
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": str(
            256 * 1024 * 1024
        ),
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.io.compression.codec": "zstd",
        "spark.sql.session.timeZone": "UTC",
        "spark.executor.memory": f"{executor_mem_gb}g",
        "spark.executor.cores": str(cores_per_executor),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # see the local-builder comment: stable blob-batch memory
        "spark.sql.execution.arrow.maxBytesPerBatch": "4m",
        # see the local-builder comment: hold a composite query's full
        # generated-class set without unbounded metaspace growth
        "spark.sql.codegen.cache.maxEntries": "512",
        # see the local-builder comment: no per-call call-site capture
        "spark.python.sql.dataFrameDebugging.enabled": "false",
    }
