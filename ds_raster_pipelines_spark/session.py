"""SparkSession factory tuned for the sandbox (local[N]) and for scale.

On a real cluster the same builder works unchanged: the configs below are
cluster-safe (AQE, Arrow, UTC). Only ``master`` and memory sizing differ.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "ds_raster_pipelines_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or all cores. Shuffle
    partitions default to the core count — correct for local mode; on a
    1000-executor cluster this would be set to ~2-3x total cores (AQE
    coalescing trims the excess at runtime either way).
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cpus), 4)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # blob-heavy parquet scans: the default 4096-row columnar batch
        # over ~18 KB binary cells asks for ~73 MB CONTIGUOUS per task
        # (OnHeapColumnVector.putByteArray) — x32 tasks that OOMed an 8g
        # heap on the sf0.1 NetCDF corpus. 1024-row batches bound the
        # per-task vector at ~18 MB; narrow tables lose nothing
        # measurable. Same sizing rule at cluster scale: batch bytes =
        # rows x widest-cell, keep it << executor heap / concurrent tasks.
        .config("spark.sql.parquet.columnarReaderBatchSize", "1024")
        # zstd for every parquet the engine writes (guide §6): the
        # float32-heavy materialized corpora compress ~6x vs snappy at
        # equal read/write speed (measured: 8.4 -> 1.4 MB per file on
        # the NetCDF corpus), and this box's page cache is reclaimed
        # aggressively between suite queries, so on-disk bytes ARE the
        # re-scan cost — the nc corpus alone drops ~1.6 GB of per-rep IO
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.ui.enabled", "false")
        # bucketed-table writes (co-located joins) go to /tmp, not the repo
        .config("spark.sql.warehouse.dir", "/tmp/spark_graft_warehouse")
        .config(
            "spark.driver.extraJavaOptions", "-Dderby.system.home=/tmp/spark_graft_derby"
        )
        # reused workers also keep the engine package imported, and with it
        # the stat-keyed zip-importer refresh (_zipcache): after a worker's
        # first task, PySpark's per-task invalidate_caches() re-reads no
        # unchanged archive (~0.2 s per task on CPython < 3.13)
        .config("spark.python.worker.reuse", "true")
        # bucketed-table scans honor the writer's per-bucket sort order
        # (write_bucketed guarantees one sorted file per bucket, so the
        # claim is sound and the per-query Sort disappears). Set HERE at
        # session creation with the other engine confs — bucketed_join
        # used to flip it session-wide mid-query, leaking a
        # legacy-behavior conf into later queries (ADVICE r7).
        .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        # glibc in the Python workers munmaps every Arrow/numpy batch
        # buffer (>128 KB) immediately; under 32-way concurrency the
        # resulting page-fault storm serializes the kernels (measured:
        # 83% system CPU, decode 10-40x slower). Retain and reuse instead.
        .config("spark.executorEnv.MALLOC_MMAP_THRESHOLD_", "536870912")
        .config("spark.executorEnv.MALLOC_TRIM_THRESHOLD_", "536870912")
        .config("spark.executorEnv.ARROW_DEFAULT_MEMORY_POOL", "mimalloc")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
