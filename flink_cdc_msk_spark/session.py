"""SparkSession builder tuned for this engine.

Local testing runs on ``local[N]``; the conf below is chosen so the same
logical plans scale to a multi-executor cluster: AQE handles runtime
coalescing/skew, broadcast threshold keeps dimension joins shuffle-free,
and shuffle partitions default to the local core count (on a real cluster
AQE coalesces the initial number down, so a higher static value is safe).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "flink-cdc-msk-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    rocksdb_state: bool = False,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    # In local mode the driver JVM IS the executor; PySpark's 1g default
    # heap starves N-thread shuffle-hash builds and broadcast assembly
    # (a 32-task build wants ~64 MB acquirable per task). Honored only at
    # JVM launch — a no-op on an already-running session, which is why
    # the conf lives here and not in per-query code.
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.driver.memory", driver_mem)
        # UTC/ntz everywhere: test parquet uses timestamp_ntz; keeps results
        # independent of the cluster timezone (reference pins serverTimeZone,
        # MySQLCDC2AWSMSK.scala:269 — same concern).
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime partition coalescing + skew-join splitting; at 100 TB
        # this is what turns a static shuffle count into a sane one.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # NB: Spark's runtime row-level filters
        # (spark.sql.optimizer.runtime.bloomFilter.enabled /
        # runtimeFilter.semiJoinReduction.enabled) were measured here and
        # REVERTED: at test scale the injected bloom-build subqueries
        # multiplied per-query work several-fold (bench hung past 10 min).
        # At 100 TB they're worth re-enabling per-job where a selective
        # dimension filter feeds a fact-scan join — a deploy-time knob,
        # not an engine default.
        # Arrow for every pandas-UDF exchange (the only Python hot paths).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Spark can't read parquet TIMESTAMP(NANOS) natively; read as long
        # and convert in the loader (sources/tables.py) — same ns→us
        # truncation DuckDB applies.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
    )
    if master.startswith("local"):
        # Past 32 paths InMemoryFileIndex lists files with a parallel
        # Spark job; in local mode that job runs in this same JVM, so it
        # is pure scheduling cost — 0.4-0.7 s on every file-stream
        # micro-batch that picks up more than 32 files. A cluster keeps
        # the default: there the job spreads a large listing over hosts.
        b = b.config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            str(1 << 30),
        )
        # Without the native Hadoop library (pip's PySpark ships none)
        # the local file system forks `readlink` for every link probe in
        # FileContext.rename, about 26 processes per micro-batch on the
        # offset, commit and source-log writes. FileSystem.rename makes
        # no such call; each log entry is still written to a temp file and
        # renamed into place atomically (rename(2)), checksums included.
        b = b.config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
    if rocksdb_state:
        # Parity with the reference's RocksDB state backend
        # (emr/MySQLCDC2AWSMSK.scala:59): spill-aware streaming state for
        # large keyed aggregations/dedup. Off by default — HDFS-backed
        # in-memory state is faster for small local tests.
        b = b.config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
    # $SPARK_GRAFT_CONF: JSON dict of session conf merged under any
    # explicit extra_conf (caller wins). The deploy-time knob surface —
    # e.g. {"spark.io.compression.codec": "zstd"} cuts shuffle-spill
    # bytes ~22% on the token-jaccard dedup join (measured peak temp
    # 0.45 -> 0.35 GiB at 50k docs, PERF §46) at ~20% wall on the
    # exchange path — worth it only when a run is temp-disk-bound.
    env_conf = os.environ.get("SPARK_GRAFT_CONF")
    merged = {**(json.loads(env_conf) if env_conf else {}), **(extra_conf or {})}
    for k, v in merged.items():
        b = b.config(k, v)
    return b.getOrCreate()
