"""SparkSession factory tuned for the KG-construction workload.

Design notes for cluster scale (SURVEY.md §4): AQE on (skew-join split,
coalesced shuffle partitions), Arrow enabled for pandas-UDF stages, bounded
Arrow batch size so Python worker memory stays flat regardless of input SF.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _quarter_of_memtotal() -> str:
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{max(1024, mem_kb // 4096)}m"


def get_spark(
    app_name: str = "theta-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    shuffle_partitions = shuffle_partitions or int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # zstd over the default snappy for every snapshot this engine
        # writes: measured at the 50k-doc graph layer, 31 MB -> 18.3 MB
        # with wall parity on this host's disk — and at cluster scale the
        # 40%+ byte cut is shuffle-spill + object-store bandwidth saved on
        # every stage commit (the write tail is the part of the job a
        # bigger cluster cannot parallelize away; BENCH.md §C)
        .config("spark.sql.parquet.compression.codec", "zstd")
        # local mode: the driver JVM IS the executor — size the heap for
        # task-count × (window sort + shuffle + parquet writer) buffers, or
        # high-core runs thrash GC and scale NEGATIVELY (measured: triples
        # stage 48s at local[8] vs 69s at local[32] under an 8g heap).
        # Default: a quarter of the host's memory, which may be shared
        .config(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _quarter_of_memtotal()
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    if os.environ.get("SPARK_GRAFT_SPECULATION") == "1":
        # straggler rescue for long timed runs: a Python worker wedged in
        # the Arrow socket handshake (observed on this time-shared guest:
        # one task of a 64-task stage blocked in ArrowStreamReader for 18
        # minutes while the host sat idle) stalls the whole job without
        # this. Multiplier 4 + quantile 0.9 means only genuine hangs are
        # re-attempted — a mildly slow task is never duplicated, so timed
        # benchmark numbers stay honest. Standard practice on real
        # clusters; opt-in here because plan-shape tests count tasks.
        # minTaskRuntime is the load-bearing guard (measured, round 4): in
        # stages where most partitions are trivial (empty LSH branch,
        # near-empty shuffle partitions), P90 task time is ~milliseconds,
        # so "4x the P90" marked every second-scale interpreted task for
        # immediate duplication. At local[8]+ there are free slots to run
        # the duplicates — the 200k-doc candidate phase burned 2x the CPU
        # and ran 5x SLOWER than local[2] (35s vs 6.5s) until this guard.
        # A genuine wedge (the 18-min Arrow hang) still speculates at 30s.
        builder = (
            builder.config("spark.speculation", "true")
            .config("spark.speculation.multiplier", "4")
            .config("spark.speculation.quantile", "0.9")
            .config("spark.speculation.minTaskRuntime", "30s")
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
