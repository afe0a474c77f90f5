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


# Whole-stage codegen cache size (a static SQL conf: fixed when the
# session is built). Spark's default of 100 classes is smaller than one
# pass of either benchmark workload, and the cache evicts by LRU, so a
# pass that cycles through more classes than it holds evicts each one
# before its next use: every repeat pass re-ran Janino on all of them,
# loaded them again and HotSpot JIT-compiled them again.
# Measured at local[4] on a 4-vCPU host, distinct generated classes:
# - a refresh of the kgbench refresh workload: ~131 (recompiled on every
#   refresh at 100; now 83 on the first refresh after the build, 0 after);
# - a pass of the kgbench graph workload: ~215-260 (214-233 recompiled
#   per pass at 100; now 0-7, from AQE choosing another final plan);
# - the whole Tier-1 test session: 5,716 (13,961 compiles at 100).
# 2,000 holds any single pass several times over (Guava keeps its LRU
# per segment, so eviction can start below the bound); a session that
# runs every operator of the engine, like Tier-1, still cycles through
# more. Cost at the cap, the 82 oracle queries run twice in one session
# (1,774 cached classes, against 100): Metaspace 178.6 -> 192.7 MB,
# compressed class space 22.0 -> 23.7 MB, JIT code heaps 106 -> 124 MB.
CODEGEN_CACHE_ENTRIES = 2000


def spark_conf(
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> dict:
    """The session config `get_spark` builds with; `extra_conf` overrides
    any default."""
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    shuffle_partitions = shuffle_partitions or int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

    conf = {
        "spark.master": master,
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
        "spark.sql.files.maxPartitionBytes": "134217728",
        # zstd over the default snappy for every snapshot this engine
        # writes: measured at the 50k-doc graph layer, 31 MB -> 18.3 MB
        # with wall parity on this host's disk — and at cluster scale the
        # 40%+ byte cut is shuffle-spill + object-store bandwidth saved on
        # every stage commit (the write tail is the part of the job a
        # bigger cluster cannot parallelize away; BENCH.md §C)
        "spark.sql.parquet.compression.codec": "zstd",
        "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE_ENTRIES),
        # local mode: the driver JVM IS the executor — size the heap for
        # task-count × (window sort + shuffle + parquet writer) buffers, or
        # high-core runs thrash GC and scale NEGATIVELY (measured: triples
        # stage 48s at local[8] vs 69s at local[32] under an 8g heap).
        # Default: a quarter of the host's memory, which may be shared
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _quarter_of_memtotal(),
        "spark.ui.enabled": "false",
        "spark.sql.session.timeZone": "UTC",
    }
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
        conf |= {
            "spark.speculation": "true",
            "spark.speculation.multiplier": "4",
            "spark.speculation.quantile": "0.9",
            "spark.speculation.minTaskRuntime": "30s",
        }
    return conf | dict(extra_conf or {})


def get_spark(
    app_name: str = "theta-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    builder = SparkSession.builder.appName(app_name)
    for k, v in spark_conf(master, shuffle_partitions, extra_conf).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
