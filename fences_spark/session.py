"""SparkSession factory with the engine's scale-oriented defaults.

Local mode here; on a real cluster the same confs apply (AQE,
skew-join handling, pinned broadcast threshold) and parallelism comes
from ``spark-submit --num-executors`` instead of ``local[N]``.

JIT policy: the driver JVM gets ``JIT_POLICY``, JDK 17's four C2 (tier-4)
thresholds at 3x their defaults, so less of the code that runs for seconds
only (start-up, planning, codegen, py4j) is C2-compiled.  It goes in
``defaultJavaOptions``, which Spark places before a caller's
``extraJavaOptions``; ``local[N]`` starts no executor JVM.  Measured on
4 vCPUs only: fencebench, bench.py at sf0.1 and a 10M-row job (BENCH/JIT.md).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


JIT_POLICY = (
    "-XX:Tier4InvocationThreshold=15000 -XX:Tier4MinInvocationThreshold=1800 "
    "-XX:Tier4CompileThreshold=45000 -XX:Tier4BackEdgeThreshold=120000"
)


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """A third of the box's memory, capped at 16g; 16g when
    ``MemTotal`` cannot be read.  16g, not the whole box: an oversized
    G1 heap spends most of its time in kernel page-zeroing as regions
    uncommit/recommit (measured on a 32-core host: a 48g heap gave
    50-94% system CPU and ran 3× slower).  A third leaves room for the
    Python workers and for what the JVM keeps outside its heap: on a
    15 GB box a 16g heap grew until the kernel killed the JVM.
    Executors on a real cluster are sized to their share, never the
    machine."""
    cap_mb = 16 * 1024
    try:
        with open(meminfo) as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError, IndexError):
        return f"{cap_mb}m"
    return f"{min(cap_mb, kb // 3 // 1024)}m"


def get_spark(
    app: str = "fences_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.driver.defaultJavaOptions", JIT_POLICY)
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
