"""SparkSession factory tuned for the record-linkage workload.

Local mode is the sandbox proxy for a multi-executor cluster: ``cores``
maps to executor slots (the scaling-efficiency evidence runs the same job
at local[8] and local[32]). On a real cluster the same builder is used by
``spark-submit --py-files`` with master/memory supplied externally.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
#: share of MemTotal the driver heap may take; the rest is left to the
#: Python workers, the OS page cache and the shuffle/spill files
HEAP_SHARE = 0.45
_MEM_UNITS = {"k": 1 / 1024, "m": 1, "g": 1024, "t": 1024 * 1024}


def host_cores() -> int:
    """``SPARK_GRAFT_CPUS``, else the CPUs this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def host_mem_total_kb() -> int:
    """MemTotal from /proc/meminfo, in KiB."""
    with open("/proc/meminfo") as f:
        return next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))


def host_heap_mb() -> int:
    """Largest driver heap this host allows: HEAP_SHARE of MemTotal, MiB."""
    return int(host_mem_total_kb() * HEAP_SHARE / 1024)


def jvm_size_mb(size: str) -> int:
    """MiB in a JVM memory size such as ``"16g"`` or ``"6144m"`` (no
    unit means MiB, as for ``spark.driver.memory``)."""
    num, unit = size.strip().lower(), "m"
    if num[-1] in _MEM_UNITS:
        num, unit = num[:-1], num[-1]
    return int(float(num) * _MEM_UNITS[unit])


def driver_memory_mb(requested: str | None = None) -> int:
    """Driver heap for ``requested`` (None means the host's largest),
    capped at :func:`host_heap_mb`."""
    cap = host_heap_mb()
    return cap if requested is None else min(jvm_size_mb(requested), cap)


def get_spark(
    app_name: str = "address_match_recommend_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-appropriate defaults.

    AQE is on (runtime partition coalescing + skew-join splitting), Arrow is
    on (all pandas UDFs cross the JVM/Python boundary in columnar batches),
    and the session timezone is pinned to UTC so results compare cleanly
    against DuckDB oracles.

    Cores default to :func:`host_cores`; the driver heap is
    ``driver_memory`` capped at, and by default equal to,
    :func:`host_heap_mb` — a local-mode JVM sized past the host's memory
    is killed by the kernel, not by Spark.
    """
    if cores is None:
        cores = host_cores()
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cores}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
        )

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # parallelismFirst stays at its default (true): an experiment with
        # false (honor the 64 MB advisory size) made the tiny CC-loop
        # shuffles collapse nicely to 1-2 tasks (2.2× on that loop) but
        # ALSO coalesced the ~100-200 MB pair-scoring shuffles — whose
        # rows are compute-expensive, not byte-heavy — to a handful of
        # tasks, wrecking the scoring stage's core scaling (stage wall
        # 600-1200 s vs 84-216 s measured at the same 20k-entity corpus).
        # Byte-based sizing is the wrong proxy when cost-per-row dominates;
        # the CC loop instead right-sizes its own shuffle width (see
        # operators/clustering.py).
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # FAIR job scheduling: run_pipeline submits its independent stage
        # branches from two driver threads (plans/pipeline.py); FAIR mode
        # lets the branches' pools share task slots instead of queueing
        # one branch behind the other. Unconfigured pools get weight 1 /
        # minShare 0 — no allocation file needed. Single-job workloads
        # are unaffected (scheduling mode is moot with one job running).
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.driver.memory", f"{driver_memory_mb(driver_memory)}m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # At 100 TB the scan parallelism is governed by file splits:
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.extraJavaOptions",
            "-Dio.netty.tryReflectionSetAccessible=true "
            # Scaling-evidence hook (bench.py): e.g. -XX:ActiveProcessorCount=N
            # so a local[N] "executor" JVM also sizes its GC/JIT/fork-join
            # thread pools for N cores, like a real N-core executor would,
            # instead of for the whole host.
            + os.environ.get("SPARK_GRAFT_EXTRA_JAVA_OPTS", ""),
        )
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    """Stop the active session (used between scaling-benchmark runs).

    No private-attribute surgery (round-3 fix): ``SparkSession.builder``
    is a fresh Builder per access in PySpark 4, so stopping the session
    is sufficient for a later ``get_spark`` with a different master; the
    scaling harness additionally isolates each parallelism level in its
    own subprocess (bench.py), which is the robust path on any version."""
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
