"""SparkSession factory with scale-oriented defaults.

Settings are chosen for correctness parity with the DuckDB oracle (UTC
session time zone, ANSI mode as shipped with Spark 4) and for behavior that
survives a 100 TB cluster (AQE on, skew-join handling on, sane shuffle
partitioning). On a real cluster only ``shuffle_partitions`` and memory
sizing change; the plan shapes stay the same.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_cpus() -> int:
    """Cores this process may run on (its CPU affinity, which honours
    cgroup/taskset pinning), not the host's core count."""
    try:
        return len(os.sched_getaffinity(0))
    except (AttributeError, OSError):
        return os.cpu_count() or 1


def default_driver_memory() -> str:
    """16g, capped at three quarters of physical RAM so a default session
    never asks for more heap than the host has."""
    try:
        ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    except (AttributeError, ValueError, OSError):
        return "16g"
    return f"{max(1, min(16, int(ram_gb * 0.75)))}g"


def get_spark(
    app_name: str = "grafeo-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(default_cpus())
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        env_sp = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
        if env_sp and env_sp.isdigit():
            shuffle_partitions = int(env_sp)
        else:
            shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    # AQE coalesces DOWN from this number, so raising it bounds per-task
    # shuffle volume. The obvious move — a high session-wide default —
    # was A/B'd at sf5 (r12): the corpus-sized banded dedup join improved
    # ~11%, but the iterative pregel family regressed 2.4x (dozens of
    # per-superstep shuffles and eager checkpoints over small state pay
    # the extra-partition overhead every round). So the default stays at
    # shuffle.partitions, and the dedup pipeline escalates partitions
    # SURGICALLY where its occupancy probe measures a corpus-sized emit
    # (llm/dedup.py lsh_candidate_pairs). Env knob kept for experiments.
    initial_parts = os.environ.get("SPARK_GRAFT_INITIAL_PARTITIONS") or str(
        shuffle_partitions
    )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Deterministic timestamp semantics matching the DuckDB oracle.
        .config("spark.sql.session.timeZone", "UTC")
        # AQE: runtime coalescing, skew-join splitting, empty-relation
        # propagation — replaces the reference's (stub) adaptive executor.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            initial_parts,
        )
        # Arrow for every pandas_udf / applyInPandas boundary.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # The driver's parquet uses TIMESTAMP(NANOS) which the vectorized
        # reader rejects; read as long and convert in the loader.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Local testing headroom; a cluster submit overrides these.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        # ContextCleaner only unpersists dead checkpoint/broadcast blocks
        # after a JVM GC surfaces their weak references; the default
        # periodic-GC interval (30min) never fires inside a single-node
        # battery or test session, so eagerly-checkpointed frames from
        # finished queries pile up in executor memory and read as a slow
        # upward drift across a long session (r7 bench A/B finding).
        .config(
            "spark.cleaner.periodicGC.interval",
            os.environ.get("SPARK_GRAFT_PERIODIC_GC", "45s"),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
