"""SparkSession factory with defaults sized to the host.

Used by tests/CLI/bench; the driver passes its own session into
``__spark_entry__`` callables, which therefore never call this.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_GIB = 1 << 30


def _host_size(
    meminfo: str = "/proc/meminfo",
    cgroup_max: str = "/sys/fs/cgroup/memory.max",
) -> tuple[int, str]:
    """``(local cores, spark.driver.memory)`` for this host.

    Cores: ``$SPARK_GRAFT_CPUS``, else the CPUs this process may run on.
    Heap: ``$SPARK_DRIVER_MEMORY``, else half the memory this process may
    use (a numeric cgroup v2 ``memory.max``, else ``MemTotal``), in whole
    GiB clamped to [1g, 24g]. A heap ceiling above what the host holds lets
    the JVM outgrow RAM, and G1 sizes its young generation to the ceiling.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    heap = os.environ.get("SPARK_DRIVER_MEMORY")
    if not heap:
        try:
            with open(cgroup_max) as f:
                limit = int(f.read())
        except (OSError, ValueError):  # no cgroup v2 file, or "max"
            with open(meminfo) as f:
                kib = next(ln for ln in f if ln.startswith("MemTotal:")).split()[1]
            limit = int(kib) * 1024
        heap = f"{min(max(limit // 2 // _GIB, 1), 24)}g"
    return cpus, heap


def get_spark(
    app_name: str = "evolution-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus, heap = _host_size()
    builder = (
        SparkSession.builder.master(master or f"local[{cpus}]")
        .appName(app_name)
        # AQE: runtime coalescing, skew-join splitting, dynamic join strategy —
        # the knobs that make the same plan survive a 100x scale-up.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", heap)
        .config("spark.ui.enabled", "false")
        # Keep stdout machine-parseable: the console progress bar writes
        # carriage-return frames that can interleave with (and truncate) the
        # single JSON result line bench.py prints.
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
