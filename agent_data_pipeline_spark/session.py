"""SparkSession factory.

One tuned builder for both local development (local[32], single JVM) and —
via the same config surface — a real multi-executor cluster. The settings
below are the scale-relevant ones (SURVEY.md §4, §7 stage 6):

* AQE on: runtime partition coalescing + skew-join splitting, which is the
  first line of defense against skewed keys at 100 TB.
* shuffle.partitions sized to cores locally; on a cluster AQE's coalesce
  makes the static number mostly irrelevant (set initialPartitionNum high).
* Arrow enabled so any Pandas-UDF path is vectorized batch transfer.
* Session timezone pinned UTC so timestamp semantics match the DuckDB
  oracle and are cluster-reproducible.
* Driver heap sized from host memory (``default_driver_memory``), so the
  default fits the host it runs on.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_MAX_DRIVER_MB = 24 * 1024
_MIN_DRIVER_MB = 1024


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Driver heap default: 60 % of the host's MemTotal, capped at 24g
    and floored at 1g, leaving room for the Python side, Python workers
    and the JVM's off-heap memory. Without a readable ``meminfo`` (a
    non-Linux host) it is the cap."""
    try:
        with open(meminfo) as fh:
            total_kb = next(
                int(line.split()[1]) for line in fh if line.startswith("MemTotal:")
            )
    except (OSError, StopIteration, IndexError, ValueError):
        return f"{_MAX_DRIVER_MB}m"
    mb = int(total_kb * 0.6) // 1024
    return f"{max(_MIN_DRIVER_MB, min(_MAX_DRIVER_MB, mb))}m"


def get_spark(
    app_name: str = "agent_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Defaults target the dev box: ``local[$SPARK_GRAFT_CPUS]`` (32 threads).
    On a cluster, pass ``master=None`` with spark-submit providing the
    master; every other setting still applies.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)

    # Shuffle files on tmpfs: guide §2.1 — local disk bandwidth for
    # shuffle files is often the tighter limit. On this box /tmp is
    # disk-backed and /dev/shm is a 126 GiB tmpfs; one trivial 32-part
    # shuffle measured 0.55 s via /tmp vs 0.34 s via /dev/shm (the
    # suite's queries run 2-6 shuffles each). Production analog:
    # provision fast local NVMe (or ramdisk for small-shuffle tiers) as
    # spark.local.dir. Parameterised; falls back to the system default
    # when no tmpfs exists. Memory safety: shuffle volumes here are MBs
    # (sf0.1) to low GBs (10x stress) against 126 GiB capacity, and
    # Spark removes its blockmgr dirs on session stop.
    def _tmpfs_default() -> str:
        # Gate the tmpfs default on actual capacity (ADVICE r14):
        # /dev/shm exists on ~every Linux host, but shuffle files and
        # disk spills consuming a SMALL tmpfs turn graceful spill into
        # ENOSPC job failures. Only default to tmpfs when it has
        # comfortable headroom for this engine's shuffle volumes
        # (MBs at sf0.1, low GBs at 10x stress); boxes below the bar —
        # and any deployment with real shuffle volume — set
        # SPARK_GRAFT_LOCAL_DIR explicitly (production: local NVMe).
        try:
            st = os.statvfs("/dev/shm")
            if st.f_bavail * st.f_frsize >= 32 * 1024**3:
                return "/dev/shm/spark-graft-local"
        except OSError:
            pass
        return ""

    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR", _tmpfs_default())
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE partition coalescing stays at its defaults (parallelismFirst
        # + 1 MB minPartitionSize). A 64 KB floor was measured this round
        # and REJECTED: it multiplies task counts on every small shuffle,
        # which compounds across iterative ops (k_core peel: 18 s -> 30+ s
        # at sf0.1). CPU-heavy HOF stages that need parallelism on small
        # data get it from their explicit spread(force=True) barriers,
        # which AQE never coalesces.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Every Generate in this engine explodes a COMPUTED array (HOF
        # shingles, band keys, normalized vectors) — never a cheap stored
        # column. InferFiltersFromGenerate therefore only ever duplicates
        # the full array computation into an inferred `size(e) > 0`
        # Filter that pushdown then drags below the spread exchange
        # (measured 103 -> 5 s on the round-13 band-key operators; the
        # plan_audit `hof_filter_recompute` detector polices code-level
        # regressions). Excluding the rule removes the same class for
        # non-lambda computed arrays (split/array_distinct) the detector
        # cannot see. Plan-only: results are unchanged in any session.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
