"""SparkSession factory.

Local testing runs ``local[N]`` single-JVM; the configs below are chosen so
the same code scales to a multi-executor cluster:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting) — at
  100 TB the static partition number is always wrong in one direction.
- ``spark.sql.shuffle.partitions`` is a *ceiling* AQE coalesces down from.
- Arrow enabled for every pandas interchange (the HTTP adapter, pandas UDFs).
- ANSI off: the reference's casts are lenient (``strict=False`` → null on
  failure, reference polars casts); we use ``try_cast`` explicitly anyway.
- Session timezone pinned to UTC so timestamp semantics match the oracle.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

# A top-k at or above this k plans as Sort + limit instead of
# TakeOrderedAndProject, whose guava TopKSelector pre-allocates a 2k-slot
# buffer per task: a k of 10^9 over a ten-row frame exhausts any heap and
# takes the JVM down. Below it — every guard-sized sample, e.g. the RDF
# sink's 250 — the plan is unchanged.
TOPK_SORT_FALLBACK = 1_000_000


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Half the host's RAM, capped at 32g (32g when ``MemTotal`` cannot be
    read). A fixed 32g outgrew smaller hosts: the kernel OOM-killed the
    JVM instead of Spark raising a Java heap error."""
    cap_mib = 32 * 1024
    try:
        with open(meminfo) as f:
            kib = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError, IndexError):
        return f"{cap_mib}m"
    return f"{min(kib // 2048, cap_mib)}m"


def get_spark(
    app_name: str = "wikidatabots-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalescing is BYTE-based; several of this engine's stages
        # are byte-small but CPU-dense (pair joins over hashes, CC label
        # rounds, HOF-heavy projections), and the default 1m floor folds
        # them to one task (measured: a 6.7 s single-task semdedup pair
        # stage; dedup_components_incremental 7.3 → 5.0 s min with the
        # smaller floor). 16k keeps such stages parallel while still
        # coalescing genuinely empty partitions. Scale-adaptive, not a
        # local[32] tune: with parallelismFirst (default true) the
        # target is max(shuffle_bytes / parallelism, this floor), so on
        # real data the ratio term dominates and the floor is inert —
        # it only matters for KB-scale shuffles, where per-task overhead
        # is trivial on any cluster. Override via env for fleets where
        # tiny-stage task overhead is expensive.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_AQE_MIN_PARTITION", "16k"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")
        # events.parquet carries TIMESTAMP(NANOS); Spark reads it as a
        # long which sources.tables converts to a µs timestamp explicitly
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        # console progress bars interleave carriage-return frames with
        # stdout, corrupting redirected reports (ADVICE r12: PLANS.md
        # captured '[Stage 0:>...]' fragments into committed table rows)
        .config("spark.ui.showConsoleProgress", "false")
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE",
                os.path.join(tempfile.gettempdir(), "wdb_spark_warehouse"),
            ),
        )
        # local[N] puts all executor work on the driver heap: 32 task
        # threads in 8g spent whole stages in GC mid-suite (measured 2-3x
        # per-query swings); 32g on the 128 GiB test box keeps GC out of
        # the numbers, and half the RAM keeps a smaller host alive. On a
        # real cluster executor memory is sized per-node and this knob
        # only feeds the planner/collects.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        .config(
            "spark.sql.execution.topKSortFallbackThreshold", str(TOPK_SORT_FALLBACK)
        )
        # This host exhibits guest-invisible multi-minute stalls (the
        # bench protocol documents 1.4s ↔ 17s swings at idle loadavg;
        # r12 captured a 245s full-JVM freeze in a -s pytest log). At
        # the default 120s heartbeat timeout such a stall makes
        # HeartbeatReceiver "remove" the LOCAL executor — unrecoverable
        # in local mode: the driver-executor can never re-register and
        # the whole app collapses with cascading ConnectionRefused (the
        # r11 judge's "spurious ConnectionRefused" failures are this
        # mechanism). Local mode has no real liveness to detect — the
        # executor IS the driver — so a generous timeout only adds
        # stall tolerance. On a real cluster these two knobs are
        # fleet-tuning, not correctness.
        .config("spark.network.timeout", "800s")
        .config("spark.executor.heartbeatInterval", "60s")
    )
    return builder.getOrCreate()
