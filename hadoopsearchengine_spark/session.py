"""SparkSession factory tuned for this engine.

The reference hand-wires its parallelism as compile-time constants (256
parse/index clients, 256 word/hit/graph divisions — reference
DyableCommand/DyableCommand.cpp:12-24). Here the equivalents are ordinary
Spark conf: shuffle partitions sized to cores locally and to input size on a
real cluster, with AQE enabled so runtime re-planning (partition coalescing,
skew-join splitting) replaces hand-tuned fan-out constants.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

# FAIR-scheduler pool definitions. The "latency" pool is for stages whose
# wall time is job/stage-scheduling latency, not CPU (the dense-id
# prefix-sum's tiny jobs; the links -> 20-cycle-PageRank ladder): a high
# weight means every freed task slot goes to this pool first, so its small
# tasks never queue behind a heavy scan's multi-second tasks. Spark has no
# preemption, so weight (not minShare alone) is what bounds the queueing
# delay to ~one heavy-task duration. All other pools are created on demand
# with weight 1 and share slots equally.
_POOLS_XML = """<?xml version="1.0"?>
<allocations>
  <pool name="latency">
    <schedulingMode>FIFO</schedulingMode>
    <weight>100</weight>
    <minShare>2</minShare>
  </pool>
</allocations>
"""


def _pools_file() -> str:
    # mkstemp, not a fixed shared name: a fixed /tmp path collides across
    # users (second user's open() fails -> FAIR pools silently degrade to
    # weight 1) and is a symlink-overwrite hazard
    try:
        fd, path = tempfile.mkstemp(prefix="sfe_fair_pools_",
                                    suffix=".xml")
        with os.fdopen(fd, "w") as f:
            f.write(_POOLS_XML)
    except OSError:
        return ""
    return path


def _base_conf(shuffle_partitions: int, driver_mem: str) -> dict[str, str]:
    """The conf every session of this engine shares."""
    return {
        "spark.executorEnv.PYTHONPATH": os.environ.get("PYTHONPATH", ""),
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        # FAIR job scheduling: the build runs independent stages from
        # concurrent threads (plans/build_index._finish_index); under the
        # default FIFO a heavy scan stage occupies every slot and the
        # latency-bound links -> 20-cycle-PageRank chain queues BEHIND it,
        # then runs with most slots idle — serialized onto the critical
        # path. FAIR gives each stage-thread's pool an equal share, so the
        # low-CPU chain finishes under the heavy scans. Single-threaded
        # callers are unaffected (one pool). The "latency" pool (see
        # _POOLS_XML) is high-weight so scheduling-latency-bound stages get
        # freed slots first.
        "spark.scheduler.mode": "FAIR",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEM", driver_mem),
        "spark.ui.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # Local-mode split sizing: bench/test inputs are sub-GB, so Spark's
        # default 128 MB splits leave scan-rooted stages with 2-3 tasks —
        # stragglers and idle slots dominate. 16 MB keeps >=8 tasks per
        # stage at bench scale; measured 2.2x on the full 48k-page build
        # (local[2] 505s -> 231s, local[8] 261s -> 162s, BENCH/BASELINE.md).
        # A real cluster reading TB-scale inputs wants the 128 MB default
        # back — override via extra_conf / spark-submit --conf (the env
        # knob exists for exactly that).
        "spark.sql.files.maxPartitionBytes": os.environ.get(
            "SPARK_GRAFT_SPLIT_BYTES", str(16 * 1024 * 1024)),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes":
            str(8 * 1024 * 1024),
    }


def _build(master: str, app_name: str, conf: dict[str, str],
           extra_conf: dict[str, str] | None) -> SparkSession:
    """getOrCreate with ``conf`` then ``extra_conf`` and the FAIR pools
    file. Spark reads the allocation file only while it creates the
    SparkContext, so the file is deleted once getOrCreate returns."""
    builder = SparkSession.builder.master(master).appName(app_name)
    pools = _pools_file()
    if pools:
        conf = {**conf, "spark.scheduler.allocation.file": pools}
    try:
        for k, v in {**conf, **(extra_conf or {})}.items():
            builder = builder.config(k, v)
        spark = builder.getOrCreate()
    finally:
        if pools:
            os.unlink(pools)
    spark.sparkContext.setLogLevel("WARN")
    return spark


def get_spark(
    app_name: str = "spark-fulltext-engine",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    cores: local[`cores`]; defaults to $SPARK_GRAFT_CPUS or all cores.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    return _build(f"local[{cores}]", app_name,
                  _base_conf(shuffle_partitions, "24g"), extra_conf)


def get_spark_cluster(
    n_executors: int,
    cores_per_executor: int = 2,
    executor_mem_mb: int = 6144,
    app_name: str = "spark-fulltext-engine",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Multi-EXECUTOR session via Spark's built-in ``local-cluster`` master:
    ``n_executors`` separate executor JVMs (own heap/GC, own python-worker
    pool, shuffle over netty between processes) on this machine.

    This is the faithful in-sandbox substitution for the north rule's
    "N vs 4N executors" criterion: scaling executors keeps per-executor
    resources (cores, memory, worker pool) CONSTANT and multiplies executor
    count — exactly what local[N] -> local[4N] does NOT do (one shared JVM
    heap, one GC, one python pool for every parallelism level). The same
    job submitted at get_spark_cluster(1) vs get_spark_cluster(4) is a true
    two-cluster-size run; on a real cluster the identical code ships via
    ``spark-submit --master <cluster> --num-executors N`` (cli.py).
    """
    if executor_mem_mb <= 1536:
        # 1024 MB goes to JVM overhead headroom below; anything at or under
        # ~1.5 GB yields a zero/negative or unusably small executor heap and
        # an opaque JVM launch failure — fail fast with a clear message.
        raise ValueError(
            f"executor_mem_mb={executor_mem_mb} too small: need > 1536 MB "
            "(1024 MB is reserved for JVM overhead)")
    total_cores = n_executors * cores_per_executor
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * total_cores, 8)
    conf = {**_base_conf(shuffle_partitions, "8g"),
            "spark.executor.memory": f"{executor_mem_mb - 1024}m"}
    return _build(f"local-cluster[{n_executors},{cores_per_executor},"
                  f"{executor_mem_mb}]", app_name, conf, extra_conf)
