"""SparkSession factory tuned for this engine.

local[N] in the sandbox; on a real cluster the same settings apply
except master/memory come from spark-submit.  AQE is on so skewed
shuffles re-plan at runtime; shuffle partitions default to the core
count rather than 200.
"""

from __future__ import annotations

import os

from pyspark import SparkConf
from pyspark.sql import SparkSession


def default_driver_memory(meminfo: str) -> str:
    """Driver-heap default from the text of ``/proc/meminfo``: half of
    MemTotal, capped at 24g.  A fixed 24g heap on a smaller host lets
    the JVM grow past physical memory and get OOM-killed; half leaves
    room for the Python workers.  No MemTotal line (not Linux) gives
    the cap."""
    for line in meminfo.splitlines():
        if line.startswith("MemTotal:"):
            return f"{min(24 * 1024, int(line.split()[1]) // 2048)}m"
    return "24g"


def _meminfo() -> str:
    try:
        with open("/proc/meminfo") as fh:
            return fh.read()
    except OSError:
        return ""


def get_spark(
    app: str = "search_engine_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # an explicit ``master`` argument wins; otherwise respect a master
    # already set by spark-submit (--master yarn / k8s / local[N] lands
    # in SparkConf via system properties) — overriding it here would
    # silently turn every cluster submit into a local run; only when
    # neither exists (plain ``python script.py``) default to local[N]
    submit_conf = SparkConf()
    submit_master = submit_conf.get("spark.master", None)
    effective = master or submit_master or f"local[{cpus}]"
    if shuffle_partitions is None and effective.startswith("local"):
        # legal local masters: local, local[N], local[*], local[N,F]
        # (F = task retries — not a thread count)
        inside = effective[effective.index("[") + 1 : -1] if "[" in effective else "1"
        n = inside.split(",")[0].strip() or "1"
        # 4 waves per core, not 1: with exactly one task per core the
        # wall clock of every shuffle stage is max(task), so any skew
        # in the hash assignment (e.g. pack's 512 (bucket,shard)
        # groups into few partitions) lands directly on the critical
        # path and a single straggler idles every other core.  4x
        # gives the scheduler slack to rebalance; AQE coalesces the
        # small post-agg shuffles back down (8m advisory below), so
        # tiny queries don't pay 4x task overhead.  Measured on the
        # isolated 240k-doc pack stage: local[8] 33.0s -> 18.2s
        # (2->8 stage efficiency 0.44 -> 0.79) with local[2] flat.
        shuffle_partitions = 128 if n == "*" else max(8, 4 * int(n))
    # (non-local with no explicit value: leave shuffle partitions to
    # spark-submit --conf / cluster defaults rather than clobbering)
    builder = SparkSession.builder.appName(app)
    if master or submit_master is None:
        builder = builder.master(effective)
    if shuffle_partitions is not None:
        builder = builder.config(
            "spark.sql.shuffle.partitions", str(shuffle_partitions))
    builder = (
        builder
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # default 64m advisory lets AQE coalesce the small post-agg
        # shuffles (doc stats, dictionary) down to 1-2 tasks, which
        # serializes those stages at every parallelism level; 8m keeps
        # them wide without meaningfully adding task overhead
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
        # local-mode has no network transfer: broadcasting a ~10-60MB
        # doc/dictionary side beats shuffling the 100x bigger postings
        # side (at cluster scale AQE still falls back to SMJ for big
        # builds — this only raises the ceiling)
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.driver.memory", os.environ.get(
            "SPARK_DRIVER_MEMORY", default_driver_memory(_meminfo())))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in (extra or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
