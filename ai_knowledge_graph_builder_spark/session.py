"""SparkSession factory with scale-oriented defaults.

The same builder is used by tests (small ``local[N]``) and the bench/pipeline
entry points. Settings are the ones that matter at 100 TB: AQE (runtime
coalescing + skew-join splitting), Arrow for every pandas UDF boundary,
explicit shuffle parallelism, and broadcast threshold high enough that the
alias dictionary / rule table always broadcast.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

#: the Python worker daemon (see worker_daemon.py): stock pyspark.daemon plus
#: a guard that stops every task re-reading pyspark.zip's directory
PYTHON_DAEMON_MODULE = "ai_knowledge_graph_builder_spark.worker_daemon"
#: the directory (or zip) this package is imported from
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def python_worker_conf(master: str) -> dict[str, str]:
    """Start Python workers through the guarded daemon, on ``local[...]``
    masters only. The daemon imports this package before it forks any
    worker, but pyspark puts ``--py-files``/``addPyFile`` archives on
    ``sys.path`` only inside a forked worker, at task start; executors of a
    cluster master may not have the package before that, so they keep the
    stock daemon. Local workers share the driver's file system, so the
    package's root on their ``PYTHONPATH`` makes it importable whatever
    their working directory."""
    if not re.fullmatch(r"local(\[[^\]]*\])?", master):
        return {}
    return {
        "spark.python.daemon.module": PYTHON_DAEMON_MODULE,
        "spark.executorEnv.PYTHONPATH": PACKAGE_ROOT,
    }


def default_cpus() -> int:
    """Cores of a local session: ``SPARK_GRAFT_CPUS``, else the CPUs this
    process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def default_shuffle_partitions(master: str) -> int:
    """One shuffle partition per worker thread of a local master: ``local``
    → 1, ``local[*]`` → ``default_cpus()``, ``local[N]`` and
    ``local[N,F]`` → N. Other masters get 32; on a real cluster this is
    set to 2-3x total cores (or left to AQE)."""
    m = re.fullmatch(r"local(?:\[(\*|\d+)(?:,\d+)?\])?", master)
    if m is None:
        return 32
    threads = m.group(1)
    if threads is None:
        return 1
    return default_cpus() if threads == "*" else int(threads)


def default_driver_memory() -> str:
    """40% of the host's MemTotal, capped at 16g: a fixed 16g heap on a
    15 GiB host without swap grows until the kernel OOM-kills the JVM."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    total_mb = int(line.split()[1]) // 1024
                    return f"{min(int(0.4 * total_mb), 16 * 1024)}m"
    except OSError:
        pass
    return "16g"


def get_spark(
    app_name: str = "kg-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{default_cpus()}]"
    if shuffle_partitions is None:
        shuffle_partitions = default_shuffle_partitions(master)

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # pyspark 4.1 captures the Python call site of every DataFrame and
        # F.* call for error messages: about three extra py4j round trips
        # and a stack walk per call, 59% of the round trips of planning the
        # KG graph. Errors keep their message and the JVM query context.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        # byte-size coalescing starves Arrow-UDF stages of parallelism (the
        # NER/linking relations compress to a few MB but cost CPU per row —
        # profiled: a 55 s stage ran on 27 tasks at 32 cores). Skew-join
        # splitting stays on; each Python-UDF input is hash-partitioned one
        # partition per core instead (operators/skew.spread).
        .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # scan split size, parameterised (guide §6): the local test tables
        # are single parquet files with up to 6 row groups, and the default
        # 128 MB split leaves a 131 MB lineitem scan on 1-2 cores of 32 —
        # 16 MB splits align tasks with row groups locally. At production
        # scale SET THIS UP via env (128 MB-1 GB: large sequential scans
        # want FEWER, larger map tasks feeding any shuffle — §2.2/§6).
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", str(16 * 1024 * 1024)),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # collect_set/collect_list aggregations (the co-occurrence kernels)
        # run as ObjectHashAggregate, which silently degrades to SORT-based
        # aggregation once a partition sees more than 128 groups — the
        # default is hit by ANY realistic per-doc/per-user grouping and was
        # costing a full sort of the mention relation per partition
        # (measured: events_cooccur 0.73 s → 0.55 s, flagship −0.2 s at
        # sf1.0). 64Ki keeps the hash path for every grouping this engine
        # plans (max observed ~4.7k groups/partition) with 14× headroom
        # while still bounding the untracked in-heap object map the
        # fallback exists to protect (≈ tens of MB/task for set-of-ids
        # payloads, vs unbounded at very large values); raise/lower via env
        # for fat payloads or wider groupings.
        .config(
            "spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
            os.environ.get("SPARK_GRAFT_OBJ_AGG_FALLBACK", str(65_536)),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # managed-table warehouse outside the repo (bucketed graph tables)
        .config("spark.sql.warehouse.dir", os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/kg-spark-warehouse"))
    )
    conf = {**python_worker_conf(master), **(extra_conf or {})}
    for k, v in conf.items():
        b = b.config(k, v)
    return b.getOrCreate()
