"""SparkSession factory.

Local mode is a single JVM with N executor threads; the same configuration
(AQE, UTC session timezone, Arrow) is what we would ship to a multi-executor
cluster — only master/memory sizing changes. Shuffle partitions default to the
local core count; on a real cluster this is left to AQE coalescing with a much
higher initial value.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

#: master override for multi-process-executor postures, e.g.
#: ``local-cluster[2,4,2048]`` (2 executor JVMs x 4 cores x 2 GiB) —
#: the one local mode that exercises REAL task/broadcast serialization
#: across process boundaries. Empty = threaded local[N].
DEFAULT_MASTER = os.environ.get("SPARK_GRAFT_MASTER", "")


def get_spark(
    app_name: str = "pot_spark", cpus: str | None = None, ui_port: int | None = None
) -> SparkSession:
    """Build (or reuse) the SparkSession with engine defaults.

    UTC session timezone is load-bearing: the DuckDB oracle compares
    timestamps as UTC-naive values. ``ui_port`` serves the Spark UI and
    its REST API on that port (off otherwise), so a profile reads the
    same session config the bench runs.
    """
    cpus = cpus or DEFAULT_CPUS
    master = DEFAULT_MASTER or f"local[{cpus}]"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE's coalescing floor (default 1m) decides post-shuffle
        # parallelism for byte-light stages: with parallelismFirst the
        # target size is max(bytes/defaultParallelism, minPartitionSize),
        # so a CPU-dense 5 MB n-gram aggregation coalesces to ~6 tasks
        # and leaves the rest of the session idle (r13 profile: 2.5 s on
        # 4 tasks for q_kneser_ney's reduce). 128k keeps MB-scale
        # shuffles at full local parallelism while sub-256k shuffles
        # still collapse to 1-2 tasks. Scale posture: shuffle partitions
        # at 100 TB are GB-sized, where the floor never binds; a real
        # cluster can restore 1m (or larger) via SPARK_GRAFT_AQE_MIN_PART
        # to bound task-scheduling overhead on its executor count.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_AQE_MIN_PART", "128k"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python DataSource readers (pot format) declare key pushdown
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", str(ui_port is not None).lower())
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if ui_port is not None:
        builder = builder.config("spark.ui.port", str(ui_port))
    if master.startswith("local-cluster"):
        # executor JVMs spawn their own Python workers, which need the
        # repo importable (UDF closures reference pot_spark modules);
        # on a real cluster this is the --py-files / container image.
        # CARRY the driver's PYTHONPATH along: executorEnv.PYTHONPATH
        # REPLACES the inherited value for executor Python workers, so
        # without the carry a worker loses every module directory the
        # driver was started with and fails to import what a closure
        # references from there.
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        inherited = os.environ.get("PYTHONPATH", "")
        val = repo + (os.pathsep + inherited if inherited else "")
        builder = builder.config("spark.executorEnv.PYTHONPATH", val)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def reliable_checkpoint(df, eager: bool = True):
    """Truncate lineage with a RELIABLE checkpoint.

    Unlike ``localCheckpoint`` — whose blocks live on executors and are
    lost with them, corrupting an iterative computation on executor
    death at cluster scale — ``checkpoint()`` writes to the checkpoint
    directory, which on a real cluster is durable storage
    (``SPARK_GRAFT_CHECKPOINT_DIR``); locally it falls back to a temp
    dir. Eager by default so the truncated subtree runs exactly once.
    """
    import atexit
    import shutil
    import tempfile

    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is None:
        base = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
        if base is None:
            # local fallback dir: reclaim the materialized relations at
            # interpreter exit (an explicit SPARK_GRAFT_CHECKPOINT_DIR is
            # the caller's to manage — on a cluster it's durable storage)
            base = tempfile.mkdtemp(prefix="pot_spark_ckpt_")
            atexit.register(shutil.rmtree, base, ignore_errors=True)
        sc.setCheckpointDir(base)
    return df.checkpoint(eager=eager)
