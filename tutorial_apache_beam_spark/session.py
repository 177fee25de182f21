"""SparkSession construction with scale-aware defaults.

Local mode is the test harness; the same config set is what we would ship on
a 1000-executor cluster (AQE, skew-join handling, partition-size-targeted
coalescing, pushdown-friendly parquet options). Local-specific are the
master URL, the shuffle-partition count and, on a local master, the
streaming checkpoint file manager and the `file://` file system (see
`master_conf`); all are overridable. The file system is
`jvm/NioLocalFileSystem.java`, committed with its jar built by
`tools/build_nio_fs_jar.py`, so no JDK is needed at run time.
"""

from __future__ import annotations

import os

from py4j.protocol import Py4JError
from pyspark import SparkContext
from pyspark.sql import SparkSession

# At cluster scale, shuffle partitions should target ~128-200 MB per task
# post-AQE; locally we match the core count so tiny SF data doesn't get
# over-parallelized. AQE coalescing makes the static number a ceiling, not a
# tuning knob, so a large static value + AQE is the scale-safe choice.
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

CHECKPOINT_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"
LOCAL_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)
LOCAL_FS_KEY = "spark.hadoop.fs.file.impl"
NIO_LOCAL_FS = "tutorial_apache_beam_spark.hadoop.NioLocalFileSystem"
NIO_LOCAL_FS_JAR = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "jvm", "nio-local-fs.jar"
)
DRIVER_CLASSPATH_KEY = "spark.driver.extraClassPath"


def default_driver_memory() -> str:
    """`spark.driver.memory` unless SPARK_GRAFT_DRIVER_MEM is set: 16g,
    capped at half of physical RAM. Local mode runs every executor inside
    the driver JVM, and a heap that may grow to the whole host gets the
    JVM killed by the kernel once other processes hold the rest."""
    try:
        physical = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError):
        return "16g"
    return f"{min(16 * 1024, physical // 2 // 2**20)}m"


def master_conf(
    master: str,
    extra_conf: dict[str, str] | None = None,
    nio_local_fs: bool = True,
) -> dict[str, str]:
    """The settings `get_spark` derives from the resolved `master` URL,
    with `extra_conf` laid over them. `nio_local_fs=False` leaves out the
    `file://` file system: a JVM started without its jar on the class
    path would fail its first file access."""
    extra = dict(extra_conf or {})
    conf: dict[str, str] = {}
    if master.startswith("local"):
        # Streaming checkpoints (source/offset/commit logs, state-store
        # deltas) go through Hadoop's FileSystem API, not Spark's
        # FileContext default. Without libhadoop, the local FileContext
        # runs `readlink` four times per rename: 58 of the 83 processes a
        # Demo2 windows micro-batch started (SCALING.md "Checkpoint
        # writes"). On a local file system both rename with POSIX
        # rename(2), which replaces atomically. Cluster masters keep the
        # default: HDFS `FileSystem.rename` refuses an existing target, so
        # a re-run batch would keep a stale state-store delta. A local
        # master with its checkpoints on HDFS should set the key back
        # through `extra_conf`.
        conf[CHECKPOINT_MANAGER_KEY] = LOCAL_CHECKPOINT_MANAGER
        if nio_local_fs:
            # `file://` through Hadoop's checksummed LocalFileSystem with
            # its permissions set through java.nio: without libhadoop,
            # Hadoop runs a `chmod` process for every file and directory
            # it creates (checkpoint and state-store files, parquet task
            # and job files; ~25 per Demo2 micro-batch; SCALING.md "File
            # permissions"). Local mode runs the executors in the driver
            # JVM, so the driver class path is enough; a caller's own
            # class path is kept after the jar.
            conf[LOCAL_FS_KEY] = NIO_LOCAL_FS
            conf[DRIVER_CLASSPATH_KEY] = os.pathsep.join(
                filter(None, [NIO_LOCAL_FS_JAR, extra.pop(DRIVER_CLASSPATH_KEY, "")])
            )
    conf.update(extra)
    return conf


def _jvm_lacks_nio_local_fs() -> bool:
    """True when this process's JVM is already running without the
    `file://` file system's jar: its class path is fixed at launch."""
    jvm = SparkContext._jvm
    if jvm is None:
        return False
    try:
        jvm.java.lang.Class.forName(NIO_LOCAL_FS)
    except Py4JError:
        return True
    return False


def get_spark(
    app_name: str = "tutorial_apache_beam_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Defaults chosen for correctness-vs-DuckDB comparability (UTC session
    timezone, ANSI off for permissive casts) and for scale (AQE on with
    partition coalescing + skew-join splitting; Arrow for the Pandas-UDF
    escape hatch; nanosecond parquet timestamps read as longs so the
    catalog can convert them losslessly).
    """
    # Python workers (mapInPandas / pandas_udf) un-pickle closures that
    # reference this package; make sure they can import it no matter where
    # the driver process was launched from. Must happen before the JVM
    # starts — workers inherit PYTHONPATH from it.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{repo_root}{os.pathsep}{existing}" if existing else repo_root
        )

    cpus = DEFAULT_CPUS
    master = master or f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions if shuffle_partitions is not None else cpus),
        )
        # AQE: runtime re-planning — coalesce small post-shuffle partitions,
        # split skewed ones, convert to broadcast joins when a side turns out
        # small. This is the core of "survives a 100x scale-up".
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow batches for every Python<->JVM crossing (pandas_udf,
        # applyInPandas, toPandas) — the only acceptable Python path.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Deterministic oracle comparison: DuckDB timestamps are UTC-naive.
        .config("spark.sql.session.timeZone", "UTC")
        # Fixture `events.ts` is INT64 TIMESTAMP(NANOS) parquet, which Spark
        # refuses by default; read as long and convert in the catalog.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Let the planner pick a shuffled-hash join when its size
        # conditions hold (guide §9 baseline; r13 measured: the seven
        # join-heavy relational gates run ~10-15% faster at sf0.1,
        # sign-consistent across interleaved rounds). Scale-safe by
        # construction: the planner only chooses SHJ when plan stats
        # bound the build side per partition (canBuildLocalHashMap),
        # falling back to sort-merge otherwise, and AQE skew splitting
        # still applies. Override: SPARK_GRAFT_PREFER_SMJ=true restores
        # the Spark default.
        .config(
            "spark.sql.join.preferSortMergeJoin",
            os.environ.get("SPARK_GRAFT_PREFER_SMJ", "false"),
        )
        # Push filterless MIN/MAX/COUNT down to parquet footer statistics
        # (off by default): a full-table COUNT(*) at 100 TB becomes a
        # footer sweep instead of a data scan. Catalyst only applies it
        # when semantics are exact (no filters, no partial groupings).
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # Python workers fork from our daemon, whose zip importers skip
        # the per-task re-read of unchanged pyspark.zip / Spark jar
        # directories (~250 ms of CPU per task on CPython 3.11). Importable
        # through the PYTHONPATH set above.
        .config(
            "spark.python.daemon.module",
            "tutorial_apache_beam_spark.worker_daemon",
        )
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", default_driver_memory()),
        )
    )
    conf = master_conf(
        master, extra_conf, nio_local_fs=not _jvm_lacks_nio_local_fs()
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
