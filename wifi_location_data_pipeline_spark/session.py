"""SparkSession factory tuned for the engine.

Local-mode defaults follow the driver environment (single JVM, many cores);
cluster deployments override via ``extra_conf``. Every knob here matters at
100 TB: AQE for runtime re-planning and skew joins, UTC session timezone so
results are oracle-comparable, Arrow for the pandas-UDF tier.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import SparkSession

_JVM_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm")
# the session's Java classes, one jar built from jvm/*.java by
# tools/build_nio_fs_jar.py: the file:// FileSystem every session uses
# (Hadoop's LocalFileSystem, its permissions set in the JVM instead of by a
# forked /bin/chmod per created file and directory) and the positioning
# stream's sink (streaming/positioning.py)
JVM_SOURCES = sorted(glob.glob(os.path.join(_JVM_DIR, "*.java")))
NIO_FS_JAR = os.path.join(_JVM_DIR, "nio-local-fs.jar")
NIO_FS_CLASS = "wifi_location_data_pipeline_spark.jvm.NioLocalFileSystem"
BATCH_FILE_SINK_CLASS = "wifi_location_data_pipeline_spark.jvm.BatchFileSink"


def build_session(
    app_name: str = "wifi_location_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession with engine defaults.

    Defaults are environment-driven so tests, bench, and the driver's
    harness can shape the session without code changes:

    - ``SPARK_GRAFT_CPUS``  → ``local[N]`` master and shuffle parallelism
    - ``SPARK_GRAFT_DRIVER_MEM`` → driver heap (local mode = the only heap)

    ``file://`` paths go through ``NIO_FS_CLASS``: its jar joins the driver
    and executor class paths ahead of any ``extraClassPath`` the caller
    passes. The JVM reads its class path when it starts, so the first
    session of a process decides it. Raises FileNotFoundError if the jar is
    missing.
    """
    if not os.path.isfile(NIO_FS_JAR):
        raise FileNotFoundError(f"{NIO_FS_JAR} is missing; build it with tools/build_nio_fs_jar.py")
    conf = dict(extra_conf or {})
    for k in ("spark.driver.extraClassPath", "spark.executor.extraClassPath"):
        conf[k] = os.pathsep.join([NIO_FS_JAR] + ([conf[k]] if conf.get(k) else []))
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else (os.cpu_count() or 8)
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # coalesce small shuffles down to the advisory size instead of pinning
        # them at default parallelism: multi-stage plans over modest data spend
        # more wall-clock on task scheduling than on work otherwise. CPU-heavy
        # narrow stages that need fan-out (the pandas numeric tier) ask for it
        # explicitly with repartition().
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        # shuffle-partition sizing (advisoryPartitionSizeInBytes) and scan
        # split sizing (files.openCostInBytes) are corpus-dependent: what a
        # tiny test corpus wants (coarse — fixed cost dominates) serializes
        # CPU-heavy stages at scale. sources.tables.configure_for_corpus
        # sets both per corpus; the session keeps Spark's defaults.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # answer filterless MIN/MAX/COUNT from parquet footer stats instead
        # of a full column scan (the fixture-population MAX(user_id) and any
        # stats probe). NOTE: this only engages on the DSv2 parquet reader;
        # the local suite reads parquet via the V1 source (parquet is in the
        # default spark.sql.sources.useV1SourceList), where it is a no-op —
        # verified by the absence of PushedAggregation in the MAX plan. The
        # single-column MAX scan it would save costs ~0.1 s per query here;
        # kept for deployments that run the DSv2 reader.
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # collect_list/collect_set aggregates run as ObjectHashAggregate;
        # the default 128-entry in-memory map spills to sort-based
        # aggregation as soon as a partition holds >128 groups, adding a
        # sort per partition. The product user is localization's numeric
        # tier (_localize_numeric packs each AP's rows with collect_list, one
        # group per AP, so a partition past 128 APs would spill); typed
        # object maps of a few thousand packed rows fit comfortably in
        # executor memory at any sane partition sizing.
        .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4096")
        # error-context capture walks the Python stack AND makes an extra
        # py4j call per DataFrame operation. It was set for a generated
        # positioning plan of ~25k ops (the wrapper cost ~40% of its
        # driver-side build); that plan is gone, and no current plan builds
        # enough operations for the wrapper to show
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # single-node: every task is process-local, so the delay-scheduling
        # wait is pure added latency per scheduling round. Cluster
        # deployments reading off HDFS-style locality should override via
        # extra_conf.
        .config("spark.locality.wait", "0s")
        # without libhadoop, Hadoop's local FileSystem forks /bin/chmod for
        # every file and directory it creates: 6 per serving micro-batch
        # (offset, commit and file-source log entries, each with its .crc).
        # The shim sets the same modes in the JVM; on a 4-core host one
        # create+write+close through py4j, p50 of 30, went from 8.7 to 2.7 ms.
        .config("spark.hadoop.fs.file.impl", NIO_FS_CLASS)
        # streaming checkpoint logs (offsets, commits) go through Hadoop's
        # FileSystem API instead of FileContext: every micro-batch writes
        # them. Both managers commit by write-to-temp + rename, and
        # FileSystem.rename is atomic wherever FileContext's is (local FS,
        # HDFS); Spark runs one writer per checkpoint. CommitLog.add over
        # py4j on a 4-core host, p50 of 50 calls: 32-34 ms through
        # FileContext, 7-9 ms through this manager with Hadoop's forking
        # chmod; with the shim above the serving stream's walCommit and
        # commitOffsets read 2-3 and 1-2 ms (traced medians). The conf is
        # internal; Spark reads it when a query starts.
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # pin the corpus-config restore target NOW (r10 ADVICE): if the first
    # configure_for_corpus call happened after some code had transiently
    # tuned shuffle.partitions, that transient value would otherwise become
    # the permanent at-scale restore target for the session's lifetime
    if not hasattr(spark, "_graft_default_shuffle_partitions"):
        spark._graft_default_shuffle_partitions = spark.conf.get(
            "spark.sql.shuffle.partitions"
        )
    return spark
