"""SparkSession factory tuned for the engine.

Local-mode defaults follow the driver environment (single JVM, many cores);
cluster deployments override via ``extra_conf``. Every knob here matters at
100 TB: AQE for runtime re-planning and skew joins, UTC session timezone so
results are oracle-comparable, Arrow for the pandas-UDF tier.

The driver JVM starts from a class-data-sharing archive (JDK dynamic CDS):
the Spark, Scala and Hadoop classes it loaded in an earlier process, mapped
instead of read, parsed and verified from the jars again. On a 4-core host
this halves session start (~5-6 s to ~2.6 s). The archive lives in
``$XDG_CACHE_HOME`` (or ``~/.cache``) under
``wifi_location_data_pipeline_spark/cds/``, never in the checkout; delete
that directory to clear it. Its name is ``<key>-<size>.jsa``:

- the key is a digest of the JDK (its ``java`` and ``release`` file) and
  of the driver class path, each jar with its size and mtime. The JVM
  refuses an archive whose jars changed size or mtime, so the key changes
  exactly when the archive would stop mapping;
- the size is the size the JVM wrote. A file of another size (truncated,
  overwritten) is deleted unread: the JVM would fault on a region past the
  end of the file.

A process whose JVM finds no archive for its key has that JVM write one
when it exits (``-XX:ArchiveClassesAtExit``, under a name unique to the
process; that JVM starts ~2-4 s slower); at exit the process waits for its JVM (~8-14 s for the dump) and
renames the archive into place, so no JVM maps a half-written file, and
removes the archives of other keys (a running JVM keeps its mapping of an
unlinked file). The first process to write an archive decides which
classes it holds. A JVM that refuses an archive starts without it (the
JVM's ``-Xshare:auto``); the session then deletes that archive, so the
next one writes a new one. CDS refuses a non-empty directory on the class
path, and Spark's launcher puts ``$SPARK_CONF_DIR`` on it: when that
directory holds nothing but ``*.template`` files the JVM is launched with
an empty one; when it holds real configuration, or the cache directory
cannot be made, the JVM starts without an archive. CDS logging is kept
off the JVM's stdout.
"""

from __future__ import annotations

import atexit
import glob
import hashlib
import os
import re
import shlex
import shutil
import subprocess
from contextlib import suppress

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

    The session that starts the process's JVM starts it from the class-data
    archive for this JDK and class path (module docstring): it appends
    ``-XX:SharedArchiveFile=<archive>`` to the caller's
    ``spark.driver.extraJavaOptions`` when the archive exists, else
    ``-XX:ArchiveClassesAtExit=<temporary name>``; a missing, stale or
    refused archive means a plain JVM start.
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
    spark = _get_or_create(builder, conf)
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


def _get_or_create(builder, conf: dict[str, str]) -> SparkSession:
    """``builder.getOrCreate()``; when that starts the process's JVM, the
    JVM maps its class-data archive or writes one at exit (module
    docstring)."""
    from pyspark import SparkContext
    from pyspark.find_spark_home import _find_spark_home

    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return builder.getOrCreate()  # the JVM runs already, with its options
    spark_home = _find_spark_home()
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    if os.path.isdir(conf_dir) and any(not n.endswith(".template") for n in os.listdir(conf_dir)):
        return builder.getOrCreate()  # real configuration, a directory CDS refuses
    cache = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    cds_dir = os.path.join(cache, "wifi_location_data_pipeline_spark", "cds")
    empty_conf = os.path.join(cds_dir, "conf")
    try:
        os.makedirs(empty_conf, exist_ok=True)
    except OSError:
        return builder.getOrCreate()  # no cache directory to keep an archive in
    # the driver class path as Spark's launcher builds it
    class_path = os.pathsep.join([
        conf["spark.driver.extraClassPath"], empty_conf, os.path.join(spark_home, "jars", "*"),
        *(os.environ.get(v, "") for v in ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")),
    ])
    key = _archive_key(class_path.split(os.pathsep))
    if key is None:
        return builder.getOrCreate()
    found = _find_archive(cds_dir, key)
    if found:
        flag = f"-XX:SharedArchiveFile={found[0]}"
    else:
        written = os.path.join(cds_dir, f"{key}.{os.getpid()}.tmp")
        flag = f"-XX:ArchiveClassesAtExit={written}"
    options = [conf.get("spark.driver.extraJavaOptions"), shlex.quote(flag), "-Xlog:cds*=off"]
    builder.config("spark.driver.extraJavaOptions", " ".join(o for o in options if o))
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = empty_conf
    try:
        spark = builder.getOrCreate()
    finally:
        if saved is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = saved
    if found:
        _drop_unless_mapped(spark, *found)
    else:
        atexit.register(_commit_archive, SparkContext._gateway.proc, written, cds_dir, key)
    return spark


def _archive_key(class_path: list[str]) -> str | None:
    """Digest of the JDK the launcher runs and of ``class_path`` (each jar
    with its size and mtime, a ``dir/*`` entry as its jars); None when no
    archive can be written: no ``java``, or a non-empty directory on the
    class path."""
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    if not java or not os.path.isfile(java):
        return None
    java = os.path.realpath(java)
    release = os.path.join(os.path.dirname(os.path.dirname(java)), "release")
    parts: list = [java]
    if os.path.isfile(release):
        with open(release, "rb") as fh:
            parts.append(fh.read())
    for entry in filter(None, class_path):
        for path in sorted(glob.glob(entry + ".jar")) if entry.endswith("*") else [entry]:
            if os.path.isdir(path) and os.listdir(path):
                return None
            if os.path.isfile(path):
                st = os.stat(path)
                parts.append((path, st.st_size, st.st_mtime_ns))
            else:
                parts.append(path)
    return hashlib.sha256(repr(parts).encode()).hexdigest()[:24]


def _find_archive(cds_dir: str, key: str) -> tuple[str, os.stat_result] | None:
    """``key``'s archive in ``cds_dir`` and its stat, or None. A file whose
    size is not the size in its name is deleted."""
    for path in glob.glob(os.path.join(glob.escape(cds_dir), f"{key}-*.jsa")):
        with suppress(FileNotFoundError):
            st = os.stat(path)
            if str(st.st_size) == os.path.basename(path)[len(key) + 1:-len(".jsa")]:
                return path, st
            os.unlink(path)
    return None


def _drop_unless_mapped(spark: SparkSession, archive: str, st: os.stat_result) -> None:
    """Delete ``archive`` when the session's JVM did not map it, unless it
    was replaced meanwhile, so that the next session writes a new one. Reads
    the JVM's memory map, so does nothing where there is no ``/proc``."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    real = os.path.realpath(archive)
    try:
        with open(f"/proc/{pid}/maps", encoding="utf-8", errors="replace") as fh:
            if any(line.rstrip("\n").endswith(real) for line in fh):
                return
        if os.path.samestat(os.stat(archive), st):
            os.unlink(archive)
    except FileNotFoundError:
        pass


def _commit_archive(proc: subprocess.Popen, written: str, cds_dir: str, key: str) -> None:
    """At exit of a process whose JVM writes its archive at exit: end the
    JVM (pyspark's gateway exits on EOF of its stdin), wait for it, rename
    the archive it wrote to its ``<key>-<size>.jsa`` name and remove the
    directory's other archives, and the partial archives of processes no
    longer running. A JVM that failed or did not exit within 2 minutes
    leaves no archive."""
    if proc.poll() is None:
        proc.stdin.close()
    try:
        code = proc.wait(timeout=120)
    except subprocess.TimeoutExpired:
        return
    try:
        if code != 0:
            os.unlink(written)
            return
        archive = f"{key}-{os.path.getsize(written)}.jsa"
        os.replace(written, os.path.join(cds_dir, archive))
    except FileNotFoundError:
        return  # no archive written, or another process pruned it
    for name in os.listdir(cds_dir):
        partial = re.fullmatch(r"[0-9a-f]+\.(\d+)\.tmp", name)
        if partial and not _running(int(partial[1])) or name.endswith(".jsa") and name != archive:
            with suppress(FileNotFoundError):
                os.unlink(os.path.join(cds_dir, name))


def _running(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True
