"""The session's jar (jvm/*.java): the ``file://`` FileSystem
(NioLocalFileSystem.java: the same modes, checksums and Hadoop fallbacks as
Hadoop's LocalFileSystem, without a forked ``chmod`` per created file) and
the positioning stream's sink (BatchFileSink.java); and the driver JVM's
class-data archive, each test in its own cache directory."""

from __future__ import annotations

import glob
import hashlib
import os
import subprocess
import sys
import textwrap
import zipfile

import pytest

from tests.jvm_events import process_starts
from wifi_location_data_pipeline_spark import session
from wifi_location_data_pipeline_spark.session import (
    BATCH_FILE_SINK_CLASS,
    JVM_SOURCES,
    NIO_FS_CLASS,
    NIO_FS_JAR,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _local_fs(spark, **conf):
    """A new ``file://`` FileSystem over the session's Hadoop conf plus
    ``conf``."""
    jvm = spark._jvm
    hconf = jvm.org.apache.hadoop.conf.Configuration(spark._jsc.hadoopConfiguration())
    for k, v in conf.items():
        hconf.set(k, v)
    return jvm.org.apache.hadoop.fs.FileSystem.newInstance(jvm.java.net.URI("file:///"), hconf)


def _create(spark, fs, path: str, data: bytes) -> None:
    out = fs.create(spark._jvm.org.apache.hadoop.fs.Path("file://" + path))
    out.write(data)
    out.close()


def _mode(path: str) -> int:
    return os.stat(path).st_mode & 0o7777


def test_file_scheme_uses_the_shim(spark):
    fs = _local_fs(spark)
    try:
        assert fs.getClass().getName() == NIO_FS_CLASS
    finally:
        fs.close()


@pytest.mark.parametrize("umask, file_mode, dir_mode", [
    (None, 0o644, 0o755), ("077", 0o600, 0o700), ("027", 0o640, 0o750),
], ids=["umask-default", "umask-077", "umask-027"])
def test_created_modes_follow_hadoop_umask_without_a_process(spark, tmp_path, umask, file_mode, dir_mode):
    """Files and directories get Hadoop's defaults (0666 / 0777) under
    ``fs.permissions.umask-mode`` (022 unless set), and creating them starts
    no child process."""
    fs = _local_fs(spark, **({"fs.permissions.umask-mode": umask} if umask else {}))
    d, f = str(tmp_path / "d" / "sub"), str(tmp_path / "d" / "sub" / "part")
    try:
        with process_starts(spark, tmp_path / "rec.jfr") as started:
            assert fs.mkdirs(spark._jvm.org.apache.hadoop.fs.Path("file://" + d))
            _create(spark, fs, f, b"x" * 100)
    finally:
        fs.close()
    assert started == []
    assert (_mode(str(tmp_path / "d")), _mode(d), _mode(f)) == (dir_mode, dir_mode, file_mode)
    assert _mode(os.path.join(d, ".part.crc")) == file_mode


def test_checksums_are_written_and_verified(spark, tmp_path):
    """Each created file gets its ``.crc``, and a read through ``file://``
    fails on a corrupted byte."""
    jvm = spark._jvm
    fs = _local_fs(spark)
    f = str(tmp_path / "data")
    data = bytes(range(256)) * 8
    try:
        _create(spark, fs, f, data)
        assert os.path.getsize(tmp_path / ".data.crc") > 0

        def read():
            stream = fs.open(jvm.org.apache.hadoop.fs.Path("file://" + f))
            try:
                return bytes(jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
            finally:
                stream.close()

        assert read() == data
        with open(f, "r+b") as fh:
            fh.seek(700)
            fh.write(b"\x00" if data[700] else b"\x01")
        with pytest.raises(Exception, match="ChecksumException"):
            read()
    finally:
        fs.close()


def test_sticky_bit_mode_goes_through_hadoop(spark, tmp_path):
    """A mode beyond 0777 is Hadoop's own setPermission: without libhadoop
    that is one ``chmod`` child process, which sets the sticky bit."""
    jvm = spark._jvm
    fs = _local_fs(spark)
    d = str(tmp_path / "shared")
    os.makedirs(d)
    try:
        with process_starts(spark, tmp_path / "rec.jfr") as started:
            fs.setPermission(jvm.org.apache.hadoop.fs.Path("file://" + d),
                             jvm.org.apache.hadoop.fs.permission.FsPermission("1777"))
    finally:
        fs.close()
    assert _mode(d) == 0o1777
    if not jvm.org.apache.hadoop.util.NativeCodeLoader.isNativeCodeLoaded():
        assert len(started) == 1 and "chmod" in started[0] and "1777" in started[0], started


def test_build_session_merges_caller_class_path(tmp_path):
    """The jar leads the driver class path, followed by the caller's own
    ``spark.driver.extraClassPath``; a fresh JVM loads the shim from it.
    A cache directory that cannot be made means no class-data archive, and
    the session starts all the same."""
    extra = str(tmp_path / "caller-lib")
    not_a_dir = tmp_path / "cache-file"
    not_a_dir.write_text("")
    script = textwrap.dedent(
        """
        import sys
        sys.path.insert(0, {repo!r})
        from wifi_location_data_pipeline_spark.session import build_session
        spark = build_session(master="local[1]", shuffle_partitions=1,
                              extra_conf={{"spark.driver.memory": "512m",
                                          "spark.driver.extraClassPath": {extra!r}}})
        jvm = spark._jvm
        print("CONF", spark.sparkContext.getConf().get("spark.driver.extraClassPath"))
        print("OPTIONS", spark.sparkContext.getConf().get("spark.driver.extraJavaOptions", ""))
        print("CLASSPATH", jvm.java.lang.System.getProperty("java.class.path"))
        fs = jvm.org.apache.hadoop.fs.FileSystem.get(
            jvm.java.net.URI("file:///"), spark._jsc.hadoopConfiguration())
        print("FS", fs.getClass().getName())
        spark.stop()
        """
    ).format(repo=REPO, extra=extra)
    proc = subprocess.run([sys.executable, "-c", script], capture_output=True, text=True,
                          timeout=300, cwd=REPO, env=dict(os.environ, XDG_CACHE_HOME=str(not_a_dir)))
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = dict(line.split(" ", 1) for line in proc.stdout.splitlines() if " " in line)
    assert lines["CONF"] == os.pathsep.join([NIO_FS_JAR, extra])
    assert "SharedArchiveFile" not in lines["OPTIONS"] and "ArchiveClassesAtExit" not in lines["OPTIONS"]
    classpath = lines["CLASSPATH"].split(os.pathsep)
    assert NIO_FS_JAR in classpath and extra in classpath
    assert lines["FS"] == NIO_FS_CLASS


_SESSION_SCRIPT = textwrap.dedent(
    """
    import os, sys
    sys.path.insert(0, {repo!r})
    from wifi_location_data_pipeline_spark.session import build_session
    spark = build_session(master="local[1]", shuffle_partitions=1,
                          extra_conf={{"spark.driver.memory": "512m", **{extra!r}}})
    conf = spark.sparkContext.getConf()
    print("OPTIONS", conf.get("spark.driver.extraJavaOptions", ""))
    print("MARKER", conf.get("spark.wifi.test.marker", "none"))
    print("CONF_DIR", os.environ.get("SPARK_CONF_DIR", "none"))
    print("ROWS", spark.range(3).count())
    spark.stop()
    print("DONE")
    """
)


def _session_in_subprocess(env: dict[str, str], extra_conf: dict[str, str] | None = None) -> list[str]:
    """Start a session in a new process (its own driver JVM) with ``env``
    over this process's environment; its stdout lines, the JVM's included
    (the process waits for the JVM when it writes an archive at exit)."""
    script = _SESSION_SCRIPT.format(repo=REPO, extra=extra_conf or {})
    proc = subprocess.run([sys.executable, "-c", script], capture_output=True, text=True,
                          timeout=300, cwd=REPO, env=dict(os.environ, **env))
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = proc.stdout.splitlines()
    assert "ROWS 3" in lines, proc.stdout
    return lines


def _field(lines: list[str], name: str) -> str:
    return next(line.split(" ", 1)[1] for line in lines if line.startswith(name + " "))


def _cds_dir(cache) -> str:
    return os.path.join(cache, "wifi_location_data_pipeline_spark", "cds")


def _archives(cache) -> list[str]:
    return sorted(glob.glob(os.path.join(_cds_dir(cache), "*.jsa")))


def _recorded_size(archive: str) -> int:
    """The size in an archive's ``<key>-<size>.jsa`` name."""
    return int(os.path.basename(archive).rsplit("-", 1)[1][:-len(".jsa")])


@pytest.fixture(scope="module")
def archive_cache(tmp_path_factory):
    """A cache directory that a cold session (no archive yet) wrote its
    class-data archive into; the cold session's stdout lines."""
    cache = str(tmp_path_factory.mktemp("cache"))
    return cache, _session_in_subprocess({"XDG_CACHE_HOME": cache})


def test_a_cold_session_writes_the_archive_and_the_next_maps_it(archive_cache, tmp_path):
    """The cold session's JVM writes the archive at exit, with no CDS line
    on stdout (the process's own last line stays last) and the launch's
    ``SPARK_CONF_DIR`` gone from the environment; the next session's JVM
    loads Spark's classes from it."""
    cache, cold = archive_cache
    assert "-XX:ArchiveClassesAtExit=" in _field(cold, "OPTIONS")
    assert not [line for line in cold if "[cds" in line], cold
    assert cold[-1] == "DONE"
    assert _field(cold, "CONF_DIR") == os.environ.get("SPARK_CONF_DIR", "none")
    [archive] = _archives(cache)
    assert os.path.getsize(archive) == _recorded_size(archive) > 0
    assert sorted(os.listdir(_cds_dir(cache))) == sorted(["conf", os.path.basename(archive)])
    stat = os.stat(archive)

    log = tmp_path / "class-load.log"
    warm = _session_in_subprocess(
        {"XDG_CACHE_HOME": cache},
        {"spark.driver.extraJavaOptions": f"-Xlog:class+load=info:file={log}"})
    options = _field(warm, "OPTIONS")
    assert f"-Xlog:class+load=info:file={log} -XX:SharedArchiveFile={archive}" in options
    assert "org.apache.spark.SparkContext source: shared objects file (top)" in log.read_text()
    assert warm[-1] == "DONE"
    assert _archives(cache) == [archive] and os.path.samestat(os.stat(archive), stat)


def test_a_bad_archive_is_replaced_not_mapped(archive_cache):
    """An archive the JVM refuses (garbage of the recorded size) leaves a
    working session, which deletes it; a truncated one (the JVM would fault
    on a region past its end) is deleted unread, and the session's JVM
    writes a new one at exit."""
    cache, _ = archive_cache
    [archive] = _archives(cache)
    with open(archive, "rb") as fh:
        head = fh.read(1 << 20)
    size = os.path.getsize(archive)
    os.unlink(archive)
    with open(archive, "wb") as fh:
        fh.write((bytes(range(256)) * (size // 256 + 1))[:size])
    refused = _session_in_subprocess({"XDG_CACHE_HOME": cache})
    assert f"-XX:SharedArchiveFile={archive}" in _field(refused, "OPTIONS")
    assert _archives(cache) == []

    with open(archive, "wb") as fh:
        fh.write(head)
    rewritten = _session_in_subprocess({"XDG_CACHE_HOME": cache})
    assert "-XX:ArchiveClassesAtExit=" in _field(rewritten, "OPTIONS")
    [new] = _archives(cache)
    assert os.path.getsize(new) == _recorded_size(new) > len(head)


def test_real_spark_configuration_reaches_the_session(tmp_path):
    """A ``SPARK_CONF_DIR`` holding real configuration stays on the JVM's
    class path and its ``spark-defaults.conf`` reaches the session; that
    JVM starts without an archive and writes none."""
    conf_dir = tmp_path / "conf"
    conf_dir.mkdir()
    (conf_dir / "spark-defaults.conf").write_text("spark.wifi.test.marker  from-defaults\n")
    (conf_dir / "spark-env.sh.template").write_text("")
    cache = tmp_path / "cache"
    lines = _session_in_subprocess({"SPARK_CONF_DIR": str(conf_dir), "XDG_CACHE_HOME": str(cache)})
    assert _field(lines, "MARKER") == "from-defaults"
    options = _field(lines, "OPTIONS")
    assert "SharedArchiveFile" not in options and "ArchiveClassesAtExit" not in options
    assert _field(lines, "CONF_DIR") == str(conf_dir)
    assert not cache.exists()


def test_build_session_raises_without_the_jar(monkeypatch, tmp_path):
    monkeypatch.setattr(session, "NIO_FS_JAR", str(tmp_path / "missing.jar"))
    with pytest.raises(FileNotFoundError, match="missing.jar"):
        session.build_session(master="local[1]")


def test_jar_manifest_records_the_source_digest():
    """The committed jar was built from the committed sources, all of them
    (tools/build_nio_fs_jar.py writes one manifest section per source)."""
    with zipfile.ZipFile(NIO_FS_JAR) as jar:
        manifest = jar.read("META-INF/MANIFEST.MF").decode()
        names = jar.namelist()
    recorded = {}
    for section in manifest.split("\n\n")[1:]:
        attrs = dict(line.split(": ", 1) for line in section.splitlines() if line)
        if attrs:
            recorded[attrs["Name"]] = attrs["Source-SHA256"]
    want = {}
    for source in JVM_SOURCES:
        with open(source, "rb") as fh:
            want[os.path.relpath(source, REPO)] = hashlib.sha256(fh.read()).hexdigest()
    assert len(want) >= 2
    assert recorded == want
    for cls in (NIO_FS_CLASS, BATCH_FILE_SINK_CLASS, BATCH_FILE_SINK_CLASS + "$Callback"):
        assert cls.replace(".", "/") + ".class" in names


def test_session_jvm_loads_the_sink_from_the_jar(spark):
    """The positioning stream's sink class resolves in the session's JVM,
    from the committed jar, and is a streaming sink provider Spark's
    ``format(<class name>)`` can create."""
    jvm = spark._jvm
    cls = jvm.java.lang.Class.forName(BATCH_FILE_SINK_CLASS)
    location = cls.getProtectionDomain().getCodeSource().getLocation().getPath()
    assert os.path.realpath(location) == os.path.realpath(NIO_FS_JAR)
    provider = jvm.java.lang.Class.forName("org.apache.spark.sql.sources.StreamSinkProvider")
    assert provider.isAssignableFrom(cls)
