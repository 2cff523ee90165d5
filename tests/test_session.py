"""The session's ``file://`` FileSystem (jvm/NioLocalFileSystem.java): the
same modes, checksums and Hadoop fallbacks as Hadoop's LocalFileSystem,
without a forked ``chmod`` per created file."""

from __future__ import annotations

import hashlib
import os
import subprocess
import sys
import textwrap
import zipfile

import pytest

from tests.jvm_events import process_starts
from wifi_location_data_pipeline_spark import session
from wifi_location_data_pipeline_spark.session import NIO_FS_CLASS, NIO_FS_JAR, NIO_FS_SOURCE

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
    ``spark.driver.extraClassPath``; a fresh JVM loads the shim from it."""
    extra = str(tmp_path / "caller-lib")
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
        print("CLASSPATH", jvm.java.lang.System.getProperty("java.class.path"))
        fs = jvm.org.apache.hadoop.fs.FileSystem.get(
            jvm.java.net.URI("file:///"), spark._jsc.hadoopConfiguration())
        print("FS", fs.getClass().getName())
        spark.stop()
        """
    ).format(repo=REPO, extra=extra)
    proc = subprocess.run([sys.executable, "-c", script], capture_output=True, text=True,
                          timeout=300, cwd=REPO)
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = dict(line.split(" ", 1) for line in proc.stdout.splitlines() if " " in line)
    assert lines["CONF"] == os.pathsep.join([NIO_FS_JAR, extra])
    classpath = lines["CLASSPATH"].split(os.pathsep)
    assert NIO_FS_JAR in classpath and extra in classpath
    assert lines["FS"] == NIO_FS_CLASS


def test_build_session_raises_without_the_jar(monkeypatch, tmp_path):
    monkeypatch.setattr(session, "NIO_FS_JAR", str(tmp_path / "missing.jar"))
    with pytest.raises(FileNotFoundError, match="missing.jar"):
        session.build_session(master="local[1]")


def test_jar_manifest_records_the_source_digest():
    """The committed jar was built from the committed source
    (tools/build_nio_fs_jar.py writes the digest)."""
    with open(NIO_FS_SOURCE, "rb") as fh:
        digest = hashlib.sha256(fh.read()).hexdigest()
    with zipfile.ZipFile(NIO_FS_JAR) as jar:
        manifest = jar.read("META-INF/MANIFEST.MF").decode()
        names = jar.namelist()
    assert f"Source-SHA256: {digest}" in manifest.splitlines()
    assert NIO_FS_CLASS.replace(".", "/") + ".class" in names
