"""Build the committed file-system jar from its Java source.

    python tools/build_nio_fs_jar.py

Compiles ``wifi_location_data_pipeline_spark/jvm/NioLocalFileSystem.java``
with ``javac --release 17`` against the Hadoop client API jar that pyspark
ships, and writes ``nio-local-fs.jar`` next to the source. The manifest
records the source's sha256 as ``Source-SHA256`` (a test checks it against
the committed source), and every entry carries a fixed timestamp, so the
same source and javac give the same bytes. Rebuild and commit the jar after
any edit of the source.
"""

from __future__ import annotations

import glob
import hashlib
import os
import subprocess
import sys
import tempfile
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from wifi_location_data_pipeline_spark.session import NIO_FS_JAR, NIO_FS_SOURCE  # noqa: E402


def main() -> int:
    import pyspark

    [api] = glob.glob(os.path.join(os.path.dirname(pyspark.__file__), "jars", "hadoop-client-api-*.jar"))
    with open(NIO_FS_SOURCE, "rb") as fh:
        digest = hashlib.sha256(fh.read()).hexdigest()
    with tempfile.TemporaryDirectory() as classes:
        subprocess.run(
            ["javac", "--release", "17", "-cp", api, "-d", classes, NIO_FS_SOURCE], check=True
        )
        manifest = f"Manifest-Version: 1.0\nSource-SHA256: {digest}\n\n"
        with zipfile.ZipFile(NIO_FS_JAR, "w", zipfile.ZIP_DEFLATED) as jar:
            jar.writestr(zipfile.ZipInfo("META-INF/MANIFEST.MF", (1980, 1, 1, 0, 0, 0)), manifest)
            for path in sorted(glob.glob(os.path.join(classes, "**", "*.class"), recursive=True)):
                name = os.path.relpath(path, classes).replace(os.sep, "/")
                with open(path, "rb") as fh:
                    jar.writestr(zipfile.ZipInfo(name, (1980, 1, 1, 0, 0, 0)), fh.read())
    print(NIO_FS_JAR, digest)
    return 0


if __name__ == "__main__":
    sys.exit(main())
