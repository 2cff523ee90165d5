"""Build the committed jar from its Java sources.

    python tools/build_nio_fs_jar.py

Compiles every ``wifi_location_data_pipeline_spark/jvm/*.java`` (the
``file://`` FileSystem and the positioning stream's sink) with
``javac --release 17`` against the jars pyspark ships (Hadoop's client API,
Spark SQL, its API, Catalyst, Spark core and its common utils, the Scala
library), and writes
``nio-local-fs.jar`` next to the sources. The manifest holds one section
per source, its repository path as ``Name`` and its sha256 as
``Source-SHA256`` (a test checks them against the committed sources), and
every entry carries a fixed timestamp, so the same sources and javac give
the same bytes. Rebuild and commit the jar after any edit of a source.
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

from wifi_location_data_pipeline_spark.session import JVM_SOURCES, NIO_FS_JAR  # noqa: E402

# the jars the sources compile against, by file-name prefix in pyspark/jars
_CLASS_PATH = (
    "hadoop-client-api-", "spark-sql_", "spark-sql-api_", "spark-catalyst_", "spark-core_",
    "spark-common-utils_", "scala-library-",
)


def main() -> int:
    import pyspark

    jars = os.path.join(os.path.dirname(pyspark.__file__), "jars")
    class_path = [jar for prefix in _CLASS_PATH for jar in glob.glob(os.path.join(jars, prefix + "*.jar"))]
    if len(class_path) != len(_CLASS_PATH):
        raise FileNotFoundError(f"expected one jar per prefix {_CLASS_PATH} in {jars}, found {class_path}")
    sections = []
    for source in JVM_SOURCES:
        with open(source, "rb") as fh:
            digest = hashlib.sha256(fh.read()).hexdigest()
        sections.append(f"Name: {os.path.relpath(source, ROOT)}\nSource-SHA256: {digest}\n\n")
    with tempfile.TemporaryDirectory() as classes:
        subprocess.run(
            ["javac", "--release", "17", "-cp", os.pathsep.join(class_path), "-d", classes, *JVM_SOURCES],
            check=True,
        )
        manifest = "Manifest-Version: 1.0\n\n" + "".join(sections)
        with zipfile.ZipFile(NIO_FS_JAR, "w", zipfile.ZIP_DEFLATED) as jar:
            jar.writestr(zipfile.ZipInfo("META-INF/MANIFEST.MF", (1980, 1, 1, 0, 0, 0)), manifest)
            for path in sorted(glob.glob(os.path.join(classes, "**", "*.class"), recursive=True)):
                name = os.path.relpath(path, classes).replace(os.sep, "/")
                with open(path, "rb") as fh:
                    jar.writestr(zipfile.ZipInfo(name, (1980, 1, 1, 0, 0, 0)), fh.read())
    print(NIO_FS_JAR, "".join(sections), sep="\n", end="")
    return 0


if __name__ == "__main__":
    sys.exit(main())
