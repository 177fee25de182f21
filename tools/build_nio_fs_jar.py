"""Build the engine's local file system jar from its Java source.

    python tools/build_nio_fs_jar.py

Compiles `tutorial_apache_beam_spark/jvm/NioLocalFileSystem.java` with
`javac --release 17` against the `hadoop-client-api` jar pyspark ships, and
writes the class files to `session.NIO_LOCAL_FS_JAR` with fixed entry
times, so two builds with the same javac give the same jar. Needs a JDK;
`get_spark` only reads the committed jar.
"""

from __future__ import annotations

import glob
import os
import subprocess
import sys
import tempfile
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from tutorial_apache_beam_spark import session  # noqa: E402

SOURCE = os.path.join(
    os.path.dirname(session.NIO_LOCAL_FS_JAR), "NioLocalFileSystem.java"
)


def hadoop_api_jar() -> str:
    import pyspark

    jars = os.path.join(os.path.dirname(pyspark.__file__), "jars")
    (jar,) = glob.glob(os.path.join(jars, "hadoop-client-api-*.jar"))
    return jar


def compile_classes() -> dict[str, bytes]:
    """Class entry name (`a/b/C.class`) to its bytes, freshly compiled."""
    with tempfile.TemporaryDirectory() as out:
        subprocess.run(
            ["javac", "--release", "17", "-cp", hadoop_api_jar(), "-d", out, SOURCE],
            check=True,
        )
        classes = {}
        found = glob.glob(os.path.join(out, "**", "*.class"), recursive=True)
        for path in sorted(found):
            with open(path, "rb") as f:
                classes[os.path.relpath(path, out).replace(os.sep, "/")] = f.read()
        return classes


def write_jar(classes: dict[str, bytes], path: str) -> None:
    with zipfile.ZipFile(path, "w") as jar:
        for name, data in sorted(classes.items()):
            jar.writestr(zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0)), data)


if __name__ == "__main__":
    write_jar(compile_classes(), session.NIO_LOCAL_FS_JAR)
    print(session.NIO_LOCAL_FS_JAR)
