"""The engine's `file://` file system (`jvm/NioLocalFileSystem.java`) sets
the permission bits Hadoop's own local file system sets, without starting a
`chmod` process, and keeps Hadoop's `.crc` checksums."""

from __future__ import annotations

import os
import shutil
import stat
import subprocess
import sys
import textwrap
import zipfile

import pytest
from py4j.protocol import Py4JJavaError

from tutorial_apache_beam_spark import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _modes(root):
    """Relative path to `st_mode & 0o7777` for everything under `root`."""
    modes = {}
    for directory, dirs, files in os.walk(root):
        for name in dirs + files:
            path = os.path.join(directory, name)
            modes[os.path.relpath(path, root)] = stat.S_IMODE(os.stat(path).st_mode)
    return modes


def test_engine_session_resolves_file_urls_to_the_engine_class(spark):
    jvm = spark.sparkContext._jvm
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    fs = jvm.org.apache.hadoop.fs.FileSystem
    assert fs.get(jvm.java.net.URI.create("file:///"), conf).getClass().getName() == (
        session.NIO_LOCAL_FS
    )
    assert fs.getLocal(conf).getClass().getName() == session.NIO_LOCAL_FS


def test_permissions_match_hadoops_local_file_system(
    spark, tmp_path, jvm_process_starts
):
    """The same calls through a plain `LocalFileSystem` (over Hadoop's
    `RawLocalFileSystem`) and through the engine's, on sibling trees,
    leave the same mode on every file, `.crc` and directory."""
    jvm = spark.sparkContext._jvm
    hadoop = jvm.org.apache.hadoop
    conf = hadoop.conf.Configuration()
    uri = jvm.java.net.URI.create("file:///")

    def exercise(fs, root):
        fs.initialize(uri, conf)

        def path(name):
            return hadoop.fs.Path(str(root / name))

        def perm(octal):
            return hadoop.fs.permission.FsPermission(octal)

        fs.create(path("default")).close()
        fs.create(path("explicit"), perm("640"), True, 4096, 1, 1 << 20, None).close()
        fs.create(path("narrowed")).close()
        fs.setPermission(path("narrowed"), perm("600"))
        fs.mkdirs(path("a/b/c"), perm("750"))
        fs.mkdirs(path("sticky"))
        fs.setPermission(path("sticky"), perm("1777"))
        # A setgid parent passes its bit to new directories, and
        # `chmod 0750` keeps it there.
        fs.mkdirs(path("shared"))
        os.chmod(root / "shared", 0o2775)
        fs.mkdirs(path("shared/sub"), perm("750"))

    plain, engine = tmp_path / "plain", tmp_path / "engine"
    with jvm_process_starts() as plain_commands:
        exercise(hadoop.fs.LocalFileSystem(), plain)
    with jvm_process_starts() as engine_commands:
        exercise(jvm.tutorial_apache_beam_spark.hadoop.NioLocalFileSystem(), engine)

    modes = _modes(engine)
    assert modes == _modes(plain)
    assert modes["default"] == 0o644  # Hadoop's umask, 022 by default
    assert modes["explicit"] == modes[".explicit.crc"] == 0o640
    assert modes["narrowed"] == 0o600
    assert modes["a/b/c"] == 0o750
    assert modes["sticky"] == 0o1777
    assert modes["shared/sub"] == 0o2750
    if not hadoop.io.nativeio.NativeIO.isAvailable():
        assert {c.split()[0] for c in plain_commands} == {"chmod"}
    # Only the sticky bit and the setgid directory go to Hadoop's shell.
    assert len(engine_commands) == 2
    assert {c.split()[0] for c in engine_commands} <= {"chmod"}


def test_sink_files_keep_verified_checksums(spark, tmp_path):
    out = str(tmp_path / "sink")
    spark.range(2000).selectExpr("id", "id * 7 AS v").coalesce(1).write.parquet(out)
    (part,) = [n for n in os.listdir(out) if n.endswith(".parquet")]
    assert os.path.exists(os.path.join(out, f".{part}.crc"))
    assert spark.read.parquet(out).count() == 2000

    with open(os.path.join(out, part), "r+b") as f:
        f.seek(os.path.getsize(f.name) // 2)
        byte = f.read(1)
        f.seek(-1, os.SEEK_CUR)
        f.write(bytes([byte[0] ^ 0xFF]))
    with pytest.raises(Py4JJavaError, match="Checksum error"):
        spark.read.parquet(out).selectExpr("sum(v)").collect()


def test_jvm_started_without_the_jar_keeps_hadoops_file_system(tmp_path):
    """`get_spark` in a JVM launched without the jar leaves `file://`
    alone: setting the class there would fail every file access."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        from pyspark.sql import SparkSession
        from tutorial_apache_beam_spark import get_spark
        conf = {{"spark.driver.memory": "512m", "spark.ui.enabled": "false"}}
        builder = SparkSession.builder.master("local[1]")
        for k, v in conf.items():
            builder = builder.config(k, v)
        builder.getOrCreate().stop()
        spark = get_spark(master="local[1]", shuffle_partitions=1, extra_conf=conf)
        spark.range(5).write.parquet({str(tmp_path / "out")!r})
        print(spark.read.parquet({str(tmp_path / "out")!r}).count())
        jvm = spark.sparkContext._jvm
        print(jvm.org.apache.hadoop.fs.FileSystem.getLocal(
            spark.sparkContext._jsc.hadoopConfiguration()).getClass().getName())
        spark.stop()
        """
    )
    env = {**os.environ, "SPARK_LOCAL_DIRS": str(tmp_path / "local")}
    done = subprocess.run(
        [sys.executable, "-c", script],
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert done.returncode == 0, done.stderr[-2000:]
    count, fs_class = done.stdout.split()[-2:]
    assert count == "5"
    assert fs_class != session.NIO_LOCAL_FS


@pytest.mark.skipif(shutil.which("javac") is None, reason="needs javac (a JDK)")
def test_committed_jar_is_built_from_the_committed_source():
    from tools import build_nio_fs_jar

    with zipfile.ZipFile(session.NIO_LOCAL_FS_JAR) as jar:
        committed = {
            name: jar.read(name) for name in jar.namelist() if name.endswith(".class")
        }
    assert committed == build_nio_fs_jar.compile_classes()
