"""Streaming checkpoints on a local master go through Hadoop's FileSystem
API, and `file://` through the engine's java.nio-permission file system: a
drain starts no process (no `readlink` per rename, no `chmod` per created
file), and a checkpoint written through Spark's FileContext default
restarts under it."""

from __future__ import annotations

import json
import os

import pytest

from perfbench import compose, gen, layers
from tutorial_apache_beam_spark import session

KEY = session.CHECKPOINT_MANAGER_KEY
FILE_CONTEXT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileContextBasedCheckpointFileManager"
)


LOCAL_CONF = {
    KEY: session.LOCAL_CHECKPOINT_MANAGER,
    session.LOCAL_FS_KEY: session.NIO_LOCAL_FS,
    session.DRIVER_CLASSPATH_KEY: session.NIO_LOCAL_FS_JAR,
}


@pytest.mark.parametrize("master", ["local", "local[2]", "local[*]"])
def test_local_masters_select_the_file_system_manager(master):
    assert session.master_conf(master) == LOCAL_CONF


@pytest.mark.parametrize(
    "master", ["spark://host:7077", "yarn", "k8s://https://host:6443"]
)
def test_cluster_masters_keep_the_spark_default(master):
    assert session.master_conf(master) == {}
    assert session.master_conf(master, {"spark.x": "1"}) == {"spark.x": "1"}
    path = {session.DRIVER_CLASSPATH_KEY: "extra/a.jar"}
    assert session.master_conf(master, path) == path


def test_extra_conf_wins_over_the_master_default():
    conf = session.master_conf("local[2]", {KEY: FILE_CONTEXT_MANAGER})
    assert conf == {**LOCAL_CONF, KEY: FILE_CONTEXT_MANAGER}


def test_callers_file_system_wins():
    impl = "org.apache.hadoop.fs.LocalFileSystem"
    conf = session.master_conf("local[2]", {session.LOCAL_FS_KEY: impl})
    assert conf == {**LOCAL_CONF, session.LOCAL_FS_KEY: impl}


def test_callers_driver_class_path_is_kept_after_the_jar():
    theirs = os.pathsep.join(["extra/a.jar", "extra/b/*"])
    conf = session.master_conf("local[2]", {session.DRIVER_CLASSPATH_KEY: theirs})
    assert conf[session.DRIVER_CLASSPATH_KEY] == os.pathsep.join(
        [session.NIO_LOCAL_FS_JAR, theirs]
    )
    assert conf[session.LOCAL_FS_KEY] == session.NIO_LOCAL_FS


def test_jvm_without_the_jar_gets_no_file_system():
    conf = session.master_conf(
        "local[2]", {session.DRIVER_CLASSPATH_KEY: "extra/a.jar"}, nio_local_fs=False
    )
    assert conf == {
        KEY: session.LOCAL_CHECKPOINT_MANAGER,
        session.DRIVER_CLASSPATH_KEY: "extra/a.jar",
    }


def test_engine_session_creates_the_file_system_manager(spark, tmp_path):
    jvm = spark.sparkContext._jvm
    manager = (
        jvm.org.apache.spark.sql.execution.streaming.checkpointing
        .CheckpointFileManager.create(
            jvm.org.apache.hadoop.fs.Path(str(tmp_path)),
            spark._jsparkSession.sessionState().newHadoopConf(),
        )
    )
    assert manager.getClass().getName() == session.LOCAL_CHECKPOINT_MANAGER


def _drain(spark, workload, source, out):
    """Drain `source` through the benchmark's composition of `workload`
    (one file per micro-batch, `WriteParquet`) into `out`/sink with the
    checkpoint `out`/ckpt; returns the query's progress list."""
    result = compose.write(
        compose.build(spark, workload, str(source)),
        str(out / "sink"),
        str(out / "ckpt"),
    )
    result.wait_until_finish()
    return [json.loads(p.json) for p in result.queries[0].recentProgress]


def _fingerprint(workload, out):
    rows, digest, _ = gen.sink_fingerprint(
        str(out / "sink"),
        gen.REFERENCES[workload][1],
        stamped=workload != "clickstream_panes",
    )
    return rows, digest


@pytest.mark.parametrize(
    "workload, files",
    [("clickstream_windows", 4), ("clickstream_panes", 1)],
    ids=["windows", "panes"],
)
def test_drain_starts_no_process(
    spark, tmp_path, jvm_process_starts, workload, files
):
    """A Demo2 drain writes source, offset and commit log entries,
    state-store deltas and parquet task and job files every micro-batch.
    On a host without libhadoop, Hadoop's FileContext ran `readlink` four
    times per rename, and its RawLocalFileSystem ran `chmod` for every
    created file and directory (174 per 7-batch perfbench windows drain,
    114 per 4-batch panes drain)."""
    gen.generate(
        gen.Shape(files=files, events_per_file=500, users=50),
        11,
        str(tmp_path / "in"),
    )
    # Once per JVM, not per drain: the pane operator's Python workers
    # fork from the worker daemon, which the JVM starts, and the first
    # executor heartbeat runs `getconf PAGESIZE`.
    spark.range(1).mapInPandas(lambda frames: frames, "id long").collect()
    jvm = spark.sparkContext._jvm
    jvm.org.apache.spark.executor.ProcfsMetricsGetter.pTreeInfo()
    runtime = jvm.java.lang.Runtime.getRuntime()
    with jvm_process_starts() as commands:
        runtime.exec("true").waitFor()  # the recorder sees the JVM's processes
        progress = _drain(spark, workload, tmp_path / "in", tmp_path)
    assert sum(p["numInputRows"] > 0 for p in progress) == files
    # Not the drain's work: whenever a garbage collection finds a dropped
    # session (each streaming query runs in a clone), Spark's
    # ArtifactManager removes its directory with `rm -rf .../artifacts-*`
    # on the JVM's Cleaner thread.
    drain_commands = [c for c in commands if "/artifacts-" not in c]
    assert [os.path.basename(c.split()[0]) for c in drain_commands] == ["true"]


@pytest.mark.parametrize(
    "workload, files, first_leg",
    # Windows fire 2 minutes of event time behind the input (30 s per
    # file), so fewer than ~6 files leave the reference sink empty. Late
    # events start at file 2; both restarts take some of them after the
    # boundary, where only the checkpointed watermark can drop them.
    [("clickstream_windows", 8, 3), ("clickstream_panes", 4, 2)],
    ids=["windows", "panes"],
)
def test_checkpoint_restarts_across_the_managers(
    spark, tmp_path, workload, files, first_leg
):
    """First leg under Spark's FileContext manager, restart under the
    engine default with the rest of the files: the sink equals an
    uninterrupted drain and the DuckDB reference."""
    events = gen.generate(
        gen.Shape(files=files, events_per_file=400, users=50),
        77,
        str(tmp_path / "all"),
    )
    src, restarted, whole = (tmp_path / d for d in ("src", "restarted", "whole"))
    events.head(first_leg, str(src))
    previous = spark.conf.get(KEY, None)
    spark.conf.set(KEY, FILE_CONTEXT_MANAGER)
    try:
        first = _drain(spark, workload, src, restarted)
    finally:
        if previous is None:
            spark.conf.unset(KEY)
        else:
            spark.conf.set(KEY, previous)
    for path in events.files[first_leg:]:
        os.link(path, src / os.path.basename(path))
    second = _drain(spark, workload, src, restarted)
    uninterrupted = _drain(spark, workload, tmp_path / "all", whole)

    assert sum(p["numInputRows"] for p in first + second) == events.lines
    assert layers.dropped_by_watermark(second) > 0
    assert (
        layers.dropped_by_watermark(first + second)
        == layers.dropped_by_watermark(uninterrupted)
        == events.count("late")
    )
    expected = gen.REFERENCES[workload][0](events)
    assert expected[0] > 0
    assert _fingerprint(workload, restarted) == _fingerprint(workload, whole)
    assert _fingerprint(workload, whole) == expected
