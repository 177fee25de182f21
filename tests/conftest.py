"""Shared pytest fixtures: one SparkSession + a DuckDB oracle comparator."""

from __future__ import annotations

import contextlib
import itertools
import math
import os
import re
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tutorial_apache_beam_spark import get_spark
from tutorial_apache_beam_spark.catalog import TABLES

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    cpus = os.environ.get("SPARK_GRAFT_TEST_CPUS", "8")
    spark = get_spark(
        app_name="engine-tests",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )
    yield spark


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        path = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    yield con
    con.close()


@pytest.fixture
def jvm_process_starts(spark, tmp_path):
    """Context manager recording the command line of every process the
    session's JVM starts inside it (JFR `jdk.ProcessStart`). It yields a
    list, filled when the block exits:

        with jvm_process_starts() as commands:
            ...
        assert not [c for c in commands if c.startswith("readlink")]
    """
    jvm = spark.sparkContext._jvm
    dumps = (tmp_path / f"process_starts-{i}.jfr" for i in itertools.count())

    @contextlib.contextmanager
    def record():
        commands: list[str] = []
        recording = jvm.jdk.jfr.Recording()
        recording.enable("jdk.ProcessStart")
        recording.start()
        dump = jvm.java.io.File(str(next(dumps))).toPath()
        try:
            yield commands
        finally:
            recording.stop()
            recording.dump(dump)
            recording.close()
        for event in jvm.jdk.jfr.consumer.RecordingFile.readAllEvents(dump):
            commands.append(event.getString("command"))

    return record


# Logical plan nodes that run Python workers.
_PYTHON_NODE = re.compile(r"\b\w*(?:InPandas|InArrow|EvalPython)\w*")


def python_plan_nodes(df):
    """Names of the Python-worker nodes in `df`'s analyzed plan, in plan
    order (a streaming frame cannot be optimized before it starts)."""
    return _PYTHON_NODE.findall(
        df._jdf.queryExecution().analyzed().toString()
    )


def _norm(v):
    """Normalize a cell for order-insensitive comparison."""
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6f}"
    if hasattr(v, "isoformat"):  # datetime/date — tz-naive text
        return v.isoformat(sep=" ") if hasattr(v, "hour") else v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return repr(v)


def rows_to_multiset(cols, rows):
    """(sorted-cols, sorted normalized row tuples) — driver-style compare."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


def assert_matches_oracle(spark_df, duck_con, sql, check_names=True):
    """Row-count + column-name + order-insensitive value comparison."""
    s_cols = list(spark_df.columns)
    s_rows = [tuple(r) for r in spark_df.collect()]
    rel = duck_con.execute(sql)
    d_cols = [d[0] for d in rel.description]
    d_rows = rel.fetchall()
    if check_names:
        assert sorted(s_cols) == sorted(d_cols), (
            f"column mismatch: spark={sorted(s_cols)} duck={sorted(d_cols)}"
        )
    assert len(s_rows) == len(d_rows), (
        f"row count mismatch: spark={len(s_rows)} duck={len(d_rows)}"
    )
    s_set = rows_to_multiset(s_cols, s_rows)
    d_set = rows_to_multiset(d_cols, d_rows)
    if s_set != d_set:
        diff_s = [r for r in s_set if r not in d_set][:5]
        diff_d = [r for r in d_set if r not in s_set][:5]
        raise AssertionError(
            f"value mismatch; spark-only={diff_s} duck-only={diff_d}"
        )
