"""Spark 4 Python DataSource surface over the avro fallback (r11,
VERDICT r10 item 4): `spark.read.format("avro_fallback")` must be
plan-identical to the `read_avro_fallback` helper (shared scan plan),
and `readStream.format("avro_fallback")` replays a growing directory
with set-difference offsets (a late file sorting EARLIER than processed
ones is still picked up) and plan-time validation of late files."""

from __future__ import annotations

import glob
import os
import shutil
from datetime import datetime
from decimal import Decimal

import pytest
from pyspark.sql import types as T

from tutorial_apache_beam_spark.sources.avro_datasource import (
    AvroFallbackStreamReader,
    register_avro_fallback,
)
from tutorial_apache_beam_spark.sources.avro_fallback import (
    read_avro_fallback,
    scan_avro_tree,
    write_avro_fallback,
)


@pytest.fixture()
def registered(spark):
    register_avro_fallback(spark)
    return spark


def _write_tree(spark, path):
    schema = T.StructType([
        T.StructField("id", T.LongType(), False),
        T.StructField("d", T.DecimalType(10, 2), True),
        T.StructField("ts", T.TimestampNTZType(), True),
        T.StructField("part", T.StringType(), True),
    ])
    rows = [
        (i, Decimal(f"{i}.25"), datetime(2024, 1, 1 + i), str(i % 2))
        for i in range(6)
    ]
    df = spark.createDataFrame(rows, schema)
    write_avro_fallback(df, path, partition_by=["part"])
    return rows


def test_batch_parity_with_helper(registered, tmp_path):
    spark = registered
    tree = str(tmp_path / "tree")
    _write_tree(spark, tree)
    helper = read_avro_fallback(spark, tree)
    ds = spark.read.format("avro_fallback").load(tree)
    assert ds.schema == helper.schema
    assert sorted(map(tuple, ds.collect())) == sorted(
        map(tuple, helper.collect())
    )
    # partition column typed from directory names on both surfaces
    assert ds.schema["part"].dataType == T.LongType()
    # small files bin-pack into ONE task at the default 128 MB bin;
    # binBytes=1 forces one task per file (the no-packing bound)
    n_files = len(glob.glob(f"{tree}/part=*/*.avro"))
    assert ds.rdd.getNumPartitions() == 1
    per_file = (
        spark.read.format("avro_fallback")
        .option("binBytes", 1)
        .load(tree)
    )
    assert per_file.rdd.getNumPartitions() == n_files
    assert sorted(map(tuple, per_file.collect())) == sorted(
        map(tuple, helper.collect())
    )


def test_schema_must_match_derived(registered, tmp_path):
    spark = registered
    tree = str(tmp_path / "tree")
    _write_tree(spark, tree)
    with pytest.raises(Exception, match="does not match the derived"):
        spark.read.format("avro_fallback").schema("id BIGINT").load(
            tree
        ).collect()


def test_missing_path_refused(registered):
    with pytest.raises(Exception, match="requires a path"):
        registered.read.format("avro_fallback").load()


def test_streaming_growing_directory_exactly_once(registered, tmp_path):
    """Two availableNow drains over one checkpoint: the second picks up
    ONLY the files that appeared in between — including one whose name
    sorts BEFORE the already-processed files (set-difference offsets,
    not a position watermark)."""
    spark = registered
    tree = str(tmp_path / "tree")
    _write_tree(spark, tree)
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        q = (
            spark.readStream.format("avro_fallback")
            .load(tree)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    assert spark.read.parquet(sink).count() == 6

    late_schema = T.StructType([
        T.StructField("id", T.LongType(), False),
        T.StructField("d", T.DecimalType(10, 2), True),
        T.StructField("ts", T.TimestampNTZType(), True),
    ])
    late = spark.createDataFrame(
        [(100, Decimal("9.99"), datetime(2024, 2, 1))], late_schema
    )
    staging = str(tmp_path / "staging")
    write_avro_fallback(late, staging)
    src = glob.glob(f"{staging}/*.avro")[0]
    # '0aaa_' sorts before every 'part-0000x' name the writer emitted
    shutil.copy(src, os.path.join(tree, "part=0", "0aaa_late.avro"))

    drain()
    out = spark.read.parquet(sink)
    assert out.count() == 7  # exactly once: 6 old + 1 late, no re-reads
    got = out.where("id = 100").collect()
    assert len(got) == 1 and got[0]["d"] == Decimal("9.99")
    assert got[0]["part"] == 0  # directory value, typed at stream start


def test_stream_reader_offset_semantics(spark, tmp_path):
    """Unit-level: offsets are sorted relative-path lists; partitions()
    is the set difference; late files resolve against the fixed reader
    schema or refuse loudly."""
    tree = str(tmp_path / "tree")
    _write_tree(spark, tree)
    plan = scan_avro_tree(tree)
    rdr = AvroFallbackStreamReader(plan)
    assert rdr.initialOffset() == {"wm": 0, "files": [], "n": 0}
    first = rdr.latestOffset()
    # default 300 s compaction lag: files written moments ago stay in
    # the EXPLICIT boundary window
    assert first["n"] == 0
    assert first["files"] == sorted(first["files"])
    assert rdr.partitions(first, first) == []
    parts = rdr.partitions(rdr.initialOffset(), first)
    assert sum(len(p.files) for p in parts) == len(plan.files)
    rows = [r for p in parts for r in rdr.read(p)]
    assert len(rows) == 6

    # an incompatible late file refuses at PLAN time (partitions()),
    # naming the file — not mid-decode on an executor
    bad = spark.createDataFrame(
        [("not-a-long",)],
        T.StructType([T.StructField("id", T.StringType(), False)]),
    )
    staging = str(tmp_path / "bad")
    write_avro_fallback(bad, staging)
    shutil.copy(
        glob.glob(f"{staging}/*.avro")[0],
        os.path.join(tree, "part=0", "bad.avro"),
    )
    second = rdr.latestOffset()
    with pytest.raises(ValueError, match="does not resolve"):
        rdr.partitions(first, second)


def test_writer_roundtrip_partitioned(registered, tmp_path):
    """df.write.format('avro_fallback'): Hive col=value layout, codec
    option, parity with the helper's reader on both surfaces, and
    overwrite/append mode semantics."""
    spark = registered
    out = str(tmp_path / "out")
    rows = _write_tree(spark, str(tmp_path / "seed"))
    df = spark.read.format("avro_fallback").load(str(tmp_path / "seed"))
    (
        df.withColumn("part", df.part.cast("string"))
        .write.format("avro_fallback")
        .option("partitionBy", "part")
        .option("codec", "deflate")
        .mode("overwrite")
        .save(out)
    )
    assert sorted(os.listdir(out)) == ["part=0", "part=1"]
    back = spark.read.format("avro_fallback").load(out)
    assert sorted((r["id"], r["d"], r["ts"]) for r in back.collect()) == [
        (i, d, ts) for i, d, ts, _ in rows
    ]
    helper = read_avro_fallback(spark, out)
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, helper.collect())
    )
    # append mode adds rows instead of replacing
    (
        df.limit(1)
        .withColumn("part", df.part.cast("string"))
        .write.format("avro_fallback")
        .option("partitionBy", "part")
        .mode("append")
        .save(out)
    )
    assert spark.read.format("avro_fallback").load(out).count() == 7
    # overwrite replaces
    (
        df.limit(2)
        .withColumn("part", df.part.cast("string"))
        .write.format("avro_fallback")
        .option("partitionBy", "part")
        .mode("overwrite")
        .save(out)
    )
    assert spark.read.format("avro_fallback").load(out).count() == 2


def test_writer_plan_time_refusals(registered, tmp_path):
    spark = registered
    df = spark.range(3)
    with pytest.raises(Exception, match="codec"):
        (
            df.write.format("avro_fallback")
            .option("codec", "lz77")
            .mode("overwrite")
            .save(str(tmp_path / "x"))
        )
    with pytest.raises(Exception, match="not in frame"):
        (
            df.write.format("avro_fallback")
            .option("partitionBy", "nope")
            .mode("overwrite")
            .save(str(tmp_path / "y"))
        )


def test_pushdown_scan_reuse_upstream_sentinel(spark, tmp_path):
    """WHY the avro_fallback reader deliberately has NO pushFilters
    partition pruning (r11): on this Spark version,
    PlanPythonDataSourceScan caches the LAST pushed-down scan per
    relation and reuses it for any later FILTERLESS query over the same
    DataFrame — so filter-dependent partitions silently drop rows
    (measured: after df.where(p).collect(), a plain df.count() returned
    the pruned subset). This sentinel registers a throwaway pruning
    DataSource and ASSERTS the unsafe reuse; when a Spark upgrade makes
    it fail (count == 4), the caching is fixed and partition pruning
    should be (re)implemented in avro_datasource.AvroFallbackReader —
    the r11 implementation (type-guarded _prunes over plan partition
    values, consumed filters) lives in this repo's git history."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        EqualTo,
        InputPartition,
    )

    conf_key = "spark.sql.python.filterPushdown.enabled"
    old = spark.conf.get(conf_key, None)
    spark.conf.set(conf_key, "true")

    class _PruneReader(DataSourceReader):
        def __init__(self):
            self.keep = None

        def pushFilters(self, filters):
            for f in filters:
                if isinstance(f, EqualTo) and f.attribute == ("part",):
                    self.keep = f.value
                    continue
                yield f

        def partitions(self):
            parts = [0, 1] if self.keep is None else [self.keep]
            return [InputPartition(p) for p in parts]

        def read(self, partition):
            base = partition.value * 2
            yield (base, partition.value)
            yield (base + 1, partition.value)

    class _PruneSource(DataSource):
        @classmethod
        def name(cls):
            return "prune_sentinel"

        def schema(self):
            return "id INT, part INT"

        def reader(self, schema):
            return _PruneReader()

    try:
        spark.dataSource.register(_PruneSource)
        df = spark.read.format("prune_sentinel").load()
        assert sorted(
            r["id"] for r in df.where("part = 1").collect()
        ) == [2, 3]
        n = df.count()
    finally:
        if old is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, old)
    assert n == 2, (
        "Spark no longer reuses the last pushed-down scan for filterless "
        f"queries (count == {n}): partition-pruning pushdown is now safe "
        "to implement in avro_datasource.AvroFallbackReader — see this "
        "test's docstring"
    )


def test_streaming_sink_exactly_once_protocol(registered, tmp_path):
    """writeStream.format('avro_fallback'): bid-prefixed finals per
    epoch, Hive layout, read-back parity — and the two-phase commit
    unit-level: a replayed epoch's commit deletes the previous attempt's
    finals for that batch id before promoting its own temps."""
    spark = registered
    import json as _json

    src = tmp_path / "src"
    src.mkdir()
    (src / "a.json").write_text(
        "\n".join(
            _json.dumps({"id": i, "day": str(i % 2)}) for i in range(6)
        )
        + "\n"
    )
    out = str(tmp_path / "out")

    def drain():
        q = (
            spark.readStream.schema("id BIGINT, day STRING")
            .json(str(src))
            .writeStream.format("avro_fallback")
            .option("path", out)
            .option("partitionBy", "day")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    files = sorted(
        os.path.basename(p) for p in glob.glob(f"{out}/day=*/*.avro")
    )
    assert files and all(f.startswith("bid0-part-") for f in files)
    back = spark.read.format("avro_fallback").load(out)
    assert sorted((r["id"], r["day"]) for r in back.collect()) == [
        (i, i % 2) for i in range(6)
    ]

    # second epoch appends under bid1 without touching bid0 finals
    (src / "b.json").write_text(_json.dumps({"id": 100, "day": "0"}) + "\n")
    drain()
    files2 = sorted(
        os.path.basename(p) for p in glob.glob(f"{out}/day=*/*.avro")
    )
    assert files == [f for f in files2 if f.startswith("bid0-")]
    assert any(f.startswith("bid1-") for f in files2)
    assert spark.read.format("avro_fallback").load(out).count() == 7

    # unit-level replay idempotence: same epoch committed twice (the
    # second attempt simulating a driver retry) leaves ONE set of finals
    from tutorial_apache_beam_spark.sources.avro_datasource import (
        AvroFallbackStreamWriter,
    )
    from tutorial_apache_beam_spark.sources.avro_fallback import (
        _field_plan,
        spark_schema_to_avro,
    )

    schema = T.StructType([T.StructField("id", T.LongType(), False)])
    plan = _field_plan(schema)
    target = str(tmp_path / "unit")
    os.makedirs(target)
    w = AvroFallbackStreamWriter(
        local=target, pcols=[], names=["id"], plan=plan,
        avro_schema=spark_schema_to_avro(schema), codec="null",
    )
    from pyspark.sql import Row

    for attempt in range(2):
        msg = w.write(iter([Row(id=1), Row(id=2)]))
        w.commit([msg], batchId=7)
    finals = glob.glob(f"{target}/bid7-*.avro")
    assert len(finals) == 1
    from tutorial_apache_beam_spark.sources.avro_fallback import (
        read_container,
    )
    import io as _io

    _, rows = read_container(_io.BytesIO(open(finals[0], "rb").read()))
    assert rows == [(1,), (2,)]
    # abort removes temps
    msg = w.write(iter([Row(id=3)]))
    w.abort([msg], batchId=8)
    assert not glob.glob(f"{target}/.stream-part-*")


def test_streaming_sink_commit_sweep_is_marker_gated(registered, tmp_path):
    """r13 (ADVICE r12): the per-epoch stale-final sweep walks the WHOLE
    output tree only on a REPLAYED epoch (batchId <= the driver-side
    high-water marker, written durably before any promote); the normal
    forward path sweeps only the directories the epoch's staged files
    reached, so commit cost no longer grows with total output history.
    Both branches asserted observably: a planted stray final in an
    untouched partition dir survives a FORWARD commit (no tree walk)
    and is removed by a REPLAY commit of the same epoch (tree walk)."""
    spark = registered
    from pyspark.sql import Row

    from tutorial_apache_beam_spark.sources.avro_datasource import (
        AvroFallbackStreamWriter,
    )
    from tutorial_apache_beam_spark.sources.avro_fallback import (
        _field_plan,
        spark_schema_to_avro,
    )

    schema = T.StructType([T.StructField("id", T.LongType(), False)])
    plan = _field_plan(schema)
    target = str(tmp_path / "tree")
    day0 = os.path.join(target, "day=0")
    day9 = os.path.join(target, "day=9")
    os.makedirs(day0)
    os.makedirs(day9)
    w = AvroFallbackStreamWriter(
        local=target, pcols=[], names=["id"], plan=plan,
        avro_schema=spark_schema_to_avro(schema), codec="null",
    )

    def commit_rows_at_root(batch_id):
        msg = w.write(iter([Row(id=1)]))
        w.commit([msg], batchId=batch_id)

    # Epoch 3 commits; the marker records it.
    commit_rows_at_root(3)
    marker = os.path.join(target, ".avro_stream_last_bid")
    assert open(marker).read() == "3"

    # Plant a stray final of a FUTURE epoch in a directory epoch 5's
    # staged files never touch. The forward-path commit of epoch 5 must
    # leave it alone (staged-dirs-only sweep)...
    stray = os.path.join(day9, "bid5-part-00042.avro")
    open(stray, "wb").write(b"stray")
    commit_rows_at_root(5)
    assert os.path.exists(stray), "forward commit swept the whole tree"
    assert open(marker).read() == "5"

    # ...and a REPLAY of epoch 5 (batchId <= marker: a previous attempt
    # already promoted) must find and remove it wherever it is.
    commit_rows_at_root(5)
    assert not os.path.exists(stray), "replay commit missed a stale final"
    # Exactly one bid5 final remains (the replay's own promote).
    assert len(glob.glob(f"{target}/**/bid5-*.avro", recursive=True)) == 1
    # The marker never regresses.
    assert open(marker).read() == "5"
    # Readers never see the marker: discovery matches *.avro, dot-names
    # are skipped, and a load over the tree returns only data rows —
    # one from epoch 3 plus one from epoch 5 (the replay REPLACED the
    # first bid5 final, it did not append).
    back = spark.read.format("avro_fallback").load(target)
    assert back.count() == 2


def test_commit_warns_once_when_dir_fsync_fails(tmp_path, monkeypatch):
    """The commit marker's directory fsync is best effort, but a failure
    is visible: with directory opens refused, two commits still complete
    and the process warns exactly once."""
    import warnings

    from pyspark.sql import Row

    from tutorial_apache_beam_spark.sources import avro_datasource
    from tutorial_apache_beam_spark.sources.avro_fallback import (
        _field_plan,
        spark_schema_to_avro,
    )

    schema = T.StructType([T.StructField("id", T.LongType(), False)])
    target = str(tmp_path / "tree")
    os.makedirs(target)
    w = avro_datasource.AvroFallbackStreamWriter(
        local=target, pcols=[], names=["id"], plan=_field_plan(schema),
        avro_schema=spark_schema_to_avro(schema), codec="null",
    )
    real_open = os.open

    def refuse_dir(path, flags, *args, **kwargs):
        if os.fspath(path) == target:
            raise OSError(22, "directory open refused")
        return real_open(path, flags, *args, **kwargs)

    monkeypatch.setattr(avro_datasource, "_DIR_FSYNC_WARNED", False)
    monkeypatch.setattr(os, "open", refuse_dir)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        for batch_id in (0, 1):
            msg = w.write(iter([Row(id=batch_id)]))
            w.commit([msg], batchId=batch_id)
    fsync_warnings = [c for c in caught if "fsync directory" in str(c.message)]
    assert len(fsync_warnings) == 1
    assert sorted(
        os.path.basename(p).split("-")[0]
        for p in glob.glob(f"{target}/bid*.avro")
    ) == ["bid0", "bid1"]
    assert open(os.path.join(target, ".avro_stream_last_bid")).read() == "1"


def test_stream_late_partition_value_typing(spark, tmp_path):
    """A late file in a NEW directory of the fixed partition column uses
    the types fixed at stream start; a value that no longer fits refuses
    loudly instead of demoting the running stream's schema."""
    tree = str(tmp_path / "tree")
    _write_tree(spark, tree)  # part dirs '0'/'1' -> LongType
    plan = scan_avro_tree(tree)
    rdr = AvroFallbackStreamReader(plan)
    first = rdr.latestOffset()

    late = spark.createDataFrame(
        [(7, Decimal("1.00"), datetime(2024, 3, 1))],
        T.StructType([
            T.StructField("id", T.LongType(), False),
            T.StructField("d", T.DecimalType(10, 2), True),
            T.StructField("ts", T.TimestampNTZType(), True),
        ]),
    )
    staging = str(tmp_path / "staging2")
    write_avro_fallback(late, staging)
    src = glob.glob(f"{staging}/*.avro")[0]
    os.makedirs(os.path.join(tree, "part=5"))
    shutil.copy(src, os.path.join(tree, "part=5", "x.avro"))
    parts = rdr.partitions(first, rdr.latestOffset())
    assert [pv for p in parts for _, pv in p.files] == [(5,)]

    os.makedirs(os.path.join(tree, "part=zzz"))
    shutil.copy(src, os.path.join(tree, "part=zzz", "y.avro"))
    with pytest.raises(ValueError, match="does not fit the column type"):
        rdr.partitions(first, rdr.latestOffset())
    os.remove(os.path.join(tree, "part=zzz", "y.avro"))
    # r11 review: Python-only numeric forms must refuse with the same
    # STRICT rules as scan-time inference — bare int('1_5')/float('1_5')
    # would silently accept 15 into the LongType column
    os.makedirs(os.path.join(tree, "part=1_5"))
    shutil.copy(src, os.path.join(tree, "part=1_5", "z.avro"))
    with pytest.raises(ValueError, match="does not fit the column type"):
        rdr.partitions(first, rdr.latestOffset())


def test_offset_compaction_bounded_under_10k_file_replay(spark, tmp_path):
    """r12 (VERDICT r11 item 6): with compaction active, a 10,000-file
    history folds into the (wm, count) summary — the minted offset stays
    bytes-small — while replay stays exactly-once: every file is read
    exactly once across three offset generations, and files written
    after an offset was minted land in the NEXT epoch only."""
    import io as _io
    import json as _json
    import time

    from tutorial_apache_beam_spark.sources.avro_fallback import (
        _field_plan,
        spark_schema_to_avro,
        write_container,
    )

    tree = tmp_path / "tree"
    tree.mkdir()
    schema = T.StructType([T.StructField("id", T.LongType(), False)])
    av = spark_schema_to_avro(schema)
    plan_fields = _field_plan(schema)

    def add_file(i):
        buf = _io.BytesIO()
        write_container([(i,)], plan_fields, av, buf)
        (tree / f"f{i:06d}.avro").write_bytes(buf.getvalue())

    for i in range(10_000):
        add_file(i)

    plan = scan_avro_tree(str(tree))
    rdr = AvroFallbackStreamReader(plan, compact_lag_s=0.0)
    time.sleep(0.05)  # lag 0: everything already written folds
    off1 = rdr.latestOffset()
    assert off1["n"] == 10_000 and off1["files"] == []
    assert len(_json.dumps(off1)) < 200  # bounded, not O(files seen)

    parts = rdr.partitions(rdr.initialOffset(), off1)
    ids = sorted(r[0] for p in parts for r in rdr.read(p))
    assert ids == list(range(10_000))  # every file exactly once

    # second generation: two late files; only they are fresh
    add_file(10_000)
    add_file(10_001)
    time.sleep(0.05)
    off2 = rdr.latestOffset()
    assert off2["n"] == 10_002
    fresh = sorted(
        r[0] for p in rdr.partitions(off1, off2) for r in rdr.read(p)
    )
    assert fresh == [10_000, 10_001]
    # third generation: nothing new → empty epoch
    assert rdr.partitions(off2, rdr.latestOffset()) == []


def test_streaming_compaction_e2e_exactly_once(registered, tmp_path):
    """E2e over a real checkpointed stream with an aggressive
    offsetCompactLag=0: two drains, files added in between, no
    duplicates and no losses — compaction must be invisible to the
    exactly-once contract."""
    import time

    spark = registered
    tree = str(tmp_path / "tree")
    _write_tree(spark, tree)
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        q = (
            spark.readStream.format("avro_fallback")
            .option("offsetCompactLag", "0")
            .load(tree)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    time.sleep(0.05)
    drain()
    assert spark.read.parquet(sink).count() == 6

    late = spark.createDataFrame(
        [(100, Decimal("9.99"), datetime(2024, 2, 1))],
        T.StructType([
            T.StructField("id", T.LongType(), False),
            T.StructField("d", T.DecimalType(10, 2), True),
            T.StructField("ts", T.TimestampNTZType(), True),
        ]),
    )
    staging = str(tmp_path / "staging")
    write_avro_fallback(late, staging)
    shutil.copy(
        glob.glob(f"{staging}/*.avro")[0],
        os.path.join(tree, "part=0", "late.avro"),
    )
    time.sleep(0.05)
    drain()
    out = spark.read.parquet(sink)
    assert out.count() == 7
    assert out.where("id = 100").count() == 1


def test_idle_stream_offset_is_stable(spark, tmp_path):
    """r12 review: with no unprocessed files, latestOffset returns the
    PREVIOUS offset unchanged (offset-equality is how the engine decides
    'no new data' — a moving compaction watermark alone must not
    schedule an empty micro-batch per trigger). New files re-mint."""
    import time

    tree = str(tmp_path / "tree")
    _write_tree(spark, tree)
    plan = scan_avro_tree(tree)
    rdr = AvroFallbackStreamReader(plan, compact_lag_s=0.0)
    time.sleep(0.02)
    off1 = rdr.latestOffset()
    time.sleep(0.05)
    off2 = rdr.latestOffset()
    assert off2 == off1  # same dict despite the wm clock moving
    assert rdr.partitions(off1, off2) == []
    # a new file breaks the idle plateau
    late = spark.createDataFrame([(99,)], "id BIGINT")
    staging = str(tmp_path / "late")
    write_avro_fallback(
        late.selectExpr(
            "id", "CAST(NULL AS DECIMAL(10,2)) d",
            "CAST(NULL AS TIMESTAMP_NTZ) ts", "'0' part"
        ),
        staging, partition_by=["part"],
    )
    shutil.copy(
        glob.glob(f"{staging}/part=0/*.avro")[0],
        os.path.join(tree, "part=0", "late2.avro"),
    )
    time.sleep(0.02)
    off3 = rdr.latestOffset()
    assert off3 != off2
    fresh = [
        r[0] for p in rdr.partitions(off2, off3) for r in rdr.read(p)
    ]
    assert fresh == [99]
