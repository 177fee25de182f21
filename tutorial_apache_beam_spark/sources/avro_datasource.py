"""Spark 4 Python DataSource wrapper for the no-JAR Avro fallback (r11,
VERDICT r10 item 4): the idiomatic reader surface —

    register_avro_fallback(spark)
    df  = spark.read.format("avro_fallback").load("/path/to/tree")
    sdf = spark.readStream.format("avro_fallback").load("/path/to/tree")
    df.write.format("avro_fallback").option("partitionBy", "day") \\
      .mode("overwrite").save("/path/to/out")

— over the same driver-side plan (`avro_fallback.scan_avro_tree`) the
`read_avro_fallback` helper uses, so the two surfaces cannot drift on
file discovery, spec §Schema Resolution, or Hive partition typing. The
streaming reader is the S1 file-replay analog for Avro drops (reference
Demo1.java:75-83 — sources shouldn't have format cliffs): each
micro-batch picks up files that appeared since the last committed
offset, validates at PLAN time that they resolve to the reader schema
fixed at stream start, and decodes them on executors.

Scale shape: container files bin-pack into input partitions up to
`binBytes` (default 128 MB, binaryFile's default) — a 100k-small-file
tree costs hundreds of Python tasks, not 100k, while a big file still
gets its own task (a container decodes sequentially, so bins never
split files); the driver touches HEADERS only (a few hundred bytes per
file); row decode runs in the Python DataSource worker on executors.
Streaming offsets carry the boundary window of processed RELATIVE paths
explicitly and fold everything older than a compaction watermark into a
`(wm, count)` summary (r12) — offset size is bounded by write-rate x
`offsetCompactLag`, not by files seen; see AvroFallbackStreamReader for
the exact protocol and its one documented trade (a 100-TB streaming
ingest still uses the Kafka source, not file replay).

Batch reads prefer `read_avro_fallback` when the session is available:
its binaryFile path bin-packs small files per maxPartitionBytes. This
surface exists for API parity and for the streaming reader, which
binaryFile cannot express.
"""

from __future__ import annotations

import io
import json
import os
import re
import warnings

from dataclasses import dataclass
from datetime import date

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType


class AvroFilePartition(InputPartition):
    """One decode task: a BIN of container files (absolute path + CAST
    partition values each) + the resolved avro reader schema (JSON, so
    the executor-side decode needs no driver object graph)."""

    def __init__(self, files: list[tuple[str, tuple]], reader_json: str):
        self.files = files
        self.reader_json = reader_json


# ---------------------------------------------------------------------------
# partitionWhere: driver-side partition pruning (r12, VERDICT r11 item 2)
#
# Upstream pushFilters is unusable on Spark 4.1.2 — PlanPythonDataSourceScan
# caches the last pushed-down scan per relation and replays it for later
# FILTERLESS queries (measured; sentinel-pinned in tests/test_avro_datasource
# .py), so any filter-dependent partitions list built from pushFilters
# silently corrupts unrelated reads. This option takes the safe road: the
# predicate is part of the RELATION itself (`.option("partitionWhere",
# "day = 2")`), evaluated once on the driver against each file's Hive
# partition values when the file list is planned — the buggy per-relation
# scan cache never sees two variants of the same relation, because a
# different predicate IS a different relation. SQL three-valued semantics:
# a file is read iff the predicate is TRUE for its partition values
# (UNKNOWN excludes, like a WHERE clause); __HIVE_DEFAULT_PARTITION__ rows
# match only IS NULL.
#
# Grammar (SQL subset over partition columns only):
#   expr     := and_expr (OR and_expr)*
#   and_expr := unary (AND unary)*
#   unary    := NOT unary | '(' expr ')' | predicate
#   predicate:= col (= | != | <> | < | <= | > | >=) literal
#             | col [NOT] IN '(' literal (',' literal)* ')'
#             | col IS [NOT] NULL
#   literal  := number | 'string' ('' escapes) | DATE 'yyyy-mm-dd'
# Literals type-check against the column's inferred partition type at
# PLAN time (numeric col ↔ numeric literal, string ↔ string, date ↔
# DATE/ISO string) — a mismatch is a loud error, never a silent
# empty scan.
# ---------------------------------------------------------------------------

_PW_TOKEN = re.compile(
    r"\s*(?:"
    r"(?P<num>[+-]?(?:\d+\.\d*|\.\d+|\d+)(?:[eE][+-]?\d+)?)"
    r"|(?P<str>'(?:[^']|'')*')"
    r"|(?P<ident>[A-Za-z_][A-Za-z_0-9]*)"
    r"|(?P<op><=|>=|<>|!=|=|<|>|\(|\)|,)"
    r")"
)


class _PwParser:
    """Recursive-descent parser for the partitionWhere subset. Produces
    a closure over a {col: typed_value} dict returning True/False/None
    (SQL three-valued logic)."""

    def __init__(self, text: str, coltypes: dict):
        self._text = text
        self._coltypes = coltypes  # name -> Spark DataType instance
        self._toks: list[tuple[str, object]] = []
        pos = 0
        while pos < len(text):
            m = _PW_TOKEN.match(text, pos)
            if m is None or m.end() == pos:
                if text[pos:].strip():
                    raise ValueError(
                        f"partitionWhere: cannot tokenize at "
                        f"{text[pos:pos + 20]!r}"
                    )
                break
            pos = m.end()
            if m.group("num") is not None:
                raw = m.group("num")
                self._toks.append(
                    ("num", float(raw) if re.search(r"[.eE]", raw) else int(raw))
                )
            elif m.group("str") is not None:
                self._toks.append(
                    ("str", m.group("str")[1:-1].replace("''", "'"))
                )
            elif m.group("ident") is not None:
                word = m.group("ident")
                up = word.upper()
                if up in (
                    "AND", "OR", "NOT", "IN", "IS", "NULL", "TRUE",
                    "FALSE", "DATE",
                ):
                    self._toks.append(("kw", up))
                else:
                    self._toks.append(("ident", word))
            else:
                self._toks.append(("op", m.group("op")))
        self._i = 0

    def _peek(self):
        return self._toks[self._i] if self._i < len(self._toks) else (None, None)

    def _next(self):
        tok = self._peek()
        self._i += 1
        return tok

    def _expect(self, kind, val=None):
        k, v = self._next()
        if k != kind or (val is not None and v != val):
            raise ValueError(
                f"partitionWhere: expected {val or kind}, got {v!r}"
            )
        return v

    def parse(self):
        fn = self._or()
        if self._peek()[0] is not None:
            raise ValueError(
                f"partitionWhere: trailing input at {self._peek()[1]!r}"
            )
        return fn

    def _or(self):
        parts = [self._and()]
        while self._peek() == ("kw", "OR"):
            self._next()
            parts.append(self._and())
        if len(parts) == 1:
            return parts[0]

        def ev(row, parts=parts):
            saw_none = False
            for p in parts:
                r = p(row)
                if r is True:
                    return True
                if r is None:
                    saw_none = True
            return None if saw_none else False

        return ev

    def _and(self):
        parts = [self._unary()]
        while self._peek() == ("kw", "AND"):
            self._next()
            parts.append(self._unary())
        if len(parts) == 1:
            return parts[0]

        def ev(row, parts=parts):
            saw_none = False
            for p in parts:
                r = p(row)
                if r is False:
                    return False
                if r is None:
                    saw_none = True
            return None if saw_none else True

        return ev

    def _unary(self):
        if self._peek() == ("kw", "NOT"):
            self._next()
            inner = self._unary()

            def ev_not(row, inner=inner):
                r = inner(row)
                return None if r is None else (not r)

            return ev_not
        if self._peek() == ("op", "("):
            self._next()
            inner = self._or()
            self._expect("op", ")")
            return inner
        return self._predicate()

    def _column(self):
        k, name = self._next()
        if k != "ident":
            raise ValueError(
                f"partitionWhere: expected a partition column, got {name!r}"
            )
        if name not in self._coltypes:
            raise ValueError(
                f"partitionWhere references {name!r}, which is not a "
                f"partition column (partition columns: "
                f"{sorted(self._coltypes)}) — only directory-derived "
                "columns can prune the file list; filter data columns "
                "with .where() after load()"
            )
        return name

    def _literal(self, col: str):
        from pyspark.sql import types as T

        want = type(self._coltypes[col])
        k, v = self._next()
        if k == "kw" and v == "DATE":
            k2, v2 = self._next()
            if k2 != "str":
                raise ValueError(
                    "partitionWhere: DATE must be followed by 'yyyy-mm-dd'"
                )
            k, v = "date", date.fromisoformat(v2)
        if want in (T.LongType, T.DoubleType):
            if k != "num":
                raise ValueError(
                    f"partitionWhere: column {col!r} is "
                    f"{self._coltypes[col].simpleString()}; literal {v!r} "
                    "is not numeric"
                )
            return float(v) if want is T.DoubleType else v
        if want is T.DateType:
            if k == "date":
                return v
            if k == "str":
                return date.fromisoformat(v)
            raise ValueError(
                f"partitionWhere: column {col!r} is date; use "
                f"DATE 'yyyy-mm-dd' (got {v!r})"
            )
        if k != "str" or not isinstance(v, str):
            raise ValueError(
                f"partitionWhere: column {col!r} is string; literal {v!r} "
                "is not a quoted string"
            )
        return v

    def _predicate(self):
        col = self._column()
        k, v = self._next()
        if (k, v) == ("kw", "IS"):
            negate = self._peek() == ("kw", "NOT")
            if negate:
                self._next()
            self._expect("kw", "NULL")
            if negate:
                return lambda row: row[col] is not None
            return lambda row: row[col] is None
        negate_in = False
        if (k, v) == ("kw", "NOT"):
            negate_in = True
            k, v = self._next()
        if (k, v) == ("kw", "IN"):
            self._expect("op", "(")
            lits = [self._literal(col)]
            while self._peek() == ("op", ","):
                self._next()
                lits.append(self._literal(col))
            self._expect("op", ")")

            def ev_in(row, lits=tuple(lits), neg=negate_in):
                val = row[col]
                if val is None:
                    return None
                hit = any(self._cmp_eq(val, x) for x in lits)
                return (not hit) if neg else hit

            return ev_in
        if negate_in or k != "op" or v not in (
            "=", "!=", "<>", "<", "<=", ">", ">=",
        ):
            raise ValueError(
                f"partitionWhere: expected a comparison after {col!r}, "
                f"got {v!r}"
            )
        lit = self._literal(col)
        op = v

        def ev_cmp(row, op=op, lit=lit):
            val = row[col]
            if val is None:
                return None
            if op == "=":
                return self._cmp_eq(val, lit)
            if op in ("!=", "<>"):
                return not self._cmp_eq(val, lit)
            if op == "<":
                return val < lit
            if op == "<=":
                return val <= lit
            if op == ">":
                return val > lit
            return val >= lit

        return ev_cmp

    @staticmethod
    def _cmp_eq(a, b) -> bool:
        return a == b


def _parse_partition_where(expr: str, pcols: list, ptypes: list):
    """Compile a partitionWhere option into
    `keep(pvals_tuple) -> bool` (True iff the predicate is TRUE —
    UNKNOWN excludes, SQL WHERE semantics)."""
    coltypes = dict(zip(pcols, ptypes))
    fn = _PwParser(expr, coltypes).parse()

    def keep(pvals: tuple) -> bool:
        row = dict(zip(pcols, pvals))
        return fn(row) is True

    return keep


# binaryFile's default bin size: small container files pack together so
# a 100k-small-file tree costs hundreds of Python tasks, not 100k —
# while one big file still gets its own task (a container decodes
# sequentially, so a bin never splits a file).
_DEFAULT_BIN_BYTES = 128 * 1024 * 1024


def _pack_bins(files, bin_bytes: int):
    """First-fit-decreasing-ish size packing preserving discovery order
    inside each bin (rows stay grouped by file anyway): greedy fill to
    `bin_bytes`, oversized files alone in their bin."""
    bins: list[list[tuple[str, tuple]]] = []
    cur: list[tuple[str, tuple]] = []
    cur_sz = 0
    for fp, pvals in files:
        try:
            sz = os.path.getsize(fp)
        except OSError:
            sz = bin_bytes  # vanished/unreadable: isolate, fail loudly
        if cur and cur_sz + sz > bin_bytes:
            bins.append(cur)
            cur, cur_sz = [], 0
        cur.append((fp, pvals))
        cur_sz += sz
    if cur:
        bins.append(cur)
    return bins


def _decode_bin(partition: AvroFilePartition):
    """Executor-side decode of one bin of container files. Imports
    resolve from the worker's own module copy (same contract as
    read_avro_fallback's mapPartitions body)."""
    from tutorial_apache_beam_spark.sources.avro_fallback import (
        _decode_container,
    )

    rschema = json.loads(partition.reader_json)
    for path, pvals in partition.files:
        with open(path, "rb") as fh:
            data = fh.read()
        _, recs = _decode_container(io.BytesIO(data), rschema)
        for rec in recs:
            yield rec + pvals


class AvroFallbackReader(DataSourceReader):
    """Batch reader. DELIBERATELY no pushFilters / partition pruning:
    on Spark 4.1.2, `PlanPythonDataSourceScan` caches the LAST
    pushed-down scan per relation and reuses it wholesale for any later
    FILTERLESS query over the same DataFrame — measured live in this
    repo: after `df.where("day = 2").collect()`, a plain `df.count()`
    returned the pruned subset's count (5 of 20), with no Python call
    at all for the second query. Any filter-dependent partitions list
    is therefore unsafe to build from pushFilters on this version, no
    matter how the reader manages its own state (replacement,
    consume-once, and pickle-excluded pruning state were all tried and
    measured wrong). tests/test_avro_datasource.py pins the upstream
    behavior with a sentinel test so a Spark release that fixes the
    caching flags pruning for re-implementation. Partition pruning is
    instead available through the `partitionWhere` OPTION (r12): the
    predicate is part of the relation, so the buggy cache never sees
    two filter variants of one relation — the pruned file list is
    simply this reader's plan."""

    def __init__(self, plan, bin_bytes: int = _DEFAULT_BIN_BYTES):
        self._plan = plan
        self._bin_bytes = bin_bytes
        self._reader_json = json.dumps(plan.reader_schema)

    def partitions(self):
        return [
            AvroFilePartition(bin_, self._reader_json)
            for bin_ in _pack_bins(self._plan.files, self._bin_bytes)
        ]

    def read(self, partition: AvroFilePartition):
        return _decode_bin(partition)


class AvroFallbackStreamReader(DataSourceStreamReader):
    """File-replay streaming over a growing avro tree. Offsets carry the
    processed files EXPLICITLY (sorted root-relative paths) below a
    compaction watermark and IMPLICITLY above it (r12, VERDICT r11
    item 6 — the pre-r12 all-explicit list grew O(files seen) per
    offset):

        {"wm": <mtime_ns>, "files": [paths with mtime >= wm], "n": ...}

    A file is processed-as-of-an-offset iff its mtime is OLDER than the
    offset's `wm` OR it appears in `files`. `wm` is set at
    `now - offsetCompactLag` (option, seconds, default 300; negative
    disables compaction) when the offset is minted, so only files
    comfortably in the past fold into the implicit summary and the
    explicit list holds just the boundary window — offset size is
    bounded by the write rate x lag, not by history. Explicit set
    difference is kept for the boundary window, so a late-written file
    with an 'earlier' NAME is still picked up (a position-in-sorted-
    listing offset would skip it).

    The documented trades (the same family binaryFile/maxFileAge makes);
    `offsetCompactLag=-1` restores the fully-explicit pre-r12 protocol
    where none of them apply:

    - a file that APPEARS after an offset was minted but carries an
      mtime older than that offset's wm — a backfill copied with
      `cp -p`-style preserved timestamps more than `offsetCompactLag`
      in the past — is treated as already processed and silently
      skipped; backfills should copy without preserving mtimes. The
      REPLAY side of the same trade (ADVICE r12): partitions for a
      replayed epoch are re-derived from its (start, end) offsets by
      re-listing the tree, so a preserved-mtime file whose mtime falls
      inside [start.wm, end.wm) that landed AFTER the epoch's offsets
      were minted is skipped by the live run of that epoch but
      INGESTED by a crash replay of it — whether such a backfill's
      rows appear at all can depend on whether a replay happened.
      Normally-written files are unaffected (their mtimes postdate the
      replayed end's wm); preserved-mtime backfills under
      exactly-once-sensitive consumers should either copy fresh or run
      with offsetCompactLag=-1;
    - files must be IMMUTABLE once written (the standard file-stream
      precondition): bumping a folded file's mtime (touch, in-place
      append) makes it look fresh again and re-ingests the whole file;
    - the loud vanished-file guard covers EXPLICITLY-listed files only;
      history already folded into the implicit summary that is deleted
      before a crash-replay rebuilds its epoch shrinks that replayed
      epoch silently (retention deleting old history is the common,
      benign case of this).

    Epoch REPLAY stays deterministic for normally-written files: a
    replayed epoch's partitions are re-derived from (start, end)
    offsets, and files written during downtime carry mtimes newer than
    the replayed end's wm, so they wait for the next live batch. An
    IDLE stream stays idle: latestOffset returns the previously minted
    offset unchanged while no unprocessed file exists, so a
    processing-time trigger doesn't plan an empty micro-batch per tick
    just because the compaction watermark moved (r12 review).

    Schema fixing holds WITHIN one query run only (ADVICE r11): late
    files validate against the reader schema resolved at stream start,
    but on a query RESTART the DataSource is re-instantiated and
    `scan_avro_tree` re-resolves the widest schema over the tree as it
    stands THEN — writer-schema drift that landed before the restart
    can change the stream's output schema across the checkpoint
    boundary. A production stream that must survive restarts under
    drift should pin the schema explicitly with the `readerSchema`
    option (an avro record JSON string); every file then resolves to
    that fixed schema in every run, or refuses loudly."""

    def __init__(self, plan, compact_lag_s: float = 300.0):
        self._plan = plan
        self._lag_s = compact_lag_s
        self._reader_json = json.dumps(plan.reader_schema)
        # Writer schemas already validated by scan_avro_tree for files
        # present at stream start; late files validate in partitions().
        self._validated = {fp for fp, _ in plan.files}
        self._pvals = dict(plan.files)
        # Offset stability + single-walk-per-trigger (r12 review): the
        # last minted offset (returned verbatim while nothing is fresh)
        # and the listing that produced it (reused by the immediately
        # following partitions() call instead of a second tree walk).
        self._last_offset: dict | None = None
        self._last_listing: list[tuple[str, int]] | None = None

    def _rel(self, fp: str) -> str:
        return os.path.relpath(fp, self._plan.root)

    def _listing(self) -> list[tuple[str, int]]:
        """(relative path, mtime_ns) for every container currently in
        the tree; a file vanishing between walk and stat is skipped
        (it can no longer be read anyway)."""
        from tutorial_apache_beam_spark.sources.avro_fallback import (
            _discover_avro_files,
        )

        _, files = _discover_avro_files(self._plan.root)
        out = []
        for fp, _raw in files:
            try:
                out.append((self._rel(fp), os.stat(fp).st_mtime_ns))
            except OSError:
                pass
        return out

    def initialOffset(self) -> dict:
        return {"wm": 0, "files": [], "n": 0}

    def latestOffset(self) -> dict:
        import time

        listing = self._listing()
        prev = self._last_offset
        if prev is not None:
            prev_files = set(prev["files"])
            fresh = any(
                mt >= prev["wm"] and rel not in prev_files
                for rel, mt in listing
            )
            if not fresh:
                # Nothing unprocessed: return the previous offset
                # UNCHANGED so the engine sees no new data and idles
                # (a moving wm alone would otherwise schedule an empty
                # micro-batch every trigger, forever).
                self._last_listing = listing
                return prev
        wm = (
            int((time.time() - self._lag_s) * 1_000_000_000)
            if self._lag_s >= 0
            else 0
        )
        files = sorted(rel for rel, mt in listing if mt >= wm)
        off = {"wm": wm, "files": files, "n": len(listing) - len(files)}
        self._last_offset = off
        self._last_listing = listing
        return off

    def partitions(self, start: dict, end: dict):
        from tutorial_apache_beam_spark.sources.avro_fallback import (
            _codec_pair,
            _resolution_plan,
            inline_named_types,
            read_header,
        )

        # Legacy (pre-r12) offsets carry no wm: treat as fully explicit.
        start_wm = start.get("wm", 0)
        start_files = set(start["files"])
        end_wm = end.get("wm", 0)
        end_files = set(end["files"])
        # Reuse the walk latestOffset just took when this epoch is the
        # one it minted (the common live path); replays re-list.
        if self._last_offset is not None and end == self._last_offset:
            listing = dict(self._last_listing or [])
        else:
            listing = dict(self._listing())
        keep = getattr(self._plan, "partition_keep", None)
        missing = {
            rel
            for rel in end_files - listing.keys() - start_files
            # a vanished file partitionWhere would prune was never
            # going to be opened — don't crash the stream over it
            # (pvals derive from the PATH alone, so a deleted file
            # still types its partition values)
            if keep is None
            or keep(
                self._plan.partition_values_for(
                    os.path.join(self._plan.root, rel)
                )
            )
        }
        if missing:
            # An EXPLICITLY offset-committed file disappeared before its
            # epoch could (re)build — the same loud failure the
            # all-explicit protocol had (a silent skip would make a
            # replayed epoch quietly smaller).
            raise FileNotFoundError(
                f"avro stream: files committed in the end offset are "
                f"gone from {self._plan.root!r}: {sorted(missing)[:5]}"
            )
        fresh = sorted(
            rel
            for rel, mt in listing.items()
            # not processed as of `start` ...
            if (mt >= start_wm and rel not in start_files)
            # ... and inside this epoch (explicitly listed, or folded
            # into end's implicit summary)
            and (rel in end_files or mt < end_wm)
        )
        batch = []
        for rel in fresh:
            fp = os.path.join(self._plan.root, rel)
            pvals = (
                self._pvals[fp]
                if fp in self._pvals
                else self._plan.partition_values_for(fp)
            )
            if keep is not None and not keep(pvals):
                # partitionWhere prunes late files too (r12): the file
                # stays accounted in the offset (processed, never
                # re-examined) but is never opened — not even for header
                # validation, matching the batch reader's "pruned files
                # are never touched" contract.
                continue
            if fp not in self._validated:
                # Late file: header-only plan-time validation, exactly
                # like scan_avro_tree's pass over the initial tree.
                with open(fp, "rb") as fh:
                    s, codec, _sync = read_header(fh)
                _codec_pair(codec)
                try:
                    _resolution_plan(
                        inline_named_types(s), self._plan.reader_schema
                    )
                except ValueError as ex:
                    raise ValueError(
                        f"avro stream: late file {fp!r} does not resolve "
                        f"to the reader schema fixed at stream start: {ex}"
                    ) from ex
                self._validated.add(fp)
            batch.append((fp, pvals))
        return [
            AvroFilePartition(bin_, self._reader_json)
            for bin_ in _pack_bins(batch, _DEFAULT_BIN_BYTES)
        ]

    def read(self, partition: AvroFilePartition):
        return _decode_bin(partition)

    def commit(self, end: dict) -> None:
        pass


class AvroFallbackWriter(DataSourceWriter):
    """df.write.format("avro_fallback") — the same task-commit protocol
    as `write_avro_fallback` (deterministic final name per partition id,
    dot-hidden temp + os.replace, so retries overwrite their failed
    predecessor instead of duplicating rows). commit()/abort() are
    no-ops by design: every task's file is already atomically final, the
    exact semantics of the helper this wraps."""

    def __init__(self, local, pcols, names, plan, avro_schema, codec,
                 salt):
        self._local = local
        self._pcols = pcols
        self._names = names
        self._plan = plan
        self._avro_schema = avro_schema
        self._codec = codec
        self._salt = salt

    def write(self, iterator) -> WriterCommitMessage:
        from pyspark import TaskContext

        from tutorial_apache_beam_spark.sources.avro_fallback import (
            _write_task_partition,
        )

        ctx = TaskContext.get()
        if ctx is not None:
            base_stem = f"part-{ctx.partitionId():05d}-{self._salt}"
            attempt = ctx.taskAttemptId()
        else:  # pragma: no cover — defensive, mirrors the helper
            base_stem = (
                f"part-{os.getpid():05d}-{self._salt}-{os.urandom(4).hex()}"
            )
            attempt = int.from_bytes(os.urandom(4), "big")
        _write_task_partition(
            iterator, self._local, self._pcols, self._names, self._plan,
            self._avro_schema, self._codec, base_stem, attempt,
        )
        return WriterCommitMessage()

    def commit(self, messages):
        pass

    def abort(self, messages):
        pass


@dataclass
class AvroStagedFiles(WriterCommitMessage):
    """Task → driver: staged temp files as (out_dir, tmp_path) pairs,
    plus the task's partition id (the final-name key)."""

    partition_id: int
    staged: list  # [(out_dir, tmp_path)]


# Set once a stream sink has warned that the commit-marker directory
# fsync failed; later failures in the same process stay quiet.
_DIR_FSYNC_WARNED = False


class AvroFallbackStreamWriter(DataSourceStreamWriter):
    """writeStream.format("avro_fallback") with EXACTLY-ONCE epochs via
    the same two-phase protocol as the engine's parquet streaming sink
    (plans/pipeline._commit_batch_exactly_once): tasks stage dot-hidden
    temp files and report them in their commit messages; the DRIVER's
    commit(batchId) first deletes any `bid{batchId}-*` finals a previous
    PARTIAL attempt of this epoch left behind, then renames every staged
    temp to its batch-deterministic final name
    (`bid{batchId}-part-{taskPartition:05d}.avro` inside each Hive
    partition dir). A replayed epoch therefore overwrites itself
    byte-for-byte instead of duplicating rows; a crashed epoch leaves
    only dot-temps, which every reader skips. Losing speculative
    attempts can strand a dot-temp (invisible to readers; reaped by
    any overwrite-mode rewrite of the directory)."""

    def __init__(self, local, pcols, names, plan, avro_schema, codec):
        self._local = local
        self._pcols = pcols
        self._names = names
        self._plan = plan
        self._avro_schema = avro_schema
        self._codec = codec

    def write(self, iterator) -> AvroStagedFiles:
        from pyspark import TaskContext

        from tutorial_apache_beam_spark.sources.avro_fallback import (
            _stage_task_groups,
        )

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else os.getpid()
        attempt = (
            ctx.taskAttemptId()
            if ctx is not None
            else int.from_bytes(os.urandom(4), "big")
        )
        staged = _stage_task_groups(
            iterator, self._local, self._pcols, self._names, self._plan,
            self._avro_schema, self._codec,
            f"stream-part-{pid:05d}.avro.tmp-{attempt}",
        )
        return AvroStagedFiles(partition_id=pid, staged=staged)

    # Driver-side high-water marker (r13, ADVICE r12): the last batchId
    # whose commit STARTED promoting finals. Written (durably, via temp +
    # rename) BEFORE phase 2, so `batchId <= marker` is exactly the set
    # of epochs for which stale finals may exist somewhere in the tree.
    # Dot-prefixed and suffix-free: every reader's discovery matches
    # *.avro and skips dot-names, so the marker is invisible to them.
    _MARKER = ".avro_stream_last_bid"

    def _marker_path(self) -> str:
        return os.path.join(self._local, self._MARKER)

    def _read_marker(self) -> int:
        try:
            with open(self._marker_path()) as fh:
                return int(fh.read().strip())
        except (OSError, ValueError):
            return -1

    def _write_marker(self, batch_id: int) -> None:
        tmp = f"{self._marker_path()}.tmp-{os.getpid()}"
        with open(tmp, "w") as fh:
            fh.write(str(batch_id))
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, self._marker_path())
        # fsync the containing directory too (ADVICE r13): fsyncing only
        # the temp file makes the CONTENT durable, but the rename itself
        # lives in the directory — on power loss the marker entry can be
        # lost while phase-2 finals (written later, surviving by luck of
        # cache flush order) remain, and the epoch's replay would take
        # the narrow staged-dirs sweep past stale finals in other
        # partition dirs. A directory fsync pins the rename before any
        # phase-2 promote starts.
        global _DIR_FSYNC_WARNED
        try:
            dfd = os.open(self._local, os.O_RDONLY)
        except OSError as exc:
            # Non-POSIX dir-open semantics: best effort, but the first
            # failure per process warns instead of passing silently.
            if not _DIR_FSYNC_WARNED:
                _DIR_FSYNC_WARNED = True
                warnings.warn(
                    f"avro_fallback stream sink: cannot fsync directory "
                    f"{self._local!r} ({exc}); the commit marker's rename "
                    "is not durable against power loss",
                    RuntimeWarning,
                    stacklevel=2,
                )
            return
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)

    def commit(self, messages, batchId: int) -> None:
        import glob as _glob

        prefix = f"bid{batchId}-"
        # Phase 1: clear this epoch's leftovers from a previous partial
        # attempt (they are finals of the SAME batch id — replacing them
        # wholesale is what makes the replay idempotent). On a REPLAYED
        # epoch (batchId <= marker: a previous attempt already started
        # promoting) the sweep covers the WHOLE output tree, not just
        # directories the current attempt's staged files reached
        # (ADVICE r11): a replayed epoch whose rows land in a different
        # set of Hive partition dirs (nondeterministic upstream, e.g. a
        # processing-time-derived partition column) would otherwise
        # leave stale finals from the earlier partial attempt,
        # duplicating rows. `**` with recursive=True matches zero or
        # more directory levels, so unpartitioned finals at the root are
        # swept too. On the normal FORWARD path (batchId > marker — no
        # attempt of this epoch ever promoted, by marker monotonicity)
        # only the staged directories are swept (r13, ADVICE r12: the
        # whole-tree walk per epoch grew with total output history, not
        # with the epoch — a long-running partitioned stream paid an
        # ever-growing directory walk per micro-batch; the staged-dirs
        # sweep is defensive only, cheap, and covers a hand-reset
        # marker).
        if batchId <= self._read_marker():
            sweep_roots = [
                os.path.join(self._local, "**", f"{prefix}*.avro")
            ]
            recursive = True
        else:
            staged_dirs = {
                d
                for m in messages
                if m is not None
                for d, _tmp in m.staged
            }
            sweep_roots = [
                os.path.join(d, f"{prefix}*.avro") for d in staged_dirs
            ]
            recursive = False
        for pattern in sweep_roots:
            for old in _glob.glob(pattern, recursive=recursive):
                os.remove(old)
        # Record promote-intent BEFORE phase 2 (durable): a crash between
        # the marker write and the last rename leaves batchId <= marker,
        # so the checkpoint replay of this epoch takes the whole-tree
        # path above and finds every stray final. max() keeps the marker
        # a high-water mark even under an out-of-order replay (Spark
        # only replays the LAST epoch, but a regressed marker would
        # silently downgrade later epochs' replays to the narrow sweep).
        self._write_marker(max(batchId, self._read_marker()))
        # Phase 2: promote every staged temp to its final name.
        for m in messages:
            if m is None:
                continue
            for d, tmp in m.staged:
                final = os.path.join(
                    d, f"{prefix}part-{m.partition_id:05d}.avro"
                )
                os.replace(tmp, final)

    def abort(self, messages, batchId: int) -> None:
        for m in messages:
            if m is None:
                continue
            for _d, tmp in m.staged:
                try:
                    os.remove(tmp)
                except OSError:
                    pass


class AvroFallbackDataSource(DataSource):
    """format("avro_fallback"): options — `path` (required, local/posix
    tree of .avro container files), `readerSchema` (optional avro record
    schema as a JSON string; default = the spec-resolved widest schema
    across the tree), `binBytes` (batch-read bin size for small-file
    packing, default 128 MB), `partitionWhere` (r12: a SQL-subset
    predicate over the Hive partition columns, evaluated driver-side at
    plan time to prune the file list for BOTH batch and streaming reads
    — the safe alternative to pushFilters, whose Spark 4.1.2 scan cache
    is broken; see the grammar note above _PwParser)."""

    @classmethod
    def name(cls) -> str:
        return "avro_fallback"

    def _plan(self):
        from tutorial_apache_beam_spark.sources.avro_fallback import (
            scan_avro_tree,
        )

        if getattr(self, "_plan_cache", None) is None:
            path = self.options.get("path")
            if not path:
                raise ValueError(
                    "avro_fallback requires a path — "
                    ".format('avro_fallback').load('/dir')"
                )
            rs = self.options.get("readerschema")
            reader_schema = json.loads(rs) if rs else None
            plan = scan_avro_tree(path, reader_schema)
            # Driver-side partition pruning (r12): the predicate is part
            # of the relation (an option), evaluated HERE against each
            # file's typed partition values — never via pushFilters,
            # whose per-relation scan cache is broken on Spark 4.1.2
            # (see AvroFallbackReader). Pruning the file list cannot
            # change the schema: the reader schema was resolved over the
            # full tree above.
            pw = self.options.get("partitionwhere")
            if pw:
                keep = _parse_partition_where(pw, plan.pcols, plan.ptypes)
                plan.files = [
                    (fp, pv) for fp, pv in plan.files if keep(pv)
                ]
                plan.partition_keep = keep
            self._plan_cache = plan
        return self._plan_cache

    def schema(self):
        return self._plan().out_schema

    def _check_schema(self, schema: StructType):
        plan = self._plan()
        if schema != plan.out_schema:
            raise ValueError(
                "avro_fallback derives its schema from the files "
                "(self-describing format); the supplied schema does not "
                f"match the derived one.\n  supplied: "
                f"{schema.simpleString()}\n  derived:  "
                f"{plan.out_schema.simpleString()}\nDrop .schema(...) or "
                "pass a readerSchema option (avro record JSON) instead."
            )
        return plan

    def reader(self, schema: StructType) -> AvroFallbackReader:
        bin_bytes = int(self.options.get("binbytes", _DEFAULT_BIN_BYTES))
        if bin_bytes < 1:
            raise ValueError(f"binBytes must be >= 1, got {bin_bytes}")
        return AvroFallbackReader(self._check_schema(schema), bin_bytes)

    def streamReader(self, schema: StructType) -> AvroFallbackStreamReader:
        lag = float(self.options.get("offsetcompactlag", 300.0))
        return AvroFallbackStreamReader(self._check_schema(schema), lag)

    def _write_prep(self, schema: StructType):
        """Shared driver-side write planning (batch + streaming): path
        guard, UTC guard, partitionBy split, codec validation, avro
        schema/plan for the data columns. Mirrors
        `write_avro_fallback`'s prep; the per-task protocol is shared
        code too."""
        from pyspark.sql import types as T

        from tutorial_apache_beam_spark.sources.avro_fallback import (
            _codec_pair,
            _field_plan,
            _require_local,
            spark_schema_to_avro,
        )

        path = self.options.get("path")
        if not path:
            raise ValueError(
                "avro_fallback requires a path — "
                ".format('avro_fallback').save('/dir')"
            )
        local = _require_local(path, "avro write")
        # No per-write UTC check here: this runs in a sessionless
        # planning worker; register_avro_fallback owns the timezone
        # guard at the driver-side choke point.
        pcols = [
            c.strip()
            for c in self.options.get("partitionby", "").split(",")
            if c.strip()
        ]
        missing = [c for c in pcols if c not in schema.fieldNames()]
        if missing:
            raise ValueError(
                f"partitionBy columns not in frame: {missing}"
            )
        data_fields = [f for f in schema.fields if f.name not in pcols]
        if pcols and not data_fields:
            raise ValueError(
                "partitionBy covers every column; nothing left to write"
            )
        codec = self.options.get("codec", "null")
        _codec_pair(codec)  # unknown codec fails at PLAN time, not mid-task
        data_schema = T.StructType(data_fields)
        declared = self.options.get("avroschema")
        if declared:
            # r12: a declared writer schema is the route to enum/fixed
            # on the wire (Spark has no such column types) — validated
            # field-by-field at plan time, written verbatim to the
            # container metadata. See writer_plan_for_avro_schema.
            from tutorial_apache_beam_spark.sources.avro_fallback import (
                writer_plan_for_avro_schema,
            )

            avro = json.loads(declared)
            plan = writer_plan_for_avro_schema(data_schema, avro)
        else:
            avro = spark_schema_to_avro(data_schema)
            plan = _field_plan(data_schema)
        return (
            local, pcols, [p[0] for p in plan], plan, avro, codec,
        )

    def writer(self, schema: StructType, overwrite: bool):
        """Batch write: options — `path`, `codec` (default null),
        `partitionBy` (comma-separated column names for Hive `col=value`
        layout), `avroSchema` (r12: declared writer record as a JSON
        string — the enum/fixed route; validated at plan time)."""
        import shutil

        local, pcols, names, plan, avro_schema, codec = self._write_prep(
            schema
        )
        if os.path.exists(local) and overwrite:
            shutil.rmtree(local)
        os.makedirs(local, exist_ok=True)
        return AvroFallbackWriter(
            local=local,
            pcols=pcols,
            names=names,
            plan=plan,
            avro_schema=avro_schema,
            codec=codec,
            salt=os.urandom(4).hex(),
        )

    def streamWriter(self, schema: StructType, overwrite: bool):
        """Streaming write (append mode): same options as the batch
        writer; exactly-once epochs via the two-phase bid-prefixed
        commit (see AvroFallbackStreamWriter)."""
        if overwrite:
            raise ValueError(
                "avro_fallback streaming sink supports append output "
                "mode only (a file tree has no per-epoch full-replace "
                "semantics)"
            )
        local, pcols, names, plan, avro_schema, codec = self._write_prep(
            schema
        )
        os.makedirs(local, exist_ok=True)
        return AvroFallbackStreamWriter(
            local=local,
            pcols=pcols,
            names=names,
            plan=plan,
            avro_schema=avro_schema,
            codec=codec,
        )


def register_avro_fallback(spark) -> None:
    """Idempotent: make format('avro_fallback') available on this
    session (batch + streaming reads and writes).

    Refuses non-UTC sessions: the helper surface checks
    `_require_utc_for_timestamps` per read/write, but the DataSource's
    reader()/writer() execute in Python planning WORKERS where no
    active session exists to ask (a getActiveSession() check there is
    silently None — r11 review), so the timezone guard must run HERE,
    the one driver-side choke point. Conservative by design: the check
    applies even to timestamp-free trees — a non-UTC session gets a
    loud registration error with the remediation instead of silently
    zone-shifted timestamps later.

    KNOWN HOLE, by API shape (ADVICE r11): this guard runs at
    REGISTRATION time only. Setting spark.sql.session.timeZone to a
    non-UTC zone AFTER registering silently reintroduces the
    zone-shifted timestamp decode the guard exists to prevent —
    reader()/writer() run in sessionless workers and cannot re-check.
    Callers that flip the session timezone mid-session must re-assert
    UTC (or call register_avro_fallback again, which re-checks) before
    the next format('avro_fallback') read/write; the engine's own gate
    does exactly that (queries/sinks.py)."""
    tz = spark.conf.get("spark.sql.session.timeZone")
    if tz.upper() not in ("UTC", "GMT", "Z", "ETC/UTC"):
        raise ValueError(
            "register_avro_fallback requires "
            f"spark.sql.session.timeZone=UTC (got {tz!r}): the fallback "
            "codec encodes/decodes timestamps as naive UTC, which a "
            "non-UTC session would silently zone-shift — and the "
            "DataSource API offers no per-query point to enforce this "
            "(planning runs in sessionless workers)"
        )
    spark.dataSource.register(AvroFallbackDataSource)
