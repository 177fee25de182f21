"""Property-based tests (hypothesis): the invariants behind the oracles.

Pure-Python properties run hundreds of random examples; Spark-backed
properties batch each example into ONE job (a job per tiny example would
swamp the suite in scheduler overhead).
"""

from __future__ import annotations

import hashlib

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


# ---------------------------------------------------------------------------
# Portable 60-bit hash: Python / DuckDB / Spark must agree bit-for-bit —
# every sketch oracle (MinHash, SimHash, fingerprints, splits) rests on it.
# ---------------------------------------------------------------------------

def _py_hash60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


@given(st.lists(st.text(min_size=0, max_size=40), min_size=1, max_size=50))
@settings(max_examples=50, deadline=None)
def test_portable_hash_python_duckdb_agree(texts):
    from tutorial_apache_beam_spark.functions.hashing import portable_hash64_sql

    con = duckdb.connect()
    got = con.execute(
        f"SELECT {portable_hash64_sql('s')} FROM (SELECT unnest(?) AS s)",
        [texts],
    ).fetchall()
    con.close()
    assert [r[0] for r in got] == [_py_hash60(t) for t in texts]


@pytest.mark.parametrize("n", [1])
def test_portable_hash_spark_matches_python(spark, n):
    # One Spark job over a deterministic-but-awkward corpus (unicode,
    # empties, whitespace) — hypothesis shrinkage isn't worth a job per
    # example here.
    texts = ["", " ", "a", "Ünïcødé ☃", "tab\tsep", "nl\nline", "ß" * 40]
    from pyspark.sql import functions as F

    from tutorial_apache_beam_spark.functions.hashing import portable_hash64

    df = spark.createDataFrame([(t,) for t in texts], "s STRING")
    got = [r[0] for r in df.select(portable_hash64(F.col("s"))).collect()]
    assert got == [_py_hash60(t) for t in texts]


# ---------------------------------------------------------------------------
# Connected components: union-find fast path ≡ BFS reference on random
# graphs (the distributed loop is asserted equal to the fast path in
# test_graph.py; this pins the fast path itself to first principles).
# ---------------------------------------------------------------------------

def _bfs_components(edges):
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    seen, out = set(), {}
    for start in adj:
        if start in seen:
            continue
        stack, comp = [start], []
        seen.add(start)
        while stack:
            v = stack.pop()
            comp.append(v)
            for w in adj[v]:
                if w not in seen:
                    seen.add(w)
                    stack.append(w)
        label = min(comp)
        for v in comp:
            out[v] = label
    return out


@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(
            lambda e: e[0] != e[1]
        ),
        min_size=0,
        max_size=60,
    )
)
@settings(max_examples=200, deadline=None)
def test_union_find_matches_bfs(edges):
    from tutorial_apache_beam_spark.operators.graph import _components_local

    rows = [{"id_a": a, "id_b": b} for a, b in edges]
    got = dict(_components_local(rows, "id_a", "id_b"))
    assert got == _bfs_components(edges)


# ---------------------------------------------------------------------------
# Stateful pane emitter: for any arrival pattern, per-(window,key) pane
# deltas must sum to the accumulated count and pane indexes must be
# 0..n_firings-1 — Beam's discarding-mode invariant.
# ---------------------------------------------------------------------------

class _State:
    exists = False
    hasTimedOut = False
    _v = None
    timeout_ts = None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self.exists, self._v = True, v

    def remove(self):
        self._v = None

    def setTimeoutTimestamp(self, ts):
        self.timeout_ts = ts

    def getCurrentWatermarkMs(self):
        return 0


@given(
    st.lists(  # firings: each a list of window indexes receiving rows
        st.lists(st.integers(0, 3), min_size=0, max_size=8),
        min_size=1,
        max_size=6,
    )
)
@settings(max_examples=100, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_pane_deltas_sum_to_totals(firings):
    import pandas as pd

    from tutorial_apache_beam_spark.streaming.stateful import (
        _duration_ms,
        _make_bucket_pane_emitter,
    )

    fn = _make_bucket_pane_emitter(
        _duration_ms("1 minute"), (("user_id", "int"),), "count", None,
        "int", "pane_count",
    )
    base = pd.Timestamp("2024-01-01 00:00:00")
    state = _State()
    emitted = []
    for windows in firings:
        if not windows:
            continue
        batch = pd.DataFrame(
            {
                "window_start": [base + pd.Timedelta(minutes=w) for w in windows],
                "user_id": [7] * len(windows),
            }
        )
        for out in fn((0,), iter([batch]), state):
            emitted.extend(out.to_dict("records"))

    per_window: dict = {}
    for r in emitted:
        per_window.setdefault(r["window_start"], []).append(r)
    expect_totals: dict = {}
    for windows in firings:
        for w in windows:
            ts = base + pd.Timedelta(minutes=w)
            expect_totals[ts] = expect_totals.get(ts, 0) + 1
    for ts, rows in per_window.items():
        assert sum(r["pane_count"] for r in rows) == expect_totals[ts]
        assert sorted(r["pane_index"] for r in rows) == list(range(len(rows)))
    assert set(per_window) == set(expect_totals)


# ---------------------------------------------------------------------------
# Interval parser used by the stateful operator.
# ---------------------------------------------------------------------------

@given(
    st.integers(1, 10_000),
    st.sampled_from(["millisecond", "second", "minute", "hour", "day"]),
    st.booleans(),
)
@settings(max_examples=100, deadline=None)
def test_duration_parser(qty, unit, plural):
    from tutorial_apache_beam_spark.streaming.stateful import _duration_ms

    text = f"{qty} {unit}{'s' if plural else ''}"
    factor = {
        "millisecond": 1,
        "second": 1000,
        "minute": 60_000,
        "hour": 3_600_000,
        "day": 86_400_000,
    }[unit]
    assert _duration_ms(text) == qty * factor
