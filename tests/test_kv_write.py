"""The kv sink's write (``kv_store.ingest_kv_batch`` through
``epoch_io.epoch_replace``): one ``toArrow()`` of the batch, the
latest-wins collapse in Arrow, and one parquet file renamed over
``ingest_epoch=E``. A replay replaces only its own partition, crash
leftovers stay invisible until they are deleted, and the rows pyarrow
writes read back equal to Spark-written ones through every reader."""

from __future__ import annotations

import datetime as dt
import functools
import math
import os
import unittest.mock as mock
from decimal import Decimal

import pyarrow as pa
import pytest

import postgresql_cdc_spark.streaming.epoch_io as eio
from postgresql_cdc_spark.streaming.epoch_io import EPOCH_COL, hidden_leftovers
from postgresql_cdc_spark.streaming.epoch_maintenance import (
    base_upto,
    compact_epochs,
    sweep_shared_partials,
)
import postgresql_cdc_spark.streaming.join_ivm as ji
import postgresql_cdc_spark.streaming.kv_store as kvs
from postgresql_cdc_spark.streaming.kv_store import (
    _resolve,
    ingest_and_delta,
    ingest_kv_batch,
    key_state,
    kv_fold,
    probe_key_list,
)

DDL = "id long, v string, op string, lsn long"


def _norm(v):
    """Floats by repr, so NaN equals NaN and -0.0 differs from 0.0."""
    if isinstance(v, float):
        return ("f", repr(v))
    if isinstance(v, list):
        return tuple(v)
    return v


def _rows(rows):
    return sorted((tuple(_norm(v) for v in r) for r in rows), key=repr)


def _model(spark, batches, ddl):
    """Latest-wins over every batch's rows as Spark returns them, so the
    model carries Spark's own types and time zone."""
    state: dict = {}
    for rows in batches:
        for r in spark.createDataFrame(rows, ddl).collect():
            cur = state.get(r["id"])
            if cur is None or (r["lsn"], r["op"]) > (cur["lsn"], cur["op"]):
                state[r["id"]] = r
    return _rows(r for r in state.values() if r["op"] != "D")


def _ingest(spark, store, epoch, rows, ddl=DDL):
    return ingest_kv_batch(
        spark, store, "id", epoch, spark.createDataFrame(rows, ddl)
    )


def _fold(spark, store, upto, ddl=DDL):
    """The kv store's fold, as ``ingest_kv_batch`` runs it past the cap."""
    schema = spark.createDataFrame([], ddl).schema
    return compact_epochs(
        spark, store, upto,
        fold=functools.partial(kv_fold, store, "id", schema),
    )


def _state(spark, store, ddl=DDL, keys=range(10)):
    """``key_state`` and the Arrow probe of the same store, which must
    agree."""
    got = _rows(key_state(spark, store, ddl, "id").collect())
    probe = _rows(probe_key_list(spark, store, ddl, "id", list(keys)).collect())
    assert probe == got
    return got


def _files(store, epoch):
    d = os.path.join(store, f"{EPOCH_COL}={epoch}")
    return sorted(os.listdir(d))


B0 = [(1, "a", "I", 1), (2, "b", "I", 2), (1, "a2", "U", 3)]
B1 = [(3, "c", "I", 4), (2, "b", "D", 5)]
B1_REPLAY = [(3, "c'", "I", 4), (4, "d", "I", 5)]
B2 = [(5, "e", "I", 6)]


def test_replay_replaces_only_its_own_partition(spark, tmp_path):
    store = str(tmp_path / "kv")
    for ep, rows in enumerate([B0, B1, B2]):
        _ingest(spark, store, ep, rows)
    untouched = {ep: _files(store, ep) for ep in (0, 2)}
    mtimes = {
        ep: os.path.getmtime(os.path.join(store, f"{EPOCH_COL}={ep}", f))
        for ep, fs in untouched.items() for f in fs
    }
    written = _ingest(spark, store, 1, B1_REPLAY)
    assert written["id"].to_pylist() == [3, 4]  # collapsed, sorted by key
    assert {ep: _files(store, ep) for ep in (0, 2)} == untouched
    assert mtimes == {
        ep: os.path.getmtime(os.path.join(store, f"{EPOCH_COL}={ep}", f))
        for ep, fs in untouched.items() for f in fs
    }
    assert _state(spark, store) == _model(spark, [B0, B1_REPLAY, B2], DDL)
    assert hidden_leftovers(store) == []


def test_empty_batch_writes_nothing(spark, tmp_path):
    store = str(tmp_path / "kv")
    _ingest(spark, store, 0, [])
    assert not os.path.exists(store)
    _ingest(spark, store, 0, B0)
    _ingest(spark, store, 1, [])
    assert sorted(os.listdir(store)) == [f"{EPOCH_COL}=0"]


class _Crash(RuntimeError):
    pass


def _crash_replay(spark, store, epoch, rows, where):
    """Replay ``epoch`` with ``rows`` and kill the write at ``where``:
    "tmp" before the first rename (the new file sits in its hidden temp
    directory), "aside" between the two renames (the old partition is
    renamed aside, the new one not yet in)."""
    real = os.rename
    calls = []

    def rename(src, dst):
        calls.append(src)
        if len(calls) == {"tmp": 1, "aside": 2}[where]:
            raise _Crash(where)
        real(src, dst)

    with mock.patch.object(eio.os, "rename", side_effect=rename):
        with pytest.raises(_Crash):
            _ingest(spark, store, epoch, rows)


@pytest.mark.parametrize("where", ["tmp", "aside"])
def test_crash_leftovers_are_invisible_then_deleted(spark, tmp_path, where):
    store = str(tmp_path / "kv")
    for ep, rows in enumerate([B0, B1, B2]):
        _ingest(spark, store, ep, rows)
    _crash_replay(spark, store, 2, [(6, "f", "I", 7)], where)
    left = hidden_leftovers(store)
    assert [e for e, _ in left] == [2] * {"tmp": 1, "aside": 2}[where]
    # "aside": epoch 2 is gone until its replay lands; "tmp": intact
    before = [B0, B1, B2] if where == "tmp" else [B0, B1]
    assert _state(spark, store) == _model(spark, before, DDL)
    # the fold's partition listing skips the hidden directories
    _fold(spark, store, 2)
    assert base_upto(store) == 2
    assert _state(spark, store) == _model(spark, before, DDL)
    assert hidden_leftovers(store) == left  # above the horizon: kept
    _ingest(spark, store, 2, B2)  # the replay
    assert hidden_leftovers(store) == []
    assert _state(spark, store) == _model(spark, [B0, B1, B2], DDL)


def test_sweep_deletes_leftovers_below_the_horizon(spark, tmp_path):
    store = str(tmp_path / "kv")
    for ep, rows in enumerate([B0, B1, B2]):
        _ingest(spark, store, ep, rows)
    _crash_replay(spark, store, 1, B1, "aside")
    _ingest(spark, store, 1, B1)
    _crash_replay(spark, store, 2, B2, "tmp")
    _crash_replay(spark, store, 1, B1, "tmp")
    _fold(spark, store, 2)
    assert [e for e, _ in hidden_leftovers(store)] == [2]
    assert _state(spark, store) == _model(spark, [B0, B1, B2], DDL)


def test_shared_partial_sweep_deletes_leftovers_below(tmp_path):
    """The join view's shared fact-delta store is written through
    ``epoch_replace`` too: its retention pass deletes the hidden crash
    leftovers below its horizon with the partials, and keeps those
    above."""
    store = str(tmp_path / "fact_delta")
    rows = pa.table({"fid": pa.array([1], pa.int64())})
    for ep in range(3):
        eio.epoch_replace([rows], store, ep)
    for ep in (1, 2):  # each replay dies before its rename
        with mock.patch.object(eio.os, "rename", side_effect=_Crash(ep)):
            with pytest.raises(_Crash):
                eio.epoch_replace([rows], store, ep)
    assert sorted(e for e, _ in hidden_leftovers(store)) == [1, 2]
    assert sweep_shared_partials(store, 2) == 2
    assert [e for e, _ in hidden_leftovers(store)] == [2]
    assert [n for n in os.listdir(store) if not n.startswith(".")] == [
        f"{EPOCH_COL}=2"
    ]


TYPED_DDL = (
    "id long, i int, x double, s string, b boolean, d date, ts timestamp, "
    "m decimal(12,2), a array<string>, op string, lsn long"
)


def _typed(k, n, op, lsn, x=None):
    return (
        k, n, (n / 3 if x is None else x), f"s{n}", n % 2 == 0,
        dt.date(2024, 1, 1 + n), dt.datetime(2024, 1, 2, 3, 4, 5, n),
        Decimal(f"{n}.25"), [f"a{n}", None], op, lsn,
    )


def test_pyarrow_partials_read_like_a_spark_base(spark, tmp_path):
    """A Spark-written base (INT96 timestamps, the fold kv stores ran
    before the Arrow one) next to pyarrow-written partials (int64
    timestamps, fixed-size decimals): ``key_state``, the probe and the kv
    fold on top of that base, then on top of its own, all return the
    model's values."""
    store = str(tmp_path / "kv")
    nulls = (9, None, None, None, None, None, None, None, None, "I", 3)
    batches = [
        [_typed(1, 1, "I", 1), _typed(2, 2, "I", 2, x=float("nan")), nulls],
        [_typed(3, 3, "I", 4, x=-0.0), _typed(1, 4, "U", 5)],
        [_typed(2, 5, "U", 6, x=float("nan")), _typed(4, 6, "I", 7, x=0.0),
         _typed(3, 7, "D", 8)],
        [_typed(5, 8, "I", 9, x=-0.0), _typed(4, 9, "U", 10, x=-0.0)],
    ]
    keys = [1, 2, 3, 4, 5, 9, 11]
    for ep, rows in enumerate(batches[:2]):
        _ingest(spark, store, ep, rows, TYPED_DDL)
    compact_epochs(
        spark, store, 2, merge=lambda df: _resolve(df, "id"),
        cluster_by=["id"],
    )
    for ep, rows in enumerate(batches[2:], start=2):
        _ingest(spark, store, ep, rows, TYPED_DDL)
    want = _model(spark, batches, TYPED_DDL)
    assert _state(spark, store, TYPED_DDL, keys) == want
    _fold(spark, store, 4, TYPED_DDL)
    assert _state(spark, store, TYPED_DDL, keys) == want
    last = [_typed(6, 10, "I", 11), _typed(1, 11, "D", 12)]
    _ingest(spark, store, 4, last, TYPED_DDL)
    _fold(spark, store, 5, TYPED_DDL)
    want = _model(spark, batches + [last], TYPED_DDL)
    assert _state(spark, store, TYPED_DDL, keys + [6]) == want
    # the model really holds the special values this test is about
    xs = {r[0]: r[2] for r in want}
    assert xs[2] == ("f", "nan") and xs[4] == ("f", "-0.0")
    assert math.isnan(float(xs[2][1]))


def _spark_jobs(spark, tmp_path, run) -> int:
    """The number of Spark jobs ``run()`` starts."""
    sc = spark.sparkContext
    group = f"kv-write-{os.getpid()}-{id(tmp_path)}"
    sc.setJobGroup(group, "ingest_kv_batch job-count pin")
    try:
        run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_one_spark_job_below_the_cap(spark, tmp_path):
    """Below the compaction cap a write runs exactly one Spark job: the
    batch's ``toArrow()``."""
    store = str(tmp_path / "kv")
    _ingest(spark, store, 0, B0)
    batch = spark.createDataFrame(B1, DDL)
    assert _spark_jobs(
        spark, tmp_path, lambda: ingest_kv_batch(spark, store, "id", 1, batch)
    ) == 1
    assert _state(spark, store) == _model(spark, [B0, B1], DDL)


def test_one_spark_job_at_the_cap(spark, tmp_path):
    """A write that compacts first still runs exactly one Spark job, the
    batch's ``toArrow()``: the kv fold runs on the driver."""
    store = str(tmp_path / "kv")
    for ep, rows in enumerate([B0, B1]):
        _ingest(spark, store, ep, rows)
    batch = spark.createDataFrame(B2, DDL)
    assert _spark_jobs(spark, tmp_path, lambda: ingest_kv_batch(
        spark, store, "id", 2, batch, max_live_partials=1,
    )) == 1
    assert base_upto(store) == 2
    assert _state(spark, store) == _model(spark, [B0, B1, B2], DDL)


def test_ingest_and_delta_runs_one_spark_job(spark, tmp_path):
    """The batch diff runs on the driver and returns a local relation:
    ``ingest_and_delta(...).collect()`` runs exactly one Spark job, the
    batch's ``toArrow()``."""
    store = str(tmp_path / "kv")
    for ep, rows in enumerate([B0, B1]):
        _ingest(spark, store, ep, rows)
    batch = spark.createDataFrame(
        [(1, "a3", "U", 6), (3, None, "D", 7), (5, "e", "I", 8)], DDL
    )
    out = []
    assert _spark_jobs(spark, tmp_path, lambda: out.extend(ingest_and_delta(
        spark, store, DDL, "id", ["v"], 2, batch,
    ).collect())) == 1
    assert sorted(tuple(r) for r in out) == [
        (-1, 1, "a2"), (-1, 3, "c"), (1, 1, "a3"), (1, 5, "e"),
    ]


def test_join_ivm_reexports_the_kv_store():
    """``perfbench/live_tail.py`` imports the kv sink from ``join_ivm``:
    those names must be the ``kv_store`` functions themselves."""
    for name in ("ingest_kv_batch", "key_state", "probe_key_state"):
        assert getattr(ji, name) is getattr(kvs, name), name
