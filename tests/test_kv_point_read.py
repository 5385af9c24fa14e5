"""The kv point read (``kv_store.probe_key_state``): an Arrow read on the
driver of only the partitions the manifest names, which must return
exactly ``key_state`` restricted to the probed keys — under crash
leftovers, compaction, typed columns, Spark's float-key equality, and a
compaction committing in the middle of the read."""

from __future__ import annotations

import functools
import math
import os
import struct
import unittest.mock as mock

import pytest
from hypothesis import HealthCheck, example, given, settings, strategies as st

import postgresql_cdc_spark.streaming.epoch_maintenance as em
import postgresql_cdc_spark.streaming.kv_store as kvs
from postgresql_cdc_spark.streaming.epoch_io import epoch_overwrite
from postgresql_cdc_spark.streaming.epoch_maintenance import (
    _commit_manifest,
    base_upto,
    compact_epochs,
)
from postgresql_cdc_spark.streaming.kv_store import (
    collapse_batch,
    ingest_kv_batch,
    key_state,
    kv_fold,
    probe_key_list,
    probe_key_state,
)

DDL = "id long, v string, op string, lsn long"


def _norm(k):
    """Spark's normalised key equality: NaN equals NaN, -0.0 equals 0.0."""
    if isinstance(k, float):
        return "NaN" if math.isnan(k) else k + 0.0
    return k


def _rows(df):
    return sorted(
        (tuple(_norm(v) for v in r) for r in df.collect()), key=repr
    )


def _want(spark, store, ddl, key, keys, before=None):
    wanted = {_norm(k) for k in keys if k is not None}
    return sorted(
        (
            tuple(_norm(v) for v in r)
            for r in key_state(spark, store, ddl, key, before).collect()
            if _norm(r[key]) in wanted
        ),
        key=repr,
    )


def _keys_df(spark, keys, ktype="long"):
    return spark.createDataFrame([(k,) for k in keys], f"k {ktype}")


def _compact(spark, store, upto, ddl=DDL):
    schema = spark.createDataFrame([], ddl).schema
    return compact_epochs(
        spark, store, upto,
        fold=functools.partial(kv_fold, store, "id", schema),
    )


class _Boom(RuntimeError):
    pass


def _crash_compact(spark, store, upto, where):
    """A compaction killed after its fold write ("fold": an orphan base
    -upto) or after its manifest commit ("commit": stale partials and the
    old base left unswept)."""
    real_commit = em._commit_manifest

    def commit(path, u):
        if where == "commit":
            real_commit(path, u)
        raise _Boom(where)

    with mock.patch.object(em, "_commit_manifest", side_effect=commit):
        with pytest.raises(_Boom):
            _compact(spark, store, upto)


# --- equivalence with key_state ----------------------------------------------

# one change: (key or NULL, op, LSN step 0/1 — step 0 repeats an LSN)
_CHANGE = st.tuples(
    st.one_of(st.none(), st.integers(0, 5)),
    st.sampled_from("IUD"),
    st.integers(0, 1),
)
_STEPS = st.lists(
    st.one_of(
        st.tuples(st.just("batch"), st.lists(_CHANGE, min_size=1, max_size=5)),
        st.tuples(st.just("compact"), st.just("")),
        st.tuples(st.just("crash"), st.sampled_from(["fold", "commit"])),
    ),
    min_size=1,
    max_size=6,
)
_KEYS = st.lists(st.one_of(st.none(), st.integers(0, 7)), max_size=6)

_MIXED = [
    ("batch", [(1, "I", 1), (2, "I", 1), (1, "U", 0), (None, "I", 1)]),
    ("compact", ""),
    ("batch", [(1, "D", 1), (3, "I", 1), (2, "U", 1)]),
    ("crash", "commit"),
    # key 2 at the LSN of its U in the base: the op tie-break decides
    ("batch", [(2, "I", 0), (1, "I", 1), (3, "D", 0), (3, "I", 0)]),
    ("crash", "fold"),
    ("batch", [(3, "D", 1)]),  # a live tombstone past the orphan base
]


def _build(spark, store, steps) -> int:
    """Write ``steps`` through ``ingest_kv_batch`` (collapsed batches,
    tombstones kept) and latest-wins folds; returns the next epoch."""
    lsn, epoch = 0, 0
    for kind, arg in steps:
        if kind == "batch":
            rows = []
            for k, op, step in arg:
                lsn += step
                # equal (key, lsn, op) means the same change: same payload
                rows.append((k, f"{k}:{lsn}:{op}", op, lsn))
            batch = spark.createDataFrame(rows, DDL)
            ingest_kv_batch(spark, store, "id", epoch, batch)
            epoch += 1
        elif os.path.isdir(store) and epoch > base_upto(store):
            if kind == "compact":
                _compact(spark, store, epoch)
            else:
                _crash_compact(spark, store, epoch, arg)
    return epoch


@settings(
    max_examples=8,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(steps=_STEPS, keys=_KEYS)
@example(steps=_MIXED, keys=[1, 2, 3, 7, None])
@example(steps=[("crash", "fold")], keys=[1])  # never written: no store
def test_probe_equals_key_state_restricted(spark, tmp_path_factory, steps, keys):
    store = str(tmp_path_factory.mktemp("kvprobe") / "kv")
    head = _build(spark, store, steps)
    upto = base_upto(store)
    kdf = _keys_df(spark, keys)
    for before in sorted({upto, head}) + [None]:
        got = _rows(probe_key_state(spark, store, DDL, "id", kdf, before))
        assert got == _want(spark, store, DDL, "id", keys, before), before
    if upto > 0:
        with pytest.raises(ValueError, match="base horizon"):
            probe_key_state(spark, store, DDL, "id", kdf, upto - 1)
        with pytest.raises(ValueError, match="base horizon"):
            key_state(spark, store, DDL, "id", upto - 1)


def test_manifest_only_store_reads_empty(spark, tmp_path):
    store = str(tmp_path / "kv")
    _commit_manifest(store, 3)
    assert probe_key_list(spark, store, DDL, "id", [1, 2]).collect() == []
    assert probe_key_list(spark, store, DDL, "id", [1], before=3).collect() == []
    with pytest.raises(ValueError, match="base horizon"):
        probe_key_list(spark, store, DDL, "id", [1], before=2)


def test_probe_is_a_local_relation(spark, tmp_path):
    store = str(tmp_path / "kv")
    _build(spark, store, [("batch", [(1, "I", 1), (2, "I", 1)])])
    df = probe_key_list(spark, store, DDL, "id", [1, 2, 2])
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.startswith("LocalRelation"), plan
    assert sorted(r.id for r in df.collect()) == [1, 2]
    # nothing precedes epoch 0: at horizon 0 there is no base to alias it
    assert probe_key_list(spark, store, DDL, "id", [1], before=0).collect() == []


TYPED_DDL = (
    "id string, ts timestamp, d date, m decimal(12,2), b boolean, "
    "a array<string>, x double, op string, lsn long"
)


def test_typed_columns_match_key_state(spark, tmp_path):
    """A string key with the column types Spark writes unlike Arrow's
    defaults: INT96 timestamps, dates, decimals, booleans, arrays."""
    import datetime as dt
    from decimal import Decimal

    store = str(tmp_path / "kv")

    def row(k, i, op, lsn):
        return (
            k, dt.datetime(2024, 1, 2, 3, 4, 5, i), dt.date(2024, 1, 1 + i),
            Decimal(f"{i}.25"), i % 2 == 0, [f"s{i}", None], i / 3, op, lsn,
        )

    batches = [
        [row("a", 1, "I", 1), row("b", 2, "I", 2), row("c", 3, "I", 3),
         ("n", None, None, None, None, None, None, "I", 4)],
        [row("a", 4, "U", 5), row("b", 5, "D", 6)],
        [row("c", 6, "U", 7), row("b", 7, "I", 8)],
    ]
    for ep, rows in enumerate(batches):
        epoch_overwrite(
            collapse_batch(spark.createDataFrame(rows, TYPED_DDL), "id"),
            store, ep,
        )
        if ep == 1:
            _compact(spark, store, 2, TYPED_DDL)
    keys = ["a", "b", "c", "n", "zz", None]
    got = _rows(probe_key_state(
        spark, store, TYPED_DDL, "id", _keys_df(spark, keys, "string")
    ))
    assert got == _want(spark, store, TYPED_DDL, "id", keys)
    assert [r[0] for r in got] == ["a", "b", "c", "n"]


def test_double_key_uses_spark_equality(spark, tmp_path):
    """NaN equals NaN (whatever its payload) and -0.0 equals 0.0 in Spark's
    grouping and IN; pyarrow's ``is_in`` and hash grouping tell them
    apart."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ddl = "x double, v string, op string, lsn long"
    store = str(tmp_path / "kv")
    nan_payload = struct.unpack("<d", struct.pack("<Q", 0x7FF8000000000001))[0]
    epoch_overwrite(
        spark.createDataFrame(
            [(float("nan"), "nan-1", "I", 1), (0.0, "zero-2", "I", 2),
             (1.5, "one-3", "I", 3)],
            ddl,
        ),
        store, 0,
    )
    # a second writer's partition: a NaN with another payload, a -0.0
    part = os.path.join(store, "ingest_epoch=1")
    os.makedirs(part)
    pq.write_table(
        pa.table({
            "x": pa.array([nan_payload, -0.0], pa.float64()),
            "v": ["nan-4", "negzero-5"], "op": ["U", "U"],
            "lsn": pa.array([4, 5], pa.int64()),
        }),
        os.path.join(part, "part-00000.parquet"),
    )
    want_all = _rows(key_state(spark, store, ddl, "x"))
    assert sorted(r[1] for r in want_all) == ["nan-4", "negzero-5", "one-3"]
    for keys in ([float("nan")], [0.0], [-0.0], [nan_payload, 0.0, 1.5],
                 [float(i) for i in range(100)] + [float("nan"), -0.0]):
        got = _rows(probe_key_list(spark, store, ddl, "x", keys))
        assert got == _want(spark, store, ddl, "x", keys), keys[:3]


def test_key_filter_is_exact_past_the_range_cap():
    """More keys than point ranges: the gap-merged runs over-select and
    ``is_in`` restores exactness, zeros and NaN included."""
    import pyarrow as pa

    from postgresql_cdc_spark.streaming.kv_store import _arrow_key_filter

    ids = pa.table({"id": pa.array(range(1000), pa.int64())})
    keys = list(range(0, 1000, 7))
    got = ids.filter(_arrow_key_filter("id", pa.int64(), keys))
    assert got["id"].to_pylist() == keys
    xs = pa.table({"x": pa.array(
        [float(i) for i in range(200)] + [-0.0, float("nan")], pa.float64()
    )})
    keys = [float(i) for i in range(0, 200, 2)] + [float("nan")]
    got = xs.filter(_arrow_key_filter("x", pa.float64(), keys))
    assert len(got) == 100 + 2  # the even keys, -0.0 and NaN


# --- reads during compaction -----------------------------------------------

def _torn_store(spark, store):
    """A compacted store (horizon 2) with three live partials: folding at
    4 sweeps the base and two of them."""
    _build(spark, store, [
        ("batch", [(1, "I", 1), (2, "I", 1)]),
        ("batch", [(3, "I", 1), (1, "U", 1)]),
        ("compact", ""),
        ("batch", [(2, "D", 1), (4, "I", 1)]),
        ("batch", [(5, "I", 1)]),
        ("batch", [(3, "U", 1), (6, "I", 1)]),  # stays live past upto=4
    ])
    assert base_upto(store) == 2
    return [1, 2, 3, 4, 5, 6]


def _listing(on_call):
    """``live_files`` replaced by ``on_call(n, list_files)`` on the n-th
    listing, ``list_files`` running the real one; returns the patch and
    the horizon of each call."""
    real = em.live_files
    calls = []

    def listing(path, upto, before=None):
        calls.append(upto)
        return on_call(len(calls), lambda: real(path, upto, before))

    return mock.patch.object(kvs, "live_files", side_effect=listing), calls


def test_loud_tear_retries(spark, tmp_path):
    """Compaction sweeps the old base between the listing and the read:
    the read fails with FileNotFoundError and is retried."""
    store = str(tmp_path / "kv")
    keys = _torn_store(spark, store)
    want = _want(spark, store, DDL, "id", keys)
    swept = []

    def on_call(n, list_files):
        files = list_files()
        if n == 1:
            _compact(spark, store, 4)
            swept.extend(f for f in files if not os.path.exists(f))
        return files

    patch, calls = _listing(on_call)
    with patch:
        got = _rows(probe_key_list(spark, store, DDL, "id", keys))
    assert swept and calls == [2, 4]
    assert got == want


def test_silent_tear_retries(spark, tmp_path):
    """Compaction commits and sweeps after the horizon was resolved but
    before the listing: the stale horizon lists neither base, so the read
    succeeds without the fold, and the manifest check retries it."""
    store = str(tmp_path / "kv")
    keys = _torn_store(spark, store)
    want = _want(spark, store, DDL, "id", keys)
    torn = []

    def on_call(n, list_files):
        if n == 1:
            _compact(spark, store, 4)
            torn.extend(list_files())
        return list_files()

    patch, calls = _listing(on_call)
    with patch:
        got = _rows(probe_key_list(spark, store, DDL, "id", keys))
    assert calls == [2, 4]
    assert torn and not any("ingest_epoch=-" in f for f in torn)
    assert got == want


def test_gives_up_when_every_read_is_torn(spark, tmp_path):
    store = str(tmp_path / "kv")
    _torn_store(spark, store)

    def on_call(n, list_files):
        _commit_manifest(store, base_upto(store) + 1)  # outruns every read
        return list_files()

    patch, calls = _listing(on_call)
    with patch, pytest.raises(RuntimeError, match="every read attempt"):
        probe_key_list(spark, store, DDL, "id", [1])
    assert len(calls) == 4
