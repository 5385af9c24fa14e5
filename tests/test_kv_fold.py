"""The kv store's compaction fold (``kv_store.kv_fold`` under
``compact_epochs``): a key-ordered merge of the base with the collapsed
partials, on the driver, into one base file sorted by key. It must equal
``key_state``'s Spark resolve over the same rows, refuse a base whose keys
do not rise, read a base Spark wrote before it, and keep the commit
protocol's crash and fsync guarantees."""

from __future__ import annotations

import datetime as dt
import errno
import functools
import os
import unittest.mock as mock

import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

import postgresql_cdc_spark.streaming.epoch_maintenance as em
import postgresql_cdc_spark.streaming.kv_store as kvs
from postgresql_cdc_spark.streaming.epoch_io import EPOCH_COL, hidden_leftovers
from postgresql_cdc_spark.streaming.epoch_maintenance import (
    base_upto,
    compact_epochs,
)
from postgresql_cdc_spark.streaming.kv_store import (
    _resolve,
    ingest_kv_batch,
    key_state,
    kv_fold,
)

DDL = "id long, v string, op string, lsn long"


def _schema(spark, ddl):
    return spark.createDataFrame([], ddl).schema


def _fold(spark, store, upto, ddl=DDL, key="id"):
    return compact_epochs(
        spark, store, upto,
        fold=functools.partial(kv_fold, store, key, _schema(spark, ddl)),
    )


def _legacy_spark_fold(spark, store, upto, key="id"):
    """The fold kv stores ran before this one: Spark's latest-wins window,
    range-partitioned and sorted by key (INT96 timestamps)."""
    return compact_epochs(
        spark, store, upto, merge=lambda df: _resolve(df, key),
        cluster_by=[key],
    )


def _ingest(spark, store, epoch, rows, ddl=DDL, key="id"):
    return ingest_kv_batch(
        spark, store, key, epoch, spark.createDataFrame(rows, ddl),
        max_live_partials=1000,
    )


def _norm(v):
    """Floats by repr, so NaN equals NaN and -0.0 differs from 0.0."""
    return ("f", repr(v)) if isinstance(v, float) else v


def _rows(rows):
    return sorted((tuple(_norm(v) for v in r) for r in rows), key=repr)


def _base_dir(store, upto):
    return os.path.join(store, f"{EPOCH_COL}=-{upto}")


def _base_rows(spark, store, upto, ddl=DDL):
    """The base partition's rows exactly as stored, read by Spark."""
    return _rows(spark.read.schema(ddl).parquet(_base_dir(store, upto)).collect())


def _parts(store):
    return sorted(n for n in os.listdir(store) if n.startswith(EPOCH_COL))


# --- equivalence with the Spark resolve -----------------------------------

_KEYS = {
    "long": [None, -1, 0, 1, 2, 3, 4, 5],
    "string": [None, "", "a", "ab", "b", "z", "é"],
    "double": [None, float("nan"), -0.0, 0.0, -2.0, 1.5, 3.25],
}
# one change: (key slot, op, has a value, has a timestamp)
_CHANGE = st.tuples(
    st.integers(0, 7), st.sampled_from("IUD"), st.booleans(), st.booleans()
)
_BATCH = st.lists(_CHANGE, min_size=1, max_size=6)
# three folded segments (folds 1 -> 2 -> 3, each on the previous base),
# then live partials the last read resolves on top of the third base
_SEGMENTS = st.tuples(
    *[st.lists(_BATCH, min_size=1, max_size=3)] * 3,
    st.lists(_BATCH, max_size=2),
)


@pytest.mark.parametrize("ktype", sorted(_KEYS))
@settings(
    max_examples=6,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(segments=_SEGMENTS)
def test_fold_matches_spark_resolve(spark, tmp_path_factory, ktype, segments):
    """After every fold the base holds exactly ``key_state``'s Spark
    resolve of the rows it folded — one row per key, tombstones gone,
    NaN and -0.0 keys grouped as Spark groups them — sorted by key, and
    ``key_state`` reads the same state before and after."""
    ddl = f"k {ktype}, v string, ts timestamp, op string, lsn long"
    pool = _KEYS[ktype]
    store = str(tmp_path_factory.mktemp("kvfold") / "kv")
    epoch, lsn = 0, 0
    for n, segment in enumerate(segments):
        for changes in segment:
            rows = []
            for slot, op, has_v, has_ts in changes:
                lsn += 1
                k = pool[slot % len(pool)]
                rows.append((
                    k, f"{k}@{lsn}" if has_v else None,
                    dt.datetime(2024, 1, 1) + dt.timedelta(milliseconds=lsn)
                    if has_ts else None,
                    op, lsn,
                ))
            _ingest(spark, store, epoch, rows, ddl, "k")
            epoch += 1
        want = _rows(key_state(spark, store, ddl, "k").collect())
        if n == len(segments) - 1:
            break  # the last segment stays live on top of the third base
        _fold(spark, store, epoch, ddl, "k")
        assert base_upto(store) == epoch
        if want:
            assert _base_rows(spark, store, epoch, ddl) == want
            keys = pq.read_table(_base_dir(store, epoch))["k"].to_pylist()
            ordered = [k for k in keys if k is not None and k == k]
            assert ordered == sorted(ordered)
            assert keys[: len(ordered)] == ordered  # NaN and NULL last
        else:
            assert f"{EPOCH_COL}=-{epoch}" not in _parts(store)
        assert _rows(key_state(spark, store, ddl, "k").collect()) == want
    assert _rows(key_state(spark, store, ddl, "k").collect()) == want


# --- the base's key order ---------------------------------------------------

def test_unsorted_base_raises_before_the_rename(spark, tmp_path):
    """A hand-written base whose keys fall back between two row groups
    breaks the merge's premise (a key past a batch's last key is in no
    earlier batch), so merging it could write duplicate keys: the fold
    refuses it before renaming anything in, and the store keeps its old
    generation."""
    import pyarrow as pa

    store = str(tmp_path / "kv")
    _ingest(spark, store, 0, [(1, "a", "I", 1)])
    _fold(spark, store, 1)
    schema = pq.read_schema(os.path.join(_base_dir(store, 1), os.listdir(
        _base_dir(store, 1))[0]))
    with pq.ParquetWriter(
        os.path.join(_base_dir(store, 1), "part-00000.parquet"), schema
    ) as w:
        for ids in ([5, 6], [3, 7]):  # second row group starts below 6
            w.write_table(pa.table({
                "id": ids, "v": [f"b{i}" for i in ids], "op": ["I"] * 2,
                "lsn": [1] * 2,
            }, schema=schema))
    _ingest(spark, store, 1, [(4, "d", "I", 2)])
    before = sorted(os.listdir(store))
    with pytest.raises(ValueError, match="ascending"):
        _fold(spark, store, 2)
    assert base_upto(store) == 1
    assert sorted(os.listdir(store)) == before
    assert hidden_leftovers(store) == []


def test_legacy_multi_file_spark_base_folds_in_part_order(
    spark, tmp_path, monkeypatch
):
    """A base Spark's ``repartitionByRange`` fold wrote — several files,
    each a key range, INT96 timestamps — folds in part-number order into
    one sorted file that equals the Spark resolve."""
    ddl = "id long, v string, ts timestamp, op string, lsn long"
    store = str(tmp_path / "kv")
    t0 = dt.datetime(2024, 5, 6, 7, 8, 9, 123456)
    for ep in range(3):
        _ingest(spark, store, ep, [
            (i, f"v{i}@{ep}", t0 + dt.timedelta(seconds=i), "I", ep * 1000 + i)
            for i in range(ep * 300, ep * 300 + 500)
        ], ddl)
    monkeypatch.setattr(em, "TARGET_FILE_BYTES", 2048)
    _legacy_spark_fold(spark, store, 3)
    files = sorted(os.listdir(_base_dir(store, 3)))
    parts = [f for f in files if f.startswith("part-")]
    assert len(parts) > 2, files
    # the legacy files hold INT96 timestamps, as Spark writes them
    assert "int96" in str(pq.ParquetFile(
        os.path.join(_base_dir(store, 3), parts[0])).schema).lower()
    _ingest(spark, store, 3, [
        (5, "new5", t0, "U", 5000), (650, None, None, "D", 5001),
        (2000, "new2000", t0, "I", 5002), (-1, "neg", t0, "I", 5003),
    ], ddl)
    want = _rows(key_state(spark, store, ddl, "id").collect())
    _fold(spark, store, 4, ddl)
    assert _base_rows(spark, store, 4, ddl) == want
    assert len(os.listdir(_base_dir(store, 4))) == 1
    keys = pq.read_table(_base_dir(store, 4))["id"].to_pylist()
    assert keys == sorted(keys) and len(keys) == len(set(keys))


def test_base_is_one_sorted_file_of_bounded_row_groups(spark, tmp_path):
    """The fold streams the base: by the time it writes its n-th row group
    it has read at most n base batches, and every row group holds at most
    ``_FOLD_ROWS`` rows of a key range above the previous one."""
    store = str(tmp_path / "kv")
    n = 3 * kvs._FOLD_ROWS + 100
    _ingest(spark, store, 0, [(2 * i, "a", "I", 1) for i in range(n)])
    _fold(spark, store, 1)
    _ingest(spark, store, 1, [(2 * i + 1, "b", "I", 2) for i in range(0, n, 7)])
    pulled, written = [0], []
    real_iter = pq.ParquetFile.iter_batches
    real_write = pq.ParquetWriter.write_table

    def iter_batches(self, *a, **kw):
        for b in real_iter(self, *a, **kw):
            pulled[0] += 1
            yield b

    def write_table(self, table, *a, **kw):
        written.append(table.num_rows)
        assert pulled[0] <= len(written), (pulled[0], len(written))
        return real_write(self, table, *a, **kw)

    with mock.patch.object(pq.ParquetFile, "iter_batches", iter_batches), \
            mock.patch.object(pq.ParquetWriter, "write_table", write_table):
        _fold(spark, store, 2)
    assert pulled[0] >= 3
    (f,) = os.listdir(_base_dir(store, 2))
    meta = pq.ParquetFile(os.path.join(_base_dir(store, 2), f)).metadata
    assert meta.num_row_groups == len(written) > 1
    bounds = [
        (meta.row_group(i).column(0).statistics.min,
         meta.row_group(i).column(0).statistics.max)
        for i in range(meta.num_row_groups)
    ]
    assert all(meta.row_group(i).num_rows <= kvs._FOLD_ROWS
               for i in range(meta.num_row_groups))
    assert all(a[1] < b[0] for a, b in zip(bounds, bounds[1:])), bounds
    ids = pq.read_table(_base_dir(store, 2))["id"].to_pylist()
    assert ids == sorted(set(range(0, 2 * n, 2)) | set(range(1, 2 * n, 14)))


# --- the commit protocol ----------------------------------------------------

def test_all_tombstone_fold_leaves_no_base(spark, tmp_path):
    """Every folded key's newest change is a delete: the fold writes no
    base partition, and an orphan a crashed attempt left at the horizon is
    removed before the commit instead of being resurrected by it."""
    store = str(tmp_path / "kv")
    _ingest(spark, store, 0, [(1, "a", "I", 1), (2, "b", "I", 2)])
    _fold(spark, store, 1)
    _ingest(spark, store, 1, [(1, None, "D", 3)])
    _ingest(spark, store, 2, [(2, None, "D", 4), (3, "c", "I", 5)])
    _ingest(spark, store, 3, [(3, None, "D", 6)])
    orphan = _base_dir(store, 4)
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-00000.parquet"), "wb") as f:
        pq.write_table(
            kvs._collapse_arrow(
                spark.createDataFrame([(9, "ghost", "I", 1)], DDL).toArrow(),
                "id"),
            f,
        )
    stats = _fold(spark, store, 4)
    assert stats["base_upto_after"] == 4 and stats["folded_partitions"] == 4
    assert _parts(store) == []
    assert key_state(spark, store, DDL, "id").collect() == []
    _ingest(spark, store, 4, [(5, "e", "I", 7)])
    assert _rows(key_state(spark, store, DDL, "id").collect()) == [
        (5, "e", "I", 7)]


def _seed(spark, store):
    _ingest(spark, store, 0, [(1, "a", "I", 1), (2, "b", "I", 2)])
    _fold(spark, store, 1)
    _ingest(spark, store, 1, [(2, "b2", "U", 3), (3, "c", "I", 4)])
    _ingest(spark, store, 2, [(1, None, "D", 5)])
    _ingest(spark, store, 3, [(4, "d", "I", 6)])


def _state(spark, store):
    return _rows(key_state(spark, store, DDL, "id").collect())


def test_eio_during_kv_fold_fsync_aborts_before_commit(
    spark, tmp_path, monkeypatch
):
    """An fsync that loses writeback (EIO) while the fold's file is made
    durable aborts the compaction before the manifest commit: the store
    keeps its old generation and no hidden directory, and a re-run
    converges."""
    store = str(tmp_path / "kv")
    _seed(spark, store)
    before = _state(spark, store)

    def failing_fsync(fd):
        raise OSError(errno.EIO, "writeback lost")

    monkeypatch.setattr(os, "fsync", failing_fsync)
    with pytest.raises(OSError):
        _fold(spark, store, 3)
    monkeypatch.undo()
    assert base_upto(store) == 1
    assert f"{EPOCH_COL}=-3" not in _parts(store)
    assert hidden_leftovers(store) == []
    assert _state(spark, store) == before
    assert _fold(spark, store, 3)["base_upto_after"] == 3
    assert _state(spark, store) == before


class _Boom(RuntimeError):
    pass


@pytest.mark.parametrize("where", ["commit", "sweep"])
def test_kv_fold_crash_is_invisible_and_rerun_converges(
    spark, tmp_path, where
):
    """A kv fold killed before its manifest commit (an orphan base
    ``-upto``) or between the commit and the sweep (stale partials and the
    old base left): readers see exactly one generation, and a re-run at the
    same horizon converges to the swept store."""
    store = str(tmp_path / "kv")
    _seed(spark, store)
    before = _state(spark, store)
    name = "_commit_manifest" if where == "commit" else "_sweep_stale"
    with mock.patch.object(em, name, side_effect=_Boom(where)):
        with pytest.raises(_Boom):
            _fold(spark, store, 3)
    assert base_upto(store) == (1 if where == "commit" else 3)
    assert f"{EPOCH_COL}=-3" in _parts(store)
    assert _state(spark, store) == before
    stats = _fold(spark, store, 3)
    assert stats["base_upto_after"] == 3
    assert _parts(store) == [f"{EPOCH_COL}=-3", f"{EPOCH_COL}=3"]
    assert _state(spark, store) == before
