"""Chunk-parallel batch replay: ``WalArchiveBatchReader.partitions()`` splits
the archive into contiguous runs of whole chunks, each starting from the
sidecar state at its boundary, and the split replay must equal the
single-partition one row for row — LSN, transaction id, op and columns —
under any chunking, torn chunks, retention pruning, compaction crash
windows and read-only archives.
"""

from __future__ import annotations

import os
import stat
import struct
import warnings
from collections import Counter
from contextlib import contextmanager
from unittest import mock

import pytest
from hypothesis import given, settings, strategies as st

from postgresql_cdc_spark.sources.pgoutput import (
    ColumnMeta,
    Relation,
    encode_begin,
    encode_commit,
    encode_delete,
    encode_insert,
    encode_relation,
    encode_update,
)
from postgresql_cdc_spark.streaming import source as src
from postgresql_cdc_spark.streaming.source import (
    _FRAME_FMT,
    _OPEN_END,
    PgCdcDataSource,
    WalArchiveBatchReader,
    WalArchiveStreamReader,
    _read_envelope,
    _WalPartition,
    prune_wal_archive,
    write_wal_archive,
)

REL_A = Relation(16384, "public", "a", "d",
                 (ColumnMeta("id", 20, 1), ColumnMeta("v", 1043)))
# the same relation after ALTER TABLE ... ADD COLUMN w
REL_A2 = Relation(16384, "public", "a", "d",
                  (ColumnMeta("id", 20, 1), ColumnMeta("v", 1043),
                   ColumnMeta("w", 23)))
REL_B = Relation(16385, "public", "b", "f", (ColumnMeta("k", 23, 1),))


@contextmanager
def _cores(n: int):
    with mock.patch.object(src, "default_parallelism", lambda: n):
        yield


def envelope_rows(batches) -> list:
    """``read()``'s Arrow batches as envelope tuples
    ``(op, schema, table, relation_id, lsn, txn_id, columns)``, with
    ``columns`` a dict in wire order."""
    out = []
    for b in batches:
        for op, sc, tb, rid, lsn, txn, cols in zip(*b.to_pydict().values()):
            out.append((op, sc, tb, rid, lsn, txn, dict(cols)))
    return out


def _single(arch: str) -> list:
    """The whole archive as one partition: the reference replay."""
    return envelope_rows(_read_envelope(_WalPartition(arch, -1, _OPEN_END)))


def _split(arch: str, n: int):
    """(partitions, rows in partition order) of a batch read on n cores."""
    with _cores(n):
        reader = WalArchiveBatchReader({"path": arch})
        parts = reader.partitions()
        rows = [r for p in parts for r in envelope_rows(reader.read(p))]
    return parts, rows


def _key(row) -> tuple:
    op, _schema, _table, _rid, lsn, txn_id, cols = row
    return (lsn, txn_id, op, tuple(sorted(cols.items())))


def _assert_ranges(parts, n: int) -> None:
    assert 1 <= len(parts) <= n
    assert parts[0].start_lsn == -1 and parts[-1].end_lsn == _OPEN_END
    for p, q in zip(parts, parts[1:]):
        assert p.start_lsn < p.end_lsn == q.start_lsn < q.end_lsn


def _write_chunks(path: str, frames, cuts) -> None:
    bounds = [0] + sorted(set(cuts)) + [len(frames)]
    for c, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
        write_wal_archive(path, frames[lo:hi], chunk=f"{c:06d}.wal")


def _txn_frames(n_txns: int, dml_per_txn: int = 3):
    """RELATION then n_txns of BEGIN + inserts + COMMIT, LSNs from 1."""
    lsn = 1
    frames = [(lsn, encode_relation(REL_A))]
    for x in range(n_txns):
        lsn += 1
        frames.append((lsn, encode_begin(lsn + dml_per_txn + 1, 0, 500 + x)))
        for i in range(dml_per_txn):
            lsn += 1
            frames.append((lsn, encode_insert(16384, [str(x), f"v{x}.{i}"])))
        lsn += 1
        frames.append((lsn, encode_commit(lsn, lsn, 0)))
    return frames


@st.composite
def _archives(draw):
    """A change stream over two relations, one of which changes schema
    mid-stream, plus a chunking of it: cut points fall anywhere, so
    transactions straddle chunk boundaries."""
    frames = []
    lsn = 0

    def emit(payload: bytes) -> None:
        nonlocal lsn
        lsn += draw(st.integers(1, 3))
        frames.append((lsn, payload))

    emit(encode_relation(REL_A))
    emit(encode_relation(REL_B))
    n_txns = draw(st.integers(1, 10))
    evolve_at = draw(st.integers(0, n_txns))
    rel_a = REL_A
    for x in range(n_txns):
        if x == evolve_at:
            emit(encode_relation(REL_A2))
            rel_a = REL_A2
        ops = draw(st.lists(st.tuples(st.sampled_from("IUD"), st.booleans()),
                            min_size=1, max_size=5))
        emit(encode_begin(0, 0, 1000 + x))
        for i, (op, on_a) in enumerate(ops):
            rid = rel_a.relation_id if on_a else REL_B.relation_id
            ncols = len(rel_a.columns) if on_a else 1
            vals = [str(x * 10 + i)] + [f"{op}{x}.{i}"] * (ncols - 1)
            if op == "I":
                emit(encode_insert(rid, vals))
            elif op == "U":
                emit(encode_update(rid, vals))
            else:
                emit(encode_delete(rid, vals[:1] + [None] * (ncols - 1)))
        emit(encode_commit(lsn, lsn, 0))
    cuts = draw(st.lists(st.integers(1, len(frames) - 1), max_size=8))
    return frames, cuts


@settings(max_examples=30, deadline=None)
@given(spec=_archives(), n=st.integers(1, 6))
def test_split_replay_equals_single_partition(tmp_path_factory, spec, n):
    frames, cuts = spec
    arch = str(tmp_path_factory.mktemp("split"))
    _write_chunks(arch, frames, cuts)
    want = _single(arch)
    assert want  # every drawn transaction holds at least one DML
    for _ in ("cold", "warm"):  # the first plan indexes, the second reuses
        parts, got = _split(arch, n)
        _assert_ranges(parts, n)
        assert Counter(map(_key, got)) == Counter(map(_key, want))
        assert got == want  # partition order is LSN order


def test_runs_balance_bytes(tmp_path):
    """Eight equal chunks and a one-frame tail on four cores: four runs
    holding about the same number of changes."""
    arch = str(tmp_path / "wal")
    frames = _txn_frames(16)
    _write_chunks(arch, frames, range(len(frames) // 8, len(frames),
                                      len(frames) // 8))
    parts, rows = _split(arch, 4)
    assert len(parts) == 4
    per_part = [sum(b.num_rows for b in _read_envelope(p)) for p in parts]
    assert max(per_part) - min(per_part) <= 3, per_part
    assert rows == _single(arch)


def test_torn_middle_chunk_same_rows_and_warns(tmp_path):
    """A relay crash mid-write tears chunk 1's tail (the frame was never
    acked, so it replays into chunk 2). No boundary follows the torn chunk,
    and the split replay warns and returns the same rows."""
    arch = str(tmp_path / "wal")
    frames = _txn_frames(8)
    q = len(frames) // 4
    _write_chunks(arch, frames, [q, 2 * q, 3 * q])
    with open(os.path.join(arch, "000001.wal"), "ab") as f:
        f.write(struct.pack(_FRAME_FMT, frames[2 * q][0], 100) + b"abc")
    with pytest.warns(UserWarning, match="torn frame"):
        want = _single(arch)
    with pytest.warns(UserWarning, match="torn frame"):
        parts, got = _split(arch, 4)
    assert got == want
    _assert_ranges(parts, 4)
    assert not os.path.exists(os.path.join(arch, "000001.wal.idx"))
    torn_last_lsn = frames[2 * q - 1][0]
    assert torn_last_lsn not in {p.start_lsn for p in parts}


def test_pruned_archive_warns_once_and_never_inverts(tmp_path):
    arch = str(tmp_path / "wal")
    frames = _txn_frames(10)
    step = len(frames) // 5
    _write_chunks(arch, frames, range(step, len(frames), step))
    WalArchiveStreamReader({"path": arch, "readall": "true"}).latestOffset()
    base = prune_wal_archive(arch, upto_lsn=frames[2 * step - 1][0])["base_lsn"]
    assert base is not None
    with pytest.warns(UserWarning, match="retention head"):
        want = _single(arch)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        parts, got = _split(arch, 4)
    assert sum("retention head" in str(w.message) for w in caught) == 1
    assert len(parts) > 1
    _assert_ranges(parts, 4)
    assert all(p.start_lsn >= base for p in parts[1:])
    assert got == want and all(r[4] > base for r in got)


def test_compaction_crash_window_never_inverts(tmp_path):
    """A merge that crashed before its unlinks leaves constituents, with
    their own sidecars, BEHIND the merged chunk: cut LSNs are a running max,
    so those leftovers add no boundary and no range inverts."""
    arch = str(tmp_path / "wal")
    frames = _txn_frames(8)
    q = len(frames) // 4
    _write_chunks(arch, frames, [q, 2 * q, 3 * q])
    WalArchiveStreamReader({"path": arch, "readall": "true"}).latestOffset()
    want = _single(arch)
    merged = b"".join(
        src._read_chunk_bytes(os.path.join(arch, f"00000{c}.wal"))
        for c in range(3))
    with open(os.path.join(arch, "000000.wal"), "wb") as f:
        f.write(merged)
    os.unlink(os.path.join(arch, "000000.wal.idx"))
    parts, got = _split(arch, 4)
    _assert_ranges(parts, 4)
    assert got == want


def test_read_only_archive_stays_correct(tmp_path):
    arch = str(tmp_path / "wal")
    frames = _txn_frames(8)
    q = len(frames) // 4
    _write_chunks(arch, frames, [q, 2 * q, 3 * q])
    want = _single(arch)
    mode = os.stat(arch).st_mode
    os.chmod(arch, stat.S_IRUSR | stat.S_IXUSR)
    real_replace = os.replace

    def refuse(a, b, *args, **kw):  # root ignores the mode bits
        if str(b).endswith(".idx"):
            raise PermissionError(13, "read-only archive", b)
        return real_replace(a, b, *args, **kw)

    try:
        with mock.patch.object(src.os, "replace", refuse):
            parts, got = _split(arch, 4)
    finally:
        os.chmod(arch, mode)
    assert not [n for n in os.listdir(arch) if ".idx" in n]
    assert len(parts) == 1  # no sidecar, so no boundary to start behind
    assert got == want


def test_warm_read_touches_each_chunk_once(tmp_path, monkeypatch):
    arch = str(tmp_path / "wal")
    frames = _txn_frames(12)
    step = len(frames) // 6
    _write_chunks(arch, frames, range(step, len(frames), step))
    chunks = sorted(n for n in os.listdir(arch) if n.endswith(".wal"))
    reads: list[str] = []
    real = src._read_chunk_bytes

    def spy(fp):
        reads.append(os.path.basename(fp))
        return real(fp)

    monkeypatch.setattr(src, "_read_chunk_bytes", spy)
    parts, cold = _split(arch, 3)
    assert len(parts) == 3
    # cold: the planner's header-only pass, then the chunk's own partition
    assert Counter(reads) == {c: 2 for c in chunks}
    reads.clear()
    parts, warm = _split(arch, 3)
    assert Counter(reads) == {c: 1 for c in chunks}
    assert warm == cold


def _corrupt_archive(arch: str) -> None:
    """Four chunks; chunk 3 holds an INSERT whose tuple declares the wrong
    column count."""
    frames = _txn_frames(8)
    q = len(frames) // 4
    bad = next(i for i in range(3 * q, len(frames))
               if frames[i][1][:1] == b"I")
    frames[bad] = (frames[bad][0],
                   b"I" + struct.pack(">i", 16384) + b"N" + struct.pack(">H", 5))
    _write_chunks(arch, frames, [q, 2 * q, 3 * q])


def test_corrupt_dml_in_later_chunk_raises_cold_and_warm(spark, tmp_path):
    arch = str(tmp_path / "wal")
    _corrupt_archive(arch)
    spark.dataSource.register(PgCdcDataSource)
    for _ in ("cold", "warm"):
        with pytest.raises(Exception, match="ProtocolError"):
            spark.read.format("pgcdc").option("path", arch).load().collect()
    # the header-only planning pass indexed the chunk without decoding it
    assert os.path.exists(os.path.join(arch, "000003.wal.idx"))


def test_collect_order_is_lsn_order(spark, tmp_path):
    from pyspark.sql import functions as F

    from postgresql_cdc_spark.session import default_parallelism

    arch = str(tmp_path / "wal")
    frames = _txn_frames(16)
    step = len(frames) // 8
    _write_chunks(arch, frames, range(step, len(frames), step))
    spark.dataSource.register(PgCdcDataSource)
    df = spark.read.format("pgcdc").option("path", arch).load()
    rows = df.collect()
    assert [r.lsn for r in rows] == [r[4] for r in _single(arch)]
    assert [r.txn_id for r in rows] == [r[5] for r in _single(arch)]
    n_parts = df.select(F.spark_partition_id()).distinct().count()
    assert n_parts > 1 or default_parallelism() == 1


def test_one_chunk_archive_is_one_partition(tmp_path):
    arch = str(tmp_path / "wal")
    write_wal_archive(arch, _txn_frames(3))
    parts, got = _split(arch, 4)
    assert len(parts) == 1 and got == _single(arch)
