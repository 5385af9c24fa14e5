"""One fsync policy for every commit point (``streaming/durable.py``).

Each commit point is run with an fsync fault injected first at the file
fsync and then at the directory fsync:

- ``EIO`` (the kernel lost writeback) must stop the commit point before
  anything acts on the write: nothing is acked, no chunk is unlinked, no
  partition is swept, the old partition stays, and no temp file is left;
- ``EINVAL`` (a mount that refuses fsync) is tolerated, and the call
  proceeds as it does without a fault.

A guard then keeps the policy in one module. Spark-free.
"""

from __future__ import annotations

import ast
import errno
import os
import pathlib
import stat
import warnings

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import postgresql_cdc_spark
from postgresql_cdc_spark.streaming.archive_maintenance import (
    compact_wal_archive,
)
from postgresql_cdc_spark.streaming.epoch_io import epoch_replace
from postgresql_cdc_spark.streaming.epoch_maintenance import (
    base_upto,
    compact_epochs,
    live_files,
)
from postgresql_cdc_spark.streaming.source import (
    WalArchiveStreamReader,
    prune_wal_archive,
    read_wal_frames,
    run_wal_relay,
)
from tests.test_archive_lifecycle_fuzz import _frames, _replay, _write_chunks


def _inject(monkeypatch, err: int, on_dir: bool) -> None:
    """Make every fsync of a directory (``on_dir``) or of a file fail with
    ``err``; the other kind goes through."""
    real = os.fsync

    def fsync(fd):
        if stat.S_ISDIR(os.fstat(fd).st_mode) == on_dir:
            raise OSError(err, os.strerror(err))
        real(fd)

    monkeypatch.setattr(os, "fsync", fsync)


def _tmp_leftovers(path: str) -> list[str]:
    return sorted(
        n for n in os.listdir(path)
        if n.endswith(".tmp") or n.startswith(".ingest_epoch=")
    )


def _chunks(path: str) -> list[str]:
    return sorted(n for n in os.listdir(path) if n.endswith(".wal"))


def _quiet_replay(path: str) -> list:
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")  # the retention-head warning
        return _replay(path)


# -- the commit points ---------------------------------------------------------
#
# Each is a class with ``setup(tmp_path)`` (run before the fault is
# injected), ``run()``, ``intact()`` (asserted after an EIO) and ``done()``
# (asserted after a tolerated EINVAL); ``site`` is the fsync that fails,
# ``"file"`` or ``"dir"``. ``raises`` says whether an EIO
# surfaces to the caller: ``compact_wal_archive`` skips the run instead.


class Relay:
    """``run_wal_relay``'s flush: fsync the chunk, fsync the directory,
    then ack."""

    raises = True

    def setup(self, tmp_path):
        self.arch = str(tmp_path / "relay")
        self.acked: list[int] = []
        outer = self

        class Transport:
            def frames(self):
                yield from ((lsn, b"x") for lsn in range(1, 8))

            def ack(self, lsn):
                outer.acked.append(lsn)

        self.transport = Transport()

    def run(self):
        return run_wal_relay(self.transport, self.arch, chunk_frames=3)

    def intact(self):
        assert self.acked == []

    def done(self):
        assert self.acked == [3, 6, 7]
        assert [lsn for lsn, _ in read_wal_frames(self.arch)] == list(
            range(1, 8))


class _Archive:
    """An indexed archive of 4 transactions in 5 chunks; the first two end
    at the COMMITs at LSN 5 and 9."""

    def setup(self, tmp_path):
        self.arch = str(tmp_path / "arch")
        _write_chunks(self.arch, _frames(4), [5, 9, 13, 15])
        WalArchiveStreamReader(
            {"path": self.arch, "readall": "true",
             "ackpath": os.path.join(self.arch, "__noack")}
        ).latestOffset()
        self.chunks = _chunks(self.arch)
        self.ref = _replay(self.arch)
        assert len(self.chunks) == 5

    def intact(self):
        assert _chunks(self.arch) == self.chunks
        assert _tmp_leftovers(self.arch) == []


class Prune(_Archive):
    """``prune_wal_archive``: the head snapshot durable, then unlinks."""

    raises = True

    def run(self):
        self.out = prune_wal_archive(self.arch, upto_lsn=9)
        return self.out

    def intact(self):
        super().intact()
        # nothing was pruned, so the replay from the cursor the prune
        # allowed is unchanged
        assert [f for f in _quiet_replay(self.arch) if f[0] > 9] == [
            f for f in self.ref if f[0] > 9]

    def done(self):
        assert self.out["pruned_chunks"] == 2
        assert self.out["base_lsn"] == 9
        assert _quiet_replay(self.arch) == [f for f in self.ref if f[0] > 9]


class Compact(_Archive):
    """``compact_wal_archive``: the merged chunk durable, then unlinks."""

    raises = False  # an OSError skips the run

    def run(self):
        self.out = compact_wal_archive(self.arch, target_chunk_bytes=1 << 20)
        return self.out

    def intact(self):
        assert self.out["merged_runs"] == 0
        super().intact()
        assert _replay(self.arch) == self.ref

    def done(self):
        assert self.out["merged_runs"] == 1
        assert _chunks(self.arch) == ["000000.wal", "000004.wal"]
        assert _replay(self.arch) == self.ref


def _table(*ids) -> pa.Table:
    return pa.table({"id": pa.array(ids, pa.int64())})


def _rows(path: str, upto: int) -> list[int]:
    return sorted(
        v for f in live_files(path, upto)
        for v in pq.read_table(f).column("id").to_pylist()
    )


class Manifest:
    """``compact_epochs``' commit point, ``_commit_manifest``: the base
    (written before the fault) is committed, then the partials are swept."""

    raises = True

    def setup(self, tmp_path):
        self.p = str(tmp_path / "store")
        for e in range(4):
            epoch_replace([_table(e)], self.p, e)
        epoch_replace([_table(0, 1, 2)], self.p, -3)

    def run(self):
        return compact_epochs(None, self.p, upto=3, fold=lambda e, u: True)

    def intact(self):
        # a fault at the file fsync leaves the old manifest; one at the
        # directory fsync comes after the rename, so the new manifest may
        # be visible. Either way nothing was swept: both horizons read
        # the same rows.
        for e in range(3):
            assert os.path.isdir(os.path.join(self.p, f"ingest_epoch={e}"))
        assert _rows(self.p, base_upto(self.p)) == [0, 1, 2, 3]
        assert _tmp_leftovers(self.p) == []
        if self.site == "file":
            assert base_upto(self.p) == 0

    def done(self):
        assert base_upto(self.p) == 3
        assert sorted(os.listdir(self.p)) == [
            "_epoch_base.json", "ingest_epoch=-3", "ingest_epoch=3"]
        assert _rows(self.p, 3) == [0, 1, 2, 3]


class Replace:
    """``epoch_replace``: the new partition durable, then renamed in over
    the old one."""

    raises = True

    def setup(self, tmp_path):
        self.p = str(tmp_path / "store")
        epoch_replace([_table(1, 2)], self.p, 5)

    def run(self):
        return epoch_replace([_table(7, 8, 9)], self.p, 5)

    def _partition(self) -> list[int]:
        return sorted(pq.read_table(
            os.path.join(self.p, "ingest_epoch=5")).column("id").to_pylist())

    def intact(self):
        assert self._partition() == [1, 2]
        assert _tmp_leftovers(self.p) == []

    def done(self):
        assert self._partition() == [7, 8, 9]
        assert _tmp_leftovers(self.p) == []


POINTS = [Relay, Prune, Compact, Manifest, Replace]


@pytest.mark.parametrize("site", ["file", "dir"])
@pytest.mark.parametrize("point", POINTS, ids=lambda c: c.__name__)
def test_eio_stops_the_commit_point(tmp_path, monkeypatch, point, site):
    cp = point()
    cp.site = site
    cp.setup(tmp_path)
    _inject(monkeypatch, errno.EIO, on_dir=site == "dir")
    if cp.raises:
        with pytest.raises(OSError) as exc:
            cp.run()
        assert exc.value.errno == errno.EIO
    else:
        cp.run()
    monkeypatch.undo()
    cp.intact()


@pytest.mark.parametrize("site", ["file", "dir"])
@pytest.mark.parametrize("point", POINTS, ids=lambda c: c.__name__)
def test_capability_refusal_proceeds(tmp_path, monkeypatch, point, site):
    cp = point()
    cp.setup(tmp_path)
    _inject(monkeypatch, errno.EINVAL, on_dir=site == "dir")
    cp.run()
    monkeypatch.undo()
    cp.done()


# -- one policy ------------------------------------------------------------------


def _fsync_offenders(source: str) -> list[str]:
    """Where ``source`` references ``os.fsync`` / ``os.fdatasync``, imports
    them from ``os``, or defines a function whose name holds ``fsync``."""
    out = []
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            if "fsync" in node.name:
                out.append(f"{node.lineno}: defines {node.name}")
        elif isinstance(node, ast.Attribute):
            if (node.attr in ("fsync", "fdatasync")
                    and isinstance(node.value, ast.Name)
                    and node.value.id == "os"):
                out.append(f"{node.lineno}: os.{node.attr}")
        elif isinstance(node, ast.ImportFrom) and node.module == "os":
            if any(a.name in ("fsync", "fdatasync") for a in node.names):
                out.append(f"{node.lineno}: from os import fsync")
    return out


def test_guard_flags_a_second_policy():
    src = (
        "import os\n"
        "from os import fsync\n"
        "def _fsync_dir(p):\n"
        "    os.fsync(p)\n"
    )
    assert len(_fsync_offenders(src)) == 3


def test_only_durable_fsyncs():
    """Only ``streaming/durable.py`` calls ``os.fsync`` or defines an
    fsync helper: a second copy of the policy is how the relay came to ack
    after a directory fsync had failed."""
    root = pathlib.Path(postgresql_cdc_spark.__file__).parent
    durable = root / "streaming" / "durable.py"
    found = {
        str(p.relative_to(root)): hits
        for p in sorted(root.rglob("*.py"))
        if p != durable and (hits := _fsync_offenders(p.read_text()))
    }
    assert found == {}
    assert _fsync_offenders(durable.read_text())
