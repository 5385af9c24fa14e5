"""WAL archive chunk compaction (streaming/archive_maintenance.py): merged
chunks replay byte-identically, the index/prune machinery keeps working on
the compacted archive, and every crash window is covered by the scan's
LSN-monotonicity guard."""

from __future__ import annotations

import json
import os

import pytest

from postgresql_cdc_spark.sources.pgoutput import PgOutputDecoder
from postgresql_cdc_spark.streaming.archive_maintenance import (
    compact_wal_archive,
)
from postgresql_cdc_spark.streaming.source import (
    WalArchiveStreamReader,
    read_wal_frames,
    scan_wal_messages,
)

from tests.test_wal_index import _drain, _mk_archive


def _replay_ops(arch):
    d = PgOutputDecoder()
    return [
        (lsn, type(m).__name__)
        for lsn, m in scan_wal_messages(
            arch, d, {"txn_open": False, "txn_id": -1}
        )
    ]


def _index_all(arch):
    WalArchiveStreamReader({"path": arch, "readall": "true"}).latestOffset()


class TestCompaction:
    def test_merge_replays_byte_identically(self, tmp_path):
        arch = str(tmp_path / "wal")
        _mk_archive(arch, n_chunks=6, txns_per_chunk=2)
        _index_all(arch)
        want = _replay_ops(arch)
        chunk_sz = os.path.getsize(os.path.join(arch, "000001.wal"))
        stats = compact_wal_archive(arch, target_chunk_bytes=3 * chunk_sz)
        assert stats["merged_runs"] >= 1
        assert stats["chunks_after"] < stats["chunks_before"] == 6
        # newest chunk untouched, names keep LSN-sorted order
        left = sorted(n for n in os.listdir(arch) if n.endswith(".wal"))
        assert left[-1] == "000005.wal"
        assert _replay_ops(arch) == want
        # merged sidecars are valid (size matches; cumulative end state)
        for name in left:
            fp = os.path.join(arch, name)
            with open(fp + ".idx") as f:
                sc = json.load(f)
            assert sc["size"] == os.path.getsize(fp)

    def test_streaming_source_over_compacted_archive(self, tmp_path):
        arch = str(tmp_path / "wal")
        _mk_archive(arch, n_chunks=4, txns_per_chunk=2)
        _index_all(arch)
        r0 = WalArchiveStreamReader(
            {"path": arch, "ackpath": str(tmp_path / "a0"),
             "maxrecordsperbatch": "8"}
        )
        want, _ = _drain(r0, arch)
        big = sum(
            os.path.getsize(os.path.join(arch, n))
            for n in os.listdir(arch) if n.endswith(".wal")
        )
        compact_wal_archive(arch, target_chunk_bytes=big)
        assert sorted(
            n for n in os.listdir(arch) if n.endswith(".wal")
        ) == ["000000.wal", "000003.wal"]
        r1 = WalArchiveStreamReader(
            {"path": arch, "ackpath": str(tmp_path / "a1"),
             "maxrecordsperbatch": "8"}
        )
        got, _ = _drain(r1, arch)
        assert got == want

    def test_unindexed_chunk_blocks_its_run(self, tmp_path):
        arch = str(tmp_path / "wal")
        _mk_archive(arch, n_chunks=5, txns_per_chunk=1)
        _index_all(arch)
        os.unlink(os.path.join(arch, "000002.wal.idx"))
        stats = compact_wal_archive(arch, target_chunk_bytes=1 << 30)
        # runs split around the opaque chunk: (0,1) merge, 2 stays, 3 merges
        # nothing (singleton next to the protected newest 4)
        left = sorted(n for n in os.listdir(arch) if n.endswith(".wal"))
        assert left == ["000000.wal", "000002.wal", "000003.wal",
                        "000004.wal"]
        assert stats["merged_runs"] == 1

    def test_crash_window_duplicates_are_dropped(self, tmp_path):
        """Simulate a crash between the merged-chunk replace and the
        constituent unlinks: the merged chunk AND a later constituent both
        hold the constituent's frames; the monotonicity guard must drop the
        duplicate copy so the replay is byte-identical."""
        arch = str(tmp_path / "wal")
        _mk_archive(arch, n_chunks=4, txns_per_chunk=2)
        _index_all(arch)
        want = _replay_ops(arch)
        # merge 0+1+2 by hand into 000000.wal, keep 000001/000002 on disk
        merged = b""
        for name in ("000000.wal", "000001.wal", "000002.wal"):
            with open(os.path.join(arch, name), "rb") as f:
                merged += f.read()
        with open(os.path.join(arch, "000000.wal"), "wb") as f:
            f.write(merged)
        with open(os.path.join(arch, "000002.wal.idx")) as f:
            sc = json.load(f)
        sc["size"] = len(merged)
        with open(os.path.join(arch, "000000.wal.idx"), "w") as f:
            json.dump(sc, f)
        assert _replay_ops(arch) == want
        # the micro-batch reader over the crash-window archive too
        r = WalArchiveStreamReader(
            {"path": arch, "ackpath": str(tmp_path / "ack"),
             "maxrecordsperbatch": "8"}
        )
        rows, _ = _drain(r, arch)
        lsns = [t[4] for t in rows]
        assert len(lsns) == len(set(lsns)), "duplicate envelope rows"

    def test_crash_window_raw_frames_yield_once(self, tmp_path):
        """The same crash window, read as raw frames: the merged chunk and
        its leftover constituents hold the same frames twice, and
        read_wal_frames must yield each LSN once, in the original order."""
        arch = str(tmp_path / "wal")
        _mk_archive(arch, n_chunks=4, txns_per_chunk=2)
        want = list(read_wal_frames(arch))
        with open(os.path.join(arch, "000000.wal"), "ab") as f:
            for name in ("000001.wal", "000002.wal"):
                with open(os.path.join(arch, name), "rb") as c:
                    f.write(c.read())
        got = list(read_wal_frames(arch))
        assert got == want
        assert len({lsn for lsn, _ in got}) == len(got)

    def test_prune_then_compact_then_replay(self, tmp_path):
        from postgresql_cdc_spark.streaming.source import prune_wal_archive

        arch = str(tmp_path / "wal")
        last = _mk_archive(arch, n_chunks=6, txns_per_chunk=2)
        _index_all(arch)
        with open(os.path.join(arch, "000001.wal.idx")) as f:
            c1 = json.load(f)["max_lsn"]
        prune_wal_archive(arch, upto_lsn=c1)
        with pytest.warns(UserWarning, match="retention head"):
            want = _replay_ops(arch)
        compact_wal_archive(arch, target_chunk_bytes=1 << 30)
        left = sorted(n for n in os.listdir(arch) if n.endswith(".wal"))
        assert left == ["000002.wal", "000005.wal"]
        with pytest.warns(UserWarning, match="retention head"):
            got = _replay_ops(arch)
        assert got == want
        assert got[-1][0] == last
