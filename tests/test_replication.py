"""Live-replication transport tests against a fake psycopg-shaped stack.

The container has no PostgreSQL/psycopg, so these tests verify the engine-loop
semantics (`CdcEngine.java:67-160`) with injected fakes: idempotent slot and
publication DDL, replication-mode connection options, resume-after-error with
backoff, and the flush-LSN ack.
"""

from __future__ import annotations

import os

import pytest

from postgresql_cdc_spark.streaming.replication import (
    LiveReplicationTransport,
    ReplicationConfig,
    ensure_publication,
    ensure_replication_slot,
)


class FakeCursor:
    def __init__(self, conn):
        self.conn = conn
        self._row = None

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False

    def execute(self, sql, params=None):
        self.conn.executed.append((sql, params))
        if "FROM pg_replication_slots" in sql:
            self._row = (1,) if params[0] in self.conn.server.slots else None
        elif "FROM pg_publication" in sql:
            self._row = (1,) if params[0] in self.conn.server.pubs else None
        elif sql.startswith("CREATE_REPLICATION_SLOT"):
            self.conn.server.slots.add(sql.split()[1])
            self._row = None
        elif sql.startswith("CREATE PUBLICATION"):
            self.conn.server.pubs.add(sql.split()[2].strip('"'))
            self._row = None

    def fetchone(self):
        return self._row


class FakeMessage:
    def __init__(self, lsn, payload):
        self.data_start = lsn
        self.payload = payload


class FakeStream:
    """Replays (lsn, payload) frames after the confirmed LSN; optionally dies
    with a connection error partway through — the resume must come from the
    server-side confirmed LSN, not any client state."""

    def __init__(self, server, fail_after=None):
        self.server = server
        self.fail_after = fail_after
        self._pending = [
            FakeMessage(lsn, p)
            for lsn, p in server.frames
            if lsn > server.confirmed_lsn
        ]
        self._emitted = 0
        self.feedback = []
        self.closed = False

    @property
    def exhausted(self):
        return not self._pending

    def read_message(self):
        if self.fail_after is not None and self._emitted >= self.fail_after:
            raise ConnectionError("replication socket dropped")
        if not self._pending:
            return None
        self._emitted += 1
        return self._pending.pop(0)

    def send_feedback(self, flush_lsn=None):
        self.feedback.append(flush_lsn)
        self.server.confirmed_lsn = max(self.server.confirmed_lsn, flush_lsn)

    def close(self):
        self.closed = True


class FakeServer:
    def __init__(self, frames):
        self.frames = frames
        self.slots = set()
        self.pubs = set()
        self.confirmed_lsn = -1
        self.fail_plan = []  # fail_after value per successive connection


class FakeConnection:
    def __init__(self, server, replication):
        self.server = server
        self.replication = replication
        self.executed = []
        self.start_replication_calls = []
        self.closed = False

    def cursor(self):
        return FakeCursor(self)

    def start_replication(self, **kw):
        self.start_replication_calls.append(kw)
        fail_after = self.server.fail_plan.pop(0) if self.server.fail_plan else None
        self.stream = FakeStream(self.server, fail_after)
        return self.stream

    def close(self):
        self.closed = True


FRAMES = [(10, b"B"), (11, b"I1"), (12, b"I2"), (30, b"C"), (40, b"B2"), (41, b"I3")]


def make_stack(frames=FRAMES):
    server = FakeServer(frames)
    conns = []

    def factory(replication):
        c = FakeConnection(server, replication)
        conns.append(c)
        return c

    return server, conns, factory


class TestDdlIdempotence:
    def test_slot_created_once(self):
        server, conns, factory = make_stack()
        conn = factory(True)
        assert ensure_replication_slot(conn, "s1") is True
        assert "s1" in server.slots
        assert ensure_replication_slot(conn, "s1") is False
        creates = [s for s, _ in conn.executed if s.startswith("CREATE_REPLICATION_SLOT")]
        assert len(creates) == 1
        assert "LOGICAL pgoutput" in creates[0]

    def test_publication_created_once(self):
        server, conns, factory = make_stack()
        conn = factory(True)
        assert ensure_publication(conn, "p1") is True
        assert ensure_publication(conn, "p1") is False
        creates = [s for s, _ in conn.executed if s.startswith("CREATE PUBLICATION")]
        assert len(creates) == 1
        assert "FOR ALL TABLES" in creates[0]


class TestTransport:
    def test_clean_run_registers_and_streams(self):
        server, conns, factory = make_stack()
        cfg = ReplicationConfig(slot="s", publication="p")
        t = LiveReplicationTransport(factory, cfg, sleep=lambda s: None)
        got = list(t.frames())
        assert got == FRAMES
        assert server.slots == {"s"} and server.pubs == {"p"}
        # replication-mode connection + stream options (PgConnectionFactory/CdcEngine parity)
        assert conns[0].replication is True
        kw = conns[0].start_replication_calls[0]
        assert kw["options"] == {"proto_version": "1", "publication_names": "p"}
        assert cfg.options["replication"] == "database"
        assert cfg.options["prefer_query_mode"] == "simple"

    def test_reconnect_resumes_from_confirmed_lsn(self):
        server, conns, factory = make_stack()
        # first connection dies after 2 frames; second completes
        server.fail_plan = [2]
        sleeps = []
        t = LiveReplicationTransport(
            factory, ReplicationConfig(retry_backoff_s=10.0), sleep=sleeps.append
        )
        out = []
        for lsn, payload in t.frames():
            out.append((lsn, payload))
            if lsn == 11:
                t.ack(11)  # txn-aligned ack mid-stream
        # 2 frames before the drop, then replay from confirmed LSN 11
        assert out == [(10, b"B"), (11, b"I1"),
                       (12, b"I2"), (30, b"C"), (40, b"B2"), (41, b"I3")]
        assert len(conns) == 2  # reconnected exactly once
        assert conns[0].closed  # old connection torn down
        assert 10.0 in sleeps  # backoff honored (CdcEngine.java:155)
        # slot/publication DDL re-ran on reconnect (idempotent, no 2nd create)
        slot_creates = [
            s for c in conns for s, _ in c.executed
            if s.startswith("CREATE_REPLICATION_SLOT")
        ]
        assert len(slot_creates) == 1

    def test_retry_budget_exhausted_raises(self):
        server, conns, factory = make_stack()
        server.fail_plan = [0, 0, 0]  # every connection fails immediately
        t = LiveReplicationTransport(
            factory, ReplicationConfig(max_retries=2), sleep=lambda s: None
        )
        with pytest.raises(ConnectionError):
            list(t.frames())
        assert len(conns) == 3  # initial + 2 retries

    def test_ack_forwards_flush_lsn(self):
        server, conns, factory = make_stack()
        t = LiveReplicationTransport(factory, ReplicationConfig(), sleep=lambda s: None)
        it = t.frames()
        next(it)
        t.ack(10)
        assert conns[0].stream.feedback == [10]
        assert server.confirmed_lsn == 10
        it.close()


class TestWalRelay:
    def test_live_transport_relays_to_archive_and_spark(self, spark, tmp_path):
        """The production composition: fake live transport -> relay ->
        archive chunks -> pgcdc batch read -> decoded records; the server's
        confirmed LSN advances only after chunks are durably written."""
        from postgresql_cdc_spark.sources.pgoutput import (
            encode_begin,
            encode_commit,
            encode_insert,
            encode_relation,
        )
        from postgresql_cdc_spark.streaming.source import (
            PgCdcDataSource,
            run_wal_relay,
        )
        from tests.test_streaming_cdc import REL

        frames = [(1, encode_relation(REL))]
        lsn = 10
        for i in range(6):
            frames.append((lsn, encode_begin(lsn + 2, 0, i + 1)))
            frames.append(
                (lsn + 1, encode_insert(16384, [str(i), f"v{i}", str(i), "{}"]))
            )
            frames.append((lsn + 2, encode_commit(lsn + 2, lsn + 3, 0)))
            lsn += 10
        server, _conns, factory = make_stack(frames)

        arch = str(tmp_path / "relayed")
        t = LiveReplicationTransport(
            factory, ReplicationConfig(slot="r", publication="r"),
            sleep=lambda s: None,
        )
        n = run_wal_relay(t, arch, chunk_frames=5)
        assert n == len(frames)
        assert server.confirmed_lsn == frames[-1][0]  # acked through the end
        import os as _os

        assert len([f for f in _os.listdir(arch) if f.endswith(".wal")]) >= 2

        spark.dataSource.register(PgCdcDataSource)
        rows = (
            spark.read.format("pgcdc").option("path", arch).load().collect()
        )
        got = {(r.op, r.columns["id"]) for r in rows}
        assert got == {("I", str(i)) for i in range(6)}

    def test_relay_resumes_past_chunk_name_gaps(self, tmp_path):
        """Next chunk index is max(existing)+1, not len(existing): a gap in
        the numbering (manual cleanup) must not reuse a live name — reused
        names either append to an old chunk or sort before higher-LSN chunks,
        breaking read_wal_frames' name-order==LSN-order contract."""
        from postgresql_cdc_spark.streaming.source import (
            read_wal_frames,
            run_wal_relay,
            write_wal_archive,
        )

        arch = str(tmp_path / "gappy")
        # pre-existing archive with a hole: chunks 0 and 5 (1-4 cleaned up)
        write_wal_archive(arch, [(1, b"a")], chunk="000000.wal")
        write_wal_archive(arch, [(50, b"f")], chunk="000005.wal")

        class OneShotTransport:
            def __init__(self, frames):
                self._frames = frames
                self.acked = []

            def frames(self):
                yield from self._frames

            def ack(self, lsn):
                self.acked.append(lsn)

        t = OneShotTransport([(60, b"g"), (61, b"h")])
        assert run_wal_relay(t, arch, chunk_frames=100) == 2
        names = sorted(
            f for f in __import__("os").listdir(arch) if f.endswith(".wal")
        )
        assert names == ["000000.wal", "000005.wal", "000006.wal"]
        # frames replay in LSN order because the new chunk sorts last
        assert [lsn for lsn, _ in read_wal_frames(arch)] == [1, 50, 60, 61]
        assert t.acked == [61]

    def test_chunks_past_999999_keep_lsn_order(self, spark, tmp_path):
        """The relay's chunk numbers outgrow their six-digit padding:
        ``1000000.wal`` sorts before ``999998.wal`` as a string, and the
        scan's LSN guard then dropped every lower chunk's frames as
        duplicates. Chunks are ordered by number, so the frame read, a
        batch ``pgcdc`` read and the chunk compactor see every frame across
        the boundary, in LSN order."""
        from postgresql_cdc_spark.sources.pgoutput import (
            encode_begin,
            encode_commit,
            encode_insert,
            encode_relation,
        )
        from postgresql_cdc_spark.streaming.archive_maintenance import (
            compact_wal_archive,
        )
        from postgresql_cdc_spark.streaming.source import (
            PgCdcDataSource,
            WalArchiveStreamReader,
            read_wal_frames,
            run_wal_relay,
            write_wal_archive,
        )
        from tests.test_streaming_cdc import REL

        def txn(i):
            lsn = 10 * (i + 1)
            return [(lsn, encode_begin(lsn + 2, 0, i + 1)),
                    (lsn + 1, encode_insert(
                        16384, [str(i), f"v{i}", str(i), "{}"])),
                    (lsn + 2, encode_commit(lsn + 2, lsn + 3, 0))]

        class OneShotTransport:
            def __init__(self, frames):
                self._frames = frames

            def frames(self):
                yield from self._frames

            def ack(self, lsn):
                pass

        arch = str(tmp_path / "wrapped")
        head = [(1, encode_relation(REL))] + txn(0)
        write_wal_archive(arch, head, chunk="999998.wal")
        tail = [f for i in range(1, 5) for f in txn(i)]
        run_wal_relay(OneShotTransport(tail), arch, chunk_frames=3)
        names = sorted(n for n in os.listdir(arch) if n.endswith(".wal"))
        assert names == ["1000000.wal", "1000001.wal", "1000002.wal",
                         "999998.wal", "999999.wal"]
        want = [lsn for lsn, _ in head + tail]
        assert [lsn for lsn, _ in read_wal_frames(arch)] == want

        spark.dataSource.register(PgCdcDataSource)
        rows = spark.read.format("pgcdc").option("path", arch).load().collect()
        assert sorted(int(r.columns["id"]) for r in rows) == list(range(5))

        WalArchiveStreamReader({"path": arch, "readall": "true"}).latestOffset()
        stats = compact_wal_archive(arch)
        assert stats["merged_runs"] == 1
        # the run starts at the lowest-numbered chunk; the newest stays
        assert sorted(n for n in os.listdir(arch) if n.endswith(".wal")) == [
            "1000002.wal", "999998.wal"]
        assert [lsn for lsn, _ in read_wal_frames(arch)] == want

    def test_relay_fsyncs_chunk_then_directory_then_acks(self, tmp_path,
                                                          monkeypatch):
        """Every flush makes the new chunk durable, then its directory entry,
        and only then acks: an ack before the directory fsync lets a power
        cut lose a chunk whose WAL upstream has already discarded."""
        import os

        from postgresql_cdc_spark.streaming import source as src

        events = []
        real_fsync = os.fsync

        def fsync(fd):
            events.append(("file", os.path.basename(os.readlink(
                f"/proc/self/fd/{fd}"))))
            real_fsync(fd)

        monkeypatch.setattr(os, "fsync", fsync)
        monkeypatch.setattr(src, "fsync_dir",
                            lambda path: events.append(("dir", path)))

        class Transport:
            def frames(self):
                yield from ((lsn, b"x") for lsn in range(1, 8))

            def ack(self, lsn):
                events.append(("ack", lsn))

        arch = str(tmp_path / "relay")
        assert src.run_wal_relay(Transport(), arch, chunk_frames=3) == 7
        assert events == [
            ("file", "000000.wal"), ("dir", arch), ("ack", 3),
            ("file", "000001.wal"), ("dir", arch), ("ack", 6),
            ("file", "000002.wal"), ("dir", arch), ("ack", 7),
        ]

    def test_torn_tail_frame_is_skipped_not_yielded_short(self, tmp_path):
        """A relay crash mid-chunk leaves a truncated tail frame; the reader
        must not yield a silently short payload for it (the frame was never
        acked, so the transport replays it into a later chunk)."""
        import os
        import struct
        import warnings

        from postgresql_cdc_spark.streaming.source import (
            _FRAME_FMT,
            read_wal_frames,
            write_wal_archive,
        )

        arch = str(tmp_path / "torn")
        write_wal_archive(arch, [(1, b"full1"), (2, b"full2")])
        # simulate the crash: append a frame header declaring 100 bytes but
        # only 3 bytes of payload behind it
        with open(os.path.join(arch, "000000.wal"), "ab") as f:
            f.write(struct.pack(_FRAME_FMT, 3, 100))
            f.write(b"abc")
        # replayed full frame lands in the next chunk
        write_wal_archive(arch, [(3, b"replayed")], chunk="000001.wal")

        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            got = list(read_wal_frames(arch))
        assert got == [(1, b"full1"), (2, b"full2"), (3, b"replayed")]
        assert any("torn frame" in str(x.message) for x in w)
