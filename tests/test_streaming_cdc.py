"""pgoutput decoder + WAL-archive streaming source tests.

Mirrors the reference's integration-test property (IntegrationTest.java:
117-184): value → encode → WAL bytes → decode → typed access is an identity,
NULLs arrive present-but-null, TOAST columns arrive absent — then exercises
the Spark streaming contract (offsets, txn-aligned chunking, ack, batch
replay, materialization) over a synthesized archive.
"""

from __future__ import annotations

import json
import os

import pytest

from postgresql_cdc_spark.sources.pgoutput import (
    ChangeRecord,
    ColumnMeta,
    PgOutputDecoder,
    ProtocolError,
    Relation,
    TxBegin,
    TxCommit,
    encode_begin,
    encode_commit,
    encode_delete,
    encode_insert,
    encode_relation,
    encode_truncate,
    encode_update,
)
from tests.test_parallel_replay import envelope_rows

REL = Relation(
    relation_id=16384,
    schema="public",
    name="test",
    replica_identity="d",
    columns=(
        ColumnMeta("id", 20, flags=1),
        ColumnMeta("v_text", 1043),
        ColumnMeta("v_int", 23),
        ColumnMeta("v_arr", 1007),
    ),
)


class TestDecoder:
    def test_relation_registry(self):
        d = PgOutputDecoder()
        assert d.decode(encode_relation(REL)) is None
        assert d.relations[16384].name == "test"
        assert [c.name for c in d.relations[16384].columns] == [
            "id", "v_text", "v_int", "v_arr",
        ]

    def test_insert_roundtrip_with_null(self):
        d = PgOutputDecoder()
        d.decode(encode_relation(REL))
        rec = d.decode(encode_insert(16384, ["1", "héllo, wörld", None, "{1,2}"]))
        assert isinstance(rec, ChangeRecord) and rec.op == "I"
        # identity roundtrip incl. non-ASCII; NULL is present-but-null
        assert rec.columns == {
            "id": "1", "v_text": "héllo, wörld", "v_int": None, "v_arr": "{1,2}",
        }

    def test_update_skips_old_tuple_keeps_new(self):
        d = PgOutputDecoder()
        d.decode(encode_relation(REL))
        rec = d.decode(
            encode_update(16384, ["1", "new", "9", "{}"],
                          old_values=["1", "old", "8", "{}"])
        )
        assert rec.op == "U"
        assert rec.columns["v_text"] == "new"

    def test_update_toast_column_absent(self):
        d = PgOutputDecoder()
        d.decode(encode_relation(REL))
        rec = d.decode(encode_update(16384, ["1", None, "9", None], toast={1, 3}))
        # toast overrides: columns 1,3 absent (not null)
        assert rec.columns == {"id": "1", "v_int": "9"}
        assert "v_text" not in rec.columns

    def test_delete_carries_key_tuple(self):
        d = PgOutputDecoder()
        d.decode(encode_relation(REL))
        rec = d.decode(encode_delete(16384, ["7", None, None, None]))
        assert rec.op == "D"
        assert rec.columns["id"] == "7"

    def test_txn_markers(self):
        d = PgOutputDecoder()
        b = d.decode(encode_begin(100, 999, 42))
        c = d.decode(encode_commit(100, 101, 999))
        assert isinstance(b, TxBegin) and b.xid == 42
        assert isinstance(c, TxCommit) and c.commit_lsn == 100

    def test_dml_before_relation_is_error(self):
        d = PgOutputDecoder()
        with pytest.raises(ProtocolError):
            d.decode(encode_insert(16384, ["1", "x", "2", "{}"]))

    def test_ignored_kinds(self):
        d = PgOutputDecoder()
        for tag in (b"Y", b"O", b"T", b"M"):
            assert d.decode(tag + b"\x00\x00\x00\x00") is None

    def test_schema_evolution_reregisters(self):
        d = PgOutputDecoder()
        d.decode(encode_relation(REL))
        evolved = Relation(
            16384, "public", "test", "d",
            REL.columns + (ColumnMeta("added", 23),),
        )
        d.decode(encode_relation(evolved))
        rec = d.decode(encode_insert(16384, ["1", "x", "2", "{}", "5"]))
        assert rec.columns["added"] == "5"


def _make_archive(path: str) -> None:
    """3 txns: [2 inserts], [update with TOAST + delete], [1 insert] plus a
    standalone DML outside any txn."""
    from postgresql_cdc_spark.streaming.source import write_wal_archive

    frames = [
        (1, encode_relation(REL)),
        (10, encode_begin(30, 1000, 101)),
        (11, encode_insert(16384, ["1", "a", "10", "{1}"])),
        (12, encode_insert(16384, ["2", "b", None, "{}"])),
        (30, encode_commit(30, 31, 1000)),
        (40, encode_begin(60, 2000, 102)),
        (41, encode_update(16384, ["1", None, "11", None], toast={1, 3})),
        (42, encode_delete(16384, ["2", None, None, None])),
        (60, encode_commit(60, 61, 2000)),
        (70, encode_insert(16384, ["3", "c", "30", "{3}"])),  # no txn
        (80, encode_begin(99, 3000, 103)),
        (81, encode_insert(16384, ["4", "d", "40", "{4}"])),
        (99, encode_commit(99, 100, 3000)),
    ]
    write_wal_archive(path, frames)


class TestWalArchiveReader:
    def test_offsets_records_and_ack(self, tmp_path):
        from postgresql_cdc_spark.streaming.source import WalArchiveStreamReader

        arch = str(tmp_path / "wal")
        _make_archive(arch)
        r = WalArchiveStreamReader({"path": arch, "maxrecordsperbatch": "3"})

        start = r.initialOffset()
        end1 = r.latestOffset()
        # budget 3: txn 102's second DML would be the 4th, so the batch
        # ends at txn 101's COMMIT, the last boundary within the budget
        assert end1 == {"lsn": 30, "txn_open": False}
        rows1 = envelope_rows(r.read(r.partitions(start, end1)[0]))
        assert [(row[0], row[4], row[5]) for row in rows1] == [
            ("I", 11, 101), ("I", 12, 101),
        ]

        r.commit(end1)
        ack = json.load(open(os.path.join(arch, "_flushed_lsn")))
        assert ack["flushed_lsn"] == end1["lsn"]

        # a DML outside any transaction is a boundary too
        end2 = r.latestOffset()
        assert end2 == {"lsn": 70, "txn_open": False}
        rows2 = envelope_rows(r.read(r.partitions(end1, end2)[0]))
        assert [(row[0], row[4], row[5]) for row in rows2] == [
            ("U", 41, 102), ("D", 42, 102), ("I", 70, -1),
        ]
        # TOAST columns absent from the update's map
        assert rows2[0][6] == {"id": "1", "v_int": "11"}

        end3 = r.latestOffset()
        rows3 = envelope_rows(r.read(r.partitions(end2, end3)[0]))
        assert [(row[0], row[4], row[5]) for row in rows3] == [
            ("I", 81, 103),
        ]

    def test_batch_ends_at_last_commit_within_budget(self, tmp_path):
        """A COMMIT before the budget ends the batch there: the next
        transaction does not ride along past ``maxRecordsPerBatch``."""
        from postgresql_cdc_spark.streaming.source import (
            WalArchiveStreamReader,
            write_wal_archive,
        )

        arch = str(tmp_path / "wal_cap")
        frames = [
            (1, encode_relation(REL)),
            (10, encode_begin(13, 1000, 101)),
            (11, encode_insert(16384, ["1", "a", "1", "{}"])),
            (12, encode_insert(16384, ["2", "b", "2", "{}"])),
            (13, encode_commit(13, 14, 1000)),
            (20, encode_begin(24, 2000, 102)),
            (21, encode_insert(16384, ["3", "c", "3", "{}"])),
            (22, encode_insert(16384, ["4", "d", "4", "{}"])),
            (23, encode_insert(16384, ["5", "e", "5", "{}"])),
            (24, encode_commit(24, 25, 2000)),
            (30, encode_begin(32, 3000, 103)),
            (31, encode_insert(16384, ["6", "f", "6", "{}"])),
            (32, encode_commit(32, 33, 3000)),
        ]
        write_wal_archive(arch, frames)
        r = WalArchiveStreamReader({"path": arch, "maxrecordsperbatch": "3"})
        ends = [r.initialOffset()]
        for _ in range(3):
            ends.append(r.latestOffset())
        assert ends[1:] == [
            {"lsn": 13, "txn_open": False},
            {"lsn": 24, "txn_open": False},  # exactly the budget
            {"lsn": 32, "txn_open": False},
        ]
        lsns = [
            [row[4] for row in envelope_rows(r.read(r.partitions(a, b)[0]))]
            for a, b in zip(ends, ends[1:])
        ]
        assert lsns == [[11, 12], [21, 22, 23], [31]]

    def test_oversize_committed_txn_is_split(self, tmp_path):
        """A committed transaction larger than the budget is flushed early,
        mid-transaction, one budget at a time; only its COMMIT is acked:
        until then the ack holds the reader's starting offset, never a
        mid-transaction LSN."""
        from postgresql_cdc_spark.streaming.source import (
            WalArchiveStreamReader,
            write_wal_archive,
        )

        arch = str(tmp_path / "wal_split")
        frames = [
            (1, encode_relation(REL)),
            (10, encode_begin(40, 1000, 7)),
            (11, encode_insert(16384, ["1", "a", "1", "{}"])),
            (12, encode_insert(16384, ["2", "b", "2", "{}"])),
            (13, encode_insert(16384, ["3", "c", "3", "{}"])),
            (40, encode_commit(40, 41, 1000)),
        ]
        write_wal_archive(arch, frames)
        r = WalArchiveStreamReader({"path": arch, "maxrecordsperbatch": "1"})
        ack = os.path.join(arch, "_flushed_lsn")
        start = r.initialOffset()
        got = []
        for want in ({"lsn": 11, "txn_open": True},
                     {"lsn": 12, "txn_open": True},
                     {"lsn": 40, "txn_open": False}):
            end = r.latestOffset()
            assert end == want
            got.append([row[4] for row in
                        envelope_rows(r.read(r.partitions(start, end)[0]))])
            r.commit(end)
            acked = json.load(open(ack))["flushed_lsn"]
            assert acked == (-1 if want["txn_open"] else want["lsn"])
            start = end
        assert got == [[11], [12], [13]]
        assert json.load(open(ack))["flushed_lsn"] == 40

    def test_trailing_truncate_txn_still_acks_tail(self, tmp_path):
        """A TRUNCATE-only transaction at the END of the archive contributes
        zero rows but consumes LSNs; the batch cursor must still advance to
        its commit and ack it (a chunker equating 'no rows' with 'no
        progress' would strand the flush LSN before the tail forever)."""
        from postgresql_cdc_spark.streaming.source import (
            WalArchiveStreamReader,
            write_wal_archive,
        )

        arch = str(tmp_path / "wal_trunc")
        frames = [
            (1, encode_relation(REL)),
            (10, encode_begin(12, 1000, 101)),
            (11, encode_insert(16384, ["1", "a", "10", "{1}"])),
            (12, encode_commit(12, 13, 1000)),
            (20, encode_begin(22, 2000, 102)),
            (21, encode_truncate([16384], restart_identity=True)),
            (22, encode_commit(22, 23, 2000)),
        ]
        write_wal_archive(arch, frames)
        r = WalArchiveStreamReader({"path": arch, "maxrecordsperbatch": "10"})
        start = r.initialOffset()
        end = r.latestOffset()
        assert end == {"lsn": 22, "txn_open": False}
        rows = envelope_rows(r.read(r.partitions(start, end)[0]))
        assert [(row[0], row[4]) for row in rows] == [("I", 11)]
        r.commit(end)
        ack = json.load(open(os.path.join(arch, "_flushed_lsn")))
        assert ack["flushed_lsn"] == 22

    def test_no_ack_while_txn_open(self, tmp_path):
        from postgresql_cdc_spark.streaming.source import (
            WalArchiveStreamReader,
            write_wal_archive,
        )

        arch = str(tmp_path / "wal2")
        # oversize txn: 3 DML, budget 1 → early flush mid-txn
        frames = [
            (1, encode_relation(REL)),
            (10, encode_begin(90, 1000, 7)),
            (11, encode_insert(16384, ["1", "a", "1", "{}"])),
            (12, encode_insert(16384, ["2", "b", "2", "{}"])),
        ]
        write_wal_archive(arch, frames)
        r = WalArchiveStreamReader({"path": arch, "maxrecordsperbatch": "1"})
        end = r.latestOffset()
        assert end["txn_open"] is True  # stream ends inside the txn
        r.commit(end)
        # mid-transaction offsets are never acked (CdcEngine.java:132
        # guard): the ack holds the reader's starting offset
        ack = json.load(open(os.path.join(arch, "_flushed_lsn")))
        assert ack["flushed_lsn"] == -1

    def test_batch_replay_and_materialize(self, spark, tmp_path):
        from postgresql_cdc_spark.operators.materialize import materialize
        from postgresql_cdc_spark.streaming.source import PgCdcDataSource

        arch = str(tmp_path / "wal3")
        _make_archive(arch)
        spark.dataSource.register(PgCdcDataSource)
        df = spark.read.format("pgcdc").option("path", arch).load()
        assert df.count() == 6

        state = materialize(df, keys=["id"], merge_sparse=True)
        rows = {r["columns"]["id"]: dict(r["columns"]) for r in state.collect()}
        # id=1: insert then sparse update; v_text/v_arr inherited via merge
        assert rows["1"] == {"id": "1", "v_text": "a", "v_int": "11", "v_arr": "{1}"}
        assert "2" not in rows  # deleted
        assert rows["3"]["v_text"] == "c"
        assert rows["4"]["v_text"] == "d"

    def test_streaming_end_to_end_available_now(self, spark, tmp_path):
        """AvailableNow is unsupported by the Python data source API — Spark
        falls back to a single batch; option readall makes that one batch
        cover the whole archive instead of stopping at the first txn-aligned
        budget boundary."""
        from postgresql_cdc_spark.streaming.source import PgCdcDataSource

        arch = str(tmp_path / "wal4")
        _make_archive(arch)
        spark.dataSource.register(PgCdcDataSource)
        q = (
            spark.readStream.format("pgcdc")
            .option("path", arch)
            .option("readall", "true")
            .load()
            .writeStream.format("memory")
            .queryName("cdc_stream")
            .option(
                "checkpointLocation", str(tmp_path / "ckpt")
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.sql(
            "select op, lsn, txn_id from cdc_stream order by lsn"
        ).collect()
        assert [(r.op, r.lsn, r.txn_id) for r in got] == [
            ("I", 11, 101), ("I", 12, 101), ("U", 41, 102),
            ("D", 42, 102), ("I", 70, -1), ("I", 81, 103),
        ]

    def test_streaming_multi_batch_chunking(self, spark, tmp_path):
        """Default trigger + processAllAvailable drives the real micro-batch
        path: maxRecordsPerBatch=3 must split the archive into >=2 txn-aligned
        batches without losing or duplicating records."""
        from postgresql_cdc_spark.streaming.source import PgCdcDataSource

        arch = str(tmp_path / "wal5")
        _make_archive(arch)
        spark.dataSource.register(PgCdcDataSource)
        q = (
            spark.readStream.format("pgcdc")
            .option("path", arch)
            .option("maxRecordsPerBatch", "3")
            .load()
            .writeStream.format("memory")
            .queryName("cdc_stream_mb")
            .option("checkpointLocation", str(tmp_path / "ckpt5"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = spark.sql(
            "select op, lsn, txn_id from cdc_stream_mb order by lsn"
        ).collect()
        assert [(r.op, r.lsn, r.txn_id) for r in got] == [
            ("I", 11, 101), ("I", 12, 101), ("U", 41, 102),
            ("D", 42, 102), ("I", 70, -1), ("I", 81, 103),
        ]
        assert q.lastProgress["batchId"] >= 1  # actually chunked

    def test_offset_recovery_after_restart(self, tmp_path):
        """A fresh reader (simulating query restart) must not offer an end
        offset below what was committed: it seeds from the ack file and
        clamps to batch ends handed back by the engine."""
        from postgresql_cdc_spark.streaming.source import WalArchiveStreamReader

        arch = str(tmp_path / "wal6")
        _make_archive(arch)
        r1 = WalArchiveStreamReader({"path": arch, "maxrecordsperbatch": "3"})
        start = r1.initialOffset()
        end1 = r1.latestOffset()
        r1.commit(end1)

        # restart: new instance, in-memory cursor gone — ack file seeds it
        r2 = WalArchiveStreamReader({"path": arch, "maxrecordsperbatch": "3"})
        assert r2.initialOffset()["lsn"] == end1["lsn"]
        end2 = r2.latestOffset()
        assert end2["lsn"] >= end1["lsn"]
        rows = envelope_rows(r2.read(r2.partitions(end1, end2)[0]))
        # only the records after batch 1, no re-emission of it
        assert [(row[0], row[4]) for row in rows] == [
            ("U", 41), ("D", 42), ("I", 70),
        ]

        # restart with NO ack (crash before first commit): partitions() clamp
        # adopts the checkpointed end so latestOffset never regresses
        r3 = WalArchiveStreamReader(
            {"path": arch, "maxrecordsperbatch": "3", "ackpath": str(tmp_path / "none")}
        )
        r3.partitions(start, end1)  # engine replays the checkpointed batch
        end3 = r3.latestOffset()
        assert end3["lsn"] >= end1["lsn"]


class TestMultiChunkArchive:
    def test_frames_ordered_across_chunks(self, tmp_path):
        """A real WAL archiver rotates chunk files; frames must replay in
        chunk-name order regardless of write order."""
        from postgresql_cdc_spark.streaming.source import (
            read_wal_frames,
            write_wal_archive,
        )

        arch = str(tmp_path / "wal_chunks")
        # write the LATER chunk first — ordering must come from names
        write_wal_archive(arch, [(30, b"C3"), (40, b"C4")], chunk="000001.wal")
        write_wal_archive(arch, [(10, b"C1"), (20, b"C2")], chunk="000000.wal")
        got = list(read_wal_frames(arch))
        assert got == [(10, b"C1"), (20, b"C2"), (30, b"C3"), (40, b"C4")]


class TestDrainBounded:
    def test_sink_failure_surfaces_not_partial_success(self, spark, tmp_path):
        """A stream that dies mid-run (foreachBatch raises) must raise from
        _drain_bounded — never report success with only the batches that
        committed before the failure (the silent-partial-result hole the
        round-7 review closed)."""
        from postgresql_cdc_spark.plans.streaming_gate import _drain_bounded
        from postgresql_cdc_spark.streaming.source import PgCdcDataSource

        arch = str(tmp_path / "wal_fail")
        _make_archive(arch)
        try:
            spark.dataSource.register(PgCdcDataSource)
        except Exception:
            pass

        def explode(batch_df, batch_id):
            raise ValueError("sink blew up")

        q = (
            spark.readStream.format("pgcdc")
            .option("path", arch)
            .option("maxRecordsPerBatch", "2")
            .load()
            .writeStream.foreachBatch(explode)
            .option("checkpointLocation", str(tmp_path / "ckpt_fail"))
            .start()
        )
        with pytest.raises(Exception) as exc_info:
            _drain_bounded(q, timeout_s=120.0)
        assert "sink blew up" in str(exc_info.value)

    def test_clean_drain_returns_quietly(self, spark, tmp_path):
        from postgresql_cdc_spark.plans.streaming_gate import _drain_bounded
        from postgresql_cdc_spark.streaming.source import PgCdcDataSource

        arch = str(tmp_path / "wal_ok")
        _make_archive(arch)
        try:
            spark.dataSource.register(PgCdcDataSource)
        except Exception:
            pass
        seen = []
        q = (
            spark.readStream.format("pgcdc")
            .option("path", arch)
            .option("maxRecordsPerBatch", "2")
            .load()
            .writeStream.foreachBatch(
                lambda b, bid: seen.append(b.count())
            )
            .option("checkpointLocation", str(tmp_path / "ckpt_ok"))
            .start()
        )
        _drain_bounded(q, timeout_s=120.0)
        assert sum(seen) == 6  # every archive row delivered exactly once


class TestStartLsnHandover:
    def test_startlsn_skips_snapshot_covered_changes(self, tmp_path):
        from postgresql_cdc_spark.streaming.source import WalArchiveStreamReader

        arch = str(tmp_path / "wal_snap")
        _make_archive(arch)
        # snapshot taken at the first txn's commit (LSN 30): the two inserts
        # it covers must never be re-consumed, later txns flow normally
        r = WalArchiveStreamReader(
            {"path": arch, "readall": "true", "startlsn": "30"}
        )
        start = r.initialOffset()
        assert start == {"lsn": 30, "txn_open": False}
        end = r.latestOffset()
        rows = envelope_rows(r.read(r.partitions(start, end)[0]))
        assert [(row[0], row[4]) for row in rows] == [
            ("U", 41), ("D", 42), ("I", 70), ("I", 81),
        ]

    def test_checkpoint_ahead_of_startlsn_wins(self, tmp_path):
        import json as _json
        import os as _os

        from postgresql_cdc_spark.streaming.source import WalArchiveStreamReader

        arch = str(tmp_path / "wal_snap2")
        _make_archive(arch)
        with open(_os.path.join(arch, "_flushed_lsn"), "w") as f:
            _json.dump({"flushed_lsn": 60}, f)
        # restart recovery outranks the bootstrap parameter: resume at 60
        r = WalArchiveStreamReader(
            {"path": arch, "readall": "true", "startlsn": "30"}
        )
        assert r.initialOffset()["lsn"] == 60
        end = r.latestOffset()
        rows = envelope_rows(r.read(r.partitions(r.initialOffset(), end)[0]))
        assert [(row[0], row[4]) for row in rows] == [("I", 70), ("I", 81)]

    def test_startlsn_ahead_of_stale_checkpoint_wins(self, tmp_path):
        import json as _json
        import os as _os

        from postgresql_cdc_spark.streaming.source import WalArchiveStreamReader

        arch = str(tmp_path / "wal_snap3")
        _make_archive(arch)
        with open(_os.path.join(arch, "_flushed_lsn"), "w") as f:
            _json.dump({"flushed_lsn": 12}, f)
        r = WalArchiveStreamReader(
            {"path": arch, "readall": "true", "startlsn": "30"}
        )
        assert r.initialOffset()["lsn"] == 30
