"""``read()`` builds Arrow record batches column by column; they must hold
exactly the envelope rows the row-tuple read produced, in LSN order, typed
as the Arrow data Spark itself makes of ``ENVELOPE_SCHEMA`` rows.

The tuple read is kept here only as the oracle. Spark-free: the conversion
Spark's worker applies to tuples (``records_to_arrow_batches``) runs in
process.
"""

from __future__ import annotations

import pyarrow as pa
import pytest

from postgresql_cdc_spark.sources.pgoutput import (
    ChangeRecord,
    PgOutputDecoder,
    encode_begin,
    encode_commit,
    encode_delete,
    encode_insert,
    encode_relation,
    encode_update,
)
from postgresql_cdc_spark.streaming.source import (
    _BATCH_ROWS,
    _OPEN_END,
    ENVELOPE_SCHEMA,
    PgCdcDataSource,
    WalArchiveBatchReader,
    _read_envelope,
    _WalPartition,
    scan_wal_messages,
    write_wal_archive,
)
from tests.test_parallel_replay import (
    REL_A,
    REL_A2,
    REL_B,
    _cores,
    _txn_frames,
    envelope_rows,
)


def _tuple_envelope(partition: _WalPartition):
    """The oracle: the row-tuple read that ``_read_envelope`` replaced."""
    decoder = PgOutputDecoder()
    state = {"txn_open": False, "txn_id": -1}
    for lsn, msg in scan_wal_messages(
        partition.path, decoder, state, skip_upto_lsn=partition.start_lsn,
    ):
        if lsn > partition.end_lsn:
            break
        if isinstance(msg, ChangeRecord):
            yield (msg.op, msg.relation.schema, msg.relation.name,
                   msg.relation.relation_id, lsn, state["txn_id"],
                   msg.columns)
        if lsn == partition.end_lsn:
            break


def _spark_arrow(rows: list) -> pa.Table:
    """What Spark's worker made of the tuple rows: its own tuple-to-Arrow
    conversion against the ``ENVELOPE_SCHEMA`` schema."""
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        MapType,
        StringType,
        StructType,
    )
    from pyspark.sql.worker.plan_data_source_read import (
        records_to_arrow_batches,
    )

    s = StringType()
    rtype = (StructType().add("op", s).add("schema", s).add("table", s)
             .add("relation_id", IntegerType()).add("lsn", LongType())
             .add("txn_id", LongType()).add("columns", MapType(s, s)))
    assert rtype == ENVELOPE_SCHEMA
    batches = list(records_to_arrow_batches(iter(rows), _BATCH_ROWS, rtype,
                                            PgCdcDataSource({})))
    return pa.Table.from_batches(batches, schema=batches[0].schema)


def _assert_equivalent(partition: _WalPartition) -> list:
    batches = list(_read_envelope(partition))
    want = list(_tuple_envelope(partition))
    assert envelope_rows(batches) == want
    assert all(0 < b.num_rows <= _BATCH_ROWS for b in batches)
    if want:
        got = pa.Table.from_batches(batches)
        ref = _spark_arrow(want)
        assert got.schema.equals(ref.schema)
        assert got.equals(ref)
    else:
        assert batches == []
    return batches


def _edge_frames():
    """NULLs, TOAST-absent columns (one row with every column absent), a
    RELATION change mid-stream, DML outside any transaction, and a
    non-ASCII value."""
    return [
        (1, encode_relation(REL_A)),
        (2, encode_relation(REL_B)),
        (3, encode_begin(9, 0, 700)),
        (4, encode_insert(16384, ["1", None])),
        (5, encode_update(16384, ["1", "x"], toast={1})),
        (6, encode_update(16384, ["1", "x"], toast={0, 1})),
        (7, encode_insert(16385, ["7"])),
        (8, encode_delete(16384, ["1", None])),
        (9, encode_commit(9, 9, 0)),
        (10, encode_relation(REL_A2)),
        (11, encode_insert(16384, ["2", "ü€", None])),
        (12, encode_begin(14, 0, 701)),
        (13, encode_update(16384, ["2", None, "3"], toast={1})),
        (14, encode_commit(14, 14, 0)),
    ]


def test_edge_rows_match_tuple_read(tmp_path):
    arch = str(tmp_path / "wal")
    write_wal_archive(arch, _edge_frames())
    rows = envelope_rows(_assert_equivalent(_WalPartition(arch, -1, _OPEN_END)))
    by_lsn = {r[4]: r for r in rows}
    assert by_lsn[4][6] == {"id": "1", "v": None}  # NULL is present
    assert by_lsn[5][6] == {"id": "1"}  # TOAST-unchanged is absent
    assert by_lsn[6][6] == {}
    assert by_lsn[11][6] == {"id": "2", "v": "ü€", "w": None}  # REL_A2
    assert by_lsn[11][5] == -1 and by_lsn[13][5] == 701


@pytest.mark.parametrize("lo,hi", [(-1, 3), (9, 10), (4, 4), (5, 8), (10, 14)])
def test_windows_match_tuple_read(tmp_path, lo, hi):
    """Empty windows (only RELATION and BEGIN, only COMMIT and RELATION,
    start == end) yield no batch; windows starting mid-transaction keep the
    transaction's id."""
    arch = str(tmp_path / "wal")
    write_wal_archive(arch, _edge_frames())
    _assert_equivalent(_WalPartition(arch, lo, hi))


def test_split_partitions_match_tuple_read(tmp_path):
    """Every chunk ends inside a transaction, so every partition the batch
    planner cuts opens mid-transaction: each equals the tuple read of the
    same range, and the straddling transaction keeps its id."""
    arch = str(tmp_path / "wal")
    frames = _txn_frames(40)  # RELATION, then 5 frames a transaction
    cuts = [0, 7, 45, 93, 130, len(frames)]
    for c, (a, b) in enumerate(zip(cuts, cuts[1:])):
        write_wal_archive(arch, frames[a:b], chunk=f"{c:06d}.wal")
    with _cores(4):
        parts = WalArchiveBatchReader({"path": arch}).partitions()
    assert len(parts) > 1
    rows = [r for p in parts for r in envelope_rows(_assert_equivalent(p))]
    assert len(rows) == 120
    assert all(txn == 500 + int(cols["id"]) for *_, txn, cols in rows)


def test_large_partition_spans_batches(tmp_path):
    arch = str(tmp_path / "wal")
    write_wal_archive(arch, _txn_frames(7001))  # 21,003 rows
    batches = _assert_equivalent(_WalPartition(arch, -1, _OPEN_END))
    assert [b.num_rows for b in batches] == [_BATCH_ROWS, _BATCH_ROWS, 1003]
