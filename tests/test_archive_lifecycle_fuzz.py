"""Property fuzz for the archive lifecycle: ANY chunking of the frame
stream, followed by ANY interleaving of index / prune / compact
maintenance, must replay byte-identically to the original stream (modulo
retention: frames at or below the prune point disappear, everything after
survives exactly once).

Pure-Python (decoder-level) — no Spark session — so the fuzz can afford
many examples.
"""

from __future__ import annotations

import os

import pytest
from hypothesis import given, settings, strategies as st

from postgresql_cdc_spark.sources.pgoutput import (
    ColumnMeta,
    PgOutputDecoder,
    Relation,
    encode_begin,
    encode_commit,
    encode_insert,
    encode_relation,
)
from postgresql_cdc_spark.streaming.archive_maintenance import (
    compact_wal_archive,
)
from postgresql_cdc_spark.streaming.source import (
    WalArchiveStreamReader,
    prune_wal_archive,
    scan_wal_messages,
    write_wal_archive,
)
from tests.test_parallel_replay import envelope_rows

REL = Relation(
    relation_id=16384,
    schema="public",
    name="t",
    replica_identity="d",
    columns=(ColumnMeta("id", 20, flags=1), ColumnMeta("v", 1043)),
)


def _frames(n_txns: int):
    """RELATION + n_txns of (BEGIN, 2 inserts, COMMIT), LSNs 1..4n+1."""
    out = [(1, encode_relation(REL))]
    lsn = 1
    for x in range(n_txns):
        lsn += 1
        out.append((lsn, encode_begin(lsn + 3, 0, 100 + x)))
        for i in range(2):
            lsn += 1
            out.append((lsn, encode_insert(16384, [str(x), f"v{x}.{i}"])))
        lsn += 1
        out.append((lsn, encode_commit(lsn, lsn, 0)))
    return out


def _write_chunks(path: str, frames, cuts) -> None:
    """Split ``frames`` at the (sorted, unique) ``cuts`` indices."""
    bounds = [0] + sorted(set(cuts)) + [len(frames)]
    c = 0
    for lo, hi in zip(bounds, bounds[1:]):
        if lo < hi:
            write_wal_archive(path, frames[lo:hi], chunk=f"{c:06d}.wal")
            c += 1


def _replay(path: str):
    d = PgOutputDecoder()
    return [
        (lsn, type(m).__name__)
        for lsn, m in scan_wal_messages(
            path, d, {"txn_open": False, "txn_id": -1}
        )
    ]


@settings(max_examples=40, deadline=None)
@given(
    n_txns=st.integers(min_value=2, max_value=8),
    cuts=st.lists(st.integers(min_value=1, max_value=32), max_size=6),
    target=st.integers(min_value=1, max_value=4096),
    data=st.data(),
)
def test_index_prune_compact_replay_invariant(tmp_path_factory, n_txns,
                                              cuts, target, data):
    arch = str(tmp_path_factory.mktemp("fuzzwal"))
    frames = _frames(n_txns)
    _write_chunks(arch, frames, [c for c in cuts if c < len(frames)])
    rd = PgOutputDecoder()
    want = [(lsn, type(rd.decode(b)).__name__) for lsn, b in frames]
    # independent reference replay of the raw frames (registry fresh)
    ref = _replay(arch)
    assert ref == want

    # index everything (the driver-side latestOffset pass)
    WalArchiveStreamReader(
        {"path": arch, "readall": "true",
         "ackpath": os.path.join(arch, "__noack")}
    ).latestOffset()

    # random maintenance order: prune to a commit boundary or not, compact
    # with a random byte target, possibly twice
    commit_lsns = [lsn for lsn, b in frames if b[:1] == b"C"]
    ops = data.draw(st.lists(
        st.sampled_from(["prune", "compact"]), min_size=1, max_size=3
    ))
    pruned_to = -1
    for op in ops:
        if op == "prune":
            upto = data.draw(st.sampled_from(commit_lsns))
            r = prune_wal_archive(arch, upto_lsn=upto)
            if r["base_lsn"] is not None:
                pruned_to = max(pruned_to, r["base_lsn"])
        else:
            compact_wal_archive(arch, target_chunk_bytes=target)

    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("ignore")  # retention-head warning is expected
        got = _replay(arch)
    expect = [(lsn, k) for lsn, k in ref if lsn > pruned_to]
    assert got == expect
    lsns = [l for l, _ in got]
    assert lsns == sorted(set(lsns)), "duplicates or disorder after maintenance"


# --- multi-slot concurrent drain racing prune + compact -----------------------

@pytest.mark.parametrize("slot", ["a", None])
def test_slot_that_never_acked_holds_prune(tmp_path, slot):
    """A reader whose first batch ends mid-transaction has acked nothing,
    yet its open transaction's chunk must survive a default prune that
    another slot's ack would allow: the fuzz below found the prune
    dropping it, and the reader's next batch then raising
    ``ProtocolError``. A reader without ``slot`` (the default ack file)
    is held the same way."""
    arch = str(tmp_path / "arch")
    frames = _frames(2)
    _write_chunks(arch, frames, [4])
    opts = {"path": arch, "maxrecordsperbatch": "1"}
    if slot is not None:
        opts["slot"] = slot
    a = WalArchiveStreamReader(opts)
    b = WalArchiveStreamReader({"path": arch, "slot": "b",
                                "maxrecordsperbatch": "3"})
    cur = {}
    for name, r in (("a", a), ("b", b)):
        end = r.latestOffset()
        envelope_rows(r.read(r.partitions(r.initialOffset(), end)[0]))
        r.commit(end)
        cur[name] = end
    assert cur["a"] == {"lsn": 3, "txn_open": True}
    assert cur["b"] == {"lsn": 5, "txn_open": False}
    assert prune_wal_archive(arch)["pruned_chunks"] == 0
    end = a.latestOffset()
    rows = envelope_rows(a.read(a.partitions(cur["a"], end)[0]))
    assert [t[4] for t in rows] == [4]
    a.commit(end)
    assert prune_wal_archive(arch)["base_lsn"] == 4


@settings(max_examples=25, deadline=None)
@given(
    n_txns=st.integers(min_value=2, max_value=8),
    cuts=st.lists(st.integers(min_value=1, max_value=32), max_size=6),
    target=st.integers(min_value=1, max_value=4096),
    b_a=st.integers(min_value=1, max_value=5),
    b_b=st.integers(min_value=3, max_value=12),
    data=st.data(),
)
def test_multi_slot_drain_races_prune_and_compact(tmp_path_factory, n_txns,
                                                  cuts, target, b_a, b_b,
                                                  data):
    """The shared-archive contract under CONCURRENT consumption: two slot
    consumers with different micro-batch budgets drain the same archive
    while prune (default: min over every slot ack) and compact interleave
    at arbitrary points. Every cycle's rows must be EXACTLY the reference
    stream restricted to (max(cursor, retention base), end] — so each
    slot's replayed stream is prefix-complete to its ack, byte-exact, and
    duplicate-free — and both slots must drain to the head regardless of
    the maintenance interleaving."""
    import warnings

    arch = str(tmp_path_factory.mktemp("fuzzslots"))
    frames = _frames(n_txns)
    _write_chunks(arch, frames, [c for c in cuts if c < len(frames)])
    head = frames[-1][0]

    # reference stream: full drain of the pristine archive (non-counting
    # ack path so the reference never influences the min-over-acks prune)
    ref_reader = WalArchiveStreamReader(
        {"path": arch, "readall": "true",
         "ackpath": os.path.join(arch, "__noack")}
    )
    ref_end = ref_reader.latestOffset()
    ref = envelope_rows(ref_reader.read(
        ref_reader.partitions({"lsn": -1, "txn_open": False}, ref_end)[0]
    ))
    assert ref_end["lsn"] == head

    base = -1  # highest retention base committed by any prune so far

    class Slot:
        def __init__(self, name: str, budget: int) -> None:
            self.reader = WalArchiveStreamReader(
                {"path": arch, "slot": name,
                 "maxrecordsperbatch": str(budget)}
            )
            self.cur = self.reader.initialOffset()
            self.name = name

        def cycle(self):
            with warnings.catch_warnings():
                warnings.simplefilter("ignore")  # fresh-below-base warning
                end = self.reader.latestOffset()
                part = self.reader.partitions(self.cur, end)[0]
                rows = envelope_rows(self.reader.read(part))
            self.reader.commit(end)
            lo = max(self.cur["lsn"], base)
            want = [t for t in ref if lo < t[4] <= end["lsn"]]
            assert rows == want, (self.name, self.cur, end, base)
            self.cur = end
            return end

    slots = {"a": Slot("a", b_a), "b": Slot("b", b_b)}
    ops = data.draw(st.lists(
        st.sampled_from(["cycle:a", "cycle:b", "prune", "compact"]),
        min_size=3, max_size=12,
    ))
    for op in ops:
        if op.startswith("cycle:"):
            slots[op[6:]].cycle()
        elif op == "prune":
            r = prune_wal_archive(arch)  # default: min over slot acks
            if r.get("base_lsn") is not None:
                base = max(base, r["base_lsn"])
        else:
            compact_wal_archive(arch, target_chunk_bytes=target)

    # drain both slots to the head; bounded loop (every non-empty cycle
    # advances >= 1 DML, and budgets are >= 1)
    for s in slots.values():
        for _ in range(4 * n_txns + 8):
            end = s.cycle()
            if end["lsn"] >= head and not end.get("txn_open"):
                break
        assert s.cur["lsn"] == head, (s.name, s.cur)
