"""Structured Streaming CDC source (Spark 4 Python Data Source API).

Realizes the reference engine loop S1-S16 (`CdcEngine.java:67-160`) on Spark's
streaming contract:

- offsets are LSNs; ``latestOffset`` advances at most ``maxRecordsPerBatch``
  DML records per micro-batch, preferring transaction boundaries — an
  oversize transaction is split across batches (early flush,
  `CdcEngine.java:121-124`) but the LSN is only *acknowledged* when no
  transaction is open (`CdcEngine.java:132-137` guard), giving at-least-once,
  txn-aligned delivery;
- ``read()`` decodes pgoutput frames into envelope rows
  ``(op, schema, table, relation_id, lsn, txn_id, columns)``, yielded as
  Arrow record batches built column by column;
- ``commit(offset)`` persists the flush LSN (the ``setFlushedLSN`` analog) so
  the producer may discard WAL ≤ LSN;
- a micro-batch is a single input partition — the replication protocol is
  one ordered socket (SURVEY.md §7), and so is the relay feeding the
  archive. A batch replay of the archive (``spark.read``) splits it at
  indexed chunk boundaries into up to one partition per core, each starting
  mid-archive from the sidecar state at its boundary.

Two transports:

- **WAL archive replay** (implemented, what tests exercise): a directory of
  chunk files, each holding length-framed ``(lsn, pgoutput-message)`` records
  — the shape a WAL archiver or Kafka dump produces. Fully deterministic.
- **live socket** (stubbed): needs ``psycopg`` + a PostgreSQL with
  ``wal_level=logical``; neither exists in this container. The decode and
  offset logic is transport-independent, so the live transport only swaps the
  frame iterator.

Where a read's fixed cost goes. ``load()``, read planning and every read
task each run in a Spark Python process, and before each one Spark calls
``importlib.invalidate_caches()``. On CPython 3.12.1 and earlier that makes
every zip importer re-read the directory of ``pyspark.zip``: 15 importers at
about 7.5 ms each, paid again in every reused worker. The data source's
entry points install ``session.cache_zip_directories``, which re-reads an
archive only when it changed. Measured on 4 vCPU over a 30k-change archive
in four partitions (medians of 8 in one warm session): ``load()`` 0.16 s →
0.04 s, and read → noop 0.75 s → 0.39 s with the cache and the Arrow
batches together. Of the Python work per 8.4k-row partition, pgoutput
decode took 0.09 s and Spark's row-tuple-to-Arrow conversion another
0.09 s; building the Arrow batches here (``_read_envelope``) costs about
0.02 s instead.
"""

from __future__ import annotations

import json
import os
import struct
from dataclasses import dataclass
from typing import TYPE_CHECKING, Iterator, List, Optional, Tuple

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql import types as T

from postgresql_cdc_spark.session import cache_zip_directories, default_parallelism
from postgresql_cdc_spark.sources.pgoutput import (
    ChangeRecord,
    ColumnMeta,
    PgOutputDecoder,
    ProtocolError,
    Relation,
    TxBegin,
    TxCommit,
)
from postgresql_cdc_spark.streaming.durable import fsync_dir, fsync_fd, replace_file

if TYPE_CHECKING:
    import pyarrow as pa

# The one spelling of the envelope row; read()'s Arrow schema derives from it.
ENVELOPE_SCHEMA = (
    T.StructType().add("op", "string").add("schema", "string")
    .add("table", "string").add("relation_id", "integer")
    .add("lsn", "long").add("txn_id", "long")
    .add("columns", T.MapType(T.StringType(), T.StringType()))
)

# lsn, payload length. A plain format string, NOT struct.Struct: the
# module is registered for cloudpickle pickle-by-value (so Python
# workers need no importable package) and Struct objects cannot pickle.
_FRAME_FMT = ">qi"
_FRAME_SIZE = struct.calcsize(_FRAME_FMT)
# The end LSN of an open-ended read: past any LSN an archive can hold.
_OPEN_END = 1 << 62
# The message kinds that carry registry or transaction state. Frames a scan
# only steps over (at or behind its cursor) decode just these.
_STATE_TAGS = (b"R", b"B", b"C")
# Rows per Arrow batch that read() yields: Spark's own Arrow batch size
# (``spark.sql.execution.arrow.maxRecordsPerBatch``'s default).
_BATCH_ROWS = 10_000


def write_wal_archive(path: str, frames: List[Tuple[int, bytes]],
                      chunk: str = "000000.wal") -> str:
    """Append length-framed (lsn, message) records to an archive chunk."""
    os.makedirs(path, exist_ok=True)
    fp = os.path.join(path, chunk)
    with open(fp, "ab") as f:
        for lsn, payload in frames:
            f.write(struct.pack(_FRAME_FMT, lsn, len(payload)))
            f.write(payload)
    return fp


def _chunk_frames(name: str, data: bytes) -> Iterator[Tuple[int, bytes, int]]:
    """The archive's one frame parser: ``(lsn, payload, end)`` for each
    length-framed record of one chunk, ``end`` being the byte offset just
    past the record. A chunk was parsed cleanly to its end exactly when the
    last ``end`` equals ``len(data)``.

    A chunk may end in a torn frame (relay crash mid-write). Such a frame was
    never acked — the transport replays it into a later chunk — so the torn
    tail is skipped with a warning rather than yielded as a silently short
    payload or a struct error.
    """
    import warnings

    pos = 0
    while pos < len(data):
        if pos + _FRAME_SIZE > len(data):
            warnings.warn(
                f"wal archive {name}: torn frame header at byte {pos}; "
                "skipping tail (unacked frames replay into a later chunk)"
            )
            return
        lsn, ln = struct.unpack_from(_FRAME_FMT, data, pos)
        pos += _FRAME_SIZE
        if ln < 0 or pos + ln > len(data):
            warnings.warn(
                f"wal archive {name}: torn frame payload at byte {pos} "
                f"(declared {ln}, have {len(data) - pos}); skipping tail"
            )
            return
        yield lsn, data[pos:pos + ln], pos + ln
        pos += ln


def _chunk_order(name: str) -> tuple:
    stem = name[:-4]
    if stem.isascii() and stem.isdigit():
        return (0, int(stem), name)
    return (1, 0, name)


def _chunk_names(path: str) -> List[str]:
    """Archive chunk names in LSN order. Producers write in commit order,
    like WAL itself, and number chunks (``run_wal_relay`` continues from
    the highest number), so a numeric stem's value is LSN order: chunk
    ``1000000`` follows ``999999``, which a string sort would invert.
    Other names follow the numbered chunks, in name order."""
    return sorted((n for n in os.listdir(path) if n.endswith(".wal")),
                  key=_chunk_order)


def read_wal_frames(path: str) -> Iterator[Tuple[int, bytes]]:
    """All frames in the archive in LSN order, each LSN once.

    A frame at or behind the last yielded LSN is dropped: WAL LSNs strictly
    increase, so it is a duplicate copy — a re-shipped unacked frame, or a
    leftover constituent of a chunk merge that crashed before its unlinks
    (``archive_maintenance``). ``scan_wal_messages`` applies the same guard.
    """
    last = -1
    for name in _chunk_names(path):
        data = _read_chunk_bytes(os.path.join(path, name))
        for lsn, payload, _ in _chunk_frames(name, data):
            if lsn > last:
                last = lsn
                yield lsn, payload


@dataclass
class _WalPartition(InputPartition):
    path: str
    start_lsn: int
    end_lsn: int


# -- chunk index (sidecars) ---------------------------------------------------
#
# Without an index, every latestOffset() re-reads and re-decodes the archive
# from the head (to rebuild the relation registry and find the cursor), which
# is O(archive) per micro-batch — quadratic total work over a long-lived
# stream. Each ``<chunk>.wal`` gets a lazily-written ``<chunk>.wal.idx``
# sidecar recording, as of the chunk's last frame: the byte size indexed, the
# max LSN, the open-transaction state, and a FULL snapshot of the relation
# registry. A scan may then skip any chunk whose sidecar is valid (size
# matches — chunks are append-only) and whose max LSN is at or below the
# cursor, restoring registry + txn state from the snapshot instead of
# re-decoding. Registry snapshots are cumulative by induction: every scan
# walks the chunk list from the head, covering each prior chunk either by
# decoding it or via a sidecar that itself carried the cumulative registry.
# Sidecar writes are atomic (tmp + rename) and best-effort (a read-only
# archive simply never gets the speedup). Only driver-side calls write them:
# latestOffset() once per micro-batch, and batch planning
# (WalArchiveBatchReader.partitions) once per read. Executors' read() only
# consumes them.

def _registry_to_json(relations) -> dict:
    return {
        str(rid): {
            "schema": rel.schema,
            "name": rel.name,
            "replica_identity": rel.replica_identity,
            "columns": [[c.name, c.type_oid, c.flags] for c in rel.columns],
        }
        for rid, rel in relations.items()
    }


def _registry_from_json(obj: dict) -> dict:
    out = {}
    for rid, r in obj.items():
        out[int(rid)] = Relation(
            relation_id=int(rid),
            schema=r["schema"],
            name=r["name"],
            replica_identity=r["replica_identity"],
            columns=tuple(ColumnMeta(n, o, f) for n, o, f in r["columns"]),
        )
    return out


def _load_sidecar(chunk_fp: str) -> Optional[dict]:
    """The chunk's sidecar, or None if it is missing, unparseable, or
    stale (chunks are append-only: a size mismatch means the chunk grew
    after it was indexed)."""
    try:
        with open(chunk_fp + ".idx") as f:
            d = json.load(f)
        if (isinstance(d, dict)
                and {"size", "max_lsn", "txn_open", "txn_id",
                     "registry"} <= d.keys()
                and d["size"] == os.path.getsize(chunk_fp)):
            return d
    except (OSError, ValueError):
        pass
    return None


def _write_sidecar(chunk_fp: str, meta: dict) -> None:
    # Not fsynced: not a commit point but an index the next scan rebuilds,
    # written on the trigger path (latestOffset).
    tmp = chunk_fp + ".idx.tmp"
    try:
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, chunk_fp + ".idx")
    except OSError:  # read-only archive: no index, correctness unaffected
        try:
            os.unlink(tmp)
        except OSError:
            pass


def _read_chunk_bytes(fp: str) -> bytes:
    """Single chokepoint for chunk I/O — tests spy on it to prove indexed
    scans never touch the bytes of chunks behind the cursor."""
    with open(fp, "rb") as f:
        return f.read()


_BASE_SNAPSHOT = "_archive_base.json"


def _load_base_snapshot(path: str) -> Optional[dict]:
    try:
        with open(os.path.join(path, _BASE_SNAPSHOT)) as f:
            d = json.load(f)
        if isinstance(d, dict) and {"base_lsn", "txn_open", "txn_id",
                                    "registry"} <= d.keys():
            return d
    except (OSError, ValueError):
        pass
    return None


def prune_wal_archive(path: str, upto_lsn: Optional[int] = None) -> dict:
    """Retention: delete archive chunks wholly at or below ``upto_lsn`` —
    the ``commit()`` contract's "producer may discard WAL <= flushed LSN",
    which a month-long 100-TB stream needs or the archive grows without
    bound. ``upto_lsn`` defaults to the MIN flushed LSN across EVERY ack
    file in the archive directory (``_flushed_lsn`` plus every
    slot-namespaced ``_flushed_lsn_<slot>`` that `WalArchiveStreamReader`
    creates), refusing to prune if any is unreadable — a shared archive
    must never drop chunks its slowest slot consumer has not acked.
    Consumers acking through an EXPLICIT ``ackpath`` outside the archive
    directory are invisible here; their coordinator must pass ``upto_lsn``
    explicitly.

    Only chunks with a VALID sidecar proving ``max_lsn <= upto_lsn`` are
    removable (no decode needed), pruning stops at the first keeper, and
    the newest chunk is always kept so relay chunk numbering stays
    monotone. Before deleting, the last pruned chunk's cumulative sidecar
    state (relation registry + txn state + max LSN) is promoted to a head
    snapshot (``_archive_base.json``) that ``scan_wal_messages`` loads
    before the first chunk — replays of the RETAINED window keep a
    complete registry even though the RELATION frames left with the
    pruned history. The snapshot is written by ``durable.replace_file``
    (temp file, fsync, rename, directory fsync); an ``EIO`` at either
    fsync raises before any chunk is unlinked. Returns ``{pruned_chunks,
    pruned_bytes, base_lsn}``.
    """
    if upto_lsn is None:
        try:
            ack_files = sorted(
                n for n in os.listdir(path)
                if (n == "_flushed_lsn" or n.startswith("_flushed_lsn_"))
                and not n.endswith(".tmp")
            )
        except OSError:
            ack_files = []
        if not ack_files:
            return {"pruned_chunks": 0, "pruned_bytes": 0, "base_lsn": None}
        flushed: List[int] = []
        for name in ack_files:
            try:
                with open(os.path.join(path, name)) as f:
                    flushed.append(int(json.load(f)["flushed_lsn"]))
            except (OSError, ValueError, KeyError, TypeError):
                # An unreadable slot ack means SOME consumer's position is
                # unknown — pruning could drop chunks it still needs, so
                # refuse rather than guess (explicit upto_lsn overrides).
                return {"pruned_chunks": 0, "pruned_bytes": 0,
                        "base_lsn": None}
        upto_lsn = min(flushed)
    chunks = _chunk_names(path)
    prunable: List[str] = []
    last_sidecar: Optional[dict] = None
    for name in chunks[:-1]:  # the newest chunk is always kept
        sc = _load_sidecar(os.path.join(path, name))
        if sc is None or sc["max_lsn"] > upto_lsn:
            break  # unindexed or still-needed: keep it and everything after
        prunable.append(name)
        last_sidecar = sc
    if not prunable:
        return {"pruned_chunks": 0, "pruned_bytes": 0, "base_lsn": None}
    # carry forward any EXISTING base snapshot's registry under the new
    # one (sidecar registries are cumulative per scan, and every scan
    # already merges the old snapshot first, so the sidecar state is the
    # complete union — but merging defensively costs nothing)
    assert last_sidecar is not None
    merged_registry = {}
    prev = _load_base_snapshot(path)
    if prev is not None:
        merged_registry.update(prev["registry"])
    merged_registry.update(last_sidecar["registry"])
    snap = {
        "base_lsn": int(last_sidecar["max_lsn"]),
        "txn_open": bool(last_sidecar["txn_open"]),
        "txn_id": int(last_sidecar["txn_id"]),
        "registry": merged_registry,
    }
    # the snapshot and its directory entry durable BEFORE any chunk dies;
    # a failed fsync raises here, and no chunk is unlinked
    replace_file(os.path.join(path, _BASE_SNAPSHOT),
                 [json.dumps(snap).encode()])
    pruned_bytes = 0
    for name in prunable:
        fp = os.path.join(path, name)
        try:
            pruned_bytes += os.path.getsize(fp)
        except OSError:
            pass
        for victim in (fp, fp + ".idx"):
            try:
                os.unlink(victim)
            except OSError:
                pass
    # prunable is non-empty here (early return above): unlinks durable so
    # no pruned chunk resurrects after a power cut
    fsync_dir(path)
    return {
        "pruned_chunks": len(prunable),
        "pruned_bytes": pruned_bytes,
        "base_lsn": snap["base_lsn"],
    }


def scan_wal_messages(path: str, decoder, state: dict,
                      skip_upto_lsn: int = -1,
                      write_index: bool = False) -> Iterator[Tuple[int, object]]:
    """Decode the archive in LSN order, yielding ``(lsn, msg)`` for every
    frame after ``skip_upto_lsn``.

    ``state`` (``{"txn_open": bool, "txn_id": int}``) is updated in place
    BEFORE each yield and when a chunk is skipped, so callers always see the
    transaction state as of the yielded frame. Frames at or below
    ``skip_upto_lsn`` only advance that state and the registry: they are not
    yielded, and of them only RELATION, BEGIN and COMMIT are decoded (DML is
    stepped over). Chunks wholly at or below ``skip_upto_lsn`` with a valid
    sidecar are not even read: their registry snapshot merges into
    ``decoder.relations`` and their txn state replaces ``state`` —
    byte-identical outcomes to decoding them, minus the I/O. With
    ``write_index`` a sidecar is written for every cleanly-parsed,
    fully-consumed chunk (torn-tail chunks and chunks the caller abandons
    mid-iteration are left unindexed).

    If the archive carries a retention head snapshot (``prune_wal_archive``
    promoted pruned history's registry + txn state to ``_archive_base.json``),
    it is applied before the first chunk, so replays of the retained window
    decode correctly even though the RELATION frames left with the pruned
    chunks.
    """
    import warnings

    def _guard_pruned_start(base_lsn: int) -> None:
        # Mirror PostgreSQL's "requested WAL segment has already been
        # removed": a cursor strictly inside pruned history can no longer
        # be served at-least-once, so fail loudly instead of silently
        # emitting only the retained rows. A fresh reader (no cursor,
        # ``skip_upto_lsn == -1``) legitimately starts at the retention
        # head — warn so the truncated-history replay is visible.
        if skip_upto_lsn < 0:
            warnings.warn(
                f"wal archive {path}: history up to LSN {base_lsn} was "
                "pruned; replay starts at the retention head (registry/"
                "txn state restored from the head snapshot)"
            )
        elif skip_upto_lsn < base_lsn:
            raise ProtocolError(
                f"wal archive {path}: requested start LSN "
                f"{skip_upto_lsn} predates pruned history (retention head "
                f"{base_lsn}) — the requested WAL has already been removed"
            )

    def _restore(snap: dict, max_lsn: int) -> None:
        decoder.relations.update(_registry_from_json(snap["registry"]))
        state["txn_open"] = bool(snap["txn_open"])
        state["txn_id"] = int(snap["txn_id"])
        state["max_lsn"] = max_lsn

    base = _load_base_snapshot(path)
    if base is not None:
        _guard_pruned_start(int(base["base_lsn"]))
        _restore(base, int(base["base_lsn"]))

    for name in _chunk_names(path):
        fp = os.path.join(path, name)
        sidecar = _load_sidecar(fp)
        if sidecar is not None and sidecar["max_lsn"] <= skip_upto_lsn:
            # Monotone application only: a sidecar wholly BEHIND the scan
            # position (a compaction crash window leaves the merged chunk's
            # constituents on disk until their unlinks land) must not
            # regress txn state / max_lsn — its registry is a subset of
            # what the scan already carries, so there is nothing to apply.
            if int(sidecar["max_lsn"]) > state.get("max_lsn", -1):
                _restore(sidecar, int(sidecar["max_lsn"]))
            continue
        try:
            data = _read_chunk_bytes(fp)
        except OSError:
            # A concurrent prune_wal_archive unlinked the chunk between
            # os.listdir and open. Prune's invariant: the head snapshot is
            # fsynced BEFORE any chunk dies and covers every deleted
            # chunk's max LSN, so the vanished frames are acked and their
            # registry/txn state survives in the snapshot — adopt it and
            # keep scanning rather than failing the executor task. Only a
            # chunk that is REALLY gone and explained by a snapshot AHEAD
            # of the scan position qualifies; anything else re-raises.
            nb = _load_base_snapshot(path)
            if os.path.exists(fp) or nb is None:
                raise
            nb_lsn = int(nb["base_lsn"])
            if nb_lsn <= state.get("max_lsn", -1):
                raise  # deletion not explained by retention — real I/O loss
            _guard_pruned_start(nb_lsn)
            _restore(nb, nb_lsn)
            continue
        end = 0
        advanced = False  # some frame moved the scan position

        def _index_chunk() -> None:
            # only a chunk parsed cleanly to its last byte gets an index
            if write_index and advanced and end == len(data):
                _write_sidecar(fp, {
                    "size": len(data),
                    "max_lsn": state["max_lsn"],
                    "txn_open": state["txn_open"],
                    "txn_id": state["txn_id"],
                    "registry": _registry_to_json(decoder.relations),
                })

        try:
            for lsn, payload, end in _chunk_frames(name, data):
                if lsn <= state.get("max_lsn", -1):
                    # LSN-monotonicity guard: WAL LSNs strictly increase, so
                    # a frame at or behind the scan position is a DUPLICATE
                    # copy of one already processed — a compaction or prune
                    # crash window can leave a merged chunk's constituents
                    # (or a pruned chunk) on disk alongside the state that
                    # already covers them. The first copy applied every
                    # state transition; replaying it would double-emit (or
                    # re-apply a RELATION a later one superseded).
                    continue
                if lsn > skip_upto_lsn or payload[:1] in _STATE_TAGS:
                    msg = decoder.decode(payload)
                else:
                    msg = None  # DML behind the cursor: nothing to emit
                if isinstance(msg, TxBegin):
                    state["txn_open"] = True
                    state["txn_id"] = msg.xid
                elif isinstance(msg, TxCommit):
                    state["txn_open"] = False
                    state["txn_id"] = -1
                advanced = True
                state["max_lsn"] = lsn
                if lsn > skip_upto_lsn:
                    yield lsn, msg
        except GeneratorExit:
            # A caller whose budget lands exactly on a chunk's last frame
            # breaks right after that yield — the chunk IS fully parsed, so
            # still index it; a mid-chunk abandon (end < size) is not.
            _index_chunk()
            raise
        _index_chunk()


def _chunk_cuts(path: str) -> Tuple[List[Tuple[int, int]], int]:
    """``([(bytes through chunk, max LSN)], total bytes)``: the points after
    indexed chunks where a replay may start mid-archive from the sidecar
    state. Cut LSNs are a running max from the retention head, so they
    strictly increase even across a compaction crash window's leftover
    constituents; no cut follows an unindexed chunk."""
    base = _load_base_snapshot(path)
    hi = int(base["base_lsn"]) if base is not None else -1
    total = 0
    cuts: List[Tuple[int, int]] = []
    for name in _chunk_names(path):
        fp = os.path.join(path, name)
        sidecar = _load_sidecar(fp)
        try:
            total += os.path.getsize(fp)
        except OSError:  # pruned since the listing
            continue
        if sidecar is not None and int(sidecar["max_lsn"]) > hi:
            hi = int(sidecar["max_lsn"])
            cuts.append((total, hi))
    return cuts, total


def _split_lsns(cuts: List[Tuple[int, int]], total: int, n: int) -> List[int]:
    """At most ``n - 1`` of the cut LSNs, splitting the archive into runs of
    roughly equal bytes: each cut is the one nearest an equal share of the
    bytes after the previous cut. A cut at the archive's end would open an
    empty run."""
    inner = [c for c in cuts if c[0] < total]
    out: List[int] = []
    start = i = 0
    for runs_left in range(n, 1, -1):
        target = start + (total - start) / runs_left
        j = min(range(i, len(inner)), default=None,
                key=lambda j: abs(inner[j][0] - target))
        if j is None:
            break
        out.append(inner[j][1])
        start, i = inner[j][0], j + 1
    return out


def _read_envelope(partition: _WalPartition) -> Iterator[pa.RecordBatch]:
    """Envelope rows with ``start_lsn < lsn <= end_lsn`` in LSN order, as
    Arrow record batches of at most ``_BATCH_ROWS`` rows typed exactly as
    ``ENVELOPE_SCHEMA``. Built column by column: handed row tuples, Spark's
    worker converts each value to Arrow in Python, which cost about as much
    as the decode itself."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    cache_zip_directories()
    str_t = pa.string()
    schema = to_arrow_schema(ENVELOPE_SCHEMA)
    decoder = PgOutputDecoder()
    # txn_id -1 = DML outside any txn: singleton semantics
    state = {"txn_open": False, "txn_id": -1}
    ops: list = []
    schemas: list = []
    tables: list = []
    rel_ids: list = []
    lsns: list = []
    txn_ids: list = []
    # the map column: every row's keys and values end to end, and the
    # offset where each row's entries end
    keys: list = []
    vals: list = []
    ends = [0]

    def batch() -> pa.RecordBatch:
        cols = pa.MapArray.from_arrays(pa.array(ends, pa.int32()),
                                       pa.array(keys, str_t),
                                       pa.array(vals, str_t))
        out = pa.RecordBatch.from_arrays(
            [pa.array(ops, str_t), pa.array(schemas, str_t),
             pa.array(tables, str_t), pa.array(rel_ids, pa.int32()),
             pa.array(lsns, pa.int64()), pa.array(txn_ids, pa.int64()), cols],
            schema=schema,
        )
        for buf in (ops, schemas, tables, rel_ids, lsns, txn_ids, keys, vals):
            buf.clear()
        del ends[1:]
        return out

    for lsn, msg in scan_wal_messages(
        partition.path, decoder, state, skip_upto_lsn=partition.start_lsn,
    ):
        if lsn > partition.end_lsn:
            break
        if isinstance(msg, ChangeRecord):
            rel = msg.relation
            ops.append(msg.op)
            schemas.append(rel.schema)
            tables.append(rel.name)
            rel_ids.append(rel.relation_id)
            lsns.append(lsn)
            txn_ids.append(state["txn_id"])
            keys.extend(msg.columns)
            vals.extend(msg.columns.values())
            ends.append(len(keys))
            if len(ops) == _BATCH_ROWS:
                yield batch()
        if lsn == partition.end_lsn:
            break  # the range is done: read no byte of the next chunk
    if ops:
        yield batch()


class WalArchiveStreamReader(DataSourceStreamReader):
    """Single-partition LSN-ordered stream over a WAL archive directory."""

    def __init__(self, options: dict) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError("pgcdc source requires option 'path'")
        self.max_records = int(options.get("maxrecordsperbatch", 100))
        # readall: offer the whole archive as one batch. Needed under
        # Trigger.AvailableNow — the Python data source API has no
        # AvailableNow support, so Spark falls back to a SINGLE batch whose
        # end is one latestOffset() call; without this the batch would stop
        # at the first txn-aligned budget boundary and silently drop the rest.
        self.read_all = str(options.get("readall", "false")).lower() in (
            "true", "1", "yes",
        )
        # The ack file mirrors a replication slot's confirmed LSN, and like a
        # slot it is SHARED state: two independent queries reading one archive
        # through the same ack file inherit each other's flushed LSN (slot
        # semantics — but surprising for archive replay). The `slot` option
        # namespaces the default ack file per logical consumer; queries that
        # need full isolation pass an explicit `ackpath`.
        slot = options.get("slot")
        default_ack = (
            f"_flushed_lsn_{slot}" if slot else "_flushed_lsn"
        )
        self.ack_path = options.get(
            "ackpath", os.path.join(self.path, default_ack)
        )
        # Durable offset recovery (reference semantics: resume from the
        # slot's confirmed LSN, `CdcEngine.java:143-159`). Without this the
        # in-memory cursor restarts at -1 after a query restart and
        # latestOffset could return an end BELOW the checkpointed start —
        # an inverted batch window. partitions() additionally clamps the
        # cursor to every batch end Spark hands us.
        self._restored: Optional[dict] = None
        try:
            with open(self.ack_path) as f:
                flushed = json.load(f).get("flushed_lsn")
            if flushed is not None:
                self._restored = {"lsn": int(flushed), "txn_open": False}
        except (OSError, ValueError):
            pass
        # startLsn: begin streaming strictly AFTER this LSN — the snapshot
        # handover point. A pipeline that bootstraps from a consistent table
        # snapshot taken at LSN S (Debezium-style initial snapshot; PG's
        # pg_export_snapshot at slot creation) must not re-consume changes
        # the snapshot already reflects, even when the archive still holds
        # them. A checkpoint/ack that is already PAST the handover wins
        # (max) — restart recovery outranks the bootstrap parameter.
        start_opt = options.get("startlsn")
        if start_opt is not None:
            start_lsn = int(start_opt)
            if self._restored is None or self._restored["lsn"] < start_lsn:
                self._restored = {"lsn": start_lsn, "txn_open": False}
        self._last_offset: Optional[dict] = (
            dict(self._restored) if self._restored else None
        )

    # -- offsets -------------------------------------------------------------

    def initialOffset(self) -> dict:
        # The construction-time recovered offset only — NOT the live cursor
        # (initialOffset may be called after latestOffset; returning the
        # cursor would collapse the batch window to empty).
        if self._restored is not None:
            return dict(self._restored)
        return {"lsn": -1, "txn_open": False}

    def latestOffset(self) -> dict:
        """Scan forward from the start; offer at most max_records DML past
        the last offset. The end is the last transaction boundary (a
        COMMIT, or a DML outside any transaction: txn_open False) within
        that budget that follows a DML; a window with none ends
        mid-transaction at the budget (txn_open True, the early flush),
        which ``commit`` does not ack. Never regresses below the highest
        offset previously offered or committed."""
        # NB: called on the driver once per micro-batch. The chunk index
        # makes this O(new data + #chunks), not O(archive): chunks wholly
        # behind the cursor are skipped via their sidecars (registry + txn
        # state restored from the snapshot), and this driver-side call is
        # where a stream's sidecars get written. A live transport would
        # instead track the socket's last received LSN.
        last = self._last_offset or self.initialOffset()
        start_lsn = last["lsn"]
        budget = float("inf") if self.read_all else max(1, self.max_records)
        decoder = PgOutputDecoder()
        n_dml = 0
        state = {"txn_open": False, "txn_id": -1}
        # boundary: the last txn_open False offset after at least one DML
        out = boundary = None
        for lsn, msg in scan_wal_messages(
            self.path, decoder, state,
            skip_upto_lsn=start_lsn, write_index=True,
        ):
            if isinstance(msg, ChangeRecord):
                if n_dml == budget:  # one DML past the budget
                    out = boundary or out
                    break
                n_dml += 1
            out = {"lsn": lsn, "txn_open": state["txn_open"]}
            if n_dml and not state["txn_open"]:
                boundary = out
        if out is None:  # nothing new
            out = {"lsn": start_lsn, "txn_open": state["txn_open"]}
        self._last_offset = out
        return out

    # -- read ----------------------------------------------------------------

    def partitions(self, start: dict, end: dict) -> List[InputPartition]:
        # Offset-monotonicity clamp: on restart Spark replays the last
        # uncommitted batch via partitions() without calling latestOffset();
        # adopting its end here keeps the cursor ahead of every offset the
        # checkpoint has seen.
        if self._last_offset is None or end["lsn"] > self._last_offset["lsn"]:
            self._last_offset = dict(end)
        return [_WalPartition(self.path, start["lsn"], end["lsn"])]

    def read(self, partition: _WalPartition) -> Iterator[pa.RecordBatch]:
        """Decode the archive; emit envelope rows with start < lsn <= end,
        as Arrow batches (``_read_envelope``).

        The relation registry must be complete at the window start (RELATION
        may precede the window, possibly by the whole archive): chunks wholly
        behind the window whose sidecar index exists are skipped via their
        registry + txn-state snapshots; unindexed head chunks fall back to a
        header-only pass over their frames. Executors only CONSUME sidecars,
        so this path never mutates the archive directory: the driver writes
        them, in ``latestOffset`` for a stream and in batch planning
        (``WalArchiveBatchReader.partitions``) for ``spark.read``.
        """
        yield from _read_envelope(partition)

    # -- ack -----------------------------------------------------------------

    def commit(self, end: dict) -> None:
        """Flush-LSN ack — only when no transaction is open at the batch
        boundary (at-least-once: a mid-txn crash replays the whole txn).
        A mid-transaction end acks nothing new, except that a reader with
        no ack yet records its starting offset: the archive may be shared,
        and a default ``prune_wal_archive`` (the min over the ack files it
        finds) would otherwise not see the reader and could drop the
        chunks its open transaction still needs. Not fsynced: Spark's
        checkpoint is the offset of record, not this trigger-path file."""
        if end.get("txn_open"):
            if os.path.exists(self.ack_path):
                return
            end = self.initialOffset()
        tmp = self.ack_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"flushed_lsn": end["lsn"]}, f)
        os.replace(tmp, self.ack_path)


class WalArchiveBatchReader(DataSourceReader):
    """Batch replay of the whole archive (``spark.read.format("pgcdc")``) —
    the change-log-as-table view used for backfills."""

    def __init__(self, options: dict) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError("pgcdc source requires option 'path'")

    def partitions(self) -> List[InputPartition]:
        """Contiguous runs of whole chunks, of roughly equal bytes, at most
        ``default_parallelism()`` of them, in LSN order.

        Each run starts at the previous run's last sidecar ``max_lsn``, so
        its ``read()`` skips the head through sidecars and restores the
        registry and ``txn_id`` there: a transaction straddling the boundary
        keeps its id. An archive with no usable boundary (read-only, torn,
        one chunk) reads as one partition. The last run is open-ended.
        """
        # Index the chunks that lack a sidecar, driver-side. Every frame is
        # behind this scan's cursor, so it is a header-only pass: DML is
        # stepped over undecoded, and a cold one-shot replay decodes each
        # change once, in its partition. Indexed chunks are not read.
        for _ in scan_wal_messages(
            self.path, PgOutputDecoder(), {"txn_open": False, "txn_id": -1},
            skip_upto_lsn=_OPEN_END, write_index=True,
        ):
            pass
        cuts, total = _chunk_cuts(self.path)
        lsns = _split_lsns(cuts, total, default_parallelism())
        return [_WalPartition(self.path, lo, hi)
                for lo, hi in zip([-1] + lsns, lsns + [_OPEN_END])]

    def read(self, partition: _WalPartition) -> Iterator[pa.RecordBatch]:
        yield from _read_envelope(partition)


class PgCdcDataSource(DataSource):
    """``spark.readStream.format("pgcdc").option("path", dir)`` → envelope
    stream; ``spark.read`` for full-archive batch replay. Register with
    ``spark.dataSource.register(PgCdcDataSource)``."""

    @classmethod
    def name(cls) -> str:
        return "pgcdc"

    # schema(), reader() and streamReader() run in Spark's Python planner
    # processes, and read() in its workers: each installs the zip-directory
    # cache there before Spark's next per-call invalidate_caches().

    def schema(self) -> T.StructType:
        cache_zip_directories()
        return ENVELOPE_SCHEMA

    def streamReader(self, schema) -> WalArchiveStreamReader:
        cache_zip_directories()
        return WalArchiveStreamReader(
            {k.lower(): v for k, v in self.options.items()}
        )

    def reader(self, schema) -> WalArchiveBatchReader:
        cache_zip_directories()
        return WalArchiveBatchReader(
            {k.lower(): v for k, v in self.options.items()}
        )


def run_wal_relay(transport, path: str, chunk_frames: int = 1000,
                  max_frames: Optional[int] = None) -> int:
    """Drain a replication transport into the WAL-archive format the pgcdc
    source streams — the production composition for live capture:

        PostgreSQL --socket--> LiveReplicationTransport --relay--> archive
                   --pgcdc source--> Structured Streaming query

    The relay is the only long-lived single connection; everything after the
    archive is restartable, parallelizable Spark. Frames land in rotating
    chunk files (numbered so ``read_wal_frames`` replays them in order) and
    the transport is acked only AFTER a chunk is durably on disk — the
    at-least-once contract (`CdcEngine.java:132-137`): a relay crash between
    write and ack replays the chunk, never loses it. Each flush fsyncs the
    chunk, then the archive directory, then acks; a failed fsync
    (``EIO``, under ``streaming/durable.py``'s policy) raises before the
    ack, so the transport redelivers the chunk's frames.

    Returns the number of frames relayed (``max_frames`` bounds the run for
    tests / drain-and-stop usage; a live deployment omits it and runs
    forever).
    """
    os.makedirs(path, exist_ok=True)
    # max(existing)+1, not len(existing): with a gap in the numbering (manual
    # cleanup, a differently-numbered pre-existing archive) len() could reuse a
    # live name — silently appending to an old chunk or sorting BEFORE
    # higher-LSN chunks, breaking read_wal_frames' name-order==LSN-order
    # contract.
    existing_nums = []
    for n in os.listdir(path):
        if n.endswith(".wal"):
            try:
                existing_nums.append(int(n[:-4]))
            except ValueError:
                pass
    chunk_idx = max(existing_nums) + 1 if existing_nums else 0
    buf: List[Tuple[int, bytes]] = []
    n = 0

    def flush() -> None:
        nonlocal chunk_idx, buf
        if not buf:
            return
        fp = write_wal_archive(path, buf, chunk=f"{chunk_idx:06d}.wal")
        with open(fp, "rb") as f:  # durability barrier before the ack
            fsync_fd(f.fileno())
        # a new chunk's directory entry is durable only once the directory
        # is: without this a power cut can lose an acked chunk whose WAL
        # upstream has already discarded
        fsync_dir(path)
        transport.ack(buf[-1][0])
        chunk_idx += 1
        buf = []

    for lsn, payload in transport.frames():
        buf.append((lsn, payload))
        n += 1
        if len(buf) >= chunk_frames:
            flush()
        if max_frames is not None and n >= max_frames:
            break
    flush()
    return n
