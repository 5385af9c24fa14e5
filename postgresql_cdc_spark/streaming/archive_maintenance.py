"""WAL archive chunk compaction — the small-file maintenance pass for the
archive transport.

A fine-grained relay (`run_wal_relay` with small ``chunk_frames``, or a
chatty producer) leaves the archive as thousands of tiny chunks; every
replay then pays one open()+sidecar-read per chunk and the chunk index
stops amortizing. ``compact_wal_archive`` merges runs of ADJACENT small
chunks into larger ones, byte-identically and in LSN order, completing the
archive lifecycle alongside the chunk index (r11) and retention pruning
(r11/r12): index -> prune -> compact.

Safety protocol (single maintenance writer, same assumption PostgreSQL
makes for checkpoints):

1. The merged bytes atomically REPLACE the run's FIRST chunk (same name,
   so chunk-name sort order == LSN order is preserved and relay numbering
   never reuses a name) through ``durable.replace_file``: temp file,
   fsync, rename, directory fsync. An ``OSError`` there (an ``EIO`` at
   either fsync included) skips the run and unlinks nothing.
2. Its sidecar is derived from the LAST constituent's sidecar (sidecar
   state is cumulative per scan, so the last one covers the whole run)
   with ``size`` = merged byte length.
3. Only then are the remaining constituents (and their sidecars) unlinked.

A crash between (1) and (3) leaves later constituents on disk next to the
merged chunk that already contains their frames — scan_wal_messages'
LSN-monotonicity guard (``source.py``) drops those duplicate frames, and
its monotone sidecar application refuses to regress txn state from a
behind-the-scan sidecar, so every crash window replays byte-identically.
The directory is fsynced again after the unlinks, so a power cut cannot
resurrect an unlinked constituent either (belt to the guard's suspenders —
the guard alone already keeps replay correct). Every fsync follows
``streaming/durable.py``'s policy: that last directory fsync, too, raises
on ``EIO`` and tolerates a capability or permission refusal.
A reader RACING the compactor (its listdir snapshot saw a constituent that
vanished after the merge landed) fails its task loudly via the unexplained-
loss check and retries against a fresh listing — never wrong data.

Only chunks with a VALID sidecar participate (no decode needed to know the
merge is safe); an unindexed or size-stale chunk flushes the current run.
The newest chunk never merges — relay numbering continues from it.
"""

from __future__ import annotations

import os
from typing import List

from postgresql_cdc_spark.streaming.durable import fsync_dir, replace_file
from postgresql_cdc_spark.streaming.source import (
    _chunk_names,
    _load_sidecar,
    _read_chunk_bytes,
    _write_sidecar,
)


def compact_wal_archive(
    path: str, target_chunk_bytes: int = 64 * 1024 * 1024
) -> dict:
    """Merge adjacent indexed chunks into runs of up to
    ``target_chunk_bytes``; returns ``{merged_runs, chunks_before,
    chunks_after, merged_bytes}``."""
    chunks = _chunk_names(path)
    before = len(chunks)
    runs: List[List[str]] = []
    run: List[str] = []
    run_bytes = 0

    def flush() -> None:
        nonlocal run, run_bytes
        if len(run) >= 2:
            runs.append(run)
        run, run_bytes = [], 0

    for name in chunks[:-1]:  # the newest chunk is always left alone
        sc = _load_sidecar(os.path.join(path, name))
        if sc is None:
            flush()  # unindexed / stale: opaque, never merged
            continue
        size = sc["size"]
        if run and run_bytes + size > target_chunk_bytes:
            flush()
        run.append(name)
        run_bytes += size
        if run_bytes >= target_chunk_bytes:
            flush()
    flush()

    merged_runs = 0
    merged_bytes = 0
    for names in runs:
        first_fp = os.path.join(path, names[0])
        last_sc = _load_sidecar(os.path.join(path, names[-1]))
        if last_sc is None:  # vanished under us: skip the run
            continue
        try:
            # merged chunk REPLACES the first constituent (atomic), its
            # sidecar carries the run's cumulative end state
            total = replace_file(first_fp, (
                _read_chunk_bytes(os.path.join(path, name)) for name in names
            ))
        except OSError:
            continue  # nothing unlinked: at worst the window before step 3
        _write_sidecar(first_fp, {**last_sc, "size": total})
        for name in names[1:]:
            for victim in (
                os.path.join(path, name),
                os.path.join(path, name) + ".idx",
            ):
                try:
                    os.unlink(victim)
                except OSError:
                    pass
        merged_runs += 1
        merged_bytes += total
    if merged_runs:
        fsync_dir(path)  # unlinks durable (see module docstring)
    after = sum(1 for n in os.listdir(path) if n.endswith(".wal"))
    return {
        "merged_runs": merged_runs,
        "chunks_before": before,
        "chunks_after": after,
        "merged_bytes": merged_bytes,
    }
