"""The fsync policy of every commit point: a write the pipeline acks, or
deletes other data on the strength of (the relay's ack, the archive's head
snapshot and merged chunks, an epoch store's partitions and manifest).

A write failure (``EIO``: the kernel lost dirty pages) raises, so nothing
acts on the write. A capability refusal (a mount that rejects fsync on a
directory fd, or lacks the syscall) and a permission refusal to re-open a
file are tolerated: durability narrows to what the mount grants, and a
permission refusal says so once per directory. No pyspark import.
"""

from __future__ import annotations

import errno
import os
import warnings
from typing import Iterable

# fsync refusals a commit point may tolerate: CAPABILITY errors only (some
# network mounts reject fsync on a directory fd, or lack the syscall). A
# genuine write failure (EIO) must abort before anything acts on the write:
# swallowing it is exactly the data-loss window the fsync exists to close.
_FSYNC_CAPABILITY_ERRNOS = frozenset(
    e for e in (
        getattr(errno, "EINVAL", None),
        getattr(errno, "ENOTSUP", None),
        getattr(errno, "EOPNOTSUPP", None),
        getattr(errno, "ENOSYS", None),
    )
    if e is not None
)

# open() refusals the fsync walk may tolerate: PERMISSION conditions (an
# ACL-restricted or FUSE mount the driver cannot re-open executor-written
# files on), not lost writeback. EIO at open stays fatal.
_OPEN_PERMISSION_ERRNOS = frozenset(
    e for e in (
        getattr(errno, "EACCES", None),
        getattr(errno, "EPERM", None),
    )
    if e is not None
)

# (directory, errno) pairs a tolerated permission refusal already warned
# for. Per DIRECTORY, not per file: every compaction rewrites the base under
# fresh part-file names, while store directories are bounded in number.
_PERM_TOLERATED_WARNED: set[tuple[str, int]] = set()


def _warn_perm_tolerated(path: str, exc: OSError) -> None:
    key = (os.path.dirname(path) or path, exc.errno or 0)
    if key in _PERM_TOLERATED_WARNED:
        return
    _PERM_TOLERATED_WARNED.add(key)
    warnings.warn(
        f"fsync walk could not re-open {path!r} "
        f"(errno {exc.errno}: {exc.strerror}); durability under "
        f"{key[0]!r} narrows to what the mount grants — the write "
        "proceeds without that fsync (warned once per directory)",
        RuntimeWarning,
        stacklevel=3,
    )


def fsync_fd(fd: int) -> None:
    """fsync with the capability/write-failure discrimination above."""
    try:
        os.fsync(fd)
    except OSError as exc:
        if exc.errno not in _FSYNC_CAPABILITY_ERRNOS:
            raise


def fsync_dir(path: str) -> None:
    """fsync a DIRECTORY so a rename/unlink inside it survives power loss.
    Capability refusal tolerated; real write failures re-raise (see
    ``_FSYNC_CAPABILITY_ERRNOS``). The open itself gets the same
    discrimination: a GONE directory (ENOENT/ENOTDIR — nothing of ours
    left to make durable) and a permission refusal (EACCES/EPERM — a
    capability condition, not lost writeback) are tolerable; an EIO at
    open is the same lost-writeback signal as an EIO at fsync."""
    try:
        fd = os.open(path, os.O_RDONLY | getattr(os, "O_DIRECTORY", 0))
    except OSError as exc:
        if exc.errno in (errno.ENOENT, errno.ENOTDIR):
            return
        if exc.errno in _OPEN_PERMISSION_ERRNOS:
            _warn_perm_tolerated(path, exc)
            return
        raise
    try:
        fsync_fd(fd)
    finally:
        os.close(fd)


def fsync_tree(path: str) -> None:
    """fsync every regular file under ``path`` plus the directories: Spark's
    local parquet writes land in the page cache only, so a folded base must
    be durable BEFORE the manifest commit points readers at it — the folded
    partials are deleted right after, and unlike the WAL archive
    (replayable from upstream) a stats store has nothing to rebuild from.
    Capability refusals are tolerated; a genuine fsync failure (EIO)
    propagates so the compaction aborts before its commit point."""
    for root, _dirs, files in os.walk(path):
        for name in files:
            try:
                fd = os.open(os.path.join(root, name), os.O_RDONLY)
            except OSError as exc:
                if exc.errno == errno.ENOENT:
                    continue  # vanished mid-walk: not part of the fold
                if exc.errno in _OPEN_PERMISSION_ERRNOS:
                    # can't re-open, nothing lost — but say so, once
                    _warn_perm_tolerated(os.path.join(root, name), exc)
                    continue
                # EIO on a file that EXISTS is a durability failure for
                # fold data the sweep is about to orphan — abort before
                # the commit point, same as an fsync failure
                raise
            try:
                fsync_fd(fd)
            finally:
                os.close(fd)
        fsync_dir(root)


def replace_file(path: str, chunks: Iterable[bytes]) -> int:
    """Atomically and durably replace ``path`` with the concatenated byte
    ``chunks``; returns the number of bytes written.

    The bytes go to ``path + ".tmp"`` in the same directory, which is
    fsynced, renamed over ``path``, and then the directory is fsynced. An
    error before the rename (an fsync's ``EIO``, a chunk generator's
    ``OSError``) deletes the temp file and leaves ``path`` as it was. An
    error at the directory fsync raises after the rename: the new file is
    visible, but nothing may act on it as durable."""
    tmp = path + ".tmp"
    size = 0
    try:
        with open(tmp, "wb") as f:
            for chunk in chunks:
                size += f.write(chunk)
            f.flush()
            fsync_fd(f.fileno())
        os.replace(tmp, path)
    except BaseException:
        try:
            os.unlink(tmp)
        except OSError:
            pass
        raise
    fsync_dir(os.path.dirname(path) or ".")
    return size
