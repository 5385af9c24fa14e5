"""Epoch-partitioned idempotent parquet I/O for foreachBatch pipelines.

Structured Streaming's foreachBatch is at-least-once: after a crash between
the sink write and the checkpoint commit, the SAME epoch re-runs. A plain
``mode("append")`` sink then double-appends the replayed batch — the classic
way a streaming dedup index silently corrupts itself. The contract here
(Spark's documented idempotent-foreachBatch recipe, keyed on the batch id):

- ``epoch_overwrite`` writes a batch's rows under an ``ingest_epoch``
  partition with DYNAMIC partition overwrite (per-write option, no session
  conf juggling): a replayed epoch replaces exactly its own partition —
  including a half-written previous attempt — and never touches other
  epochs' files.
- ``epoch_replace`` is the same contract for rows already on the driver
  as Arrow tables: one parquet file written into a hidden temp directory,
  fsynced (``streaming/durable.py``'s policy: ``EIO`` raises, a
  capability refusal is tolerated), and renamed over the partition. The
  kv stores write through it, each batch (``kv_store.ingest_kv_batch``)
  and each compaction fold (``kv_store.kv_fold``, which streams its
  tables), and so does the join view's shared fact-delta store
  (``join_ivm.apply_batch`` writes the fact delta the kv diff holds). See
  its docstring for the replay protocol.
- ``epoch_maintenance.epochs_before_compacted`` reads back only STRICTLY
  EARLIER epochs (and a compacted store's base), so a replayed probe
  never sees the replaying batch's own (possibly partial) rows; the
  partition filter prunes at the file level.

``epoch_overwrite`` is used by the stores whose rows are not on the driver:
the streaming LSH ingest gates (``cdc_stream_incremental_dedup``,
``cdc_stream_dedup_admission``), the join view's epoch-backed sums and
support stores (``join_ivm.fold_epoch_store``), the streaming scale soak,
and the Spark compaction fold of the stats, postings and arrangement
stores; the replay semantics are pinned by ``tests/test_epoch_io.py``.
"""

from __future__ import annotations

import os
import re
import shutil
import uuid
from typing import Iterable

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, functions as F

from postgresql_cdc_spark.streaming.durable import fsync_dir, fsync_fd

EPOCH_COL = "ingest_epoch"

# A hidden attempt directory of epoch E: ``.ingest_epoch=E.<uuid>``. The
# leading dot keeps it out of Spark's partition discovery and of every
# manifest-aware listing, which match ``ingest_epoch=E`` only.
_HIDDEN_RE = re.compile(rf"^\.{EPOCH_COL}=(-?\d+)\.")


def epoch_overwrite(df: DataFrame, path: str, epoch: int) -> None:
    """Write ``df`` as partition ``ingest_epoch=epoch`` of ``path``,
    replacing (only) that partition if it already exists."""
    (
        df.withColumn(EPOCH_COL, F.lit(int(epoch)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(EPOCH_COL)
        .parquet(path)
    )


def hidden_leftovers(path: str) -> list[tuple[int, str]]:
    """``(epoch, directory)`` of every hidden attempt directory under
    ``path``: what a crash inside :func:`epoch_replace` leaves behind."""
    try:
        names = os.listdir(path)
    except OSError:
        return []
    return [
        (int(m.group(1)), os.path.join(path, n))
        for n in names if (m := _HIDDEN_RE.match(n))
    ]


def epoch_replace(tables: Iterable[pa.Table], path: str, epoch: int) -> int:
    """Write ``tables`` as partition ``ingest_epoch=epoch`` of ``path``,
    replacing (only) that partition if it already exists — the
    :func:`epoch_overwrite` contract without a Spark job. Returns the number
    of rows written.

    The tables are written in order, each as its own row group(s), through
    one ``ParquetWriter`` into one file in ``.ingest_epoch=E.<uuid>``, a
    hidden directory inside the store; ``tables`` may be a generator, so a
    caller streams a partition larger than it holds (the kv compaction
    fold). The file and that directory are fsynced. An existing
    ``ingest_epoch=E`` (a replayed epoch's earlier attempt) is renamed aside
    under another hidden name, the new directory is renamed in, the store
    directory is fsynced, and only then is the old attempt deleted. Spark's
    writer never fsyncs; this path does, under the policy
    (``streaming/durable.py``) that ``run_wal_relay`` acks under. An error
    raised while the tables are produced or written (a generator's
    ``ValueError``, an fsync's ``EIO``) deletes the hidden directory and
    leaves the old partition as it was; an ``EIO`` at the store
    directory's fsync raises after the rename, before the old attempt is
    deleted.

    A crash leaves only hidden directories, which no reader lists: before
    the first rename the old partition is intact; between the two renames
    epoch E is absent, which is the state before E's first attempt (E is
    replaying, so it never committed). The next write of E deletes the
    leftovers of E; the compaction sweep deletes those below its horizon.
    Tables without rows write nothing and leave an existing partition as it
    is, as Spark's dynamic overwrite does."""
    epoch = int(epoch)
    for e, d in hidden_leftovers(path):
        if e == epoch:
            shutil.rmtree(d, ignore_errors=True)
    final = os.path.join(path, f"{EPOCH_COL}={epoch}")
    tmp = os.path.join(path, f".{EPOCH_COL}={epoch}.{uuid.uuid4().hex}")
    rows, f, writer = 0, None, None
    try:
        for table in tables:
            if table.num_rows == 0:
                continue
            if writer is None:
                os.makedirs(tmp)
                f = open(os.path.join(tmp, "part-00000.parquet"), "wb")
                writer = pq.ParquetWriter(f, table.schema)
            writer.write_table(table)
            rows += table.num_rows
        if writer is None:
            return 0
        writer.close()
        f.flush()
        fsync_fd(f.fileno())
        f.close()
        fsync_dir(tmp)
    except BaseException:
        if f is not None:
            f.close()
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    aside = None
    if os.path.isdir(final):
        aside = os.path.join(path, f".{EPOCH_COL}={epoch}.{uuid.uuid4().hex}")
        os.rename(final, aside)
    os.rename(tmp, final)
    fsync_dir(path)
    if aside is not None:
        shutil.rmtree(aside, ignore_errors=True)
    return rows

