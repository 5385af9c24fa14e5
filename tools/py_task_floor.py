"""The fixed cost of a Python task, next to a JVM-only one.

    python tools/py_task_floor.py

In one local session, prints the median wall time of these, each run
``REPEATS`` times after one warm-up:

- ``jvm_job``: a one-partition job with no Python in it;
- ``arrow_job``: a one-partition identity ``mapInArrow`` job;
- ``pgcdc_load``: ``spark.read.format("pgcdc").load()`` of a one-change
  archive, which plans in a Python process;
- ``rdd_job``: ``spark.createDataFrame(<16 rows>, "id long").collect()``,
  a local list that Spark ships as a ``PythonRDD``. Collecting the key
  list a kv point read is handed costs this, so it is the floor under
  every ``probe_key_state`` call;
- ``kv_ingest``: ``kv_store.ingest_kv_batch`` of a 2,500-row,
  one-partition batch (``spark.range``, the ``live_tail`` kv columns)
  into an empty store, so below the compaction cap: the batch's one
  ``toArrow()`` job, the Arrow collapse and the fsynced parquet write;
- ``kv_compact``: one ``ingest_kv_batch`` of a 2,500-row batch past the
  compaction cap of a 50,000-key store (a base of about 50,000 keys plus
  nine live 2,500-row partials): the fold, then the write. Each run starts
  from a copy of the same store. ``kv_compact_cold`` is the session's
  first fold (of nine partials, the 50,000-row first batch among them,
  before any base exists), timed once.
- ``trigger_commit``: the median over ``TRIGGER_BATCHES`` micro-batches of
  ``walCommit`` + ``commitOffsets``, the two checkpoint-log writes of a
  trigger, for a ``pgcdc`` stream of one-insert transactions into a no-op
  ``foreachBatch``, under the session's checkpoint manager.
  ``trigger_commit_file_context`` is the same stream with Spark's default
  ``FileContextBasedCheckpointFileManager`` set at runtime: without
  Hadoop's native library its local rename forks ``readlink`` and its
  create forks ``chmod``.

The warm-up reads the archive once, so the Python workers the timed jobs
reuse have already run ``pgcdc`` code. The gap between the first line and
the others is what every Python task or planner call pays before doing
any work. ``rdd_job`` stays above ``arrow_job`` even so: a ``PythonRDD``
task runs no code of this package, so its worker never installs
``session.cache_zip_directories`` and re-reads ``pyspark.zip`` on every
task. Rerun it after a pyspark or Python upgrade.
"""

from __future__ import annotations

import os
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REPEATS = 7
KV_KEYS = 50_000
KV_ROWS = 2_500
KV_CAP = 8  # ingest_kv_batch's default max_live_partials
TRIGGER_BATCHES = 60
FILE_CONTEXT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileContextBasedCheckpointFileManager"
)


def _kv_batch(spark, epoch: int, rows: int = KV_ROWS):
    """Epoch ``epoch``'s batch of the ``kv_compact`` store: ``rows``
    changes spread over the key space, every fiftieth a delete after epoch
    0, LSNs above every earlier epoch's."""
    return spark.range(rows, numPartitions=1).selectExpr(
        f"(id * 19 + {epoch * KV_ROWS}) % {KV_KEYS} id",
        "cast(id % 1000 as int) v_int", "concat('t', id) v_text",
        "id / 3 v_num",
        "'U' op" if epoch == 0
        else "case when id % 50 = 49 then 'D' else 'U' end op",
        f"{epoch} * 1000000 + id lsn")


def _median_s(fn) -> float:
    fn()  # warm-up
    times = []
    for _ in range(REPEATS):
        t = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def main() -> None:
    sys.path.insert(0, ROOT)
    import postgresql_cdc_spark
    from postgresql_cdc_spark.session import get_spark
    from postgresql_cdc_spark.sources.pgoutput import (
        ColumnMeta,
        Relation,
        encode_begin,
        encode_commit,
        encode_insert,
        encode_relation,
    )
    from postgresql_cdc_spark.streaming.kv_store import ingest_kv_batch
    from postgresql_cdc_spark.streaming.source import (
        PgCdcDataSource,
        write_wal_archive,
    )

    postgresql_cdc_spark.ensure_self_contained_pickling()
    spark = get_spark("py-task-floor")
    spark.dataSource.register(PgCdcDataSource)
    with tempfile.TemporaryDirectory() as arch, \
            tempfile.TemporaryDirectory() as kv:
        rel = Relation(16384, "public", "t", "d", (ColumnMeta("id", 20, 1),))
        write_wal_archive(arch, [(1, encode_relation(rel)),
                                 (2, encode_insert(16384, ["1"]))])

        def load():
            return spark.read.format("pgcdc").option("path", arch).load()

        if load().count() != 1:
            raise SystemExit("pgcdc read of the one-change archive failed")
        one = spark.range(1, numPartitions=1)
        batch = spark.range(2500, numPartitions=1).selectExpr(
            "id", "cast(id % 1000 as int) v_int", "concat('t', id) v_text",
            "id / 3 v_num", "'I' op", "id lsn")
        stores = iter(range(REPEATS + 1))
        floors = {
            "jvm_job": _median_s(lambda: one.collect()),
            "arrow_job": _median_s(
                lambda: one.mapInArrow(lambda it: it, one.schema).collect()),
            "pgcdc_load": _median_s(load),
            "rdd_job": _median_s(lambda: spark.createDataFrame(
                [(i,) for i in range(16)], "id long").collect()),
            "kv_ingest": _median_s(lambda: ingest_kv_batch(
                spark, os.path.join(kv, str(next(stores))), "id", 0,
                batch)),
        }
        floors["kv_compact_cold"], floors["kv_compact"] = _kv_compact(
            spark, kv, ingest_kv_batch)
        txns = [(1, encode_relation(rel))]
        for i in range(TRIGGER_BATCHES):
            lsn = 10 * (i + 1)
            txns += [(lsn, encode_begin(lsn + 2, 0, i + 1)),
                     (lsn + 1, encode_insert(16384, [str(i)])),
                     (lsn + 2, encode_commit(lsn + 2, lsn + 3, 0))]
        floors["trigger_commit"] = _trigger_commit(spark, kv, "default", txns)
        spark.conf.set("spark.sql.streaming.checkpointFileManagerClass",
                       FILE_CONTEXT_MANAGER)
        floors["trigger_commit_file_context"] = _trigger_commit(
            spark, kv, "file_context", txns)
    spark.stop()
    for name, secs in floors.items():
        how = ("once" if name.endswith("_cold")
               else f"median of {TRIGGER_BATCHES} batches"
               if name.startswith("trigger_")
               else f"median of {REPEATS}")
        print(f"{name:<27} {secs:.3f} s  ({how})")


def _trigger_commit(spark, tmp: str, name: str, txns) -> float:
    """Median seconds of ``walCommit`` + ``commitOffsets`` per micro-batch
    of a one-transaction-per-batch ``pgcdc`` stream of ``txns`` into a
    no-op ``foreachBatch``. Each run gets its own archive (a reader's ack
    file would start the next one at the end) and checkpoint."""
    from postgresql_cdc_spark.streaming.source import write_wal_archive

    arch = os.path.join(tmp, f"txns_{name}")
    write_wal_archive(arch, txns)
    q = (spark.readStream.format("pgcdc").option("path", arch)
         .option("maxRecordsPerBatch", "1").load()
         .writeStream.foreachBatch(lambda df, batch_id: None)
         .option("checkpointLocation", os.path.join(tmp, f"ckpt_{name}"))
         .start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # a no-op sink never runs the read, so numInputRows stays 0: a batch is
    # a trigger that wrote the offset log
    ms = [p.durationMs["walCommit"] + p.durationMs["commitOffsets"]
          for p in q.recentProgress if "walCommit" in p.durationMs]
    if len(ms) != TRIGGER_BATCHES:
        raise SystemExit(f"trigger_commit: {len(ms)} batches, "
                         f"not {TRIGGER_BATCHES}")
    return statistics.median(ms) / 1e3


def _kv_compact(spark, tmp: str, ingest_kv_batch) -> tuple[float, float]:
    """``(cold, median)`` seconds of an ``ingest_kv_batch`` that folds:
    the session's first fold, then :data:`REPEATS` folds of a base plus
    ``KV_CAP + 1`` partials, each on a fresh copy of the same store (the
    store the first fold left, with ``KV_CAP`` more partials)."""
    import shutil

    from postgresql_cdc_spark.streaming.epoch_maintenance import base_upto

    def timed(store: str, epoch: int) -> float:
        batch = _kv_batch(spark, epoch)
        t = time.perf_counter()
        ingest_kv_batch(spark, store, "id", epoch, batch)
        secs = time.perf_counter() - t
        if base_upto(store) != epoch:
            raise SystemExit(f"kv_compact: epoch {epoch} did not fold")
        return secs

    store = os.path.join(tmp, "kv_compact")
    ingest_kv_batch(spark, store, "id", 0, _kv_batch(spark, 0, KV_KEYS))
    for e in range(1, KV_CAP + 1):
        ingest_kv_batch(spark, store, "id", e, _kv_batch(spark, e))
    cold = timed(store, KV_CAP + 1)  # folds epochs 0..KV_CAP: no base yet
    first = KV_CAP + 2
    for e in range(first, first + KV_CAP):
        ingest_kv_batch(spark, store, "id", e, _kv_batch(spark, e))
    times = []
    for i in range(REPEATS):
        run = os.path.join(tmp, f"kv_compact_{i}")
        shutil.copytree(store, run)
        times.append(timed(run, first + KV_CAP))
        shutil.rmtree(run)
    return cold, statistics.median(times)


if __name__ == "__main__":
    main()
