"""Streaming checkpoints under ``session.get_spark``'s checkpoint manager.

``get_spark`` writes the offset log, the commit log and the state-store
files through Spark's ``FileSystemBasedCheckpointFileManager`` instead of
the default ``FileContextBasedCheckpointFileManager``. Both write the same
files in the same layout, so a checkpoint left by the old default must
restart under the new one without reading an offset twice or skipping one.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from postgresql_cdc_spark.plans.streaming_gate import _drain_bounded
from postgresql_cdc_spark.session import CHECKPOINT_FILE_MANAGER
from postgresql_cdc_spark.sources.pgoutput import (
    encode_begin,
    encode_commit,
    encode_delete,
    encode_insert,
    encode_relation,
    encode_update,
)
from postgresql_cdc_spark.streaming.kv_store import ingest_kv_batch, key_state
from postgresql_cdc_spark.streaming.source import (
    PgCdcDataSource,
    write_wal_archive,
)
from tests.test_streaming_cdc import REL

MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"
FILE_CONTEXT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileContextBasedCheckpointFileManager"
)
DDL = "id long, v_int int, op string, lsn long"
TXNS = 24


def _txn(i: int) -> list:
    """Transaction ``i``: insert key ``i``, update key ``i // 2`` and, every
    third transaction, delete key ``i - 3`` (the first such delete hits no
    key)."""
    lsn = 100 * (i + 1)
    frames = [
        (lsn, encode_begin(lsn + 9, 0, i + 1)),
        (lsn + 1, encode_insert(16384, [str(i), f"v{i}", str(i), "{}"])),
        (lsn + 2, encode_update(16384, [str(i // 2), None, str(1000 + i), None],
                                toast={1, 3})),
    ]
    if i % 3 == 2:
        frames.append((lsn + 3, encode_delete(16384, [str(i - 3), None, None, None])))
    frames.append((lsn + 9, encode_commit(lsn + 9, lsn + 10, 0)))
    return frames


def _decoded(df):
    return df.select(
        F.element_at("columns", "id").cast("long").alias("id"),
        F.element_at("columns", "v_int").cast("int").alias("v_int"),
        "op", "lsn",
    )


def _ckpt_temp_files(ckpt: str) -> list:
    return [
        os.path.join(log, n)
        for log in ("offsets", "commits")
        for n in os.listdir(os.path.join(ckpt, log))
        if ".tmp" in n
    ]


def test_session_manager_class_resolves_in_the_jvm(spark):
    """A pyspark upgrade that moves the class fails here, not in every
    streaming query's start."""
    name = spark.conf.get(MANAGER_CONF)
    assert name == CHECKPOINT_FILE_MANAGER
    cls = spark.sparkContext._jvm.java.lang.Class.forName(name)
    assert cls.getName() == name


def test_file_context_checkpoint_restarts_under_the_session_default(
        spark, tmp_path):
    """A pgcdc -> kv ``foreachBatch`` query checkpoints under the
    ``FileContext`` manager, stops mid-archive, and restarts from the same
    checkpoint under the session default: every DML LSN reaches the sink
    exactly once, and the store equals a one-shot replay."""
    spark.dataSource.register(PgCdcDataSource)
    arch = str(tmp_path / "wal")
    ckpt = str(tmp_path / "ckpt")
    store = str(tmp_path / "kv")
    frames = [(1, encode_relation(REL))]
    for i in range(TXNS):
        frames += _txn(i)
    seen: list = []

    def sink(batch_df, batch_id):
        decoded = _decoded(batch_df)
        seen.extend(r.lsn for r in decoded.select("lsn").collect())
        ingest_kv_batch(batch_df.sparkSession, store, "id", int(batch_id), decoded)

    def run() -> list:
        q = (
            spark.readStream.format("pgcdc").option("path", arch)
            .option("maxRecordsPerBatch", "7").load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt).start()
        )
        _drain_bounded(q)
        assert _ckpt_temp_files(ckpt) == []
        return [p.batchId for p in q.recentProgress if p.numInputRows]

    cut = 1 + sum(len(_txn(i)) for i in range(TXNS // 2))
    write_wal_archive(arch, frames[:cut], chunk="000000.wal")
    spark.conf.set(MANAGER_CONF, FILE_CONTEXT_MANAGER)
    try:
        first = run()
    finally:
        spark.conf.set(MANAGER_CONF, CHECKPOINT_FILE_MANAGER)
    write_wal_archive(arch, frames[cut:], chunk="000001.wal")
    second = run()

    assert len(first) >= 2 and len(second) >= 2
    assert min(second) == max(first) + 1  # resumed, no batch re-run
    dml = [lsn for lsn, _ in frames[1:] if lsn % 100 not in (0, 9)]  # not BEGIN/COMMIT
    assert sorted(seen) == dml  # no LSN read twice, none skipped

    one_shot = str(tmp_path / "kv_one_shot")
    ingest_kv_batch(spark, one_shot, "id", 0,
                    _decoded(spark.read.format("pgcdc").option("path", arch).load()))
    got = key_state(spark, store, DDL, "id").select("id", "v_int")
    want = key_state(spark, one_shot, DDL, "id").select("id", "v_int")
    assert sorted(got.collect()) == sorted(want.collect())
