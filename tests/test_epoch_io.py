"""Replay idempotence of the epoch-partitioned foreachBatch sink
(streaming/epoch_io.py) — the contract the streaming LSH ingest gates rely
on under at-least-once delivery (round-10 advice: the old append-mode sink
double-appended a replayed micro-batch)."""

from __future__ import annotations

from pyspark.sql import functions as F

from postgresql_cdc_spark.streaming.epoch_io import epoch_overwrite
from postgresql_cdc_spark.streaming.epoch_maintenance import (
    epochs_before_compacted,
)


def _rows(spark, path):
    return sorted(
        tuple(r) for r in spark.read.parquet(path).collect()
    )


class TestEpochOverwrite:
    def test_replayed_epoch_does_not_double_append(self, spark, tmp_path):
        p = str(tmp_path / "idx")
        e0 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
        e1 = spark.createDataFrame([(3, "c"), (4, "d")], "id long, v string")
        epoch_overwrite(e0, p, 0)
        epoch_overwrite(e1, p, 1)
        before = _rows(spark, p)
        epoch_overwrite(e1, p, 1)  # at-least-once replay of epoch 1
        assert _rows(spark, p) == before

    def test_replay_replaces_half_written_attempt(self, spark, tmp_path):
        """A crash mid-epoch can leave a PARTIAL partition; the replay must
        replace it wholesale, not merge with it."""
        p = str(tmp_path / "idx")
        epoch_overwrite(
            spark.createDataFrame([(1, "a")], "id long, v string"), p, 0
        )
        half = spark.createDataFrame([(3, "HALF")], "id long, v string")
        full = spark.createDataFrame(
            [(3, "c"), (4, "d")], "id long, v string"
        )
        epoch_overwrite(half, p, 1)   # the crashed first attempt
        epoch_overwrite(full, p, 1)   # the replay
        got = _rows(spark, p)
        assert (3, "HALF", 1) not in got
        assert {(3, "c", 1), (4, "d", 1), (1, "a", 0)} == set(got)

    def test_other_epochs_untouched(self, spark, tmp_path):
        p = str(tmp_path / "idx")
        epoch_overwrite(
            spark.createDataFrame([(1, "a")], "id long, v string"), p, 0
        )
        epoch_overwrite(
            spark.createDataFrame([(2, "b")], "id long, v string"), p, 2
        )
        epoch_overwrite(
            spark.createDataFrame([(9, "z")], "id long, v string"), p, 0
        )  # replay epoch 0 with different content: only epoch 0 changes
        assert set(_rows(spark, p)) == {(9, "z", 0), (2, "b", 2)}

    def test_epochs_before_excludes_own_and_later(self, spark, tmp_path):
        p = str(tmp_path / "idx")
        for ep in range(3):
            epoch_overwrite(
                spark.createDataFrame([(ep, f"v{ep}")], "id long, v string"),
                p, ep,
            )
        got = sorted(
            tuple(r) for r in epochs_before_compacted(spark, p, 2).collect()
        )
        assert got == [(0, "v0"), (1, "v1")]
        # the probe frame carries no epoch column
        assert epochs_before_compacted(spark, p, 2).columns == ["id", "v"]

    def test_partition_pruning_reaches_scan(self, spark, tmp_path):
        """epochs_before_compacted must prune at the FILE level
        (PartitionFilters), not post-filter a full scan — at a month of
        micro-batches the difference is reading one day vs the whole index
        history."""
        p = str(tmp_path / "idx")
        for ep in range(4):
            epoch_overwrite(
                spark.createDataFrame([(ep, "x")], "id long, v string"),
                p, ep,
            )
        plan = (
            epochs_before_compacted(spark, p, 2)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "PartitionFilters" in plan and "ingest_epoch" in plan, plan


class TestEngineDrivenReplay:
    def test_crashed_foreachbatch_epoch_replays_idempotently(
        self, spark, tmp_path
    ):
        """The definitive at-least-once proof, through the REAL engine: a
        foreachBatch that crashes AFTER its sink writes but BEFORE the
        checkpoint commits forces Structured Streaming to re-run the same
        epoch on restart. With the epoch_io sink the replay overwrites its
        own partition, so the final table is identical to a crash-free run
        — the exact failure the round-10 advice flagged against the old
        append-mode sink (which would double-append here)."""
        import glob as _glob
        import os as _os

        indir = str(tmp_path / "in")
        _os.makedirs(indir)
        for k in range(3):
            df = spark.createDataFrame(
                [(k * 10 + i, f"w{k}") for i in range(4)], "id long, v string"
            )
            tmp = str(tmp_path / f"w{k}")
            df.coalesce(1).write.parquet(tmp)
            part = _glob.glob(_os.path.join(tmp, "part-*.parquet"))[0]
            dst = _os.path.join(indir, f"wave{k}.parquet")
            _os.rename(part, dst)
            _os.utime(dst, (1_600_000_000 + 60 * k,) * 2)

        out = str(tmp_path / "out")
        crash_flag = str(tmp_path / "crash_once")
        with open(crash_flag, "w") as f:
            f.write("1")

        def ingest(batch, epoch):
            epoch_overwrite(batch, out, int(epoch))
            # crash exactly once, on epoch 1, AFTER the write landed
            if int(epoch) == 1 and _os.path.exists(crash_flag):
                _os.unlink(crash_flag)
                raise RuntimeError("injected crash after sink write")

        def run():
            q = (
                spark.readStream.schema("id long, v string")
                .option("maxFilesPerTrigger", "1")
                .parquet(indir)
                .writeStream.foreachBatch(ingest)
                .option("checkpointLocation", str(tmp_path / "ckpt"))
                .trigger(availableNow=True)
                .start()
            )
            try:
                q.awaitTermination(120)
            finally:
                q.stop()

        try:
            run()  # dies mid-stream on epoch 1's injected crash
        except Exception:  # noqa: BLE001 — the injected crash surfaces here
            pass
        assert not _os.path.exists(crash_flag), "crash never fired"
        run()  # restart from the SAME checkpoint: epoch 1 re-runs

        got = sorted(
            (r.id, r.v, r.ingest_epoch)
            for r in spark.read.parquet(out).collect()
        )
        want = sorted(
            (k * 10 + i, f"w{k}", k) for k in range(3) for i in range(4)
        )
        assert got == want, got  # every row exactly once, epochs 0/1/2
