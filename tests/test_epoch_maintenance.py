"""Crash invisibility + idempotence of epoch-store compaction
(streaming/epoch_maintenance.py) — the maintained-store lifecycle the
round-12 verdict flagged: one partition (and one stats partial) per epoch
forever is the WAL small-file problem one level up. Every window of the
three-step protocol (fold -> manifest commit -> sweep) must leave readers
seeing exactly the pre- or exactly the post-compaction state."""

from __future__ import annotations

import json
import os

import pytest

from pyspark.sql import functions as F

from postgresql_cdc_spark.streaming.epoch_io import epoch_overwrite
from postgresql_cdc_spark.streaming.epoch_maintenance import (
    BASE_MANIFEST,
    base_upto,
    compact_epochs,
    epochs_before_compacted,
    read_epoch_store,
)


def _seed(spark, path, n_epochs):
    for ep in range(n_epochs):
        epoch_overwrite(
            spark.createDataFrame(
                [(ep * 10 + i, f"e{ep}") for i in range(2)],
                "id long, v string",
            ),
            path, ep,
        )


def _store(spark, path):
    return sorted(tuple(r) for r in read_epoch_store(spark, path).collect())


def _parts(path):
    return sorted(
        n for n in os.listdir(path) if n.startswith("ingest_epoch=")
    )


class TestCompactEpochs:
    def test_fold_is_invisible_to_readers(self, spark, tmp_path):
        p = str(tmp_path / "store")
        _seed(spark, p, 4)
        before = _store(spark, p)
        stats = compact_epochs(spark, p, upto=3)
        assert stats["base_upto_after"] == 3
        assert stats["folded_partitions"] == 3
        assert _store(spark, p) == before
        # epochs 0-2 folded into the reserved base; epoch 3 stays live
        assert _parts(p) == ["ingest_epoch=-3", "ingest_epoch=3"]

    def test_strictly_earlier_probe_over_compacted_store(self, spark, tmp_path):
        p = str(tmp_path / "store")
        _seed(spark, p, 4)
        want = sorted(
            tuple(r)
            for r in epochs_before_compacted(spark, p, 3).collect()
        )
        compact_epochs(spark, p, upto=2)
        got = sorted(
            tuple(r)
            for r in epochs_before_compacted(spark, p, 3).collect()
        )
        assert got == want  # base(0,1) + partial 2 == epochs 0-2
        assert epochs_before_compacted(spark, p, 3).columns == ["id", "v"]

    def test_probe_below_horizon_raises(self, spark, tmp_path):
        p = str(tmp_path / "store")
        _seed(spark, p, 4)
        compact_epochs(spark, p, upto=3)
        try:
            epochs_before_compacted(spark, p, 2)
            raise AssertionError("expected ValueError")
        except ValueError as e:
            assert "horizon" in str(e)
        # epoch == horizon is exactly the base: still answerable
        got = sorted(
            tuple(r)
            for r in epochs_before_compacted(spark, p, 3).collect()
        )
        assert [r[1] for r in got] == ["e0", "e0", "e1", "e1", "e2", "e2"]

    def test_merge_aggregate_collapses_partials(self, spark, tmp_path):
        """A SUM-mergeable stats store folds to ONE base row (the
        cdc_stream_bm25_stats shape)."""
        p = str(tmp_path / "stats")
        for ep in range(3):
            epoch_overwrite(
                spark.createDataFrame([(ep + 1, 10 * (ep + 1))], "n long, s long"),
                p, ep,
            )
        compact_epochs(
            spark, p, upto=2,
            merge=lambda df: df.agg(
                F.sum("n").cast("bigint").alias("n"),
                F.sum("s").cast("bigint").alias("s"),
            ),
        )
        rows = sorted(tuple(r) for r in read_epoch_store(spark, p).collect())
        # base = SUM of epochs 0+1 = (1+2, 10+20); live epoch 2 = (3, 30)
        assert rows == [(3, 30), (3, 30)]

    def test_crash_before_manifest_commit_is_invisible(self, spark, tmp_path):
        """Window between step 1 (base fold written) and step 2 (manifest
        rename): the orphan base partition must not be read, and a re-run
        converges."""
        p = str(tmp_path / "store")
        _seed(spark, p, 3)
        before = _store(spark, p)
        # simulate the crashed attempt: the fold landed, the commit did not
        folded = (
            spark.read.parquet(p)
            .where(F.col("ingest_epoch") < 2)
            .drop("ingest_epoch")
        )
        epoch_overwrite(folded, p, -2)
        assert base_upto(p) == 0
        assert _store(spark, p) == before  # orphan base invisible
        stats = compact_epochs(spark, p, upto=2)  # the re-run
        assert stats["base_upto_after"] == 2
        assert _store(spark, p) == before

    def test_crash_before_sweep_is_invisible(self, spark, tmp_path):
        """Window between step 2 (manifest committed) and step 3 (stale
        partitions deleted): folded partials still on disk must not double
        count, and a same-horizon re-run finishes the sweep."""
        p = str(tmp_path / "store")
        _seed(spark, p, 3)
        before = _store(spark, p)
        folded = (
            spark.read.parquet(p)
            .where(F.col("ingest_epoch") < 2)
            .drop("ingest_epoch")
        )
        epoch_overwrite(folded, p, -2)
        with open(os.path.join(p, BASE_MANIFEST), "w") as f:
            json.dump({"upto": 2}, f)  # committed, sweep never ran
        assert _store(spark, p) == before  # stale partials invisible
        stats = compact_epochs(spark, p, upto=2)  # pure GC pass
        assert stats["folded_partitions"] == 0
        assert stats["deleted_partitions"] == 2
        assert _store(spark, p) == before
        assert _parts(p) == ["ingest_epoch=-2", "ingest_epoch=2"]

    def test_recompaction_folds_base_forward(self, spark, tmp_path):
        p = str(tmp_path / "store")
        _seed(spark, p, 3)
        compact_epochs(spark, p, upto=2)
        for ep in (3, 4):
            epoch_overwrite(
                spark.createDataFrame(
                    [(ep * 10 + i, f"e{ep}") for i in range(2)],
                    "id long, v string",
                ),
                p, ep,
            )
        before = _store(spark, p)
        stats = compact_epochs(spark, p, upto=4)
        assert stats["base_upto_before"] == 2
        assert _store(spark, p) == before
        assert _parts(p) == ["ingest_epoch=-4", "ingest_epoch=4"]

    def test_horizon_cannot_regress(self, spark, tmp_path):
        p = str(tmp_path / "store")
        _seed(spark, p, 4)
        compact_epochs(spark, p, upto=3)
        try:
            compact_epochs(spark, p, upto=2)
            raise AssertionError("expected ValueError")
        except ValueError as e:
            assert "regress" in str(e)

    def test_replayed_live_epoch_still_overwrites_only_itself(
        self, spark, tmp_path
    ):
        """The epoch_io replay contract survives compaction: a replay of a
        live (uncompacted) epoch replaces its own partition and never
        touches the base."""
        p = str(tmp_path / "store")
        _seed(spark, p, 3)
        compact_epochs(spark, p, upto=2)
        epoch_overwrite(
            spark.createDataFrame([(99, "replay")], "id long, v string"), p, 2
        )
        got = _store(spark, p)
        assert (99, "replay") in got
        assert [r for r in got if r[1] == "e2"] == []
        assert [r for r in got if r[1] in ("e0", "e1")] == [
            (0, "e0"), (1, "e0"), (10, "e1"), (11, "e1")
        ]

    def test_partition_pruning_reaches_scan(self, spark, tmp_path):
        """The manifest-aware read must prune at the FILE level, like the
        strictly-earlier probe — a year-old store reads its base + tail,
        not every stale leftover."""
        p = str(tmp_path / "store")
        _seed(spark, p, 4)
        compact_epochs(spark, p, upto=3)
        plan = (
            read_epoch_store(spark, p)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "PartitionFilters" in plan and "ingest_epoch" in plan, plan


class TestEngineDrivenCompaction:
    @pytest.mark.slow  # r18 tier split: lifecycle/parity soak; slow tier
    def test_midstream_compaction_with_crash_replay(self, spark, tmp_path):
        """Compaction DURING a live stream, through the real engine: epoch
        2's foreachBatch first compacts the committed epochs below itself
        (upto = 2 — both already committed, so neither can replay), then
        probes the strictly-earlier state; the probe must see exactly
        epochs 0+1 whether it reads two partials or the folded base. An
        injected crash AFTER epoch 2's sink write forces the engine to
        replay epoch 2 — the replay re-runs the (idempotent) compaction
        GC pass and its probe and overwrite converge to the crash-free
        result."""
        import glob as _glob
        import os as _os

        from pyspark.sql import functions as F

        from postgresql_cdc_spark.streaming.epoch_maintenance import (
            compact_epochs,
            epochs_before_compacted,
        )

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
        probe_log = str(tmp_path / "probes")
        _os.makedirs(probe_log)
        crash_flag = str(tmp_path / "crash_once")
        with open(crash_flag, "w") as f:
            f.write("1")

        def ingest(batch, epoch):
            ep = int(epoch)
            sp = batch.sparkSession
            if ep == 2:
                # epochs 0 and 1 are committed: fold them mid-stream (the
                # replayed attempt re-runs this as a pure GC pass)
                compact_epochs(sp, out, upto=2)
                seen = sorted(
                    r.id for r in
                    epochs_before_compacted(sp, out, ep).collect()
                )
                with open(_os.path.join(probe_log, f"a{ep}"), "a") as f:
                    f.write(",".join(map(str, seen)) + "\n")
            epoch_overwrite(batch, out, ep)
            if ep == 2 and _os.path.exists(crash_flag):
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
            run()  # dies on epoch 2's injected crash, after compaction+write
        except Exception:  # noqa: BLE001 — the injected crash surfaces here
            pass
        assert not _os.path.exists(crash_flag), "crash never fired"
        run()  # restart: epoch 2 replays over the already-compacted store

        # both epoch-2 attempts (crashed + replay) probed the SAME pre-2
        # state: exactly waves 0 and 1, from the folded base
        with open(_os.path.join(probe_log, "a2")) as f:
            probes = [ln.strip() for ln in f if ln.strip()]
        want_pre2 = ",".join(
            str(k * 10 + i) for k in range(2) for i in range(4)
        )
        assert probes == [want_pre2, want_pre2], probes

        got = sorted(
            (r.id, r.v) for r in read_epoch_store(spark, out).collect()
        )
        want = sorted(
            (k * 10 + i, f"w{k}") for k in range(3) for i in range(4)
        )
        assert got == want, got


class TestHorizonGuards:
    def test_horizon_beyond_head_raises(self, spark, tmp_path):
        """Spark batch ids are contiguous: a horizon past the store head
        would fold over epochs that WILL arrive later, making them
        invisible to every manifest-aware read — misuse must be loud."""
        p = str(tmp_path / "store")
        _seed(spark, p, 3)  # epochs 0-2 -> head is 3
        try:
            compact_epochs(spark, p, upto=10)
            raise AssertionError("expected ValueError")
        except ValueError as e:
            assert "head" in str(e)
        # the full fold up to the head is legitimate
        stats = compact_epochs(spark, p, upto=3)
        assert stats["folded_partitions"] == 3
        # post-full-fold: the GC re-run at the same horizon stays valid
        # even though no live (non-negative) epoch remains
        stats = compact_epochs(spark, p, upto=3)
        assert stats["folded_partitions"] == 0
        # and epochs arriving after the fold raise the head again
        epoch_overwrite(
            spark.createDataFrame([(30, "e3")], "id long, v string"), p, 3
        )
        stats = compact_epochs(spark, p, upto=4)
        assert stats["base_upto_after"] == 4
        got = _store(spark, p)
        assert (30, "e3") in got and len(got) == 7


from postgresql_cdc_spark.streaming.epoch_maintenance import (  # noqa: E402
    consistent_epoch_read,
    maybe_compact,
)


class TestMaybeCompact:
    def test_noop_under_cap(self, spark, tmp_path):
        p = str(tmp_path / "store")
        _seed(spark, p, 4)
        assert maybe_compact(spark, p, current_epoch=4,
                             max_live_partials=8) is None
        assert len(_parts(p)) == 4  # untouched

    def test_folds_strictly_below_current_epoch(self, spark, tmp_path):
        p = str(tmp_path / "store")
        _seed(spark, p, 6)
        before = _store(spark, p)
        stats = maybe_compact(spark, p, current_epoch=6,
                              max_live_partials=4)
        assert stats is not None and stats["base_upto_after"] == 6
        assert _store(spark, p) == before  # maintenance stays invisible
        assert _parts(p) == ["ingest_epoch=-6"]
        # bounded steady state: the next epochs stay under the cap -> no-op
        for ep in range(6, 10):
            epoch_overwrite(
                spark.createDataFrame([(ep, f"e{ep}")], "id long, v string"),
                p, ep,
            )
            assert maybe_compact(spark, p, current_epoch=ep + 1,
                                 max_live_partials=4) is None
        # one more partial crosses the cap and the trigger fires again
        epoch_overwrite(
            spark.createDataFrame([(10, "e10")], "id long, v string"), p, 10
        )
        stats = maybe_compact(spark, p, current_epoch=11,
                              max_live_partials=4)
        assert stats is not None and stats["base_upto_after"] == 11
        assert len(_parts(p)) == 1

    def test_crashed_own_partition_is_never_folded(self, spark, tmp_path):
        """A crashed attempt at the CURRENT epoch left its half-written
        partition behind; the trigger must keep it live so the replay's
        dynamic overwrite replaces it instead of freezing the partial rows
        into the base (which would double-count the epoch)."""
        p = str(tmp_path / "store")
        _seed(spark, p, 5)  # committed epochs 0-4
        # crashed attempt at epoch 5: half-written garbage
        epoch_overwrite(
            spark.createDataFrame([(999, "half")], "id long, v string"), p, 5
        )
        stats = maybe_compact(spark, p, current_epoch=5,
                              max_live_partials=2)
        assert stats is not None and stats["base_upto_after"] == 5
        assert _parts(p) == ["ingest_epoch=-5", "ingest_epoch=5"]
        # the replay now overwrites its own (still live) partition wholesale
        epoch_overwrite(
            spark.createDataFrame(
                [(50, "e5"), (51, "e5")], "id long, v string"
            ),
            p, 5,
        )
        got = _store(spark, p)
        assert (999, "half") not in got
        assert [(50, "e5"), (51, "e5")] == [r for r in got if r[1] == "e5"]
        assert len(got) == 5 * 2 + 2

    def test_sparse_store_caps_horizon_at_head(self, spark, tmp_path):
        """Epochs that wrote no rows leave no partition: current_epoch can
        run ahead of the store head, and the trigger must not trip
        compact_epochs' not-yet-arrived guard."""
        p = str(tmp_path / "store")
        _seed(spark, p, 3)  # head is 3; epochs 3-9 wrote nothing here
        stats = maybe_compact(spark, p, current_epoch=10,
                              max_live_partials=2)
        assert stats is not None and stats["base_upto_after"] == 3
        assert _parts(p) == ["ingest_epoch=-3"]


class TestConsistentEpochRead:
    def test_single_attempt_when_quiescent(self, spark, tmp_path):
        p = str(tmp_path / "store")
        _seed(spark, p, 4)
        attempts = []

        def action(df):
            attempts.append(1)
            return sorted(tuple(r) for r in df.collect())

        got = consistent_epoch_read(spark, p, action)
        assert got == _store(spark, p)
        assert len(attempts) == 1

    def test_retries_when_compaction_commits_mid_read(self, spark, tmp_path):
        """First attempt resolves the pre-compaction horizon, then a
        compaction commits + sweeps before/through the scan: whether the
        tear is loud (swept files fail the scan) or silent (stale filter
        drops the fold), the wrapper must detect the horizon move and
        converge on the post-compaction view."""
        p = str(tmp_path / "store")
        _seed(spark, p, 5)
        want = _store(spark, p)
        attempts = []

        def action(df):
            attempts.append(1)
            if len(attempts) == 1:
                # concurrent maintenance: commits (and sweeps) mid-read
                compact_epochs(spark, p, upto=4)
            return sorted(tuple(r) for r in df.collect())

        got = consistent_epoch_read(spark, p, action)
        assert got == want
        assert len(attempts) >= 2

    def test_gives_up_after_max_retries(self, spark, tmp_path):
        p = str(tmp_path / "store")
        _seed(spark, p, 3)
        horizon = [0]

        def action(df):
            # a compactor that outruns every attempt (forward progress is
            # simulated by bumping the manifest horizon each read)
            horizon[0] += 1
            _commit = __import__(
                "postgresql_cdc_spark.streaming.epoch_maintenance",
                fromlist=["_commit_manifest"],
            )._commit_manifest
            _commit(p, horizon[0])
            return 1

        try:
            consistent_epoch_read(spark, p, action, max_retries=2)
            raise AssertionError("expected RuntimeError")
        except RuntimeError as e:
            assert "compacted during every read attempt" in str(e)


class TestEmptyFold:
    def test_empty_fold_with_merge_writes_no_phantom_row(self, spark, tmp_path):
        """Sparse store (epochs below the horizon wrote nothing): a global-
        aggregate merge over the ZERO folded rows yields one all-null row —
        it must not be persisted as the base, and the horizon still
        commits."""
        p = str(tmp_path / "store")
        for ep in (5, 6, 7):
            epoch_overwrite(
                spark.createDataFrame([(ep * 10, f"e{ep}")], "id long, v string"),
                p, ep,
            )

        def merge(df):
            return df.groupBy("v").agg(F.min("id").alias("id")).select("id", "v")

        stats = compact_epochs(spark, p, upto=3, merge=merge)
        assert stats["folded_partitions"] == 0
        assert stats["base_upto_after"] == 3 and base_upto(p) == 3
        got = sorted(tuple(r) for r in read_epoch_store(spark, p).collect())
        assert got == [(50, "e5"), (60, "e6"), (70, "e7")], got
        # no base partition materialized for the empty fold
        assert "ingest_epoch=-3" not in _parts(p)
        # an orphan base a crashed pre-guard attempt left at this horizon
        # is cleared rather than resurrected by the commit
        p2 = str(tmp_path / "store2")
        for ep in (5, 6):
            epoch_overwrite(
                spark.createDataFrame([(ep * 10, f"e{ep}")], "id long, v string"),
                p2, ep,
            )
        epoch_overwrite(
            spark.createDataFrame([(999, "garbage")], "id long, v string"),
            p2, -3,
        )
        compact_epochs(spark, p2, upto=3, merge=merge)
        got = sorted(tuple(r) for r in read_epoch_store(spark, p2).collect())
        assert got == [(50, "e5"), (60, "e6")], got


class TestFsyncFailureDiscrimination:
    """r13 advice: the fold fsync exists because the base becomes the ONLY
    surviving copy before the sweep deletes the partials — a genuine write
    failure (EIO: the kernel lost dirty pages) must abort the compaction
    BEFORE the manifest commit, while a capability refusal (network mounts
    rejecting fsync on a directory fd) stays tolerated."""

    def test_eio_during_fold_fsync_aborts_before_commit(
        self, spark, tmp_path, monkeypatch
    ):
        import errno

        p = str(tmp_path / "store")
        _seed(spark, p, 4)
        before = _store(spark, p)
        real_fsync = os.fsync

        def failing_fsync(fd):
            raise OSError(errno.EIO, "writeback lost")

        monkeypatch.setattr(os, "fsync", failing_fsync)
        try:
            import pytest

            with pytest.raises(OSError):
                compact_epochs(spark, p, upto=3)
        finally:
            monkeypatch.setattr(os, "fsync", real_fsync)
        # aborted before the commit point: no manifest, store intact,
        # and a re-run converges cleanly
        assert base_upto(p) == 0
        assert _store(spark, p) == before
        stats = compact_epochs(spark, p, upto=3)
        assert stats["base_upto_after"] == 3
        assert _store(spark, p) == before

    def test_capability_refusal_is_tolerated(self, spark, tmp_path, monkeypatch):
        import errno

        p = str(tmp_path / "store")
        _seed(spark, p, 4)
        before = _store(spark, p)
        real_fsync = os.fsync

        def refusing_fsync(fd):
            raise OSError(errno.EINVAL, "fsync not supported on this fd")

        monkeypatch.setattr(os, "fsync", refusing_fsync)
        try:
            stats = compact_epochs(spark, p, upto=3)
        finally:
            monkeypatch.setattr(os, "fsync", real_fsync)
        assert stats["base_upto_after"] == 3 and base_upto(p) == 3
        assert _store(spark, p) == before

    def test_eacces_at_open_is_tolerated(self, spark, tmp_path, monkeypatch):
        """r15 advice: EACCES at os.open signals a permission/capability
        condition (ACL-restricted or FUSE mounts where the driver cannot
        re-open executor-written files), NOT lost writeback — compaction
        must proceed (durability narrows to what the mount grants) instead
        of crash-looping with no data at risk. r16 advice: the narrowing
        must NOT be silent — a one-per-path RuntimeWarning names the entry
        and errno so operators can tell 'durability narrowed by mount
        ACLs' from a healthy fsync walk."""
        import errno
        import warnings

        from postgresql_cdc_spark.streaming import epoch_maintenance as em

        p = str(tmp_path / "store")
        _seed(spark, p, 4)
        before = _store(spark, p)
        real_open = os.open
        em._PERM_TOLERATED_WARNED.clear()

        def denying_open(path, flags, *a, **kw):
            raise OSError(errno.EACCES, "mount denies re-open")

        monkeypatch.setattr(os, "open", denying_open)
        try:
            with warnings.catch_warnings(record=True) as caught:
                warnings.simplefilter("always")
                stats = compact_epochs(spark, p, upto=3)
        finally:
            monkeypatch.setattr(os, "open", real_open)
        assert stats["base_upto_after"] == 3 and base_upto(p) == 3
        assert _store(spark, p) == before
        perm_warns = [
            w for w in caught
            if issubclass(w.category, RuntimeWarning)
            and "durability" in str(w.message)
        ]
        assert perm_warns, "permission-tolerance branch fired silently"
        assert "errno 13" in str(perm_warns[0].message)
        # one warning per distinct (directory, errno), not per file —
        # folds rewrite part files under fresh names every compaction, so
        # per-file dedup would flood and grow without bound (r16 review)
        dirs = [
            os.path.dirname(str(w.message).split("'")[1])
            for w in perm_warns
        ]
        assert len(dirs) == len(set(dirs)), dirs

    def test_eio_at_open_still_aborts(self, spark, tmp_path, monkeypatch):
        """The discrimination's other arm: EIO at open IS the kernel
        reporting lost pages for fold data the sweep would orphan — abort
        before the commit point, exactly like an EIO at fsync."""
        import errno

        import pytest

        p = str(tmp_path / "store")
        _seed(spark, p, 4)
        before = _store(spark, p)
        real_open = os.open

        def failing_open(path, flags, *a, **kw):
            raise OSError(errno.EIO, "lost writeback at open")

        monkeypatch.setattr(os, "open", failing_open)
        try:
            with pytest.raises(OSError):
                compact_epochs(spark, p, upto=3)
        finally:
            monkeypatch.setattr(os, "open", real_open)
        assert base_upto(p) == 0
        assert _store(spark, p) == before
