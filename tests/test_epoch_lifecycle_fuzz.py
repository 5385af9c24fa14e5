"""Property fuzz for the epoch-store lifecycle: ANY interleaving of epoch
ingests, size-tiered triggers, explicit compactions, and GC re-runs must
keep (a) the live read equal to the reference accumulated rows and (b)
every still-satisfiable strictly-earlier probe equal to the reference
prefix — maintenance invisible at every step, not just at the end (the
archive-lifecycle fuzz's invariant, one level up).

Spark-backed (every op writes/reads parquet), so examples are few and
schedules short; the individual crash windows are pinned one-by-one in
test_epoch_maintenance.py — this fuzz buys the INTERLEAVINGS those
single-window tests cannot enumerate.
"""

from __future__ import annotations

import os

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

# r18 tier split: hypothesis fuzz/property soaks run in the slow tier
# (fast coverage of the same operators lives in the sibling test files
# and the oracle-parity sweep); run with -m "" or -m slow.
pytestmark = pytest.mark.slow

from postgresql_cdc_spark.streaming.epoch_io import epoch_overwrite
from postgresql_cdc_spark.streaming.epoch_maintenance import (
    base_upto,
    compact_epochs,
    epochs_before_compacted,
    maybe_compact,
    read_epoch_store,
)

# each op is (kind, arg): ingest the next epoch with `arg` rows / run the
# trigger at cap `arg` / explicitly compact a fraction `arg` of the
# committed span / re-run compaction at the current horizon (pure GC)
_OPS = st.lists(
    st.one_of(
        st.tuples(st.just("ingest"), st.integers(1, 3)),
        st.tuples(st.just("trigger"), st.integers(1, 3)),
        st.tuples(st.just("compact"), st.floats(0.25, 1.0)),
        st.tuples(st.just("gc"), st.just(0)),
    ),
    min_size=4,
    max_size=9,
)


@settings(
    max_examples=8,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=_OPS)
def test_any_maintenance_interleaving_is_invisible(spark, tmp_path_factory, ops):
    store = str(tmp_path_factory.mktemp("els_fuzz") / "store")
    reference: dict[int, list[tuple[int, str]]] = {}  # epoch -> its rows
    next_epoch = 0

    def _rows(df):
        return sorted((r.id, r.v) for r in df.collect())

    def _want_before(e):
        return sorted(
            row for ep, rows in reference.items() if ep < e for row in rows
        )

    for kind, arg in ops:
        if kind == "ingest":
            rows = [(next_epoch * 10 + i, f"e{next_epoch}") for i in range(arg)]
            epoch_overwrite(
                spark.createDataFrame(rows, "id long, v string"),
                store, next_epoch,
            )
            reference[next_epoch] = rows
            next_epoch += 1
        elif not os.path.isdir(store):
            continue  # nothing to maintain yet
        elif kind == "trigger":
            # the production policy: horizon is the CURRENT epoch (all
            # strictly-earlier epochs committed)
            maybe_compact(
                spark, store, current_epoch=next_epoch, max_live_partials=arg
            )
        elif kind == "compact":
            prev = base_upto(store)
            upto = prev + int(round((next_epoch - prev) * arg))
            if upto > prev:
                compact_epochs(spark, store, upto=upto)
        else:  # gc: converging re-run at the committed horizon
            compact_epochs(spark, store, upto=base_upto(store))

        if not os.path.isdir(store):
            continue
        # invariant (a): the live read is the reference multiset
        want_all = sorted(r for rows in reference.values() for r in rows)
        assert _rows(read_epoch_store(spark, store)) == want_all
        # invariant (b): every still-satisfiable strictly-earlier probe is
        # the reference prefix; below the horizon the contract raises
        horizon = base_upto(store)
        for e in {horizon, next_epoch, max(horizon, next_epoch - 1)}:
            assert _rows(
                epochs_before_compacted(spark, store, e)
            ) == _want_before(e)
        if horizon > 0:
            with pytest.raises(ValueError):
                epochs_before_compacted(spark, store, horizon - 1)


# --- crash-injection variant --------------------------------------------------

_CRASH_OPS = st.lists(
    st.one_of(
        st.tuples(st.just("ingest"), st.integers(1, 2)),
        st.tuples(st.just("trigger"), st.integers(1, 2)),
        # compaction that CRASHES at a protocol point, then the schedule
        # continues: "fold" = base written but manifest not committed;
        # "commit" = manifest committed but the sweep never ran
        st.tuples(st.just("crash"), st.sampled_from(["fold", "commit"])),
        st.tuples(st.just("compact"), st.just(0)),
    ),
    min_size=4,
    max_size=9,
)


class _Boom(RuntimeError):
    pass


@settings(
    max_examples=8,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=_CRASH_OPS)
def test_crashed_compactions_stay_invisible_and_converge(
    spark, tmp_path_factory, ops
):
    """A compaction killed between any two protocol steps must leave every
    reader on exactly the pre- or post-compaction state, and ANY later
    maintenance pass (trigger, explicit compaction, re-run) must converge —
    under arbitrary interleavings with live ingest, not just the one-shot
    schedules the unit tests pin."""
    import unittest.mock as mock

    import postgresql_cdc_spark.streaming.epoch_maintenance as em

    store = str(tmp_path_factory.mktemp("els_crash") / "store")
    reference: dict[int, list[tuple[int, str]]] = {}
    next_epoch = 0

    def _rows(df):
        return sorted((r.id, r.v) for r in df.collect())

    def _crash_compact(where: str, upto: int):
        if where == "fold":
            # die between the base write and the manifest commit
            with mock.patch.object(
                em, "_commit_manifest",
                side_effect=_Boom("crash before commit"),
            ):
                try:
                    compact_epochs(spark, store, upto=upto)
                except _Boom:
                    return
            raise AssertionError("injected crash did not fire")
        # die between the manifest commit and the sweep
        real_commit = em._commit_manifest

        def commit_then_die(path, u):
            real_commit(path, u)
            raise _Boom("crash after commit")

        with mock.patch.object(
            em, "_commit_manifest", side_effect=commit_then_die
        ):
            try:
                compact_epochs(spark, store, upto=upto)
            except _Boom:
                return
        raise AssertionError("injected crash did not fire")

    for kind, arg in ops:
        if kind == "ingest":
            rows = [(next_epoch * 10 + i, f"e{next_epoch}") for i in range(arg)]
            epoch_overwrite(
                spark.createDataFrame(rows, "id long, v string"),
                store, next_epoch,
            )
            reference[next_epoch] = rows
            next_epoch += 1
        elif not os.path.isdir(store):
            continue
        elif kind == "trigger":
            maybe_compact(
                spark, store, current_epoch=next_epoch, max_live_partials=arg
            )
        elif kind == "crash":
            if next_epoch > base_upto(store):
                _crash_compact(arg, next_epoch)
        else:  # compact: a clean full pass — also completes any crashed sweep
            upto = max(base_upto(store), next_epoch)
            if upto >= base_upto(store):
                compact_epochs(spark, store, upto=upto)

        if not os.path.isdir(store):
            continue
        want_all = sorted(r for rows in reference.values() for r in rows)
        assert _rows(read_epoch_store(spark, store)) == want_all
        assert _rows(
            epochs_before_compacted(spark, store, next_epoch)
        ) == want_all


# --- point reads at every protocol step ---------------------------------------

_KV_DDL = "id long, v string, op string, lsn long"

_KV_OPS = st.lists(
    st.one_of(
        # one kv batch: (key, op) changes, LSNs assigned in stream order
        st.tuples(
            st.just("ingest"),
            st.lists(
                st.tuples(st.integers(0, 4), st.sampled_from("IUD")),
                min_size=1, max_size=4,
            ),
        ),
        st.tuples(st.just("compact"), st.floats(0.25, 1.0)),
    ),
    min_size=4,
    max_size=9,
)


@settings(
    max_examples=8,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=_KV_OPS)
def test_point_reads_between_compaction_steps_match_model(
    spark, tmp_path_factory, ops
):
    """``probe_key_state`` runs after the fold write (``kv_fold``), after
    the manifest commit and after the sweep of every compaction — the
    size-tiered ones inside ``ingest_kv_batch`` and explicit ones — and
    must equal the latest-wins model each time: no row lost or doubled
    mid-protocol."""
    import functools
    import unittest.mock as mock

    import postgresql_cdc_spark.streaming.epoch_maintenance as em
    import postgresql_cdc_spark.streaming.kv_store as kvs
    from postgresql_cdc_spark.streaming.kv_store import (
        ingest_kv_batch,
        probe_key_state,
    )

    store = str(tmp_path_factory.mktemp("els_kv") / "kv")
    model: dict[int, tuple] = {}  # key -> live (id, v, op, lsn)
    keys = spark.createDataFrame([(k,) for k in range(6)], "id long")
    seen: list[str] = []
    next_epoch, lsn = 0, 0

    def check(step):
        def after(real):
            def run(*args, **kwargs):
                out = real(*args, **kwargs)
                got = sorted(
                    tuple(r) for r in
                    probe_key_state(spark, store, _KV_DDL, "id", keys).collect()
                )
                assert got == sorted(model.values()), step
                seen.append(step)
                return out
            return run
        return after

    hooks = [
        mock.patch.object(mod, name,
                          side_effect=check(name)(getattr(mod, name)))
        for mod, name in ((kvs, "kv_fold"), (em, "_commit_manifest"),
                          (em, "_sweep_stale"))
    ]
    schema = spark.createDataFrame([], _KV_DDL).schema
    for h in hooks:
        h.start()
    try:
        for kind, arg in ops:
            if kind == "ingest":
                rows = []
                for k, op in arg:
                    lsn += 1
                    rows.append((k, f"{k}@{lsn}", op, lsn))
                ingest_kv_batch(
                    spark, store, "id", next_epoch,
                    spark.createDataFrame(rows, _KV_DDL), max_live_partials=2,
                )
                for row in rows:  # hooks above saw the pre-batch model
                    if row[2] == "D":
                        model.pop(row[0], None)
                    else:
                        model[row[0]] = row
                next_epoch += 1
            elif os.path.isdir(store):
                prev = base_upto(store)
                upto = prev + int(round((next_epoch - prev) * arg))
                if upto > prev:
                    compact_epochs(
                        spark, store, upto, fold=functools.partial(
                            kvs.kv_fold, store, "id", schema),
                    )
    finally:
        for h in hooks:
            h.stop()
    if base_upto(store) > 0:
        assert {"kv_fold", "_commit_manifest", "_sweep_stale"} <= set(seen)
