"""Tests of the benchmark's own helpers (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import datetime as dt
import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import cdcgen, stats  # noqa: E402
from perfbench.metrics import END_TO_END, PER_LAYER  # noqa: E402


# -- percentiles and the sample-count rule -----------------------------------

def test_percentile_interpolates_linearly():
    assert stats.percentile([5, 1, 3, 2, 4], 50) == 3
    assert stats.percentile([0, 10], 90) == pytest.approx(9.0)
    assert stats.percentile([7], 99) == 7
    with pytest.raises(ValueError):
        stats.percentile([], 50)


@pytest.mark.parametrize("n,wanted,expect", [
    (100, 90, 90),     # exactly 10 samples beyond p90
    (99, 90, 75),      # 9.9 beyond p90: fall back to p75
    (1000, 99, 99),
    (999, 99, 95),
    (40, 99, 75),
    (20, 50, 50),
    (19, 50, None),    # not even the median has 10 beyond it
])
def test_supported_tail_needs_ten_samples_beyond(n, wanted, expect):
    assert stats.supported_tail(n, wanted) == expect


# -- open-loop lateness --------------------------------------------------------

def test_lateness_counts_from_due_time_and_clamps_early_starts():
    lags = stats.lateness([0.0, 1.0, 2.0], [0.004, 1.5, 1.9])
    assert lags == pytest.approx([0.004, 0.5, 0.0])
    with pytest.raises(ValueError):
        stats.lateness([0.0], [])


def test_fell_behind_uses_the_supported_tail():
    on_time = [0.001] * 200
    assert not stats.fell_behind(on_time, 0.1)
    # 200 samples support p95, not p99 (only 2 beyond it): 5 stalls stay
    # beyond p95 and do not flag the run, 15 (7.5%) reach it and do.
    assert not stats.fell_behind(on_time[:195] + [2.0] * 5, 0.1)
    assert stats.fell_behind(on_time[:185] + [2.0] * 15, 0.1)
    assert not stats.fell_behind([], 0.1)


# -- freshness attribution from progress offsets -------------------------------

def test_freshness_attributes_each_commit_to_the_batch_holding_it():
    batches = [(200, 300, 12.5), (-1, 100, 10.0), (100, 200, 11.0)]
    commits = [(50, 9.0), (100, 9.5), (101, 10.2), (200, 10.9),
               (250, 12.0), (400, 12.1)]
    fresh, missing = stats.attribute_freshness(batches, commits)
    # lsn 100 is the END of the first batch (range is (start, end]); lsn 101
    # and 200 fall in the second; 400 was never applied.
    assert fresh == pytest.approx([1.0, 0.5, 0.8, 0.1, 0.5])
    assert missing == 1


def test_freshness_ignores_gaps_between_batches():
    fresh, missing = stats.attribute_freshness([(0, 10, 1.0), (20, 30, 2.0)],
                                               [(15, 0.5)])
    assert fresh == [] and missing == 1


# -- span self time ------------------------------------------------------------

def test_self_time_subtracts_the_union_of_children():
    spans = [
        {"id": 1, "name": "pass", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 2, "name": "a", "parent": 1, "start": 1.0, "end": 3.0},
        {"id": 3, "name": "b", "parent": 1, "start": 2.0, "end": 5.0},
        {"id": 4, "name": "a", "parent": 1, "start": 7.0, "end": 8.0},
        {"id": 5, "name": "leaf", "parent": 3, "start": 2.5, "end": 3.5},
    ]
    st = stats.self_times(spans)
    assert st["pass"] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st["a"] == pytest.approx(3.0)
    assert st["b"] == pytest.approx(2.0)
    assert st["leaf"] == pytest.approx(1.0)


def test_tracer_records_parents_and_is_free_when_off():
    on = stats.Tracer("r1", enabled=True)
    with on.span("outer"):
        with on.span("inner"):
            pass
        with on.span("skipped", on=False):
            pass
    names = {s["name"]: s for s in on.spans}
    assert set(names) == {"outer", "inner"}
    assert names["inner"]["parent"] == names["outer"]["id"]
    assert {s["run"] for s in on.spans} == {"r1"}
    off = stats.Tracer("r2", enabled=False)
    with off.span("x"):
        pass
    assert off.spans == []


def test_tracer_keeps_every_span_under_thread_contention():
    """The sink, the reader and the generator record spans from their own
    threads; nesting is per thread and no span may be lost."""
    import threading

    tr = stats.Tracer("r", enabled=True)

    def work() -> None:
        for _ in range(300):
            with tr.span("outer"):
                with tr.span("inner"):
                    pass

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert len(tr.spans) == 8 * 300 * 2
    assert len({s["id"] for s in tr.spans}) == len(tr.spans)
    by_id = {s["id"]: s for s in tr.spans}
    for s in tr.spans:
        if s["name"] == "inner":
            parent = by_id[s["parent"]]
            assert parent["name"] == "outer"
            assert parent["start"] <= s["start"] <= s["end"] <= parent["end"]


# -- expected-state model --------------------------------------------------------

_COLS = {"id": "long", "name": "string", "note": "string", "qty": "double"}


def test_model_hand_checked_changelog():
    m = cdcgen.ExpectedState(_COLS, ("id",))
    m.apply("I", {"id": "1", "name": "a", "note": "long text", "qty": "1"})
    m.apply("I", {"id": "2", "name": "b", "note": "keep?", "qty": "2"})
    # sparse update: 'note' shipped TOAST-unchanged, so absent -> inherited
    m.apply("U", {"id": "1", "name": "a2", "qty": "1.5"})
    # delete, then re-insert: the new image starts fresh (no 'note')
    m.apply("D", {"id": "2"})
    m.apply("I", {"id": "2", "name": "b2", "qty": "3", "note": None})
    # NULL is a value, not an absence
    m.apply("U", {"id": "2", "name": "b3", "qty": "4", "note": None})
    rows = sorted(m.typed_rows())
    assert rows == [(1, "a2", "long text", 1.5), (2, "b3", None, 4.0)]


def test_model_matches_what_the_decoder_sees():
    """Encode a generated stream, decode it frame by frame, and apply the
    decoded changes to a fresh model: the state must equal the generator's
    own model — TOAST-unchanged columns arrive absent, deletes carry only
    the key."""
    from postgresql_cdc_spark.sources.pgoutput import (
        ChangeRecord,
        PgOutputDecoder,
    )

    stream, frames = cdcgen.lineitem_archive(seed=5, n_dml=3_000)
    dec = PgOutputDecoder()
    seen = cdcgen.ExpectedState(cdcgen.LINEITEM, cdcgen.LINEITEM_KEY)
    ops = {"I": 0, "U": 0, "D": 0}
    toasted = 0
    for _, payload in frames:
        msg = dec.decode(payload)
        if isinstance(msg, ChangeRecord):
            ops[msg.op] += 1
            if msg.op == "U" and "l_comment" not in msg.columns:
                toasted += 1
            seen.apply(msg.op, {k: v for k, v in msg.columns.items()
                                if msg.op != "D" or k in cdcgen.LINEITEM_KEY})
    assert sum(ops.values()) == 3_000
    assert min(ops.values()) > 0 and toasted == ops["U"]
    assert seen.rows == stream.model.rows
    assert (cdcgen.content_hash(seen.typed_rows())
            == cdcgen.content_hash(stream.model.typed_rows()))


def test_lineitem_stream_has_reinserts_after_delete():
    stream, frames = cdcgen.lineitem_archive(seed=11, n_dml=4_000)
    from postgresql_cdc_spark.sources.pgoutput import (
        ChangeRecord,
        PgOutputDecoder,
    )

    dec = PgOutputDecoder()
    deleted, reinserted = set(), 0
    for _, payload in frames:
        msg = dec.decode(payload)
        if isinstance(msg, ChangeRecord):
            key = (msg.columns["l_orderkey"], msg.columns["l_linenumber"])
            if msg.op == "D":
                deleted.add(key)
            elif msg.op == "I" and key in deleted:
                reinserted += 1
    assert reinserted > 0


def test_generators_are_seeded():
    a = cdcgen.lineitem_archive(3, 500)[1]
    b = cdcgen.lineitem_archive(3, 500)[1]
    c = cdcgen.lineitem_archive(4, 500)[1]
    assert a == b and a != c
    k1, k2 = cdcgen.KvWorkload(3, 1_000), cdcgen.KvWorkload(3, 1_000)
    assert [k1.txn().frames for _ in range(5)] == [k2.txn().frames
                                                   for _ in range(5)]


def test_kv_keys_are_skewed():
    w = cdcgen.KvWorkload(1, 50_000)
    draws = [w.draw_key() for _ in range(20_000)]
    top = max(set(draws), key=draws.count)
    assert draws.count(top) > 20_000 / 50  # far above uniform (0.4 per key)


def test_content_hash_is_order_insensitive_and_exact():
    rows = [(1, "a", 0.1, dt.datetime(2000, 1, 1)), (2, None, 2.5, None)]
    assert cdcgen.content_hash(rows) == cdcgen.content_hash(rows[::-1])
    assert cdcgen.content_hash(rows) != cdcgen.content_hash(
        [(1, "a", 0.1 + 1e-16 * 2, dt.datetime(2000, 1, 1)), rows[1]])


# -- BENCHMARK.json agrees with the metrics the code reports ---------------------

def test_benchmark_json_matches_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"], m["better"], m["bound"])
            for m in bench["end_to_end"]] == END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]
            ] == [(n, u, b) for n, u, b, _ in PER_LAYER]
    assert bench["command"] == ["python3", "perfbench/run.py"]
    assert bench["paths"] == ["perfbench"]
    from perfbench.run import WORKLOADS
    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS)
