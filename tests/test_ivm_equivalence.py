"""IVM vs materialize: the delta-maintained aggregate must equal the
aggregate of the fully materialized state on every protocol-valid changelog.

Reuses the random changelog generator from test_materialize_equivalence
(mid-stream starts, TOAST-sparse images, explicit NULLs, deletes,
re-inserts) with the sum column's values rewritten to numeric text, plus
replay cases the generator never emits: duplicate INSERT, duplicate DELETE,
and duplicate UPDATE terminal events (at-least-once delivery) — IVM must
assert/retract each row exactly once.
"""

from __future__ import annotations

import hashlib

import pytest

from pyspark.sql import functions as F

from postgresql_cdc_spark.operators.ivm import incremental_group_agg
from postgresql_cdc_spark.operators.materialize import materialize
from tests.test_materialize_equivalence import COLS, SCHEMA, _gen_events


def _numify(rows):
    """Rewrite column 'a' values to numeric text (PG numeric format),
    deterministically from the original string; keeps None/absent shape."""
    out = []
    for op, lsn, k, m in rows:
        m2 = dict(m)
        if "a" in m2 and m2["a"] is not None:
            h = int(hashlib.md5(m2["a"].encode()).hexdigest()[:4], 16)
            m2["a"] = f"{h % 500}.0"
        out.append((op, lsn, k, m2))
    return out


def _replay_cases(first_key: int):
    k = first_key
    return [
        # duplicate INSERT (replayed): must assert once
        ("I", 1, k, {"id": str(k), "a": "7.0", "b": "g1", "c": "x"}),
        ("I", 1, k, {"id": str(k), "a": "7.0", "b": "g1", "c": "x"}),
        # duplicate DELETE (replayed): must retract once
        ("I", 2, k + 1, {"id": str(k + 1), "a": "9.0", "b": "g1", "c": "y"}),
        ("D", 3, k + 1, {"id": str(k + 1)}),
        ("D", 3, k + 1, {"id": str(k + 1)}),
        # duplicate UPDATE that also moves the row's group
        ("I", 4, k + 2, {"id": str(k + 2), "a": "5.0", "b": "g1", "c": "z"}),
        ("U", 5, k + 2, {"id": str(k + 2), "a": "6.0", "b": "g2"}),
        ("U", 5, k + 2, {"id": str(k + 2), "a": "6.0", "b": "g2"}),
        # delete-then-reinsert into another group
        ("I", 6, k + 3, {"id": str(k + 3), "a": "11.0", "b": "g1", "c": "w"}),
        ("D", 7, k + 3, {"id": str(k + 3)}),
        ("I", 8, k + 3, {"id": str(k + 3), "a": "13.0", "b": "g3", "c": "w"}),
        # explicit NULL value and NULL group survive counting
        ("I", 9, k + 4, {"id": str(k + 4), "a": None, "b": None, "c": "v"}),
        # a whole group drains away -> group must vanish from the view
        ("I", 10, k + 5, {"id": str(k + 5), "a": "3.0", "b": "drain", "c": "u"}),
        ("U", 11, k + 5, {"id": str(k + 5), "b": "g1"}),
    ]


def _expected_from_state(spark, log):
    state = materialize(
        log, keys=["id"], merge_sparse=True, columns=["id", *COLS]
    )
    return {
        (r["g"], r["n"], r["s"])
        for r in state.select(
            F.element_at("columns", "b").alias("g"),
            F.element_at("columns", "a").cast("double").cast("long")
            .alias("v"),
        )
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
        .collect()
    }


def _got(spark, log):
    out = incremental_group_agg(log, keys=["id"], group_col="b", sum_col="a")
    return {
        (r["b"], r["n_rows"], r["total"]) for r in out.collect()
    }


@pytest.mark.parametrize("seed", [3, 19])
def test_delta_view_matches_state_aggregate(spark, seed):
    rows = _numify(_gen_events(seed, n_keys=150, first_key=50_000)) + \
        _replay_cases(first_key=99_000)
    log = spark.createDataFrame(
        [(op, lsn, k, m) for op, lsn, k, m in rows], SCHEMA
    )
    assert _got(spark, log) == _expected_from_state(spark, log)


def test_replay_cases_pinned(spark):
    """Beyond agreement, pin the absolute values of the replay block."""
    log = spark.createDataFrame(
        [(op, lsn, k, m) for op, lsn, k, m in _replay_cases(0)], SCHEMA
    )
    got = _got(spark, log)
    # g1: dup-I key (7) + group-drain arrival (3); dup-D key gone; moved-out
    # key in g2 (6); reinsert in g3 (13); NULL group keeps its NULL-sum row;
    # 'drain' vanished entirely (counting algorithm deletes at zero).
    assert got == {
        ("g1", 2, 10), ("g2", 1, 6), ("g3", 1, 13), (None, 1, None)
    }
    assert not any(g == "drain" for g, _, _ in got)


def test_no_inheritance_across_delete(spark):
    """A re-insert after DELETE starts a fresh generation: a column absent
    from the new image must read NULL, never the pre-delete value (the fill
    is generation-aware, the same freshness rule as materialize's merge).
    Sparse INSERT images are protocol-stretch, but materialize handles them
    defensively and the IVM contract is equality with materialize."""
    rows = [
        ("I", 1, 1, {"id": "1", "a": "7.0", "b": "g1"}),
        ("D", 2, 1, {"id": "1"}),
        ("I", 3, 1, {"id": "1", "b": "g1"}),   # sparse re-insert: no 'a'
        ("I", 4, 2, {"id": "2", "a": "3.0", "b": "g1"}),
        ("D", 5, 2, {"id": "2"}),
        ("I", 6, 2, {"id": "2", "a": "4.0"}),  # sparse: no group column
    ]
    log = spark.createDataFrame(
        [(op, lsn, k, m) for op, lsn, k, m in rows], SCHEMA
    )
    got = _got(spark, log)
    assert got == _expected_from_state(spark, log)
    # absolute: key 1 alive in g1 with NULL value (not 7); key 2 alive in
    # NULL group with 4 (not g1)
    assert got == {("g1", 1, None), (None, 1, 4)}


def test_toast_inheritance_across_group_move(spark):
    """A sparse UPDATE that moves the group but omits the sum column must
    carry the inherited value into the new group (and vice versa)."""
    rows = [
        ("I", 1, 1, {"id": "1", "a": "7.0", "b": "g1"}),
        ("U", 2, 1, {"id": "1", "b": "g2"}),       # value 7 travels to g2
        ("I", 3, 2, {"id": "2", "a": "5.0", "b": "g1"}),
        ("U", 4, 2, {"id": "2", "a": "6.0"}),      # group g1 inherited
    ]
    log = spark.createDataFrame(
        [(op, lsn, k, m) for op, lsn, k, m in rows], SCHEMA
    )
    assert _got(spark, log) == {("g2", 1, 7), ("g1", 1, 6)}
