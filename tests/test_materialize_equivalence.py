"""The aggregate sparse merge must equal a sequential replay fold.

``materialize(..., merge_sparse=True)`` merges TOAST-sparse images with one
aggregate per key: the terminal event, the last INSERT and, per column,
the latest present entry, each a ``max`` over an LSN-led struct. ``_fold``
below is the obviously-correct reference: replay each event in LSN order
the way the reference consumer does (`CdcEngine.java:132-137`), merging
sparse UPDATEs over the prior image (`PgWalMessageDecoder.java:206-207`).
The semantics both must share: latest value per column within the current
generation, TOAST inheritance, NULL-vs-absent distinction, DELETE-terminal
drop, implicit insert for capture-started-mid-stream keys. The merge runs
with the column set passed and with it derived from the data, on a seeded
random protocol-valid changelog plus hand-picked adversarial keys, and on
the same rows shuffled over several input partitions, so that the final
aggregate merges partial results that arrive out of LSN order.

Protocol-valid means what pgoutput can actually emit per key: optional
mid-stream start (first event may be U or D), I only at start or after D,
U/D only while a row exists. U-after-D never occurs on a real stream, so the
generator never emits it.
"""

from __future__ import annotations

import random

import pytest

from postgresql_cdc_spark.operators.materialize import materialize

COLS = ["a", "b", "c"]
SCHEMA = "op string, lsn long, txn_id long, columns map<string,string>"


def _gen_events(seed: int, n_keys: int, first_key: int):
    rng = random.Random(seed)
    rows = []
    lsn = 1000 * (seed + 1)

    def image(key, full, explicit_null_ok=True):
        m = {"id": str(key)}
        cols = COLS if full else rng.sample(COLS, rng.randint(1, len(COLS)))
        for c in cols:
            if explicit_null_ok and rng.random() < 0.2:
                m[c] = None  # present-but-NULL: distinct from absent
            else:
                m[c] = f"{c}{rng.randint(0, 9)}"
        return m

    for k in range(first_key, first_key + n_keys):
        alive = False
        started = False
        for _ in range(rng.randint(1, 8)):
            lsn += 1
            if not alive:
                # dead (or not-yet-seen) row: insert, or — only before any
                # event — a mid-stream U/D capture start
                op = "I" if started else rng.choice(["I", "I", "U", "D"])
            else:
                op = rng.choice(["U", "U", "U", "D"])
            started = True
            if op == "I":
                rows.append(("I", lsn, k, image(k, full=True)))
                alive = True
            elif op == "U":
                rows.append(("U", lsn, k, image(k, full=False)))
                alive = True  # mid-stream U implies the row exists upstream
            else:
                rows.append(("D", lsn, k, {"id": str(k)}))
                alive = False
    return rows


def _adversarial(first_key: int):
    k = first_key
    return [
        # only-UPDATEs key (capture started mid-stream): must be KEPT
        ("U", 1, k, {"id": str(k), "a": "u1"}),
        ("U", 2, k, {"id": str(k), "b": None}),
        # D-first key: must be dropped
        ("D", 3, k + 1, {"id": str(k + 1)}),
        # I -> D -> I re-insert: generation reset, no inheritance across D
        ("I", 4, k + 2, {"id": str(k + 2), "a": "x", "b": "y", "c": "z"}),
        ("D", 5, k + 2, {"id": str(k + 2)}),
        ("I", 6, k + 2, {"id": str(k + 2), "a": "x2", "b": None, "c": "z2"}),
        ("U", 7, k + 2, {"id": str(k + 2), "a": None}),
        # TOAST inheritance: U omits b entirely, must inherit the I's b
        ("I", 8, k + 3, {"id": str(k + 3), "a": "1", "b": "toast", "c": "2"}),
        ("U", 9, k + 3, {"id": str(k + 3), "a": "3", "c": None}),
        # at-least-once replay: the terminal event arrives TWICE with the
        # same LSN — must still produce exactly one final row
        ("I", 10, k + 4, {"id": str(k + 4), "a": "p", "b": "q", "c": "r"}),
        ("U", 11, k + 4, {"id": str(k + 4), "a": "p2"}),
        ("U", 11, k + 4, {"id": str(k + 4), "a": "p2"}),
        # re-INSERT whose image lacks columns (dropped between the two
        # lives): the old generation's b and c must not leak into the new
        # image, whether from its INSERT or from a later UPDATE
        ("I", 12, k + 5, {"id": str(k + 5), "a": "m", "c": "old"}),
        ("U", 13, k + 5, {"id": str(k + 5), "b": "old"}),
        ("D", 14, k + 5, {"id": str(k + 5)}),
        ("I", 15, k + 5, {"id": str(k + 5), "a": "n"}),
        # at-least-once replay of a terminal DELETE: the key is dropped
        ("I", 16, k + 6, {"id": str(k + 6), "a": "g", "b": "h", "c": "i"}),
        ("D", 17, k + 6, {"id": str(k + 6)}),
        ("D", 17, k + 6, {"id": str(k + 6)}),
    ]


def _fold(rows, key=lambda r: r[-1]["id"]):
    """Sequential replay of ``(op, lsn, ..., image)`` rows in LSN order: the
    reference consumer's semantics. Returns ``{key: (op, lsn, image)}`` for
    the live keys."""
    state: dict = {}
    meta: dict = {}
    for r in sorted(rows, key=lambda r: r[1]):
        op, lsn, m, k = r[0], r[1], r[-1], key(r)
        if op == "I":
            state[k] = dict(m)
        elif op == "U":
            # sparse: absent columns inherit; a mid-stream U implies a row
            state[k] = {**state.get(k, {}), **m}
        else:
            state.pop(k, None)
        meta[k] = (op, lsn)
    return {k: (*meta[k], img) for k, img in state.items()}


def _state(df, key=lambda r: r["columns"]["id"]):
    out = {}
    for r in df.collect():
        k = key(r)
        assert k not in out, f"duplicate final row for key {k}"
        out[k] = (r["op"], r["lsn"], dict(r["columns"]))
    return out


@pytest.mark.parametrize("layout", ["ordered", "shuffled"])
@pytest.mark.parametrize("seed", [7, 42])
def test_sparse_merge_matches_sequential_fold(spark, seed, layout):
    """``shuffled`` spreads the events in a seeded random order over four
    partitions, so partial aggregates reach the final one in no particular
    LSN order; the adversarial keys are repeated so that some copies
    straddle partitions wherever the rows land, and the test checks that
    they do."""
    rows = _gen_events(seed, n_keys=120, first_key=10_000)
    for j in range(8):
        rows += _adversarial(first_key=90_000 + 10 * j)
    if layout == "ordered":
        log = spark.createDataFrame(rows, SCHEMA)
    else:
        random.Random(seed).shuffle(rows)
        log = spark.createDataFrame(rows, SCHEMA).repartition(4)
        _assert_straddles(log)
    want = _fold(rows)
    assert _state(materialize(log, keys=["id"], columns=["id", *COLS])) == want
    assert _state(materialize(log, keys=["id"])) == want  # derived columns


def _assert_straddles(log):
    from pyspark.sql import functions as F

    part: dict = {}  # (key, lsn) -> partitions of its events
    for r in log.select(F.spark_partition_id(), "txn_id", "lsn").collect():
        part.setdefault((r[1], r[2]), []).append(r[0])
    assert len({p for ps in part.values() for p in ps}) == 4
    firsts = [90_000 + 10 * j for j in range(8)]
    assert any(part[k + 5, 13] != part[k + 5, 15] for k in firsts), (
        "no re-INSERT landed apart from its old generation's UPDATE")
    for k_off, dup_lsn in ((4, 11), (6, 17)):
        assert any(len(set(part[k + k_off, dup_lsn])) == 2 for k in firsts), (
            f"no duplicate terminal event at lsn {dup_lsn} split over two "
            "partitions")


def test_derived_columns_span_tables(spark):
    """Without ``columns`` a multi-table changelog merges over the union of
    its tables' columns; a column one table lacks never appears in its
    maps, so each table keeps its own image even where keys collide."""
    rows = [
        ("I", 1, "t1", {"id": "1", "a": "a1", "b": "b1"}),
        ("I", 2, "t2", {"id": "1", "x": "x1", "y": None}),
        ("U", 3, "t1", {"id": "1", "a": "a2"}),
        ("U", 4, "t2", {"id": "1", "y": "y2"}),
        ("I", 5, "t2", {"id": "2", "x": "x3", "y": "y3"}),
        ("D", 6, "t2", {"id": "2"}),
    ]
    log = spark.createDataFrame(
        rows, "op string, lsn long, table string, columns map<string,string>"
    )

    def by_table(r):
        return (r["table"], r["columns"]["id"])

    derived = _state(materialize(log, keys=["id"]), by_table)
    assert derived == _state(
        materialize(log, keys=["id"], columns=["a", "b", "id", "x", "y"]),
        by_table,
    )
    assert derived == _fold(rows, key=lambda r: (r[2], r[-1]["id"]))
    assert derived == {
        ("t1", "1"): ("U", 3, {"id": "1", "a": "a2", "b": "b1"}),
        ("t2", "1"): ("U", 4, {"id": "1", "x": "x1", "y": "y2"}),
    }


def test_quoted_identifiers(spark):
    """Key, column and envelope names holding a quote, a backslash or a
    backtick (legal quoted identifiers in PostgreSQL) stay literal in the
    merge's generated SQL."""
    k, c1, c2 = "it's", "b\\c", "a`b"
    rows = [
        ("I", 1, {k: "1", c1: "x", c2: "y"}),
        ("U", 2, {k: "1", c2: None}),
        ("I", 3, {k: "2", c1: "z", c2: "w"}),
        ("D", 4, {k: "2"}),
    ]
    log = spark.createDataFrame(
        rows, "`o'p` string, `l\\sn` long, `m``ap` map<string,string>"
    )
    for cols in ([k, c1, c2], None):
        got = materialize(
            log, keys=[k], lsn_col="l\\sn", op_col="o'p", map_col="m`ap",
            columns=cols,
        ).collect()
        assert [tuple(r) for r in got] == [
            ("U", 2, {k: "1", c1: "x", c2: None})
        ]


def test_empty_column_list(spark):
    """An empty column set yields empty images, typed like any other."""
    log = spark.createDataFrame([("I", 1, 0, {"id": "1", "a": "x"})], SCHEMA)
    st = materialize(log, keys=["id"], columns=[])
    assert st.schema == materialize(log, keys=["id"]).schema
    assert [tuple(r) for r in st.collect()] == [("I", 1, 0, {})]
    # an empty changelog derives an empty column set
    empty = spark.createDataFrame([], SCHEMA)
    assert materialize(empty, keys=["id"]).collect() == []


def test_adversarial_semantics_pinned(spark):
    """The hand-picked keys also assert the SEMANTICS, not just agreement."""
    log = spark.createDataFrame(_adversarial(0), SCHEMA)
    st = _state(
        materialize(log, keys=["id"], merge_sparse=True, columns=["id", *COLS])
    )
    # only-UPDATEs key kept, b is present-but-NULL
    assert st["0"][2] == {"id": "0", "a": "u1", "b": None}
    # D-first key dropped
    assert "1" not in st
    # re-insert resets: nothing inherited from before the delete; the U's
    # explicit NULL overwrites within the new generation
    assert st["2"] == ("U", 7, {"id": "2", "a": None, "b": None, "c": "z2"})
    # TOAST: omitted b inherited from the insert; explicit-NULL c is NULL
    assert st["3"] == ("U", 9, {"id": "3", "a": "3", "b": "toast", "c": None})
    # duplicate-LSN replay collapses to ONE final row, TOAST still merged
    assert st["4"] == ("U", 11, {"id": "4", "a": "p2", "b": "q", "c": "r"})
    # re-insert without b and c: nothing of the deleted generation survives
    assert st["5"] == ("I", 15, {"id": "5", "a": "n"})
    # duplicate-LSN terminal DELETE still drops the key
    assert "6" not in st
