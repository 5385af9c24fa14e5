"""``kv_store.ingest_and_delta``'s contract: the signed deltas it returns
for epoch E turn the kv state before E into the state before E + 1.

For every epoch E, the multiset ``key_state(before=E)`` plus the returned
deltas (``+1`` adds a row, ``-1`` removes one) equals
``key_state(before=E + 1)``. Both states are read after the call, from
the store the deltas were computed against, so a compaction the call ran
is on both sides. Keys are ``long`` or ``double`` (NaN, -0.0 and 0.0
among them), and NULL is a key too."""

from __future__ import annotations

from collections import Counter

from hypothesis import HealthCheck, example, given, settings, strategies as st

from postgresql_cdc_spark.streaming.kv_store import ingest_and_delta, key_state

PAYLOAD = ["v", "n"]
_NAN = float("nan")
# per key type: the DDL, the key of each key index, the group each index
# keys into (Spark groups -0.0 with 0.0), and the ``n`` of each n index
CASES = {
    "long": ("id long, v string, n int, op string, lsn long",
             [0, 1, 2, 3, 4], [0, 1, 2, 3, 4], {None: None, 1: 1, 2: 2}),
    "double": ("id double, v string, n double, op string, lsn long",
               [_NAN, -0.0, 0.0, 1.5, -2.0], [0, 1, 1, 3, 4],
               {None: None, 1: 1.0, 2: _NAN}),
}

# one change: (key index or NULL, op, lsn step from the previous change,
# v, n index); a step of 0 ties the previous change's LSN
_CHANGE = st.tuples(
    st.none() | st.integers(0, 4),
    st.sampled_from("IUD"),
    st.integers(0, 2),
    st.sampled_from([None, "a", "b"]),
    st.sampled_from([None, 1, 2]),
)
# one epoch: how far its LSNs rewind below the previous epoch's last one
# (0 keeps stream order; more lets an older epoch's change outrank this
# batch's, and ties LSNs across epochs), then its changes
_EPOCH = st.tuples(st.integers(0, 3), st.lists(_CHANGE, max_size=5))

# epoch 1's tombstone (lsn 4) outranks epoch 2's re-insert (lsn 3); key 1
# is inserted, deleted and re-inserted with NULL payloads
_TOMBSTONE_OUTRANKS = [
    (0, [(0, "I", 1, "a", 1), (1, "I", 0, None, None)]),
    (0, [(0, "D", 2, None, None), (1, "D", 0, None, None)]),
    (2, [(0, "I", 1, "b", 1), (1, "I", 0, None, 1)]),
    (0, [(0, "U", 3, "a", None), (1, "U", 0, None, None)]),
]

# the NULL key's second write must retract its first
_NULL_KEY = [
    (0, [(None, "I", 1, "a", None)]),
    (0, [(None, "U", 2, "b", None)]),
]

# NaN, -0.0 and 0.0 keys (one key, two spellings) and a NaN payload that
# changes to NULL, to 1.0 and back to NaN
_FLOAT_KEYS = [
    (0, [(0, "I", 1, "a", 2), (1, "I", 1, "a", 2), (None, "I", 1, "a", 2)]),
    (0, [(0, "U", 1, "a", None), (2, "U", 1, "a", 2), (3, "I", 1, "b", 2)]),
    (1, [(0, "U", 1, "a", 1), (1, "U", 1, "b", 2),
         (None, "D", 0, None, None)]),
    (0, [(0, "U", 1, "a", 2), (2, "D", 1, None, None), (3, "U", 0, "b", 2)]),
]


def _epochs(schedule, case):
    """Rows per epoch with absolute LSNs. The same (key, lsn, op) is the
    same change, so a repeat carries its first payload: latest-wins then
    has one answer on every path."""
    _ddl, keys, groups, ns = CASES[case]
    lsn, seen, out = 0, {}, []
    for rewind, changes in schedule:
        lsn = max(lsn - rewind, 0)
        rows = []
        for k, op, step, v, n in changes:
            lsn += step
            g = None if k is None else groups[k]
            v, n = seen.setdefault((g, lsn, op), (v, n))
            rows.append((None if k is None else keys[k], v, ns[n], op, lsn))
        out.append(rows)
    return out


def _norm(v):
    """NaN as one value, as Spark compares it (-0.0 == 0.0 already)."""
    return "nan" if isinstance(v, float) and v != v else v


def _row(r):
    return (_norm(r.id), r.v, _norm(r.n))


def _state(spark, store, ddl, before):
    rows = key_state(spark, store, ddl, "id", before).collect()
    return Counter(_row(r) for r in rows)


@settings(
    max_examples=8,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    case=st.sampled_from(sorted(CASES)),
    schedule=st.lists(_EPOCH, min_size=1, max_size=5),
)
@example(case="long", schedule=_TOMBSTONE_OUTRANKS)
@example(case="long", schedule=_NULL_KEY)
@example(case="double", schedule=_FLOAT_KEYS)
def test_deltas_step_state_to_next_epoch(
    spark, tmp_path_factory, case, schedule
):
    ddl = CASES[case][0]
    store = str(tmp_path_factory.mktemp("kvdelta") / "kv")
    for e, rows in enumerate(_epochs(schedule, case)):
        deltas = ingest_and_delta(
            spark, store, ddl, "id", PAYLOAD, e,
            spark.createDataFrame(rows, ddl), max_live_partials=2,
        ).collect()
        state = _state(spark, store, ddl, e)
        for d in deltas:
            row = _row(d)
            state[row] += d.sign
            assert state[row] >= 0, (e, row)
        assert +state == _state(spark, store, ddl, e + 1), e
