"""``join_ivm.ingest_and_delta``'s contract: the signed deltas it returns
for epoch E turn the kv state before E into the state before E + 1.

For every epoch E, the multiset ``key_state(before=E)`` plus the returned
deltas (``+1`` adds a row, ``-1`` removes one) equals
``key_state(before=E + 1)``. Both states are read after the call, from
the store the deltas were computed against, so a compaction the call ran
is on both sides."""

from __future__ import annotations

from collections import Counter

from hypothesis import HealthCheck, example, given, settings, strategies as st

from postgresql_cdc_spark.streaming.join_ivm import ingest_and_delta, key_state

DDL = "id long, v string, n int, op string, lsn long"
PAYLOAD = ["v", "n"]

# one change: (key, op, lsn step from the previous change, v, n); a step
# of 0 ties the previous change's LSN
_CHANGE = st.tuples(
    st.integers(0, 4),
    st.sampled_from("IUD"),
    st.integers(0, 2),
    st.sampled_from([None, "a", "b"]),
    st.sampled_from([None, 1]),
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


def _epochs(schedule):
    """Rows per epoch with absolute LSNs. The same (key, lsn, op) is the
    same change, so a repeat carries its first payload: latest-wins then
    has one answer on every path."""
    lsn, seen, out = 0, {}, []
    for rewind, changes in schedule:
        lsn = max(lsn - rewind, 0)
        rows = []
        for k, op, step, v, n in changes:
            lsn += step
            v, n = seen.setdefault((k, lsn, op), (v, n))
            rows.append((k, v, n, op, lsn))
        out.append(rows)
    return out


def _state(spark, store, before):
    rows = key_state(spark, store, DDL, "id", before).collect()
    return Counter((r.id, r.v, r.n) for r in rows)


@settings(
    max_examples=8,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(schedule=st.lists(_EPOCH, min_size=1, max_size=5))
@example(schedule=_TOMBSTONE_OUTRANKS)
def test_deltas_step_state_to_next_epoch(spark, tmp_path_factory, schedule):
    store = str(tmp_path_factory.mktemp("kvdelta") / "kv")
    for e, rows in enumerate(_epochs(schedule)):
        deltas = ingest_and_delta(
            spark, store, DDL, "id", PAYLOAD, e,
            spark.createDataFrame(rows, DDL), max_live_partials=2,
        ).collect()
        state = _state(spark, store, e)
        for d in deltas:
            row = (d.id, d.v, d.n)
            state[row] += d.sign
            assert state[row] >= 0, (e, row)
        assert +state == _state(spark, store, e + 1), e
