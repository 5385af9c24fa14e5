"""Property test: ``materialize`` vs the reference sequential fold.

The aggregate sparse merge (``operators/materialize.py``) is the subtlest
kernel in the repo — per key, ``max`` over LSN-led structs for the terminal
event, the last INSERT and each column's latest present entry, with
NULL-vs-absent distinction, TOAST inheritance, and re-INSERT freshness via
the last-INSERT LSN. The fixture-shaped tests and the DuckDB oracle pin it
on one synthetic distribution; this pins it on hypothesis-generated
protocol-valid changelogs, spread over four partitions, against the
obviously-correct sequential fold the reference consumer effectively
implements (``test_materialize_equivalence._fold``: `CdcEngine.java:132-137`
replay order; `PgWalMessageDecoder.java:206-207` TOAST-absent sparsity).

Protocol-valid per key: events replay in LSN order; the first event may be
I, U, or D (capture may start mid-stream); after that I only follows D, and
U/D require a live (or implicitly live, mid-stream) row. U-after-D never
occurs on a real stream, so the generator never emits it.
"""

from __future__ import annotations

import pytest

try:
    from hypothesis import given, settings, strategies as st
except ImportError:  # pragma: no cover
    pytest.skip("hypothesis not installed", allow_module_level=True)

from postgresql_cdc_spark.operators.materialize import materialize
from tests.test_materialize_equivalence import COLS, _fold, _state

SCHEMA = "op string, lsn long, columns map<string,string>"


@st.composite
def changelog(draw):
    """A multi-key, protocol-valid changelog with adversarial shapes:
    sparse updates, explicit NULLs, re-insert-after-delete chains,
    mid-stream capture starts, delete-terminal keys, single-event keys."""
    n_keys = draw(st.integers(min_value=1, max_value=6))
    rows = []
    lsn = 0
    for k in range(n_keys):
        n_events = draw(st.integers(min_value=1, max_value=10))
        alive = False
        started = False

        def img(key, full):
            m = {"id": str(key)}
            cols = COLS if full else draw(
                st.lists(st.sampled_from(COLS), min_size=1, max_size=3,
                         unique=True)
            )
            for c in cols:
                v = draw(st.one_of(
                    st.none(),
                    st.text(alphabet="xyz0", min_size=0, max_size=3),
                ))
                m[c] = v
            return m

        for _ in range(n_events):
            lsn += 1
            if not alive:
                op = "I" if started else draw(
                    st.sampled_from(["I", "I", "U", "D"])
                )
            else:
                op = draw(st.sampled_from(["U", "U", "U", "D"]))
            started = True
            if op == "I":
                rows.append(("I", lsn, img(k, full=True)))
                alive = True
            elif op == "U":
                rows.append(("U", lsn, img(k, full=False)))
                alive = True  # mid-stream U implies the row exists upstream
            else:
                rows.append(("D", lsn, {"id": str(k)}))
                alive = False
    return rows


class TestMaterializeProperties:
    @settings(max_examples=30, deadline=None)
    @given(changelog())
    @pytest.mark.slow  # r18 tier split: lifecycle/parity soak; slow tier
    def test_sparse_merge_matches_sequential_fold(self, spark, rows):
        df = spark.createDataFrame(rows, SCHEMA).repartition(4)
        got = _state(
            materialize(df, keys=["id"], merge_sparse=True,
                        columns=["id", *COLS])
        )
        assert got == _fold(rows)
