"""Property fuzz for the join-view IVM delta rule: ANY sequence of
inserts/updates/deletes on BOTH tables, split into ANY batch partitioning,
must leave the maintained sums equal to a direct one-shot recompute of
``SUM(amount), COUNT(*) per grp over fact JOIN dim`` on the final state.

This hunts the algebra's edge cases the deterministic gate
(cdc_stream_ivm_join_sums) cannot enumerate: several changes to one key
inside one batch (latest-wins collapses them before the diff), foreign-key
re-pointing, updates writing the same value back (no delta), deletes of
keys that never existed, facts pointing at never-existing or deleted dims,
and a dim regrouped in the same batch its facts change. Spark-backed —
few examples, small domains."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings, strategies as st
import pytest

# r18 tier split: hypothesis fuzz/property soaks run in the slow tier
# (fast coverage of the same operators lives in the sibling test files
# and the oracle-parity sweep); run with -m "" or -m slow.
pytestmark = pytest.mark.slow

from postgresql_cdc_spark.streaming.join_ivm import (
    DimSpec,
    JoinViewSpec,
    apply_batch,
    latest_sums,
    latest_view,
)

N_DIM = 4     # dim ids 0..3; facts may point at 0..4 (4 never exists)
N_FACT = 6
N_GRP = 3

_DIM_OP = st.tuples(
    st.just("d"),
    st.integers(0, N_DIM - 1),              # id
    st.integers(0, N_GRP - 1),              # grp
    st.sampled_from(["I", "U", "D"]),
)
_FACT_OP = st.tuples(
    st.just("f"),
    st.integers(0, N_FACT - 1),             # fid
    st.integers(0, N_DIM),                  # did (N_DIM = dangling)
    st.sampled_from(["I", "U", "D"]),
)
_SCHEDULE = st.lists(st.one_of(_DIM_OP, _FACT_OP), min_size=3, max_size=14)
_CUTS = st.sets(st.integers(1, 13), max_size=3)


# hot-FK variant (r14 skew hardening): most facts point at dim 0 and the
# dim churn concentrates on ids 0..1, so the c2 leg repeatedly moves the
# whole fact population through ONE dimension key — the skewed-shuffle
# shape the broadcast delta joins must keep exact
_HOT_FACT_OP = st.tuples(
    st.just("f"),
    st.integers(0, N_FACT - 1),
    st.sampled_from([0, 0, 0, 0, 1]),
    st.sampled_from(["I", "U", "D"]),
)
_HOT_DIM_OP = st.tuples(
    st.just("d"),
    st.integers(0, 1),
    st.integers(0, N_GRP - 1),
    st.sampled_from(["I", "U", "D"]),
)
_HOT_SCHEDULE = st.lists(
    st.one_of(_HOT_DIM_OP, _HOT_FACT_OP), min_size=3, max_size=14
)


@settings(
    max_examples=8,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=_SCHEDULE, cuts=_CUTS)
def test_maintained_sums_equal_one_shot_recompute(
    spark, tmp_path_factory, ops, cuts
):
    _run_schedule(spark, tmp_path_factory, ops, cuts)


@settings(
    max_examples=6,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=_HOT_SCHEDULE, cuts=_CUTS)
def test_hot_fk_schedules_stay_exact(spark, tmp_path_factory, ops, cuts):
    _run_schedule(spark, tmp_path_factory, ops, cuts)


# the revenue-shaped spec (two dim payload columns, composite grouping,
# expression measures) — the r15 kernel parameterization must keep the
# SAME schedules exact through a structurally different view
_REV_SPEC = JoinViewSpec(
    fact_ddl="iid long, pid long, price int, qty int, op string, lsn long",
    fact_key="iid",
    fact_payload=("pid", "price", "qty"),
    dims=(DimSpec(ddl="pid long, cat int, tier int, op string, lsn long",
                  key="pid", payload=("cat", "tier"), fact_fk="pid"),),
    group_cols=("cat", "tier"),
    measures=(("revenue", "price * qty"), ("units", "qty")),
)


@settings(
    max_examples=6,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=_SCHEDULE, cuts=_CUTS)
def test_parameterized_spec_schedules_stay_exact(
    spark, tmp_path_factory, ops, cuts
):
    """The generalized kernel under fuzz: identical op schedules, driven
    through the revenue spec (composite group, price*qty / qty measures)
    and checked against a one-shot model recompute."""
    state = str(tmp_path_factory.mktemp("jivm_fuzz_rev") / "state")

    rows = []
    dims: dict[int, tuple[int, int]] = {}
    facts: dict[int, tuple[int, int, int]] = {}
    for i, (tab, key, aux, op) in enumerate(ops):
        lsn = 100 + i
        if tab == "d":
            cat, tier = aux, (key + aux) % 2
            rows.append(("d", key, cat, tier, None, None, op, lsn))
            if op == "D":
                dims.pop(key, None)
            else:
                dims[key] = (cat, tier)
        else:
            price = (key * 7 + aux * 3) % 11 + 1
            qty = (key + aux) % 3 + 1
            rows.append(("f", key, aux, None, price, qty, op, lsn))
            if op == "D":
                facts.pop(key, None)
            else:
                facts[key] = (aux, price, qty)

    agg: dict[tuple[int, int], list[int]] = {}
    for pid, price, qty in facts.values():
        if pid in dims:
            g = dims[pid]
            agg.setdefault(g, [0, 0, 0])
            agg[g][0] += 1
            agg[g][1] += price * qty
            agg[g][2] += qty
    want = sorted(
        (c, t, n, rev, u) for (c, t), (n, rev, u) in agg.items()
    )

    from pyspark.sql import functions as F

    DDL = ("tab string, k long, a long, t long, p long, q long, "
           "op string, lsn long")
    bounds = [0] + sorted(c for c in cuts if c < len(rows)) + [len(rows)]
    bid = 0
    for lo, hi in zip(bounds, bounds[1:]):
        if lo >= hi:
            continue
        batch = spark.createDataFrame(rows[lo:hi], DDL)
        d_batch = batch.where(F.col("tab") == "d").select(
            F.col("k").alias("pid"),
            F.col("a").cast("int").alias("cat"),
            F.col("t").cast("int").alias("tier"),
            "op", "lsn",
        )
        f_batch = batch.where(F.col("tab") == "f").select(
            F.col("k").alias("iid"),
            F.col("a").alias("pid"),
            F.col("p").cast("int").alias("price"),
            F.col("q").cast("int").alias("qty"),
            "op", "lsn",
        )
        apply_batch(
            spark, state, bid, d_batch, f_batch, max_live_partials=2,
            spec=_REV_SPEC,
        )
        bid += 1

    got = sorted(
        (r.cat, r.tier, r.dn, r.revenue, r.units)
        for r in latest_view(spark, state, _REV_SPEC).collect()
    )
    assert got == want, (got, want, rows, sorted(cuts))


# --- the r16 generalizations under the SAME fuzz style ------------------------

# two-dimension STAR spec (fact x customer x part) with an extrema
# measure: the N-ary delta rule's cross terms (F_new x dD_i x D_j) and
# the support-counted MIN/MAX maintenance must keep ANY schedule exact
_STAR_SPEC = JoinViewSpec(
    fact_ddl="iid long, cid long, pid long, price int, qty int, "
             "op string, lsn long",
    fact_key="iid",
    fact_payload=("cid", "pid", "price", "qty"),
    group_cols=("seg", "brand"),
    # wunits mixes fact and dim attributes (exposed_dim_cols): every
    # delta-rule term must evaluate it on ITS version of the dim row.
    # rate is a NON-group dim payload (varies within a (seg, brand)
    # group — the q9-profit property), so a kernel that derived dim
    # attributes from the group key would fail these schedules.
    measures=(("revenue", "price * qty"), ("wunits", "qty * rate")),
    extrema=(("max_price", "max", "price", "int"),),
    # COUNT(DISTINCT price) shares max_price's physical support table
    # (same expr/vtype) — the sharing path rides every schedule too
    distincts=(("n_prices", "price", "int"),),
    dims=(
        DimSpec(ddl="cid long, seg int, op string, lsn long",
                key="cid", payload=("seg",), fact_fk="cid"),
        DimSpec(ddl="pid long, brand int, rate int, op string, lsn long",
                key="pid", payload=("brand", "rate"), fact_fk="pid"),
    ),
)

N_CUST = 3
N_PART = 3

_CUST_OP = st.tuples(
    st.just("c"),
    st.integers(0, N_CUST - 1),
    st.integers(0, 1),                      # seg
    st.sampled_from(["I", "U", "D"]),
)
_PART_OP = st.tuples(
    st.just("p"),
    st.integers(0, N_PART - 1),
    st.integers(0, 1),                      # brand
    st.sampled_from(["I", "U", "D"]),
)
_SFACT_OP = st.tuples(
    st.just("f"),
    st.integers(0, N_FACT - 1),
    st.integers(0, N_CUST),                 # cid (N_CUST = dangling)
    st.integers(0, N_PART),                 # pid (N_PART = dangling)
    st.sampled_from(["I", "U", "D"]),
)
_STAR_SCHEDULE = st.lists(
    st.one_of(_CUST_OP, _PART_OP, _SFACT_OP), min_size=3, max_size=14
)


@settings(
    max_examples=8,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=_STAR_SCHEDULE, cuts=_CUTS)
def test_star_two_dim_schedules_stay_exact(
    spark, tmp_path_factory, ops, cuts
):
    """The snowflake kernel under fuzz: arbitrary interleavings of
    customer regroups, part rebrands, fact FK re-points on EITHER
    dimension, and deletes — including same-batch changes on all three
    relations — maintained through the two-dim spec and checked against a
    one-shot model recompute of SUM/COUNT/MAX per (seg, brand)."""
    state = str(tmp_path_factory.mktemp("jivm_fuzz_star") / "state")

    rows = []
    custs: dict[int, int] = {}
    parts: dict[int, int] = {}
    facts: dict[int, tuple[int, int, int, int]] = {}
    for i, op_t in enumerate(ops):
        lsn = 100 + i
        if op_t[0] == "c":
            _, key, seg, op = op_t
            rows.append(("c", key, seg, None, None, op, lsn))
            if op == "D":
                custs.pop(key, None)
            else:
                custs[key] = seg
        elif op_t[0] == "p":
            _, key, brand, op = op_t
            # rate varies with the op INDEX (i), so an update genuinely
            # can change it without changing the group (brand) — the
            # dim-measure-attribute-only delta shape (r16 review: the
            # previous (key + brand)-derived rate could never move
            # independently of brand, leaving that shape ungenerated)
            rate = (key + i) % 3 + 1
            rows.append(("p", key, brand, rate, None, op, lsn))
            if op == "D":
                parts.pop(key, None)
            else:
                parts[key] = (brand, rate)
        else:
            _, key, cid, pid, op = op_t
            price = (key * 7 + cid * 3 + pid) % 11 + 1
            qty = (key + cid + pid) % 3 + 1
            rows.append(("f", key, cid, pid, price, op, lsn, qty))
            if op == "D":
                facts.pop(key, None)
            else:
                facts[key] = (cid, pid, price, qty)

    agg: dict[tuple[int, int], list] = {}
    for cid, pid, price, qty in facts.values():
        if cid in custs and pid in parts:
            brand, rate = parts[pid]
            g = (custs[cid], brand)
            agg.setdefault(g, [0, 0, 0, 0, set()])
            agg[g][0] += 1
            agg[g][1] += price * qty
            agg[g][2] += qty * rate
            agg[g][3] = max(agg[g][3], price)
            agg[g][4].add(price)
    want = sorted(
        (s, b, n, rev, wu, mx, len(pr))
        for (s, b), (n, rev, wu, mx, pr) in agg.items()
    )

    from pyspark.sql import functions as F

    # one wide row type covers all three tables (nulls where unused)
    DDL = ("tab string, k long, a long, b long, p long, op string, "
           "lsn long, q long")
    norm = [r + (None,) * (8 - len(r)) for r in rows]
    bounds = [0] + sorted(c for c in cuts if c < len(norm)) + [len(norm)]
    bid = 0
    for lo, hi in zip(bounds, bounds[1:]):
        if lo >= hi:
            continue
        batch = spark.createDataFrame(norm[lo:hi], DDL)
        c_batch = batch.where(F.col("tab") == "c").select(
            F.col("k").alias("cid"),
            F.col("a").cast("int").alias("seg"),
            "op", "lsn",
        )
        p_batch = batch.where(F.col("tab") == "p").select(
            F.col("k").alias("pid"),
            F.col("a").cast("int").alias("brand"),
            F.col("b").cast("int").alias("rate"),
            "op", "lsn",
        )
        f_batch = batch.where(F.col("tab") == "f").select(
            F.col("k").alias("iid"),
            F.col("a").alias("cid"),
            F.col("b").alias("pid"),
            F.col("p").cast("int").alias("price"),
            F.col("q").cast("int").alias("qty"),
            "op", "lsn",
        )
        apply_batch(
            spark, state, bid, [c_batch, p_batch], f_batch,
            max_live_partials=2, spec=_STAR_SPEC,
        )
        bid += 1

    got = sorted(
        (r.seg, r.brand, r.dn, r.revenue, r.wunits, r.max_price,
         r.n_prices)
        for r in latest_view(spark, state, _STAR_SPEC).collect()
    )
    assert got == want, (got, want, rows, sorted(cuts))


# dimensionless (single-table) spec with support-counted MIN/MAX — the
# degenerate end of the kernel's view class
_MM_SPEC = JoinViewSpec(
    fact_ddl="id long, grp int, v int, op string, lsn long",
    fact_key="id",
    fact_payload=("grp", "v"),
    group_cols=("grp",),
    measures=(("dq", "v"),),
    extrema=(("min_v", "min", "v", "int"), ("max_v", "max", "v", "int")),
)

_MM_OP = st.tuples(
    st.integers(0, N_FACT - 1),             # id
    st.integers(0, 2),                      # grp
    st.integers(0, 5),                      # v
    st.sampled_from(["I", "U", "D"]),
)
_MM_SCHEDULE = st.lists(_MM_OP, min_size=3, max_size=14)


@settings(
    max_examples=6,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=_MM_SCHEDULE, cuts=_CUTS)
def test_single_table_extrema_schedules_stay_exact(
    spark, tmp_path_factory, ops, cuts
):
    """Zero-dim spec: updates that move a key ACROSS groups and deletes
    that evict the current extremum — the support multiset must converge
    to the one-shot MIN/MAX/SUM/COUNT on any batch partitioning."""
    state = str(tmp_path_factory.mktemp("jivm_fuzz_mm") / "state")

    rows = []
    live: dict[int, tuple[int, int]] = {}
    for i, (key, grp, v, op) in enumerate(ops):
        rows.append((key, grp, v, op, 100 + i))
        if op == "D":
            live.pop(key, None)
        else:
            live[key] = (grp, v)

    agg: dict[int, list[int]] = {}
    for grp, v in live.values():
        a = agg.setdefault(grp, [0, 0, None, None])
        a[0] += 1
        a[1] += v
        a[2] = v if a[2] is None else min(a[2], v)
        a[3] = v if a[3] is None else max(a[3], v)
    want = sorted((g, n, q, lo, hi) for g, (n, q, lo, hi) in agg.items())

    DDL = "id long, grp int, v int, op string, lsn long"
    bounds = [0] + sorted(c for c in cuts if c < len(rows)) + [len(rows)]
    bid = 0
    for lo, hi in zip(bounds, bounds[1:]):
        if lo >= hi:
            continue
        apply_batch(
            spark, state, bid, None,
            spark.createDataFrame(rows[lo:hi], DDL),
            max_live_partials=2, spec=_MM_SPEC,
        )
        bid += 1

    got = sorted(
        (r.grp, r.dn, r.dq, r.min_v, r.max_v)
        for r in latest_view(spark, state, _MM_SPEC).collect()
    )
    assert got == want, (got, want, rows, sorted(cuts))


def _run_schedule(spark, tmp_path_factory, ops, cuts):
    state = str(tmp_path_factory.mktemp("jivm_fuzz") / "state")

    # deterministic amounts keyed off the op index so same-fid rewrites
    # change the value (or not — index collisions exercise no-op deltas)
    rows = []
    dims: dict[int, int] = {}
    facts: dict[int, tuple[int, int]] = {}
    for i, (tab, key, aux, op) in enumerate(ops):
        lsn = 100 + i
        if tab == "d":
            rows.append(("d", key, aux, None, op, lsn))
            if op == "D":
                dims.pop(key, None)
            else:
                dims[key] = aux
        else:
            amount = (key * 7 + aux * 3) % 11
            rows.append(("f", key, aux, amount, op, lsn))
            if op == "D":
                facts.pop(key, None)
            else:
                facts[key] = (aux, amount)

    # reference: one-shot join aggregate over the FINAL state
    agg: dict[int, list[int]] = {}
    for did, amount in facts.values():
        if did in dims:
            g = dims[did]
            agg.setdefault(g, [0, 0])
            agg[g][0] += 1
            agg[g][1] += amount
    want = sorted((g, n, t) for g, (n, t) in agg.items())

    from pyspark.sql import functions as F

    bounds = [0] + sorted(c for c in cuts if c < len(rows)) + [len(rows)]
    bid = 0
    for lo, hi in zip(bounds, bounds[1:]):
        if lo >= hi:
            continue
        batch = spark.createDataFrame(
            rows[lo:hi], "tab string, k long, a long, b long, op string, lsn long"
        )
        d_batch = batch.where(F.col("tab") == "d").select(
            F.col("k").alias("id"),
            F.col("a").cast("int").alias("grp"),
            "op", "lsn",
        )
        f_batch = batch.where(F.col("tab") == "f").select(
            F.col("k").alias("fid"),
            F.col("a").alias("did"),
            F.col("b").cast("int").alias("amount"),
            "op", "lsn",
        )
        # tight compaction cap so the fuzz also interleaves base folds,
        # manifest commits, and partial sweeps with arbitrary schedules
        apply_batch(spark, state, bid, d_batch, f_batch, max_live_partials=2)
        bid += 1

    got = sorted(
        (r.grp, r.n_rows, r.total) for r in latest_sums(spark, state).collect()
    )
    assert got == want, (got, want, rows, sorted(cuts))


# --- view COMPOSITION: chained snowflake via two stacked views (r16) ----------

# fact -> customer -> nation: the composite dim (C x N keyed by cid)
# maintains as a view whose deltas — adapted through
# changelog_from_view_deltas — are the dim STREAM of the fact view.
# The spec pair and the stacked recipe are the SHIPPED ones
# (join_ivm.chain_spec_pair / apply_chain_batch — kernel-side, so
# this suite does not import the plans registry), pinning exactly the
# shape the gate drives.
from postgresql_cdc_spark.streaming.join_ivm import chain_spec_pair

_CHAIN_COMP_SPEC, _CHAIN_FACT_SPEC = chain_spec_pair()

N_NAT = 2
N_CCUS = 3

_NAT_OP = st.tuples(
    st.just("n"),
    st.integers(0, N_NAT - 1),              # nk
    st.integers(0, 1),                      # region
    st.sampled_from(["I", "U", "D"]),
)
_CCUS_OP = st.tuples(
    st.just("c"),
    st.integers(0, N_CCUS - 1),             # cid
    st.integers(0, N_NAT),                  # nk (N_NAT = dangling)
    st.integers(0, 1),                      # seg
    st.sampled_from(["I", "U", "D"]),
)
_CORD_OP = st.tuples(
    st.just("f"),
    st.integers(0, N_FACT - 1),             # oid
    st.integers(0, N_CCUS),                 # cid (N_CCUS = dangling)
    st.sampled_from(["I", "U", "D"]),
)
_CHAIN_SCHEDULE = st.lists(
    st.one_of(_NAT_OP, _CCUS_OP, _CORD_OP), min_size=3, max_size=14
)


@settings(
    max_examples=8,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=_CHAIN_SCHEDULE, cuts=_CUTS)
def test_chain_composition_schedules_stay_exact(
    spark, tmp_path_factory, ops, cuts
):
    """The stacked-view chain under fuzz: arbitrary interleavings of
    nation re-regions/deletes (the transitive-cascade case), customer
    re-nations, order FK re-points and deletes on every level — split at
    arbitrary batch boundaries, INCLUDING same-batch changes on all
    three levels — must leave the downstream view equal to a one-shot
    recompute of SUM/COUNT per (seg, region) over the three-way join.
    The last batch is applied twice (at-least-once): both hops' state
    and the adapter must replay deterministically."""
    from pyspark.sql import functions as F

    from postgresql_cdc_spark.streaming.join_ivm import apply_chain_batch

    root = tmp_path_factory.mktemp("jivm_fuzz_chain")
    comp_state = str(root / "comp")
    fact_state = str(root / "fact")

    rows = []
    nats: dict[int, int] = {}
    custs: dict[int, tuple[int, int]] = {}
    facts: dict[int, tuple[int, int]] = {}
    for i, op_t in enumerate(ops):
        lsn = 100 + i
        if op_t[0] == "n":
            _, nk, region, op = op_t
            rows.append(("n", nk, region, None, op, lsn))
            if op == "D":
                nats.pop(nk, None)
            else:
                nats[nk] = region
        elif op_t[0] == "c":
            _, cid, nk, seg, op = op_t
            rows.append(("c", cid, nk, seg, op, lsn))
            if op == "D":
                custs.pop(cid, None)
            else:
                custs[cid] = (nk, seg)
        else:
            _, oid, cid, op = op_t
            amount = (oid * 7 + cid) % 11 + 1
            rows.append(("f", oid, cid, amount, op, lsn))
            if op == "D":
                facts.pop(oid, None)
            else:
                facts[oid] = (cid, amount)

    agg: dict[tuple[int, int], list[int]] = {}
    for cid, amount in facts.values():
        if cid in custs and custs[cid][0] in nats:
            g = (custs[cid][1], nats[custs[cid][0]])
            agg.setdefault(g, [0, 0])
            agg[g][0] += 1
            agg[g][1] += amount
    want = sorted(
        (s, r, n, t) for (s, r), (n, t) in agg.items()
    )

    DDL = "tab string, k long, a long, b long, op string, lsn long"
    norm = [r for r in rows]
    bounds = [0] + sorted(c for c in cuts if c < len(norm)) + [len(norm)]

    def apply(bid, lo, hi):
        batch = spark.createDataFrame(norm[lo:hi], DDL)
        n_batch = batch.where(F.col("tab") == "n").select(
            F.col("k").alias("nk"),
            F.col("a").cast("int").alias("region"),
            "op", "lsn",
        )
        c_batch = batch.where(F.col("tab") == "c").select(
            F.col("k").alias("cid"),
            F.col("a").alias("nk"),
            F.col("b").cast("int").alias("seg"),
            "op", "lsn",
        )
        f_batch = batch.where(F.col("tab") == "f").select(
            F.col("k").alias("oid"),
            F.col("a").alias("cid"),
            F.col("b").cast("int").alias("amount"),
            "op", "lsn",
        )
        apply_chain_batch(
            spark,
            [(comp_state, _CHAIN_COMP_SPEC, c_batch),
             (fact_state, _CHAIN_FACT_SPEC, f_batch)],
            bid, top_d_batch=n_batch, max_live_partials=2,
        )

    bid = 0
    spans = [
        (lo, hi) for lo, hi in zip(bounds, bounds[1:]) if lo < hi
    ]
    for lo, hi in spans:
        apply(bid, lo, hi)
        bid += 1
    if spans:
        apply(bid - 1, *spans[-1])  # at-least-once replay of the last batch

    got = sorted(
        (r.seg, r.region, r.dn, r.total)
        for r in latest_view(spark, fact_state, _CHAIN_FACT_SPEC).collect()
    )
    assert got == want, (got, want, rows, sorted(cuts))


# --- MIXED shape: the chained composite feeding a TWO-dim star (r17) ----------

from postgresql_cdc_spark.streaming.join_ivm import (  # noqa: E402
    mixed_chain_spec_pair,
)

_MIX_COMP_SPEC, _MIX_FACT_SPEC = mixed_chain_spec_pair()

N_MCH = 2

_MCH_OP = st.tuples(
    st.just("h"),
    st.integers(0, N_MCH - 1),              # ch
    st.integers(0, 1),                      # kind
    st.sampled_from(["I", "U", "D"]),
)
_MORD_OP = st.tuples(
    st.just("f"),
    st.integers(0, N_FACT - 1),             # oid
    st.integers(0, N_CCUS),                 # cid (N_CCUS = dangling)
    st.integers(0, N_MCH),                  # ch (N_MCH = dangling)
    st.sampled_from(["I", "U", "D"]),
)
_MIX_SCHEDULE = st.lists(
    st.one_of(_NAT_OP, _CCUS_OP, _MCH_OP, _MORD_OP),
    min_size=3, max_size=14,
)


@settings(
    max_examples=6,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=_MIX_SCHEDULE, cuts=_CUTS)
def test_mixed_chain_star_schedules_stay_exact(
    spark, tmp_path_factory, ops, cuts
):
    """The MIXED composition shape under fuzz (r16 verdict item 4): the
    chained composite (customers x nations) feeds dims[0] of a TWO-dim
    downstream star whose dims[1] (channels) changes independently —
    arbitrary interleavings across all FOUR levels, split at arbitrary
    batch boundaries INCLUDING same-batch changes on the adapted stream
    and the direct dim at once (the schedule class where the triangular
    new/old split must count exactly once), must equal a one-shot
    recompute over the four-way join. The last batch replays
    (at-least-once) through both hops and the adapter."""
    from pyspark.sql import functions as F

    from postgresql_cdc_spark.streaming.join_ivm import apply_chain_batch

    root = tmp_path_factory.mktemp("jivm_fuzz_mixed")
    comp_state = str(root / "comp")
    fact_state = str(root / "fact")

    rows = []
    nats: dict[int, int] = {}
    custs: dict[int, tuple[int, int]] = {}
    chans: dict[int, int] = {}
    facts: dict[int, tuple[int, int, int]] = {}
    for i, op_t in enumerate(ops):
        lsn = 100 + i
        if op_t[0] == "n":
            _, nk, region, op = op_t
            rows.append(("n", nk, region, None, None, op, lsn))
            if op == "D":
                nats.pop(nk, None)
            else:
                nats[nk] = region
        elif op_t[0] == "c":
            _, cid, nk, seg, op = op_t
            rows.append(("c", cid, nk, seg, None, op, lsn))
            if op == "D":
                custs.pop(cid, None)
            else:
                custs[cid] = (nk, seg)
        elif op_t[0] == "h":
            _, ch, kind, op = op_t
            rows.append(("h", ch, kind, None, None, op, lsn))
            if op == "D":
                chans.pop(ch, None)
            else:
                chans[ch] = kind
        else:
            _, oid, cid, ch, op = op_t
            amount = (oid * 7 + cid + ch) % 11 + 1
            rows.append(("f", oid, cid, ch, amount, op, lsn))
            if op == "D":
                facts.pop(oid, None)
            else:
                facts[oid] = (cid, ch, amount)

    agg: dict[tuple[int, int, int], list[int]] = {}
    for cid, ch, amount in facts.values():
        if cid in custs and custs[cid][0] in nats and ch in chans:
            g = (custs[cid][1], nats[custs[cid][0]], chans[ch])
            agg.setdefault(g, [0, 0])
            agg[g][0] += 1
            agg[g][1] += amount
    want = sorted(
        (s, r, k, n, t) for (s, r, k), (n, t) in agg.items()
    )

    DDL = ("tab string, k long, a long, b long, c long, "
           "op string, lsn long")
    bounds = [0] + sorted(c for c in cuts if c < len(rows)) + [len(rows)]

    def apply(bid, lo, hi):
        batch = spark.createDataFrame(rows[lo:hi], DDL)
        n_batch = batch.where(F.col("tab") == "n").select(
            F.col("k").alias("nk"),
            F.col("a").cast("int").alias("region"),
            "op", "lsn",
        )
        c_batch = batch.where(F.col("tab") == "c").select(
            F.col("k").alias("cid"),
            F.col("a").alias("nk"),
            F.col("b").cast("int").alias("seg"),
            "op", "lsn",
        )
        h_batch = batch.where(F.col("tab") == "h").select(
            F.col("k").alias("ch"),
            F.col("a").cast("int").alias("kind"),
            "op", "lsn",
        )
        f_batch = batch.where(F.col("tab") == "f").select(
            F.col("k").alias("oid"),
            F.col("a").alias("cid"),
            F.col("b").alias("ch"),
            F.col("c").cast("int").alias("amount"),
            "op", "lsn",
        )
        apply_chain_batch(
            spark,
            [(comp_state, _MIX_COMP_SPEC, c_batch),
             (fact_state, _MIX_FACT_SPEC, f_batch, [h_batch])],
            bid,
            top_d_batch=n_batch,
            max_live_partials=2,
        )

    bid = 0
    spans = [
        (lo, hi) for lo, hi in zip(bounds, bounds[1:]) if lo < hi
    ]
    for lo, hi in spans:
        apply(bid, lo, hi)
        bid += 1
    if spans:
        apply(bid - 1, *spans[-1])  # at-least-once replay of the last batch

    got = sorted(
        (r.seg, r.region, r.kind, r.dn, r.total)
        for r in latest_view(spark, fact_state, _MIX_FACT_SPEC).collect()
    )
    assert got == want, (got, want, rows, sorted(cuts))
