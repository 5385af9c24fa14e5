"""The r17 kernel surface: factorized OUTER-join views through
``JoinViewSpec(join_type=...)``, epoch-backed support tables
(high-cardinality COUNT(DISTINCT)/extrema state folding O(|batch|) per
trigger), global-aggregate zero-row serves for group-less specs, and the
chain adapter's type validation.

The outer construction maintains the per-FK fact aggregate M1 and the
dim kv state as two independent single-table views and composes them at
serve time — these tests pin its semantics against a closed-form
recomputation across dim regroups, FK danglers on both sides, value
updates, deletes, and at-least-once replay."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from postgresql_cdc_spark.streaming.join_ivm import (
    DimSpec,
    JoinViewSpec,
    apply_batch,
    latest_view,
)

DIM_DDL = "id long, grp int, op string, lsn long"
FACT_DDL = "fid long, did long, amount int, op string, lsn long"


def _outer_spec(join_type: str) -> JoinViewSpec:
    return JoinViewSpec(
        fact_ddl=FACT_DDL,
        fact_key="fid",
        fact_payload=("did", "amount"),
        group_cols=("grp",),
        measures=(("total", "amount"),),
        extrema=(("max_amt", "max", "amount", "int"),),
        distincts=(("n_amounts", "amount", "int"),),
        topks=(("top", "amount", "int", 2, "max"),),
        dims=(DimSpec(ddl=DIM_DDL, key="id", payload=("grp",),
                      fact_fk="did"),),
        join_type=join_type,
    )


def _waves():
    """Three waves with danglers on BOTH sides by the end: dim 9 never
    gets facts (factless — right/full), facts with did in {4, 5} lose or
    never had their dim (dangling — left/full), dim 0 regroups, fact 1
    re-prices, fact 7 dies, fact 10 lands late on the regrouped dim."""
    w0 = [("d", i, i % 2, None, "I", 10 + i) for i in range(5)]
    w0.append(("d", 9, 7, None, "I", 16))
    w1 = [("f", i, i % 6, (i % 4) * 10, "I", 20 + i) for i in range(10)]
    w2 = (
        [("d", 0, 5, None, "U", 40), ("d", 4, None, None, "D", 41)]
        + [("f", 1, 1, 1000, "U", 42), ("f", 7, None, None, "D", 43),
           ("f", 10, 0, 7, "I", 44)]
    )
    dims = {0: 5, 1: 1, 2: 0, 3: 1, 9: 7}
    facts = {0: (0, 0), 1: (1, 1000), 2: (2, 20), 3: (3, 30),
             4: (4, 0), 5: (5, 10), 6: (0, 20), 8: (2, 0),
             9: (3, 10), 10: (0, 7)}
    return [w0, w1, w2], dims, facts


def _expected(join_type: str, dims: dict, facts: dict):
    rows = []  # (grp-or-None, amount-or-None)
    for _fid, (did, amount) in facts.items():
        if did in dims:
            rows.append((dims[did], amount))
        elif join_type in ("left", "full"):
            rows.append((None, amount))
    if join_type in ("right", "full"):
        referenced = {did for did, _ in facts.values()}
        rows.extend(
            (grp, None) for i, grp in dims.items() if i not in referenced
        )
    agg: dict = {}
    for g, a in rows:
        agg.setdefault(g, []).append(a)
    out = set()
    for g, amounts in agg.items():
        live = [a for a in amounts if a is not None]
        ranked = sorted(set(live), reverse=True)
        out.add((
            g,
            len(amounts),
            sum(live) if live else None,
            max(live) if live else None,
            len(set(live)),
            ranked[0] if len(ranked) > 0 else None,
            ranked[1] if len(ranked) > 1 else None,
        ))
    return out


def _route(spark, wave):
    rows = spark.createDataFrame(
        wave, "tab string, k long, a long, b long, op string, lsn long"
    )
    d = rows.where(F.col("tab") == "d").select(
        F.col("k").alias("id"), F.col("a").cast("int").alias("grp"),
        "op", "lsn",
    )
    f = rows.where(F.col("tab") == "f").select(
        F.col("k").alias("fid"), F.col("a").alias("did"),
        F.col("b").cast("int").alias("amount"), "op", "lsn",
    )
    return d, f


class TestOuterJoinViews:
    @pytest.mark.parametrize("join_type", ["left", "right", "full"])
    @pytest.mark.slow  # r18 tier split: lifecycle/parity soak; slow tier
    def test_outer_view_matches_closed_form(
        self, spark, tmp_path, join_type
    ):
        spec = _outer_spec(join_type)
        state = str(tmp_path / f"state_{join_type}")
        os.makedirs(state)
        waves, dims, facts = _waves()
        for bid, wave in enumerate(waves):
            d, f = _route(spark, wave)
            apply_batch(spark, state, bid, d, f, spec=spec)
        got = {
            (r.grp, r.dn, r.total, r.max_amt, r.n_amounts, r.top1, r.top2)
            for r in latest_view(spark, state, spec).collect()
        }
        assert got == _expected(join_type, dims, facts), (join_type, got)
        # at-least-once: replaying the last wave converges byte-identically
        d, f = _route(spark, waves[-1])
        apply_batch(spark, state, len(waves) - 1, d, f, spec=spec)
        again = {
            (r.grp, r.dn, r.total, r.max_amt, r.n_amounts, r.top1, r.top2)
            for r in latest_view(spark, state, spec).collect()
        }
        assert again == got

    def test_left_serve_reads_dims_through_m1_keys(self, spark, tmp_path):
        """The factorized LEFT serve inside latest_view keeps the r15
        M1-pruning contract: its dim read goes through probe_key_state
        keyed by M1's FKs, so a dim row no fact references never reaches
        the serve join (semantically invisible for LEFT — checked here;
        the scan-pruning I/O bound is pinned by
        test_left_join_serve_prunes_dim_scan on the shared probe path)."""
        spec = _outer_spec("left")
        state = str(tmp_path / "state")
        os.makedirs(state)
        waves, dims, facts = _waves()
        for bid, wave in enumerate(waves):
            d, f = _route(spark, wave)
            apply_batch(spark, state, bid, d, f, spec=spec)
        got = {
            (r.grp, r.dn, r.total, r.max_amt, r.n_amounts, r.top1, r.top2)
            for r in latest_view(spark, state, spec).collect()
        }
        assert got == _expected("left", dims, facts)
        # the factless dim's group (grp=7) must NOT appear
        assert not any(g == 7 for g, *_ in got)


class TestEpochBackedSupports:
    def _spec(self):
        return JoinViewSpec(
            fact_ddl="id long, cust long, v int, op string, lsn long",
            fact_key="id",
            fact_payload=("cust", "v"),
            group_cols=("cust",),
            measures=(("dq", "v"),),
            extrema=(("max_v", "max", "v", "int"),),
            distincts=(("n_v", "v", "int"),),
        )

    def _apply(self, spark, state, bid, rows, spec):
        batch = spark.createDataFrame(
            rows, "id long, cust long, v int, op string, lsn long"
        )
        apply_batch(spark, state, bid, None, batch, spec=spec)

    def test_hicard_distincts_fold_and_serve(self, spark, tmp_path):
        """Supports ride the epoch store, so a
        per-customer COUNT(DISTINCT) folds O(|batch|) per trigger. Value updates, re-points and deletes
        must all maintain the live multiset exactly."""
        spec = self._spec()
        state = str(tmp_path / "state")
        os.makedirs(state)
        n = 40
        self._apply(spark, state, 0, [
            (i, i % 20, (i * 3) % 7, "I", 10 + i) for i in range(n)
        ], spec)
        self._apply(spark, state, 1, (
            [(i, i % 20, 50 + i % 2, "U", 100 + i)
             for i in range(0, n, 5)]
            + [(i, (i + 1) % 20, (i * 3) % 7, "U", 150 + i)
               for i in range(3, n, 10)]
        ), spec)
        self._apply(spark, state, 2, [
            (i, None, None, "D", 200 + i) for i in range(0, n, 7)
        ], spec)
        # closed-form recompute
        rows = {i: (i % 20, (i * 3) % 7) for i in range(n)}
        for i in range(0, n, 5):
            rows[i] = (i % 20, 50 + i % 2)
        for i in range(3, n, 10):
            rows[i] = ((i + 1) % 20, (i * 3) % 7)
        for i in range(0, n, 7):
            del rows[i]
        agg: dict = {}
        for cust, v in rows.values():
            agg.setdefault(cust, []).append(v)
        want = {
            (c, len(vs), sum(vs), max(vs), len(set(vs)))
            for c, vs in agg.items()
        }
        got = {
            (r.cust, r.dn, r.dq, r.max_v, r.n_v)
            for r in latest_view(spark, state, spec).collect()
        }
        assert got == want
        # at-least-once: replay the delete wave
        self._apply(spark, state, 2, [
            (i, None, None, "D", 200 + i) for i in range(0, n, 7)
        ], spec)
        assert {
            (r.cust, r.dn, r.dq, r.max_v, r.n_v)
            for r in latest_view(spark, state, spec).collect()
        } == want

    def test_support_reads_anchor_to_sums_horizon(self, spark, tmp_path):
        """Crash between the support fold and the sums fold: the
        support store carries a NEWER epoch than the sums store, and a
        serve in that window must ignore it — batch-N distinct counts
        must never appear next to batch-(N-1) sums."""
        from postgresql_cdc_spark.streaming.join_ivm import (
            fold_epoch_store,
        )

        spec = self._spec()
        state = str(tmp_path / "state")
        os.makedirs(state)
        self._apply(spark, state, 0, [
            (1, 1, 5, "I", 10), (2, 1, 9, "I", 11), (3, 2, 4, "I", 12),
        ], spec)
        served = latest_view(spark, state, spec)
        want = {(r.cust, r.dn, r.dq, r.max_v, r.n_v)
                for r in served.collect()}
        # simulate the crashed batch 1: its support fold committed, its
        # sums fold did not
        prefix = spec.supp_tables[0][0]
        crashed = spark.createDataFrame(
            [(1, 99, 1)], "cust long, __v int, cnt long"
        )
        fold_epoch_store(
            spark, os.path.join(state, f"{prefix}_es"),
            spec.supp_ddl("int"), ["cust", "__v"], 1, crashed,
        )
        got = {(r.cust, r.dn, r.dq, r.max_v, r.n_v)
               for r in latest_view(spark, state, spec).collect()}
        assert got == want, "crashed support partial leaked into a serve"


class TestTopkPerGroup:
    def test_topk_tracks_evictions(self, spark, tmp_path):
        """K-extrema through the support construction: the top-3
        distinct values per group must survive deletes evicting the
        current maximum (the case a max-only or sketch maintenance gets
        wrong), NULL-pad groups with fewer values, and share the
        support table with MIN/COUNT(DISTINCT) over the same column."""
        spec = JoinViewSpec(
            fact_ddl="id long, cust long, v int, op string, lsn long",
            fact_key="id",
            fact_payload=("cust", "v"),
            group_cols=("cust",),
            distincts=(("n_v", "v", "int"),),
            topks=(("top", "v", "int", 3, "max"),),
        )
        # one physical support table backs both aggregates
        assert len(spec.supp_tables) == 1
        state = str(tmp_path / "state")
        os.makedirs(state)

        def batch(rows):
            return spark.createDataFrame(
                rows, "id long, cust long, v int, op string, lsn long"
            )

        apply_batch(spark, state, 0, None, batch([
            (1, 1, 50, "I", 10), (2, 1, 30, "I", 11), (3, 1, 40, "I", 12),
            (4, 1, 30, "I", 13), (5, 1, 10, "I", 14),
            (6, 2, 7, "I", 15),
        ]), spec=spec)
        got = {
            (r.cust, r.dn, r.n_v, r.top1, r.top2, r.top3)
            for r in latest_view(spark, state, spec).collect()
        }
        assert got == {(1, 5, 4, 50, 40, 30), (2, 1, 1, 7, None, None)}
        # delete the current max (50) and one mid value's only carrier
        apply_batch(spark, state, 1, None, batch([
            (1, None, None, "D", 20), (3, None, None, "D", 21),
        ]), spec=spec)
        got = {
            (r.cust, r.dn, r.n_v, r.top1, r.top2, r.top3)
            for r in latest_view(spark, state, spec).collect()
        }
        assert got == {(1, 3, 2, 30, 10, None), (2, 1, 1, 7, None, None)}
        # a value with TWO carriers survives one carrier's delete
        apply_batch(spark, state, 2, None, batch([
            (2, None, None, "D", 30),
        ]), spec=spec)
        got = {
            (r.cust, r.top1, r.top2, r.top3)
            for r in latest_view(spark, state, spec).collect()
        }
        assert got == {(1, 30, 10, None), (2, 7, None, None)}


class TestGlobalAggregateServe:
    def test_group_less_view_serves_zero_row_after_drain(
        self, spark, tmp_path
    ):
        """r16 advice #3: a group-less (global-aggregate) view whose
        state nets empty must serve SQL's one global row — COUNT 0,
        SUM/MAX NULL, COUNT(DISTINCT) 0 — not an empty frame."""
        spec = JoinViewSpec(
            fact_ddl="id long, v int, op string, lsn long",
            fact_key="id",
            fact_payload=("v",),
            group_cols=(),
            measures=(("dq", "v"),),
            extrema=(("max_v", "max", "v", "int"),),
            distincts=(("n_v", "v", "int"),),
        )
        state = str(tmp_path / "state")
        os.makedirs(state)

        def batch(rows):
            return spark.createDataFrame(
                rows, "id long, v int, op string, lsn long"
            )

        apply_batch(spark, state, 0,
                    None, batch([(1, 5, "I", 10), (2, 9, "I", 11)]),
                    spec=spec)
        live = latest_view(spark, state, spec).collect()
        assert [(r.dn, r.dq, r.max_v, r.n_v) for r in live] == \
            [(2, 14, 9, 2)]
        apply_batch(spark, state, 1,
                    None, batch([(1, None, "D", 20), (2, None, "D", 21)]),
                    spec=spec)
        drained = latest_view(spark, state, spec).collect()
        assert [(r.dn, r.dq, r.max_v, r.n_v) for r in drained] == \
            [(0, None, None, 0)]


class TestChainTypeValidation:
    def test_chain_type_mismatch_raises_at_entry(self, spark, tmp_path):
        """r16 advice #2: an upstream group-column type differing from
        the downstream DimSpec DDL type must fail entry validation, not
        surface as a parquet schema-read failure mid-batch."""
        from postgresql_cdc_spark.streaming.join_ivm import (
            apply_chain_batch,
        )

        comp = JoinViewSpec(
            fact_ddl="cid long, seg int, op string, lsn long",
            fact_key="cid",
            fact_payload=("seg",),
            group_cols=("cid", "seg"),
        )
        fact = JoinViewSpec(
            fact_ddl="oid long, cid long, amount int, op string, lsn long",
            fact_key="oid",
            fact_payload=("cid", "amount"),
            group_cols=("seg",),
            measures=(("total", "amount"),),
            dims=(DimSpec(
                ddl="cid long, seg bigint, op string, lsn long",
                key="cid", payload=("seg",), fact_fk="cid",
            ),),
        )
        empty_c = spark.createDataFrame(
            [], "cid long, seg int, op string, lsn long"
        )
        empty_f = spark.createDataFrame(
            [], "oid long, cid long, amount int, op string, lsn long"
        )
        with pytest.raises(ValueError, match="types"):
            apply_chain_batch(
                spark,
                [(str(tmp_path / "c"), comp, empty_c),
                 (str(tmp_path / "f"), fact, empty_f)],
                0,
            )
