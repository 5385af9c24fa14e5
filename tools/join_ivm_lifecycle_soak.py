"""Join-IVM state-lifecycle soak: a MEASURED stream-AGE curve for the
rewritten ``streaming/join_ivm.py`` (r14).

The r13 verdict's #1 finding: the first join-IVM state layer wrote a FULL
dim/fact/sums snapshot per batch id, never garbage-collected old versions
(O(batches x |state|) disk — ~525k full fact copies per year at a
one-minute trigger), and full-outer-joined ENTIRE old state against
ENTIRE new state every micro-batch (O(|state|) compute per trigger).
The r14 rewrite backs the key states with epoch stores (per-batch write =
the batch's collapsed rows only, ``maybe_compact`` folds old epochs
behind a manifest-committed base), derives deltas from batch-keyed
broadcast probes, and folds the sums into a compacted epoch store
(``sums_es``). This soak drives 120 micro-batches — 12x the deterministic
gate's stream age — and reports, at checkpoints along the stream's life:

- disk objects (``sums_es`` partitions, the kv and arrangement stores'
  epoch partitions, parquet files) — must stay BOUNDED, not grow with
  batch count;
- per-batch apply latency (median of the trailing window) — must stay
  FLAT, not grow with state/stream age;
- and verifies the maintained sums EQUAL a driver-side one-shot
  recompute of the join aggregate at every checkpoint (maintenance and
  retention must be invisible to answers — the registry convention).

Batches are deterministic (epoch-seeded arithmetic), mixing dim
inserts/regroups/deletes with fact inserts/updates/deletes so both
delta-rule legs and the tombstone paths stay hot.

Usage: python tools/join_ivm_lifecycle_soak.py  (JSON to stdout; paste
the table into BASELINE.md's lifecycle section)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

N_EPOCHS = 120
CHECKPOINTS = (10, 30, 60, 120)
N_DIM = 12
N_FACT = 60
N_GRP = 4
CAP = 8  # max_live_partials (the maybe_compact default)

ROW_DDL = "tab string, k long, a long, b long, op string, lsn long"


def _batch_rows(ep: int, lsn0: int) -> list:
    """Deterministic mixed-op batch for epoch ``ep``: 2 dim ops + 8 fact
    ops, cycling keys so updates/deletes hit existing rows."""
    rows = []
    lsn = lsn0
    for j in range(2):
        did = (ep * 2 + j) % N_DIM
        r = (ep + j) % 5
        if r == 4 and ep > 3:
            rows.append(("d", did, None, None, "D", lsn))
        else:
            rows.append(("d", did, (ep + did + j) % N_GRP, None,
                         "U" if ep > 0 else "I", lsn))
        lsn += 1
    for j in range(8):
        fid = (ep * 8 + j * 3) % N_FACT
        r = (ep + j) % 6
        if r == 5 and ep > 3:
            rows.append(("f", fid, None, None, "D", lsn))
        else:
            did = (fid + ep) % N_DIM
            amount = (fid * 7 + ep * 3) % 50
            rows.append(("f", fid, did, amount,
                         "U" if ep > 0 else "I", lsn))
        lsn += 1
    return rows


def _model_apply(dims: dict, facts: dict, rows: list) -> None:
    for tab, k, a, b, op, _lsn in rows:
        if tab == "d":
            if op == "D":
                dims.pop(k, None)
            else:
                dims[k] = a
        else:
            if op == "D":
                facts.pop(k, None)
            else:
                facts[k] = (a, b)


def _model_sums(dims: dict, facts: dict) -> list:
    agg: dict[int, list[int]] = {}
    for did, amount in facts.values():
        if did in dims:
            g = dims[did]
            agg.setdefault(g, [0, 0])
            agg[g][0] += 1
            agg[g][1] += amount
    return sorted((g, n, t) for g, (n, t) in agg.items() if n)


def _partitions(store: str) -> int:
    if not os.path.isdir(store):
        return 0
    return sum(1 for n in os.listdir(store) if n.startswith("ingest_epoch="))


def _disk(state: str) -> dict:
    """Bounded-lifecycle metrics: the sums store's partitions (base +
    live partials), the kv and arrangement stores' epoch partitions,
    parquet file count across the whole state tree."""
    partitions = sum(
        _partitions(os.path.join(state, store))
        for store in ("dim_kv", "fact_kv", "fact_by_did", "fact_delta")
    )
    files = 0
    for root, _dirs, names in os.walk(state):
        files += sum(1 for n in names if n.endswith(".parquet"))
    return {
        "sums_partitions": _partitions(os.path.join(state, "sums_es")),
        "epoch_partitions": partitions,
        "parquet_files": files,
    }


def main() -> int:
    from postgresql_cdc_spark.session import get_spark
    from postgresql_cdc_spark.streaming.join_ivm import (
        apply_batch,
        latest_sums,
    )

    spark = get_spark("join-ivm-lifecycle-soak")
    base = tempfile.mkdtemp(prefix=f"jivm_soak_{uuid.uuid4().hex[:8]}_")
    state = os.path.join(base, "state")
    os.makedirs(state)

    dims: dict = {}
    facts: dict = {}
    out: dict = {}
    window: list[float] = []
    t_start = time.monotonic()
    try:
        for ep in range(N_EPOCHS):
            rows = _batch_rows(ep, lsn0=1000 + ep * 16)
            _model_apply(dims, facts, rows)
            batch = spark.createDataFrame(rows, ROW_DDL)
            d_batch = batch.where(F.col("tab") == "d").select(
                F.col("k").alias("id"), F.col("a").cast("int").alias("grp"),
                "op", "lsn",
            )
            f_batch = batch.where(F.col("tab") == "f").select(
                F.col("k").alias("fid"), F.col("a").alias("did"),
                F.col("b").cast("int").alias("amount"), "op", "lsn",
            )
            t0 = time.monotonic()
            apply_batch(
                spark, state, ep, d_batch, f_batch, max_live_partials=CAP
            )
            window.append(time.monotonic() - t0)
            if ep + 1 in CHECKPOINTS:
                got = sorted(
                    (r.grp, r.n_rows, r.total)
                    for r in latest_sums(spark, state).collect()
                )
                want = _model_sums(dims, facts)
                assert got == want, (ep, got, want)
                tail = sorted(window[-10:])
                out[ep + 1] = {
                    **_disk(state),
                    "batch_s_median_last10": round(tail[len(tail) // 2], 3),
                    "answers_match_recompute": True,
                }
        out["total_wall_s"] = round(time.monotonic() - t_start, 1)
        out["config"] = {
            "n_epochs": N_EPOCHS, "n_dim": N_DIM, "n_fact": N_FACT,
            "max_live_partials": CAP,
        }
        print(json.dumps({"join_ivm_lifecycle_soak": out}, indent=2))
        return 0
    finally:
        shutil.rmtree(base, ignore_errors=True)



# --- 10x-STATE comparison mode (--scale-compare) -----------------------------
# Pins the O(|batch|) claim with a measured curve the way the sf1 soaks pin
# data-scale claims: seed the store with N fact rows (one bulk batch), then
# drive 60 SMALL batches (2 dim + 8 fact ops) and report the median per-batch
# apply time. Run at N and 10N: if per-batch cost were O(|state|) (the old
# layout's full-state rewrite + full-outer diff), the 10N column would be
# ~10x; the delta-backed layout should hold ~flat, paying only the base-fold
# scan — which is itself PRUNED: the kv fold writes one key-sorted file
# of bounded row groups and the probe pushes the batch's keys as range
# predicates, so probe_scan_rows (the fact_kv scan's numOutputRows for a
# 3-key probe, measured below) must stop tracking |state| too.
# The compare modes scale epoch_maintenance.TARGET_FILE_BYTES down (16 KiB)
# so the arrangements' MB-sized state splits into multiple base files the
# way 128 MiB files split TB-sized state — same files-per-state ratio, same
# pruning geometry.

_SOAK_FILE_BYTES = 16 * 1024


def _use_soak_geometry() -> None:
    from postgresql_cdc_spark.streaming import epoch_maintenance

    epoch_maintenance.TARGET_FILE_BYTES = _SOAK_FILE_BYTES


def _probe_scan_rows(spark, state: str, keys: list[int]) -> int:
    """numOutputRows of the fact_kv store scan for a pushed 3-key probe —
    rows the reader actually surfaced after min/max skipping
    (``operators/layout.scan_output_rows`` over the soak's store)."""
    from postgresql_cdc_spark.operators.layout import scan_output_rows
    from postgresql_cdc_spark.streaming.epoch_maintenance import (
        read_epoch_store,
    )
    from postgresql_cdc_spark.streaming.join_ivm import (
        FACT_DDL,
        probe_by_key_list,
    )

    probe = probe_by_key_list(
        read_epoch_store(spark, os.path.join(state, "fact_kv"),
                         schema=FACT_DDL),
        "fid", keys,
    )
    return scan_output_rows(probe)


def _scale_run(
    spark, n_fact: int, n_small: int = 60, ops_scale: int = 1
) -> dict:
    import tempfile as _tf

    from pyspark.sql import functions as F

    from postgresql_cdc_spark.streaming.join_ivm import (
        apply_batch,
        latest_sums,
    )

    n_dim = max(12, n_fact // 10)
    base = _tf.mkdtemp(prefix=f"jivm_scale_{uuid.uuid4().hex[:8]}_")
    state = os.path.join(base, "state")
    os.makedirs(state)
    dims: dict = {}
    facts: dict = {}
    try:
        # epoch 0: bulk seed — N facts + N/10 dims in one batch
        seed = (
            [("d", i, i % N_GRP, None, "I", 10 + i) for i in range(n_dim)]
            + [("f", i, i % n_dim, (i * 7) % 50, "I", 10 + n_dim + i)
               for i in range(n_fact)]
        )
        _model_apply(dims, facts, seed)
        sdf = spark.createDataFrame(seed, ROW_DDL)
        apply_batch(
            spark, state, 0,
            sdf.where(F.col("tab") == "d").select(
                F.col("k").alias("id"), F.col("a").cast("int").alias("grp"),
                "op", "lsn"),
            sdf.where(F.col("tab") == "f").select(
                F.col("k").alias("fid"), F.col("a").alias("did"),
                F.col("b").cast("int").alias("amount"), "op", "lsn"),
            max_live_partials=CAP,
        )
        # then n_small SMALL batches of fixed size against the big state
        lsn0 = 10 + n_dim + n_fact
        times = []
        for ep in range(1, n_small + 1):
            rows = []
            lsn = lsn0 + ep * 16 * ops_scale
            for j in range(2 * ops_scale):
                did = (ep * 7 + j) % n_dim
                rows.append(("d", did, (ep + did) % N_GRP, None, "U", lsn))
                lsn += 1
            seen: set = set()
            for j in range(8 * ops_scale):
                fid = (ep * 13 + j * 5) % n_fact
                if fid in seen:
                    continue  # latest-wins would collapse it anyway
                seen.add(fid)
                if (ep + j) % 6 == 5:
                    rows.append(("f", fid, None, None, "D", lsn))
                else:
                    rows.append(("f", fid, (fid + ep) % n_dim,
                                 (fid * 7 + ep * 3) % 50, "U", lsn))
                lsn += 1
            _model_apply(dims, facts, rows)
            bdf = spark.createDataFrame(rows, ROW_DDL)
            t0 = time.monotonic()
            apply_batch(
                spark, state, ep,
                bdf.where(F.col("tab") == "d").select(
                    F.col("k").alias("id"),
                    F.col("a").cast("int").alias("grp"), "op", "lsn"),
                bdf.where(F.col("tab") == "f").select(
                    F.col("k").alias("fid"), F.col("a").alias("did"),
                    F.col("b").cast("int").alias("amount"), "op", "lsn"),
                max_live_partials=CAP,
            )
            times.append(time.monotonic() - t0)
        got = sorted(
            (r.grp, r.n_rows, r.total)
            for r in latest_sums(spark, state).collect()
        )
        want = _model_sums(dims, facts)
        assert got == want, (n_fact, got[:5], want[:5])
        mid = sorted(times)
        scan = _probe_scan_rows(
            spark, state, [1, 2, n_fact - 7]
        )
        return {
            "state_fact_rows": n_fact,
            "n_small_batches": n_small,
            "batch_s_median": round(mid[len(mid) // 2], 3),
            "batch_s_p90": round(mid[int(len(mid) * 0.9)], 3),
            "probe_scan_rows_3keys": scan,
            "answers_match_recompute": True,
        }
    finally:
        shutil.rmtree(base, ignore_errors=True)


def scale_compare() -> int:
    from postgresql_cdc_spark.session import get_spark

    _use_soak_geometry()
    spark = get_spark("join-ivm-scale-compare")
    out = {}
    for n in (5_000, 50_000):
        print(f"  seeding {n} fact rows + 60 small batches ...",
              file=sys.stderr, flush=True)
        out[n] = _scale_run(spark, n)
    small, big = out[5_000], out[50_000]
    out["median_ratio_10x_state"] = round(
        big["batch_s_median"] / small["batch_s_median"], 2
    )
    out["probe_scan_ratio_10x_state"] = round(
        big["probe_scan_rows_3keys"] / max(1, small["probe_scan_rows_3keys"]),
        2,
    )
    print(json.dumps({"join_ivm_scale_compare": out}, indent=2))
    return 0


# --- high-cardinality sums comparison (--hicard-compare) ---------------------
# Pins r15's fold_epoch_store claim: per-batch sums I/O must be
# O(|batch groups|), independent of the group-domain size. A customer-
# grained view (one group per key) is maintained at G and 10G groups; the
# rows written per batch must stay at |batch| in both.

def _hicard_run(spark, n_keys: int, n_small: int = 40) -> dict:
    import tempfile as _tf

    from pyspark.sql import functions as F

    from postgresql_cdc_spark.streaming.join_ivm import (
        fold_epoch_store,
        read_folded_groups,
    )
    from postgresql_cdc_spark.streaming.kv_store import ingest_and_delta

    DDL = "id long, cust long, v int, op string, lsn long"
    SUMS = "cust long, dn long, dq long"
    base = _tf.mkdtemp(prefix=f"jivm_hc_{uuid.uuid4().hex[:8]}_")
    state_kv = os.path.join(base, "state_kv")
    sums_store = os.path.join(base, "sums_store")
    model: dict[int, int] = {}

    def apply(ep: int, rows: list) -> tuple[float, int]:
        for _id, v in rows:
            model[_id] = v
        # epoch stride >> max batch size keeps LSNs monotonic across
        # epochs (the WAL stream-order guarantee the kernel assumes)
        batch = spark.createDataFrame(
            [(i, i, v, "U" if ep else "I", 1000 + ep * 1_000_000 + k)
             for k, (i, v) in enumerate(rows)],
            DDL,
        )
        t0 = time.monotonic()
        delta = ingest_and_delta(
            spark, state_kv, DDL, "id", ["cust", "v"], ep, batch,
        ).select(
            "cust",
            F.col("sign").cast("long").alias("dn"),
            (F.col("sign") * F.col("v")).cast("long").alias("dq"),
        )
        fold_epoch_store(spark, sums_store, SUMS, ["cust"], ep, delta)
        written = (
            spark.read.schema(SUMS + ", ingest_epoch int")
            .parquet(sums_store)
            .where(F.col("ingest_epoch") == ep)
            .count()
        )
        return time.monotonic() - t0, written

    apply(0, [(i, (i * 7) % 13) for i in range(n_keys)])
    times, rows_written = [], []
    for ep in range(1, n_small + 1):
        upd = [((ep * 13 + j * 7) % n_keys, (ep * 3 + j) % 50)
               for j in range(10)]
        t, w = apply(ep, upd)
        times.append(t)
        rows_written.append(w)

    served = read_folded_groups(
        spark, sums_store, SUMS, ["cust"], drop_when_zero="dn"
    )
    got = sorted((r.cust, r.dn, r.dq) for r in served.collect())
    want = sorted((i, 1, v) for i, v in model.items())
    assert got == want, (n_keys, got[:5], want[:5])
    shutil.rmtree(base, ignore_errors=True)
    ts, ws = sorted(times), sorted(rows_written)
    return {
        "groups": n_keys,
        "batch_s_median": round(ts[len(ts) // 2], 3),
        "sums_rows_written_median": ws[len(ws) // 2],
    }


def batch_compare() -> int:
    """The OTHER axis of the O(|batch|) claim: state held constant
    (20k facts), batch size scaled 10x (10 -> 100 ops). Per-batch cost
    may grow toward linear in |batch| (that IS the claim's bound) but is
    expected sub-linear here because per-trigger overhead dominates at
    these sizes; what it must NOT do is pick up an O(|state|) term."""
    from postgresql_cdc_spark.session import get_spark

    _use_soak_geometry()
    spark = get_spark("join-ivm-batch-compare")
    out = {}
    for scale in (1, 10):
        print(f"  20k-fact state, {10 * scale} ops/batch ...",
              file=sys.stderr, flush=True)
        out[f"ops_{10 * scale}"] = {
            **_scale_run(spark, 20_000, n_small=40, ops_scale=scale),
            "ops_per_batch": 10 * scale,
        }
    out["median_ratio_10x_batch"] = round(
        out["ops_100"]["batch_s_median"] / out["ops_10"]["batch_s_median"], 2
    )
    print(json.dumps({"join_ivm_batch_compare": out}, indent=2))
    return 0


# --- two-dimension (star) kernel scale comparison (--star-compare) ------------
# Pins r16's snowflake claim: the N-ary delta rule's per-batch cost must
# not pick up an O(|state|) term — same axes as --scale-compare, driven
# through a TWO-dim spec with an extrema measure (so the cross terms, the
# per-dim arrangements, and the support fold are all hot).

_STAR_DDL = ("tab string, k long, a long, b long, p long, q long, "
             "op string, lsn long")


def _star_spec():
    from postgresql_cdc_spark.streaming.join_ivm import DimSpec, JoinViewSpec

    return JoinViewSpec(
        fact_ddl="iid long, cid long, pid long, price int, qty int, "
                 "op string, lsn long",
        fact_key="iid",
        fact_payload=("cid", "pid", "price", "qty"),
        group_cols=("seg", "brand"),
        measures=(("revenue", "price * qty"),),
        extrema=(("max_price", "max", "price", "int"),),
        dims=(
            DimSpec(ddl="cid long, seg int, op string, lsn long",
                    key="cid", payload=("seg",), fact_fk="cid"),
            DimSpec(ddl="pid long, brand int, op string, lsn long",
                    key="pid", payload=("brand",), fact_fk="pid"),
        ),
    )


def _star_run(spark, n_fact: int, n_small: int = 40) -> dict:
    import tempfile as _tf

    from pyspark.sql import functions as F

    from postgresql_cdc_spark.streaming.join_ivm import (
        apply_batch,
        latest_view,
        probe_by_key_list,
    )
    from postgresql_cdc_spark.operators.layout import scan_output_rows
    from postgresql_cdc_spark.streaming.epoch_maintenance import (
        read_epoch_store,
    )

    spec = _star_spec()
    n_cust = max(12, n_fact // 10)
    n_part = max(10, n_fact // 20)
    base = _tf.mkdtemp(prefix=f"jivm_star_{uuid.uuid4().hex[:8]}_")
    state = os.path.join(base, "state")
    os.makedirs(state)
    custs: dict = {}
    parts: dict = {}
    facts: dict = {}

    def route(rows):
        df = spark.createDataFrame(rows, _STAR_DDL)
        c = df.where(F.col("tab") == "c").select(
            F.col("k").alias("cid"), F.col("a").cast("int").alias("seg"),
            "op", "lsn")
        p = df.where(F.col("tab") == "p").select(
            F.col("k").alias("pid"), F.col("a").cast("int").alias("brand"),
            "op", "lsn")
        f = df.where(F.col("tab") == "f").select(
            F.col("k").alias("iid"), F.col("a").alias("cid"),
            F.col("b").alias("pid"), F.col("p").cast("int").alias("price"),
            F.col("q").cast("int").alias("qty"), "op", "lsn")
        return [c, p], f

    def model_apply(rows):
        for r in rows:
            tab, k, a, b, p, q, op, _ = r
            if tab == "c":
                custs.pop(k, None) if op == "D" else custs.update({k: a})
            elif tab == "p":
                parts.pop(k, None) if op == "D" else parts.update({k: a})
            else:
                if op == "D":
                    facts.pop(k, None)
                else:
                    facts[k] = (a, b, p, q)

    try:
        lsn = 10
        seed = []
        for i in range(n_cust):
            seed.append(("c", i, i % N_GRP, None, None, None, "I", lsn))
            lsn += 1
        for i in range(n_part):
            seed.append(("p", i, i % 5, None, None, None, "I", lsn))
            lsn += 1
        for i in range(n_fact):
            seed.append(("f", i, i % n_cust, (i * 3) % n_part,
                         (i * 7) % 50 + 1, i % 5 + 1, "I", lsn))
            lsn += 1
        model_apply(seed)
        dims_b, fact_b = route(seed)
        apply_batch(spark, state, 0, dims_b, fact_b,
                    max_live_partials=CAP, spec=spec)

        times = []
        jobs = []
        sc = spark.sparkContext
        for ep in range(1, n_small + 1):
            rows = []
            rows.append(("c", (ep * 7) % n_cust,
                         (ep + 1) % N_GRP, None, None, None, "U", lsn))
            lsn += 1
            rows.append(("p", (ep * 11) % n_part,
                         (ep + 2) % 5, None, None, None, "U", lsn))
            lsn += 1
            seen: set = set()
            for j in range(6):
                fid = (ep * 13 + j * 5) % n_fact
                if fid in seen:
                    continue
                seen.add(fid)
                if (ep + j) % 6 == 5:
                    rows.append(("f", fid, None, None, None, None, "D", lsn))
                else:
                    rows.append(("f", fid, (fid + ep) % n_cust,
                                 (fid * 3 + ep) % n_part,
                                 (fid * 7 + ep * 3) % 50 + 1,
                                 fid % 5 + 1, "U", lsn))
                lsn += 1
            model_apply(rows)
            dims_b, fact_b = route(rows)
            # per-trigger Spark JOB count (r16 verdict item 6): tag the
            # batch with a job group and count what it submitted
            tag = f"jivm_star_ep{ep}_{uuid.uuid4().hex[:6]}"
            sc.setLocalProperty("spark.jobGroup.id", tag)
            t0 = time.monotonic()
            try:
                apply_batch(spark, state, ep, dims_b, fact_b,
                            max_live_partials=CAP, spec=spec)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            times.append(time.monotonic() - t0)
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(tag)))

        agg: dict = {}
        for cid, pid, price, qty in facts.values():
            if cid in custs and pid in parts:
                g = (custs[cid], parts[pid])
                a = agg.setdefault(g, [0, 0, 0])
                a[0] += 1
                a[1] += price * qty
                a[2] = max(a[2], price)
        want = sorted((s, b, n, rev, mx)
                      for (s, b), (n, rev, mx) in agg.items())
        got = sorted(
            (r.seg, r.brand, r.dn, r.revenue, r.max_price)
            for r in latest_view(spark, state, spec).collect()
        )
        assert got == want, (n_fact, got[:5], want[:5])

        probe = probe_by_key_list(
            read_epoch_store(spark, os.path.join(state, "fact_kv"),
                             schema=spec.fact_ddl),
            "iid", [1, 2, n_fact - 7],
        )
        scan = scan_output_rows(probe)
        mid = sorted(times)
        js = sorted(jobs)
        return {
            "state_fact_rows": n_fact,
            "n_small_batches": n_small,
            "batch_s_median": round(mid[len(mid) // 2], 3),
            "batch_s_p90": round(mid[int(len(mid) * 0.9)], 3),
            "jobs_per_batch_median": js[len(js) // 2],
            "probe_scan_rows_3keys": scan,
            "answers_match_recompute": True,
        }
    finally:
        shutil.rmtree(base, ignore_errors=True)


def star_compare() -> int:
    from postgresql_cdc_spark.session import get_spark

    _use_soak_geometry()
    spark = get_spark("join-ivm-star-compare")
    out = {}
    for n in (5_000, 50_000):
        print(f"  star: seeding {n} fact rows + 40 small batches ...",
              file=sys.stderr, flush=True)
        out[n] = _star_run(spark, n)
    small, big = out[5_000], out[50_000]
    out["median_ratio_10x_state"] = round(
        big["batch_s_median"] / small["batch_s_median"], 2
    )
    out["probe_scan_ratio_10x_state"] = round(
        big["probe_scan_rows_3keys"] / max(1, small["probe_scan_rows_3keys"]),
        2,
    )
    print(json.dumps({"join_ivm_star_compare": out}, indent=2))
    return 0


# --- chained-snowflake (view composition) scale comparison (--chain-compare) --
# Pins r16's stacked-view claim: the per-batch cost of BOTH hops (the
# composite dim view C x N, its delta->changelog adaptation, and the
# downstream fact view) must not pick up an O(|state|) term.

_CHAIN_DDL = "tab string, k long, a long, b long, op string, lsn long"


def _chain_specs():
    # the SHIPPED spec pair (kernel-side since the r16 review moved it
    # out of the plans registry), so the soak measures exactly the shape
    # the gate drives
    from postgresql_cdc_spark.streaming.join_ivm import chain_spec_pair

    return chain_spec_pair()


def _chain_run(spark, n_ord: int, n_small: int = 40) -> dict:
    import tempfile as _tf

    from pyspark.sql import functions as F

    from postgresql_cdc_spark.streaming.join_ivm import (
        apply_chain_batch,
        latest_view,
    )

    comp_spec, fact_spec = _chain_specs()
    n_cus = max(12, n_ord // 10)
    n_nat = 8
    base = _tf.mkdtemp(prefix=f"jivm_chain_{uuid.uuid4().hex[:8]}_")
    comp_state = os.path.join(base, "comp")
    fact_state = os.path.join(base, "fact")
    os.makedirs(comp_state)
    os.makedirs(fact_state)
    nats: dict = {}
    custs: dict = {}
    facts: dict = {}

    def route(rows):
        df = spark.createDataFrame(rows, _CHAIN_DDL)
        n = df.where(F.col("tab") == "n").select(
            F.col("k").alias("nk"), F.col("a").cast("int").alias("region"),
            "op", "lsn")
        c = df.where(F.col("tab") == "c").select(
            F.col("k").alias("cid"), F.col("a").alias("nk"),
            F.col("b").cast("int").alias("seg"), "op", "lsn")
        f = df.where(F.col("tab") == "f").select(
            F.col("k").alias("oid"), F.col("a").alias("cid"),
            F.col("b").cast("int").alias("amount"), "op", "lsn")
        return n, c, f

    def model_apply(rows):
        for tab, k, a, b, op, _ in rows:
            d = {"n": nats, "c": custs, "f": facts}[tab]
            if op == "D":
                d.pop(k, None)
            else:
                d[k] = a if tab == "n" else (a, b)

    def stacked_apply(bid, rows):
        n_b, c_b, f_b = route(rows)
        apply_chain_batch(
            spark,
            [(comp_state, comp_spec, c_b), (fact_state, fact_spec, f_b)],
            bid, top_d_batch=n_b,
            max_live_partials=CAP,
        )

    try:
        lsn = 10
        seed = []
        for i in range(n_nat):
            seed.append(("n", i, i % 3, None, "I", lsn))
            lsn += 1
        for i in range(n_cus):
            seed.append(("c", i, i % n_nat, i % N_GRP, "I", lsn))
            lsn += 1
        for i in range(n_ord):
            seed.append(("f", i, i % n_cus, (i * 7) % 50 + 1, "I", lsn))
            lsn += 1
        model_apply(seed)
        stacked_apply(0, seed)

        times = []
        for ep in range(1, n_small + 1):
            rows = []
            # one nation re-region (the cascade case: every customer of
            # that nation regroups downstream), one customer re-nation,
            # six order touches — constant size per batch
            rows.append(("n", (ep * 3) % n_nat, (ep + 1) % 3, None,
                         "U", lsn))
            lsn += 1
            rows.append(("c", (ep * 7) % n_cus, (ep + 1) % n_nat,
                         (ep + 1) % N_GRP, "U", lsn))
            lsn += 1
            seen: set = set()
            for j in range(6):
                oid = (ep * 13 + j * 5) % n_ord
                if oid in seen:
                    continue
                seen.add(oid)
                if (ep + j) % 6 == 5:
                    rows.append(("f", oid, None, None, "D", lsn))
                else:
                    rows.append(("f", oid, (oid + ep) % n_cus,
                                 (oid * 7 + ep * 3) % 50 + 1, "U", lsn))
                lsn += 1
            model_apply(rows)
            t0 = time.monotonic()
            stacked_apply(ep, rows)
            times.append(time.monotonic() - t0)

        agg: dict = {}
        for cid, amount in facts.values():
            if cid in custs and custs[cid][0] in nats:
                g = (custs[cid][1], nats[custs[cid][0]])
                a = agg.setdefault(g, [0, 0])
                a[0] += 1
                a[1] += amount
        want = sorted((s, r, n, t) for (s, r), (n, t) in agg.items())
        got = sorted(
            (r.seg, r.region, r.dn, r.total)
            for r in latest_view(spark, fact_state, fact_spec).collect()
        )
        assert got == want, (n_ord, got[:5], want[:5])

        mid = sorted(times)
        return {
            "state_order_rows": n_ord,
            "n_small_batches": n_small,
            "batch_s_median": round(mid[len(mid) // 2], 3),
            "batch_s_p90": round(mid[int(len(mid) * 0.9)], 3),
            "answers_match_recompute": True,
        }
    finally:
        shutil.rmtree(base, ignore_errors=True)


def chain_compare() -> int:
    from postgresql_cdc_spark.session import get_spark

    _use_soak_geometry()
    spark = get_spark("join-ivm-chain-compare")
    out = {}
    for n in (5_000, 50_000):
        print(f"  chain: seeding {n} order rows + 40 small batches ...",
              file=sys.stderr, flush=True)
        out[n] = _chain_run(spark, n)
    out["median_ratio_10x_state"] = round(
        out[50_000]["batch_s_median"] / out[5_000]["batch_s_median"], 2
    )
    print(json.dumps({"join_ivm_chain_compare": out}, indent=2))
    return 0


def _distinct_run(spark, n_keys: int, n_small: int = 40) -> dict:
    """COUNT(DISTINCT)/MAX over a high-cardinality group domain driven
    through the REAL kernel path (apply_batch with a support-bearing
    spec): measures per-trigger support rows written, batch seconds and
    Spark job counts (O(|batch|) per trigger)."""
    import tempfile as _tf

    from pyspark.sql import functions as F

    from postgresql_cdc_spark.streaming.join_ivm import (
        JoinViewSpec,
        apply_batch,
        latest_view,
    )

    DDL = "id long, cust long, v int, op string, lsn long"
    spec = JoinViewSpec(
        fact_ddl=DDL,
        fact_key="id",
        fact_payload=("cust", "v"),
        group_cols=("cust",),
        measures=(("dq", "v"),),
        extrema=(("max_v", "max", "v", "int"),),
        distincts=(("n_v", "v", "int"),),
    )
    prefix = spec.supp_tables[0][0]
    base = _tf.mkdtemp(prefix=f"jivm_dx_{uuid.uuid4().hex[:8]}_")
    state = os.path.join(base, "state")
    os.makedirs(state)
    model: dict[int, int] = {}
    sc = spark.sparkContext

    def apply(ep: int, rows: list) -> tuple[float, int, int]:
        for _id, v in rows:
            model[_id] = v
        batch = spark.createDataFrame(
            [(i, i // 4, v, "U" if ep else "I", 1000 + ep * 1_000_000 + k)
             for k, (i, v) in enumerate(rows)],
            DDL,
        )
        tag = f"jivm_dx_ep{ep}_{uuid.uuid4().hex[:6]}"
        sc.setLocalProperty("spark.jobGroup.id", tag)
        t0 = time.monotonic()
        try:
            apply_batch(spark, state, ep, None, batch, spec=spec)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        dt = time.monotonic() - t0
        n_jobs = len(sc.statusTracker().getJobIdsForGroup(tag))
        written = (
            spark.read
            .schema(spec.supp_ddl("int") + ", ingest_epoch int")
            .parquet(os.path.join(state, f"{prefix}_es"))
            .where(F.col("ingest_epoch") == ep)
            .count()
        )
        return dt, written, n_jobs

    try:
        apply(0, [(i, (i * 7) % 13) for i in range(n_keys)])
        times, written, jobs = [], [], []
        for ep in range(1, n_small + 1):
            upd = [((ep * 13 + j * 7) % n_keys, (ep * 3 + j) % 50)
                   for j in range(10)]
            t, w, nj = apply(ep, upd)
            times.append(t)
            written.append(w)
            jobs.append(nj)

        agg: dict[int, list[int]] = {}
        for i, v in model.items():
            agg.setdefault(i // 4, []).append(v)
        want = sorted(
            (c, len(vs), sum(vs), max(vs), len(set(vs)))
            for c, vs in agg.items()
        )
        got = sorted(
            (r.cust, r.dn, r.dq, r.max_v, r.n_v)
            for r in latest_view(spark, state, spec).collect()
        )
        assert got == want, (n_keys, got[:5], want[:5])
        ts, ws, js = sorted(times), sorted(written), sorted(jobs)
        return {
            "support_domain_rows": n_keys,
            "batch_s_median": round(ts[len(ts) // 2], 3),
            "supp_rows_written_median": ws[len(ws) // 2],
            "jobs_per_batch_median": js[len(js) // 2],
        }
    finally:
        shutil.rmtree(base, ignore_errors=True)


def distinct_compare() -> int:
    """r16 verdict item 1's done bar: at 10x the support domain, the
    per-trigger support writes must stay ~1.0x (each trigger writes only
    the batch's grouped deltas)."""
    from postgresql_cdc_spark.session import get_spark

    spark = get_spark("join-ivm-distinct-compare")
    out: dict = {}
    for n in (500, 5_000):
        print(f"  {n} support rows ...", file=sys.stderr, flush=True)
        out[n] = _distinct_run(spark, n)
    out["supp_rows_ratio_10x"] = round(
        out[5_000]["supp_rows_written_median"]
        / max(1, out[500]["supp_rows_written_median"]), 2,
    )
    out["batch_s_ratio_10x"] = round(
        out[5_000]["batch_s_median"] / out[500]["batch_s_median"], 2,
    )
    print(json.dumps({"join_ivm_distinct_compare": out}, indent=2))
    return 0


def hicard_compare() -> int:
    from postgresql_cdc_spark.session import get_spark

    spark = get_spark("join-ivm-hicard-compare")
    out: dict = {}
    for n in (500, 5_000):
        print(f"  {n} groups ...", file=sys.stderr, flush=True)
        out[n] = _hicard_run(spark, n)
    out["rows_ratio_10x_groups"] = round(
        out[5_000]["sums_rows_written_median"]
        / max(1, out[500]["sums_rows_written_median"]), 2,
    )
    out["batch_s_ratio_10x_groups"] = round(
        out[5_000]["batch_s_median"] / out[500]["batch_s_median"], 2,
    )
    print(json.dumps({"join_ivm_hicard_compare": out}, indent=2))
    return 0


if __name__ == "__main__":
    if "--scale-compare" in sys.argv:
        raise SystemExit(scale_compare())
    if "--hicard-compare" in sys.argv:
        raise SystemExit(hicard_compare())
    if "--distinct-compare" in sys.argv:
        raise SystemExit(distinct_compare())
    if "--batch-compare" in sys.argv:
        raise SystemExit(batch_compare())
    if "--star-compare" in sys.argv:
        raise SystemExit(star_compare())
    if "--chain-compare" in sys.argv:
        raise SystemExit(chain_compare())
    raise SystemExit(main())
