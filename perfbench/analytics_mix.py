"""analytics_mix: one client running a fixed query mix, closed loop, over
seeded synthetic tables.

The plan builders, the dedup, similarity, text and as-of operators and the
session config do the work, with no source or sink: the no-change control
for changes to the CDC path. ``cdc_pricing_after_replay`` adds a read of
state materialized from a change log.
"""

from __future__ import annotations

import os
import time

from perfbench import stats, tables
from perfbench.metrics import MIX_QUERIES

SCALE = 0.005   # lineitem rows = 6,000,000 * SCALE
MIN_PASSES = 2


def _spark_counts(sc, group: str) -> tuple[int, int]:
    """Jobs and tasks Spark ran under one job group."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = 0
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        for sid in (info.stageIds if info else ()):
            st = tracker.getStageInfo(sid)
            tasks += st.numTasks if st else 0
    return len(jobs), tasks


def _oracle_check(ctx, sf_dir: str, collected: dict) -> None:
    """Each query's DuckDB twin from the registry, compared the way
    tools/check_correctness.py compares: row count, column names, dtype
    families and an order-insensitive value hash."""
    import duckdb

    from postgresql_cdc_spark.plans import QUERIES
    from tools import check_correctness as cc

    con = duckdb.connect()
    for t in cc.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(sf_dir, t)}.parquet')")
    for name, (sdf, rows) in collected.items():
        sql = QUERIES[name].oracle
        if sql is None:
            continue
        try:
            cur = con.execute(sql)
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
            otypes = con.execute(
                f"SELECT * FROM ({sql}) LIMIT 0").fetch_arrow_table().schema
        except Exception as e:  # noqa: BLE001 - an oracle error is a failure
            ctx.op(False, f"{name}: oracle error {e!r:.200}")
            continue
        problems = []
        if len(rows) != len(orows):
            problems.append(f"rows {len(rows)} vs oracle {len(orows)}")
        if sorted(sdf.columns) != sorted(ocols):
            problems.append("column names differ")
        else:
            problems += cc.dtype_mismatches(sdf, otypes)
        if not problems and (cc.table_fingerprint(sdf.columns, rows)[0]
                             != cc.table_fingerprint(ocols, orows)[0]):
            problems.append("values differ")
        ctx.op(not problems, f"{name}: {'; '.join(problems)}")
    con.close()


def _prepare(ctx) -> tuple[str, dict]:
    """Generate the tables and run each query once, collected: the warm-up
    pass, whose rows the oracle check compares after timing."""
    from postgresql_cdc_spark.plans import QUERIES

    spark, tracer = ctx.spark, ctx.tracer
    sf_dir = os.path.join(ctx.work, "tables")
    with tracer.span("gen.tables"):
        tables.write_tables(sf_dir, ctx.seed, SCALE)
    collected = {}
    with tracer.span("warmup"):
        for name in MIX_QUERIES:
            try:
                sdf = QUERIES[name].spark(spark, sf_dir)
                collected[name] = (sdf, [tuple(r) for r in sdf.collect()])
            except Exception as e:  # noqa: BLE001 - counted, run goes on
                ctx.op(False, f"{name}: {e!r:.300}")
            finally:
                spark.catalog.clearCache()
    return sf_dir, collected


def _pass(ctx, sf_dir: str, p: int, on: bool, per_query: dict,
          counts: dict) -> float:
    """One sequential pass over the mix; returns its wall time."""
    from postgresql_cdc_spark.plans import QUERIES

    spark, tracer = ctx.spark, ctx.tracer
    sc = spark.sparkContext
    t_pass = time.perf_counter()
    with tracer.span("mix.pass", on=on):
        for name in MIX_QUERIES:
            group = f"mix-{p}-{name}"
            sc.setJobGroup(group, name)
            try:
                with tracer.span(f"query.{name}", on=on):
                    t = time.perf_counter()
                    (QUERIES[name].spark(spark, sf_dir).write
                     .format("noop").mode("overwrite").save())
                    per_query.setdefault(name, []).append(
                        time.perf_counter() - t)
                ctx.op(True)
            except Exception as e:  # noqa: BLE001
                ctx.op(False, f"{name}: {e!r:.300}")
            finally:
                spark.catalog.clearCache()
            if on:
                counts[name] = _spark_counts(sc, group)
    sc.setJobGroup("perfbench", "")
    return time.perf_counter() - t_pass


def _query_layers(ctx, per_query: dict, counts: dict) -> None:
    for name in MIX_QUERIES:
        if per_query.get(name):
            ctx.layer[f"query.{name}_s"] = stats.median(per_query[name])
        jobs, tasks = counts.get(name, (0, 0))
        ctx.layer[f"spark.jobs.{name}"] = jobs
        ctx.layer[f"spark.tasks.{name}"] = tasks


def query_layers(ctx) -> float:
    """The mix's per-layer numbers from one traced pass, for a traced run
    of another workload; returns the pass time (``mix_s``)."""
    sf_dir, collected = _prepare(ctx)
    per_query: dict = {}
    counts: dict = {}
    mix_s = _pass(ctx, sf_dir, 0, True, per_query, counts)
    with ctx.tracer.span("check.oracle"):
        _oracle_check(ctx, sf_dir, collected)
    _query_layers(ctx, per_query, counts)
    return mix_s


def run(ctx) -> None:
    sf_dir, collected = _prepare(ctx)
    ctx.setup_done()
    passes: dict[bool, list[float]] = {True: [], False: []}
    per_query: dict = {}
    counts: dict = {}
    deadline = time.perf_counter() + ctx.seconds
    p = 0
    while p < MIN_PASSES or time.perf_counter() < deadline:
        on = ctx.trace and p % 4 in (0, 3)  # see backfill_replay
        passes[on].append(_pass(ctx, sf_dir, p, on, per_query, counts))
        p += 1

    with ctx.tracer.span("check.oracle"):
        _oracle_check(ctx, sf_dir, collected)

    primary = passes[ctx.trace] or passes[False]
    mix_s = stats.median(primary)
    latencies = [t for ts in per_query.values() for t in ts]
    ctx.e2e["throughput_per_s"] = len(MIX_QUERIES) / mix_s
    ctx.e2e["latency_p50_ms"] = stats.median(latencies) * 1e3
    ctx.metric("mix_s", mix_s, "s",
               f"median of {len(primary)} passes over {len(MIX_QUERIES)} "
               f"queries, lineitem {int(6_000_000 * SCALE)} rows")
    ctx.metric("query_p50_ms", stats.median(latencies) * 1e3, "ms",
               f"{len(latencies)} query runs")
    if ctx.trace:
        _query_layers(ctx, per_query, counts)
        if passes[True] and passes[False]:
            ctx.layer["trace.overhead_pct"] = 100 * (
                stats.median(passes[True]) / stats.median(passes[False]) - 1)
