"""The metrics the benchmark reports: names, units, better direction, and
for each per-layer metric the end-to-end metric it should move.
BENCHMARK.json lists the same metrics; a test keeps the two equal."""

from __future__ import annotations

# name, unit, better, bound. setup_s gets the largest bound: a run sets up
# once, so its spread is wider. Every workload reports all four; what the
# throughput and latency measure depends on the workload (README.md):
#   backfill_replay  replay_events_per_s  / replay pass time
#   live_tail        catchup_events_per_s / freshness_p50_ms
#   analytics_mix    queries per second   / per-query latency p50
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("throughput_per_s", "1/s", "higher", 0.24),
    ("latency_p50_ms", "ms", "lower", 0.24),
    ("peak_rss_mb", "MB", "lower", 0.24),
]

MIX_QUERIES = (
    "q1_pricing_summary", "q3_shipping_priority", "q18_large_volume_orders",
    "window_topk_orders_per_customer", "events_sessionize",
    "asof_purchase_to_signup", "cdc_pricing_after_replay",
    "pg_numeric_arrays", "pg_string_arrays", "text_token_stats",
    "dedup_minhash_lsh", "dedup_simhash", "sim_topk_ivf", "text_bm25_topk",
    "hybrid_rrf_fusion",
)

# name, unit, better, the end-to-end metric (by its workload name) it moves.
# A layer idle on a workload reports 0 there.
PER_LAYER = [
    ("session.get_spark_s", "s", "lower", "setup_s"),
    ("pgoutput.msgs", "count", "higher", "replay_events_per_s"),
    ("pgoutput.decode_us_per_msg", "us", "lower", "replay_events_per_s"),
    ("source.replay_read_s", "s", "lower", "replay_events_per_s"),
    ("source.rows_per_s", "rows/s", "higher",
     "replay_events_per_s, catchup_events_per_s"),
    ("source.latest_offset_ms_p50", "ms", "lower", "freshness_p50_ms"),
    ("source.latest_offset_ms_p90", "ms", "lower", "freshness_p50_ms"),
    ("source.archive_chunks_end", "count", "lower", "freshness_p50_ms"),
    ("source.archive_bytes_end", "B", "lower", "freshness_p50_ms"),
    ("relay.frames", "count", "higher", "freshness_p90_ms validity"),
    ("relay.flushes", "count", "lower", "freshness_p90_ms validity"),
    ("gen.lag_ms_p99", "ms", "lower", "freshness_p90_ms validity"),
    ("gen.behind", "bool", "lower", "freshness_p90_ms validity"),
    ("microbatch.count", "count", "higher", "freshness_p50_ms"),
    ("microbatch.rows_p50", "rows", "higher", "catchup_events_per_s"),
    ("microbatch.trigger_ms_p50", "ms", "lower",
     "freshness_p50_ms, catchup_events_per_s"),
    ("microbatch.add_batch_ms_p50", "ms", "lower", "freshness_p50_ms"),
    ("microbatch.wal_commit_ms_p50", "ms", "lower", "freshness_p50_ms"),
    ("microbatch.commit_offsets_ms_p50", "ms", "lower", "freshness_p50_ms"),
    ("microbatch.query_planning_ms_p50", "ms", "lower", "freshness_p50_ms"),
    ("sink.ingest_ms_p50", "ms", "lower", "freshness_p50_ms"),
    ("sink.ingest_ms_p90", "ms", "lower", "freshness_p90_ms"),
    ("sink.probe_ms_p50", "ms", "lower", "point_read_p50_ms"),
    ("sink.final_state_s", "s", "lower", "point_read_p50_ms"),
    ("epoch.compactions", "count", "lower", "point_read_p50_ms"),
    ("epoch.live_partitions_end", "count", "lower", "point_read_p50_ms"),
    ("epoch.store_bytes_per_live_row", "B/row", "lower", "point_read_p50_ms"),
    ("materialize.s", "s", "lower", "replay_events_per_s"),
    ("pg_types.typed_view_s", "s", "lower", "replay_events_per_s"),
    *[(f"query.{q}_s", "s", "lower", "mix_s") for q in MIX_QUERIES],
    *[(f"spark.jobs.{q}", "count", "lower", "mix_s") for q in MIX_QUERIES],
    *[(f"spark.tasks.{q}", "count", "lower", "mix_s") for q in MIX_QUERIES],
    # the traced run's own end-to-end numbers, and what tracing cost
    ("e2e.setup_s", "s", "lower", "setup_s"),
    ("e2e.throughput_per_s", "1/s", "higher", "throughput_per_s"),
    ("e2e.latency_p50_ms", "ms", "lower", "latency_p50_ms"),
    ("e2e.peak_rss_mb", "MB", "lower", "peak_rss_mb"),
    ("trace.overhead_pct", "%", "lower", "latency_p50_ms"),
    ("trace.spans", "count", "lower", "latency_p50_ms"),
]


def result_metrics(ctx, trace: bool) -> dict:
    """The ``metrics`` object of the result line. A run that failed before
    measuring something omits that metric."""
    if not trace:
        return {n: {"value": ctx.e2e[n], "unit": u}
                for n, u, _, _ in END_TO_END if n in ctx.e2e}
    layer = dict(ctx.layer)
    for n, _, _, _ in END_TO_END:
        layer[f"e2e.{n}"] = ctx.e2e.get(n, 0.0)
    layer["trace.spans"] = len(ctx.tracer.spans)
    return {n: {"value": float(layer.get(n, 0.0)), "unit": u}
            for n, u, _, _ in PER_LAYER}
