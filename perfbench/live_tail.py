"""live_tail: a pgcdc stream into the kv sink while changes keep arriving
and a reader probes the same store.

(a) Catch-up: a backlog written before the query starts drains at a fixed
    ``maxRecordsPerBatch``; its rate bounds the sustainable input rate.
(b) Steady tail: a generator thread feeds a scheduled transport through
    ``run_wal_relay`` at a fixed rate well below the catch-up rate (open
    loop); ``foreachBatch`` calls ``ingest_kv_batch``; an open-loop reader
    runs ``probe_key_state`` for seeded keys beside it.
(c) Drain and verify: the generator stops, the stream drains, and
    ``key_state`` must equal the generator's model.

Per-batch fixed cost dominates: ``latestOffset`` over a chunk list that
grows, checkpoint commits, job scheduling and epoch-store compaction.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import threading
import time

from pyspark.sql import functions as F

from perfbench import cdcgen, stats

N_KEYS = 50_000
BACKLOG_DML = 20_000
MAX_RECORDS = 2_500      # maxRecordsPerBatch of the query
RATE = 500.0             # steady-tail DML events per second
TAIL_SHARE = 0.75        # of --seconds; the catch-up takes the rest
CHUNK_FRAMES = 100       # relay chunk size
READ_PERIOD_S = 2.0      # open-loop point reads
READ_KEYS = 16
LAG_LIMIT_S = 0.1        # generator later than this at p99: flagged
DRAIN_TIMEOUT_S = 60.0
KV_DDL = "id long, v_int int, v_text string, v_num double, op string, lsn long"


class ListTransport:
    """Replication transport over frames already in memory."""

    def __init__(self, frames: list) -> None:
        self._frames = frames

    def frames(self):
        yield from self._frames

    def ack(self, lsn: int) -> None:
        pass


class ScheduledTransport:
    """Open-loop transport: transaction ``i`` is due ``events_before_i /
    RATE`` seconds after ``t0`` and is generated and sent then, whether or
    not the pipeline keeps up. Records when each was due and when it went
    out, and the commit LSN the freshness is attributed by."""

    def __init__(self, gen: cdcgen.KvWorkload, t0: float, t_end: float,
                 rate: float) -> None:
        self.gen, self.t0, self.t_end, self.rate = gen, t0, t_end, rate
        self.due: list[float] = []
        self.sent: list[float] = []
        self.commits: list[tuple[int, float]] = []
        self.acks = 0

    def frames(self):
        events = 0
        while True:
            due = self.t0 + events / self.rate
            if due >= self.t_end:
                return
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            txn = self.gen.txn()
            self.due.append(due)
            self.sent.append(time.time())
            self.commits.append((txn.commit_lsn, due))
            events += txn.n_dml
            yield from txn.frames

    def ack(self, lsn: int) -> None:
        self.acks += 1


def _as_dict(progress) -> dict:
    """A StreamingQueryProgress as a plain dict."""
    return json.loads(progress.json) if hasattr(progress, "json") else progress


def _progress(query) -> list[dict]:
    return [_as_dict(p) for p in query.recentProgress]


def _lsn(offset) -> int:
    if offset is None:
        return -1
    if isinstance(offset, str):
        offset = json.loads(offset)
    return int(offset["lsn"])


def _batches(progress: list[dict]) -> list[dict]:
    """Micro-batches that read data, with their LSN range and end time."""
    out = []
    for p in progress:
        if not p.get("numInputRows"):
            continue
        src = p["sources"][0]
        start = dt.datetime.fromisoformat(p["timestamp"]).timestamp()
        d = p["durationMs"]
        out.append({
            "id": p["batchId"], "rows": p["numInputRows"],
            "start_lsn": _lsn(src.get("startOffset")),
            "end_lsn": _lsn(src.get("endOffset")),
            "start": start,
            "end": start + d.get("triggerExecution", 0) / 1e3,
            "d": d,
        })
    return out


def _ranges(batches: list[dict]) -> list[tuple[int, int, float]]:
    return [(b["start_lsn"], b["end_lsn"], b["end"]) for b in batches]


def _wait_for_lsn(query, lsn: int, timeout_s: float) -> bool:
    """Wait until a finished micro-batch has read up to ``lsn``."""
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        last = query.lastProgress
        if last is not None:
            src = _as_dict(last)["sources"]
            if src and _lsn(src[0].get("endOffset")) >= lsn:
                return True
        if not query.isActive:
            return False
        time.sleep(0.02)
    return False


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def _p(values, p):
    return stats.percentile(values, p) if values else 0.0


def run(ctx) -> None:
    from postgresql_cdc_spark.streaming.epoch_io import EPOCH_COL
    from postgresql_cdc_spark.streaming.epoch_maintenance import base_upto
    from postgresql_cdc_spark.streaming.join_ivm import (
        ingest_kv_batch,
        key_state,
        probe_key_state,
    )
    from postgresql_cdc_spark.streaming.source import (
        PgCdcDataSource,
        run_wal_relay,
    )

    spark, tracer, work = ctx.spark, ctx.tracer, ctx.work
    spark.dataSource.register(PgCdcDataSource)
    cols = list(cdcgen.KV)
    store_lock = threading.Lock()  # the store serves reads between writes

    def start_stream(arch: str, store: str, sink_log: dict):
        def sink(batch_df, batch_id: int) -> None:
            decoded = batch_df.select(
                *[F.element_at("columns", c).cast(t).alias(c)
                  for c, t in cdcgen.KV.items()], "op", "lsn")
            with store_lock:
                with tracer.span("sink.ingest", on=batch_id % 4 in (0, 3)):
                    t = time.perf_counter()
                    ingest_kv_batch(batch_df.sparkSession, store, "id",
                                    int(batch_id), decoded)
                    sink_log["ingest"].append(time.perf_counter() - t)
                upto = base_upto(store)
            if upto != sink_log["upto"]:
                sink_log["upto"] = upto
                sink_log["compactions"] += 1

        return (spark.readStream.format("pgcdc")
                .option("path", arch)
                .option("maxRecordsPerBatch", str(MAX_RECORDS))
                .load()
                .writeStream.foreachBatch(sink)
                .option("checkpointLocation", store + ".ckpt")
                .start())

    def new_log() -> dict:
        return {"ingest": [], "upto": 0, "compactions": 0}

    # Warm-up: the same stream and reads over a small separate archive.
    with tracer.span("warmup"):
        wgen = cdcgen.KvWorkload(ctx.seed + 1_000_003, 500)
        wframes = [wgen.stream.relation_frame]
        for _ in range(40):
            wframes.extend(wgen.txn().frames)
        warch, wstore = os.path.join(work, "warm-wal"), os.path.join(work, "warm-kv")
        run_wal_relay(ListTransport(wframes), warch, chunk_frames=CHUNK_FRAMES)
        q = start_stream(warch, wstore, new_log())
        try:
            q.processAllAvailable()
            probe_key_state(spark, wstore, KV_DDL, "id",
                            spark.createDataFrame([(1,), (2,)], "id long"),
                            before=1).collect()
            key_state(spark, wstore, KV_DDL, "id").count()
        finally:
            q.stop()

    gen = cdcgen.KvWorkload(ctx.seed, N_KEYS)
    arch, store = os.path.join(work, "wal"), os.path.join(work, "kv")
    with tracer.span("gen.backlog"):
        frames = [gen.stream.relation_frame]
        n = 0
        while n < BACKLOG_DML:
            txn = gen.txn()
            frames.extend(txn.frames)
            n += txn.n_dml
        backlog_end = frames[-1][0]
        run_wal_relay(ListTransport(frames), arch, chunk_frames=CHUNK_FRAMES)

    ctx.setup_done()
    log = new_log()
    query = start_stream(arch, store, log)
    relay_out: dict = {}
    reads: list[tuple[float, float, float]] = []  # due, done, probe seconds
    read_errors: list[str] = []
    try:
        # (a) catch-up
        with tracer.span("phase.catchup"):
            caught_up = _wait_for_lsn(query, backlog_end, DRAIN_TIMEOUT_S)
        ctx.op(caught_up, "backlog did not drain")

        # (b) steady tail, open loop
        tail_s = ctx.seconds * TAIL_SHARE
        t0 = time.time() + 0.05
        t_end = t0 + tail_s
        transport = ScheduledTransport(gen, t0, t_end, RATE)

        def relay() -> None:
            try:
                with tracer.span("relay"):
                    relay_out["frames"] = run_wal_relay(
                        transport, arch, chunk_frames=CHUNK_FRAMES)
            except Exception as e:  # noqa: BLE001 - reported below
                relay_out["error"] = e

        rrng = random.Random(ctx.seed * 7 + 1)

        def reader() -> None:
            i = 0
            while True:
                due = t0 + i * READ_PERIOD_S
                i += 1
                if due >= t_end:
                    return
                wait = due - time.time()
                if wait > 0:
                    time.sleep(wait)
                keys = [(gen.draw_key(rrng),) for _ in range(READ_KEYS)]
                try:
                    last = _as_dict(query.lastProgress)
                    with store_lock, tracer.span("sink.probe",
                                                 on=i % 4 in (0, 3)):
                        t = time.perf_counter()
                        probe_key_state(
                            spark, store, KV_DDL, "id",
                            spark.createDataFrame(keys, "id long"),
                            before=int(last["batchId"]) + 1).collect()
                        probe_s = time.perf_counter() - t
                    reads.append((due, time.time(), probe_s))
                except Exception as e:  # noqa: BLE001 - a failed read counts
                    read_errors.append(f"point read failed: {e!r:.300}")

        threads = [threading.Thread(target=relay, name="relay"),
                   threading.Thread(target=reader, name="reader")]
        with tracer.span("phase.tail"):
            for th in threads:
                th.start()
            for th in threads:
                th.join(timeout=tail_s + DRAIN_TIMEOUT_S)
        ctx.op(not any(th.is_alive() for th in threads),
               "generator or reader did not stop")
        ctx.op("error" not in relay_out,
               f"relay failed: {relay_out.get('error')!r:.300}")

        # (c) drain
        last_commit = transport.commits[-1][0] if transport.commits else backlog_end
        with tracer.span("phase.drain"):
            ctx.op(_wait_for_lsn(query, last_commit, DRAIN_TIMEOUT_S),
                   "tail did not drain")
    finally:
        query.stop()
    ctx.op(query.exception() is None, f"stream failed: {query.exception()}")

    with tracer.span("sink.final_state"):
        t = time.perf_counter()
        got = [tuple(r) for r in
               key_state(spark, store, KV_DDL, "id").select(*cols).collect()]
        final_state_s = time.perf_counter() - t
    want = gen.stream.model.typed_rows()
    ctx.op(len(got) == len(want)
           and cdcgen.content_hash(got) == cdcgen.content_hash(want),
           f"final key_state: {len(got)} rows vs {len(want)} expected, or "
           "content differs")

    # -- metrics ------------------------------------------------------------
    progress = _progress(query)
    batches = _batches(progress)
    # The query's first batch also pays its start-up; the rate is taken
    # over the batches after it.
    catch = [b for b in batches if b["start_lsn"] < backlog_end][1:]
    tail = [b for b in batches if b["start_lsn"] >= backlog_end]
    catchup_s = catch[-1]["end"] - catch[0]["start"]
    catchup_rate = sum(b["rows"] for b in catch) / catchup_s

    fresh, missing = stats.attribute_freshness(_ranges(tail),
                                               transport.commits)
    for _ in range(missing):
        ctx.op(False, "a transaction was never applied")
    ctx.attempted += len(fresh)
    fresh_ms = [f * 1e3 for f in fresh]
    p_tail = stats.supported_tail(len(fresh_ms), 90) or 50
    for what in read_errors:
        ctx.op(False, what)
    ctx.attempted += len(reads)
    read_ms = [(done - due) * 1e3 for due, done, _ in reads]
    lags = stats.lateness(transport.due, transport.sent)
    lag_p = stats.supported_tail(len(lags), 99) or 50
    lag_ms = _p(lags, lag_p) * 1e3
    behind = stats.fell_behind(lags, LAG_LIMIT_S)

    ctx.e2e["throughput_per_s"] = catchup_rate
    ctx.e2e["latency_p50_ms"] = _p(fresh_ms, 50)
    ctx.metric("catchup_events_per_s", catchup_rate, "events/s",
               f"{sum(b['rows'] for b in catch)} events in {len(catch)} "
               f"batches of <= {MAX_RECORDS}")
    ctx.metric("freshness_p50_ms", _p(fresh_ms, 50), "ms",
               f"{len(fresh_ms)} transactions at {RATE:g} events/s")
    ctx.metric("freshness_p90_ms", _p(fresh_ms, p_tail), "ms",
               f"p{p_tail:g} of {len(fresh_ms)}")
    ctx.metric("point_read_p50_ms", _p(read_ms, 50), "ms",
               f"{len(read_ms)} reads of {READ_KEYS} keys every "
               f"{READ_PERIOD_S:g} s, from when due")
    ctx.metric("gen.lag_ms_p99", lag_ms, "ms",
               f"p{lag_p:g} of {len(lags)} transactions; "
               + ("GENERATOR FELL BEHIND: freshness understated" if behind
                  else "generator kept its schedule"))

    if ctx.trace:
        layer = ctx.layer
        d = [b["d"] for b in tail]
        layer.update({
            "source.rows_per_s": catchup_rate,
            "source.latest_offset_ms_p50": _p([x.get("latestOffset", 0) for x in d], 50),
            "source.latest_offset_ms_p90": _p([x.get("latestOffset", 0) for x in d],
                                              stats.supported_tail(len(d), 90) or 50),
            "source.archive_chunks_end": sum(1 for f in os.listdir(arch)
                                             if f.endswith(".wal")),
            "source.archive_bytes_end": sum(
                os.path.getsize(os.path.join(arch, f))
                for f in os.listdir(arch) if f.endswith(".wal")),
            "relay.frames": relay_out.get("frames", 0),
            "relay.flushes": transport.acks,
            "gen.lag_ms_p99": lag_ms,
            "gen.behind": float(behind),
            "microbatch.count": len(batches),
            "microbatch.rows_p50": _p([b["rows"] for b in batches], 50),
            "microbatch.trigger_ms_p50": _p([x.get("triggerExecution", 0) for x in d], 50),
            "microbatch.add_batch_ms_p50": _p([x.get("addBatch", 0) for x in d], 50),
            "microbatch.wal_commit_ms_p50": _p([x.get("walCommit", 0) for x in d], 50),
            "microbatch.commit_offsets_ms_p50": _p([x.get("commitOffsets", 0) for x in d], 50),
            "microbatch.query_planning_ms_p50": _p([x.get("queryPlanning", 0) for x in d], 50),
            "sink.ingest_ms_p50": _p(log["ingest"], 50) * 1e3,
            "sink.ingest_ms_p90": _p(log["ingest"], stats.supported_tail(
                len(log["ingest"]), 90) or 50) * 1e3,
            "sink.probe_ms_p50": _p([p for _, _, p in reads], 50) * 1e3,
            "sink.final_state_s": final_state_s,
            "epoch.compactions": log["compactions"],
        })
        upto = base_upto(store)
        layer["epoch.live_partitions_end"] = sum(
            1 for f in os.listdir(store) if f.startswith(f"{EPOCH_COL}=")
            and int(f.split("=", 1)[1]) >= upto)
        layer["epoch.store_bytes_per_live_row"] = (
            _dir_bytes(store) / max(1, len(got)))
        # Sink spans cover half the batches (traced, untraced, untraced,
        # traced, …); the other half gives the overhead.
        on, off = ([b for b in tail if (b["id"] % 4 in (0, 3)) == traced]
                   for traced in (True, False))
        f_on, _ = stats.attribute_freshness(_ranges(on), transport.commits)
        f_off, _ = stats.attribute_freshness(_ranges(off), transport.commits)
        if f_on and f_off:
            layer["trace.overhead_pct"] = 100 * (
                stats.median(f_on) / stats.median(f_off) - 1)
