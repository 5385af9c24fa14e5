"""The Structured Streaming CDC path under the oracle gate.

Every other registry entry is a batch plan; this one runs the REAL streaming
pipeline inside the query callable — synthesized WAL archive → ``pgcdc``
streaming source (txn batching, offsets) → memory sink → materialize →
typed view — and returns the final table state. The archive derives from a
closed arithmetic form, so DuckDB computes the expected state straight from
``range()``: if the stream drops, duplicates, or mis-orders one change
event, the hash mismatches.

This is the reference's whole reason to exist (WAL → decoded rows → current
state, `CdcEngine.java` + `IntegrationTest.java`) exercised end-to-end under
the driver's correctness gate, not just in unit tests.
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession

from postgresql_cdc_spark.functions.pg_types import typed_view
from postgresql_cdc_spark.operators.materialize import materialize
from postgresql_cdc_spark.plans.registry import register
from postgresql_cdc_spark.sources.pgoutput import (
    ColumnMeta,
    Relation,
    encode_begin,
    encode_commit,
    encode_delete,
    encode_insert,
    encode_relation,
    encode_truncate,
    encode_update,
)

_REL = Relation(
    relation_id=16390,
    schema="public",
    name="accounts",
    replica_identity="d",
    columns=(
        ColumnMeta("id", 20, flags=1),
        ColumnMeta("v_int", 23),
        ColumnMeta("v_text", 1043),
    ),
)

N = 100


def _archive_frames() -> list:
    """Deterministic changelog: 10 insert-txns of 10 rows (ids 0..99,
    v_int = (i*7) %% 13), one update-txn (ids %% 5 == 0 -> v_int + 100), one
    delete-txn (ids %% 7 == 0)."""
    frames = [(1, encode_relation(_REL))]
    lsn = 10
    xid = 1
    for t in range(10):
        frames.append((lsn, encode_begin(lsn + 11, 0, xid)))
        for k in range(10):
            i = t * 10 + k
            lsn += 1
            frames.append(
                (lsn, encode_insert(
                    _REL.relation_id, [str(i), str((i * 7) % 13), f"acct-{i}"]
                ))
            )
        lsn += 1
        frames.append((lsn, encode_commit(lsn, lsn + 1, 0)))
        lsn += 1
        xid += 1
    frames.append((lsn, encode_begin(lsn + 21, 0, xid)))
    for i in range(0, N, 5):
        lsn += 1
        frames.append(
            (lsn, encode_update(
                _REL.relation_id, [str(i), str((i * 7) % 13 + 100), f"acct-{i}"]
            ))
        )
    lsn += 1
    frames.append((lsn, encode_commit(lsn, lsn + 1, 0)))
    lsn += 1
    xid += 1
    frames.append((lsn, encode_begin(lsn + 16, 0, xid)))
    for i in range(0, N, 7):
        lsn += 1
        frames.append(
            (lsn, encode_delete(_REL.relation_id, [str(i), None, None]))
        )
    lsn += 1
    frames.append((lsn, encode_commit(lsn, lsn + 1, 0)))
    return frames


def _build_archive(path: str) -> None:
    from postgresql_cdc_spark.streaming.source import write_wal_archive

    write_wal_archive(path, _archive_frames())


def _append_txn(frames: list, rows: list, lsn: int, xid: int) -> tuple[int, int]:
    """Append one BEGIN / rows / COMMIT transaction starting at ``lsn``;
    returns the next (lsn, xid). Keeps the envelope convention — begin's
    final_lsn = lsn + len(rows) + 1, commit at the final lsn, +1 stride —
    in ONE place for every fixture changelog (r15 review: three builders
    had carried verbatim copies)."""
    frames.append((lsn, encode_begin(lsn + len(rows) + 1, 0, xid)))
    for payload in rows:
        lsn += 1
        frames.append((lsn, payload))
    lsn += 1
    frames.append((lsn, encode_commit(lsn, lsn + 1, 0)))
    return lsn + 1, xid + 1


def _register_source(spark: SparkSession) -> None:
    from postgresql_cdc_spark.streaming.source import PgCdcDataSource

    try:
        spark.dataSource.register(PgCdcDataSource)
    except Exception:  # noqa: BLE001 - already registered in this session
        pass


def _drain_bounded(q, timeout_s: float = 180.0) -> None:
    """Drain a started micro-batch StreamingQuery, bounded and loud.

    ``processAllAvailable`` has no native timeout, so it runs on a watchdog
    thread: a wedged source or stateful operator fails ONE query with
    TimeoutError instead of stalling the whole gated round. The thread's
    exception is captured and re-raised — a query that died mid-stream must
    surface its StreamingQueryException, never return partial committed
    batches as success."""
    import threading

    done = threading.Event()
    err: list[BaseException] = []

    def drain():
        try:
            q.processAllAvailable()
        except BaseException as e:  # noqa: BLE001 — re-raised on main thread
            err.append(e)
        finally:
            done.set()

    th = threading.Thread(target=drain, daemon=True)
    try:
        th.start()
        if not done.wait(timeout_s):
            raise TimeoutError(
                f"micro-batch replay did not drain in {timeout_s}s"
            )
        if err:
            raise err[0]
        if q.exception() is not None:
            raise q.exception()
    finally:
        q.stop()
        th.join(15)


def _sink_to_memory(spark: SparkSession, stream, base: str,
                    available_now: bool, timeout_s: float = 180.0,
                    output_mode: str = "append") -> DataFrame:
    """Run an already-built streaming DataFrame into a memory sink and return
    the sink table — the shared tail of every gate query, so sink wiring,
    trigger policy, and the hang guard live in exactly one place.

    Both trigger modes are bounded by ``timeout_s`` via ``_drain_bounded`` /
    ``awaitTermination``."""
    sink = f"cdc_gate_{uuid.uuid4().hex[:12]}"
    writer = (
        stream.writeStream.format("memory")
        .queryName(sink)
        .outputMode(output_mode)
        .option("checkpointLocation", os.path.join(base, "ckpt"))
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        try:
            if not q.awaitTermination(timeout_s):
                raise TimeoutError(f"streaming replay did not finish in {timeout_s}s")
        finally:
            q.stop()
    else:
        q = writer.start()
        _drain_bounded(q, timeout_s)
    return spark.table(sink)


def _run_stream_to_memory(spark: SparkSession, arch: str, base: str,
                          transform=None, max_records: int | None = None,
                          options: dict | None = None) -> DataFrame:
    """readStream(pgcdc) → optional transform → memory sink; returns the
    sink table.

    Default: whole archive as ONE batch under Trigger.AvailableNow (option
    readall). With ``max_records``, the source chunks into real micro-batches
    (txn-aligned, ``maxRecordsPerBatch``) under the default trigger —
    required when the transform's semantics only show up ACROSS batches
    (watermark advancement, cross-batch state)."""
    _register_source(spark)
    reader = spark.readStream.format("pgcdc").option("path", arch)
    for k, v in (options or {}).items():
        reader = reader.option(k, str(v))
    if max_records is None:
        reader = reader.option("readall", "true")  # AvailableNow: one batch
    else:
        reader = reader.option("maxRecordsPerBatch", str(max_records))
    stream = reader.load()
    if transform is not None:
        stream = transform(stream)
    return _sink_to_memory(spark, stream, base, available_now=max_records is None)


@register(
    "cdc_stream_end_to_end",
    f"""
    SELECT i AS id,
           CAST(CASE WHEN i % 5 = 0 THEN (i * 7) % 13 + 100
                     ELSE (i * 7) % 13 END AS INT) AS v_int,
           'acct-' || CAST(i AS VARCHAR) AS v_text
    FROM range({N}) t(i)
    WHERE i % 7 <> 0
    """,
    doc="Full streaming CDC pipeline under the gate: WAL archive -> pgcdc "
        "streaming source -> memory sink -> materialize -> typed view, "
        "against a closed-form oracle. Runs a real StreamingQuery "
        "(Trigger.AvailableNow) inside the callable.",
)
def cdc_stream_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    run = uuid.uuid4().hex[:12]
    base = tempfile.mkdtemp(prefix=f"pgcdc_gate_{run}_")
    arch = os.path.join(base, "wal")
    _build_archive(arch)

    log = _run_stream_to_memory(spark, arch, base)
    state = materialize(log, keys=["id"], merge_sparse=False)
    return typed_view(
        state, {"id": "bigint", "v_int": "int", "v_text": "string"}, keep=()
    )


_DEDUP_REL = Relation(
    relation_id=16391,
    schema="public",
    name="docs",
    replica_identity="d",
    columns=(
        ColumnMeta("id", 20, flags=1),
        ColumnMeta("content_key", 1043),
        ColumnMeta("payload", 1043),
    ),
)


@register(
    "cdc_stream_stateful_dedup",
    """
    SELECT 'k' || CAST(i AS VARCHAR) AS content_key,
           i AS first_id,
           'p' || CAST(i AS VARCHAR) AS payload
    FROM range(20) t(i)
    """,
    doc="Stateful streaming exact-dedup (applyInPandasWithState) under the "
        "gate: 60 inserts carry 20 content keys three times each across six "
        "transactions; the keyed state store must emit exactly the first "
        "occurrence of each key — closed-form oracle over range(20).",
)
def cdc_stream_stateful_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from postgresql_cdc_spark.streaming.stateful import dedup_stream

    run = uuid.uuid4().hex[:12]
    base = tempfile.mkdtemp(prefix=f"pgcdc_dd_{run}_")
    arch = os.path.join(base, "wal")

    from postgresql_cdc_spark.streaming.source import write_wal_archive

    frames = [(1, encode_relation(_DEDUP_REL))]
    lsn, xid = 10, 1
    for t in range(6):  # 6 txns x 10 rows; key k(i%20) repeats 3x overall
        frames.append((lsn, encode_begin(lsn + 11, 0, xid)))
        for k in range(10):
            i = t * 10 + k
            lsn += 1
            frames.append(
                (lsn, encode_insert(
                    _DEDUP_REL.relation_id,
                    [str(i), f"k{i % 20}", f"p{i % 20}"],
                ))
            )
        lsn += 1
        frames.append((lsn, encode_commit(lsn, lsn + 1, 0)))
        lsn += 1
        xid += 1
    write_wal_archive(arch, frames)

    def dedup(stream):
        keyed = stream.withColumn(
            "content_key", F.element_at("columns", "content_key")
        )
        return dedup_stream(keyed, ["content_key"], order_col="lsn")

    out = _run_stream_to_memory(spark, arch, base, transform=dedup)
    return out.select(
        "content_key",
        F.element_at("columns", "id").cast("long").alias("first_id"),
        F.element_at("columns", "payload").alias("payload"),
    )


@register(
    "cdc_stream_schema_evolution",
    """
    SELECT i AS id,
           CAST((i * 3) % 17 AS INT) AS v_int,
           CASE WHEN i >= 50 THEN 'n' || CAST(i AS VARCHAR) END AS v_note
    FROM range(100) t(i)
    """,
    doc="Mid-stream schema evolution under the gate: the RELATION message is "
        "re-sent with an added column between two insert transactions "
        "(PostgreSQL re-sends RELATION on DDL; the registry self-updates, "
        "`PgWalMessageDecoder.java:65-99` parity). Rows decoded before the "
        "change surface the new column as NULL through the sparse envelope "
        "map; rows after carry it.",
)
def cdc_stream_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from postgresql_cdc_spark.streaming.source import write_wal_archive

    rel_v1 = Relation(
        relation_id=16392, schema="public", name="accounts_v",
        replica_identity="d",
        columns=(ColumnMeta("id", 20, flags=1), ColumnMeta("v_int", 23)),
    )
    rel_v2 = Relation(
        relation_id=16392, schema="public", name="accounts_v",
        replica_identity="d",
        columns=(ColumnMeta("id", 20, flags=1), ColumnMeta("v_int", 23),
                 ColumnMeta("v_note", 1043)),
    )

    run = uuid.uuid4().hex[:12]
    base = tempfile.mkdtemp(prefix=f"pgcdc_se_{run}_")
    arch = os.path.join(base, "wal")

    frames = [(1, encode_relation(rel_v1))]
    lsn = 10
    frames.append((lsn, encode_begin(lsn + 51, 0, 1)))
    for i in range(50):
        lsn += 1
        frames.append((lsn, encode_insert(
            rel_v1.relation_id, [str(i), str((i * 3) % 17)])))
    lsn += 1
    frames.append((lsn, encode_commit(lsn, lsn + 1, 0)))
    lsn += 1
    frames.append((lsn, encode_relation(rel_v2)))  # DDL: column added
    lsn += 1
    frames.append((lsn, encode_begin(lsn + 51, 0, 2)))
    for i in range(50, 100):
        lsn += 1
        frames.append((lsn, encode_insert(
            rel_v2.relation_id, [str(i), str((i * 3) % 17), f"n{i}"])))
    lsn += 1
    frames.append((lsn, encode_commit(lsn, lsn + 1, 0)))
    write_wal_archive(arch, frames)

    log = _run_stream_to_memory(spark, arch, base)
    state = materialize(log, keys=["id"], merge_sparse=False)
    return typed_view(
        state, {"id": "bigint", "v_int": "int", "v_note": "string"}, keep=()
    )


@register(
    "cdc_stream_multibatch",
    f"""
    SELECT i AS id,
           CAST(CASE WHEN i % 5 = 0 THEN (i * 7) % 13 + 100
                     ELSE (i * 7) % 13 END AS INT) AS v_int,
           'acct-' || CAST(i AS VARCHAR) AS v_text
    FROM range({N}) t(i)
    WHERE i % 7 <> 0
    """,
    doc="The MULTI-batch streaming path under the gate: same archive and "
        "oracle as cdc_stream_end_to_end, but maxRecordsPerBatch=30 forces "
        "several micro-batches, so offset advancement, txn-aligned "
        "chunking, and per-batch flush-LSN acks all sit on the verified "
        "path (the single-batch variant never exercises them).",
)
def cdc_stream_multibatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from postgresql_cdc_spark.streaming.source import PgCdcDataSource

    try:
        spark.dataSource.register(PgCdcDataSource)
    except Exception:  # noqa: BLE001 - already registered in this session
        pass

    run = uuid.uuid4().hex[:12]
    base = tempfile.mkdtemp(prefix=f"pgcdc_mb_{run}_")
    arch = os.path.join(base, "wal")
    _build_archive(arch)

    sink = f"cdc_gate_{run}"
    q = (
        spark.readStream.format("pgcdc")
        .option("path", arch)
        .option("maxRecordsPerBatch", "30")
        .load()
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .start()
    )
    _drain_bounded(q)

    log = spark.table(sink)
    state = materialize(log, keys=["id"], merge_sparse=False)
    return typed_view(
        state, {"id": "bigint", "v_int": "int", "v_text": "string"}, keep=()
    )


# --- stream-stream join ------------------------------------------------------

_AUDIT_REL = Relation(
    relation_id=16392,
    schema="public",
    name="audits",
    replica_identity="d",
    columns=(
        ColumnMeta("id", 20, flags=1),
        ColumnMeta("auditor", 1043),
    ),
)

# Event-time base for the synthetic streams: changes at minute i, audits 30s
# later — every audit lands inside its change's 1-minute join window.
_T0_MS = 1_700_000_000_000


def _build_join_archives(arch_a: str, arch_b: str) -> None:
    """Two deterministic single-table archives: stream A inserts accounts
    0..N-1 (one txn each); stream B audits every 3rd id."""
    from postgresql_cdc_spark.streaming.source import write_wal_archive

    frames_a = [(1, encode_relation(_REL))]
    lsn = 10
    for i in range(N):
        frames_a.append((lsn, encode_begin(lsn + 2, 0, 1000 + i)))
        frames_a.append((lsn + 1, encode_insert(
            _REL.relation_id, [str(i), str((i * 7) % 13), f"acct-{i}"]
        )))
        frames_a.append((lsn + 2, encode_commit(lsn + 2, lsn + 3, 0)))
        lsn += 3
    write_wal_archive(arch_a, frames_a)

    frames_b = [(1, encode_relation(_AUDIT_REL))]
    lsn = 10
    for i in range(0, N, 3):
        frames_b.append((lsn, encode_begin(lsn + 2, 0, 2000 + i)))
        frames_b.append((lsn + 1, encode_insert(
            _AUDIT_REL.relation_id, [str(i), f"aud-{i % 7}"]
        )))
        frames_b.append((lsn + 2, encode_commit(lsn + 2, lsn + 3, 0)))
        lsn += 3
    write_wal_archive(arch_b, frames_b)


@register(
    "cdc_stream_stream_join",
    f"""
    SELECT i AS id,
           CAST((i * 7) % 13 AS INT) AS v_int,
           'aud-' || CAST(i % 7 AS VARCHAR) AS auditor,
           CAST(30000 AS BIGINT) AS lag_ms
    FROM range({N}) t(i)
    WHERE i % 3 = 0
    """,
    doc="Watermarked stream-stream inner join under the gate: TWO pgcdc "
        "streaming sources (account changes; audit events for every 3rd id) "
        "each derive an event-time from their payload, carry a 2-minute "
        "watermark, and join on id with the audit constrained to a 1-minute "
        "window after the change — Spark's symmetric-hash streaming join "
        "with watermark-driven state eviction, the operator a CDC "
        "enrichment topology needs. Closed-form oracle: exactly the id%3 "
        "audits match, each 30s after its change.",
)
def cdc_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    _register_source(spark)
    run = uuid.uuid4().hex[:12]
    base = tempfile.mkdtemp(prefix=f"pgcdc_ssj_{run}_")
    arch_a = os.path.join(base, "wal_a")
    arch_b = os.path.join(base, "wal_b")
    _build_join_archives(arch_a, arch_b)

    def read(arch):
        return (
            spark.readStream.format("pgcdc")
            .option("path", arch)
            .option("readall", "true")
            .load()
        )

    # event time derives from the payload id: change at minute i, audit 30s
    # after — the typed projection happens BEFORE the join so the join state
    # holds skinny rows, and each side gets its own watermark.
    ch_id = F.element_at("columns", "id").cast("long")
    changes = (
        read(arch_a)
        .select(
            ch_id.alias("id"),
            F.element_at("columns", "v_int").cast("int").alias("v_int"),
            F.timestamp_millis(F.lit(_T0_MS) + ch_id * 60_000).alias("ch_ts"),
        )
        .withWatermark("ch_ts", "2 minutes")
    )
    au_id = F.element_at("columns", "id").cast("long")
    audits = (
        read(arch_b)
        .select(
            au_id.alias("a_id"),
            F.element_at("columns", "auditor").alias("auditor"),
            F.timestamp_millis(
                F.lit(_T0_MS) + au_id * 60_000 + 30_000
            ).alias("au_ts"),
        )
        .withWatermark("au_ts", "2 minutes")
    )
    joined = changes.join(
        audits,
        (F.col("id") == F.col("a_id"))
        & (F.col("au_ts") >= F.col("ch_ts"))
        & (F.col("au_ts") <= F.col("ch_ts") + F.expr("INTERVAL 1 MINUTE")),
        "inner",
    ).select(
        "id", "v_int", "auditor",
        (F.unix_millis("au_ts") - F.unix_millis("ch_ts")).alias("lag_ms"),
    )

    return _sink_to_memory(spark, joined, base, available_now=True)


@register(
    "cdc_stream_dedup_within_watermark",
    f"""
    SELECT i AS id,
           CAST((i * 7) % 13 AS INT) AS v_int
    FROM range({N}) t(i)
    """,
    doc="At-least-once replay deduplicated by Spark's native "
        "dropDuplicatesWithinWatermark under REAL micro-batching "
        "(maxRecordsPerBatch=25): one adjacent duplicate exercises the "
        "same-batch path, and a crash-replay tail re-ships ids 88..99 in a "
        "LATER batch — those still inside the advanced watermark dedup via "
        "cross-batch state, the older ones drop as late data; every path "
        "must yield exactly-once delivery. Built-in twin of the "
        "applyInPandasWithState dedup (cdc_stream_stateful_dedup), state "
        "evicted by watermark instead of TTL. Closed-form oracle: one row "
        "per id.",
)
def cdc_stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from postgresql_cdc_spark.streaming.source import write_wal_archive

    run = uuid.uuid4().hex[:12]
    base = tempfile.mkdtemp(prefix=f"pgcdc_ddw_{run}_")
    arch = os.path.join(base, "wal")

    def insert_txn(frames, lsn, xid, i):
        frames.append((lsn, encode_begin(lsn + 2, 0, xid)))
        frames.append((lsn + 1, encode_insert(
            _REL.relation_id, [str(i), str((i * 7) % 13), f"acct-{i}"]
        )))
        frames.append((lsn + 2, encode_commit(lsn + 2, lsn + 3, 0)))
        return lsn + 3

    frames = [(1, encode_relation(_REL))]
    lsn = 10
    for i in range(N):
        lsn = insert_txn(frames, lsn, 3000 + i, i)
        if i == 0:  # adjacent duplicate: same-micro-batch dedup path
            lsn = insert_txn(frames, lsn, 3000 + i, i)
    # crash-replay tail: the relay re-ships the last unacked chunk AFTER the
    # originals, so these duplicates arrive in a later micro-batch; by then
    # the watermark has advanced past the older ones (late-data drop) while
    # the newest still dedup via cross-batch state.
    for i in range(88, N):
        lsn = insert_txn(frames, lsn, 4000 + i, i)
    write_wal_archive(arch, frames)

    rid = F.element_at("columns", "id").cast("long")

    def dedup(stream):
        return (
            stream.select(
                rid.alias("id"),
                F.element_at("columns", "v_int").cast("int").alias("v_int"),
                F.timestamp_millis(F.lit(_T0_MS) + rid * 60_000).alias("ts"),
            )
            .withWatermark("ts", "2 minutes")
            .dropDuplicatesWithinWatermark(["id"])
            .select("id", "v_int")
        )

    return _run_stream_to_memory(spark, arch, base, transform=dedup,
                                 max_records=25)


@register(
    "cdc_stream_static_enrich",
    f"""
    SELECT i AS id,
           CAST((i * 7) % 13 AS INT) AS v_int,
           n_name
    FROM range({N}) t(i) JOIN nation ON i % 25 = n_nationkey
    """,
    doc="Stream-static enrichment join under the gate: the pgcdc change "
        "stream's INSERT image joins a static `nation` dimension (broadcast "
        "hash join — the dimension re-reads per micro-batch, so small dims "
        "must broadcast, never shuffle the stream). This is the canonical "
        "CDC enrichment topology: change stream + slowly-changing reference "
        "table, no stream-stream state needed. Closed-form oracle: every "
        "insert id keyed to nation by id % 25.",
)
def cdc_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    run = uuid.uuid4().hex[:12]
    base = tempfile.mkdtemp(prefix=f"pgcdc_enrich_{run}_")
    arch = os.path.join(base, "wal")
    _build_archive(arch)

    nation = spark.read.parquet(os.path.join(sf_dir, "nation.parquet")).select(
        F.col("n_nationkey").cast("long").alias("n_nationkey"), "n_name"
    )

    def enrich(stream):
        inserts = stream.where(F.col("op") == "I").select(
            F.element_at("columns", "id").cast("long").alias("id"),
            F.element_at("columns", "v_int").cast("int").alias("v_int"),
        )
        return inserts.join(
            F.broadcast(nation), inserts["id"] % 25 == nation["n_nationkey"]
        ).select("id", "v_int", "n_name")

    return _run_stream_to_memory(spark, arch, base, transform=enrich)


@register(
    "cdc_foreachbatch_upsert",
    f"""
    SELECT i AS id,
           CAST(CASE WHEN i % 5 = 0 THEN (i * 7) % 13 + 100
                     ELSE (i * 7) % 13 END AS INT) AS v_int,
           'acct-' || CAST(i AS VARCHAR) AS v_text
    FROM range({N}) t(i)
    WHERE i % 7 <> 0
    """,
    doc="foreachBatch incremental-upsert sink under REAL micro-batches "
        "(maxRecordsPerBatch=25, txn-aligned), over the r14 DELTA-BACKED "
        "state: each batch writes ONLY its own latest-wins-collapsed rows "
        "(delete tombstones included) as an ingest_epoch partition, "
        "collapsed in Arrow on the driver and renamed in as one fsynced "
        "parquet file (kv_store.ingest_kv_batch), and the materialized "
        "table is the per-key latest-LSN resolution over the base fold plus "
        "live partials — the idempotent MERGE pattern on a plain object "
        "store, what Delta/Iceberg do transactionally, with maybe_compact "
        "folding old epochs behind a manifest so live partials stay bounded "
        "at any stream age (previously every batch rewrote the FULL state "
        "as state_v<bid> and old versions were never swept — the r13 "
        "verdict's unbounded-growth finding). Replay contract: a crashed "
        "attempt's own partition is replaced wholesale by its replay's "
        "overwrite, and a checkpoint restart reconstructs purely from disk. "
        "The final resolved state must equal the one-shot materialization. "
        "Scale: per-batch write is O(|batch|); the resolve is one window "
        "keyed by pk — at 100 TB the store is bucketed by key so the "
        "resolve co-locates without a full shuffle. Same closed-form "
        "oracle as cdc_stream_end_to_end.",
)
def cdc_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:

    from pyspark.sql import functions as F

    from postgresql_cdc_spark.streaming.kv_store import (
        ingest_kv_batch,
        key_state,
    )

    _register_source(spark)
    run = uuid.uuid4().hex[:12]
    base = tempfile.mkdtemp(prefix=f"pgcdc_upsert_{run}_")
    arch = os.path.join(base, "wal")
    _build_archive(arch)
    store = os.path.join(base, "state_kv")
    DDL = "id long, v_int int, v_text string, op string, lsn long"

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        decoded = batch_df.select(
            F.element_at("columns", "id").cast("long").alias("id"),
            F.element_at("columns", "v_int").cast("int").alias("v_int"),
            F.element_at("columns", "v_text").alias("v_text"),
            "op", "lsn",
        )
        ingest_kv_batch(
            batch_df.sparkSession, store, "id", int(batch_id), decoded
        )

    stream = (
        spark.readStream.format("pgcdc")
        .option("path", arch)
        .option("maxRecordsPerBatch", "25")
        .load()
    )
    q = (
        stream.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .start()
    )
    _drain_bounded(q)

    if not os.path.isdir(store):
        raise RuntimeError("no micro-batch reached the upsert sink")
    return key_state(spark, store, DDL, "id").select("id", "v_int", "v_text")


# One oracle + one streaming pipeline shared by BOTH output-mode variants:
# only the sink differs, so a window-alignment change cannot drift them apart.
_WINDOWED_COUNTS_ORACLE = f"""
    SELECT CAST(({_T0_MS} + i * 60000) // 600000 * 600000 AS BIGINT)
               AS win_start_ms,
           count(*) AS n_inserts
    FROM range({N}) t(i)
    GROUP BY win_start_ms
"""


def _windowed_insert_counts(spark: SparkSession, base: str):
    """Fresh archive + the shared event-time windowed insert-count stream:
    tumbling 10-minute windows over the insert ops, real micro-batches
    (maxRecordsPerBatch=25) so aggregation state carries across batches."""
    from pyspark.sql import functions as F

    _register_source(spark)
    arch = os.path.join(base, "wal")
    _build_archive(arch)

    rid = F.element_at("columns", "id").cast("long")
    return (
        spark.readStream.format("pgcdc")
        .option("path", arch)
        .option("maxRecordsPerBatch", "25")
        .load()
        .where(F.col("op") == "I")
        .select(
            F.timestamp_millis(F.lit(_T0_MS) + rid * 60_000).alias("ts")
        )
        .groupBy(F.window("ts", "10 minutes").alias("win"))
        .agg(F.count(F.lit(1)).alias("n_inserts"))
        .select(
            F.unix_millis(F.col("win.start")).alias("win_start_ms"),
            "n_inserts",
        )
    )


@register(
    "cdc_stream_agg_complete",
    _WINDOWED_COUNTS_ORACLE,
    doc="Streaming windowed aggregation in COMPLETE output mode under real "
        "micro-batches (maxRecordsPerBatch=25): event-time tumbling 10-minute "
        "windows over the insert stream, aggregation state carried across "
        "batches and the full result re-emitted each batch — the memory-sink "
        "table after the final batch must equal the batch group-by. Fills the "
        "output-mode matrix cell the append-mode gate queries don't touch "
        "(complete keeps all window state: the dashboard topology, viable "
        "when window cardinality is bounded; unbounded keys belong in append "
        "mode with a watermark, gated in events_* and the dedup queries).",
)
def cdc_stream_agg_complete(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = tempfile.mkdtemp(prefix=f"pgcdc_aggc_{uuid.uuid4().hex[:12]}_")
    stream = _windowed_insert_counts(spark, base)
    return _sink_to_memory(
        spark, stream, base, available_now=False, output_mode="complete"
    )


@register(
    "cdc_stream_agg_update",
    _WINDOWED_COUNTS_ORACLE,
    doc="The same windowed insert count in UPDATE output mode: each "
        "micro-batch emits ONLY the windows whose aggregate changed, and a "
        "driver-side foreachBatch upserts them last-write-wins — the "
        "incremental-dashboard topology (complete mode re-emits everything; "
        "update emits deltas, the sink owns the merge). The upserted map "
        "after the final batch must equal the batch group-by, which fails if "
        "Spark re-emits a stale aggregate or skips a changed one. The "
        "per-batch collect() is contract-small: at most the batch's distinct "
        "windows (bounded by window cardinality, not stream size).",
)
def cdc_stream_agg_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = tempfile.mkdtemp(prefix=f"pgcdc_aggu_{uuid.uuid4().hex[:12]}_")
    agg = _windowed_insert_counts(spark, base)

    current: dict[int, int] = {}

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        for row in batch_df.collect():  # ≤ distinct windows per batch
            current[row["win_start_ms"]] = row["n_inserts"]

    q = (
        agg.writeStream.outputMode("update")
        .foreachBatch(upsert)
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .start()
    )
    _drain_bounded(q)

    return spark.createDataFrame(
        sorted(current.items()), "win_start_ms bigint, n_inserts bigint"
    )


@register(
    "cdc_stream_restart_recovery",
    f"""
    SELECT i AS id,
           CAST(CASE WHEN i % 5 = 0 THEN (i * 7) % 13 + 100
                     ELSE (i * 7) % 13 END AS INT) AS v_int,
           'acct-' || CAST(i AS VARCHAR) AS v_text,
           CAST(1 + CASE WHEN i % 5 = 0 THEN 1 ELSE 0 END AS BIGINT) AS n_events
    FROM range({N}) t(i)
    WHERE i % 7 <> 0
    """,
    doc="Checkpoint recovery across a query RESTART: run one streaming query "
        "over the archive's first six txns into a parquet changelog sink, "
        "stop it, ship the remaining WAL as a second chunk, then start a NEW "
        "query on the SAME checkpoint — it must resume past the stopped "
        "query's last committed offset (relation registry replayed from the "
        "archive head). The result carries per-key n_events, so a "
        "re-delivered batch (duplicate envelope rows) or a skipped one fails "
        "the hash gate even though latest-wins materialization alone would "
        "mask duplicates. This is the restart semantics a production CDC "
        "pipeline relies on (reference analog: resume from the slot's "
        "confirmed LSN, CdcEngine.java:143-159).",
)
def cdc_stream_restart_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:

    from pyspark.sql import functions as F

    from postgresql_cdc_spark.streaming.source import write_wal_archive

    _register_source(spark)
    run = uuid.uuid4().hex[:12]
    base = tempfile.mkdtemp(prefix=f"pgcdc_restart_{run}_")
    arch = os.path.join(base, "wal")
    ckpt = os.path.join(base, "ckpt")
    sink_dir = os.path.join(base, "changelog")

    frames = _archive_frames()
    commit_idx = [i for i, (_, p) in enumerate(frames) if p[:1] == b"C"]
    cut = commit_idx[5] + 1  # txn boundary after the 6th insert txn

    def run_once() -> None:
        stream = (
            spark.readStream.format("pgcdc")
            .option("path", arch)
            .option("maxRecordsPerBatch", "25")
            .load()
        )
        q = (
            stream.writeStream.foreachBatch(
                lambda b, bid: b.write.mode("append").parquet(sink_dir)
            )
            .option("checkpointLocation", ckpt)
            .start()
        )
        _drain_bounded(q)

    write_wal_archive(arch, frames[:cut], chunk="000000.wal")
    run_once()  # first query: six txns, then a clean stop
    write_wal_archive(arch, frames[cut:], chunk="000001.wal")
    run_once()  # NEW query, same checkpoint: must resume, not replay

    log = spark.read.parquet(sink_dir)
    state = materialize(log, keys=["id"], merge_sparse=False)
    typed = typed_view(
        state, {"id": "bigint", "v_int": "int", "v_text": "string"}, keep=()
    )
    counts = (
        log.select(F.element_at("columns", "id").cast("long").alias("id"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return typed.join(counts, "id").select("id", "v_int", "v_text", "n_events")


_ROUTE_AUDIT_REL = Relation(
    relation_id=16393,
    schema="public",
    name="audit",
    replica_identity="d",
    columns=(
        ColumnMeta("id", 20, flags=1),
        ColumnMeta("note", 1043),
    ),
)


@register(
    "cdc_multi_table_routing",
    f"""
    SELECT 'accounts' AS tab, i AS id,
           CAST(CASE WHEN i % 3 = 0 THEN (i * 7) % 13 + 7
                     ELSE (i * 7) % 13 END AS VARCHAR) AS v
    FROM range({N}) t(i)
    UNION ALL
    SELECT 'audit', i, 'note-' || CAST(i AS VARCHAR)
    FROM range({N}) t(i) WHERE i % 2 = 0 AND i % 5 <> 0
    """,
    doc="TWO relations interleaved in the SAME WAL stream (accounts + audit, "
        "events mixed within transactions): the relation registry must "
        "dispatch each tuple to its own schema, and materialize partitions "
        "state by (table, key) so the per-table current states come out of "
        "ONE shuffle over the combined changelog — the multi-table topology "
        "every real publication produces (reference analog: relation-id "
        "dispatch, PgWalMessageDecoder.java:65-99). Accounts get updates "
        "(ids %3), audits get deletes (ids %5); each table's typed view "
        "must land exactly its own rows.",
)
def cdc_multi_table_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from postgresql_cdc_spark.streaming.source import write_wal_archive

    run = uuid.uuid4().hex[:12]
    base = tempfile.mkdtemp(prefix=f"pgcdc_multi_{run}_")
    arch = os.path.join(base, "wal")

    frames = [(1, encode_relation(_REL)), (2, encode_relation(_ROUTE_AUDIT_REL))]
    lsn = 10
    xid = 100
    for t in range(10):
        frames.append((lsn, encode_begin(lsn + 25, 0, xid)))
        for k in range(10):
            i = t * 10 + k
            lsn += 1
            frames.append((lsn, encode_insert(
                _REL.relation_id, [str(i), str((i * 7) % 13), f"acct-{i}"]
            )))
            if i % 2 == 0:  # audit rows interleave inside the same txn
                lsn += 1
                frames.append((lsn, encode_insert(
                    _ROUTE_AUDIT_REL.relation_id, [str(i), f"note-{i}"]
                )))
        lsn += 1
        frames.append((lsn, encode_commit(lsn, lsn + 1, 0)))
        lsn += 1
        xid += 1
    frames.append((lsn, encode_begin(lsn + 55, 0, xid)))
    for i in range(0, N, 3):
        lsn += 1
        frames.append((lsn, encode_update(
            _REL.relation_id, [str(i), str((i * 7) % 13 + 7), f"acct-{i}"]
        )))
    for i in range(0, N, 5):
        if i % 2 == 0:
            lsn += 1
            frames.append((lsn, encode_delete(
                _ROUTE_AUDIT_REL.relation_id, [str(i), None]
            )))
    lsn += 1
    frames.append((lsn, encode_commit(lsn, lsn + 1, 0)))
    write_wal_archive(arch, frames)

    log = _run_stream_to_memory(spark, arch, base)
    state = materialize(log, keys=["id"], merge_sparse=False)
    # per-table fan-out through the consumer surface's demux helper
    # (filter on (table, schema) + typed view), not ad-hoc filters — this
    # gates consumer.demux itself (CdcConsumer per-table dispatch analog)
    from postgresql_cdc_spark.streaming.consumer import demux

    acct = demux(state, "accounts", {"id": "bigint", "v_int": "int"}).select(
        F.lit("accounts").alias("tab"), "id",
        F.col("v_int").cast("string").alias("v"),
    )
    audit = demux(state, "audit", {"id": "bigint", "note": "string"}).select(
        F.lit("audit").alias("tab"), "id", F.col("note").alias("v")
    )
    return acct.unionByName(audit)


@register(
    "cdc_restart_with_evolution",
    f"""
    SELECT i AS id,
           CAST((i * 3) % 17 AS INT) AS v_int,
           CASE WHEN i >= 50 THEN 'n' || CAST(i AS VARCHAR) END AS v_note
    FROM range({N}) t(i)
    """,
    doc="Schema evolution ACROSS a checkpointed restart — the production "
        "scenario where a DDL deploy lands while the pipeline is down: the "
        "first query consumes the v1-schema txn (id, v_int) and stops "
        "cleanly; the WAL shipped while it was offline carries the re-sent "
        "RELATION with an added column plus v2-schema inserts; the restarted "
        "query must resume past the checkpointed offset AND pick up the "
        "evolved registry (replayed from the archive head, "
        "PgWalMessageDecoder.java:65-99 parity). Pre-DDL rows surface the "
        "new column as NULL through the sparse envelope; post-DDL rows carry "
        "it. Composes cdc_stream_schema_evolution x cdc_stream_restart_"
        "recovery, whose behaviors only meet in this order of events.",
)
def cdc_restart_with_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from postgresql_cdc_spark.streaming.source import write_wal_archive

    rel_v1 = Relation(
        relation_id=16394, schema="public", name="accounts_rv",
        replica_identity="d",
        columns=(ColumnMeta("id", 20, flags=1), ColumnMeta("v_int", 23)),
    )
    rel_v2 = Relation(
        relation_id=16394, schema="public", name="accounts_rv",
        replica_identity="d",
        columns=(ColumnMeta("id", 20, flags=1), ColumnMeta("v_int", 23),
                 ColumnMeta("v_note", 1043)),
    )

    _register_source(spark)
    run = uuid.uuid4().hex[:12]
    base = tempfile.mkdtemp(prefix=f"pgcdc_rve_{run}_")
    arch = os.path.join(base, "wal")
    ckpt = os.path.join(base, "ckpt")
    sink_dir = os.path.join(base, "changelog")

    def run_once() -> None:
        stream = (
            spark.readStream.format("pgcdc")
            .option("path", arch)
            .option("maxRecordsPerBatch", "25")
            .load()
        )
        q = (
            stream.writeStream.foreachBatch(
                lambda b, bid: b.write.mode("append").parquet(sink_dir)
            )
            .option("checkpointLocation", ckpt)
            .start()
        )
        _drain_bounded(q)

    frames = [(1, encode_relation(rel_v1))]
    lsn = 10
    frames.append((lsn, encode_begin(lsn + 51, 0, 1)))
    for i in range(50):
        lsn += 1
        frames.append((lsn, encode_insert(
            rel_v1.relation_id, [str(i), str((i * 3) % 17)])))
    lsn += 1
    frames.append((lsn, encode_commit(lsn, lsn + 1, 0)))
    write_wal_archive(arch, frames, chunk="000000.wal")
    run_once()  # consumes the v1-schema txn, stops cleanly

    # shipped while the pipeline was down: DDL (re-sent RELATION) + v2 rows
    frames2 = []
    lsn += 1
    frames2.append((lsn, encode_relation(rel_v2)))
    lsn += 1
    frames2.append((lsn, encode_begin(lsn + 51, 0, 2)))
    for i in range(50, N):
        lsn += 1
        frames2.append((lsn, encode_insert(
            rel_v2.relation_id, [str(i), str((i * 3) % 17), f"n{i}"])))
    lsn += 1
    frames2.append((lsn, encode_commit(lsn, lsn + 1, 0)))
    write_wal_archive(arch, frames2, chunk="000001.wal")
    run_once()  # NEW query: resume + evolved registry

    log = spark.read.parquet(sink_dir)
    state = materialize(log, keys=["id"], merge_sparse=False)
    return typed_view(
        state,
        {"id": "bigint", "v_int": "int", "v_note": "string"}, keep=(),
    )


@register(
    "cdc_txn_stats_report",
    """
    SELECT CAST(x + 1 AS BIGINT) AS txn_id,
           CAST(10 AS BIGINT) AS n_events,
           CAST(10 AS BIGINT) AS n_inserts,
           CAST(0 AS BIGINT) AS n_updates,
           CAST(0 AS BIGINT) AS n_deletes,
           CAST(11 + 12 * x AS BIGINT) AS first_lsn,
           CAST(20 + 12 * x AS BIGINT) AS last_lsn
    FROM range(10) t(x)
    UNION ALL
    SELECT 11, 20, 0, 20, 0, 131, 150
    UNION ALL
    SELECT 12, 15, 0, 0, 15, 153, 167
    """,
    doc="Per-transaction batch summary (op counts + LSN span) over the "
        "archive via the BATCH pgcdc reader — the distributed analog of "
        "inspecting a CdcConsumer handleBatch list (CdcConsumer.java:5-11), "
        "and the oracle gate for consumer.txn_stats, previously unit-only. "
        "Every txn boundary, count, and LSN is pinned against the closed "
        "arithmetic form of the archive builder: one mis-attributed event "
        "or off-by-one LSN fails the hash.",
)
def cdc_txn_stats_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from postgresql_cdc_spark.streaming.consumer import txn_stats

    _register_source(spark)
    base = tempfile.mkdtemp(prefix=f"pgcdc_txns_{uuid.uuid4().hex[:12]}_")
    arch = os.path.join(base, "wal")
    _build_archive(arch)
    log = spark.read.format("pgcdc").option("path", arch).load()
    return txn_stats(log)


@register(
    "cdc_relay_roundtrip",
    f"""
    SELECT i AS id,
           CAST(CASE WHEN i % 5 = 0 THEN (i * 7) % 13 + 100
                     ELSE (i * 7) % 13 END AS INT) AS v_int,
           'acct-' || CAST(i AS VARCHAR) AS v_text
    FROM range({N}) t(i)
    WHERE i % 7 <> 0
    """,
    doc="The relay leg of the production topology under the gate: a "
        "transport (the replication socket's seam — frames()/ack()) drains "
        "through run_wal_relay into rotating archive chunks (chunk_frames="
        "37, so multiple chunks exercise the name-order==LSN-order replay "
        "contract), each acked only after fsync (at-least-once, "
        "CdcEngine.java:132-137); the archive then streams through the "
        "pgcdc source and materializes to the same closed-form oracle as "
        "the direct-archive query. The relay mis-chunking, dropping, or "
        "re-ordering one frame fails the hash; an in-query assertion pins "
        "the final ack at the last frame's LSN.",
)
def cdc_relay_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from postgresql_cdc_spark.streaming.source import run_wal_relay

    run = uuid.uuid4().hex[:12]
    base = tempfile.mkdtemp(prefix=f"pgcdc_relay_{run}_")
    arch = os.path.join(base, "wal")
    frames = _archive_frames()

    class _SeamTransport:
        """Minimal transport seam (what LiveReplicationTransport exposes):
        an LSN-framed iterator plus the flush ack."""

        def __init__(self) -> None:
            self.acked: list[int] = []

        def frames(self):
            return iter(frames)

        def ack(self, lsn: int) -> None:
            self.acked.append(lsn)

    t = _SeamTransport()
    n = run_wal_relay(t, arch, chunk_frames=37)
    if n != len(frames):
        raise RuntimeError(f"relay frame count {n} != {len(frames)}")
    if not t.acked or t.acked[-1] != frames[-1][0]:
        raise RuntimeError(f"final ack {t.acked[-1:]} != last frame lsn")

    log = _run_stream_to_memory(spark, arch, base)
    state = materialize(log, keys=["id"], merge_sparse=False)
    return typed_view(
        state, {"id": "bigint", "v_int": "int", "v_text": "string"}, keep=()
    )


@register(
    "cdc_snapshot_handover",
    f"""
    SELECT i AS id,
           CAST(CASE WHEN i % 5 = 0 THEN (i * 7) % 13 + 100
                     ELSE (i * 7) % 13 END AS INT) AS v_int,
           'acct-' || CAST(i AS VARCHAR) AS v_text,
           CAST((CASE WHEN i >= 50 THEN 1 ELSE 0 END)
                + (CASE WHEN i % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_stream_events
    FROM range({N}) t(i)
    WHERE i % 7 <> 0
    """,
    doc="Initial-snapshot + stream handover (the Debezium bootstrap "
        "topology; reference has no snapshot phase): a consistent snapshot "
        "taken at the 5th txn's commit LSN becomes op='R' envelope rows at "
        "that LSN; the stream starts with option startLsn=S, so the archive "
        "rows the snapshot already reflects are never re-consumed even "
        "though they are still on disk. The result carries per-key "
        "n_stream_events (0 for keys only the snapshot saw), so an ignored "
        "startLsn — which latest-image materialization alone would mask, "
        "CDC merge being idempotent — inflates the counts and fails the "
        "hash. Closed-form oracle: inserts past the snapshot are ids >= 50; "
        "updates touch ids % 5 = 0; deletes (ids % 7 = 0) drop out.",
)
def cdc_snapshot_handover(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    run = uuid.uuid4().hex[:12]
    base = tempfile.mkdtemp(prefix=f"pgcdc_snap_{run}_")
    arch = os.path.join(base, "wal")
    frames = _archive_frames()
    _build_archive(arch)

    # The snapshot's consistent point: the commit LSN of the 5th insert
    # transaction (payload tag 'C' is protocol-fixed, pgoutput commit).
    commit_lsns = [lsn for lsn, payload in frames if payload[:1] == b"C"]
    snap_lsn = commit_lsns[4]

    # The snapshot itself = table state as of snap_lsn (ids 0..49, insert
    # images only), shipped as op='R' envelope rows AT the snapshot LSN —
    # any streamed change (lsn > snap_lsn) outranks it in the merge, any
    # untouched key keeps its snapshot image.
    snap = spark.range(0, N // 2).select(
        F.lit("R").alias("op"),
        F.lit("public").alias("schema"),
        F.lit("accounts").alias("table"),
        F.lit(_REL.relation_id).cast("int").alias("relation_id"),
        F.lit(snap_lsn).cast("long").alias("lsn"),
        F.lit(-1).cast("long").alias("txn_id"),
        F.create_map(
            F.lit("id"), F.col("id").cast("string"),
            F.lit("v_int"), ((F.col("id") * 7) % 13).cast("int").cast("string"),
            F.lit("v_text"), F.concat(F.lit("acct-"), F.col("id").cast("string")),
        ).alias("columns"),
    )

    log = _run_stream_to_memory(
        spark, arch, base, options={"startLsn": snap_lsn}
    )
    counts = (
        log.select(F.element_at("columns", "id").cast("long").alias("id"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_stream_events"))
    )
    state = materialize(
        snap.unionByName(log), keys=["id"], merge_sparse=False
    )
    view = typed_view(
        state, {"id": "bigint", "v_int": "int", "v_text": "string"}, keep=()
    )
    return view.join(counts, "id", "left").select(
        "id", "v_int", "v_text",
        F.coalesce("n_stream_events", F.lit(0).cast("long")).alias(
            "n_stream_events"
        ),
    )


@register(
    "cdc_stream_scd2_history",
    f"""
    WITH base AS (SELECT i,
                         11 + 12 * (i // 10) + (i % 10) AS ins_lsn,
                         131 + i // 5 AS upd_lsn,
                         153 + i // 7 AS del_lsn,
                         (i * 7) % 13 AS v0
                  FROM range({N}) t(i)),
    v1 AS (SELECT i AS id,
                  CAST(ins_lsn AS BIGINT) AS valid_from_lsn,
                  CAST(CASE WHEN i % 5 = 0 THEN upd_lsn
                            WHEN i % 7 = 0 THEN del_lsn END AS BIGINT)
                    AS valid_to_lsn,
                  CAST(v0 AS INT) AS v_int
           FROM base),
    v2 AS (SELECT i AS id,
                  CAST(upd_lsn AS BIGINT),
                  CAST(CASE WHEN i % 7 = 0 THEN del_lsn END AS BIGINT),
                  CAST(v0 + 100 AS INT)
           FROM base WHERE i % 5 = 0),
    hist AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
    SELECT id, valid_from_lsn, valid_to_lsn,
           valid_to_lsn IS NULL AS is_current, v_int
    FROM hist
    """,
    doc="Streaming CDC -> SCD Type-2 dimension history: the pgcdc stream "
        "(txn-aligned micro-batches) lands each batch's decoded events in "
        "an append-only changelog table via foreachBatch (at-least-once: "
        "a restartable deployment would add a batch_id-keyed overwrite like "
        "the upsert sinks above; this one-shot gate run cannot replay) and "
        "version "
        "validity intervals derive from the accumulated log with ONE lead "
        "window per key (DELETEs close the open version and emit no row). "
        "The oracle is the CLOSED FORM of the archive's LSN schedule "
        "(inserts 11+12t+k, updates 131+i/5, deletes 153+i/7), so a drift "
        "anywhere in source batching, append plumbing, or the window "
        "derivation breaks the hash.",
)
def cdc_stream_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    hist = _scd2_hist_from_stream(spark, "scd2")
    return hist.select(
        "id",
        "valid_from_lsn",
        "valid_to_lsn",
        F.col("valid_to_lsn").isNull().alias("is_current"),
        "v_int",
    )


def _scd2_hist_from_stream(spark: SparkSession, tag: str) -> DataFrame:
    """The shared CDC->SCD2 pipeline of the scd2-history and asof-dimension
    gates: build the standard archive, land each txn-aligned micro-batch in
    an append-only changelog via foreachBatch, then derive validity
    intervals with ONE per-key LEAD window (DELETEs close the open version
    and emit no row). Returns (id, valid_from_lsn, valid_to_lsn, v_int)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    _register_source(spark)
    run = uuid.uuid4().hex[:12]
    base = tempfile.mkdtemp(prefix=f"pgcdc_{tag}_{run}_")
    arch = os.path.join(base, "wal")
    log_dir = os.path.join(base, "changelog")
    _build_archive(arch)

    def land(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.select(
            F.element_at("columns", "id").cast("long").alias("id"),
            F.element_at("columns", "v_int").cast("int").alias("v_int"),
            "op", "lsn",
        ).write.mode("append").parquet(log_dir)

    stream = (
        spark.readStream.format("pgcdc")
        .option("path", arch)
        .option("maxRecordsPerBatch", "25")
        .load()
    )
    q = (
        stream.writeStream.foreachBatch(land)
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .start()
    )
    _drain_bounded(q)

    log = spark.read.schema("id long, v_int int, op string, lsn long").parquet(
        log_dir
    )
    w = Window.partitionBy("id").orderBy("lsn")
    return (
        log.withColumn("valid_to_lsn", F.lead("lsn").over(w))
        .where(F.col("op") != "D")
        .select(
            "id",
            F.col("lsn").alias("valid_from_lsn"),
            "valid_to_lsn",
            "v_int",
        )
    )


@register(
    "cdc_stream_asof_dimension",
    f"""
    WITH base AS (SELECT i,
                         11 + 12 * (i // 10) + (i % 10) AS ins_lsn,
                         131 + i // 5 AS upd_lsn,
                         153 + i // 7 AS del_lsn,
                         (i * 7) % 13 AS v0
                  FROM range({N}) t(i))
    SELECT i AS id, CAST(ins_lsn AS BIGINT) AS t_lsn,
           CAST(v0 AS INT) AS v_int
    FROM base
    UNION ALL
    SELECT i, CAST(152 AS BIGINT),
           CAST(CASE WHEN i % 5 = 0 THEN v0 + 100 ELSE v0 END AS INT)
    FROM base
    UNION ALL
    SELECT i, CAST(400 AS BIGINT),
           CAST(CASE WHEN i % 7 = 0 THEN NULL
                     WHEN i % 5 = 0 THEN v0 + 100
                     ELSE v0 END AS INT)
    FROM base
    """,
    doc="AS-OF join against the STREAM-MATERIALIZED SCD2 dimension — the "
        "two operators composed the way a warehouse actually uses them: "
        "the pgcdc stream lands txn-aligned micro-batches via foreachBatch, "
        "validity intervals derive with one per-key LEAD window "
        "(cdc_stream_scd2_history's pipeline), and then fact probes pick "
        "the version valid AT their timestamp via the backward as-of "
        "join (operators/asof.py, one shared sort — no per-probe scans) "
        "with the SCD2 validity check layered on top: a backward match "
        "whose valid_to has passed means the entity was DELETED at probe "
        "time and must surface as NULL, not as the stale last version. "
        "Probes hit the nasty spots: exactly AT the insert LSN (validity "
        "is from-inclusive), after all updates (updated ids show v0+100), "
        "and after all deletes (i % 7 = 0 ids must be NULL). Closed-form "
        "oracle from the archive's LSN schedule.",
)
def cdc_stream_asof_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from postgresql_cdc_spark.operators.asof import asof_join

    hist = _scd2_hist_from_stream(spark, "asofd")
    ids = spark.range(N).select(F.col("id"))
    probes = ids.select(
        "id",
        F.explode(
            F.array(
                (11 + 12 * F.expr("id div 10") + F.col("id") % 10)
                .cast("long"),
                F.lit(152).cast("long"),
                F.lit(400).cast("long"),
            )
        ).alias("t_lsn"),
    )
    j = asof_join(
        probes, hist, on="id", left_time="t_lsn",
        right_time="valid_from_lsn", how="left", direction="backward",
    )
    return j.select(
        "id",
        "t_lsn",
        F.when(
            F.col("valid_to_lsn").isNull()
            | (F.col("t_lsn") < F.col("valid_to_lsn")),
            F.col("v_int"),
        ).alias("v_int"),
    )


@register(
    "cdc_stream_ivm_group_sums",
    f"""
    WITH state AS (
        SELECT i AS id,
               CAST(CASE WHEN i % 5 = 0 THEN (i * 7) % 13 + 100
                         ELSE (i * 7) % 13 END AS INT) AS v_int
        FROM range({N}) t(i)
        WHERE i % 7 <> 0)
    SELECT CAST(v_int % 3 AS INT) AS grp,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(v_int) AS BIGINT) AS total
    FROM state GROUP BY 1
    """,
    doc="STREAMING incremental view maintenance under real micro-batches "
        "(maxRecordsPerBatch=25), over the r14 delta-backed state: each "
        "foreachBatch writes ONLY its collapsed rows into the epoch-store "
        "key state and derives SIGNED row deltas from a driver-side read of "
        "prior state by the BATCH's keys (kv_store.ingest_and_delta — "
        "O(|batch|), never a full-outer join of full old vs full new "
        "state), then writes the deltas, grouped, as the batch's epoch of "
        "a (group, count, sum) epoch store (fold_epoch_store) — the "
        "running aggregate is never recomputed from history, only "
        "adjusted, and groups whose count nets zero are dropped at serve "
        "(read_folded_groups; counting IVM, the batch twin is "
        "operators/ivm.py). Lifecycle is CLOSED: maybe_compact bounds the "
        "kv store's and the sums store's live partials behind "
        "manifest-committed base folds — previously every batch rewrote "
        "the full key state and no version was ever deleted. Replay "
        "contract: every prior-state read "
        "resolves STRICTLY BELOW the batch id and a replayed epoch's "
        "overwrite replaces its own partition, so a crashed attempt's "
        "partial writes are invisible to its replay and a checkpoint "
        "restart reconstructs from disk. The served sums must equal the "
        "grouped one-shot materialization's closed form. Scale: per-batch "
        "state I/O is O(|batch|); the sums fold writes the batch's "
        "|changed groups| rows, independent of state size.",
)
def cdc_stream_ivm_group_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    _register_source(spark)
    run = uuid.uuid4().hex[:12]
    base = tempfile.mkdtemp(prefix=f"pgcdc_ivm_{run}_")
    arch = os.path.join(base, "wal")
    _build_archive(arch)
    STATE_DDL = "id long, v_int int, op string, lsn long"
    SUMS_DDL = "grp int, dn long, dq long"
    sums_store = os.path.join(base, "sums_es")

    def ivm_batch(batch_df: DataFrame, batch_id: int) -> None:
        from postgresql_cdc_spark.streaming.join_ivm import fold_epoch_store
        from postgresql_cdc_spark.streaming.kv_store import ingest_and_delta

        ss = batch_df.sparkSession
        bid = int(batch_id)
        decoded = batch_df.select(
            F.element_at("columns", "id").cast("long").alias("id"),
            F.element_at("columns", "v_int").cast("int").alias("v_int"),
            "op", "lsn",
        )
        delta = ingest_and_delta(
            ss, os.path.join(base, "state_kv"), STATE_DDL,
            "id", ["v_int"], bid, decoded,
        )
        deltas = delta.select(
            (F.col("v_int") % 3).cast("int").alias("grp"),
            F.col("sign").cast("long").alias("dn"),
            (F.col("sign") * F.col("v_int")).cast("long").alias("dq"),
        )
        fold_epoch_store(ss, sums_store, SUMS_DDL, ["grp"], bid, deltas)

    stream = (
        spark.readStream.format("pgcdc")
        .option("path", arch)
        .option("maxRecordsPerBatch", "25")
        .load()
    )
    q = (
        stream.writeStream.foreachBatch(ivm_batch)
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .start()
    )
    _drain_bounded(q)

    from postgresql_cdc_spark.streaming.join_ivm import read_folded_groups

    if not os.path.isdir(sums_store):
        raise RuntimeError("no micro-batch reached the IVM sink")
    return read_folded_groups(
        spark, sums_store, SUMS_DDL, ["grp"], drop_when_zero="dn"
    ).select("grp", F.col("dn").alias("n_rows"), F.col("dq").alias("total"))


# --- streaming session windows -----------------------------------------------

_SESSION_WIN_ORACLE = f"""
    WITH t AS (SELECT i % 4 AS u,
                      CASE WHEN i >= 60 THEN 1 ELSE 0 END AS sid,
                      {_T0_MS} + i * 60000
                        + CASE WHEN i >= 60 THEN 3600000 ELSE 0 END AS ts_ms
               FROM range({N}) r(i))
    SELECT CAST(u AS BIGINT) AS user_id,
           CAST(MIN(ts_ms) AS BIGINT) AS session_start_ms,
           CAST(MAX(ts_ms) + 300000 AS BIGINT) AS session_end_ms,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM t GROUP BY u, sid
"""


@register(
    "cdc_stream_session_windows",
    _SESSION_WIN_ORACLE,
    doc="Streaming SESSION-window aggregation (F.session_window, the "
        "dynamic-gap window the tumbling/sliding gates don't cover): per "
        "user (id % 4), events arrive every 4 minutes — inside the "
        "5-minute gap, so each user accretes ONE growing session across "
        "micro-batches (maxRecordsPerBatch=25 forces real cross-batch "
        "session-state merges) — until a planted 1-hour jump at id 60 "
        "exceeds the gap and opens a second session per user. Append "
        "mode emits only sessions the watermark has CLOSED, so a flush "
        "event far in the future rides the stream tail to advance the "
        "watermark past every real session; it is filtered out AFTER the "
        "watermark node (the standard flush pattern: it moves event-time "
        "forward without entering the aggregation). The memory-sink "
        "table must equal the closed-form two-sessions-per-user oracle — "
        "start, end (last event + gap), event count — which fails if "
        "session merge, watermark close, or cross-batch state carry "
        "misbehaves.",
)
def cdc_stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from postgresql_cdc_spark.streaming.source import write_wal_archive

    _register_source(spark)
    base = tempfile.mkdtemp(prefix=f"pgcdc_sess_{uuid.uuid4().hex[:12]}_")
    arch = os.path.join(base, "wal")

    frames = [(1, encode_relation(_REL))]
    lsn = 10
    # Flush tail: 50 far-future events spanning >= 2 micro-batches at
    # maxRecordsPerBatch=25 — the first flush batch advances the watermark
    # past every real session END, and the batch after it is the one where
    # append mode actually emits the closed sessions (watermark updates
    # between batches; a tail that fits in ONE final batch would advance
    # the watermark with no later batch left to emit in, and
    # processAllAvailable does not wait for no-data batches).
    for i in list(range(N)) + [1_000_000 + j for j in range(50)]:
        frames.append((lsn, encode_begin(lsn + 2, 0, 7000 + i)))
        frames.append((lsn + 1, encode_insert(
            _REL.relation_id, [str(i), str((i * 7) % 13), f"acct-{i}"]
        )))
        frames.append((lsn + 2, encode_commit(lsn + 2, lsn + 3, 0)))
        lsn += 3
    write_wal_archive(arch, frames)

    rid = F.element_at("columns", "id").cast("long")
    agg = (
        spark.readStream.format("pgcdc")
        .option("path", arch)
        .option("maxRecordsPerBatch", "25")
        .load()
        .where(F.col("op") == "I")
        .select(
            rid.alias("rid"),
            (rid % 4).alias("user_id"),
            F.timestamp_millis(
                F.lit(_T0_MS) + rid * 60_000
                + F.when(rid >= 60, 3_600_000).otherwise(0)
            ).alias("ts"),
        )
        .withWatermark("ts", "10 minutes")
        # The flush rows must be dropped AFTER the watermark node — but a
        # deterministic predicate on rid alone gets pushed below
        # EventTimeWatermark by Catalyst (straight to the source), and the
        # flush rows would then never advance the watermark. Referencing
        # the event-time column pins the filter above the watermark node
        # (Spark never pushes predicates that mention the watermark
        # attribute through it); ts is never null, so the semantics are
        # exactly rid < N.
        .where((F.col("rid") < N) | F.col("ts").isNull())
        .groupBy(
            F.session_window("ts", "5 minutes").alias("win"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_millis(F.col("win.start")).alias("session_start_ms"),
            F.unix_millis(F.col("win.end")).alias("session_end_ms"),
            F.col("n_events").cast("bigint").alias("n_events"),
        )
    )
    return _sink_to_memory(spark, agg, base, available_now=False)


# --- streaming sliding windows -----------------------------------------------

_SLIDING_COUNTS_ORACLE = f"""
    WITH e AS (SELECT {_T0_MS} + i * 60000 AS t FROM range({N}) r(i)),
    w AS (SELECT (t // 300000) * 300000 AS s FROM e
          UNION ALL
          SELECT (t // 300000) * 300000 - 300000 FROM e)
    SELECT CAST(s AS BIGINT) AS win_start_ms,
           CAST(COUNT(*) AS BIGINT) AS n_inserts
    FROM w GROUP BY s
"""


@register(
    "cdc_stream_sliding_counts",
    _SLIDING_COUNTS_ORACLE,
    doc="Streaming SLIDING-window aggregation (10-minute windows every 5 "
        "minutes — the overlap case the tumbling gates don't cover: every "
        "event lands in exactly TWO windows, so state holds two live "
        "windows per slide and the sink must show both counted). Complete "
        "output mode under real micro-batches (maxRecordsPerBatch=25), "
        "aggregation state carried across batches. The oracle derives "
        "each event's two epoch-aligned window starts arithmetically — "
        "integer division, no window function — so a drift in Spark's "
        "window alignment or an event dropped from its second window "
        "fails the hash.",
)
def cdc_stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    _register_source(spark)
    base = tempfile.mkdtemp(prefix=f"pgcdc_slid_{uuid.uuid4().hex[:12]}_")
    arch = os.path.join(base, "wal")
    _build_archive(arch)

    rid = F.element_at("columns", "id").cast("long")
    agg = (
        spark.readStream.format("pgcdc")
        .option("path", arch)
        .option("maxRecordsPerBatch", "25")
        .load()
        .where(F.col("op") == "I")
        .select(
            F.timestamp_millis(F.lit(_T0_MS) + rid * 60_000).alias("ts")
        )
        .groupBy(F.window("ts", "10 minutes", "5 minutes").alias("win"))
        .agg(F.count(F.lit(1)).alias("n_inserts"))
        .select(
            F.unix_millis(F.col("win.start")).alias("win_start_ms"),
            F.col("n_inserts").cast("bigint").alias("n_inserts"),
        )
    )
    return _sink_to_memory(
        spark, agg, base, available_now=False, output_mode="complete"
    )


# --- streaming LEFT OUTER stream-stream join ----------------------------------

def _build_outer_join_archives(arch_a: str, arch_b: str) -> None:
    """The cdc_stream_stream_join archives plus a 50-event far-future flush
    tail on EACH stream: outer-row emission needs BOTH watermarks (the join
    uses their minimum) to advance past every real change's join window, and
    the tail must span >= 2 micro-batches at maxRecordsPerBatch=25 because
    the watermark computed from one batch only takes effect in the next."""
    from postgresql_cdc_spark.streaming.source import write_wal_archive

    flush = [1_000_000 + j for j in range(50)]

    frames_a = [(1, encode_relation(_REL))]
    lsn = 10
    for i in list(range(N)) + flush:
        frames_a.append((lsn, encode_begin(lsn + 2, 0, 3000 + i)))
        frames_a.append((lsn + 1, encode_insert(
            _REL.relation_id, [str(i), str((i * 7) % 13), f"acct-{i}"]
        )))
        frames_a.append((lsn + 2, encode_commit(lsn + 2, lsn + 3, 0)))
        lsn += 3
    write_wal_archive(arch_a, frames_a)

    frames_b = [(1, encode_relation(_AUDIT_REL))]
    lsn = 10
    for i in list(range(0, N, 3)) + flush:
        frames_b.append((lsn, encode_begin(lsn + 2, 0, 4000 + i)))
        frames_b.append((lsn + 1, encode_insert(
            _AUDIT_REL.relation_id, [str(i), f"aud-{i % 7}"]
        )))
        frames_b.append((lsn + 2, encode_commit(lsn + 2, lsn + 3, 0)))
        lsn += 3
    write_wal_archive(arch_b, frames_b)


@register(
    "cdc_stream_outer_join",
    f"""
    SELECT i AS id,
           CAST((i * 7) % 13 AS INT) AS v_int,
           CASE WHEN i % 3 = 0
                THEN 'aud-' || CAST(i % 7 AS VARCHAR) END AS auditor,
           CASE WHEN i % 3 = 0 THEN CAST(30000 AS BIGINT) END AS lag_ms
    FROM range({N}) t(i)
    """,
    doc=f"Watermarked stream-stream LEFT OUTER join — the semantics "
        "cdc_stream_stream_join's inner variant cannot show: every change "
        "row must come out exactly once, matched changes (id % 3 = 0) "
        "carrying their audit, the other two thirds emitted as NULL-padded "
        "outer rows ONLY after the joint watermark proves no audit can "
        "still arrive inside the 1-minute join window. That deferred "
        "emission is the hard part: outer results materialize on state "
        "EVICTION, which takes the minimum of the two stream watermarks, "
        "so each archive carries its own >= 2-micro-batch far-future "
        "flush tail (watermarks take effect one batch late), and the "
        "flush rows are dropped by a filter that references the event-"
        "time column so Catalyst keeps it ABOVE the watermark node "
        "(cdc_stream_session_windows' pin, applied per join input). "
        f"Closed-form oracle: all {N} changes, audit fields NULL unless "
        "id % 3 = 0, lag fixed at 30s.",
)
def cdc_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    _register_source(spark)
    base = tempfile.mkdtemp(prefix=f"pgcdc_soj_{uuid.uuid4().hex[:12]}_")
    arch_a = os.path.join(base, "wal_a")
    arch_b = os.path.join(base, "wal_b")
    _build_outer_join_archives(arch_a, arch_b)

    def read(arch):
        return (
            spark.readStream.format("pgcdc")
            .option("path", arch)
            .option("maxRecordsPerBatch", "25")
            .load()
        )

    ch_id = F.element_at("columns", "id").cast("long")
    changes = (
        read(arch_a)
        .select(
            ch_id.alias("id"),
            F.element_at("columns", "v_int").cast("int").alias("v_int"),
            F.timestamp_millis(F.lit(_T0_MS) + ch_id * 60_000).alias("ch_ts"),
        )
        .withWatermark("ch_ts", "2 minutes")
        # flush rows advance the watermark, then leave; the ts reference
        # pins the filter above EventTimeWatermark (ch_ts is never null).
        .where((F.col("id") < N) | F.col("ch_ts").isNull())
    )
    au_id = F.element_at("columns", "id").cast("long")
    audits = (
        read(arch_b)
        .select(
            au_id.alias("a_id"),
            F.element_at("columns", "auditor").alias("auditor"),
            F.timestamp_millis(
                F.lit(_T0_MS) + au_id * 60_000 + 30_000
            ).alias("au_ts"),
        )
        .withWatermark("au_ts", "2 minutes")
        .where((F.col("a_id") < N) | F.col("au_ts").isNull())
    )
    joined = changes.join(
        audits,
        (F.col("id") == F.col("a_id"))
        & (F.col("au_ts") >= F.col("ch_ts"))
        & (F.col("au_ts") <= F.col("ch_ts") + F.expr("INTERVAL 1 MINUTE")),
        "left_outer",
    ).select(
        "id", "v_int", "auditor",
        (F.unix_millis("au_ts") - F.unix_millis("ch_ts")).alias("lag_ms"),
    )

    return _sink_to_memory(spark, joined, base, available_now=False)


# --- streaming FULL OUTER stream-stream join -----------------------------------

def _build_full_outer_join_archives(arch_a: str, arch_b: str) -> None:
    """Asymmetric gaps on BOTH streams so full-outer eviction emits
    NULL-padded rows from each side: changes skip id % 5 == 4 (audits for
    those become right-only), audits exist only for id % 3 == 0 (the other
    changes become left-only). Flush tails per the left-outer gate."""
    from postgresql_cdc_spark.streaming.source import write_wal_archive

    flush = [1_000_000 + j for j in range(50)]

    frames_a = [(1, encode_relation(_REL))]
    lsn = 10
    for i in [x for x in range(N) if x % 5 != 4] + flush:
        frames_a.append((lsn, encode_begin(lsn + 2, 0, 3000 + i)))
        frames_a.append((lsn + 1, encode_insert(
            _REL.relation_id, [str(i), str((i * 7) % 13), f"acct-{i}"]
        )))
        frames_a.append((lsn + 2, encode_commit(lsn + 2, lsn + 3, 0)))
        lsn += 3
    write_wal_archive(arch_a, frames_a)

    frames_b = [(1, encode_relation(_AUDIT_REL))]
    lsn = 10
    for i in list(range(0, N, 3)) + flush:
        frames_b.append((lsn, encode_begin(lsn + 2, 0, 4000 + i)))
        frames_b.append((lsn + 1, encode_insert(
            _AUDIT_REL.relation_id, [str(i), f"aud-{i % 7}"]
        )))
        frames_b.append((lsn + 2, encode_commit(lsn + 2, lsn + 3, 0)))
        lsn += 3
    write_wal_archive(arch_b, frames_b)


@register(
    "cdc_stream_full_outer_join",
    f"""
    SELECT i AS id,
           CAST((i * 7) % 13 AS INT) AS v_int,
           CASE WHEN i % 3 = 0
                THEN 'aud-' || CAST(i % 7 AS VARCHAR) END AS auditor,
           CASE WHEN i % 3 = 0 THEN CAST(30000 AS BIGINT) END AS lag_ms
    FROM range({N}) t(i) WHERE i % 5 <> 4
    UNION ALL
    SELECT i, CAST(NULL AS INT),
           'aud-' || CAST(i % 7 AS VARCHAR), CAST(NULL AS BIGINT)
    FROM range({N}) t(i) WHERE i % 3 = 0 AND i % 5 = 4
    """,
    doc=f"Watermarked stream-stream FULL OUTER join — the last untested "
        "corner of the state machine after the inner (r7) and left-outer "
        "(r9) gates: EVICTION MUST EMIT FROM BOTH SIDES AT ONCE. Changes "
        "skip id % 5 = 4 while audits cover id % 3 = 0, so the join must "
        "produce matched rows (id % 3 = 0, % 5 != 4), left-only rows "
        "with NULL audit fields, AND right-only rows with NULL change "
        "fields — each unmatched row held in state until the MINIMUM of "
        "the two watermarks proves its 1-minute join window can no "
        "longer be matched, then released NULL-padded exactly once. The "
        "at-least-once replay source makes this the interesting corner: "
        "both sides replay, so double-emission of an evicted row would "
        "surface as a duplicate here. Flush tails and the above-watermark "
        "filter pin follow the left-outer gate; the output id coalesces "
        f"the two key columns. Closed-form oracle: {N} ids minus the "
        "changes gap, plus the right-only audits (id % 15 = 9).",
)
def cdc_stream_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    _register_source(spark)
    base = tempfile.mkdtemp(prefix=f"pgcdc_foj_{uuid.uuid4().hex[:12]}_")
    arch_a = os.path.join(base, "wal_a")
    arch_b = os.path.join(base, "wal_b")
    _build_full_outer_join_archives(arch_a, arch_b)

    def read(arch):
        return (
            spark.readStream.format("pgcdc")
            .option("path", arch)
            .option("maxRecordsPerBatch", "25")
            .load()
        )

    ch_id = F.element_at("columns", "id").cast("long")
    changes = (
        read(arch_a)
        .select(
            ch_id.alias("id"),
            F.element_at("columns", "v_int").cast("int").alias("v_int"),
            F.timestamp_millis(F.lit(_T0_MS) + ch_id * 60_000).alias("ch_ts"),
        )
        .withWatermark("ch_ts", "2 minutes")
        .where((F.col("id") < N) | F.col("ch_ts").isNull())
    )
    au_id = F.element_at("columns", "id").cast("long")
    audits = (
        read(arch_b)
        .select(
            au_id.alias("a_id"),
            F.element_at("columns", "auditor").alias("auditor"),
            F.timestamp_millis(
                F.lit(_T0_MS) + au_id * 60_000 + 30_000
            ).alias("au_ts"),
        )
        .withWatermark("au_ts", "2 minutes")
        .where((F.col("a_id") < N) | F.col("au_ts").isNull())
    )
    joined = changes.join(
        audits,
        (F.col("id") == F.col("a_id"))
        & (F.col("au_ts") >= F.col("ch_ts"))
        & (F.col("au_ts") <= F.col("ch_ts") + F.expr("INTERVAL 1 MINUTE")),
        "full_outer",
    ).select(
        F.coalesce(F.col("id"), F.col("a_id")).alias("id"),
        "v_int",
        "auditor",
        (F.unix_millis("au_ts") - F.unix_millis("ch_ts")).alias("lag_ms"),
    )

    return _sink_to_memory(spark, joined, base, available_now=False)


# --- TRUNCATE recognized-and-dropped, offsets intact ---------------------------

def _build_truncate_archive(arch: str) -> None:
    """N insert txns with TRUNCATE-only txns woven through at the nasty
    spots: before the first insert, after every 10th txn (so several land
    exactly on maxRecordsPerBatch=25 chunk boundaries), and as the FINAL
    txn of the archive (the batch cursor must advance past a tail txn that
    emits no rows, or the stream never reaches a committable offset)."""
    from postgresql_cdc_spark.streaming.source import write_wal_archive

    def trunc_txn(frames, lsn, xid):
        frames.append((lsn, encode_begin(lsn + 2, 0, xid)))
        frames.append((lsn + 1, encode_truncate([_REL.relation_id],
                                                restart_identity=True)))
        frames.append((lsn + 2, encode_commit(lsn + 2, lsn + 3, 0)))
        return lsn + 3

    frames = [(1, encode_relation(_REL))]
    lsn = 10
    lsn = trunc_txn(frames, lsn, 9000)
    for i in range(N):
        frames.append((lsn, encode_begin(lsn + 2, 0, 3000 + i)))
        frames.append((lsn + 1, encode_insert(
            _REL.relation_id, [str(i), str((i * 7) % 13), f"acct-{i}"]
        )))
        frames.append((lsn + 2, encode_commit(lsn + 2, lsn + 3, 0)))
        lsn += 3
        if i % 10 == 9:
            lsn = trunc_txn(frames, lsn, 9100 + i)
    lsn = trunc_txn(frames, lsn, 9999)
    write_wal_archive(arch, frames)


@register(
    "cdc_stream_truncate_drop",
    f"""
    SELECT i AS id, CAST((i * 7) % 13 AS INT) AS v_int
    FROM range({N}) t(i)
    """,
    doc=f"TRUNCATE messages recognized-and-DROPPED without losing the "
        "stream's place — the reference decodes the T tag and discards it "
        "(MessageType.java:17-28); the failure mode worth gating is not "
        "the discard but the BOOKKEEPING: TRUNCATE-only transactions "
        "consume LSNs while contributing zero rows, so a chunker that "
        "equates 'no rows' with 'no progress' stalls or re-reads. The "
        "archive plants truncate txns before the first insert, across "
        "several maxRecordsPerBatch=25 chunk boundaries, and as the FINAL "
        f"txn. Closed-form oracle: all {N} inserts exactly once, "
        "truncates invisible.",
)
def cdc_stream_truncate_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    base = tempfile.mkdtemp(prefix=f"pgcdc_trnc_{uuid.uuid4().hex[:12]}_")
    arch = os.path.join(base, "wal")
    _build_truncate_archive(arch)

    def transform(stream):
        return stream.where(F.col("op") == "I").select(
            F.element_at("columns", "id").cast("long").alias("id"),
            F.element_at("columns", "v_int").cast("int").alias("v_int"),
        )

    return _run_stream_to_memory(
        spark, arch, base, transform=transform, max_records=25
    )


# --- streaming late-data drop ---------------------------------------------------

@register(
    "cdc_stream_late_data_drop",
    f"""
    SELECT CAST((({_T0_MS} + i * 60000) // 600000) * 600000 AS BIGINT)
               AS win_start_ms,
           CAST(COUNT(*) AS BIGINT) AS n_inserts
    FROM range({N}) t(i) GROUP BY 1
    """,
    doc=f"Watermark LATE-DATA DROP, proven end-to-end: {N} on-time inserts "
        "(event-time = minute id) flow through 10-minute tumbling counts "
        "in append mode; then a planted straggler arrives WHOSE EVENT "
        "TIME (minute 2) is ~90 minutes behind the watermark by the "
        "micro-batch that carries it (maxRecordsPerBatch=25 guarantees "
        "it rides a later batch than the rows that advanced the "
        "watermark). Its [0,10) window was already finalized and "
        "emitted, so Structured Streaming must DISCARD the row — the "
        "oracle replays the epoch-aligned tumbling floor Spark uses "
        "(window starts are multiples of the duration since the epoch, "
        "NOT of the data's t0) and pins every window's exact count; a "
        "+1 in the straggler's window means late data leaked into "
        "closed state, a missing row means on-time data was "
        "over-dropped. The straggler "
        "passes the flush filter deliberately (only far-future flush "
        "rows are filtered): the WATERMARK, not a predicate, must do "
        "the dropping. Flush tail per the session-windows pattern.",
)
def cdc_stream_late_data_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from postgresql_cdc_spark.streaming.source import write_wal_archive

    _register_source(spark)
    base = tempfile.mkdtemp(prefix=f"pgcdc_late_{uuid.uuid4().hex[:12]}_")
    arch = os.path.join(base, "wal")

    # ids: 0..N-1 on time, 500 = the straggler (event-time minute 2,
    # appended AFTER id N-1 so it arrives with the watermark already at
    # ~minute {N}-10), then the >= 2-batch far-future flush tail.
    frames = [(1, encode_relation(_REL))]
    lsn = 10
    for i in list(range(N)) + [500] + [1_000_000 + j for j in range(50)]:
        frames.append((lsn, encode_begin(lsn + 2, 0, 9000 + i)))
        frames.append((lsn + 1, encode_insert(
            _REL.relation_id, [str(i), str((i * 7) % 13), f"acct-{i}"]
        )))
        frames.append((lsn + 2, encode_commit(lsn + 2, lsn + 3, 0)))
        lsn += 3
    write_wal_archive(arch, frames)

    rid = F.element_at("columns", "id").cast("long")
    ts_minute = (
        F.when(rid < N, rid).when(rid < 1000, F.lit(2)).otherwise(rid)
    )
    agg = (
        spark.readStream.format("pgcdc")
        .option("path", arch)
        .option("maxRecordsPerBatch", "25")
        .load()
        .where(F.col("op") == "I")
        .select(
            rid.alias("rid"),
            F.timestamp_millis(F.lit(_T0_MS) + ts_minute * 60_000).alias("ts"),
        )
        .withWatermark("ts", "10 minutes")
        # drop ONLY the flush rows (ts reference pins the filter above the
        # watermark node); the straggler (rid=500) must reach the
        # aggregation so the watermark itself is what rejects it.
        .where((F.col("rid") < 1000) | F.col("ts").isNull())
        .groupBy(F.window("ts", "10 minutes").alias("win"))
        .agg(F.count(F.lit(1)).alias("n_inserts"))
        .select(
            F.unix_millis(F.col("win.start")).alias("win_start_ms"),
            F.col("n_inserts").cast("bigint").alias("n_inserts"),
        )
    )
    return _sink_to_memory(spark, agg, base, available_now=False)


# --- streaming IVM over a JOIN (delta rules, two CDC tables) ------------------

_IVM_DIM_REL = Relation(
    relation_id=16396,
    schema="public",
    name="dim_grp",
    replica_identity="d",
    columns=(
        ColumnMeta("id", 20, flags=1),
        ColumnMeta("grp", 23),
    ),
)

_IVM_FACT_REL = Relation(
    relation_id=16397,
    schema="public",
    name="fact_amt",
    replica_identity="d",
    columns=(
        ColumnMeta("fid", 20, flags=1),
        ColumnMeta("did", 20),
        ColumnMeta("amount", 23),
    ),
)

_N_DIM = 20
_N_FACT = 100


def _ivm_join_frames() -> list:
    """Deterministic two-table changelog for the join view: dims insert,
    facts insert, then a MIXED txn updates both sides (dim regroups move
    every joined fact; fact updates change amounts and some foreign keys),
    then a mixed txn deletes from both (dims 0/7/14 leave their facts
    dangling — inner-join semantics drop them from the view)."""
    frames = [
        (1, encode_relation(_IVM_DIM_REL)),
        (2, encode_relation(_IVM_FACT_REL)),
    ]
    lsn, xid = 10, 500

    def txn(rows):
        nonlocal lsn, xid
        lsn, xid = _append_txn(frames, rows, lsn, xid)

    txn([
        encode_insert(_IVM_DIM_REL.relation_id, [str(i), str(i % 3)])
        for i in range(_N_DIM)
    ])
    txn([
        encode_insert(
            _IVM_FACT_REL.relation_id,
            [str(i), str(i % _N_DIM), str((i * 11) % 29)],
        )
        for i in range(50)
    ])
    txn([
        encode_insert(
            _IVM_FACT_REL.relation_id,
            [str(i), str(i % _N_DIM), str((i * 11) % 29)],
        )
        for i in range(50, _N_FACT)
    ])
    mixed = [
        encode_update(_IVM_DIM_REL.relation_id, [str(i), str((i + 1) % 3)])
        for i in range(0, _N_DIM, 4)
    ] + [
        encode_update(
            _IVM_FACT_REL.relation_id,
            [
                str(i),
                str((i + 1) % _N_DIM if i % 10 == 0 else i % _N_DIM),
                str((i * 11) % 29 + 50),
            ],
        )
        for i in range(0, _N_FACT, 5)
    ]
    txn(mixed)
    txn([
        encode_delete(_IVM_DIM_REL.relation_id, [str(i), None])
        for i in range(0, _N_DIM, 7)
    ] + [
        encode_delete(_IVM_FACT_REL.relation_id, [str(i), None, None])
        for i in range(0, _N_FACT, 9)
    ])
    return frames


@register(
    "cdc_stream_ivm_join_sums",
    f"""
    WITH dim AS (
        SELECT i AS id,
               CASE WHEN i % 4 = 0 THEN (i + 1) % 3 ELSE i % 3 END AS grp
        FROM range({_N_DIM}) t(i) WHERE i % 7 <> 0),
    fact AS (
        SELECT i AS fid,
               CASE WHEN i % 10 = 0 THEN (i + 1) % {_N_DIM}
                    ELSE i % {_N_DIM} END AS did,
               (i * 11) % 29 + CASE WHEN i % 5 = 0 THEN 50 ELSE 0 END
                 AS amount
        FROM range({_N_FACT}) t(i) WHERE i % 9 <> 0)
    SELECT CAST(grp AS INT) AS grp,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(amount) AS BIGINT) AS total
    FROM fact JOIN dim ON fact.did = dim.id
    GROUP BY 1
    """,
    doc="STREAMING incremental view maintenance over a JOIN — the delta-"
        "rule algebra (DBSP/Materialize-style counting IVM) the single-"
        "table IVM gate cannot exercise: the maintained view is "
        "SUM(fact.amount), COUNT(*) per dim.grp over fact JOIN dim, with "
        "BOTH tables receiving inserts, updates, and deletes interleaved "
        "in ONE WAL stream (mixed transactions, micro-batched at "
        "maxRecordsPerBatch=25 so txn chunks split across batches). Each "
        "foreachBatch ingests both tables' rows into epoch-store key "
        "states and derives SIGNED row deltas from batch-keyed broadcast "
        "probes of prior state, then applies "
        "delta(F JOIN D) = dF JOIN D_old UNION F_new JOIN dD — never "
        "recomputing from history: a dim regroup moves every joined "
        "fact's contribution between groups via dD alone; a dim delete "
        "retracts its facts (they dangle thereafter and later fact "
        "deltas on them join nothing); same-batch fact+dim changes "
        "cancel exactly once by the F_new-vs-D_old split. r14 closed the "
        "state LIFECYCLE (the r13 verdict's #1): key states live in "
        "epoch stores (per-batch write = the batch's collapsed rows "
        "only; maybe_compact folds old epochs behind a manifest-"
        "committed base), deltas come from broadcast probes keyed by the "
        "BATCH's keys — O(|batch|), never a full-outer join of full old "
        "vs full new state — the F_new-by-FK leg reads a SIGNED by-did "
        "arrangement (consolidation-compacted Z-set, correct under FK "
        "re-pointing where a did-filtered latest-wins would resurrect "
        "stale rows), and the sums fold writes only the batch's grouped "
        "deltas into a compacted epoch store. Every prior-state read "
        "still resolves STRICTLY "
        "BELOW the current id (streaming/join_ivm.py), so a crashed "
        "batch's partial writes are invisible to its replay and a "
        "checkpoint restart reconstructs state purely from disk — the "
        "at-least-once contract, crash-tested in tests/test_join_ivm.py; "
        "the bounded lifecycle is pinned there and soak-measured by "
        "tools/join_ivm_lifecycle_soak.py. The final sums table must "
        "equal the closed-form one-shot join aggregate. Scale: per-batch "
        "state I/O is O(|batch|); the delta joins BROADCAST their batch-"
        "bounded sides, so a hot dimension key never induces a skewed "
        "shuffle; the sums fold writes the batch's |changed groups| "
        "rows, independent of state and group-domain size.",
)
def cdc_stream_ivm_join_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from postgresql_cdc_spark.streaming import join_ivm
    from postgresql_cdc_spark.streaming.source import write_wal_archive

    _register_source(spark)
    run = uuid.uuid4().hex[:12]
    base = tempfile.mkdtemp(prefix=f"pgcdc_ivmj_{run}_")
    arch = os.path.join(base, "wal")
    write_wal_archive(arch, _ivm_join_frames())
    state = os.path.join(base, "state")
    os.makedirs(state)

    def ivm_batch(batch_df: DataFrame, batch_id: int) -> None:
        # route the envelope per table, then apply the delta rule through
        # the disk-versioned step: every prior-state read resolves
        # STRICTLY BELOW batch_id, so a replayed batch never sees its own
        # crashed attempt's partial writes (streaming/join_ivm.py; the
        # crash windows are pinned by tests/test_join_ivm.py)
        d_batch = batch_df.where(F.col("table") == "dim_grp").select(
            F.element_at("columns", "id").cast("long").alias("id"),
            F.element_at("columns", "grp").cast("int").alias("grp"),
            "op", "lsn",
        )
        f_batch = batch_df.where(F.col("table") == "fact_amt").select(
            F.element_at("columns", "fid").cast("long").alias("fid"),
            F.element_at("columns", "did").cast("long").alias("did"),
            F.element_at("columns", "amount").cast("int").alias("amount"),
            "op", "lsn",
        )
        join_ivm.apply_batch(
            batch_df.sparkSession, state, batch_id, d_batch, f_batch
        )

    stream = (
        spark.readStream.format("pgcdc")
        .option("path", arch)
        .option("maxRecordsPerBatch", "25")
        .load()
    )
    q = (
        stream.writeStream.foreachBatch(ivm_batch)
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .start()
    )
    _drain_bounded(q)
    return join_ivm.latest_sums(spark, state)


@register(
    "cdc_stream_ivm_min_maintenance",
    f"""
    WITH state AS (
        SELECT i AS id,
               CAST(CASE WHEN i % 5 = 0 THEN (i * 7) % 13 + 100
                         ELSE (i * 7) % 13 END AS INT) AS v_int
        FROM range({N}) t(i)
        WHERE i % 7 <> 0)
    SELECT CAST(id % 3 AS INT) AS grp,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(v_int) AS INT) AS min_v,
           CAST(MAX(v_int) AS INT) AS max_v
    FROM state GROUP BY 1
    """,
    doc="STREAMING maintenance of MIN/MAX — the classic NON-self-"
        "maintainable aggregates: a SUM adjusts from deltas alone, but "
        "when a delete or update removes the current minimum, the new "
        "minimum is NOT derivable from (old_min, delta) — it needs the "
        "surviving value multiset. The textbook fix is an auxiliary "
        "SUPPORT table ((grp, v_int) -> live count): signed row deltas "
        "fold into the support counts (zero-count values drop out) and "
        "MIN/MAX/COUNT re-derive from the supports — never from history. "
        "Since r16 this runs THROUGH the kernel's spec: JoinViewSpec "
        "gained support-counted extrema measures, so the gate is a "
        "dimensionless spec (group_cols from the fact payload, extrema "
        "min_v/max_v over v_int) driven by the same apply_batch as every "
        "join/star view — no bespoke maintenance code left. The "
        "archive's update txn moves every id%5 value up by 100 (evicting "
        "group minima) and the delete txn removes id%7 (shrinking "
        "supports), so a naive min-of-old-min-and-new-values maintenance "
        "gives the WRONG answer and only the support multiset converges "
        "to the one-shot closed form. Lifecycle unchanged: epoch-store "
        "kv state (O(|batch|) writes, maybe_compact-bounded partials), "
        "batch-keyed pruned probes, epoch-store support/sums folds, "
        "strictly-below-batch-id resolution throughout (replay/restart-"
        "safe; the kernel's fuzz drives extrema schedules). Scale: the "
        "support table is bounded by distinct (group, value) pairs — "
        "orders of magnitude smaller than the state — and the per-batch "
        "fold writes the batch's |changed (group, value)| rows; every "
        "step is a key-"
        "partitioned equi-operation.",
)
def cdc_stream_ivm_min_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from postgresql_cdc_spark.streaming import join_ivm

    _register_source(spark)
    run = uuid.uuid4().hex[:12]
    base = tempfile.mkdtemp(prefix=f"pgcdc_ivmm_{run}_")
    arch = os.path.join(base, "wal")
    _build_archive(arch)
    state = os.path.join(base, "state")
    os.makedirs(state)

    spec = join_ivm.JoinViewSpec(
        fact_ddl="id long, grp int, v_int int, op string, lsn long",
        fact_key="id",
        fact_payload=("grp", "v_int"),
        group_cols=("grp",),
        measures=(),
        extrema=(
            ("min_v", "min", "v_int", "int"),
            ("max_v", "max", "v_int", "int"),
        ),
    )

    def ivm_batch(batch_df: DataFrame, batch_id: int) -> None:
        decoded = batch_df.select(
            F.element_at("columns", "id").cast("long").alias("id"),
            (F.element_at("columns", "id").cast("long") % 3)
            .cast("int").alias("grp"),
            F.element_at("columns", "v_int").cast("int").alias("v_int"),
            "op", "lsn",
        )
        join_ivm.apply_batch(
            batch_df.sparkSession, state, batch_id, None, decoded,
            spec=spec,
        )

    stream = (
        spark.readStream.format("pgcdc")
        .option("path", arch)
        .option("maxRecordsPerBatch", "25")
        .load()
    )
    q = (
        stream.writeStream.foreachBatch(ivm_batch)
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .start()
    )
    _drain_bounded(q)

    return join_ivm.latest_view(spark, state, spec).select(
        "grp", F.col("dn").alias("n_rows"), "min_v", "max_v"
    )


# --- the shared join-IVM kernel under a SECOND view shape (r15) ---------------

_REV_DIM_REL = Relation(
    relation_id=16398,
    schema="public",
    name="part_cat",
    replica_identity="d",
    columns=(
        ColumnMeta("pid", 20, flags=1),
        ColumnMeta("cat", 23),
        ColumnMeta("tier", 23),
    ),
)

_REV_FACT_REL = Relation(
    relation_id=16399,
    schema="public",
    name="order_items",
    replica_identity="d",
    columns=(
        ColumnMeta("iid", 20, flags=1),
        ColumnMeta("pid", 20),
        ColumnMeta("price", 23),
        ColumnMeta("qty", 23),
    ),
)

_N_PD = 15
_N_IT = 120


def _rev_frames() -> list:
    """Deterministic changelog for the revenue view: parts insert, order
    items insert, a mixed txn regroups parts (pid%3==0 -> cat shifts) and
    reprices items (iid%4==0 -> price+30; iid%12==0 also re-points the
    FK), then a mixed delete txn (parts pid%11==0 leave their items
    dangling; items iid%10==0 go)."""
    frames = [
        (1, encode_relation(_REV_DIM_REL)),
        (2, encode_relation(_REV_FACT_REL)),
    ]
    lsn, xid = 10, 900

    def txn(rows):
        nonlocal lsn, xid
        lsn, xid = _append_txn(frames, rows, lsn, xid)

    txn([
        encode_insert(
            _REV_DIM_REL.relation_id,
            [str(i), str(i % 4), str(i % 2)],
        )
        for i in range(_N_PD)
    ])
    txn([
        encode_insert(
            _REV_FACT_REL.relation_id,
            [str(i), str(i % _N_PD), str((i * 7) % 23 + 1), str(i % 5 + 1)],
        )
        for i in range(_N_IT)
    ])
    txn([
        encode_update(
            _REV_DIM_REL.relation_id,
            [str(i), str((i + 2) % 4), str(i % 2)],
        )
        for i in range(0, _N_PD, 3)
    ] + [
        encode_update(
            _REV_FACT_REL.relation_id,
            [
                str(i),
                str((i + 1) % _N_PD if i % 12 == 0 else i % _N_PD),
                str((i * 7) % 23 + 31),
                str(i % 5 + 1),
            ],
        )
        for i in range(0, _N_IT, 4)
    ])
    txn([
        encode_delete(_REV_DIM_REL.relation_id, [str(i), None, None])
        for i in range(0, _N_PD, 11)
    ] + [
        encode_delete(_REV_FACT_REL.relation_id, [str(i), None, None, None])
        for i in range(0, _N_IT, 10)
    ])
    return frames


@register(
    "cdc_stream_ivm_join_revenue",
    f"""
    WITH dim AS (
        SELECT i AS pid,
               CASE WHEN i % 3 = 0 THEN (i + 2) % 4 ELSE i % 4 END AS cat,
               i % 2 AS tier
        FROM range({_N_PD}) t(i) WHERE i % 11 <> 0),
    fact AS (
        SELECT i AS iid,
               CASE WHEN i % 12 = 0 THEN (i + 1) % {_N_PD}
                    ELSE i % {_N_PD} END AS pid,
               (i * 7) % 23 + 1 + CASE WHEN i % 4 = 0 THEN 30 ELSE 0 END
                 AS price,
               i % 5 + 1 AS qty
        FROM range({_N_IT}) t(i) WHERE i % 10 <> 0)
    SELECT CAST(cat AS INT) AS cat,
           CAST(tier AS INT) AS tier,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(price * qty) AS BIGINT) AS revenue,
           CAST(SUM(qty) AS BIGINT) AS units
    FROM fact JOIN dim USING (pid)
    GROUP BY 1, 2
    """,
    doc="The join-IVM kernel under a STRUCTURALLY DIFFERENT maintained "
        "view (r15: the kernel-generalization gate): dim carries TWO "
        "payload columns (cat, tier) and the view groups by their "
        "composite; the fact payload is (pid, price, qty) and the "
        "measures are expression-SUMs — revenue = SUM(price*qty), units "
        "= SUM(qty) — not a single-column amount. The gate shares "
        "join_ivm.apply_batch/join_deltas with cdc_stream_ivm_join_sums "
        "via a JoinViewSpec (schemas, FK, group columns, named measure "
        "expressions); nothing in the kernel is copied or adapted. Same "
        "delta rule, same epoch-store lifecycle, same strictly-below "
        "replay contract; the stream mixes part regroups, item reprices, "
        "FK re-points, and double-sided deletes across micro-batch "
        "boundaries (maxRecordsPerBatch=25). The final view must equal "
        "the closed-form one-shot join aggregate. Scale: identical to "
        "the sums gate — O(|batch|) per-trigger state I/O, batch-bounded "
        "broadcast delta joins, pruned key probes over the clustered "
        "base folds.",
)
def cdc_stream_ivm_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from postgresql_cdc_spark.streaming import join_ivm
    from postgresql_cdc_spark.streaming.source import write_wal_archive

    _register_source(spark)
    run = uuid.uuid4().hex[:12]
    base = tempfile.mkdtemp(prefix=f"pgcdc_ivmr_{run}_")
    arch = os.path.join(base, "wal")
    write_wal_archive(arch, _rev_frames())
    state = os.path.join(base, "state")
    os.makedirs(state)

    spec = join_ivm.JoinViewSpec(
        fact_ddl="iid long, pid long, price int, qty int, op string, lsn long",
        fact_key="iid",
        fact_payload=("pid", "price", "qty"),
        dims=(join_ivm.DimSpec(
            ddl="pid long, cat int, tier int, op string, lsn long",
            key="pid", payload=("cat", "tier"), fact_fk="pid",
        ),),
        group_cols=("cat", "tier"),
        measures=(("revenue", "price * qty"), ("units", "qty")),
    )

    def ivm_batch(batch_df: DataFrame, batch_id: int) -> None:
        d_batch = batch_df.where(F.col("table") == "part_cat").select(
            F.element_at("columns", "pid").cast("long").alias("pid"),
            F.element_at("columns", "cat").cast("int").alias("cat"),
            F.element_at("columns", "tier").cast("int").alias("tier"),
            "op", "lsn",
        )
        f_batch = batch_df.where(F.col("table") == "order_items").select(
            F.element_at("columns", "iid").cast("long").alias("iid"),
            F.element_at("columns", "pid").cast("long").alias("pid"),
            F.element_at("columns", "price").cast("int").alias("price"),
            F.element_at("columns", "qty").cast("int").alias("qty"),
            "op", "lsn",
        )
        join_ivm.apply_batch(
            batch_df.sparkSession, state, batch_id, d_batch, f_batch,
            spec=spec,
        )

    stream = (
        spark.readStream.format("pgcdc")
        .option("path", arch)
        .option("maxRecordsPerBatch", "25")
        .load()
    )
    q = (
        stream.writeStream.foreachBatch(ivm_batch)
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .start()
    )
    _drain_bounded(q)
    return join_ivm.latest_view(spark, state, spec).select(
        "cat", "tier",
        F.col("dn").alias("n_items"),
        "revenue", "units",
    )


# --- high-cardinality maintained view over the epoch-backed sums fold ---------

_HC_REL = Relation(
    relation_id=16400,
    schema="public",
    name="cust_vals",
    replica_identity="d",
    columns=(
        ColumnMeta("id", 20, flags=1),
        ColumnMeta("cust", 20),
        ColumnMeta("v", 23),
    ),
)

_N_HC = 150
_N_CUST = 120


def _hc_frames() -> list:
    """Customer-grained changelog: 150 rows over 120 customers (group
    domain ~ key domain — the cardinality class where a full-version
    sums rewrite is O(|groups|) per trigger). Updates move id%5==0 values
    up by 100 and id%15==0 rows to a different customer; deletes remove
    id%7==0."""
    frames = [(1, encode_relation(_HC_REL))]
    lsn, xid = 10, 1200

    def txn(rows):
        nonlocal lsn, xid
        lsn, xid = _append_txn(frames, rows, lsn, xid)

    for start in range(0, _N_HC, 50):
        txn([
            encode_insert(
                _HC_REL.relation_id,
                [str(i), str(i % _N_CUST), str((i * 7) % 13)],
            )
            for i in range(start, min(start + 50, _N_HC))
        ])
    # every i%15==0 row is also i%5==0, so one update sweep covers both
    # the value bump and the customer re-point
    txn([
        encode_update(
            _HC_REL.relation_id,
            [
                str(i),
                str((i * 3) % _N_CUST if i % 15 == 0 else i % _N_CUST),
                str((i * 7) % 13 + 100),
            ],
        )
        for i in range(0, _N_HC, 5)
    ])
    txn([
        encode_delete(_HC_REL.relation_id, [str(i), None, None])
        for i in range(0, _N_HC, 7)
    ])
    return frames


@register(
    "cdc_stream_ivm_sums_hicard",
    f"""
    WITH state AS (
        SELECT i AS id,
               CASE WHEN i % 15 = 0 THEN (i * 3) % {_N_CUST}
                    ELSE i % {_N_CUST} END AS cust,
               CAST(CASE WHEN i % 5 = 0 THEN (i * 7) % 13 + 100
                         ELSE (i * 7) % 13 END AS INT) AS v
        FROM range({_N_HC}) t(i)
        WHERE i % 7 <> 0)
    SELECT CAST(cust AS BIGINT) AS cust,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(v) AS BIGINT) AS total
    FROM state GROUP BY 1
    """,
    doc="STREAMING maintained aggregate with a HIGH-CARDINALITY group "
        "domain (per-customer: ~120 groups over 150 keys — the "
        "cardinality class where a full-version rewrite of the sums "
        "would be O(|groups|) per trigger and a customer-grained view at "
        "100x would rewrite "
        "millions of rows per micro-batch). The sums are backed by the "
        "EPOCH STORE, the kernel's one aggregate layout, so the gate is a "
        "dimensionless spec driven by the same apply_batch as every "
        "join/star view: each batch writes only its own grouped signed "
        "deltas as the store's epoch — O(|batch groups|) rows — and "
        "maybe_compact SUM-merges old epochs behind the "
        "manifest-committed base; serving re-groups base + bounded "
        "partials (read_folded_groups), dropping groups whose count "
        "nets zero. "
        "The fold's merge keeps rows any measure of which is nonzero "
        "(a transient partial can net dn=0 with dq!=0 after an "
        "amount-only update), so zero-drop-out applies at serve time "
        "only. Key deltas come from the same ingest_and_delta kernel as "
        "every other IVM gate; the stream mixes value updates, customer "
        "re-points, and deletes across micro-batch boundaries. The "
        "served view must equal the closed-form one-shot aggregate. "
        "Scale: per-batch sums I/O is O(|batch groups|), independent of "
        "the group-domain size — the soak's 10x-group-domain row pins "
        "it.",
)
def cdc_stream_ivm_sums_hicard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    _register_source(spark)
    run = uuid.uuid4().hex[:12]
    base = tempfile.mkdtemp(prefix=f"pgcdc_ivmh_{run}_")
    arch = os.path.join(base, "wal")

    from postgresql_cdc_spark.streaming.source import write_wal_archive

    write_wal_archive(arch, _hc_frames())
    state = os.path.join(base, "state")
    os.makedirs(state)

    from postgresql_cdc_spark.streaming import join_ivm

    # runs THROUGH the kernel's spec: a dimensionless spec with a
    # per-customer group domain — no bespoke maintenance code left
    spec = join_ivm.JoinViewSpec(
        fact_ddl="id long, cust long, v int, op string, lsn long",
        fact_key="id",
        fact_payload=("cust", "v"),
        group_cols=("cust",),
        measures=(("dq", "v"),),
    )

    def ivm_batch(batch_df: DataFrame, batch_id: int) -> None:
        decoded = batch_df.select(
            F.element_at("columns", "id").cast("long").alias("id"),
            F.element_at("columns", "cust").cast("long").alias("cust"),
            F.element_at("columns", "v").cast("int").alias("v"),
            "op", "lsn",
        )
        join_ivm.apply_batch(
            batch_df.sparkSession, state, batch_id, None, decoded,
            spec=spec,
        )

    stream = (
        spark.readStream.format("pgcdc")
        .option("path", arch)
        .option("maxRecordsPerBatch", "25")
        .load()
    )
    q = (
        stream.writeStream.foreachBatch(ivm_batch)
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .start()
    )
    _drain_bounded(q)

    return join_ivm.latest_view(spark, state, spec).select(
        "cust", F.col("dn").alias("n_rows"), F.col("dq").alias("total")
    )


@register(
    "cdc_stream_ivm_distinct_hicard",
    f"""
    WITH state AS (
        SELECT i AS id,
               CASE WHEN i % 15 = 0 THEN (i * 3) % {_N_CUST}
                    ELSE i % {_N_CUST} END AS cust,
               CAST(CASE WHEN i % 5 = 0 THEN (i * 7) % 13 + 100
                         ELSE (i * 7) % 13 END AS INT) AS v
        FROM range({_N_HC}) t(i)
        WHERE i % 7 <> 0)
    SELECT CAST(cust AS BIGINT) AS cust,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(v) AS BIGINT) AS total,
           CAST(COUNT(DISTINCT v) AS BIGINT) AS n_vals,
           CAST(MAX(v) AS INT) AS max_v
    FROM state GROUP BY 1
    """,
    doc="STREAMING maintenance of COUNT(DISTINCT) and MAX over a "
        "HIGH-CARDINALITY group domain (per-customer): support tables "
        "ride the EPOCH STORE like the sums, so no "
        "O(|state|)-per-trigger write class is left — "
        "each batch writes only its own grouped signed support deltas "
        "(O(|batch|) rows), maybe_compact SUM-merges old epochs behind "
        "the manifest-committed base, and the serve re-derives the live "
        "(cust, v) multiset from base + bounded partials. Crash "
        "consistency: supports fold BEFORE sums, and every "
        "serve-time support read is bounded by the sums store's newest "
        "committed epoch, so a crashed attempt's support partial is "
        "invisible until its sums commit (pinned by "
        "test_support_reads_anchor_to_sums_horizon). MAX and "
        "COUNT(DISTINCT) of the same column share ONE support store. "
        "Same changelog as cdc_stream_ivm_sums_hicard (value bumps, "
        "customer re-points, deletes across micro-batch boundaries), "
        "so the two answers agree on cust/n_rows/total and this one "
        "adds the support-derived columns. Scale: per-batch support "
        "I/O is O(|batch|), independent of the (group x value) domain "
        "size — the soak's --hicard-compare row pins it at 10x domain.",
)
def cdc_stream_ivm_distinct_hicard(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import functions as F

    _register_source(spark)
    run = uuid.uuid4().hex[:12]
    base = tempfile.mkdtemp(prefix=f"pgcdc_ivmdh_{run}_")
    arch = os.path.join(base, "wal")

    from postgresql_cdc_spark.streaming import join_ivm
    from postgresql_cdc_spark.streaming.source import write_wal_archive

    write_wal_archive(arch, _hc_frames())
    state = os.path.join(base, "state")
    os.makedirs(state)

    spec = join_ivm.JoinViewSpec(
        fact_ddl="id long, cust long, v int, op string, lsn long",
        fact_key="id",
        fact_payload=("cust", "v"),
        group_cols=("cust",),
        measures=(("dq", "v"),),
        extrema=(("max_v", "max", "v", "int"),),
        distincts=(("n_vals", "v", "int"),),
    )

    def ivm_batch(batch_df: DataFrame, batch_id: int) -> None:
        decoded = batch_df.select(
            F.element_at("columns", "id").cast("long").alias("id"),
            F.element_at("columns", "cust").cast("long").alias("cust"),
            F.element_at("columns", "v").cast("int").alias("v"),
            "op", "lsn",
        )
        join_ivm.apply_batch(
            batch_df.sparkSession, state, batch_id, None, decoded,
            spec=spec,
        )

    stream = (
        spark.readStream.format("pgcdc")
        .option("path", arch)
        .option("maxRecordsPerBatch", "25")
        .load()
    )
    q = (
        stream.writeStream.foreachBatch(ivm_batch)
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .start()
    )
    _drain_bounded(q)

    return join_ivm.latest_view(spark, state, spec).select(
        "cust", F.col("dn").alias("n_rows"), F.col("dq").alias("total"),
        "n_vals", "max_v",
    )


@register(
    "cdc_stream_ivm_topk_per_group",
    f"""
    WITH state AS (
        SELECT i AS id,
               CASE WHEN i % 15 = 0 THEN (i * 3) % {_N_CUST}
                    ELSE i % {_N_CUST} END AS cust,
               CAST(CASE WHEN i % 5 = 0 THEN (i * 7) % 13 + 100
                         ELSE (i * 7) % 13 END AS INT) AS v
        FROM range({_N_HC}) t(i)
        WHERE i % 7 <> 0),
    base AS (
        SELECT cust, COUNT(*) AS n_rows, SUM(v) AS total
        FROM state GROUP BY 1),
    rk AS (
        SELECT cust, v,
               ROW_NUMBER() OVER (PARTITION BY cust ORDER BY v DESC) AS rn
        FROM (SELECT DISTINCT cust, v FROM state)),
    top AS (
        SELECT cust,
               MAX(CASE WHEN rn = 1 THEN v END) AS top1,
               MAX(CASE WHEN rn = 2 THEN v END) AS top2,
               MAX(CASE WHEN rn = 3 THEN v END) AS top3
        FROM rk GROUP BY 1)
    SELECT CAST(base.cust AS BIGINT) AS cust,
           CAST(n_rows AS BIGINT) AS n_rows,
           CAST(total AS BIGINT) AS total,
           CAST(top1 AS INT) AS top1,
           CAST(top2 AS INT) AS top2,
           CAST(top3 AS INT) AS top3
    FROM base JOIN top USING (cust)
    """,
    doc="STREAMING maintenance of a TOP-K-PER-GROUP view (the top-3 "
        "distinct values per customer, NULL-padded): the k-extrema "
        "generalization the support construction gives for free (r16 "
        "verdict item 8) — the (group, value) -> live-count multiset "
        "MIN/MAX already maintain is exactly what a leaderboard needs, "
        "so JoinViewSpec(topks=...) serves rank columns <name>1..k from "
        "the same fold with NO extra state, and a delete evicting the "
        "current leader is exact by construction (the case a max-only "
        "or sketch-style maintenance cannot recover without a rescan). "
        "The changelog is the hicard gate's (value bumps re-ranking "
        "leaders, customer re-points moving value sets between groups, "
        "deletes shrinking below k so the pads must return to NULL) "
        "across maxRecordsPerBatch=25 boundaries; the oracle pivots "
        "ROW_NUMBER over the distinct (cust, v) pairs. Rides the "
        "epoch-backed support fold (O(|batch|) writes per trigger, the "
        "r17 landing) with the per-customer group domain; serve sorts "
        "each group's live DISTINCT value set and takes k — bounded by "
        "the support rows, never a rescan of fact state. Eviction "
        "semantics additionally unit-pinned by "
        "tests/test_join_ivm_outer.py::TestTopkPerGroup.",
)
def cdc_stream_ivm_topk_per_group(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import functions as F

    _register_source(spark)
    run = uuid.uuid4().hex[:12]
    base = tempfile.mkdtemp(prefix=f"pgcdc_ivmtk_{run}_")
    arch = os.path.join(base, "wal")

    from postgresql_cdc_spark.streaming import join_ivm
    from postgresql_cdc_spark.streaming.source import write_wal_archive

    write_wal_archive(arch, _hc_frames())
    state = os.path.join(base, "state")
    os.makedirs(state)

    spec = join_ivm.JoinViewSpec(
        fact_ddl="id long, cust long, v int, op string, lsn long",
        fact_key="id",
        fact_payload=("cust", "v"),
        group_cols=("cust",),
        measures=(("dq", "v"),),
        topks=(("top", "v", "int", 3, "max"),),
    )

    def ivm_batch(batch_df: DataFrame, batch_id: int) -> None:
        decoded = batch_df.select(
            F.element_at("columns", "id").cast("long").alias("id"),
            F.element_at("columns", "cust").cast("long").alias("cust"),
            F.element_at("columns", "v").cast("int").alias("v"),
            "op", "lsn",
        )
        join_ivm.apply_batch(
            batch_df.sparkSession, state, batch_id, None, decoded,
            spec=spec,
        )

    stream = (
        spark.readStream.format("pgcdc")
        .option("path", arch)
        .option("maxRecordsPerBatch", "25")
        .load()
    )
    q = (
        stream.writeStream.foreachBatch(ivm_batch)
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .start()
    )
    _drain_bounded(q)

    return join_ivm.latest_view(spark, state, spec).select(
        "cust", F.col("dn").alias("n_rows"), F.col("dq").alias("total"),
        F.col("top1").cast("int").alias("top1"),
        F.col("top2").cast("int").alias("top2"),
        F.col("top3").cast("int").alias("top3"),
    )


# --- LEFT-OUTER-join IVM via the factorized-view pattern (r15) ----------------

@register(
    "cdc_stream_ivm_left_join",
    f"""
    WITH dim AS (
        SELECT i AS id,
               CASE WHEN i % 4 = 0 THEN (i + 1) % 3 ELSE i % 3 END AS grp
        FROM range({_N_DIM}) t(i) WHERE i % 7 <> 0),
    fact AS (
        SELECT i AS fid,
               CASE WHEN i % 10 = 0 THEN (i + 1) % {_N_DIM}
                    ELSE i % {_N_DIM} END AS did,
               (i * 11) % 29 + CASE WHEN i % 5 = 0 THEN 50 ELSE 0 END
                 AS amount
        FROM range({_N_FACT}) t(i) WHERE i % 9 <> 0)
    SELECT CAST(dim.grp AS INT) AS grp,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(amount) AS BIGINT) AS total
    FROM fact LEFT JOIN dim ON fact.did = dim.id
    GROUP BY 1
    """,
    doc="STREAMING maintenance of a LEFT OUTER join view — the algebra "
        "the inner delta rule deliberately scopes out (a dim delete "
        "must MOVE its facts to the NULL group, not drop them). "
        "Maintained with the FACTORIZED-VIEW pattern real engines use "
        "for outer joins — since r17 expressed INSIDE the kernel as "
        "JoinViewSpec(join_type='left'), so this gate runs the same "
        "apply_batch/latest_view path as every inner gate: the per-FK "
        "fact aggregate M1(did -> count, sum) folds through the "
        "high-cardinality epoch store (per-batch I/O = the batch's "
        "grouped deltas) and the dim batch folds into its kv state, "
        "then the serve OUTER-joins the TWO small maintained tables and "
        "re-groups: facts whose FK resolves to no live dim surface as "
        "the NULL-group row. Dim regroups, FK re-points, and "
        "double-sided deletes all reduce to single-table maintenance; "
        "the serve's dim read goes through M1's distinct FKs "
        "(probe_key_state — serve cost tracks |M1|, not |dim|; pruning "
        "pinned by test_left_join_serve_prunes_dim_scan). The same WAL "
        "changelog as the inner gate, so the two answers differ exactly "
        "by the dangling mass — the NULL row the inner gate drops. "
        "Replay contract unchanged: both maintained tables resolve "
        "strictly below the batch id and replay via dynamic epoch "
        "overwrite.",
)
def cdc_stream_ivm_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_outer_join_gate(spark, "left", "ivml")


def _run_outer_join_gate(
    spark: SparkSession,
    join_type: str,
    tag: str,
    extrema: tuple = (),
    distincts: tuple = (),
) -> DataFrame:
    """Shared body of the outer-join IVM gates: since r17 the factorized
    construction lives INSIDE the kernel (``JoinViewSpec(join_type=...)``
    — the r16 verdict's item 2), so left/right/full all run the same
    ``apply_batch``/``latest_view`` path as every inner gate: M1 (the
    per-FK fact aggregate) folds through the epoch store, the dim batch
    folds into its kv state, and the serve outer-joins the two small
    maintained tables — with the M1-pruned dim probe for LEFT
    (probe_key_state; pinned by
    tests/test_join_ivm.py::test_left_join_serve_prunes_dim_scan) and
    the full dim read for right/full, where every dim row is part of
    the answer. Extrema/COUNT(DISTINCT) entries ride the kernel's
    support tables, keyed by M1's FK so dim changes never touch them."""
    from pyspark.sql import functions as F

    from postgresql_cdc_spark.streaming import join_ivm
    from postgresql_cdc_spark.streaming.source import write_wal_archive

    _register_source(spark)
    run = uuid.uuid4().hex[:12]
    base = tempfile.mkdtemp(prefix=f"pgcdc_{tag}_{run}_")
    arch = os.path.join(base, "wal")
    write_wal_archive(arch, _ivm_join_frames())
    state = os.path.join(base, "state")
    os.makedirs(state)
    spec = join_ivm.JoinViewSpec(
        fact_ddl="fid long, did long, amount int, op string, lsn long",
        fact_key="fid",
        fact_payload=("did", "amount"),
        group_cols=("grp",),
        measures=(("dq", "amount"),),
        extrema=extrema,
        distincts=distincts,
        dims=(join_ivm.DimSpec(
            ddl="id long, grp int, op string, lsn long",
            key="id", payload=("grp",), fact_fk="did",
        ),),
        join_type=join_type,
    )

    def ivm_batch(batch_df: DataFrame, batch_id: int) -> None:
        d_batch = batch_df.where(F.col("table") == "dim_grp").select(
            F.element_at("columns", "id").cast("long").alias("id"),
            F.element_at("columns", "grp").cast("int").alias("grp"),
            "op", "lsn",
        )
        f_batch = batch_df.where(F.col("table") == "fact_amt").select(
            F.element_at("columns", "fid").cast("long").alias("fid"),
            F.element_at("columns", "did").cast("long").alias("did"),
            F.element_at("columns", "amount").cast("int").alias("amount"),
            "op", "lsn",
        )
        join_ivm.apply_batch(
            batch_df.sparkSession, state, batch_id, d_batch, f_batch,
            spec=spec,
        )

    stream = (
        spark.readStream.format("pgcdc")
        .option("path", arch)
        .option("maxRecordsPerBatch", "25")
        .load()
    )
    q = (
        stream.writeStream.foreachBatch(ivm_batch)
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .start()
    )
    _drain_bounded(q)

    extra = [e[0] for e in extrema] + [d[0] for d in distincts]
    return join_ivm.latest_view(spark, state, spec).select(
        "grp", F.col("dn").alias("n_rows"), F.col("dq").alias("total"),
        *extra,
    )


# --- multi-dimension (star/snowflake) join IVM through the spec'd kernel (r16)

_SNOW_CUST_REL = Relation(
    relation_id=16401,
    schema="public",
    name="cust_seg",
    replica_identity="d",
    columns=(
        ColumnMeta("cid", 20, flags=1),
        ColumnMeta("seg", 23),
    ),
)

_SNOW_PART_REL = Relation(
    relation_id=16402,
    schema="public",
    name="part_brand",
    replica_identity="d",
    columns=(
        ColumnMeta("pid", 20, flags=1),
        ColumnMeta("brand", 23),
        ColumnMeta("rate", 23),
    ),
)

_SNOW_ITEM_REL = Relation(
    relation_id=16403,
    schema="public",
    name="sale_items",
    replica_identity="d",
    columns=(
        ColumnMeta("iid", 20, flags=1),
        ColumnMeta("cid", 20),
        ColumnMeta("pid", 20),
        ColumnMeta("price", 23),
        ColumnMeta("qty", 23),
    ),
)

_N_SC = 12
_N_SP = 10
_N_SI = 120


def _snow_frames() -> list:
    """Deterministic THREE-table changelog for the star view: customers
    and parts insert, items insert referencing both, then a mixed txn
    updates all three relations at once (customer re-segments, part
    re-brands, item reprices with FK re-points on EITHER dimension), then
    a mixed delete txn leaves items dangling on either side."""
    frames = [
        (1, encode_relation(_SNOW_CUST_REL)),
        (2, encode_relation(_SNOW_PART_REL)),
        (3, encode_relation(_SNOW_ITEM_REL)),
    ]
    lsn, xid = 10, 1500

    def txn(rows):
        nonlocal lsn, xid
        lsn, xid = _append_txn(frames, rows, lsn, xid)

    txn([
        encode_insert(_SNOW_CUST_REL.relation_id, [str(i), str(i % 3)])
        for i in range(_N_SC)
    ])
    txn([
        encode_insert(_SNOW_PART_REL.relation_id,
                      [str(i), str(i % 4), str(i % 3 + 1)])
        for i in range(_N_SP)
    ])
    txn([
        encode_insert(
            _SNOW_ITEM_REL.relation_id,
            [str(i), str(i % _N_SC), str((i * 3) % _N_SP),
             str((i * 7) % 23 + 1), str(i % 5 + 1)],
        )
        for i in range(_N_SI)
    ])
    # one mixed txn touching all three relations: the same-batch
    # cross-delta terms of the N-ary rule must count exactly once
    txn([
        encode_update(_SNOW_CUST_REL.relation_id,
                      [str(i), str((i + 1) % 3)])
        for i in range(0, _N_SC, 4)
    ] + [
        encode_update(_SNOW_PART_REL.relation_id,
                      [str(i), str((i + 2) % 4), str(i % 3 + 1)])
        for i in range(0, _N_SP, 3)
    ] + [
        encode_update(
            _SNOW_ITEM_REL.relation_id,
            [
                str(i),
                str((i + 5) % _N_SC if i % 18 == 0 else i % _N_SC),
                str((i * 3 + 7) % _N_SP if i % 24 == 0 else (i * 3) % _N_SP),
                str((i * 7) % 23 + 41),
                str(i % 5 + 1),
            ],
        )
        for i in range(0, _N_SI, 6)
    ])
    txn([
        encode_delete(_SNOW_CUST_REL.relation_id, [str(i), None])
        for i in range(0, _N_SC, 5)
    ] + [
        encode_delete(_SNOW_PART_REL.relation_id, [str(i), None, None])
        for i in range(0, _N_SP, 7)
    ] + [
        encode_delete(_SNOW_ITEM_REL.relation_id,
                      [str(i), None, None, None, None])
        for i in range(0, _N_SI, 11)
    ])
    return frames


@register(
    "cdc_stream_ivm_snowflake",
    f"""
    WITH cust AS (
        SELECT i AS cid,
               CASE WHEN i % 4 = 0 THEN (i + 1) % 3 ELSE i % 3 END AS seg
        FROM range({_N_SC}) t(i) WHERE i % 5 <> 0),
    part AS (
        SELECT i AS pid,
               CASE WHEN i % 3 = 0 THEN (i + 2) % 4 ELSE i % 4 END AS brand,
               i % 3 + 1 AS rate
        FROM range({_N_SP}) t(i) WHERE i % 7 <> 0),
    fact AS (
        SELECT i AS iid,
               CASE WHEN i % 18 = 0 THEN (i + 5) % {_N_SC}
                    ELSE i % {_N_SC} END AS cid,
               CASE WHEN i % 24 = 0 THEN (i * 3 + 7) % {_N_SP}
                    ELSE (i * 3) % {_N_SP} END AS pid,
               (i * 7) % 23 + 1 + CASE WHEN i % 6 = 0 THEN 40 ELSE 0 END
                 AS price,
               i % 5 + 1 AS qty
        FROM range({_N_SI}) t(i) WHERE i % 11 <> 0)
    SELECT CAST(seg AS INT) AS seg,
           CAST(brand AS INT) AS brand,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(price * qty) AS BIGINT) AS revenue,
           CAST(SUM(qty * rate) AS BIGINT) AS units_w,
           CAST(MAX(price) AS INT) AS max_price
    FROM fact JOIN cust USING (cid) JOIN part USING (pid)
    GROUP BY 1, 2
    """,
    doc="STREAMING IVM of a MULTI-DIMENSION (star) join view — the r15 "
        "verdict's top item: fact JOIN customer JOIN part, grouped by "
        "the composite (segment, brand), maintained through the SAME "
        "spec'd kernel as every other view (JoinViewSpec with dims=two "
        "DimSpecs). The N-ary counting-IVM delta rule runs fact-first "
        "with one term per relation — dF x C_old x P_old, F_new x dC x "
        "P_old, F_new x C_new x dP — so the triangular new/old split "
        "makes same-batch changes on all THREE relations (the mixed txn "
        "here re-segments customers, re-brands parts, reprices items and "
        "re-points item FKs at both dimensions at once, chunked at "
        "maxRecordsPerBatch=25 so txns straddle batch boundaries) count "
        "exactly once. The view also carries a support-counted MAX "
        "extrema measure (max_price) — deletes evicting the current "
        "maximum re-derive it from the (group, value) support table, "
        "never from history. Per dimension the kernel keeps a by-FK "
        "arrangement (signed Z-set, consolidation-compacted, clustered "
        "by that FK) so each cross term probes only the dim delta's "
        "keys; all dimension-state reads are pushed key probes over "
        "clustered base folds, all dim sides join as batch-bounded "
        "broadcasts. The final view must equal the closed-form one-shot "
        "three-way join aggregate. Scale: per-batch state I/O is "
        "O(|batch|) per store; cross-term carriers are bounded by the "
        "dim-delta fan-out and materialized once; no SMJ anywhere in "
        "the per-batch plan (fuzzed two-dim schedules in "
        "tests/test_join_ivm_fuzz.py).",
)
def cdc_stream_ivm_snowflake(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from postgresql_cdc_spark.streaming import join_ivm
    from postgresql_cdc_spark.streaming.source import write_wal_archive

    _register_source(spark)
    run = uuid.uuid4().hex[:12]
    base = tempfile.mkdtemp(prefix=f"pgcdc_ivmsn_{run}_")
    arch = os.path.join(base, "wal")
    write_wal_archive(arch, _snow_frames())
    state = os.path.join(base, "state")
    os.makedirs(state)

    spec = join_ivm.JoinViewSpec(
        fact_ddl="iid long, cid long, pid long, price int, qty int, "
                 "op string, lsn long",
        fact_key="iid",
        fact_payload=("cid", "pid", "price", "qty"),
        group_cols=("seg", "brand"),
        measures=(("revenue", "price * qty"),
                  # q9-profit shape: a measure MIXING fact and dim
                  # attributes (rate varies WITHIN a (seg, brand) group,
                  # so this is not derivable from the group key) — each
                  # delta-rule term evaluates it on ITS version of the
                  # joined row (exposed_dim_cols)
                  ("units_w", "qty * rate")),
        extrema=(("max_price", "max", "price", "int"),),
        dims=(
            join_ivm.DimSpec(
                ddl="cid long, seg int, op string, lsn long",
                key="cid", payload=("seg",), fact_fk="cid",
            ),
            join_ivm.DimSpec(
                ddl="pid long, brand int, rate int, op string, lsn long",
                key="pid", payload=("brand", "rate"), fact_fk="pid",
            ),
        ),
    )

    def ivm_batch(batch_df: DataFrame, batch_id: int) -> None:
        c_batch = batch_df.where(F.col("table") == "cust_seg").select(
            F.element_at("columns", "cid").cast("long").alias("cid"),
            F.element_at("columns", "seg").cast("int").alias("seg"),
            "op", "lsn",
        )
        p_batch = batch_df.where(F.col("table") == "part_brand").select(
            F.element_at("columns", "pid").cast("long").alias("pid"),
            F.element_at("columns", "brand").cast("int").alias("brand"),
            F.element_at("columns", "rate").cast("int").alias("rate"),
            "op", "lsn",
        )
        f_batch = batch_df.where(F.col("table") == "sale_items").select(
            F.element_at("columns", "iid").cast("long").alias("iid"),
            F.element_at("columns", "cid").cast("long").alias("cid"),
            F.element_at("columns", "pid").cast("long").alias("pid"),
            F.element_at("columns", "price").cast("int").alias("price"),
            F.element_at("columns", "qty").cast("int").alias("qty"),
            "op", "lsn",
        )
        join_ivm.apply_batch(
            batch_df.sparkSession, state, batch_id,
            [c_batch, p_batch], f_batch, spec=spec,
        )

    stream = (
        spark.readStream.format("pgcdc")
        .option("path", arch)
        .option("maxRecordsPerBatch", "25")
        .load()
    )
    q = (
        stream.writeStream.foreachBatch(ivm_batch)
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .start()
    )
    _drain_bounded(q)
    return join_ivm.latest_view(spark, state, spec).select(
        "seg", "brand",
        F.col("dn").alias("n_items"),
        "revenue", "units_w", "max_price",
    )


# --- FULL-OUTER-join IVM via the same factorized-view pattern (r16) -----------

@register(
    "cdc_stream_ivm_full_outer_join",
    f"""
    WITH dim AS (
        SELECT i AS id,
               CASE WHEN i % 4 = 0 THEN (i + 1) % 3 ELSE i % 3 END AS grp
        FROM range({_N_DIM}) t(i) WHERE i % 7 <> 0),
    fact AS (
        SELECT i AS fid,
               CASE WHEN i % 10 = 0 THEN (i + 1) % {_N_DIM}
                    ELSE i % {_N_DIM} END AS did,
               (i * 11) % 29 + CASE WHEN i % 5 = 0 THEN 50 ELSE 0 END
                 AS amount
        FROM range({_N_FACT}) t(i) WHERE i % 9 <> 0)
    SELECT CAST(dim.grp AS INT) AS grp,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(amount) AS BIGINT) AS total
    FROM fact FULL JOIN dim ON fact.did = dim.id
    GROUP BY 1
    """,
    doc="STREAMING maintenance of a FULL OUTER join view — both dangling "
        "directions at once: facts whose dim was deleted surface in the "
        "NULL group (the left-join gate's case) AND dims with no facts "
        "surface as one counted row with a NULL amount contribution. "
        "Same factorized-view pattern as the left gate — since r17 "
        "expressed inside the kernel as JoinViewSpec(join_type='full'): "
        "maintain the per-FK fact aggregate M1(did -> count, "
        "sum) with the epoch-backed high-cardinality fold and the dim kv "
        "state as two SINGLE-TABLE views, then FULL-outer-join the two "
        "small maintained tables at serve time — per output row the "
        "count contribution is coalesce(dn, 1) (a factless dim is one "
        "joined row) and the sum contribution is dq (NULL for factless "
        "dims, exactly SUM(amount)'s null-skipping semantics). Unlike "
        "the left serve, the dim read here is necessarily FULL-state — "
        "factless dims are part of the ANSWER, so serve cost is "
        "O(|M1| + |dim|), the view's own output bound. The same WAL "
        "changelog as the inner/left gates, so the three answers differ "
        "exactly by the dangling masses. Replay contract unchanged: "
        "both maintained tables resolve strictly below the batch id and "
        "replay via dynamic epoch overwrite.",
)
def cdc_stream_ivm_full_outer_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _run_outer_join_gate(spark, "full", "ivmf")


# --- RIGHT-OUTER-join IVM: the symmetric factorized case (r16) ----------------

@register(
    "cdc_stream_ivm_right_outer_join",
    f"""
    WITH dim AS (
        SELECT i AS id,
               CASE WHEN i % 4 = 0 THEN (i + 1) % 3 ELSE i % 3 END AS grp
        FROM range({_N_DIM}) t(i) WHERE i % 7 <> 0),
    fact AS (
        SELECT i AS fid,
               CASE WHEN i % 10 = 0 THEN (i + 1) % {_N_DIM}
                    ELSE i % {_N_DIM} END AS did,
               (i * 11) % 29 + CASE WHEN i % 5 = 0 THEN 50 ELSE 0 END
                 AS amount
        FROM range({_N_FACT}) t(i) WHERE i % 9 <> 0)
    SELECT CAST(dim.grp AS INT) AS grp,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(amount) AS BIGINT) AS total
    FROM fact RIGHT JOIN dim ON fact.did = dim.id
    GROUP BY 1
    """,
    doc="STREAMING maintenance of a RIGHT OUTER join view — the "
        "symmetric case completing the factorized outer-join family "
        "(inner: cdc_stream_ivm_join_sums; left: ..._left_join; full: "
        "..._full_outer_join; all four share ONE WAL changelog so their "
        "answers differ exactly by the dangling masses). RIGHT outer "
        "preserves every dim: factless dims surface as one counted row "
        "with a NULL amount contribution, while facts whose dim was "
        "deleted drop out (no NULL group — the left gate's case "
        "reversed). Maintained from the same two single-table views — "
        "since r17 inside the kernel as JoinViewSpec(join_type='right') "
        "— the per-FK fact aggregate M1(did -> count, sum) on the "
        "epoch-backed high-cardinality fold and the dim kv state, "
        "joined dim-preserving at serve time: n_rows = "
        "SUM(coalesce(dn, 1)) over dims' rows, total = SUM(dq) with "
        "NULL-skipping semantics. Serve reads the full dim state "
        "because every dim is part of the answer (the view's own output "
        "bound, O(|M1| + |dim|)); M1 joins as the lazy folded read — "
        "this serve never probes off M1's keys, so there is nothing to "
        "collect (unlike the left gate, where probe_key_state collects "
        "the key set anyway). Replay contract unchanged: both "
        "maintained tables resolve strictly below the batch id and "
        "replay via dynamic epoch overwrite.",
)
def cdc_stream_ivm_right_outer_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _run_outer_join_gate(spark, "right", "ivmro")


# --- outer join WITH extrema/COUNT(DISTINCT): the shape the r16 ---------------
# hand-composed serves could not express (r16 verdict item 2's "done" bar)

@register(
    "cdc_stream_ivm_outer_join_extrema",
    f"""
    WITH dim AS (
        SELECT i AS id,
               CASE WHEN i % 4 = 0 THEN (i + 1) % 3 ELSE i % 3 END AS grp
        FROM range({_N_DIM}) t(i) WHERE i % 7 <> 0),
    fact AS (
        SELECT i AS fid,
               CASE WHEN i % 10 = 0 THEN (i + 1) % {_N_DIM}
                    ELSE i % {_N_DIM} END AS did,
               (i * 11) % 29 + CASE WHEN i % 5 = 0 THEN 50 ELSE 0 END
                 AS amount
        FROM range({_N_FACT}) t(i) WHERE i % 9 <> 0)
    SELECT CAST(dim.grp AS INT) AS grp,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(amount) AS BIGINT) AS total,
           CAST(MAX(amount) AS INT) AS max_amt,
           CAST(COUNT(DISTINCT amount) AS BIGINT) AS n_amounts
    FROM fact FULL JOIN dim ON fact.did = dim.id
    GROUP BY 1
    """,
    doc="STREAMING maintenance of MAX and COUNT(DISTINCT) over a FULL "
        "OUTER join view — the aggregate class the r16 hand-composed "
        "outer serves could not express, unlocked by folding the "
        "factorized outer construction into the kernel "
        "(JoinViewSpec(join_type='full'), r17): support tables are keyed "
        "by M1's FK — NOT the final group — so dim regroups and deletes "
        "never rewrite them; the serve re-derives each group's extremum "
        "and distinct count THROUGH the dim join (countDistinct, since "
        "one value can live under several FKs mapping to one group), "
        "with a group of only factless dims serving MAX = NULL and "
        "COUNT(DISTINCT) = 0 — SQL's semantics for an all-NULL group. "
        "MAX and COUNT(DISTINCT) of the same fact column share ONE "
        "support table (the r16 sharing rule, now on the outer path). "
        "The same WAL changelog as the whole outer family, so this "
        "answer differs from cdc_stream_ivm_full_outer_join by exactly "
        "the two support-derived columns. Scale: supports fold through "
        "the epoch store (O(|batch|) writes per trigger — the r17 "
        "epoch-backed support landing), serve reads the live multiset "
        "bounded by distinct (FK, value) pairs, and both dangling "
        "directions ride the same two maintained tables as the plain "
        "full-outer gate.",
)
def cdc_stream_ivm_outer_join_extrema(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _run_outer_join_gate(
        spark, "full", "ivmfx",
        extrema=(("max_amt", "max", "amount", "int"),),
        distincts=(("n_amounts", "amount", "int"),),
    )


# --- COUNT(DISTINCT) through the kernel's support construction (r16) ----------

@register(
    "cdc_stream_ivm_count_distinct",
    f"""
    WITH dim AS (
        SELECT i AS pid,
               CASE WHEN i % 3 = 0 THEN (i + 2) % 4 ELSE i % 4 END AS cat,
               i % 2 AS tier
        FROM range({_N_PD}) t(i) WHERE i % 11 <> 0),
    fact AS (
        SELECT i AS iid,
               CASE WHEN i % 12 = 0 THEN (i + 1) % {_N_PD}
                    ELSE i % {_N_PD} END AS pid,
               (i * 7) % 23 + 1 + CASE WHEN i % 4 = 0 THEN 30 ELSE 0 END
                 AS price,
               i % 5 + 1 AS qty
        FROM range({_N_IT}) t(i) WHERE i % 10 <> 0)
    SELECT CAST(cat AS INT) AS cat,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(price * qty) AS BIGINT) AS revenue,
           CAST(COUNT(DISTINCT pid) AS BIGINT) AS n_parts,
           CAST(COUNT(DISTINCT price) AS BIGINT) AS n_prices,
           CAST(MAX(price) AS INT) AS max_price
    FROM fact JOIN dim USING (pid)
    GROUP BY 1
    """,
    doc="STREAMING maintenance of COUNT(DISTINCT) over a JOIN view — the "
        "other classic non-delta-adjustable aggregate (with MIN/MAX), "
        "completing the kernel's practical aggregate class: abelian SUMs "
        "adjust from deltas alone; extrema and distinct counts both need "
        "the surviving value multiset, and both ride the SAME support "
        "construction ((group, value) -> live count folded from the "
        "signed view deltas). The distinct count is exactly the number "
        "of values with positive support, so serve is F.count over the "
        "multiset the extrema already re-derive from — and a distinct "
        "and an extremum over the same expression share ONE physical "
        "support table: this view's three support-derived aggregates "
        "(COUNT(DISTINCT pid), COUNT(DISTINCT price), MAX(price)) cost "
        "two support folds, since n_prices and max_price share the "
        "price-valued multiset. The changelog is the revenue gate's "
        "(part regroups, item reprices, FK re-points, double-sided "
        "deletes across maxRecordsPerBatch=25 boundaries), so FK "
        "re-points move a part's item-set between categories and "
        "deletes shrink value multisets — the schedules where a "
        "sketch-style or max-only maintenance goes wrong; the kernel's "
        "fuzz drives distinct measures through arbitrary two-dim "
        "schedules too. NULL semantics match SQL: NULL values never "
        "enter the supports and an all-NULL group serves 0. Scale: "
        "support tables are bounded by distinct (group, value) pairs "
        "and each batch writes only its |changed (group, value)| rows — "
        "same lifecycle (epoch-store kv and aggregate state, pruned "
        "probes, strictly-below replay) as every kernel gate.",
)
def cdc_stream_ivm_count_distinct(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import functions as F

    from postgresql_cdc_spark.streaming import join_ivm
    from postgresql_cdc_spark.streaming.source import write_wal_archive

    _register_source(spark)
    run = uuid.uuid4().hex[:12]
    base = tempfile.mkdtemp(prefix=f"pgcdc_ivmcd_{run}_")
    arch = os.path.join(base, "wal")
    write_wal_archive(arch, _rev_frames())
    state = os.path.join(base, "state")
    os.makedirs(state)

    spec = join_ivm.JoinViewSpec(
        fact_ddl="iid long, pid long, price int, qty int, op string, lsn long",
        fact_key="iid",
        fact_payload=("pid", "price", "qty"),
        dims=(join_ivm.DimSpec(
            ddl="pid long, cat int, tier int, op string, lsn long",
            key="pid", payload=("cat", "tier"), fact_fk="pid",
        ),),
        group_cols=("cat",),
        measures=(("revenue", "price * qty"),),
        extrema=(("max_price", "max", "price", "int"),),
        distincts=(("n_parts", "pid", "long"), ("n_prices", "price", "int")),
    )

    def ivm_batch(batch_df: DataFrame, batch_id: int) -> None:
        d_batch = batch_df.where(F.col("table") == "part_cat").select(
            F.element_at("columns", "pid").cast("long").alias("pid"),
            F.element_at("columns", "cat").cast("int").alias("cat"),
            F.element_at("columns", "tier").cast("int").alias("tier"),
            "op", "lsn",
        )
        f_batch = batch_df.where(F.col("table") == "order_items").select(
            F.element_at("columns", "iid").cast("long").alias("iid"),
            F.element_at("columns", "pid").cast("long").alias("pid"),
            F.element_at("columns", "price").cast("int").alias("price"),
            F.element_at("columns", "qty").cast("int").alias("qty"),
            "op", "lsn",
        )
        join_ivm.apply_batch(
            batch_df.sparkSession, state, batch_id, d_batch, f_batch,
            spec=spec,
        )

    stream = (
        spark.readStream.format("pgcdc")
        .option("path", arch)
        .option("maxRecordsPerBatch", "25")
        .load()
    )
    q = (
        stream.writeStream.foreachBatch(ivm_batch)
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .start()
    )
    _drain_bounded(q)
    return join_ivm.latest_view(spark, state, spec).select(
        "cat",
        F.col("dn").alias("n_items"),
        "revenue", "n_parts", "n_prices", "max_price",
    )


# --- CHAINED snowflake (fact -> dim -> dim) via view composition (r16) --------

_CHAIN_NAT_REL = Relation(
    relation_id=16404,
    schema="public",
    name="nations",
    replica_identity="d",
    columns=(
        ColumnMeta("nk", 20, flags=1),
        ColumnMeta("region", 23),
    ),
)

_CHAIN_CUS_REL = Relation(
    relation_id=16405,
    schema="public",
    name="customers",
    replica_identity="d",
    columns=(
        ColumnMeta("cid", 20, flags=1),
        ColumnMeta("nk", 20),
        ColumnMeta("seg", 23),
    ),
)

_CHAIN_ORD_REL = Relation(
    relation_id=16406,
    schema="public",
    name="orders_amt",
    replica_identity="d",
    columns=(
        ColumnMeta("oid", 20, flags=1),
        ColumnMeta("cid", 20),
        ColumnMeta("amount", 23),
    ),
)

_N_NAT = 5
_N_CUS = 18
_N_ORD = 140


def _chain_frames() -> list:
    """Deterministic three-level changelog for the CHAINED snowflake
    (orders -> customers -> nations): all three levels insert, a mixed
    update txn re-regions nations (nk%3==1 — the cascade case: every
    customer of that nation regroups transitively), re-nations customers
    (cid%4==0) and reprices/re-points orders (oid%6==0 / oid%18==0), then
    a mixed delete txn removes a nation (nk==2 — its customers' orders
    dangle TRANSITIVELY), customers (cid%9==4) and orders (oid%11==0)."""
    frames = [
        (1, encode_relation(_CHAIN_NAT_REL)),
        (2, encode_relation(_CHAIN_CUS_REL)),
        (3, encode_relation(_CHAIN_ORD_REL)),
    ]
    lsn, xid = 10, 1800

    def txn(rows):
        nonlocal lsn, xid
        lsn, xid = _append_txn(frames, rows, lsn, xid)

    txn([
        encode_insert(_CHAIN_NAT_REL.relation_id, [str(i), str(i % 2)])
        for i in range(_N_NAT)
    ])
    txn([
        encode_insert(
            _CHAIN_CUS_REL.relation_id,
            [str(i), str(i % _N_NAT), str(i % 3)],
        )
        for i in range(_N_CUS)
    ])
    for start in range(0, _N_ORD, 70):
        txn([
            encode_insert(
                _CHAIN_ORD_REL.relation_id,
                [str(i), str(i % _N_CUS), str((i * 13) % 37 + 1)],
            )
            for i in range(start, min(start + 70, _N_ORD))
        ])
    txn([
        encode_update(
            _CHAIN_NAT_REL.relation_id, [str(i), str(i % 2 + 2)]
        )
        for i in range(_N_NAT) if i % 3 == 1
    ] + [
        encode_update(
            _CHAIN_CUS_REL.relation_id,
            [str(i), str((i + 1) % _N_NAT), str(i % 3)],
        )
        for i in range(0, _N_CUS, 4)
    ] + [
        encode_update(
            _CHAIN_ORD_REL.relation_id,
            [
                str(i),
                str((i + 1) % _N_CUS if i % 18 == 0 else i % _N_CUS),
                str((i * 13) % 37 + 51),
            ],
        )
        for i in range(0, _N_ORD, 6)
    ])
    txn([
        encode_delete(_CHAIN_NAT_REL.relation_id, [str(2), None])
    ] + [
        encode_delete(_CHAIN_CUS_REL.relation_id, [str(i), None, None])
        for i in range(_N_CUS) if i % 9 == 4
    ] + [
        encode_delete(_CHAIN_ORD_REL.relation_id, [str(i), None, None])
        for i in range(0, _N_ORD, 11)
    ])
    return frames


@register(
    "cdc_stream_ivm_dim_chain",
    f"""
    WITH nat AS (
        SELECT i AS nk,
               CASE WHEN i % 3 = 1 THEN i % 2 + 2 ELSE i % 2 END AS region
        FROM range({_N_NAT}) t(i) WHERE i <> 2),
    cus AS (
        SELECT i AS cid,
               CASE WHEN i % 4 = 0 THEN (i + 1) % {_N_NAT}
                    ELSE i % {_N_NAT} END AS nk,
               i % 3 AS seg
        FROM range({_N_CUS}) t(i) WHERE i % 9 <> 4),
    ord AS (
        SELECT i AS oid,
               CASE WHEN i % 18 = 0 THEN (i + 1) % {_N_CUS}
                    ELSE i % {_N_CUS} END AS cid,
               (i * 13) % 37 + 1 + CASE WHEN i % 6 = 0 THEN 50 ELSE 0 END
                 AS amount
        FROM range({_N_ORD}) t(i) WHERE i % 11 <> 0)
    SELECT CAST(seg AS INT) AS seg,
           CAST(region AS INT) AS region,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(amount) AS BIGINT) AS total
    FROM ord JOIN cus USING (cid) JOIN nat USING (nk)
    GROUP BY 1, 2
    """,
    doc="STREAMING maintenance of a CHAINED snowflake — orders join "
        "customers join nations, where the second dimension hangs off "
        "the FIRST (cus.nk -> nat.nk), not off the fact: the star "
        "kernel's fact-FK joins cannot express it directly. Maintained "
        "by VIEW COMPOSITION, the algebra IVM engines stack on "
        "(join_ivm.apply_chain_batch — the one recipe this gate, the "
        "kernel fuzz and the scale soak all drive): the composite "
        "dimension customers x nations is itself a maintained KEYED "
        "view (JoinViewSpec grouped by the customer key with the "
        "chained attributes as group columns; its sums fold is SKIPPED "
        "— fold_sums=False — since only its deltas are consumed), its "
        "per-batch signed deltas (apply_batch(..., return_delta=True)) "
        "adapt into a latest-wins changelog (changelog_from_view_deltas "
        "— which raises loudly on a non-keyed upstream), and that "
        "changelog is the dim STREAM of the ordinary fact-x-dim view "
        "downstream. A nation's re-region fans out through the "
        "composite's delta rule into per-customer dim updates downstream "
        "— exactly the transitive cascade a monolithic chain rule would "
        "compute, factored into two bounded single-hop steps; a nation "
        "DELETE transitively dangles its customers' orders out of the "
        "inner-join view. The changelog exercises all three levels "
        "(nation re-regions + delete, customer re-nations + deletes, "
        "order reprices/re-points/deletes) across micro-batch boundaries "
        "(maxRecordsPerBatch=25), and the served view must equal the "
        "closed-form three-way join aggregate. Scale: each hop keeps the "
        "kernel's O(|batch| + delta fan-out) per-trigger contract; the "
        "composite's per-batch output is bounded by its OWN delta rule "
        "(|dC| + |dN| x affected customers), so a chain of k dims costs "
        "k bounded single-hop maintenances — never a k-way join of "
        "full states.",
)
def cdc_stream_ivm_dim_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from postgresql_cdc_spark.streaming import join_ivm
    from postgresql_cdc_spark.streaming.source import write_wal_archive

    _register_source(spark)
    run = uuid.uuid4().hex[:12]
    base = tempfile.mkdtemp(prefix=f"pgcdc_ivmch_{run}_")
    arch = os.path.join(base, "wal")
    write_wal_archive(arch, _chain_frames())
    comp_state = os.path.join(base, "comp_state")
    fact_state = os.path.join(base, "fact_state")
    os.makedirs(comp_state)
    os.makedirs(fact_state)

    comp_spec, fact_spec = join_ivm.chain_spec_pair()

    def ivm_batch(batch_df: DataFrame, batch_id: int) -> None:
        ss = batch_df.sparkSession
        n_batch = batch_df.where(F.col("table") == "nations").select(
            F.element_at("columns", "nk").cast("long").alias("nk"),
            F.element_at("columns", "region").cast("int").alias("region"),
            "op", "lsn",
        )
        c_batch = batch_df.where(F.col("table") == "customers").select(
            F.element_at("columns", "cid").cast("long").alias("cid"),
            F.element_at("columns", "nk").cast("long").alias("nk"),
            F.element_at("columns", "seg").cast("int").alias("seg"),
            "op", "lsn",
        )
        o_batch = batch_df.where(F.col("table") == "orders_amt").select(
            F.element_at("columns", "oid").cast("long").alias("oid"),
            F.element_at("columns", "cid").cast("long").alias("cid"),
            F.element_at("columns", "amount").cast("int").alias("amount"),
            "op", "lsn",
        )
        join_ivm.apply_chain_batch(
            ss,
            [(comp_state, comp_spec, c_batch),
             (fact_state, fact_spec, o_batch)],
            batch_id,
            top_d_batch=n_batch,
        )

    stream = (
        spark.readStream.format("pgcdc")
        .option("path", arch)
        .option("maxRecordsPerBatch", "25")
        .load()
    )
    q = (
        stream.writeStream.foreachBatch(ivm_batch)
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .start()
    )
    _drain_bounded(q)
    return join_ivm.latest_view(spark, fact_state, fact_spec).select(
        "seg", "region",
        F.col("dn").alias("n_orders"),
        "total",
    )


# --- MIXED shape: a STAR fact whose FIRST dim is itself chained (r17) ---------

_MIX_CH_REL = Relation(
    relation_id=16407,
    schema="public",
    name="channels",
    replica_identity="d",
    columns=(
        ColumnMeta("ch", 20, flags=1),
        ColumnMeta("kind", 23),
    ),
)

_MIX_ORD_REL = Relation(
    relation_id=16408,
    schema="public",
    name="orders_ch",
    replica_identity="d",
    columns=(
        ColumnMeta("oid", 20, flags=1),
        ColumnMeta("cid", 20),
        ColumnMeta("ch", 20),
        ColumnMeta("amount", 23),
    ),
)

_N_CH = 4


def _mixed_frames() -> list:
    """Four-table changelog for the MIXED shape: the chain gate's
    nations/customers cascade PLUS a channels dim hanging directly off
    the fact. The update txn touches all four levels at once (nation
    re-regions, customer re-nations, channel re-kinds, order
    reprice/re-point of BOTH FKs); the delete txn removes a nation
    (transitive dangle), customers, a channel (direct dangle), and
    orders — so both composition paths see danglers in one batch."""
    frames = [
        (1, encode_relation(_CHAIN_NAT_REL)),
        (2, encode_relation(_CHAIN_CUS_REL)),
        (3, encode_relation(_MIX_CH_REL)),
        (4, encode_relation(_MIX_ORD_REL)),
    ]
    lsn, xid = 10, 1900

    def txn(rows):
        nonlocal lsn, xid
        lsn, xid = _append_txn(frames, rows, lsn, xid)

    txn([
        encode_insert(_CHAIN_NAT_REL.relation_id, [str(i), str(i % 2)])
        for i in range(_N_NAT)
    ])
    txn([
        encode_insert(
            _CHAIN_CUS_REL.relation_id,
            [str(i), str(i % _N_NAT), str(i % 3)],
        )
        for i in range(_N_CUS)
    ])
    txn([
        encode_insert(_MIX_CH_REL.relation_id, [str(i), str(i % 3)])
        for i in range(_N_CH)
    ])
    for start in range(0, _N_ORD, 70):
        txn([
            encode_insert(
                _MIX_ORD_REL.relation_id,
                [str(i), str(i % _N_CUS), str(i % _N_CH),
                 str((i * 13) % 37 + 1)],
            )
            for i in range(start, min(start + 70, _N_ORD))
        ])
    txn([
        encode_update(
            _CHAIN_NAT_REL.relation_id, [str(i), str(i % 2 + 2)]
        )
        for i in range(_N_NAT) if i % 3 == 1
    ] + [
        encode_update(
            _CHAIN_CUS_REL.relation_id,
            [str(i), str((i + 1) % _N_NAT), str(i % 3)],
        )
        for i in range(0, _N_CUS, 4)
    ] + [
        encode_update(_MIX_CH_REL.relation_id, [str(i), str(i % 3 + 5)])
        for i in range(0, _N_CH, 2)
    ] + [
        encode_update(
            _MIX_ORD_REL.relation_id,
            [
                str(i),
                str((i + 1) % _N_CUS if i % 18 == 0 else i % _N_CUS),
                str((i + 1) % _N_CH if i % 12 == 0 else i % _N_CH),
                str((i * 13) % 37 + 51),
            ],
        )
        for i in range(0, _N_ORD, 6)
    ])
    txn([
        encode_delete(_CHAIN_NAT_REL.relation_id, [str(2), None])
    ] + [
        encode_delete(_CHAIN_CUS_REL.relation_id, [str(i), None, None])
        for i in range(_N_CUS) if i % 9 == 4
    ] + [
        encode_delete(_MIX_CH_REL.relation_id, [str(3), None])
    ] + [
        encode_delete(_MIX_ORD_REL.relation_id, [str(i), None, None, None])
        for i in range(0, _N_ORD, 11)
    ])
    return frames


@register(
    "cdc_stream_ivm_mixed_chain",
    f"""
    WITH nat AS (
        SELECT i AS nk,
               CASE WHEN i % 3 = 1 THEN i % 2 + 2 ELSE i % 2 END AS region
        FROM range({_N_NAT}) t(i) WHERE i <> 2),
    cus AS (
        SELECT i AS cid,
               CASE WHEN i % 4 = 0 THEN (i + 1) % {_N_NAT}
                    ELSE i % {_N_NAT} END AS nk,
               i % 3 AS seg
        FROM range({_N_CUS}) t(i) WHERE i % 9 <> 4),
    chn AS (
        SELECT i AS ch,
               CASE WHEN i % 2 = 0 THEN i % 3 + 5 ELSE i % 3 END AS kind
        FROM range({_N_CH}) t(i) WHERE i <> 3),
    ord AS (
        SELECT i AS oid,
               CASE WHEN i % 18 = 0 THEN (i + 1) % {_N_CUS}
                    ELSE i % {_N_CUS} END AS cid,
               CASE WHEN i % 12 = 0 THEN (i + 1) % {_N_CH}
                    ELSE i % {_N_CH} END AS ch,
               (i * 13) % 37 + 1 + CASE WHEN i % 6 = 0 THEN 50 ELSE 0 END
                 AS amount
        FROM range({_N_ORD}) t(i) WHERE i % 11 <> 0)
    SELECT CAST(seg AS INT) AS seg,
           CAST(region AS INT) AS region,
           CAST(kind AS INT) AS kind,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(amount) AS BIGINT) AS total
    FROM ord JOIN cus USING (cid) JOIN nat USING (nk) JOIN chn USING (ch)
    GROUP BY 1, 2, 3
    """,
    doc="STREAMING maintenance of a MIXED-shape view: a STAR fact with "
        "TWO dimensions where the FIRST dimension is itself CHAINED "
        "(orders x [customers x nations] x channels) — the r16 "
        "verdict's item 4, proving view composition stacks onto "
        "MULTI-dim downstream specs rather than only the 1-dim "
        "downstream the plain chain gate uses. The composite dimension "
        "customers x nations is a KEYED maintained view whose adapted "
        "changelog feeds the star's dims[0] stream, while the channels "
        "changelog rides alongside as dims[1] "
        "(apply_chain_batch's other_dim_batches; spec pair from "
        "join_ivm.mixed_chain_spec_pair — one source for gate, fuzz "
        "and soak). Downstream, the N-ary delta rule's triangular "
        "new/old split handles SAME-BATCH changes on the adapted "
        "composite stream AND the direct channel stream exactly once — "
        "the schedule class where a naive two-pass application "
        "double-counts. The changelog exercises all FOUR levels in one "
        "update txn (nation re-regions cascade transitively through "
        "the composite into per-customer updates; channel re-kinds hit "
        "dims[1] directly; orders re-point BOTH FKs) and the delete "
        "txn dangles both composition paths at once (nation delete -> "
        "transitive; channel delete -> direct). Scale: each hop keeps "
        "the kernel's O(|batch| + delta fan-out) per-trigger contract "
        "— the composite's fan-out bounds the adapted stream, and the "
        "star's per-dim arrangements keep every cross term "
        "batch-bounded and broadcast-only.",
)
def cdc_stream_ivm_mixed_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from postgresql_cdc_spark.streaming import join_ivm
    from postgresql_cdc_spark.streaming.source import write_wal_archive

    _register_source(spark)
    run = uuid.uuid4().hex[:12]
    base = tempfile.mkdtemp(prefix=f"pgcdc_ivmmx_{run}_")
    arch = os.path.join(base, "wal")
    write_wal_archive(arch, _mixed_frames())
    comp_state = os.path.join(base, "comp_state")
    fact_state = os.path.join(base, "fact_state")
    os.makedirs(comp_state)
    os.makedirs(fact_state)

    comp_spec, fact_spec = join_ivm.mixed_chain_spec_pair()

    def ivm_batch(batch_df: DataFrame, batch_id: int) -> None:
        ss = batch_df.sparkSession
        n_batch = batch_df.where(F.col("table") == "nations").select(
            F.element_at("columns", "nk").cast("long").alias("nk"),
            F.element_at("columns", "region").cast("int").alias("region"),
            "op", "lsn",
        )
        c_batch = batch_df.where(F.col("table") == "customers").select(
            F.element_at("columns", "cid").cast("long").alias("cid"),
            F.element_at("columns", "nk").cast("long").alias("nk"),
            F.element_at("columns", "seg").cast("int").alias("seg"),
            "op", "lsn",
        )
        ch_batch = batch_df.where(F.col("table") == "channels").select(
            F.element_at("columns", "ch").cast("long").alias("ch"),
            F.element_at("columns", "kind").cast("int").alias("kind"),
            "op", "lsn",
        )
        o_batch = batch_df.where(F.col("table") == "orders_ch").select(
            F.element_at("columns", "oid").cast("long").alias("oid"),
            F.element_at("columns", "cid").cast("long").alias("cid"),
            F.element_at("columns", "ch").cast("long").alias("ch"),
            F.element_at("columns", "amount").cast("int").alias("amount"),
            "op", "lsn",
        )
        join_ivm.apply_chain_batch(
            ss,
            [(comp_state, comp_spec, c_batch),
             (fact_state, fact_spec, o_batch, [ch_batch])],
            batch_id,
            top_d_batch=n_batch,
        )

    stream = (
        spark.readStream.format("pgcdc")
        .option("path", arch)
        .option("maxRecordsPerBatch", "25")
        .load()
    )
    q = (
        stream.writeStream.foreachBatch(ivm_batch)
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .start()
    )
    _drain_bounded(q)
    return join_ivm.latest_view(spark, fact_state, fact_spec).select(
        "seg", "region", "kind",
        F.col("dn").alias("n_orders"),
        "total",
    )
