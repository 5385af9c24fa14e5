"""Custom stateful streaming operators (`applyInPandasWithState`).

The reference's only stateful construct is the open-transaction buffer inside
its poll loop (`CdcEngine.java:110-129`); everything downstream is stateless
pass-through. A training-data ingest pipeline needs more: streaming EXACT
DEDUP — emit the first occurrence of each key ever seen, drop every later
one, across micro-batches and restarts.

Spark's built-in ``dropDuplicates`` on a stream requires a watermark to bound
state and silently re-admits keys older than it; this operator instead keeps
an explicit per-key seen-marker in the state store (checkpointed, restart-
safe), the exact semantics exact-dedup needs on an unbounded CDC feed.

Scale shape: state is hash-partitioned by key (one shuffle per micro-batch,
same as any keyed stateful op); per-key state is a single boolean-sized
marker, so state size is O(distinct keys) — for bounded corpora (content
hashes) this is the standard shape; for truly unbounded keys compose with a
TTL timeout.
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import StructType

from postgresql_cdc_spark.session import cache_zip_directories


def make_dedup_fn(order_col: str | None, ttl_ms: int | None):
    """State-update function for streaming exact dedup (factored out so its
    state-machine semantics are unit-testable without a streaming query).

    TTL semantics (``ttl_ms`` set): the seen-marker expires ``ttl_ms`` of
    processing time after the key's LAST sighting — the marker refreshes on
    every suppressed duplicate, so a continuously-arriving key stays deduped
    while a quiet key is forgotten and re-admitted. This bounds state to the
    keys seen within the TTL window, the standard composition for unbounded
    key domains.
    """
    ordc = order_col

    def fn(
        key: Any,
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        cache_zip_directories()  # runs in a Python worker, once per group
        if ttl_ms is not None and state.hasTimedOut:
            # quiet for >= ttl: forget the key so a future arrival re-emits
            state.remove()
            return
        if state.exists:
            # key already emitted in an earlier micro-batch — drain and drop
            for _ in pdfs:
                pass
            if ttl_ms is not None:
                state.setTimeoutDuration(ttl_ms)
            return
        first: pd.DataFrame | None = None
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            cand = pdf.sort_values(ordc).head(1) if ordc else pdf.head(1)
            if first is None:
                first = cand
            elif ordc is not None and cand[ordc].iloc[0] < first[ordc].iloc[0]:
                first = cand
        if first is None:
            return
        state.update((True,))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        yield first

    return fn


def dedup_stream(
    df: DataFrame,
    key_cols: list[str],
    order_col: str | None = None,
    ttl_ms: int | None = None,
) -> DataFrame:
    """First-occurrence-only streaming dedup on ``key_cols``.

    Within a micro-batch the winner is the min-``order_col`` row (ties and
    absent ``order_col`` keep the first arrival); across micro-batches a key
    that was ever emitted never re-emits — until its marker expires, if
    ``ttl_ms`` is set (see :func:`make_dedup_fn`). State: one marker per key
    in the checkpointed state store; with a TTL, state size is bounded by the
    keys active within the window instead of all keys ever seen.
    """
    schema: StructType = df.schema
    state_schema = "seen boolean"
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if ttl_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return (
        df.groupBy(*key_cols)
        .applyInPandasWithState(
            make_dedup_fn(order_col, ttl_ms),
            outputStructType=schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=timeout,
        )
    )
