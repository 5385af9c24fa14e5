"""Materialize a change log into current table state.

The load-bearing CDC operator: given envelope rows (op, lsn, columns map),
reduce each primary key to its latest state, honoring:

- replay order = LSN (the reference's only ordering, `CdcEngine.java:132-137`);
- DELETE removes the row;
- UPDATE images may be *sparse* — TOAST-unchanged columns are absent from the
  map (`PgWalMessageDecoder.java:206-207`) and must inherit the prior image;
- re-INSERT after DELETE starts a fresh image (no inheritance across deletes).

Two behaviours:

- ``merge_sparse=True`` — **window-fill merge**: per key, events sort once by
  LSN; every column gap-fills with ``last(struct(lsn, value), ignoreNulls)``;
  the final event row per key holds the whole image, with fills older than
  the key's last INSERT discarded. ONE exchange + ONE sort over skinny scalar
  columns; the map column never crosses a shuffle; zero aggregate buffers.
  The fill needs the column set: pass ``columns`` (the table's column
  registry, SURVEY.md §1.3). Without it the set is derived from the data —
  the distinct keys of every map — which costs one extra scan of the
  changelog.
- ``merge_sparse=False`` (latest-image-wins, reference "absent means absent"
  semantics): ``row_number() over (partition by key order by lsn desc) = 1``.

Why no aggregate (measured at sf0.1, 730k events): Spark's HashAggregate
fast path requires fixed-width aggregation buffers. Any aggregate whose
buffer holds a STRING, struct, or map (``max(string)``, ``max_by(columns,
lsn)``, ``collect_list``) plans as SortAggregate / ObjectHashAggregate at
~20-40µs/row — 15-20x slower than scans, windows, and primitive
HashAggregates on this data. Three merge formulations were measured:
collect_list+HOF-fold (~38s warm), explode + per-column string-encoded max
(~250s: two SortAggregates over 7M entry rows), and the window-fill
(~one sort at scan speed).

At 100 TB both behaviours shuffle once on the key, and AQE splits skewed
keys; only the derived column names ever reach the driver.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window


def _q(name: str) -> str:
    """Backtick-quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _lit(s: str) -> str:
    """Single-quoted SQL string literal (Spark's backslash escapes)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def materialize(
    changelog: DataFrame,
    keys: Sequence[str],
    lsn_col: str = "lsn",
    op_col: str = "op",
    map_col: str = "columns",
    merge_sparse: bool = True,
    columns: Sequence[str] | None = None,
) -> DataFrame:
    """Reduce envelope rows to current state (one row per live key).

    Returns ``(table?, op, lsn, <carry cols>, columns)`` with ``columns``
    holding the final image; DELETE-terminal keys dropped.

    ``merge_sparse=True`` merges TOAST-sparse images with the window fill;
    ``merge_sparse=False`` keeps each key's latest image as is. The merge
    fills exactly ``columns``; omitted, they are the sorted distinct map
    keys of the changelog (for a multi-table changelog, the union of its
    tables' columns), at the cost of one extra scan — callers holding the
    RELATION registry should pass it.
    """
    m, lsn, op = _q(map_col), _q(lsn_col), _q(op_col)
    part = [_q("table")] if "table" in changelog.columns else []
    knames = [f"__k_{i}" for i in range(len(keys))]
    key_exprs = [
        f"element_at({m}, {_lit(k)}) AS {n}" for k, n in zip(keys, knames)
    ]

    if not merge_sparse:
        w = Window.partitionBy(*part, *knames).orderBy(F.desc(lsn_col))
        return (
            changelog.selectExpr("*", *key_exprs)
            .withColumn("__rn", F.row_number().over(w))
            .where((F.col("__rn") == 1) & (F.col(op_col) != "D"))
            .drop("__rn", *knames)
        )

    if columns is None:
        columns = sorted(
            r[0] for r in changelog.selectExpr(f"explode(map_keys({m}))")
            .distinct().collect()
        )

    # Per key, events sort by LSN. Each column is gap-filled with
    # ``last(struct(lsn, value), ignoreNulls)`` — a present-but-NULL column
    # fills a struct whose ``v`` field is NULL (distinct from NO struct =
    # column absent) — so at the final event row the fill holds each
    # column's latest entry. The final row per key is the one with no
    # successor LSN; DELETE-terminal keys drop on its op.
    #
    # The per-column expressions are emitted as generated SQL and parsed
    # JVM-side in THREE ``selectExpr`` calls (the ``dedup._minhash_exprs``
    # kernel trick): building the same trees Column-by-Column costs ~500
    # py4j round-trips ≈ 0.6 s of driver time per plan construction —
    # measured at sf0.1, that was a third of the whole warm end-to-end run.
    # Struct fills (not string-packed ``lsn||tag||value``) keep the
    # projection free of per-row string allocation and substring decode.
    # Helper columns are named by position so that any column name is safe.
    carry = [
        _q(f) for f in ("txn_id", "relation_id", "schema")
        if f in changelog.columns
    ]
    tagged = [
        f"CASE WHEN map_contains_key({m}, {_lit(c)}) THEN "
        f"named_struct('v', element_at({m}, {_lit(c)})) END AS __t_{i}"
        for i, c in enumerate(columns)
    ]
    pre = changelog.selectExpr(*part, *key_exprs, lsn, op, *carry, *tagged)

    by_key = ", ".join([*part, *knames])
    over_ord = (
        f"PARTITION BY {by_key} ORDER BY {lsn} "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    )
    # Generation tracking WITHOUT a nested window: a fill taken at LSN x is
    # stale at the final row iff a re-INSERT happened after x, i.e.
    # x < max(INSERT lsn so far) — so the running last-INSERT marker replaces
    # a running INSERT-count generation number and, unlike it, doesn't feed
    # the fills (no window-in-window), letting EVERY window expression here —
    # fills, marker, and the lead()-based final-row flag — evaluate in ONE
    # WindowExec over one sorted pass.
    fills = [
        f"last(CASE WHEN __t_{i} IS NOT NULL THEN "
        f"named_struct('l', {lsn}, 'v', __t_{i}.v) END, true) "
        f"OVER ({over_ord}) AS __f_{i}"
        for i in range(len(columns))
    ]
    final = pre.selectExpr(
        *part, *knames, lsn, op, *carry, *fills,
        f"max(CASE WHEN {op} = 'I' THEN {lsn} END) OVER ({over_ord}) AS __li",
        f"lead({lsn}) OVER (PARTITION BY {by_key} ORDER BY {lsn}) IS NULL "
        "AS __is_last",
    ).where(f"__is_last AND {op} != 'D'")

    # A key with no INSERT at all (capture started mid-stream: UPDATEs only)
    # has NULL __li — every fill is fresh, as if inserted at lsn 0.
    entries = ", ".join(
        f"CASE WHEN __f_{i} IS NOT NULL AND __f_{i}.l >= "
        f"coalesce(__li, CAST(0 AS BIGINT)) THEN "
        f"named_struct('key', {_lit(c)}, 'value', __f_{i}.v) END"
        for i, c in enumerate(columns)
    )
    # array() of no entries types as ARRAY<VOID>, which map_from_entries
    # rejects, so an empty column set needs a typed empty map.
    image = (
        f"map_from_entries(array_compact(array({entries})))" if columns
        else "CAST(map() AS map<string,string>)"
    )
    return final.selectExpr(*part, op, lsn, *carry, f"{image} AS {m}")
