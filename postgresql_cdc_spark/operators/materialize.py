"""Materialize a change log into current table state.

The load-bearing CDC operator: given envelope rows (op, lsn, columns map),
reduce each primary key to its latest state, honoring:

- replay order = LSN (the reference's only ordering, `CdcEngine.java:132-137`);
- DELETE removes the row;
- UPDATE images may be *sparse* — TOAST-unchanged columns are absent from the
  map (`PgWalMessageDecoder.java:206-207`) and must inherit the prior image;
- re-INSERT after DELETE starts a fresh image (no inheritance across deletes).

Two behaviours:

- ``merge_sparse=True`` — **aggregate merge**: one ``groupBy`` on the key.
  ``max`` over a struct led by the LSN picks, per key, the terminal event
  (op and carry columns), the last INSERT, and each column's latest present
  entry; a column enters the image iff that entry is at or after the last
  INSERT (re-INSERT freshness). The merge needs the column set: pass
  ``columns`` (the table's column registry, SURVEY.md §1.3). Without it the
  set is derived from the data — the distinct keys of every map — which
  costs one extra scan of the changelog.
- ``merge_sparse=False`` (latest-image-wins, reference "absent means absent"
  semantics): ``row_number() over (partition by key order by lsn desc) = 1``.

Plan shape: a partial SortAggregate, one Exchange, a final SortAggregate.
Struct buffers are not fixed width, so the HashAggregate fast path is out,
but the map-side partial collapses each key's events inside a source
partition before the shuffle, and the map column never crosses it.
Measured on 4 vCPU against the 16-column LSN-sorted window fill this
replaced: perfbench ``backfill_replay`` (30k events, 16 columns) merge
layer 2.5-2.9 s -> 1.2-1.4 s, end-to-end replay throughput +45-50%; at
300k events over parquet, a warm materialize + typed_view pass
11.6-12.0 s -> 3.0-3.3 s. The aggregates measured slow before were other
shapes: ``collect_list`` with a fold, and an explode to one row per column.

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

    ``merge_sparse=True`` merges TOAST-sparse images with one aggregate per
    key; ``merge_sparse=False`` keeps each key's latest image as is. The merge
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

    # One aggregate per key. ``max`` over a struct orders by its first
    # field, the LSN, so ``__last`` is the terminal event (with its op and
    # carry columns), ``__li`` the last INSERT, and ``__f_i`` column i's
    # latest present entry — a present-but-NULL column gives a struct whose
    # ``v`` is NULL, an absent one gives no struct. The expressions are
    # generated SQL parsed JVM-side (the ``dedup._minhash_exprs`` trick):
    # building the same trees Column-by-Column costs hundreds of py4j
    # round-trips per plan. Helper names are positional, so any column name
    # is safe.
    carry = [
        f for f in ("txn_id", "relation_id", "schema")
        if f in changelog.columns
    ]
    last = ", ".join(
        [f"'l', {lsn}", f"'o', {op}"]
        + [f"'c{i}', {_q(f)}" for i, f in enumerate(carry)]
    )
    aggs = [
        f"max(named_struct({last})) AS __last",
        f"max(CASE WHEN {op} = 'I' THEN {lsn} END) AS __li",
    ] + [
        f"max(CASE WHEN map_contains_key({m}, {_lit(c)}) THEN named_struct("
        f"'l', {lsn}, 'v', element_at({m}, {_lit(c)})) END) AS __f_{i}"
        for i, c in enumerate(columns)
    ]
    merged = (
        changelog.selectExpr(*part, *key_exprs, lsn, op, *map(_q, carry), m)
        .groupBy(*part, *knames)
        .agg(*(F.expr(a) for a in aggs))
        .where("__last.o != 'D'")
    )

    # A column's latest entry belongs to the current generation iff it is
    # at or after the key's last INSERT: an earlier one means the column
    # has no entry since the re-INSERT, so the deleted generation's value
    # must not leak. A key with no INSERT at all (capture started
    # mid-stream: UPDATEs only) has NULL __li — every entry is current, as
    # if inserted at lsn 0.
    entries = ", ".join(
        f"CASE WHEN __f_{i}.l >= coalesce(__li, CAST(0 AS BIGINT)) THEN "
        f"named_struct('key', {_lit(c)}, 'value', __f_{i}.v) END"
        for i, c in enumerate(columns)
    )
    # array() of no entries types as ARRAY<VOID>, which map_from_entries
    # rejects, so an empty column set needs a typed empty map.
    image = (
        f"map_from_entries(array_compact(array({entries})))" if columns
        else "CAST(map() AS map<string,string>)"
    )
    return merged.selectExpr(
        *part, f"__last.o AS {op}", f"__last.l AS {lsn}",
        *(f"__last.c{i} AS {_q(f)}" for i, f in enumerate(carry)),
        f"{image} AS {m}",
    )
