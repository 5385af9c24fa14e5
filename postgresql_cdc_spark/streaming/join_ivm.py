"""Replay-idempotent VIEW incremental maintenance for foreachBatch,
with a CLOSED state lifecycle: per-batch work and per-batch state I/O are
O(|batch|), disk is bounded regardless of stream age.

Maintains grouped aggregates over a fact FK-equi-joined to ZERO or more
dimensions (:class:`JoinViewSpec`: single-table grouped views, the
classic fact-join-dim view, and star/snowflake fact x dim1 x dim2 ...
shapes) from signed row deltas — the counting-IVM delta rule (Koch's
incremental algebra; DBSP/Materialize lineage). For one dimension:

    delta(F JOIN D) = dF JOIN D_old  UNION ALL  F_new JOIN dD

which expands to dF·D_old + F_old·dD + dF·dD, so same-batch changes on
both sides apply exactly once; for N dimensions ordered fact-first the
rule contributes one term per relation with the triangular new/old split

    dF·D1_old···Dn_old + sum_i  F_new·D1_new···dDi···Dn_old

(every relation before the delta position is NEW, every one after is
OLD). The running aggregate is only ever ADJUSTED (|groups| + |delta|
rows per batch); history is never recomputed. Measures are abelian SUMs
plus an implicit COUNT; the non-delta-adjustable aggregates — MIN/MAX
extrema, COUNT(DISTINCT), and k-extrema (top-k per group) — are
maintained through per-expression SUPPORT tables ((group, value) ->
live count; the textbook eviction-safe construction) folded from the
same signed view deltas and re-derived at serve time (extrema as
MIN/MAX over the live values, distinct counts as the number of live
values, top-k as the k best). The sums and every support table fold
through the epoch store (:func:`fold_epoch_store`): each trigger writes
only its own grouped signed deltas, O(|batch groups|) rows whatever the
group domain, and serve-time support reads anchor to the sums store's
newest committed epoch.

OUTER joins (``JoinViewSpec(join_type='left'|'right'|'full')``) use the
FACTORIZED construction instead of the delta rule: the per-FK fact
aggregate M1 and the dim kv state maintain as two independent
single-table views (dim changes never rewrite M1) and the serve
outer-joins the two small maintained tables and re-groups — danglers on
either side surface exactly as SQL's outer semantics require.

State layout (all under one base directory; multi-dim specs keep one
``dim_<name>_kv`` and one ``fact_by_<name>`` arrangement PER dimension,
and each support expression one ``supp_<i>_es`` store):

- ``dim_kv`` / ``fact_kv`` — latest-wins key-value stores
  (``streaming/kv_store.py``, which owns their write, point read, fold
  and batch diff): each batch writes ONLY its own collapsed rows (delete
  tombstones included) under ``ingest_epoch=<batch_id>``, in Arrow on the
  driver, and ``maybe_compact`` folds old epochs into a key-sorted base,
  so the per-batch write is O(|batch|), never a full-state rewrite.
- ``fact_by_did`` — the by-FOREIGN-KEY arrangement (Materialize's
  "arrangement" / DBSP's indexed Z-set): the batch's SIGNED fact deltas,
  consolidated on compaction (``sum(sign) per (fid, did, amount)``, zero
  rows dropped). Integrating it yields the live fact multiset KEYED BY
  ``did`` — which is what the ``F_new JOIN dD`` leg probes; resolving
  latest-wins-by-fid there would be wrong once a fact re-points its FK
  (the old row is invisible to a did-filtered latest-wins), while signed
  rows stay correct under addition for any key restriction. Since r18 the
  epoch PARTIALS live once in the shared ``fact_delta`` store (one signed
  partial per batch, written once however many dimensions consume it,
  from the driver through ``epoch_io.epoch_replace``);
  each ``fact_by_<name>`` directory holds only its FK-clustered compacted
  base + manifest, folds the shared partials above its own horizon
  (``compact_epochs(..., partials_from=...)``), and the shared store is
  swept below the MINIMUM committed horizon across the dimensions.
- ``sums_es`` / ``supp_<i>_es`` — the maintained aggregate and its
  support tables as epoch stores: each batch writes its grouped signed
  deltas under ``ingest_epoch=<batch_id>``, ``maybe_compact`` SUM-merges
  the partials behind a manifest-committed base (so the live partial
  count stays bounded by the cap), and the serve re-groups base +
  partials (:func:`read_folded_groups`).

Per-batch dataflow (all O(|batch|) shuffle/compute):

1. ``maybe_compact`` each store at the CALLER's batch id (the horizon
   convention of ``epoch_maintenance``: a crashed attempt's own partition
   must stay live so the replay's overwrite replaces it wholesale).
2. Collapse the batch latest-wins per key, write it as the stores' epoch
   (``kv_store.ingest_kv_batch``: the batch's ``toArrow()`` is the only
   Spark job).
3. Diff ONLY the batch's keys (``kv_store.ingest_and_delta``): read their
   prior rows on the driver through Arrow, the keys pushed as range
   filters that the key-sorted base's row-group statistics prune on, and
   derive each key's retract/assert pair from its old and new image —
   no shuffle, no join; never a full-outer of full old state against
   full new state. The deltas are local relations: the fact delta is
   written as the shared arrangement epoch from the driver, and every
   consumer below reads the rows already held.
4. ``dF JOIN D_old``: read ``dim_kv``'s resolved rows for the fact
   delta's FK values on the driver (``kv_store.probe_key_list``,
   batch-bounded) and join the fact delta against that O(|batch|) local
   relation — broadcast, so a hot dimension key never becomes a skewed
   shuffle (the fact delta is not exchanged at all).
5. ``F_new JOIN dD``: restrict the integrated ``fact_by_did`` arrangement
   to the dim delta's keys (pushed key predicate; consolidation commutes
   with any did restriction because signed rows group by the full triple)
   and join against the broadcast dim delta.
6. Group the signed (grp, dn, dq) deltas and write them as the batch's
   epoch of ``sums_es``, each support table's store first.

Replay contract: every prior-state read resolves STRICTLY BELOW the
current batch id (``epoch_io``'s strictly-earlier-epoch contract for the
kv/arrangement stores; the sums and support folds read no prior state),
so a crashed attempt's partial writes are invisible to its replay —
which then recomputes byte-identical deltas from the same committed
prefix and replaces the crashed partitions (dynamic overwrite, or the
rename in ``epoch_io.epoch_replace`` for the kv stores and the shared
fact-delta store). Crash windows are pinned by
``tests/test_join_ivm.py``; the delta algebra by
``tests/test_join_ivm_fuzz.py``; the bounded lifecycle by the retention
test and ``tools/join_ivm_lifecycle_soak.py``. The kv stores' ordering
and tie rule are ``kv_store``'s.
"""

from __future__ import annotations

import os
import re
import shutil
from dataclasses import dataclass
from typing import Optional

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from postgresql_cdc_spark.streaming.epoch_io import (
    EPOCH_COL,
    epoch_overwrite,
    epoch_replace,
)
from postgresql_cdc_spark.streaming.epoch_maintenance import (
    base_upto,
    live_range,
    maybe_compact,
    read_epoch_store,
    sweep_shared_partials,
)
from postgresql_cdc_spark.streaming.kv_store import (
    _PROBE_MAX_RANGES,
    _key_ranges,
    ingest_and_delta,
    ingest_and_delta_rows,
    ingest_kv_batch,
    key_state,
    probe_key_list,
)
# perfbench/live_tail.py imports ingest_kv_batch, key_state and
# probe_key_state from this module
from postgresql_cdc_spark.streaming.kv_store import (  # noqa: F401
    probe_key_state,
)

DIM_DDL = "id long, grp int, op string, lsn long"
FACT_DDL = "fid long, did long, amount int, op string, lsn long"
ARR_DDL = "fid long, did long, amount int, sign int"
SUMS_DDL = "grp int, dn long, dq long"


# --- the view spec: one kernel, many maintained views -------------------------

def _ddl_names(ddl: str) -> list[str]:
    """Top-level field names of a DDL string WITHOUT a SparkSession
    (construction happens at import time, before any session exists):
    split on commas outside parens/angle brackets, take each field's
    first token."""
    names: list[str] = []
    depth, tok = 0, []
    for ch in ddl + ",":
        if ch in "(<":
            depth += 1
        elif ch in ")>":
            depth -= 1
        if ch == "," and depth == 0:
            part = "".join(tok).strip()
            tok = []
            if part:
                names.append(part.split()[0].strip("`"))
        else:
            tok.append(ch)
    return names


@dataclass(frozen=True)
class DimSpec:
    """One dimension of a maintained star view: its change-row schema
    (ending in ``op string, lsn long``), key, the payload columns carried
    through the delta rule, and the FACT payload column referencing it.
    ``name`` suffixes the dimension's state directories (``dim_<name>_kv``,
    ``fact_by_<name>``); it defaults to ``fact_fk``."""

    ddl: str
    key: str
    payload: tuple[str, ...]
    fact_fk: str
    name: str = ""

    def __post_init__(self):
        if not self.name:
            object.__setattr__(self, "name", self.fact_fk)
        fields = set(_ddl_names(self.ddl))
        missing = ({self.key, *self.payload} | {"op", "lsn"}) - fields
        if missing:
            raise ValueError(
                f"dim {self.name!r}: ddl lacks columns {sorted(missing)}"
            )
        if self.key in self.payload:
            raise ValueError(
                f"dim {self.name!r}: key {self.key!r} must not repeat in "
                "payload (the kernel carries the key separately; a "
                "duplicate emits twice-named DDL columns — r16 advice)"
            )


@dataclass(frozen=True)
class JoinViewSpec:
    """Schema + aggregate parameterization of the join-view kernel, so a
    structurally different maintained view (other payload columns, other
    measures, other grouping attributes, MORE dimensions, or no dimension
    at all) shares :func:`apply_batch` / :func:`join_deltas` instead of
    copy-pasting the module (r14 verdict #3; generalized to the full
    view class in r16). The covered ALGEBRA:

    - ``dims``: ZERO or more dimensions FK-equi-joined to the fact
      (``()`` = a single-table grouped view; one entry = the classic
      fact-join-dim view; two+ = the star/snowflake shape, e.g.
      orders x customer x part). The N-ary counting-IVM delta rule is
      applied with the relations ordered fact-first:
      ``delta = dF .. D_i_old ..  +  sum_i  F_new .. D_j_new(j<i) ..
      dD_i .. D_j_old(j>i)`` — each term's carrier is bounded by the
      batch (dF) or the batch's dimension-delta fan-out (dD_i).
    - ``measures``: ``(name, sql_expr)`` pairs — abelian SUMs of a Spark
      SQL expression over the JOINED row: fact payload columns plus any
      UNAMBIGUOUS dim payload column (named by exactly one dim and not
      colliding with a fact column — :meth:`exposed_dim_cols`), so
      q9-profit-style measures mixing fact and dimension attributes
      (``amount * rate``) maintain incrementally; the kernel emits
      ``sign * expr`` summed per group, plus the implicit row count
      ``dn`` that also drives empty-group drop-out.
    - ``extrema``: ``(name, 'min'|'max', sql_expr, value_ddl_type)``
      entries — the classic NON-delta-adjustable aggregates, maintained
      through an auxiliary SUPPORT table per entry (``(group_cols, value)
      -> live count``; values whose count nets zero drop out) and
      re-derived at serve time, so deletes evicting the current extremum
      stay exact. Support tables are bounded by distinct (group, value)
      pairs.
    - ``distincts``: ``(name, sql_expr, value_ddl_type)`` entries —
      COUNT(DISTINCT expr), the other classic non-delta-adjustable
      aggregate, maintained through the SAME support construction: the
      distinct count is exactly the number of values with positive live
      count, so serve is ``F.count`` over the multiset the extrema
      already re-derive from (a distinct and an extremum over the same
      expression SHARE one physical support table). NULL expr values
      never enter the supports, matching SQL's NULL-skipping
      COUNT(DISTINCT); a group whose values are all NULL serves 0.

    Group columns may come from any dim payload or the fact payload
    (each name must resolve to exactly ONE source). Dim and fact column
    names MAY collide (the shipped revenue spec shares ``pid``): dim
    sides are ``__d<i>_``-prefixed before every join, and a COLLIDING
    bare name inside a measure/extrema expr resolves to the FACT column
    (only unambiguous dim names are exposed — :meth:`exposed_dim_cols`).
    """

    fact_ddl: str = ""
    fact_key: str = ""
    fact_payload: tuple[str, ...] = ()
    group_cols: tuple[str, ...] = ()
    measures: tuple[tuple[str, str], ...] = ()
    dims: tuple[DimSpec, ...] = ()
    extrema: tuple[tuple[str, str, str, str], ...] = ()
    distincts: tuple[tuple[str, str, str], ...] = ()
    # ``(name, expr, vtype, k, 'max'|'min')`` entries — K-EXTREMA, the
    # generalization of MIN/MAX the support construction gives for free:
    # the k largest ('max') or smallest ('min') DISTINCT live values of
    # ``expr`` per group, served as columns ``<name>1 .. <name>k``
    # (NULL-padded when a group has fewer values). Rides the SAME
    # (group, value) -> live-count support table as extrema/distincts
    # over the same expression — a leaderboard view costs no extra state
    # beyond the multiset MIN/MAX already keep, and deletes evicting a
    # current top value stay exact by construction.
    topks: tuple[tuple[str, str, str, int, str], ...] = ()
    # 'inner' (default): the N-ary counting-IVM delta rule. 'left' /
    # 'right' / 'full': the FACTORIZED outer-join construction real
    # engines use instead of a monolithic outer delta rule — maintain the
    # per-FK fact aggregate M1 (keyed by the FK plus every FACT-side
    # group column; epoch-store fold, O(|batch|) per trigger) and the dim
    # kv state as two independent single-table views, then OUTER-join the
    # two small maintained tables at serve time and re-group: a dim
    # delete moves its facts to the NULL group (left/full), a factless
    # dim surfaces as one counted row (right/full) — without the kernel
    # ever running an outer join incrementally. Support tables (extrema /
    # COUNT(DISTINCT)) are keyed by M1's key too, so dim changes never
    # touch them; serve re-derives per final group THROUGH the dim join.
    # Requires exactly one dim and fact-only measure/extrema/distinct
    # expressions.
    join_type: str = "inner"

    def __post_init__(self):
        """Validate the spec's invariants at construction, so a malformed
        spec fails loudly here instead of as an opaque KeyError in a DDL
        property or an AnalysisException mid-batch (r15 review)."""
        if not self.fact_ddl:
            raise ValueError("fact_ddl is required")
        fact_fields = set(_ddl_names(self.fact_ddl))
        missing_f = ({self.fact_key, *self.fact_payload} | {"op", "lsn"}) - \
            fact_fields
        if missing_f:
            raise ValueError(f"fact_ddl lacks columns {sorted(missing_f)}")
        if self.fact_key in self.fact_payload:
            raise ValueError(
                f"fact_key {self.fact_key!r} must not repeat in "
                f"fact_payload (duplicate DDL columns — r16 advice)"
            )
        seen_names = set()
        for d in self.dims:
            if d.name in seen_names:
                raise ValueError(f"duplicate dim name {d.name!r}")
            seen_names.add(d.name)
            if d.fact_fk not in self.fact_payload:
                raise ValueError(
                    f"dim {d.name!r}: fact_fk {d.fact_fk!r} must be in "
                    f"fact_payload {self.fact_payload} (the arrangement "
                    "carries it)"
                )
        for g in self.group_cols:
            if len(self._group_sources(g)) != 1:
                raise ValueError(
                    f"group column {g!r} must resolve to exactly one "
                    "source (one dim payload or the fact payload); found "
                    f"{len(self._group_sources(g))}"
                )
        for name, _expr, _vtype, k, kind in self.topks:
            if not (1 <= int(k) <= 100):
                raise ValueError(
                    f"topk {name!r}: k must be in [1, 100], got {k} (the "
                    "served columns are materialized per rank)"
                )
            if kind not in ("min", "max"):
                raise ValueError(
                    f"topk {name!r}: kind must be 'min' or 'max', got "
                    f"{kind!r}"
                )
        names = (
            [n for n, _ in self.measures]
            + [e[0] for e in self.extrema]
            + [d[0] for d in self.distincts]
            # a topk named 'top' with k=3 serves top1..top3 — both the
            # base name and every generated name must be clash-free
            + [t[0] for t in self.topks]
            + [f"{t[0]}{i}" for t in self.topks
               for i in range(1, int(t[3]) + 1)]
        )
        # case-INSENSITIVE, matching Spark's default column resolution: a
        # measure named 'DN' or 'GRP' would otherwise pass here and fail
        # as an AMBIGUOUS_REFERENCE at serve time (the exposed_dim_cols
        # rationale, applied to the clash check too — r16 review)
        lower = [n.lower() for n in names]
        reserved = {g.lower() for g in self.group_cols} | {"dn"}
        if self.join_type in ("left", "right", "full") and len(self.dims) == 1:
            # outer views key their maintained M1 state by the FK too
            reserved.add(self.dims[0].fact_fk.lower())
        clash = {n for n in names if n.lower() in reserved} | {
            n for n in names if lower.count(n.lower()) > 1
        }
        if clash:
            raise ValueError(
                f"measure names {sorted(clash)} collide with group "
                "columns, 'dn', or each other (case-insensitively)"
            )
        bad = [n for n in names if n.startswith("__")]
        if bad:
            raise ValueError(
                f"measure names {bad} use the kernel-internal '__' prefix"
            )
        # the kernel also emits internal support-table columns named
        # supp_<i> into the view-delta schema — a user measure literally
        # named 'supp_0' would duplicate them and fail as an opaque
        # AnalysisException mid-batch, exactly the class this check
        # exists to catch at construction (r16 advice)
        bad = [n for n in names if re.fullmatch(r"supp_\d+", n.lower())]
        if bad:
            raise ValueError(
                f"measure names {bad} collide with the kernel's generated "
                "support-table column prefix (supp_<i>)"
            )
        for name, kind, _expr, _vtype in self.extrema:
            if kind not in ("min", "max"):
                raise ValueError(
                    f"extrema {name!r}: kind must be 'min' or 'max', got "
                    f"{kind!r}"
                )
        if self.join_type not in ("inner", "left", "right", "full"):
            raise ValueError(
                f"join_type must be one of inner/left/right/full, got "
                f"{self.join_type!r}"
            )
        if self.join_type != "inner":
            if len(self.dims) != 1:
                raise ValueError(
                    f"join_type={self.join_type!r} requires exactly one "
                    f"dim (got {len(self.dims)}): the factorized "
                    "construction maintains ONE per-FK fact aggregate "
                    "against ONE dim state"
                )
            dim_cols = {c.lower() for c in self.dims[0].payload}
            dim_cols.add(self.dims[0].key.lower())
            for what, expr in (
                [(f"measure {n!r}", e) for n, e in self.measures]
                + [(f"extrema {e[0]!r}", e[2]) for e in self.extrema]
                + [(f"distinct {d[0]!r}", d[1]) for d in self.distincts]
                + [(f"topk {t[0]!r}", t[1]) for t in self.topks]
            ):
                hit = sorted(
                    t for t in re.findall(
                        r"[A-Za-z_][A-Za-z0-9_]*", expr.lower()
                    )
                    if t in dim_cols
                )
                if hit:
                    raise ValueError(
                        f"{what}: expression {expr!r} references dim "
                        f"column(s) {hit} — outer-join views maintain "
                        "measures on the FACT side only (M1 must stay "
                        "invariant under dim changes); dim attributes may "
                        "appear as group columns"
                    )

    def _group_sources(self, g: str) -> list[int]:
        """Indices of the sources defining group column ``g``: dim i for
        its payload, -1 for the fact payload OR the fact key (grouping by
        the key makes the maintained aggregate a keyed JOIN TABLE — the
        composite-dimension shape view composition stacks on)."""
        out = [i for i, d in enumerate(self.dims) if g in d.payload]
        if g in self.fact_payload or g == self.fact_key:
            out.append(-1)
        return out

    @property
    def exposed_dim_cols(self) -> dict:
        """Dim payload columns measure/extrema exprs may reference by
        bare name -> owning dim index: named by exactly ONE dim and not
        shadowing a fact column or a kernel-internal name. A colliding
        name stays fact-owned (the revenue spec's shared ``pid``)."""
        # Comparisons are case-INSENSITIVE to match Spark's default column
        # resolution: a dim column differing from a fact column only in
        # case would otherwise pass this check and withColumn would
        # silently REPLACE the fact column (r16 review).
        reserved = {
            s.lower()
            for s in (self.fact_key, *self.fact_payload, "sign", "op",
                      "lsn", "dn")
        }
        counts: dict = {}
        for d in self.dims:
            for c in d.payload:
                counts[c.lower()] = counts.get(c.lower(), 0) + 1
        return {
            c: i
            for i, d in enumerate(self.dims)
            for c in d.payload
            if counts[c.lower()] == 1 and c.lower() not in reserved
        }

    def _types(self, ddl: str) -> dict[str, str]:
        return {
            f.name: f.dataType.simpleString()
            for f in StructType.fromDDL(ddl).fields
        }

    def _group_type(self, g: str) -> str:
        src = self._group_sources(g)[0]
        ddl = self.fact_ddl if src == -1 else self.dims[src].ddl
        return self._types(ddl)[g]

    @property
    def state_group_cols(self) -> tuple[str, ...]:
        """Grouping key of the MAINTAINED aggregate state. Inner views
        maintain the final view directly, so this is ``group_cols``.
        Outer views maintain the factorized per-FK fact aggregate M1 —
        keyed by the dim FK plus every FACT-side group column (dim-side
        group columns resolve at serve time through the dim join, so dim
        regroups never rewrite M1)."""
        if self.join_type == "inner":
            return self.group_cols
        fk = self.dims[0].fact_fk
        return (fk, *[
            g for g in self.group_cols
            if g != fk and self._group_sources(g)[0] == -1
        ])

    def _dim_side_group_cols(self) -> list[str]:
        """Group columns resolved from the DIM side at an outer serve."""
        return [
            g for g in self.group_cols if self._group_sources(g)[0] != -1
        ]

    @property
    def arr_ddl(self) -> str:
        t = self._types(self.fact_ddl)
        cols = [self.fact_key, *self.fact_payload]
        return ", ".join(f"{c} {t[c]}" for c in cols) + ", sign int"

    @property
    def sums_ddl(self) -> str:
        groups = ", ".join(
            f"{g} {self._group_type(g)}" for g in self.state_group_cols
        )
        meas = "".join(f", {name} long" for name, _ in self.measures)
        return f"{groups}, dn long{meas}" if groups else f"dn long{meas}"

    @property
    def supp_tables(self) -> tuple:
        """One SUPPORT table per distinct support ``(expr, vtype)`` —
        ``(table_prefix, expr, vtype, ((name, kind), ...))`` tuples, where
        kind is ``'min'``/``'max'`` (extrema) or ``'count'`` (distinct
        counts). Aggregates over the same expression share one
        (group, value) -> count multiset (r16 review: per-NAME tables
        maintained byte-identical twins) — MIN, MAX and COUNT DISTINCT of
        one column cost ONE support fold — and every serve-time aggregate
        derives from it."""
        out: list = []
        seen: dict = {}

        def slot(expr: str, vtype: str) -> list:
            key = (expr, vtype)
            if key not in seen:
                seen[key] = len(out)
                out.append([f"supp_{len(out)}", expr, vtype, []])
            return out[seen[key]]

        for name, kind, expr, vtype in self.extrema:
            slot(expr, vtype)[3].append((name, kind))
        for name, expr, vtype in self.distincts:
            slot(expr, vtype)[3].append((name, "count"))
        for name, expr, vtype, k, kind in self.topks:
            slot(expr, vtype)[3].append((name, ("topk", int(k), kind)))
        return tuple((p, e, v, tuple(nk)) for p, e, v, nk in out)

    @property
    def view_delta_ddl(self) -> str:
        """Schema of one signed view-delta row: groups, dn, SUM-measure
        contributions, then one VALUE column per support table (unsigned
        — the support fold pairs it with dn as the count adjustment)."""
        parts = [
            f"{g} {self._group_type(g)}" for g in self.state_group_cols
        ]
        parts.append("dn long")
        parts.extend(f"{name} long" for name, _ in self.measures)
        parts.extend(
            f"{prefix} {vtype}" for prefix, _e, vtype, _nk in self.supp_tables
        )
        return ", ".join(parts)

    def supp_ddl(self, vtype: str) -> str:
        groups = "".join(
            f"{g} {self._group_type(g)}, " for g in self.state_group_cols
        )
        return f"{groups}__v {vtype}, cnt long"

    # --- state-directory layout (legacy names preserved for 1-dim views)

    def dim_store(self, base: str, i: int) -> str:
        if len(self.dims) == 1:
            return os.path.join(base, "dim_kv")
        return os.path.join(base, f"dim_{self.dims[i].name}_kv")

    def arr_store(self, base: str, i: int) -> str:
        if len(self.dims) == 1:
            return os.path.join(base, "fact_by_did")
        return os.path.join(base, f"fact_by_{self.dims[i].name}")

    def fact_delta_store(self, base: str) -> str:
        """The SHARED fact-delta epoch store (r18): one signed partial per
        batch, consumed by every dimension's arrangement. The per-dim
        ``arr_store`` directories hold only their FK-clustered compacted
        base + manifest; their live partials are this store's partitions at
        or above each base's horizon — so an N-dim view writes the fact
        delta once per trigger instead of N times."""
        return os.path.join(base, "fact_delta")


DEFAULT_SPEC = JoinViewSpec(
    fact_ddl=FACT_DDL,
    fact_key="fid",
    fact_payload=("did", "amount"),
    group_cols=("grp",),
    measures=(("dq", "amount"),),
    dims=(DimSpec(ddl=DIM_DDL, key="id", payload=("grp",), fact_fk="did"),),
)


# --- per-batch versioned directories ------------------------------------------

def version_dir(base: str, prefix: str, bid: int) -> str:
    return os.path.join(base, f"{prefix}_v{int(bid)}")


def prev_version(base: str, prefix: str, below: Optional[int]) -> Optional[int]:
    """Largest committed version strictly below ``below`` (all versions when
    ``below`` is None), from the directory listing — a crashed attempt at
    ``below`` itself is deliberately invisible."""
    best = None
    tag = f"{prefix}_v"
    try:
        names = os.listdir(base)
    except OSError:
        return None
    for n in names:
        if not n.startswith(tag):
            continue
        try:
            k = int(n[len(tag):])
        except ValueError:
            continue
        if (below is None or k < below) and (best is None or k > best):
            best = k
    return best


def sweep_versions(base: str, prefix: str, keep_from: int) -> int:
    """Delete version dirs strictly below ``keep_from`` — the retention pass
    ``<prefix>_v<N>`` directories need to stay bounded. Retaining the latest
    committed generation plus the in-flight one covers the whole replay
    window: Structured Streaming replays at most the last uncommitted batch,
    whose reads resolve strictly below itself, i.e. the retained previous
    generation. Crash-safe to interrupt: the next batch's sweep finishes it."""
    deleted = 0
    tag = f"{prefix}_v"
    try:
        names = os.listdir(base)
    except OSError:
        return 0
    for n in names:
        if not n.startswith(tag):
            continue
        try:
            k = int(n[len(tag):])
        except ValueError:
            continue
        if k < int(keep_from):
            shutil.rmtree(os.path.join(base, n), ignore_errors=True)
            deleted += 1
    return deleted


def fold_epoch_store(
    spark: SparkSession,
    store: str,
    ddl: str,
    group_cols: list[str],
    epoch: int,
    deltas: DataFrame,
    max_live_partials: int = 8,
) -> None:
    """Fold signed group deltas into an epoch-store aggregate table (the
    view's sums and every support table): each batch writes ONLY its own
    grouped signed deltas as the store's epoch — O(|batch groups|) rows
    whatever the group domain, the ``cdc_stream_bm25_stats``
    partial-stats shape — ``maybe_compact`` SUM-merges old epochs behind
    the manifest-committed base, and :func:`read_folded_groups` serves the
    aggregate as base + partials re-grouped. The base is not clustered:
    every reader takes the store whole.

    The compaction merge drops only ALL-ZERO rows: a transient partial
    may legitimately net one measure to zero while another still carries
    an adjustment (dn = 0 with dq != 0 after an amount-only update), so
    the zero-group drop-out applies at SERVE time, not in the fold.
    Replay contract: the deltas are deterministic given the committed
    prefix (``ingest_and_delta``), so a replayed epoch's dynamic
    overwrite replaces its crashed attempt wholesale.

    Raises when ``epoch`` lands below the store's compacted base horizon:
    the partition would be written where every manifest-aware read
    (``read_folded_groups`` / ``read_epoch_store``) filters it out, so
    the replayed deltas would VANISH silently — the write-side twin of
    ``epochs_before_compacted``'s below-base read guard."""
    epoch = int(epoch)
    floor = base_upto(store)
    if epoch < floor:
        raise ValueError(
            f"epoch-store sums table at {store!r}: batch {epoch} replayed "
            f"below the compacted base horizon {floor}; its partition "
            "would be invisible to every manifest-aware read — a "
            "committed micro-batch must never re-run"
        )
    st = StructType.fromDDL(ddl)
    measure_cols = [f for f in st.fields if f.name not in group_cols]

    def merge(df: DataFrame) -> DataFrame:
        aggs = [
            F.sum(f.name).cast(f.dataType).alias(f.name)
            for f in measure_cols
        ]
        nonzero = None
        for f in measure_cols:
            arm = F.col(f.name) != 0
            nonzero = arm if nonzero is None else (nonzero | arm)
        return df.groupBy(*group_cols).agg(*aggs).where(nonzero)

    maybe_compact(spark, store, epoch, max_live_partials, merge=merge)
    grouped = deltas.groupBy(*group_cols).agg(*[
        F.sum(f.name).cast(f.dataType).alias(f.name) for f in measure_cols
    ])
    epoch_overwrite(grouped, store, epoch)


def read_folded_groups(
    spark: SparkSession,
    store: str,
    ddl: str,
    group_cols: list[str],
    drop_when_zero: str,
) -> DataFrame:
    """The served aggregate of a :func:`fold_epoch_store` table: base fold
    + live partials re-grouped, groups whose ``drop_when_zero`` sum
    reaches zero dropped (the full-aggregate semantics the fold's merge
    defers to the serve)."""
    st = StructType.fromDDL(ddl)
    aggs = [
        F.sum(f.name).cast(f.dataType).alias(f.name)
        for f in st.fields
        if f.name not in group_cols
    ]
    return (
        read_epoch_store(spark, store, schema=ddl)
        .groupBy(*group_cols)
        .agg(*aggs)
        .where(F.col(drop_when_zero) != 0)
    )


# --- the by-FK arrangement ----------------------------------------------------

_PROBE_MAX_IN = 4096     # above this, exactness moves to a semi-join


def probe_by_key_list(hist: DataFrame, key: str, ks: list) -> DataFrame:
    """Restrict ``hist`` to rows whose ``key`` is in ``ks``, with the key
    set pushed INTO the parquet scan as literal predicates so min/max
    statistics prune the read (a semi-join's runtime key set never reaches
    the reader's row-group filter). The join kernel probes the by-FK
    arrangement this way: its rows are signed and unresolved, so the kv
    stores' Arrow read (``kv_store._key_rows``) does not apply. Null keys are
    dropped, as a semi-join never matches them either. Small sets
    (<= ``_PROBE_MAX_IN``) stay exact via ``isin`` on top of the pushed
    ranges; larger ones keep the pushed ranges for I/O pruning and
    restore exactness with a broadcast semi-join built from the local
    list (64 BETWEEN disjuncts bound the plan size regardless of batch
    size)."""
    ks = sorted({k for k in ks if k is not None})
    if not ks:
        return hist.where(F.lit(False))
    cond = None
    for lo, hi in _key_ranges(ks):
        arm = (F.col(key) >= F.lit(lo)) & (F.col(key) <= F.lit(hi))
        cond = arm if cond is None else (cond | arm)
    if len(ks) <= _PROBE_MAX_RANGES:
        return hist.where(cond)  # point runs: the ranges ARE the key set
    if len(ks) <= _PROBE_MAX_IN:
        return hist.where(cond & F.col(key).isin(ks))
    keys_local = hist.sparkSession.createDataFrame(
        [(k,) for k in ks], hist.select(key).schema
    )
    return hist.where(cond).join(F.broadcast(keys_local), key, "left_semi")


def _consolidate(
    df: DataFrame, cols: tuple[str, ...] = ("fid", "did", "amount")
) -> DataFrame:
    """Z-set consolidation for the by-FK arrangement: net sign per full row
    tuple, zeros dropped. Doubles as the store's compaction merge."""
    return (
        df.groupBy(*cols)
        .agg(F.sum("sign").cast("int").alias("sign"))
        .where(F.col("sign") != 0)
    )


def _arr_history(
    spark: SparkSession,
    base_store: str,
    shared_store: str,
    ddl: str,
    before: int,
) -> DataFrame:
    """Arrangement rows strictly before ``before`` under the r18 SHARED
    epoch layout: the per-dim FK-clustered base (manifest horizon ``U`` in
    ``base_store``) plus the shared fact-delta partials in ``[U, before)``.
    The two-store twin of ``epochs_before_compacted`` — including its
    folded-away guard and the negative-zero base-alias rule (the base arm
    only exists once a base committed)."""
    upto = base_upto(base_store) if os.path.isdir(base_store) else 0
    base, lo, hi = live_range(upto, before)
    full = f"{ddl}, {EPOCH_COL} int"
    parts = []
    if base is not None:
        parts.append(
            spark.read.schema(full).parquet(base_store)
            .where(F.col(EPOCH_COL) == F.lit(base))
            .drop(EPOCH_COL)
        )
    if os.path.isdir(shared_store):
        parts.append(
            spark.read.schema(full).parquet(shared_store)
            .where(
                (F.col(EPOCH_COL) >= F.lit(lo))
                & (F.col(EPOCH_COL) < F.lit(hi))
            )
            .drop(EPOCH_COL)
        )
    if not parts:
        return spark.createDataFrame([], ddl)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out



# --- the join-view step -------------------------------------------------------

def _materialize_versioned(
    df: DataFrame, base: str, prefix: str, bid: int, ddl: str
) -> DataFrame:
    """Write ``df`` to ``<prefix>_v<bid>``, read it back with an explicit
    schema, sweep older versions — the per-batch scratch-materialization
    move (the write is deterministic per batch id, so a replay overwrites
    it; only the current batch ever reads it; the explicit schema makes an
    EMPTY frame read back empty instead of failing inference). One helper
    so the replay-overwrite/sweep invariants live in one place (r16
    review: three hand-rolled copies)."""
    df.write.mode("overwrite").parquet(version_dir(base, prefix, bid))
    out = df.sparkSession.read.schema(ddl).parquet(
        version_dir(base, prefix, bid)
    )
    sweep_versions(base, prefix, keep_from=bid)
    return out


def _as_dim_batches(d_batch, n_dims: int) -> list:
    """Normalize apply_batch's dim-batch argument: None (no dims), one
    DataFrame (the classic 1-dim view), or a sequence aligned with
    ``spec.dims``."""
    if d_batch is None:
        batches = []
    elif isinstance(d_batch, DataFrame):
        batches = [d_batch]
    else:
        batches = list(d_batch)
    if len(batches) != n_dims:
        raise ValueError(
            f"got {len(batches)} dim batches for {n_dims} spec dims"
        )
    return batches


def apply_batch(
    spark: SparkSession,
    base: str,
    batch_id: int,
    d_batch,
    f_batch: DataFrame,
    max_live_partials: int = 8,
    spec: JoinViewSpec = DEFAULT_SPEC,
    return_delta: bool = False,
    fold_sums: bool = True,
) -> Optional[DataFrame]:
    """One foreachBatch step of the view maintenance (see the module
    docstring's dataflow), for any :class:`JoinViewSpec`-shaped view —
    zero dims (single-table grouped view), one (the classic join view),
    or several (star/snowflake). ``d_batch`` is None, one DataFrame, or a
    sequence aligned with ``spec.dims``. Every prior-state read resolves
    strictly below ``batch_id``; every store is size-tiered-compacted at
    the top of the epoch (kv bases fold into one key-sorted file, the
    arrangements' bases key-clustered into
    ``epoch_maintenance.TARGET_FILE_BYTES``-sized files, so the probes
    prune) — so per-batch cost is O(|batch| + dim-delta fan-out) and disk
    objects stay bounded at any stream age. SUM-measures fold into the
    ``sums_es`` epoch store; support-backed measures additionally fold
    their (group, value) SUPPORT stores, from the same view-delta rows.

    Raises ``ValueError`` on a ``base`` that holds a ``sums_v<N>``
    directory: that is the per-batch sums layout older releases wrote,
    and folding onto an empty ``sums_es`` beside it would serve sums
    that miss every earlier batch. Rebuild such a view in a fresh
    directory.

    With ``return_delta=True`` the batch's signed view deltas are
    returned, materialized when they come from joins (versioned per
    batch — replay overwrites, older sweeps): the hook VIEW COMPOSITION
    stacks on. A downstream view treats an upstream KEYED view's deltas
    — adapted through :func:`changelog_from_view_deltas` — as one of its
    dimension streams, so a chained snowflake (fact -> dim -> dim)
    maintains as two stacked single-hop views. An upstream consumed ONLY
    through its deltas may pass ``fold_sums=False`` to skip the
    (never-read) sums fold — ``latest_view`` on such state raises, by
    design."""
    if not fold_sums and not return_delta:
        raise ValueError(
            "fold_sums=False without return_delta=True maintains a view "
            "nobody can read — the deltas are the only remaining output"
        )
    if prev_version(base, "sums", None) is not None:
        raise ValueError(
            f"view state at {base!r} holds sums_v<N> directories from the "
            "per-batch sums layout; the sums now fold into sums_es, which "
            "would start empty here and miss every earlier batch — "
            "rebuild the view in a fresh directory"
        )
    bid = int(batch_id)
    fact_store = os.path.join(base, "fact_kv")
    d_batches = _as_dim_batches(d_batch, len(spec.dims))
    arr_cols = (spec.fact_key, *spec.fact_payload)

    # the fact delta's rows stay on the driver, typed as the arrangement
    # rows (epoch_io's rule for rows already there): every consumer below
    # reads the same local relation, and none re-runs the diff
    arr_schema = StructType.fromDDL(spec.arr_ddl)
    f_rows = ingest_and_delta_rows(
        spark, fact_store, spec.fact_ddl, spec.fact_key,
        list(spec.fact_payload), bid, f_batch, max_live_partials,
    ).select([*arr_cols, "sign"]).cast(to_arrow_schema(arr_schema))
    f_delta = spark.createDataFrame(f_rows, arr_schema)

    if spec.join_type != "inner":
        # FACTORIZED outer join: no arrangements, no dim deltas, no delta
        # rule — the dim batch folds into its kv state (serve-time side)
        # and the fact delta alone adjusts M1, keyed by the FK plus the
        # fact-side group columns. Dim regroups/deletes are free here;
        # the outer semantics live entirely in latest_view's serve join.
        if return_delta or not fold_sums:
            raise ValueError(
                "outer-join views do not support return_delta/fold_sums "
                "composition: their maintained state is the factorized M1, "
                "not the final view's deltas"
            )
        ingest_kv_batch(
            spark, spec.dim_store(base, 0), spec.dims[0].key, bid,
            d_batches[0], max_live_partials,
        )
        cols = [F.col(g) for g in spec.state_group_cols]
        cols.append(F.col("sign").cast("long").alias("dn"))
        for name, expr in spec.measures:
            cols.append(
                (F.col("sign") * F.expr(expr)).cast("long").alias(name)
            )
        for prefix, expr, vtype, _named in spec.supp_tables:
            cols.append(F.expr(expr).cast(vtype).alias(prefix))
        _fold_view_delta(spark, base, bid, f_delta.select(*cols), spec,
                         max_live_partials)
        return None

    # persist the fact delta ONCE as the SHARED arrangement epoch (r18):
    # every dimension's by-FK arrangement reads the same signed partials,
    # and only the compacted BASES are per-dimension (clustered by the FK
    # that dimension's cross term probes). The pre-r18 layout wrote N
    # copies of the identical delta per trigger — one per dimension — so
    # an N-dim view paid N-1 extra O(|batch|) write jobs every batch.
    if spec.dims:
        shared = spec.fact_delta_store(base)
        for i in range(len(spec.dims)):
            maybe_compact(
                spark, spec.arr_store(base, i), bid, max_live_partials,
                merge=lambda df: _consolidate(df, arr_cols),
                cluster_by=[spec.dims[i].fact_fk],
                partials_from=shared,
            )
        # shared partials every dimension's base has folded are dead; the
        # min committed horizon makes the sweep safe under a crash between
        # two dimensions' compactions (the lagging base keeps them live)
        if os.path.isdir(shared):
            sweep_shared_partials(
                shared,
                min(
                    base_upto(spec.arr_store(base, i))
                    for i in range(len(spec.dims))
                ),
            )
        epoch_replace([f_rows], shared, bid)

    d_deltas = [
        ingest_and_delta(
            spark, spec.dim_store(base, i), dim.ddl, dim.key,
            list(dim.payload), bid, d_batches[i], max_live_partials,
        )
        for i, dim in enumerate(spec.dims)
    ]
    view_delta = join_deltas(spark, base, bid, d_deltas, f_delta, spec=spec)
    if spec.dims and (spec.supp_tables or return_delta):
        # the delta rows feed the sums fold AND one support fold per
        # table (and/or a downstream composed view) — materialize the
        # joins once (a dimensionless view's delta is already local)
        view_delta = _materialize_versioned(
            view_delta, base, "view_delta", bid, spec.view_delta_ddl
        )

    if not fold_sums:
        # composition-only upstream: the deltas are the whole output, so
        # neither the sums nor any support table would ever be read. The
        # marker makes latest_view raise even when the SAME directory
        # previously folded sums (a caller migrating to the composition
        # recipe mid-stream) — without it, the stale sums store would
        # serve frozen batch-N aggregates silently.
        with open(os.path.join(base, "_sums_disabled"), "w") as fh:
            fh.write(str(bid))
        return view_delta
    _fold_view_delta(spark, base, bid, view_delta, spec, max_live_partials)
    return view_delta if return_delta else None


def _fold_view_delta(
    spark: SparkSession,
    base: str,
    bid: int,
    view_delta: DataFrame,
    spec: JoinViewSpec,
    max_live_partials: int,
) -> None:
    """Fold one batch's signed view deltas into the maintained aggregate
    state: every support store first, then the sums — shared by the inner
    delta-rule path and the factorized outer path.

    Supports fold BEFORE sums so a crash between folds can never serve
    batch-N counts next to batch-(N-1) extrema: :func:`latest_view`
    anchors every support read to the sums store's newest committed
    epoch, and a committed sums epoch implies its supports committed
    first."""
    groups = list(spec.state_group_cols)
    for prefix, _expr, vtype, _named in spec.supp_tables:
        supp_delta = view_delta.select(
            *groups,
            F.col(prefix).alias("__v"),
            F.col("dn").alias("cnt"),
        ).where(F.col(prefix).isNotNull())
        fold_epoch_store(
            spark, os.path.join(base, f"{prefix}_es"),
            spec.supp_ddl(vtype), [*groups, "__v"], bid, supp_delta,
            max_live_partials=max_live_partials,
        )
    sums_delta = view_delta.select(
        *groups, "dn", *[n for n, _ in spec.measures]
    )
    fold_epoch_store(
        spark, os.path.join(base, "sums_es"), spec.sums_ddl,
        groups, bid, sums_delta, max_live_partials=max_live_partials,
    )
    # a completed sums fold re-enables serving (the symmetric case of the
    # composition-only marker: a directory switching back to a served view)
    marker = os.path.join(base, "_sums_disabled")
    if os.path.exists(marker):
        os.remove(marker)


def join_deltas(
    spark: SparkSession,
    base: str,
    batch_id: int,
    d_delta,
    f_delta_w: DataFrame,
    spec: JoinViewSpec = DEFAULT_SPEC,
) -> DataFrame:
    """The batch's signed (group_cols, dn, *measures, *extrema-values)
    view deltas from the N-ary delta rule's terms; ``f_delta_w`` is the
    fact delta typed as ``spec.arr_ddl`` and ``d_delta`` the dim delta(s)
    (one DataFrame or a sequence aligned with ``spec.dims``), each the
    local relation ``kv_store.ingest_and_delta`` holds on the driver, so
    reading them again runs no job. The fact delta must already be
    written as the shared arrangement epoch. Split from
    :func:`apply_batch` so plan-shape tests can assert the join strategies
    directly.

    With relations ordered fact-first, the counting-IVM rule expands to
    one term per relation (Koch's algebra; the 2-relation case is the
    classic ``dF JOIN D_old UNION F_new JOIN dD``):

    - term 0 (carrier dF): the fact delta joined to every dimension's
      OLD state (strictly below the batch);
    - term i (carrier dD_i): the integrated by-FK_i arrangement
      restricted to dD_i's keys (= F_new on those keys) joined to
      dD_i, to every EARLIER dimension's NEW state and every LATER
      dimension's OLD state — so same-batch changes on any subset of
      relations apply exactly once.

    Every dimension-state read is a ``kv_store.probe_key_list`` Arrow
    read on the driver keyed by the carrier's FK values, returned as a
    local relation; every dim side joins as a BROADCAST (term carriers
    are never exchanged, so a hot dimension key never induces a
    skewed shuffle). Dim sides are prefixed ``__d<i>_`` before each join
    (spec column names need not be disjoint from internals). Cross-term
    carriers with secondary dimensions are materialized to a versioned
    scratch dir so the secondary probes' key collection does not
    re-execute the arrangement probe subtree."""
    bid = int(batch_id)
    d_deltas = (
        [d_delta] if isinstance(d_delta, DataFrame) else list(d_delta)
    )
    if len(d_deltas) != len(spec.dims):
        raise ValueError(
            f"got {len(d_deltas)} dim deltas for {len(spec.dims)} spec dims"
        )

    def _out(carrier: DataFrame, sign_expr, dim_resolved: set[int]):
        """Project one term's carrier to view-delta rows. ``dim_resolved``
        names the dims whose payload is joined in as __d<i>_ columns.
        Unambiguous dim payload columns are exposed under their bare
        names first, so measure/extrema exprs may mix fact and dimension
        attributes (each term evaluates them on ITS version of the dim
        row — exactly the joined-row multiset the delta rule adjusts)."""
        for c, i in spec.exposed_dim_cols.items():
            carrier = carrier.withColumn(c, F.col(f"__d{i}_{c}"))
        cols = []
        for g in spec.group_cols:
            src = spec._group_sources(g)[0]
            if src == -1:
                cols.append(F.col(g).alias(g))
            else:
                assert src in dim_resolved
                cols.append(F.col(f"__d{src}_{g}").alias(g))
        cols.append(sign_expr.cast("long").alias("dn"))
        for name, expr in spec.measures:
            cols.append((sign_expr * F.expr(expr)).cast("long").alias(name))
        for prefix, expr, vtype, _named in spec.supp_tables:
            cols.append(F.expr(expr).cast(vtype).alias(prefix))
        return carrier.select(*cols)

    def _dim_side(i: int, rows: DataFrame, extra=()):
        dim = spec.dims[i]
        return rows.select(
            F.col(dim.key).alias(f"__d{i}_key"),
            *[F.col(c).alias(f"__d{i}_{c}") for c in dim.payload],
            *extra,
        )

    def _fk_lists(
        keys_src: DataFrame, idxs: list[int], distinct: bool
    ) -> tuple[bool, dict]:
        """ONE driver collect of a term carrier's FK columns, shared by
        every dimension probe of that term (r16 verdict item 6: the old
        shape re-collected the carrier once per dimension — N jobs per
        term instead of one). ``keys_src`` is the fact delta's local
        relation (collected as it is: no job) or the MATERIALIZED scratch
        carrier (a cheap parquet read, never a join subtree). Returns
        ``(empty, lists)`` — ``empty`` means the CARRIER itself has no
        rows (every carrier row yields one FK tuple, NULL FKs included),
        which lets the caller skip the whole term (r17: an untouched
        relation otherwise still paid the term's scratch write, secondary
        collect, and its share of the view-delta plan)."""
        keys = keys_src.select(*[spec.dims[i].fact_fk for i in idxs])
        # the carrier's tuple-DISTINCT before the collect: bounded by the
        # batch's distinct FK combinations, so a fan-out with heavy FK
        # repetition ships thousands of rows to the driver, not millions
        # (r17 review)
        rows = (keys.distinct() if distinct else keys).collect()
        return not rows, {i: [r[j] for r in rows] for j, i in enumerate(idxs)}

    def _join_dim_state(
        carrier: DataFrame, keys: list, i: int, before
    ) -> DataFrame:
        """Join dim i's resolved kv state — OLD (before=bid) or NEW
        (before=None, i.e. including this batch's committed epoch) —
        restricted to the carrier's collected FK values (pushed probe;
        the clustered base prunes) as a broadcast side."""
        dim = spec.dims[i]
        resolved = probe_key_list(
            spark, spec.dim_store(base, i), dim.ddl, dim.key, keys, before
        )
        return carrier.join(
            F.broadcast(_dim_side(i, resolved)),
            F.col(dim.fact_fk) == F.col(f"__d{i}_key"),
        )

    def _carrier_ddl(i: int) -> str:
        """Explicit schema for term i's scratch carrier read — a batch
        with no dim-i changes writes an EMPTY carrier, which must read
        back as empty rather than fail schema inference."""
        dim = spec.dims[i]
        t = spec._types(dim.ddl)
        return (
            spec.arr_ddl
            + f", __d{i}_key {t[dim.key]}"
            + "".join(f", __d{i}_{c} {t[c]}" for c in dim.payload)
            + ", __d_sign int"
        )

    terms = []

    # term 0: dF joined to every dimension's old state — ONE collect of
    # the fact delta's FK columns serves all N probes, and the same
    # collect tells us the fact delta is EMPTY (a dim-only trigger), in
    # which case the whole term contributes nothing and is skipped
    # outright. A dimensionless spec has no FK to collect.
    if spec.dims:
        f_empty, fk0 = _fk_lists(
            f_delta_w, list(range(len(spec.dims))), distinct=False
        )
    else:
        f_empty, fk0 = False, {}
    if not f_empty:
        c = f_delta_w
        for i in range(len(spec.dims)):
            c = _join_dim_state(c, fk0[i], i, before=bid)
        terms.append(_out(c, F.col("sign"), set(range(len(spec.dims)))))

    # term i per dimension delta. The dim delta's keys are collected
    # FIRST (the arrangement probe needs them anyway; a local relation,
    # so no job);
    # an UNTOUCHED relation (no keys — the common fact-only CDC trigger)
    # skips its term entirely instead of paying an empty scratch write,
    # a secondary FK collect, and a fatter view-delta plan (r17).
    for i, dim in enumerate(spec.dims):
        # NULL keys never equality-join (probe_by_key_list drops them too),
        # so filter them out BEFORE the emptiness check: an all-NULL dim
        # delta is as provably empty as a no-row one and skips its term
        # (r17 advice).
        d_keys = [
            r[0]
            for r in d_deltas[i].select(dim.key).collect()
            if r[0] is not None
        ]
        if not d_keys:
            continue
        arr = _arr_history(
            spark, spec.arr_store(base, i), spec.fact_delta_store(base),
            spec.arr_ddl, bid,
        ).unionByName(f_delta_w)
        f_new_sub = _consolidate(
            probe_by_key_list(arr, dim.fact_fk, d_keys),
            (spec.fact_key, *spec.fact_payload),
        ).where(F.col("sign") > 0)
        dd = _dim_side(i, d_deltas[i], extra=(F.col("sign").alias("__d_sign"),))
        carrier = f_new_sub.join(
            F.broadcast(dd), F.col(dim.fact_fk) == F.col(f"__d{i}_key")
        )
        others = [j for j in range(len(spec.dims)) if j != i]
        if others:
            # the secondary probes collect this carrier's FK key sets;
            # materialize it once so the arrangement-probe subtree does
            # not re-execute per collection (the r14-review shape, one
            # level up). Scratch is versioned per (batch, dim): replay
            # overwrites, older sweeps now.
            carrier = _materialize_versioned(
                carrier, base, f"xterm_{dim.name}", bid, _carrier_ddl(i)
            )
            _c_empty, fk_o = _fk_lists(carrier, others, distinct=True)
        for j in others:
            # j < i: NEW state (this batch applied); j > i: OLD state —
            # the triangular split that makes same-batch multi-relation
            # changes count exactly once
            carrier = _join_dim_state(
                carrier, fk_o[j], j, before=(None if j < i else bid)
            )
        terms.append(_out(
            carrier, F.col("__d_sign") * F.col("sign"),
            set(range(len(spec.dims))),
        ))

    if not terms:
        # nothing changed anywhere this batch — an explicitly empty delta
        # (same schema the folds and composition adapters read)
        return spark.createDataFrame([], spec.view_delta_ddl)
    out = terms[0]
    for t in terms[1:]:
        out = out.unionByName(t)
    return out


def _newest_epoch(store: str) -> int:
    """The store's newest COMMITTED epoch: the largest LIVE partial id,
    or (base horizon - 1) when the base fold is newer than every
    surviving partial. Read off ``sums_es``, this is the serve-time
    anchor for every support read: supports fold first, so a sums epoch
    N implies support epochs up to N.

    Partials BELOW the base horizon are stale sweep leftovers (a
    compaction may crash between its manifest commit and the sweep —
    documented crash-safe-to-skip), already folded into the base and
    invisible to every manifest-aware read; counting one here would
    under-report the anchor and serve pre-fold sums next to older
    supports (r17 review)."""
    upto = base_upto(store)
    best = upto - 1
    try:
        names = os.listdir(store)
    except OSError:
        names = []
    tag = f"{EPOCH_COL}="
    for n in names:
        if not n.startswith(tag):
            continue
        try:
            k = int(n[len(tag):])
        except ValueError:
            continue
        if k >= upto and k > best:
            best = k
    return best


def _read_store_upto(
    spark: SparkSession, store: str, ddl: str, h: int
) -> DataFrame:
    """Rows of an epoch store's base fold plus partials AT OR BELOW epoch
    ``h`` — the anchored support read. Unlike ``epochs_before_compacted``
    this tolerates a base horizon ABOVE ``h + 1``: a crashed batch may
    have compacted the support store ahead of the sums store, and that is
    safe by construction — a support epoch with no matching sums epoch
    cannot exist (both fold from the same view-delta rows), so the extra
    folded range holds no data and the base still equals the state at
    ``h``. A crashed attempt's own partial (> h) stays invisible."""
    if not os.path.isdir(store):
        return spark.createDataFrame([], ddl)
    upto = base_upto(store)
    cond = (F.col(EPOCH_COL) >= F.lit(upto)) & (F.col(EPOCH_COL) <= int(h))
    if upto > 0:
        cond = (F.col(EPOCH_COL) == F.lit(-upto)) | cond
    return (
        spark.read.schema(f"{ddl}, {EPOCH_COL} int").parquet(store)
        .where(cond)
        .drop(EPOCH_COL)
    )


def _supp_aggs(named, distinct_vals: bool):
    """Aggregate expressions re-deriving every support-backed measure
    from the live (group, value) rows, plus the post-groupBy topk
    expansions. ``distinct_vals=True`` is the OUTER serve's case — the
    rows were joined through the dim, so one value may repeat across FKs
    mapping to one group and distinct counts need ``countDistinct``
    (topks are immune: ``collect_set`` de-dupes by construction)."""
    aggs, expansions = [], []
    for name, kind in named:
        if isinstance(kind, tuple):  # ('topk', k, 'min'|'max')
            _tag, k, direction = kind
            arr = F.slice(
                F.sort_array(F.collect_set("__v"),
                             asc=(direction == "min")),
                1, int(k),
            )
            aggs.append(arr.alias(f"__arr_{name}"))
            expansions.append((name, int(k)))
        elif kind == "count" and distinct_vals:
            aggs.append(F.countDistinct("__v").alias(name))
        else:
            aggs.append(getattr(F, kind)("__v").alias(name))
    return aggs, expansions


def _expand_topks(df: DataFrame, expansions) -> DataFrame:
    """Split each collected top-k array into its ``<name>1..<name>k``
    rank columns, NULL-padded — ``F.get`` (unlike ``element_at``) stays
    NULL past the array's end under ANSI mode instead of raising."""
    for name, k in expansions:
        for i in range(1, k + 1):
            df = df.withColumn(
                f"{name}{i}", F.get(F.col(f"__arr_{name}"), i - 1)
            )
        df = df.drop(f"__arr_{name}")
    return df


def _null_safe_group_join(left: DataFrame, right: DataFrame,
                          group_cols, how: str) -> DataFrame:
    """Equi-join on the group columns with NULL-safe equality (a group
    key from a nullable dim payload may BE null; plain equality would
    silently drop that group's extrema)."""
    if not group_cols:
        return left.crossJoin(right)  # both sides are single global rows
    cond = None
    for g in group_cols:
        arm = left[g].eqNullSafe(right[g])
        cond = arm if cond is None else (cond & arm)
    joined = left.join(right, cond, how)
    return joined.select(
        *[left[g] for g in group_cols],
        *[c for c in left.columns if c not in group_cols],
        *[c for c in right.columns if c not in group_cols],
    )


def latest_view(
    spark: SparkSession, base: str, spec: JoinViewSpec = DEFAULT_SPEC
) -> DataFrame:
    """The maintained view after the stream: the ``sums_es`` store
    re-grouped — (group_cols, dn, *measures), groups whose count nets
    zero dropped — plus, for specs with extrema, distinct-count or top-k
    measures, every such aggregate re-derived from its support store
    (MIN/MAX over the live (group, value) multiset; COUNT of its live
    values for distincts; one small left join per DISTINCT support
    expression, keyed null-safely on the group columns).

    Epoch consistency: every support read takes the support store's base
    and its partials AT OR BELOW the sums store's newest committed epoch
    (:func:`_newest_epoch`). ``apply_batch`` folds supports BEFORE sums,
    so a committed sums epoch N implies supports at N exist — a crash
    between folds leaves sums at N-1 and this serve ignores the crashed
    attempt's support partial at N, never serving batch-N counts next to
    stale extrema. Output columns keep the spec's
    declaration order."""
    if os.path.exists(os.path.join(base, "_sums_disabled")):
        raise RuntimeError(
            f"view at {base!r} runs composition-only (fold_sums=False): "
            "its sums are not maintained — consume it through its deltas, "
            "or re-enable the fold"
        )
    groups = list(spec.state_group_cols)
    store = os.path.join(base, "sums_es")
    if not os.path.isdir(store):
        raise RuntimeError(
            f"no batch reached the join-IVM sink at {base!r}"
        )
    out = read_folded_groups(
        spark, store, spec.sums_ddl, groups, drop_when_zero="dn",
    )
    supp_lives: list[tuple] = []  # (prefix, named, live (groups, __v) rows)
    h = _newest_epoch(store)
    for prefix, _expr, vtype, named in spec.supp_tables:
        rows = _read_store_upto(
            spark, os.path.join(base, f"{prefix}_es"),
            spec.supp_ddl(vtype), h,
        )
        live = (
            rows.groupBy(*groups, "__v")
            .agg(F.sum("cnt").cast("long").alias("cnt"))
            .where(F.col("cnt") != 0)
            .drop("cnt")
        )
        supp_lives.append((prefix, named, live))
    if spec.join_type != "inner":
        return _serve_outer(spark, base, spec, out, supp_lives)
    for _prefix, named, live in supp_lives:
        aggs, exp = _supp_aggs(named, distinct_vals=False)
        agg = _expand_topks(live.groupBy(*groups).agg(*aggs), exp)
        out = _null_safe_group_join(out, agg, groups, "left")
    return _finish_view(spec, out)


def _finish_view(spec: JoinViewSpec, out: DataFrame) -> DataFrame:
    """Shared serve epilogue: COUNT(DISTINCT) of an all-NULL group is 0,
    not NULL — such a group has NO support rows (NULL values never enter
    the fold), so the support left join leaves its count column NULL,
    unlike MIN/MAX where NULL is the correct SQL answer. Then restore the
    spec's declared column order, and give GROUP-LESS specs SQL's
    global-aggregate semantics: one row (COUNT=0, SUM/MIN/MAX NULL,
    COUNT(DISTINCT)=0) even when the fold's zero-group drop-out removed
    the last state row (r16 advice)."""
    for _p, _e, _v, named in spec.supp_tables:
        for name, kind in named:
            if kind == "count":
                out = out.withColumn(
                    name, F.coalesce(F.col(name), F.lit(0).cast("long"))
                )
    if spec.supp_tables:
        out = out.select(
            *spec.group_cols, "dn", *[n for n, _ in spec.measures],
            *[e[0] for e in spec.extrema],
            *[d[0] for d in spec.distincts],
            *[f"{t[0]}{i}" for t in spec.topks
              for i in range(1, int(t[3]) + 1)],
        )
    if not spec.group_cols:
        count_names = {
            name
            for _p, _e, _v, named in spec.supp_tables
            for name, kind in named
            if kind == "count"
        }
        # a global view serves AT MOST one row — collect it once instead
        # of probing emptiness with limit(1).count() and then letting the
        # caller re-execute the whole serve plan (r17 review)
        spark = out.sparkSession
        rows = out.collect()
        if rows:
            out = spark.createDataFrame(rows, out.schema).withColumn(
                "dn", F.coalesce(F.col("dn"), F.lit(0).cast("long"))
            )
        else:
            out = spark.range(1).select(*[
                F.lit(0 if f.name == "dn" or f.name in count_names
                      else None).cast(f.dataType).alias(f.name)
                for f in out.schema.fields
            ])
    return out


def _serve_outer(
    spark: SparkSession,
    base: str,
    spec: JoinViewSpec,
    m1: DataFrame,
    supp_lives: list,
) -> DataFrame:
    """Serve a factorized OUTER-join view: outer-join the maintained M1
    aggregate against the dim kv state and re-group to the final view.
    Facts whose FK resolves to no live dim surface in the NULL group
    (left/full); factless dims surface as one counted row with NULL
    measure contributions (right/full). Support-derived aggregates
    (extrema / COUNT(DISTINCT)) re-derive per FINAL group through the
    same dim join — COUNT(DISTINCT) needs ``countDistinct`` here because
    one value may live under several FKs mapping to one group."""
    dim = spec.dims[0]
    fk = dim.fact_fk
    if spec.join_type == "left":
        # a LEFT serve only needs dims referenced by M1: materialize M1
        # once on the driver (feeding the lazy fold to the join would
        # execute the whole scan+groupBy twice — r16 review) and read the
        # dims for its FKs straight from that collect, so serve cost
        # tracks |M1|, not |dim| (r15 verdict #2)
        rows = m1.collect()
        m1 = spark.createDataFrame(rows, spec.sums_ddl)
        dim_state = probe_key_list(
            spark, spec.dim_store(base, 0), dim.ddl, dim.key,
            [r[fk] for r in rows],
        )
    else:
        # every dim row is part of a right/full answer, so the full dim
        # state is this serve's own output bound — nothing to prune
        dim_state = key_state(
            spark, spec.dim_store(base, 0), dim.ddl, dim.key
        )
    dside = dim_state.select(
        F.col(dim.key).alias("__dk"),
        *[F.col(c).alias(f"__d_{c}") for c in dim.payload],
    )
    how = {
        "left": "left_outer", "right": "right_outer", "full": "full_outer",
    }[spec.join_type]
    dim_groups = set(spec._dim_side_group_cols())

    def gexprs():
        return [
            (F.col(f"__d_{g}") if g in dim_groups else F.col(g)).alias(g)
            for g in spec.group_cols
        ]

    joined = m1.join(dside, F.col(fk) == F.col("__dk"), how)
    # COUNT(*): matched rows carry M1's per-FK row count; a factless dim
    # row (right/full only) counts 1; SUM measures keep SQL's
    # NULL-skipping semantics (a group of only factless dims sums NULL)
    aggs = [
        F.sum(F.coalesce(F.col("dn"), F.lit(1))).cast("long").alias("dn")
    ]
    aggs += [
        F.sum(name).cast("long").alias(name) for name, _ in spec.measures
    ]
    out = joined.groupBy(*gexprs()).agg(*aggs)
    # support rows are fact-side: they follow the fact side's dangling
    # treatment (kept into the NULL group for left/full, dropped for
    # right); factless-dim groups get their counts/extrema from the final
    # left join + coalesce (0 / NULL)
    supp_how = "inner" if spec.join_type == "right" else "left_outer"
    for _prefix, named, live in supp_lives:
        sj = live.join(dside, F.col(fk) == F.col("__dk"), supp_how)
        aggs, exp = _supp_aggs(named, distinct_vals=True)
        agg = _expand_topks(sj.groupBy(*gexprs()).agg(*aggs), exp)
        out = _null_safe_group_join(
            out, agg, list(spec.group_cols), "left"
        )
    return _finish_view(spec, out)


def latest_sums(spark: SparkSession, base: str) -> DataFrame:
    """The default-spec view as (grp, n_rows, total) — the original
    SUM/COUNT gate surface."""
    return latest_view(spark, base).select(
        "grp", F.col("dn").alias("n_rows"), F.col("dq").alias("total")
    )


def changelog_from_view_deltas(
    delta: DataFrame,
    key_cols,
    payload_cols,
    lsn: int,
) -> DataFrame:
    """Adapt a KEYED view's signed batch deltas into latest-wins change
    rows ``(*key_cols, *payload_cols, op, lsn)`` — the composition hook:
    an upstream view whose group columns include its key maintains a
    JOIN TABLE (one live row per key), and this turns its per-batch
    deltas into the changelog a DOWNSTREAM view ingests as a dimension
    stream. A chained snowflake ``F -> C -> N`` then maintains as two
    stacked single-hop views: the composite dimension ``C x N`` (keyed
    by C's key) feeds the fact view, and a NATION-level change fans out
    through the composite's delta rule into per-customer dim updates
    downstream — exactly the cascade a monolithic chain rule would
    compute, factored into bounded single-hop steps.

    Rules (after netting dn per full row and dropping zeros): a key with
    a positive row asserts its new image (op U — latest-wins upserts
    cover inserts); a key with only negative rows was deleted upstream
    (op D). The upstream view being keyed guarantees at most one
    positive row per key per batch. ``lsn`` must be monotone across
    batches — the caller's batch id is the natural choice (the adapter's
    output is the only writer of the downstream store, so WAL LSNs and
    batch ids never mix). Deterministic given the materialized upstream
    delta (``apply_batch(..., return_delta=True)``), so replays adapt to
    byte-identical changelogs."""
    key_cols, payload_cols = list(key_cols), list(payload_cols)
    net = (
        delta.groupBy(*key_cols, *payload_cols)
        .agg(F.sum("dn").alias("__net"))
        .where(F.col("__net") != 0)
    )
    tag = [
        F.lit("U").alias("op"),
        F.lit(int(lsn)).cast("long").alias("lsn"),
    ]
    asserts = net.where(F.col("__net") > 0).select(
        *key_cols, *payload_cols, *tag
    )
    # guard the load-bearing invariant instead of diverging silently: a
    # NON-keyed upstream (its group columns missing the key) can net two
    # positive images for one key; both would carry the same (key, lsn)
    # and the downstream latest-wins tie-break would pick one
    # NONDETERMINISTICALLY across replays. One extra O(|batch|) count on
    # the (materialized, batch-bounded) delta buys the loud failure.
    dup = (
        asserts.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("__n"))
        .where(F.col("__n") > 1)
    )
    if dup.limit(1).count():
        raise ValueError(
            "changelog_from_view_deltas: multiple positive images for one "
            f"key in a single batch (key_cols={key_cols}) — the upstream "
            "view is not KEYED by these columns; its spec's group_cols "
            "must include the key"
        )
    deletes = (
        net.where(F.col("__net") < 0)
        .join(asserts.select(*key_cols), key_cols, "left_anti")
        .select(*key_cols, *payload_cols, *tag)
        .withColumn("op", F.lit("D"))
    )
    return asserts.unionByName(deletes)


def apply_chain_batch(
    spark: SparkSession,
    hops,
    batch_id: int,
    top_d_batch=None,
    max_live_partials: int = 8,
) -> None:
    """One foreachBatch step of an ARBITRARY-DEPTH dimension chain
    maintained as stacked views. ``hops`` is a top-down sequence of
    ``(state_dir, spec, fact_batch)`` or — when a downstream hop is a
    MULTI-dimension star whose FIRST dim is the chained composite —
    ``(state_dir, spec, fact_batch, other_dim_batches)`` with one batch
    per ``spec.dims[1:]`` entry. Every hop except the LAST is a KEYED
    composite view (its group columns include its fact key) whose sums
    fold is skipped and whose adapted, MATERIALIZED changelog (versioned
    per batch under its own state dir — replay overwrites, older sweeps;
    one write instead of re-evaluating the netting per downstream
    consumer) becomes the NEXT hop's dims[0] stream; the last hop is the
    serving view. ``top_d_batch`` feeds ALL of the topmost hop's own
    dimensions. A k-level chain (fact -> dim -> ... -> dim) is k bounded
    single-hop maintenances — never a k-way join of full states — and a
    MIXED shape (star fact whose first dimension is itself chained)
    composes the same way: the star's other dims ride alongside the
    adapted changelog.

    Validated at entry (the fail-loudly-at-construction contract): each
    non-last hop must be keyed, and its adapted changelog's columns
    (key + non-key group columns) must match the NEXT hop's first
    dimension by NAME, ORDER and TYPE — a name/order mismatch would
    otherwise surface as an opaque AnalysisException mid-batch after the
    upstream work already ran, and a TYPE mismatch (int group upstream
    vs long dim DDL downstream) as a parquet schema-read failure or
    silently null columns (r16 advice)."""
    hops = [tuple(h) for h in hops]
    bid = int(batch_id)
    if len(hops[0]) > 3 and hops[0][3]:
        raise ValueError(
            "apply_chain_batch: the topmost hop's dimensions are all fed "
            "by top_d_batch — other_dim_batches only applies downstream"
        )
    for i, hop in enumerate(hops[:-1]):
        spec = hop[1]
        if spec.fact_key not in spec.group_cols:
            raise ValueError(
                f"apply_chain_batch: hop {i}'s group_cols must include "
                f"its fact_key ({spec.fact_key!r}) — every non-last hop "
                "maintains a keyed join table"
            )
        down = hops[i + 1][1]
        if not down.dims:
            raise ValueError(
                f"apply_chain_batch: hop {i + 1} has no dims to receive "
                f"hop {i}'s changelog"
            )
        payload = [g for g in spec.group_cols if g != spec.fact_key]
        want = (down.dims[0].key, *down.dims[0].payload)
        have = (spec.fact_key, *payload)
        if want != have:
            raise ValueError(
                f"apply_chain_batch: hop {i}'s adapted changelog columns "
                f"{have} do not match hop {i + 1}'s dims[0] "
                f"({want}) — the downstream dim spec must mirror the "
                "upstream key and group payload, in order"
            )
        down_types = down._types(down.dims[0].ddl)
        have_t = [spec._group_type(g) for g in have]
        want_t = [down_types[c] for c in want]
        if have_t != want_t:
            raise ValueError(
                f"apply_chain_batch: hop {i}'s changelog column types "
                f"{have_t} do not match hop {i + 1}'s dims[0] DDL types "
                f"{want_t} for columns {want} — a type drift would "
                "surface later as a parquet schema-read failure"
            )
    for i, hop in enumerate(hops[1:], start=1):
        extra = len(hop) > 3 and hop[3] is not None and list(hop[3]) or []
        if len(extra) != len(hop[1].dims) - 1:
            raise ValueError(
                f"apply_chain_batch: hop {i} has {len(hop[1].dims)} dims; "
                f"dims[0] receives the upstream changelog, so "
                f"{len(hop[1].dims) - 1} other_dim_batches are required "
                f"(got {len(extra)})"
            )
    dim_stream = top_d_batch
    for i, hop in enumerate(hops):
        state, spec, f_batch = hop[:3]
        if i > 0:
            extra = list(hop[3]) if len(hop) > 3 and hop[3] else []
            dim_stream = [dim_stream, *extra]
        if i == len(hops) - 1:
            apply_batch(
                spark, state, bid, dim_stream, f_batch,
                max_live_partials=max_live_partials, spec=spec,
            )
            return
        delta = apply_batch(
            spark, state, bid, dim_stream, f_batch,
            max_live_partials=max_live_partials,
            spec=spec, return_delta=True, fold_sums=False,
        )
        payload = [g for g in spec.group_cols if g != spec.fact_key]
        changelog = changelog_from_view_deltas(
            delta, [spec.fact_key], payload, lsn=bid,
        )
        t = {g: spec._group_type(g) for g in spec.group_cols}
        ddl = ", ".join(
            f"{c} {t[c]}" for c in (spec.fact_key, *payload)
        ) + ", op string, lsn long"
        dim_stream = _materialize_versioned(
            changelog, state, "adapted_changelog", bid, ddl
        )


def chain_spec_pair() -> tuple:
    """The shipped two-hop chain spec pair (orders -> customers ->
    nations) — the shape `cdc_stream_ivm_dim_chain`, the kernel fuzz's
    composition schedules, and the soak's ``--chain-compare`` all drive
    (one source, living kernel-side so tests and tools need not import
    the plans registry — r16 review; the module already ships
    ``DEFAULT_SPEC`` as the same kind of reference shape). Upstream: the
    composite dimension customers x nations, KEYED by the customer key.
    Downstream: the ordinary fact x dim view whose dim stream is the
    composite's adapted changelog."""
    comp = JoinViewSpec(
        fact_ddl="cid long, nk long, seg int, op string, lsn long",
        fact_key="cid",
        fact_payload=("nk", "seg"),
        group_cols=("cid", "seg", "region"),
        measures=(),
        dims=(DimSpec(ddl="nk long, region int, op string, lsn long",
                      key="nk", payload=("region",), fact_fk="nk"),),
    )
    fact = JoinViewSpec(
        fact_ddl="oid long, cid long, amount int, op string, lsn long",
        fact_key="oid",
        fact_payload=("cid", "amount"),
        group_cols=("seg", "region"),
        measures=(("total", "amount"),),
        dims=(DimSpec(
            ddl="cid long, seg int, region int, op string, lsn long",
            key="cid", payload=("seg", "region"), fact_fk="cid",
        ),),
    )
    return comp, fact


def mixed_chain_spec_pair() -> tuple:
    """The MIXED-shape composition pair (r16 verdict item 4): a STAR
    fact view with TWO dimensions, the first of which is itself the
    chained composite (customers x nations, keyed by the customer key)
    while the second (channels) hangs directly off the fact — proving
    ``apply_chain_batch`` composes with ``dims=N`` downstream specs, not
    only the 1-dim downstream the plain chain uses. One source for the
    gate (`cdc_stream_ivm_mixed_chain`), the kernel fuzz's mixed
    schedules, and the soak. The composite IS the plain chain's — one
    definition (r17 review: no spec twins)."""
    comp, _ = chain_spec_pair()
    fact = JoinViewSpec(
        fact_ddl="oid long, cid long, ch long, amount int, "
                 "op string, lsn long",
        fact_key="oid",
        fact_payload=("cid", "ch", "amount"),
        group_cols=("seg", "region", "kind"),
        measures=(("total", "amount"),),
        dims=(
            DimSpec(
                ddl="cid long, seg int, region int, op string, lsn long",
                key="cid", payload=("seg", "region"), fact_fk="cid",
            ),
            DimSpec(
                ddl="ch long, kind int, op string, lsn long",
                key="ch", payload=("kind",), fact_fk="ch",
            ),
        ),
    )
    return comp, fact
