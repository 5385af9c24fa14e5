"""Compaction for epoch-partitioned maintained stores — the small-file
lifecycle pass for ``streaming/epoch_io.py`` sinks, the WAL archive's
index -> prune -> compact lifecycle one level up.

A foreachBatch-maintained store (the streaming BM25 corpus statistics, the
streaming IVF postings) accretes ONE partition — and for stats stores one
partial row — per epoch, forever: at a one-minute trigger that is ~525k
partition directories a year, so listing cost, tiny-file count, and the
serve path's fold width all grow linearly with stream age even though the
folded state is constant-size. ``compact_epochs`` folds every partition
with ``ingest_epoch < upto`` into ONE base partition while preserving the
two contracts the streaming gates rely on:

- **replay idempotence** (``epoch_io`` contract): a re-run of any epoch
  ``e >= upto`` must still see exactly the pre-``e`` state through
  :func:`epochs_before_compacted`, and its own replay (dynamic overwrite,
  or ``epoch_io.epoch_replace``'s rename for kv stores) still replaces
  only its own partition (the base lives in the reserved NEGATIVE epoch
  space no live batch id can collide with).
- **crash invisibility** (the ``compact_wal_archive`` protocol): a crash at
  any point during compaction leaves readers seeing EITHER the exact
  pre-compaction state or the exact post-compaction state, never a double
  count and never a partial fold.

Protocol (single maintenance writer, the same assumption the WAL archive
compactor makes — ``streaming/archive_maintenance.py``):

1. The rows of the current base (if any) plus every live partition in
   ``[current_base_upto, upto)`` are folded — optionally through a caller
   ``merge`` aggregate (SUM-mergeable stats partials collapse to one row;
   the default concatenates, which is what postings stores need) — and
   written under the reserved base partition ``ingest_epoch = -upto`` by
   Spark's dynamic partition overwrite (``epoch_io.epoch_overwrite``), so
   a crashed earlier attempt at the SAME ``upto`` is replaced wholesale;
   the base's files are then fsynced (``durable.fsync_tree``) — the fold
   is the only surviving copy once step 3 runs, so it must be durable
   before the commit references it. Latest-wins kv stores pass their
   own ``fold`` (``kv_store.kv_fold``): a key-ordered merge on the driver,
   written and fsynced through ``epoch_io.epoch_replace``, under the same
   steps 2 and 3.
2. The manifest ``_epoch_base.json`` (``{"upto": U}``) is replaced
   atomically by ``durable.replace_file`` (tmp + fsync + rename +
   directory fsync). This is the commit point: readers resolve the base
   partition as ``-U`` and live partials as ``>= U``, so before the rename
   they see the old base + old partials (the orphan new base is outside
   both ranges), and after it the new base + surviving partials — never
   both generations of the same row.
3. Only then are the folded partition directories (old base and partials
   ``< upto``) deleted; a crash between 2 and 3 leaves stale directories
   that every manifest-aware read filters out, and a re-run of
   ``compact_epochs`` at the same ``upto`` completes the sweep.

``upto`` must not exceed the oldest epoch that may still replay: a
committed micro-batch never re-runs (Structured Streaming replays only the
batch whose checkpoint commit did not land), so compacting up to — but not
beyond — the latest committed epoch is always safe; the streaming gates
compact ``upto = <last epoch>`` after the query terminates, keeping the
newest epoch live (the WAL compactor's newest-chunk convention).

Every fsync goes through ``streaming/durable.py``, the policy the WAL
archive shares: an ``EIO`` (lost writeback) aborts the pass before its
commit point or before its sweep; a capability or permission refusal is
tolerated.

Filesystem note: manifest and directory maintenance use local ``os``/
``shutil`` calls like the WAL archive transport does; on a cluster store
the same three-step protocol runs against the Hadoop FileSystem API — the
commit point stays a single atomic rename.

Reader-vs-compactor race: a read that resolves the manifest and then
lists or scans while a compaction COMMITS in between can see a torn view.
The horizon filter can never double-count (the new base lives at a
different reserved epoch, outside a stale horizon's :func:`live_range`),
but it CAN lose the fold: loudly, when the old base is swept between the
listing and the read, or silently, when the listing runs after the sweep
and sees neither the old base (swept) nor the new one (filtered out).
:func:`read_at_horizon` closes both by re-resolving the manifest after the
read and retrying on a horizon move (the WAL reader's unexplained-loss
retry, one level up). The kv point read (``kv_store.probe_key_state``)
is a serve path built on it, so it is safe to run beside ``maybe_compact``
without holding off maintenance; :func:`consistent_epoch_read` is the same
loop for a Spark action. Other serve paths (:func:`read_epoch_store`,
:func:`epochs_before_compacted`) still run QUIESCENT with respect to
maintenance — the streaming gates compact inside foreachBatch (no
concurrent serve) or after the query terminates — mirroring the WAL
compactor's single-maintenance-writer assumption.
"""

from __future__ import annotations

import json
import os
import re
import shutil
from typing import Callable, Optional, TypeVar

from pyspark.sql import DataFrame, SparkSession, functions as F

from postgresql_cdc_spark.streaming.durable import fsync_dir, fsync_tree, replace_file
# the warn-once set, which tests reset through this module
from postgresql_cdc_spark.streaming.durable import _PERM_TOLERATED_WARNED  # noqa: F401
from postgresql_cdc_spark.streaming.epoch_io import (
    EPOCH_COL,
    epoch_overwrite,
    hidden_leftovers,
)

BASE_MANIFEST = "_epoch_base.json"

# Size of one file of a key-clustered Spark fold (``cluster_by``): the
# ``operators/layout`` sizing rule, applied to the folded input bytes.
TARGET_FILE_BYTES = 128 * 1024 * 1024

_PART_RE = re.compile(rf"^{EPOCH_COL}=(-?\d+)$")

T = TypeVar("T")


def base_upto(path: str) -> int:
    """The store's committed base horizon U: every epoch ``< U`` has been
    folded into the base partition ``ingest_epoch = -U``. 0 (no base) when
    the manifest is absent; an unreadable manifest raises — guessing a
    horizon could double-count a fold."""
    fp = os.path.join(path, BASE_MANIFEST)
    if not os.path.exists(fp):
        return 0
    with open(fp) as f:
        return int(json.load(f)["upto"])


def live_range(
    upto: int, before: Optional[int] = None
) -> tuple[Optional[int], int, Optional[int]]:
    """The one rule for which partitions a read at base horizon ``upto``
    sees: ``(base, lo, hi)`` — the base partition ``-upto`` (``None`` while
    no base is committed: at horizon 0 ``-0`` would alias LIVE epoch 0, which
    the lifecycle fuzz found) plus the partials in ``[lo, hi)``, ``hi`` being
    ``before`` (``None``: no upper bound). Stale partials (< upto) and
    orphan bases from crashed attempts fall outside both. Raises when
    ``before < upto``: the strictly-earlier state was folded away and the
    contract is unsatisfiable (the epoch-store analog of the WAL retention
    ``ProtocolError`` for a cursor below the pruned head)."""
    upto = int(upto)
    if before is not None and int(before) < upto:
        raise ValueError(
            f"epoch {before} predates the compacted base horizon {upto}: "
            "the strictly-earlier state no longer exists; compact only up "
            "to the oldest epoch that may still replay"
        )
    return (-upto if upto > 0 else None), upto, (
        None if before is None else int(before)
    )


def _store_filter(upto: int, before: Optional[int] = None):
    """:func:`live_range` as a predicate on the partition column. Every arm
    is a simple comparison, so the filter prunes at the file level."""
    base, lo, hi = live_range(upto, before)
    cond = F.col(EPOCH_COL) >= F.lit(lo)
    if hi is not None:
        cond = cond & (F.col(EPOCH_COL) < F.lit(hi))
    if base is not None:
        cond = (F.col(EPOCH_COL) == F.lit(base)) | cond
    return cond


def live_files(path: str, upto: int, before: Optional[int] = None) -> list[str]:
    """:func:`live_range` as a file listing: the data files of the
    partitions a read at horizon ``upto`` sees, skipping names that start
    with ``_`` or ``.`` as Spark does (``.crc`` checksums, markers). A
    missing store lists nothing. A partition swept after the directory
    listing raises ``FileNotFoundError``; :func:`read_at_horizon` retries
    it."""
    base, lo, hi = live_range(upto, before)
    out = []
    for e in sorted(_partition_epochs(path)):
        if e == base or (e >= lo and (hi is None or e < hi)):
            out += partition_files(path, e)
    return out


def partition_files(path: str, epoch: int) -> list[str]:
    """The data files of partition ``ingest_epoch=epoch``, in name order
    (Spark's part numbers), skipping names that start with ``_`` or ``.``."""
    d = os.path.join(path, f"{EPOCH_COL}={int(epoch)}")
    return [
        os.path.join(d, n) for n in sorted(os.listdir(d))
        if not n.startswith(("_", "."))
    ]


def _store_reader(spark: SparkSession, schema: Optional[str]):
    """Parquet reader for an epoch store, optionally with an EXPLICIT row
    schema (plus the partition column): a store whose table saw only empty
    batches has no files to infer from and must read as empty, not raise."""
    if schema is None:
        return spark.read
    return spark.read.schema(f"{schema}, {EPOCH_COL} int")


def read_epoch_store(
    spark: SparkSession, path: str, schema: Optional[str] = None
) -> DataFrame:
    """Every live row of a (possibly compacted) epoch store — the base fold
    plus all surviving partials — without the epoch column. The serve-path
    twin of :func:`epochs_before_compacted`; crash leftovers are
    invisible."""
    return (
        _store_reader(spark, schema).parquet(path)
        .where(_store_filter(base_upto(path)))
        .drop(EPOCH_COL)
    )


def epochs_before_compacted(
    spark: SparkSession, path: str, epoch: int, schema: Optional[str] = None
) -> DataFrame:
    """The strictly-earlier-epoch probe over a compacted store: base fold +
    partials in ``[base_upto, epoch)``. Raises ``ValueError`` when ``epoch <
    base_upto`` (:func:`live_range`)."""
    return (
        _store_reader(spark, schema).parquet(path)
        .where(_store_filter(base_upto(path), epoch))
        .drop(EPOCH_COL)
    )


def read_at_horizon(
    path: str, read: Callable[[int], T], max_retries: int = 3
) -> T:
    """Return ``read(U)`` for the store's committed horizon ``U``, safely
    against a CONCURRENT compaction: the one retry loop every serve path
    that cannot quiesce maintenance goes through.

    A horizon-``U`` read can never double-count across a commit (the new
    base's reserved epoch is outside a stale ``U``'s :func:`live_range`),
    so the only torn outcomes are LOUD — the old base swept between the
    listing and the read (``FileNotFoundError``, or a Spark task error) —
    or SILENT — the listing ran after the sweep while the range still
    pinned the old horizon, dropping the fold. Both are detected the same
    way: the manifest moved between the resolve and ``read``'s return.
    ``read`` must therefore be re-runnable (return a value, don't mutate
    state). Errors while the manifest stayed put are ``read``'s own and
    propagate.

    Retries ``max_retries`` times, then raises — a store whose compactor
    outruns every read attempt needs its maintenance cadence fixed, not a
    longer spin.
    """
    last_exc: Exception | None = None
    for _ in range(int(max_retries) + 1):
        upto = base_upto(path)
        try:
            out = read(upto)
        except Exception as exc:  # swept files: OSError, Py4J, Arrow
            if base_upto(path) != upto:
                last_exc = exc
                continue  # loud tear — read again at the new horizon
            raise
        if base_upto(path) == upto:
            return out
        last_exc = None  # silent tear — result may have lost the base
    raise RuntimeError(
        f"epoch store {path!r} was compacted during every read attempt "
        f"({int(max_retries) + 1}); quiesce maintenance or raise "
        "max_retries"
    ) from last_exc


def consistent_epoch_read(
    spark: SparkSession,
    path: str,
    action: Callable[[DataFrame], object],
    max_retries: int = 3,
):
    """Run ``action(df)`` over the store's live rows through
    :func:`read_at_horizon` — the serving-path variant of
    :func:`read_epoch_store` for stores that cannot quiesce maintenance.
    ``action`` may run more than once."""
    return read_at_horizon(
        path,
        lambda upto: action(
            spark.read.parquet(path).where(_store_filter(upto)).drop(EPOCH_COL)
        ),
        max_retries,
    )


def _partition_epochs(path: str) -> list[int]:
    out = []
    try:
        names = os.listdir(path)
    except OSError:
        return out
    for n in names:
        m = _PART_RE.match(n)
        if m:
            out.append(int(m.group(1)))
    return out


def _commit_manifest(path: str, upto: int) -> None:
    # shared-partials mode (r18) can commit a horizon for a base store that
    # never wrote a partition of its own (sparse fold): create the dir
    os.makedirs(path, exist_ok=True)
    replace_file(
        os.path.join(path, BASE_MANIFEST),
        [json.dumps({"upto": int(upto)}).encode()],
    )


def _sweep_stale(path: str, upto: int) -> int:
    """Delete every partition the committed horizon no longer references:
    partials below it and any base other than ``-upto`` (old generations
    and orphans of crashed attempts — a future attempt's orphan is
    recreated wholesale by its re-run's dynamic overwrite, so deleting it
    is always safe). Hidden attempt directories of epochs below the
    horizon (``epoch_io.epoch_replace`` crash leftovers) go too; they are
    not counted, since no reader ever saw them."""
    deleted = 0
    for e in _partition_epochs(path):
        if (0 <= e < upto) or (e < 0 and e != -upto):
            shutil.rmtree(
                os.path.join(path, f"{EPOCH_COL}={e}"), ignore_errors=True
            )
            deleted += 1
    for e, d in hidden_leftovers(path):
        if e < upto:
            shutil.rmtree(d, ignore_errors=True)
    if deleted:
        fsync_dir(path)
    return deleted


def sweep_shared_partials(path: str, below: int) -> int:
    """Retention pass for a SHARED partial store (one consumed by several
    ``compact_epochs(..., partials_from=path)`` base stores and holding no
    base of its own): delete partials strictly below ``below``, which the
    caller must compute as the MINIMUM committed ``base_upto`` across every
    consumer — a partial below that horizon is folded into all of them.
    Crash-safe to interrupt (the next pass finishes it); a partial some
    consumer has not folded yet stays by construction of the minimum.
    Hidden ``epoch_io.epoch_replace`` crash leftovers below it go too, as
    in :func:`_sweep_stale`."""
    deleted = 0
    for e in _partition_epochs(path):
        if 0 <= e < int(below):
            shutil.rmtree(
                os.path.join(path, f"{EPOCH_COL}={e}"), ignore_errors=True
            )
            deleted += 1
    for e, d in hidden_leftovers(path):
        if e < int(below):
            shutil.rmtree(d, ignore_errors=True)
    if deleted:
        fsync_dir(path)
    return deleted


def compact_epochs(
    spark: SparkSession,
    path: str,
    upto: int,
    merge: Optional[Callable[[DataFrame], DataFrame]] = None,
    cluster_by: Optional[list[str]] = None,
    partials_from: Optional[str] = None,
    fold: Optional[Callable[[list[int], int], bool]] = None,
) -> dict:
    """Fold every epoch ``< upto`` (including the current base) into ONE
    base partition ``ingest_epoch = -upto``; returns ``{base_upto_before,
    base_upto_after, folded_partitions, deleted_partitions}``.

    ``partials_from`` (r18) reads the live PARTIALS from a separate shared
    store while the base, manifest and sweep stay in ``path`` — the layout
    where N consumer stores (the per-dimension FK-clustered arrangements)
    fold ONE shared epoch stream instead of each persisting its own copy
    of every epoch. Only partials in ``[base_upto, upto)`` are folded
    (older shared partials may still be pending for a sibling store); the
    shared partials are NEVER deleted here — the caller sweeps them below
    the MINIMUM committed horizon across all consumers
    (:func:`sweep_shared_partials`).

    ``merge`` reshapes the folded rows (schema-preserving) before the write
    — pass the store's partial-merge aggregate for SUM-mergeable stats
    stores; the default keeps the rows verbatim (postings stores). A re-run
    after any crash converges: same-``upto`` re-runs overwrite the same
    base partition and finish the delete sweep; ``upto == base_upto`` is a
    pure garbage-collection pass.

    ``cluster_by`` KEY-CLUSTERS the fold: the merged rows are range-
    partitioned and sorted on the given columns before the base write
    (``operators/layout.compact``'s re-clustering move applied to the base
    fold), so every base file — and every row group inside it — carries a
    tight min/max envelope on the given columns and a keyed read
    (``join_ivm.probe_by_key_list``'s pushed key ranges) prunes its scan to
    the files and row groups actually containing the probed keys. Without
    it the fold inherits the shuffle layout of ``merge``, where key min/max
    spans the whole domain in every file and a probe must read the entire
    base. File count is sized from the folded partitions' INPUT bytes
    against :data:`TARGET_FILE_BYTES` (the ``operators/layout`` sizing
    rule — no extra count job).

    ``fold`` replaces that Spark fold-and-write (step 1) for a store whose
    fold runs on the driver, the latest-wins kv stores'
    ``kv_store.kv_fold``: ``fold(epochs, upto)`` folds the listed
    partitions of ``path`` (the base ``-base_upto`` first when it exists,
    then the partials in ascending order) into partition ``-upto``, durably
    before it returns, and returns whether it wrote that partition (a fold
    whose every row is a tombstone writes none). The guards, the commit
    and the sweep are the same for both."""
    upto = int(upto)
    prev = base_upto(path)
    if upto < prev:
        raise ValueError(
            f"compaction horizon cannot regress: upto={upto} < committed "
            f"base {prev}"
        )
    if upto == prev:
        return {
            "base_upto_before": prev,
            "base_upto_after": prev,
            "folded_partitions": 0,
            "deleted_partitions": _sweep_stale(path, prev),
        }
    # Horizon cannot pass the store head: Spark batch ids are contiguous, so
    # an epoch in [head, upto) WILL arrive later — its partition would land
    # below the committed horizon and every manifest-aware read would filter
    # it out silently. Raising here turns that data loss into a loud misuse
    # error. (Checked after the GC branch: a re-run at upto == prev stays a
    # valid cleanup pass even when the fold consumed every live epoch.)
    src = partials_from or path
    live_now = [e for e in _partition_epochs(src) if e >= 0]
    head = (max(live_now) + 1) if live_now else prev
    if upto > head:
        raise ValueError(
            f"compaction horizon {upto} is beyond the store head {head}: "
            f"epochs {head}..{upto - 1} have not arrived yet and would be "
            "folded over invisibly when they do"
        )

    # Partials below the committed base are crash leftovers the reads
    # already filter (single store) or still pending for a sibling store
    # (shared mode): neither is folded.
    live = sorted(
        {e for e in _partition_epochs(src) if prev <= e < upto}
        | ({-prev} if prev > 0 and -prev in _partition_epochs(path) else set())
    )
    # step 1: the fold lands in the reserved negative epoch (a re-run
    # replaces a crashed attempt at the same horizon wholesale) and is
    # DURABLE before the commit points readers at it — the folded partials
    # are deleted in step 3, so page-cache-only base data plus a power cut
    # would otherwise lose the store's entire history
    if not live:
        wrote = False
    elif fold is not None:
        wrote = fold(live, upto)
    else:
        _spark_fold(spark, path, prev, upto, live, merge, cluster_by,
                    partials_from)
        wrote = True
    if not wrote:
        # nothing to fold (sparse store: no base yet and no partials below
        # the horizon), or a fold whose every row was a tombstone. Writing
        # anyway would be WRONG under a global-aggregate merge — df.agg
        # over zero rows yields one all-null row, a phantom the store would
        # serve forever. Skip the base entirely (readers' base arm then
        # matches nothing) and clear any orphan a crashed attempt left at
        # this horizon, since the commit below would otherwise resurrect it.
        shutil.rmtree(
            os.path.join(path, f"{EPOCH_COL}=-{upto}"), ignore_errors=True
        )
    # step 2: the commit point
    _commit_manifest(path, upto)
    # step 3: the sweep (crash-safe to skip; the next pass finishes it)
    deleted = _sweep_stale(path, upto)
    return {
        "base_upto_before": prev,
        "base_upto_after": upto,
        "folded_partitions": len(live),
        "deleted_partitions": deleted,
    }


def _spark_fold(
    spark: SparkSession,
    path: str,
    prev: int,
    upto: int,
    live: list[int],
    merge: Optional[Callable[[DataFrame], DataFrame]],
    cluster_by: Optional[list[str]],
    partials_from: Optional[str],
) -> None:
    """:func:`compact_epochs`' Spark fold-and-write: the base ``-prev`` and
    the partials in ``[prev, upto)`` read by Spark, merged, optionally
    key-clustered, written under ``-upto`` by dynamic partition overwrite
    (``epoch_io.epoch_overwrite``) and fsynced."""
    part_cond = (
        (F.col(EPOCH_COL) >= F.lit(prev)) & (F.col(EPOCH_COL) < F.lit(upto))
    )
    if partials_from is None:
        # one predicate covers both generations: with prev = 0 the base arm
        # (== -0) collapses into the partial range, so no special case
        folded = (
            spark.read.parquet(path)
            .where((F.col(EPOCH_COL) == F.lit(-prev)) | part_cond)
            .drop(EPOCH_COL)
        )
    else:
        parts = []
        if prev > 0 and -prev in live:  # -0 would alias live epoch 0
            parts.append(
                spark.read.parquet(path)
                .where(F.col(EPOCH_COL) == F.lit(-prev))
                .drop(EPOCH_COL)
            )
        if any(e >= 0 for e in live):
            parts.append(
                spark.read.parquet(partials_from).where(part_cond)
                .drop(EPOCH_COL)
            )
        folded = parts[0]
        for p in parts[1:]:
            folded = folded.unionByName(p)
    if merge is not None:
        folded = merge(folded)
    cached = None
    if cluster_by:
        from pyspark import StorageLevel

        from postgresql_cdc_spark.operators.layout import list_data_files

        part_dirs = {f"{EPOCH_COL}={e}" for e in live}

        def _bytes_of(store: str) -> int:
            # shared mode: the base store may not exist yet (first fold)
            if not os.path.isdir(store):
                return 0
            return sum(
                b for f, b in list_data_files(spark, store)
                if any(f"/{d}/" in f or f.endswith(f"/{d}") for d in part_dirs)
            )

        bytes_in = _bytes_of(path)
        if partials_from is not None:
            bytes_in += _bytes_of(partials_from)
        n_files = max(1, min(4096, -(-bytes_in // TARGET_FILE_BYTES)))
        # repartitionByRange runs a separate SAMPLING job over its child
        # to compute range boundaries — without a persist the whole fold
        # subtree (full store scan + merge aggregate) would execute twice
        # per compaction (r15 review). Spill-safe level: the fold is
        # |state|-sized.
        cached = folded.persist(StorageLevel.MEMORY_AND_DISK)
        folded = cached.repartitionByRange(
            n_files, *cluster_by
        ).sortWithinPartitions(*cluster_by)
    try:
        epoch_overwrite(folded, path, -upto)
    finally:
        if cached is not None:
            cached.unpersist()
    fsync_tree(os.path.join(path, f"{EPOCH_COL}=-{upto}"))


def maybe_compact(
    spark: SparkSession,
    path: str,
    current_epoch: int,
    max_live_partials: int = 8,
    merge: Optional[Callable[[DataFrame], DataFrame]] = None,
    cluster_by: Optional[list[str]] = None,
    partials_from: Optional[str] = None,
    fold: Optional[Callable[[list[int], int], bool]] = None,
) -> Optional[dict]:
    """Size-tiered compaction trigger: the policy a production foreachBatch
    sink calls at the TOP of every epoch (before the epoch's own writes),
    instead of hand-picking horizons. Compacts everything strictly below
    ``current_epoch`` once the store's live partial count exceeds
    ``max_live_partials``; below the cap it's a no-op returning ``None``,
    so steady-state cost is one directory listing per epoch and the live
    partial count stays bounded by the cap regardless of stream age.

    The horizon is the CALLER's ``current_epoch`` — never inferred from the
    partition listing — because a crashed earlier attempt at this very
    epoch may have left its own half-written partition behind: a listing-
    derived horizon would fold those partial rows into the base an instant
    before the replay's overwrite replaces the live partition,
    double-counting the epoch. Capping at the replaying epoch keeps that
    partition live so the overwrite replaces it wholesale (the ``epoch_io``
    contract), which also makes the trigger replay-idempotent: a re-run
    either re-commits the same horizon (compact_epochs converges) or finds
    the count back under the cap and no-ops. ``current_epoch`` is safe as a
    horizon by the micro-batch commit argument in the module docstring:
    every strictly-earlier epoch has committed and can never re-run.
    """
    current_epoch = int(current_epoch)
    base = base_upto(path)
    live = [
        e for e in _partition_epochs(partials_from or path) if e >= base
    ]
    if len(live) <= int(max_live_partials):
        return None
    # A store an epoch wrote no rows to has no partition for it, so the
    # head can trail current_epoch; cap the horizon at the head to keep
    # compact_epochs' not-yet-arrived guard meaningful for direct callers.
    upto = min(current_epoch, max(live) + 1)
    if upto <= base:
        return None
    return compact_epochs(
        spark, path, upto, merge=merge, cluster_by=cluster_by,
        partials_from=partials_from, fold=fold,
    )
