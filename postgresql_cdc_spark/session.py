"""SparkSession factory with scale-oriented defaults.

Local mode runs ``local[N]`` with N = ``SPARK_GRAFT_CPUS`` or the host's CPU
count, and every setting is chosen to also be the right default on a large
cluster:

- AQE on (runtime coalesce, skew-join splitting, dynamic join strategy).
- Arrow on for every pandas interchange path (our UDFs are always Arrow-batched).
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real cluster AQE
  coalesces from a deliberately-high initial number, so we set the *initial*
  partition number high and let AQE shrink it.
- Broadcast threshold left at default (10 MB) — dimension tables (region,
  nation, supplier, part at these SFs) broadcast automatically; queries that
  must broadcast regardless of stats use an explicit ``F.broadcast``.
- Streaming checkpoints (offset log, commit log, state-store files) are
  written through Hadoop's ``FileSystem`` API
  (``FileSystemBasedCheckpointFileManager``), not Spark's default
  ``FileContext`` manager. Without Hadoop's native library the local
  ``FileContext`` rename forks ``readlink`` to stat the link and every
  create forks ``chmod``; each log write took about 30 ms of a micro-batch
  trigger that way, about 8 ms through ``FileSystem`` (4 vCPU). The files
  and their layout are the same, and on a local disk the rename is one
  atomic ``rename(2)``, so a checkpoint written under either manager
  restarts under the other. ``extra_conf`` can set the other manager back.

``cache_zip_directories`` lives here too: this module is pickled by value,
so code running in a Python worker can call it without the package
installed there.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# Spark's FileSystem-API checkpoint manager (see the module docstring). The
# class moved into the ``checkpointing`` package in Spark 4;
# ``tests/test_checkpoint_manager.py`` resolves it in the JVM.
CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def cache_zip_directories() -> None:
    """Re-read a zip archive's directory on ``importlib.invalidate_caches()``
    only when the archive file changed. Call it from code that runs in a
    Python worker; it is idempotent and stays installed for the process.

    Spark's worker calls ``invalidate_caches()`` before every task and every
    planner call, and workers import pyspark from ``pyspark.zip``. On
    CPython 3.12.1 and earlier ``zipimport.zipimporter`` reads the archive's
    central directory eagerly, and every importer re-reads it on that call:
    one importer per imported subpackage, 15 to 40 of them on a 1,328-entry
    archive, 0.12 to 0.48 s a call, even in a reused worker. With this
    helper an importer re-reads only when the archive's
    ``(st_mtime_ns, st_size, st_ino)`` differs from when this process last
    read it, and otherwise takes the shared directory already read, so a
    new or rewritten archive (a runtime ``addPyFile``) is still seen. Lazy
    importers (3.13 and later, which have ``_get_files``) are left alone.
    """
    import zipimport

    zi = zipimport.zipimporter
    if hasattr(zi, "_get_files") or hasattr(zi.invalidate_caches, "read_at"):
        return
    reread = zi.invalidate_caches
    read_at: dict = {}  # archive path -> stat key of the last directory read

    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
            key = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            key = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if key is not None and files is not None and read_at.get(self.archive) == key:
            self._files = files
            return
        # stat BEFORE the read: a rewrite racing it leaves a stale key, so
        # the next call reads again rather than trusting an old directory
        reread(self)
        read_at[self.archive] = key

    invalidate_caches.read_at = read_at
    zi.invalidate_caches = invalidate_caches


def get_spark(app_name: str = "postgresql-cdc-spark", extra_conf: dict | None = None) -> SparkSession:
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # local mode runs every executor thread inside the driver JVM: with 32
        # concurrent tasks shuffling map-typed rows, an 8g heap GC-thrashes
        # (observed 5-10x slowdowns late in a session). Size the heap like
        # the executors it stands in for, and set SPARK_DRIVER_MEMORY on a
        # smaller host (perfbench runs with 2g).
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        # events.parquet carries INT64 TIMESTAMP(NANOS) which Spark has no
        # native type for; read as long and convert (see plans.relational.EV)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # An engine process serves ~200 registered query shapes; the default
        # 100-entry generated-class cache thrashes when many queries share a
        # session, and every evicted wide plan (materialize's per-column
        # merge is one) recompiles on its next run. Generated classes are a
        # few KB each — 1000 entries is megabytes, not a memory risk.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.sql.streaming.checkpointFileManagerClass", CHECKPOINT_FILE_MANAGER)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_tables(spark: SparkSession, sf_dir: str) -> dict:
    """Read every synthetic parquet table under ``sf_dir`` as a DataFrame.

    Plain ``spark.read.parquet`` so Catalyst sees a parquet relation — filters
    and column selections in downstream queries push into the scan
    (``PushedFilters`` / ``ReadSchema``) instead of reading whole files.
    """
    return {name: spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet")) for name in TABLES}
