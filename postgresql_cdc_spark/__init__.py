"""postgresql_cdc_spark — a PySpark-native CDC + analytics engine.

A brand-new engine with the query and data-processing capabilities of the
reference ``germanosin/postgresql-cdc`` (a minimal PostgreSQL logical-replication
CDC library), re-expressed Spark-first:

- ``sources``   — pgoutput WAL decoder (pure Python), Spark 4 Python DataSource
                  streaming source, change-log replay, changelog synthesis.
- ``functions`` — PostgreSQL text-format type casts (reference
                  ``TableColumn.asX()``), PG array-literal parsers (reference
                  ``PgArrayUtil``), text analysis, vector math.
- ``operators`` — CDC materialization (change log → current state), dedup
                  (exact / MinHash-LSH / SimHash / n-gram Jaccard / embedding),
                  similarity search, as-of join, multimodal column plumbing.
- ``plans``     — the declared query inventory (Spark DataFrame builders paired
                  with ANSI-SQL oracles for the DuckDB correctness gate).
- ``streaming`` — transaction-aligned consumer adapter (reference
                  ``CdcConsumer``), watermark/window helpers.

Everything is DataFrame/SQL-first so Catalyst supplies pushdown, pruning,
join selection, AQE and whole-stage codegen; Python UDFs appear only where a
built-in genuinely cannot express the semantics (the PG string-array grammar,
multimodal decode) and are always Arrow-batched.
"""

__version__ = "0.1.0"


_SELF_CONTAINED = False


def ensure_self_contained_pickling() -> None:
    """Make every worker-side artifact survive an unimportable package.

    Spark pickles UDF functions, data-source classes, and their module-level
    dependencies BY REFERENCE (module + qualname), so a Python worker must be
    able to ``import postgresql_cdc_spark`` — true when the harness runs in
    the repo, false when a driver imports ``__spark_entry__`` by path from
    another cwd (observed: pandas-UDF and Python-data-source queries fail
    with worker ImportErrors while pure-built-in queries pass). Registering
    the worker-side modules for cloudpickle pickle-BY-VALUE embeds their code
    in the serialized task instead, making every query self-contained no
    matter where the driver process runs. Idempotent; call before the first
    action (the query registry does this on first use).
    """
    global _SELF_CONTAINED
    if _SELF_CONTAINED:
        return
    _SELF_CONTAINED = True
    try:
        from pyspark.cloudpickle import register_pickle_by_value
    except ImportError:  # pragma: no cover - very old pyspark
        return
    # Only modules whose functions/classes actually execute inside Python
    # workers: the array-literal parser + its UDF wrapper, the multimodal
    # Arrow kernels, the streaming data source (+ its pure decoder and the
    # core count its batch planner sizes by), and the stateful dedup.
    # Pure-JVM plan builders never reach a Python worker.
    from postgresql_cdc_spark import session
    from postgresql_cdc_spark.functions import pg_array_parser, pg_arrays
    from postgresql_cdc_spark.operators import multimodal
    from postgresql_cdc_spark.sources import pgoutput
    from postgresql_cdc_spark.streaming import source, stateful

    for mod in (pg_array_parser, pg_arrays, pgoutput, session, source,
                stateful, multimodal):
        try:
            register_pickle_by_value(mod)
        except Exception:  # noqa: BLE001 - best-effort robustness shim
            pass
