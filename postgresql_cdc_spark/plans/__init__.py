"""Query inventory: every entry pairs a Spark DataFrame builder with an
ANSI-SQL oracle that DuckDB runs on the same parquet tables.

The driver's correctness gate sorts columns by name and hashes values, so
builders and oracles alias every computed column identically, and all floating
aggregations route through *exact decimal arithmetic* (data has <=4 decimal
places) with a final cast to double — bit-identical on both engines regardless
of partitioning/order.
"""

from __future__ import annotations

from postgresql_cdc_spark.plans.registry import QUERIES, Query, register

# Importing the modules populates QUERIES; its order is the order of the
# imports below and, within a module, of its ``register`` calls.
from postgresql_cdc_spark.plans import extensions  # noqa: E402,F401
from postgresql_cdc_spark.plans import extensions2  # noqa: E402,F401
from postgresql_cdc_spark.plans import extensions3  # noqa: E402,F401
from postgresql_cdc_spark.plans import extensions4  # noqa: E402,F401
from postgresql_cdc_spark.plans import extensions5  # noqa: E402,F401
from postgresql_cdc_spark.plans import extensions6  # noqa: E402,F401
from postgresql_cdc_spark.plans import extensions7  # noqa: E402,F401
from postgresql_cdc_spark.plans import extensions8  # noqa: E402,F401
from postgresql_cdc_spark.plans import extensions9  # noqa: E402,F401
from postgresql_cdc_spark.plans import extensions10  # noqa: E402,F401
from postgresql_cdc_spark.plans import extensions11  # noqa: E402,F401
from postgresql_cdc_spark.plans import extensions12  # noqa: E402,F401
from postgresql_cdc_spark.plans import extensions13  # noqa: E402,F401
from postgresql_cdc_spark.plans import extensions14  # noqa: E402,F401
from postgresql_cdc_spark.plans import extensions15  # noqa: E402,F401
from postgresql_cdc_spark.plans import extensions16  # noqa: E402,F401
from postgresql_cdc_spark.plans import extensions17  # noqa: E402,F401
from postgresql_cdc_spark.plans import extensions18  # noqa: E402,F401
from postgresql_cdc_spark.plans import extensions19  # noqa: E402,F401
from postgresql_cdc_spark.plans import extensions20  # noqa: E402,F401
from postgresql_cdc_spark.plans import extensions21  # noqa: E402,F401
from postgresql_cdc_spark.plans import extensions22  # noqa: E402,F401
from postgresql_cdc_spark.plans import extensions23  # noqa: E402,F401
from postgresql_cdc_spark.plans import extensions24  # noqa: E402,F401
from postgresql_cdc_spark.plans import cdc  # noqa: E402,F401
from postgresql_cdc_spark.plans import streaming_gate  # noqa: E402,F401
from postgresql_cdc_spark.plans import sources_io  # noqa: E402,F401
from postgresql_cdc_spark.plans import events_ext  # noqa: E402,F401
from postgresql_cdc_spark.plans import events_funnels  # noqa: E402,F401
from postgresql_cdc_spark.plans import relational4  # noqa: E402,F401
from postgresql_cdc_spark.plans import scale_patterns  # noqa: E402,F401
from postgresql_cdc_spark.plans import relational  # noqa: E402,F401
from postgresql_cdc_spark.plans import relational2  # noqa: E402,F401
from postgresql_cdc_spark.plans import relational3  # noqa: E402,F401

__all__ = ["QUERIES", "Query", "register"]
