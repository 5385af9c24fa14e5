"""Spark expressions for PostgreSQL array-literal columns.

Numeric arrays (`PgArrayUtil.java:9-43` semantics) are pure built-ins — they
stay inside whole-stage codegen, no Python in the hot path:

    {1,2,3} → transform(split(strip braces, ','), cast)

The quoted-string grammar (`PgArrayUtil.java:45-50,54-204`) has no built-in
equivalent (CSV/JSON quoting rules differ), so it is an Arrow-batched pandas
UDF over the pure-Python parser — the one place the reference's type layer
needs Python. At 100 TB this stays acceptable: the UDF runs only on columns
that actually hold PG string-array literals, batched through Arrow.
"""

from __future__ import annotations

from typing import List, Optional

import pandas as pd
from pyspark.sql import Column, functions as F
from pyspark.sql.types import ArrayType, StringType

from postgresql_cdc_spark.functions.pg_array_parser import parse_string_array
from postgresql_cdc_spark.session import cache_zip_directories


def _numeric_array(col: Column, element_type: str) -> Column:
    inner = F.regexp_replace(col, r"^\{|\}$", "")
    return (
        F.when(col.isNull(), F.lit(None).cast(ArrayType(StringType())))
        .when(col == "{}", F.array().cast(ArrayType(StringType())))
        .otherwise(F.split(inner, ","))
        .cast(f"array<{element_type}>")
    )


def pg_int_array(col) -> Column:
    """``{1,2,3}`` text → array<int> (reference ``asIntegerArray``)."""
    return _numeric_array(F.col(col) if isinstance(col, str) else col, "int")


def pg_long_array(col) -> Column:
    """``{1,2,3}`` text → array<long> (reference ``asLongArray``)."""
    return _numeric_array(F.col(col) if isinstance(col, str) else col, "long")


def pg_double_array(col) -> Column:
    """``{1.5,2.5}`` text → array<double> (reference ``asDoubleArray``)."""
    return _numeric_array(F.col(col) if isinstance(col, str) else col, "double")


@F.pandas_udf(ArrayType(StringType()))
def pg_string_array(s: pd.Series) -> pd.Series:
    """Quoted/escaped PG text[] literal → array<string>.

    Implements the full grammar of the reference's recursive-descent parser
    (`PgArrayUtil.java:54-204`): unquoted runs, quoted elements with
    ``\\b \\f \\n \\r \\t \\uXXXX \\" \\\\`` escapes, positional errors.
    """
    cache_zip_directories()  # runs in a Python worker, once per batch

    def parse(v: Optional[str]) -> Optional[List[str]]:
        return parse_string_array(v)

    return s.map(parse)
