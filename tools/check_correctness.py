"""Local replica of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB over the same parquet tables, then compares:
row count, schema (column names), and an order-insensitive value hash computed
over columns sorted by name and rows sorted lexicographically.

The driver's exact hashing is unknown, so this harness is deliberately strict:
values are canonicalized (floats via repr of float64, decimals/ints/strings
verbatim, arrays recursively) and compared exactly. If we pass here, any
reasonable hash-compare passes too. Run:

    python tools/check_correctness.py [--sf /root/testdata/sf0.01] [--only q1,...]
"""

from __future__ import annotations

import argparse
import hashlib
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def canon(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # float64 repr is round-trip-exact; 1.0 and 1 stay distinct from ints
        return repr(float(v))
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(v[k])}" for k in sorted(v)) + "}"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def _has_decimal(t) -> bool:
    """True if an arrow type contains a decimal anywhere (incl. nested lists/
    structs) — the signature of DuckDB HUGEINT promotion leaking into an
    oracle output column."""
    import pyarrow.types as pat

    if pat.is_decimal(t):
        return True
    if pat.is_list(t) or pat.is_large_list(t) or pat.is_fixed_size_list(t):
        return _has_decimal(t.value_type)
    if pat.is_struct(t):
        return any(_has_decimal(f.type) for f in t)
    if pat.is_map(t):
        return _has_decimal(t.key_type) or _has_decimal(t.item_type)
    return False


def table_fingerprint(cols: list[str], rows: list[tuple]) -> tuple[str, list[str]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
    return h, lines


def canon_spark_type(dt) -> str:
    """Spark DataType -> the common type vocabulary shared with
    ``canon_arrow_type``: width-insensitive FAMILIES (all ints are "int"),
    because the driver's pandas-level hash compare is width-blind too —
    int32 vs int64 hashes identically, while int vs float vs decimal vs
    str is exactly the dtype-drift class the r7 HUGEINT episode showed
    slips past a name-only schema check."""
    from pyspark.sql import types as T

    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "int"
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return "float"
    if isinstance(dt, T.DecimalType):
        return "decimal"
    if isinstance(dt, T.BooleanType):
        return "bool"
    if isinstance(dt, (T.StringType, T.CharType, T.VarcharType)):
        return "str"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return "timestamp"
    if isinstance(dt, T.BinaryType):
        return "binary"
    if isinstance(dt, T.NullType):
        return "null"
    if isinstance(dt, T.ArrayType):
        return f"list<{canon_spark_type(dt.elementType)}>"
    if isinstance(dt, T.MapType):
        return (
            f"map<{canon_spark_type(dt.keyType)},"
            f"{canon_spark_type(dt.valueType)}>"
        )
    if isinstance(dt, T.StructType):
        inner = ",".join(
            f"{f.name}:{canon_spark_type(f.dataType)}" for f in dt.fields
        )
        return f"struct<{inner}>"
    return dt.simpleString()


def canon_arrow_type(t) -> str:
    """Arrow type -> the same vocabulary as ``canon_spark_type``."""
    import pyarrow.types as pat

    if pat.is_integer(t):
        return "int"
    if pat.is_floating(t):
        return "float"
    if pat.is_decimal(t):
        return "decimal"
    if pat.is_boolean(t):
        return "bool"
    if pat.is_string(t) or pat.is_large_string(t):
        return "str"
    if pat.is_date(t):
        return "date"
    if pat.is_timestamp(t):
        return "timestamp"
    if pat.is_binary(t) or pat.is_large_binary(t):
        return "binary"
    if pat.is_null(t):
        return "null"
    if pat.is_list(t) or pat.is_large_list(t) or pat.is_fixed_size_list(t):
        return f"list<{canon_arrow_type(t.value_type)}>"
    if pat.is_map(t):
        return (
            f"map<{canon_arrow_type(t.key_type)},"
            f"{canon_arrow_type(t.item_type)}>"
        )
    if pat.is_struct(t):
        inner = ",".join(f"{f.name}:{canon_arrow_type(f.type)}" for f in t)
        return f"struct<{inner}>"
    return str(t)


def dtype_mismatches(sdf, otypes) -> list[str]:
    """Per-column canonical dtype compare (by column name). A "null"-typed
    side (an all-NULL literal column) matches anything."""
    sp = {f.name: canon_spark_type(f.dataType) for f in sdf.schema.fields}
    oc = {f.name: canon_arrow_type(f.type) for f in otypes}
    out = []
    for name in sorted(set(sp) & set(oc)):
        a, b = sp[name], oc[name]
        if a != b and "null" not in (a, b):
            out.append(f"{name}: spark={a} oracle={b}")
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default=None)
    ap.add_argument("--show-diff", type=int, default=6)
    ap.add_argument(
        "--bare",
        action="store_true",
        help="use a vanilla SparkSession (no repo confs), mimicking the "
        "driver's harness — queries must self-provision any conf they need",
    )
    args = ap.parse_args()

    import __spark_entry__ as entry_mod

    if args.bare:
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.appName("correctness-check-bare")
            .master("local[8]")
            .config("spark.sql.shuffle.partitions", "8")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
    else:
        from postgresql_cdc_spark.session import get_spark

        spark = get_spark("correctness-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{args.sf}/{t}.parquet')"
        )

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    only = set(args.only.split(",")) if args.only else None

    n_pass = n_fail = n_rows_only = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, args.sf)
            srows = [tuple(r) for r in sdf.collect()]
            scols = sdf.columns
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        finally:
            # Builders persist() skinny intermediates read by multiple plan
            # branches and cannot unpersist before their lazy result
            # materializes — the harness owns cleanup (same contract as
            # bench.py), or a full-registry gate accretes hundreds of
            # cached blocks over its run.
            try:
                spark.catalog.clearCache()
            except Exception:  # noqa: BLE001
                pass
        sql = oracles.get(name)
        if sql is None:
            print(f"ROWS-ONLY {name}: {len(srows)} rows  ({time.time()-t0:.1f}s)")
            n_rows_only += 1
            continue
        try:
            cur = con.execute(sql)
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
            # Driver parity: the driver fetches the oracle via arrow/pandas,
            # where HUGEINT / DECIMAL columns (e.g. SUM over BIGINT promotes
            # to HUGEINT) render as float/Decimal and hash-mismatch Spark's
            # int64 even when fetchall() shows identical Python ints. Make
            # that failure class visible locally via the arrow schema.
            # LIMIT 0 wrapper: schema only, never re-executes the query.
            otypes = con.execute(
                f"SELECT * FROM ({sql}) LIMIT 0"
            ).fetch_arrow_table().schema
            bad = [
                f"{f.name}:{f.type}"
                for f in otypes
                if _has_decimal(f.type)
            ]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            n_fail += 1
            continue

        problems = []
        if bad:
            problems.append(
                "oracle type leak (HUGEINT/DECIMAL renders as float via the "
                f"driver's arrow fetch): {', '.join(bad)} — CAST the output "
                "column to BIGINT/DOUBLE in the oracle SQL"
            )
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"schema spark={sorted(scols)} oracle={sorted(ocols)}")
        else:
            dt_bad = dtype_mismatches(sdf, otypes)
            if dt_bad:
                problems.append("dtype drift: " + "; ".join(dt_bad))
        if not problems:
            sh, sl = table_fingerprint(scols, srows)
            oh, ol = table_fingerprint(ocols, orows)
            if sh != oh:
                problems.append(f"valuehash spark={sh} oracle={oh}")
                shown = 0
                for a, b in zip(sl, ol):
                    if a != b and shown < args.show_diff:
                        print(f"    spark : {a[:220]}")
                        print(f"    oracle: {b[:220]}")
                        shown += 1
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)}  ({time.time()-t0:.1f}s)")
            n_fail += 1
        else:
            print(f"PASS {name}: {len(srows)} rows  ({time.time()-t0:.1f}s)")
            n_pass += 1

    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
