"""Incremental view maintenance (IVM) from a CDC changelog.

Maintains ``COUNT(*)`` and ``SUM(value)`` per group directly from I/U/D
envelope events — each event emits retract/assert deltas ``(-old image,
+new image)`` against the grouping column, WITHOUT materializing row state:
the way a streaming CDC consumer keeps an aggregate fresh at a fraction of
recompute cost (`CdcEngine.java:132-137` orders by LSN; the delta algebra
is Gupta & Mumick's counting algorithm specialized to distributive
aggregates).

Correctness contract (equality with aggregate-of-``materialize`` is pinned
by ``tests/test_ivm_equivalence.py`` on random protocol-valid changelogs):

- the prior image per key comes from ONE window — a running ``last()`` fill
  of presence-tagged structs for just the two needed columns, far lighter
  than full materialization. TOAST-sparse UPDATE images (column absent from
  the map, `PgWalMessageDecoder.java:206-207`) inherit the prior value
  because an absent column contributes NULL to the fill; a present-but-NULL
  column overwrites (the struct's ``nv`` flag keeps the distinction).
- mid-stream capture start (first event is U): nothing to retract, the
  U asserts the first known image — matching ``materialize``'s
  implicit-insert semantics. A D-first key retracts nothing (it was never
  asserted), matching the DELETE-terminal drop.
- at-least-once replay: duplicate INSERTs assert once (an I only asserts
  when it opens a generation — no previous event, or previous op was D) and
  duplicate DELETEs retract once (a D only retracts while the row is
  alive); duplicate UPDATEs cancel to one net delta regardless of how the
  window orders the tied rows (both orders yield -old +new exactly once).

Shape at 100 TB: the window shuffle is the same key partitioning every
materialization query uses; the delta explode is 2 rows max per event; the
final aggregate is map-side-combinable to |groups| rows. Nothing touches
the driver.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window


def incremental_group_agg(
    changelog: DataFrame,
    keys: Sequence[str],
    group_col: str,
    sum_col: str,
    lsn_col: str = "lsn",
    op_col: str = "op",
    map_col: str = "columns",
    sum_type: str = "long",
) -> DataFrame:
    """``(group, n_rows, total)`` maintained from deltas alone.

    ``group_col`` / ``sum_col`` are payload-map entries; values follow the
    PG text format, so the sum column casts text -> double -> ``sum_type``
    (a direct string->long cast nulls out on '17.0'-style literals).
    Rows whose sum value is NULL (or absent since generation start) count
    in ``n_rows`` and contribute nothing to ``total`` — SUM semantics.
    """
    m = F.col(map_col)

    def tagged(c: str):
        # NULL when the column is ABSENT from the image (TOAST / key-only
        # tuple) so the running fill inherits; a present entry carries its
        # own null flag so explicit NULL overwrites.
        return F.when(
            F.map_contains_key(m, c),
            F.struct(
                F.element_at(m, c).isNotNull().alias("nv"),
                F.element_at(m, c).alias("v"),
            ),
        )

    ev = changelog.select(
        *[F.element_at(m, k).alias(f"__k_{k}") for k in keys],
        F.col(lsn_col).alias("__lsn"),
        F.col(op_col).alias("__op"),
        tagged(sum_col).alias("__s"),
        tagged(group_col).alias("__g"),
    )
    knames = [f"__k_{k}" for k in keys]
    w = (
        Window.partitionBy(*knames)
        .orderBy("__lsn")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_lag = Window.partitionBy(*knames).orderBy("__lsn")
    # Generation-aware fill (materialize's re-INSERT freshness rule, applied
    # at every event because IVM needs each event's prior image): a running
    # count of INSERTs numbers row generations, every fill struct carries
    # the generation it was written in, and a fill read in a LATER
    # generation is stale — without this, a re-insert after DELETE would
    # inherit pre-delete column values and silently diverge from
    # materialize (the module's pinned correctness contract).
    df1 = ev.withColumn(
        "__gen", F.sum((F.col("__op") == "I").cast("int")).over(w)
    )

    def genfill(c: str):
        s = F.col(c)
        return F.last(
            F.when(
                s.isNotNull(),
                F.struct(
                    F.col("__gen").alias("g"),
                    s["nv"].alias("nv"),
                    s["v"].alias("v"),
                ),
            ),
            ignorenulls=True,
        ).over(w)

    filled = df1.select(
        *knames, "__lsn", "__op", "__gen",
        genfill("__s").alias("__cs"),
        genfill("__g").alias("__cg"),
    ).select(
        "__op", "__gen",
        "__cs", "__cg",
        F.lag("__cs").over(w_lag).alias("__ps"),
        F.lag("__cg").over(w_lag).alias("__pg"),
        F.lag("__op").over(w_lag).alias("__pop"),
        F.lag("__gen").over(w_lag).alias("__pgen"),
    )

    def val(s, gen):
        return F.when(
            s.isNotNull() & (s["g"] == gen) & s["nv"],
            s["v"].cast("double").cast(sum_type),
        )

    def grp(g, gen):
        return F.when(g.isNotNull() & (g["g"] == gen) & g["nv"], g["v"])

    op = F.col("__op")
    opens_gen = F.col("__pop").isNull() | (F.col("__pop") == "D")
    alive = F.col("__pop").isNotNull() & (F.col("__pop") != "D")
    assert_ev = ((op == "I") & opens_gen) | (op == "U")
    retract_ev = op.isin("U", "D") & alive

    cur_v = val(F.col("__cs"), F.col("__gen"))
    prev_v = val(F.col("__ps"), F.col("__pgen"))
    # dnn tracks the NON-NULL value count per group: SUM must report NULL
    # when every live value is NULL, which the running sum alone cannot
    # distinguish from deltas cancelling to exactly zero.
    plus = F.when(
        assert_ev,
        F.struct(
            grp(F.col("__cg"), F.col("__gen")).alias("g"),
            cur_v.alias("dq"),
            F.lit(1).cast("long").alias("dn"),
            cur_v.isNotNull().cast("long").alias("dnn"),
        ),
    )
    minus = F.when(
        retract_ev,
        F.struct(
            grp(F.col("__pg"), F.col("__pgen")).alias("g"),
            (-prev_v).alias("dq"),
            F.lit(-1).cast("long").alias("dn"),
            (-prev_v.isNotNull().cast("long")).alias("dnn"),
        ),
    )
    deltas = filled.select(
        F.explode(F.array_compact(F.array(minus, plus))).alias("d")
    )
    return (
        deltas.groupBy(F.col("d.g").alias(group_col))
        .agg(
            F.sum("d.dn").alias("n_rows"),
            F.sum("d.dq").alias("__raw"),
            F.sum("d.dnn").alias("__nn"),
        )
        # counting algorithm: a group whose membership count reaches zero is
        # deleted from the view; a group whose non-null count reaches zero
        # reports SUM = NULL (SQL SUM semantics), not the residual zero
        .where(F.col("n_rows") != 0)
        .select(
            group_col, "n_rows",
            F.when(F.col("__nn") > 0, F.col("__raw")).alias("total"),
        )
    )
