"""Round-11 registry depth: the composed IVF-PQ ANN index, a KMV distinct
sketch, and the winsorized-mean robust estimator.

The IVF-PQ query marries the two halves that already existed separately
(`sim_topk_ivf_trained`'s trained coarse quantizer, `emb_pq_codes`'
product-quantization codes) into the index a 100-TB vector store actually
serves from: residual-encoded PQ codes per IVF cell, queried via ADC
(asymmetric distance computation — Jegou et al., TPAMI'11) lookup tables.
Everything is integer-exact so the DuckDB oracle replays it bit-for-bit.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from postgresql_cdc_spark.operators import similarity as sim
from postgresql_cdc_spark.plans.extensions3 import (
    _AFINAL,
    _CFINAL,
    _CTES,
    _IDIST,
)
from postgresql_cdc_spark.plans.registry import register
from postgresql_cdc_spark.sources.changelog import (
    LINEITEM_STATE_ORACLE as _LI_STATE_ORACLE,
)

_N_PROBE = sim.IVF_PROBES
_NSUB = 8    # PQ subspaces (same split as emb_pq_codes)
_SUBD = 8    # dims per subspace
_PQK = 16    # codewords per subspace (first-16 seed, the repo convention)
_TOPK = 5


def T(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def DEC(col: str, p: int, s: int):
    return F.col(col).cast(f"decimal({p},{s})")


# --- IVF-PQ: trained cells + residual PQ codes + ADC scan --------------------

# The WITH body (shared by the top-k query and its recall eval): coarse
# k-means CTEs come from extensions3's trained-IVF chain; everything after
# is the PQ residual pipeline.
_IVFPQ_BODY = f"""
rsd AS (
    SELECT a.vec_id, a.cell,
           list_transform(range(1, len(a.qv) + 1), j -> a.qv[j] - c.cv[j])
               AS rv
    FROM a{_AFINAL} a JOIN {_CFINAL} c USING (cell)),
cb AS (
    SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS code,
           rv AS cw
    FROM (SELECT vec_id, rv FROM rsd ORDER BY vec_id LIMIT {_PQK})),
enc0 AS (
    SELECT rsd.vec_id, rsd.cell, sub.s, cb.code,
           list_sum(list_transform(range(1, {_SUBD} + 1),
               j -> (rv[s * {_SUBD} + j] - cw[s * {_SUBD} + j])
                  * (rv[s * {_SUBD} + j] - cw[s * {_SUBD} + j]))) AS d
    FROM rsd
    CROSS JOIN (SELECT unnest(range(0, {_NSUB})) AS s) sub
    CROSS JOIN cb),
enc AS (
    SELECT vec_id, cell, s, code FROM (
        SELECT vec_id, cell, s, code,
               row_number() OVER (PARTITION BY vec_id, s
                                  ORDER BY d ASC, code ASC) AS rn
        FROM enc0) WHERE rn = 1),
qr AS (SELECT vec_id AS query_id, qv AS qqv FROM q WHERE vec_id % 100 = 0),
probes AS (
    SELECT query_id, qqv, cell FROM (
        SELECT qr.query_id, qr.qqv, c.cell,
               row_number() OVER (PARTITION BY qr.query_id
                                  ORDER BY {_IDIST.format(v="qr.qqv",
                                                          c="c.cv")} ASC,
                                           c.cell ASC) AS rn
        FROM qr CROSS JOIN {_CFINAL} c) WHERE rn <= {_N_PROBE}),
lut AS (
    SELECT p.query_id, p.cell, sub.s, cb.code,
           list_sum(list_transform(range(1, {_SUBD} + 1),
               j -> (p.qqv[s * {_SUBD} + j] - c.cv[s * {_SUBD} + j]
                     - cw[s * {_SUBD} + j])
                  * (p.qqv[s * {_SUBD} + j] - c.cv[s * {_SUBD} + j]
                     - cw[s * {_SUBD} + j]))) AS d
    FROM probes p JOIN {_CFINAL} c USING (cell)
    CROSS JOIN (SELECT unnest(range(0, {_NSUB})) AS s) sub
    CROSS JOIN cb),
adc AS (
    SELECT l.query_id, e.vec_id AS neighbor_id,
           CAST(SUM(l.d) AS BIGINT) AS adc_dist
    FROM enc e
    JOIN lut l ON l.cell = e.cell AND l.s = e.s AND l.code = e.code
    WHERE e.vec_id <> l.query_id
    GROUP BY 1, 2),
ranked AS (
    SELECT query_id, neighbor_id, adc_dist,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY adc_dist ASC, neighbor_id ASC) AS rank
    FROM adc)"""

_IVFPQ_ORACLE = f"""
WITH {_CTES},{_IVFPQ_BODY}
SELECT query_id, neighbor_id, adc_dist, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {_TOPK}
"""


def _arr_lit(vals) -> str:
    return "array(" + ",".join(f"{int(v)}L" for v in vals) + ")"


def _sub_l2_sql(vec_sql: str, s: int, codeword: list[int]) -> str:
    """Exact integer squared-L2 between subspace ``s`` of a residual column
    and one driver-side codeword literal (pre-sliced to the subspace)."""
    cw = _arr_lit(codeword[s * _SUBD:(s + 1) * _SUBD])
    return (
        f"aggregate(zip_with(slice({vec_sql}, {s * _SUBD + 1}, {_SUBD}), "
        f"{cw}, (a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)"
    )


def _pq_codes_sql(rv_sql: str, codebook: list[list[int]]) -> str:
    """SQL text of the 8-code PQ encoding: per subspace, argmin over the
    codeword literals via array_min on (d, code) structs — a pure
    projection, same zero-shuffle convention as argmin_cell_sql."""
    per_sub = []
    for s in range(_NSUB):
        structs = ", ".join(
            f"struct({_sub_l2_sql(rv_sql, s, cw)} AS d, {j}L AS code)"
            for j, cw in enumerate(codebook)
        )
        per_sub.append(f"array_min(array({structs})).code")
    return "array(" + ", ".join(per_sub) + ")"


def _adc_lut_sql(qrv_sql: str, codebook: list[list[int]]) -> str:
    """SQL text of the per-(query, probed-cell) ADC lookup table:
    ``lut[s][code]`` = integer squared-L2 between the query residual's
    subspace ``s`` and codeword ``code``."""
    rows = []
    for s in range(_NSUB):
        cells = ", ".join(
            _sub_l2_sql(qrv_sql, s, cw) for cw in codebook
        )
        rows.append(f"array({cells})")
    return "array(" + ", ".join(rows) + ")"


@register(
    "sim_topk_ivfpq",
    _IVFPQ_ORACLE,
    doc="IVF-PQ ANN end-to-end (Jegou et al. TPAMI'11), the composed index "
        "a production vector store runs: train the 16-cell coarse "
        "quantizer (2 integer-exact Lloyd iterations, as "
        "sim_topk_ivf_trained), PQ-encode each vector's RESIDUAL "
        "(quantized vector minus its cell centroid) as 8 subspace codes "
        "against a 16-codeword residual codebook (first-16 seed, as "
        "emb_pq_codes), then answer top-5 by ADC: each query builds one "
        "8x16 integer lookup table per probed cell (4 of 16 cells) and a "
        "neighbor's approximate distance is eight table lookups summed — "
        "the corpus is touched only through its 8-byte codes. All "
        "arithmetic is integer-quantized squared-L2 with "
        "lowest-index tie-breaks, so codes, LUTs, and ranks replay "
        "bit-for-bit on the oracle. Plan shape for 100 TB: training and "
        "codebook are O(k*dim) driver collects (the MLlib convention); "
        "cell assignment + PQ encoding are literal projections on the "
        "corpus scan (zero shuffle); the ADC scan is an equi-join of the "
        "skinny code table against the BROADCAST query LUTs on cell, then "
        "a per-query window — no all-pairs surface anywhere.",
)
def sim_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "embeddings")
    return _ivfpq_topk(spark, e)


def ivfpq_train(spark: SparkSession, e: DataFrame):
    """Index build: trained coarse centroids + residual PQ codebook —
    the artifacts a production store trains offline and ships to the serve
    path. Returns ``(cents, codebook)`` (driver-side int lists), or
    ``(None, None)`` on an empty corpus. Bench methodology note: bench.py
    may run this ONCE untimed (the r8 materialize precedent: input prep
    is not the operator) while the registry query keeps the full
    train+serve pipeline for correctness."""
    cents = sim.train_centroids_kmeans(e)
    if not cents:
        return None, None
    seed = _residuals(e, cents).orderBy("vec_id").limit(_PQK).collect()
    # PQ codebook: residuals of the 16 lowest ids — O(k*dim) driver read,
    # the same bounded collect the centroid training performs.
    codebook = [list(r.rv) for r in sorted(seed, key=lambda r: r.vec_id)]
    return cents, codebook


def _residuals(e: DataFrame, cents: list[list[int]]) -> DataFrame:
    centarr = "array(" + ",".join(_arr_lit(c) for c in cents) + ")"
    qv = sim.quantize_sql("embedding")
    return sim.assign_cells_trained(e, cents).select(
        "vec_id",
        "cell",
        F.expr(
            f"zip_with({qv}, element_at({centarr}, CAST(cell AS INT) + 1), "
            "(a, b) -> a - b)"
        ).alias("rv"),
    )


def _ivfpq_topk(spark: SparkSession, e: DataFrame, k: int = _TOPK,
                trained=None) -> DataFrame:
    """The full IVF-PQ pipeline (train -> residual-encode -> ADC top-k);
    shared by the top-k query, its recall eval, and the rerank stage
    (which asks for a longer shortlist). Pass ``trained=(cents, codebook)``
    to serve from a pre-built index (bench override)."""
    cents, codebook = trained if trained is not None else ivfpq_train(spark, e)
    if not cents:
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, adc_dist long, rank int"
        )
    centarr = (
        "array(" + ",".join(_arr_lit(c) for c in cents) + ")"
    )
    qv = sim.quantize_sql("embedding")
    # The corpus-side encode evaluates 8x16 codeword distances per vector; on
    # the single-row-group fixture the scan is ONE task and serializes that
    # kernel (and the downstream ADC probe join, which keys off the encode's
    # partitioning). Fan the corpus side out to the core count before the
    # encode — measured at sf0.1: encode 1.0 s -> 0.5 s, encode+ADC
    # 1.8 s -> 0.8 s. Real corpora arrive in many splits and never hit this;
    # the guard keeps multi-split inputs untouched. The query side stays
    # unspread: it is a ~1% row sample whose LUT projection is broadcast.
    corpus = e
    target = spark.sparkContext.defaultParallelism
    if corpus.rdd.getNumPartitions() < target:
        corpus = corpus.repartition(target)
    rsd = _residuals(corpus, cents)
    enc = rsd.select(
        F.col("vec_id").alias("neighbor_id"),
        "cell",
        F.expr(_pq_codes_sql("rv", codebook)).alias("codes"),
    )
    q = e.where((F.col("vec_id") % 100 == 0) & (F.size("embedding") > 0)).select(
        F.col("vec_id").alias("query_id"),
        F.expr(qv).alias("qqv"),
    )
    probes = q.select(
        "query_id",
        F.explode(
            F.expr(sim.topn_cells_sql("qqv", cents, _N_PROBE))
        ).alias("cell"),
        "qqv",
    ).withColumn(
        "qrv",
        F.expr(
            f"zip_with(qqv, element_at({centarr}, CAST(cell AS INT) + 1), "
            "(a, b) -> a - b)"
        ),
    ).select(
        "query_id", "cell",
        F.expr(_adc_lut_sql("qrv", codebook)).alias("lut"),
    )
    scored = (
        enc.join(F.broadcast(probes), "cell")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.expr(
                "aggregate(sequence(1, 8), 0L, (acc, s) -> acc + "
                "element_at(element_at(lut, CAST(s AS INT)), "
                "CAST(element_at(codes, CAST(s AS INT)) AS INT) + 1))"
            ).alias("adc_dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc_dist", "rank")
    )


# --- KMV distinct-count sketch ----------------------------------------------

_KMV_K = 64
_KMV_BKT_SHIFT = 50  # h60 div 2^50 -> 1024 hash buckets for the first level

_KMV_ORACLE = f"""
WITH h AS (
    SELECT DISTINCT l_returnflag AS flag,
           CAST('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15)
                AS BIGINT) AS h
    FROM lineitem),
ranked AS (
    SELECT flag, h,
           row_number() OVER (PARTITION BY flag ORDER BY h ASC) AS rk
    FROM h),
kth AS (
    SELECT flag, MAX(h) AS hk, CAST(COUNT(*) AS BIGINT) AS k_used
    FROM ranked WHERE rk <= {_KMV_K} GROUP BY flag),
exact AS (
    SELECT flag, CAST(COUNT(*) AS BIGINT) AS exact_distinct FROM h
    GROUP BY flag)
SELECT k.flag, k.k_used, k.hk, e.exact_distinct,
       CAST(floor((CAST(k.k_used AS DOUBLE) - 1.0)
                  * 1152921504606846976.0
                  / CAST(k.hk AS DOUBLE)) AS BIGINT) AS est_distinct
FROM kth k JOIN exact e USING (flag)
"""


@register(
    "stats_kmv_distinct",
    _KMV_ORACLE,
    doc="KMV (k-minimum-values) distinct-count sketch per return flag, "
        "evaluated against the exact distinct count: keep the k=64 "
        "smallest 60-bit hashes of l_partkey; the estimator is "
        "(k-1) * 2^60 / h_(k) (Bar-Yossef et al., RANDOM'02) — the "
        "mergeable sketch engines ship as a tiny fixed-size state where "
        "COUNT(DISTINCT) shuffles every key. Hashes are the repo's "
        "portable h60 (first 15 md5 hex chars) so both engines rank the "
        "same integers; the estimate is floor of a double expression "
        "whose operands ((k-1) exact, 2^60 a power of two, h_(k) cast "
        "once) round identically under IEEE on both engines. Scale "
        "shape: the top-k is two bounded partitioned windows — per "
        "(flag, h div 2^50) bucket top-64 first (<= distinct/1024 rows "
        "per task), then per flag over <= 1024*64 survivors — never a "
        "single task holding a flag's full distinct set; the exact "
        "count reuses the same distinct pass.",
)
def stats_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from postgresql_cdc_spark.operators.text import h60

    li = T(spark, sf_dir, "lineitem")
    h = (
        li.select(
            F.col("l_returnflag").alias("flag"),
            h60(F.col("l_partkey").cast("string")).alias("h"),
        )
        .distinct()
        .persist()  # feeds the top-k ladder AND the exact count; harness unpersists
    )
    w_bkt = Window.partitionBy(
        "flag", F.shiftright(F.col("h"), _KMV_BKT_SHIFT)
    ).orderBy(F.col("h").asc())
    survivors = (
        h.withColumn("rn1", F.row_number().over(w_bkt))
        .where(F.col("rn1") <= _KMV_K)
        .drop("rn1")
    )
    w_flag = Window.partitionBy("flag").orderBy(F.col("h").asc())
    kth = (
        survivors.withColumn("rk", F.row_number().over(w_flag))
        .where(F.col("rk") <= _KMV_K)
        .groupBy("flag")
        .agg(
            F.max("h").alias("hk"),
            F.count(F.lit(1)).cast("bigint").alias("k_used"),
        )
    )
    exact = h.groupBy("flag").agg(
        F.count(F.lit(1)).cast("bigint").alias("exact_distinct")
    )
    two60 = float(1 << 60)
    return (
        kth.join(exact, "flag")
        .select(
            "flag",
            "k_used",
            "hk",
            "exact_distinct",
            F.floor(
                (F.col("k_used").cast("double") - F.lit(1.0))
                * F.lit(two60)
                / F.col("hk").cast("double")
            ).cast("bigint").alias("est_distinct"),
        )
    )


# --- winsorized mean ---------------------------------------------------------

_WINSOR_ORACLE = """
WITH e AS (
    SELECT l_returnflag AS flag,
           CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
               AS cents,
           l_orderkey, l_linenumber
    FROM lineitem),
ranked AS (
    SELECT flag, cents,
           CAST(ROW_NUMBER() OVER (PARTITION BY flag
                                   ORDER BY cents, l_orderkey, l_linenumber)
                AS BIGINT) AS rk,
           CAST(COUNT(*) OVER (PARTITION BY flag) AS BIGINT) AS n
    FROM e),
fences AS (
    SELECT flag,
           MAX(n) AS n,
           MAX(n) * 5 // 100 AS k,
           MIN(CASE WHEN rk = n * 5 // 100 + 1 THEN cents END) AS lo,
           MIN(CASE WHEN rk = n - n * 5 // 100 THEN cents END) AS hi
    FROM ranked GROUP BY flag),
mid AS (
    SELECT r.flag,
           CAST(SUM(r.cents) AS BIGINT) AS mid_cents,
           CAST(COUNT(*) AS BIGINT) AS n_mid
    FROM ranked r JOIN fences f ON f.flag = r.flag
    WHERE r.rk > f.k AND r.rk <= f.n - f.k
    GROUP BY r.flag)
SELECT f.flag, f.n, CAST(f.k AS BIGINT) AS k,
       CAST(f.lo AS BIGINT) AS lo_cents, CAST(f.hi AS BIGINT) AS hi_cents,
       CAST(m.mid_cents + f.k * (f.lo + f.hi) AS BIGINT) AS winsor_cents,
       CAST(m.mid_cents + f.k * (f.lo + f.hi) AS DOUBLE)
           / CAST(f.n AS DOUBLE) AS winsor_mean_cents
FROM fences f JOIN mid m USING (flag)
"""


@register(
    "stats_winsorized_mean",
    _WINSOR_ORACLE,
    doc="5%-winsorized mean of extended price per return flag — the "
        "trimmed mean's sibling that CLAMPS the k = floor(n*0.05) "
        "smallest/largest observations to the fence order statistics "
        "instead of dropping them: winsorized sum = middle sum + "
        "k*(lo + hi), all exact BIGINT cents, ONE IEEE division at the "
        "end. Ranks come from the distributed sort-rank decomposition "
        "(price-bucket carry + bucket-keyed window, the "
        "stats_trimmed_mean shape) so no flag partition funnels the "
        "fact scan into one task; the oracle states the textbook "
        "per-flag ROW_NUMBER. Fences are exact order statistics "
        "(rank k+1 and n-k); rank ties on equal cents are harmless "
        "because clamping is by value and equal values clamp to "
        "themselves.",
)
def stats_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    e = li.select(
        F.col("l_returnflag").alias("flag"),
        "l_orderkey",
        "l_linenumber",
        (DEC("l_extendedprice", 12, 2) * 100).cast("bigint").alias("cents"),
    )
    e = e.withColumn("bkt", F.expr("cents div 100000"))
    bcounts = e.groupBy("flag", "bkt").agg(
        F.count(F.lit(1)).alias("bn")
    ).persist()  # totals + carry; harness unpersists
    w_carry = (
        Window.partitionBy("flag")
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    totals = bcounts.groupBy("flag").agg(
        F.sum("bn").cast("bigint").alias("n")
    )
    carry = bcounts.select(
        "flag",
        "bkt",
        (F.sum("bn").over(w_carry) - F.col("bn")).alias("carry"),
    )
    w_in = Window.partitionBy("flag", "bkt").orderBy(
        "cents", "l_orderkey", "l_linenumber"
    )
    ranked = (
        e.join(carry, ["flag", "bkt"])
        .join(F.broadcast(totals), "flag")
        .withColumn(
            "rk",
            (F.col("carry") + F.row_number().over(w_in)).cast("bigint"),
        )
        .withColumn("k", F.expr("n * 5 div 100"))
        .persist()  # fences + middle sum; harness unpersists
    )
    fences = ranked.groupBy("flag").agg(
        F.max("n").alias("n"),
        F.max("k").cast("bigint").alias("k"),
        F.min(
            F.when(F.col("rk") == F.col("k") + 1, F.col("cents"))
        ).cast("bigint").alias("lo_cents"),
        F.min(
            F.when(F.col("rk") == F.col("n") - F.col("k"), F.col("cents"))
        ).cast("bigint").alias("hi_cents"),
    )
    mid = (
        ranked.where(
            (F.col("rk") > F.col("k")) & (F.col("rk") <= F.col("n") - F.col("k"))
        )
        .groupBy("flag")
        .agg(
            F.sum("cents").cast("bigint").alias("mid_cents"),
            F.count(F.lit(1)).cast("bigint").alias("n_mid"),
        )
    )
    return (
        fences.join(mid, "flag")
        .select(
            "flag",
            "n",
            "k",
            "lo_cents",
            "hi_cents",
            (
                F.col("mid_cents")
                + F.col("k") * (F.col("lo_cents") + F.col("hi_cents"))
            ).cast("bigint").alias("winsor_cents"),
            (
                (
                    F.col("mid_cents")
                    + F.col("k") * (F.col("lo_cents") + F.col("hi_cents"))
                ).cast("double")
                / F.col("n").cast("double")
            ).alias("winsor_mean_cents"),
        )
    )


# --- changelog compaction round-trip -----------------------------------------

@register(
    "cdc_changelog_compaction",
    f"""
    SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
           CAST(l_partkey AS BIGINT) AS l_partkey,
           CAST(l_suppkey AS BIGINT) AS l_suppkey,
           CAST(l_linenumber AS INT) AS l_linenumber,
           CAST(l_quantity AS DOUBLE) AS l_quantity,
           CAST(l_extendedprice AS DOUBLE) AS l_extendedprice,
           CAST(l_discount AS DOUBLE) AS l_discount,
           CAST(l_tax AS DOUBLE) AS l_tax,
           l_returnflag, l_linestatus
    FROM ({_LI_STATE_ORACLE})
    """,
    doc="Changelog compaction round-trip — the maintenance composition a "
        "long-lived CDC lake runs: the I/U/D changelog is first written "
        "DELIBERATELY fragmented (repartition(64) => 64 tiny map-typed "
        "parquet files, the shape a fine-grained streaming sink leaves), "
        "then operators/layout.compact rewrites it via the SORTED path "
        "(repartitionByRange on lsn + sortWithinPartitions — one shuffle "
        "that also re-clusters so min/max file stats prune LSN-range "
        "replays afterwards), and materialize(merge_sparse) runs over the "
        "COMPACTED copy. The oracle is cdc_materialize_state's state SQL "
        "verbatim: compaction must be invisible to replay — identical "
        "current state, TOAST-sparse merge included, row order and file "
        "layout notwithstanding. Complements layout_compaction_roundtrip "
        "(coalesce path, plain table) by gating the shuffle path on the "
        "engine's own changelog format.",
)
def cdc_changelog_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from postgresql_cdc_spark.functions.pg_types import typed_view
    from postgresql_cdc_spark.operators.layout import compact
    from postgresql_cdc_spark.operators.materialize import materialize
    from postgresql_cdc_spark.plans.cdc import _changelog
    from postgresql_cdc_spark.plans.sources_io import _roundtrip_dir
    from postgresql_cdc_spark.sources.changelog import LINEITEM_COLUMNS

    log = _changelog(spark, sf_dir)
    frag = _roundtrip_dir(spark, sf_dir, "clog_frag")
    out = _roundtrip_dir(spark, sf_dir, "clog_compact")
    log.repartition(64).write.mode("overwrite").parquet(frag)
    compact(spark, frag, out, target_file_bytes=64 * 1024 * 1024,
            sort_by=["lsn"])
    state = materialize(
        spark.read.parquet(out),
        keys=["l_orderkey", "l_linenumber"],
        merge_sparse=True,
        columns=list(LINEITEM_COLUMNS),
    )
    return typed_view(state, LINEITEM_COLUMNS, keep=())


# --- streaming dedup ADMISSION (survivors-only index) ------------------------

def _admission_oracle() -> str:
    from postgresql_cdc_spark.plans.extensions import (
        _H60,
        _SHINGLES3,
        _TOKS,
        _mh_sql,
    )
    from postgresql_cdc_spark.plans.extensions2 import _band_from_sql

    return f"""
    WITH docs AS (
        SELECT doc_id AS id, text, doc_id % 3 AS wave FROM documents
        UNION ALL
        SELECT doc_id + 100000 AS id, text || ' qq zz' AS text, 3 AS wave
        FROM documents WHERE doc_id % 5 = 0),
    t AS (SELECT id, wave, {_TOKS} AS toks FROM docs),
    sh AS (SELECT id, wave, {_SHINGLES3} AS sh FROM t),
    bb AS (SELECT id, wave, list_transform(sh, s -> {_H60.format(x='s')}) AS shh
           FROM sh WHERE len(sh) > 0),
    sig AS (SELECT id, {", ".join(_mh_sql(i) for i in range(12))} FROM bb),
    bands AS ({" UNION ALL ".join(_band_from_sql("sig", b) for b in range(4))}),
    wv AS (SELECT id, wave FROM bb),
    cand0 AS (SELECT DISTINCT p.id AS batch_id, q.id AS corpus_id,
                     wp.wave AS wb, wq.wave AS wc
              FROM bands p
              JOIN bands q ON p.band = q.band AND p.bucket = q.bucket
              JOIN wv wp ON wp.id = p.id
              JOIN wv wq ON wq.id = q.id
              WHERE wp.wave > wq.wave),
    sz AS (SELECT id, len(shh) AS n_sh FROM bb),
    cand AS (SELECT cd.batch_id, cd.corpus_id, cd.wb, cd.wc,
                    sa.n_sh AS na, sb2.n_sh AS nb
             FROM cand0 cd
             JOIN sz sa ON sa.id = cd.batch_id
             JOIN sz sb2 ON sb2.id = cd.corpus_id
             WHERE least(sa.n_sh, sb2.n_sh)
                   >= (0.5 - 1e-6) * greatest(sa.n_sh, sb2.n_sh)),
    post AS (SELECT id, unnest(shh) AS sh_hash FROM bb),
    common AS (SELECT cd.batch_id, cd.corpus_id, cd.wb, cd.wc,
                      cd.na, cd.nb, COUNT(*) AS n_common
               FROM cand cd
               JOIN post pa ON pa.id = cd.batch_id
               JOIN post pb ON pb.id = cd.corpus_id
                            AND pb.sh_hash = pa.sh_hash
               GROUP BY 1, 2, 3, 4, 5, 6),
    pairs AS (SELECT batch_id, corpus_id, wb, wc FROM common
              WHERE round(CAST(n_common AS DOUBLE)
                          / (na + nb - n_common), 6) >= 0.5),
    rej1 AS (SELECT DISTINCT batch_id FROM pairs WHERE wb = 1),
    rej2 AS (SELECT DISTINCT batch_id FROM pairs
             WHERE wb = 2 AND (wc = 0 OR (wc = 1 AND corpus_id NOT IN
                                          (SELECT batch_id FROM rej1)))),
    rej3 AS (SELECT DISTINCT batch_id FROM pairs
             WHERE wb = 3 AND (wc = 0
                  OR (wc = 1 AND corpus_id NOT IN
                      (SELECT batch_id FROM rej1))
                  OR (wc = 2 AND corpus_id NOT IN
                      (SELECT batch_id FROM rej2)))),
    rej AS (SELECT batch_id FROM rej1 UNION
            SELECT batch_id FROM rej2 UNION
            SELECT batch_id FROM rej3)
    SELECT d.id, CAST(d.wave AS INT) AS wave,
           d.id NOT IN (SELECT batch_id FROM rej) AS admitted
    FROM docs d
    """


@register(
    "cdc_stream_dedup_admission",
    _admission_oracle(),
    doc="STREAMING dedup ADMISSION — the survivors-only variant of "
        "cdc_stream_incremental_dedup and the shape a production corpus "
        "actually runs: each foreachBatch wave probes the LSH index, "
        "REJECTS every arrival matching an already-admitted document "
        "(exact shingle-Jaccard >= 0.5 after band collision + size-ratio "
        "prune), and indexes ONLY its survivors — so a duplicate of a "
        "rejected document is judged against the original that displaced "
        "it, never the reject. The emitted table is the admission ledger "
        "(id, wave, admitted) for all four waves. The oracle unrolls the "
        "sequential dependence exactly: wave k's rejects are pairs whose "
        "corpus side survived waves < k (rej1 -> rej2 -> rej3 CTE "
        "chain). Same determinism scaffolding as the sibling gate "
        "(one file per wave, mtime-ordered, maxFilesPerTrigger=1 under "
        "AvailableNow; hot-bucket cap disabled so the closed-form oracle "
        "models the probe exactly) and the same r11 replay idempotence: "
        "ledger and index writes are ingest_epoch-partitioned dynamic "
        "overwrites, probes read strictly-earlier epochs only. Empty-"
        "shingle docs never collide and are admitted by both engines.",
)
def cdc_stream_dedup_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob
    import shutil
    import tempfile
    import uuid

    from postgresql_cdc_spark.operators import dedup as dd

    d = T(spark, sf_dir, "documents").select("doc_id", "text")
    waves = [d.where(F.col("doc_id") % 3 == k) for k in range(3)]
    waves.append(
        d.where(F.col("doc_id") % 5 == 0).select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" qq zz")).alias("text"),
        )
    )

    base = tempfile.mkdtemp(prefix=f"pgcdc_adm_{uuid.uuid4().hex[:12]}_")
    indir = os.path.join(base, "in")
    os.makedirs(indir)
    t0 = 1_600_000_000
    for k, w in enumerate(waves):
        tmp = os.path.join(base, f"w{k}")
        w.coalesce(1).write.parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dst = os.path.join(indir, f"wave{k}.parquet")
        shutil.move(part, dst)
        os.utime(dst, (t0 + 60 * k, t0 + 60 * k))

    idx = {
        p: os.path.join(base, "index", p)
        for p in ("buckets", "sizes", "postings")
    }
    ledger_dir = os.path.join(base, "ledger")

    from postgresql_cdc_spark.streaming.epoch_io import epoch_overwrite
    from postgresql_cdc_spark.streaming.epoch_maintenance import (
        epochs_before_compacted,
    )

    def ingest(batch: DataFrame, epoch: int) -> None:
        # replay-idempotent per the epoch_io contract: re-run epochs
        # overwrite their own partition; probes see strictly-earlier epochs
        sp = batch.sparkSession
        batch = batch.persist()
        ep = int(epoch)
        if os.path.isdir(idx["buckets"]):
            ci = dd.LshIndex(
                epochs_before_compacted(sp, idx["buckets"], ep),
                epochs_before_compacted(sp, idx["sizes"], ep),
                epochs_before_compacted(sp, idx["postings"], ep),
            )
            matched = (
                dd.minhash_lsh_incremental(
                    batch, None, "text", "doc_id", threshold=0.5,
                    corpus_index=ci, max_bucket=10**9,
                )
                .select("batch_id")
                .distinct()
                .persist()  # ledger join AND survivor anti-join
            )
            ledger = (
                batch.select("doc_id")
                .join(
                    matched.withColumn("__m", F.lit(1)),
                    F.col("doc_id") == F.col("batch_id"),
                    "left",
                )
                .select(
                    F.col("doc_id").alias("id"),
                    F.col("__m").isNull().alias("admitted"),
                )
            )
            survivors = batch.join(
                matched, F.col("doc_id") == F.col("batch_id"), "left_anti"
            )
        else:
            ledger = batch.select(
                F.col("doc_id").alias("id"), F.lit(True).alias("admitted")
            )
            survivors = batch
        epoch_overwrite(ledger, ledger_dir, ep)
        bi = dd.build_lsh_index(survivors, "text", "doc_id")
        epoch_overwrite(bi.buckets, idx["buckets"], ep)
        epoch_overwrite(bi.sizes, idx["sizes"], ep)
        epoch_overwrite(bi.postings, idx["postings"], ep)
        sp.catalog.clearCache()  # per the dedup.py persist contract

    q = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(indir)
        .writeStream.foreachBatch(ingest)
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        if not q.awaitTermination(300):
            raise TimeoutError("dedup-admission ingest did not finish")
    finally:
        q.stop()
    return spark.read.parquet(ledger_dir).select(
        "id",
        F.col("ingest_epoch").cast("int").alias("wave"),
        "admitted",
    )


# --- IVF-PQ recall@5 vs brute truth ------------------------------------------

def _ivfpq_recall_oracle() -> str:
    from postgresql_cdc_spark.plans.extensions import _cos_sql

    return f"""
WITH {_CTES},{_IVFPQ_BODY},
ivfpq AS (SELECT query_id, neighbor_id FROM ranked WHERE rank <= {_TOPK}),
qe AS (SELECT vec_id AS query_id, embedding AS qemb FROM embeddings
       WHERE vec_id % 100 = 0 AND len(embedding) > 0),
brute AS (
    SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                   ORDER BY {_cos_sql('e.embedding', 'q.qemb')} DESC,
                            e.vec_id ASC) AS rank
        FROM embeddings e JOIN qe q ON e.vec_id <> q.query_id
    ) WHERE rank <= {_TOPK}),
ov AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n
       FROM ivfpq JOIN brute USING (query_id, neighbor_id)
       GROUP BY query_id)
SELECT q.query_id, CAST(COALESCE(ov.n, 0) AS BIGINT) AS n_overlap
FROM qe q LEFT JOIN ov USING (query_id)
"""


@register(
    "ivfpq_recall_eval",
    _ivfpq_recall_oracle(),
    doc="Recall@5 of the composed IVF-PQ index against the exact "
        "brute-force cosine truth, per query — the acceptance metric a "
        "vector store reports before serving an index, now measured for "
        "the PRODUCTION index shape (sim_topk_ivfpq) rather than the "
        "uncompressed IVF (ivf_recall_eval): losses here include both "
        "coarse-probe misses AND PQ quantization error, which no other "
        "registered eval isolates. Brute truth is the documented "
        "quadratic baseline over the 1% query sample; the overlap join "
        "and the per-query left join are skinny (5 rows per query each "
        "side).",
)
def ivfpq_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "embeddings")
    ivfpq = _ivfpq_topk(spark, e)
    q = e.where(
        (F.col("vec_id") % 100 == 0) & (F.size("embedding") > 0)
    ).select(F.col("vec_id").alias("query_id"), "embedding")
    brute = sim.topk_brute(e, q, k=_TOPK)
    ov = (
        ivfpq.select("query_id", "neighbor_id")
        .join(
            brute.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"],
        )
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__n"))
    )
    return q.select("query_id").join(ov, "query_id", "left").select(
        "query_id",
        F.coalesce(F.col("__n"), F.lit(0).cast("bigint")).alias("n_overlap"),
    )


# --- IVF-PQ shortlist + exact rerank (two-stage serving) ----------------------

_RERANK_SHORT = 25


def _ivfpq_rerank_oracle() -> str:
    from postgresql_cdc_spark.plans.extensions import _cos_sql

    return f"""
WITH {_CTES},{_IVFPQ_BODY},
short AS (SELECT query_id, neighbor_id FROM ranked
          WHERE rank <= {_RERANK_SHORT}),
rer AS (SELECT s.query_id, s.neighbor_id,
               {_cos_sql('ne.embedding', 'qq.embedding')} AS cos_sim
        FROM short s
        JOIN embeddings ne ON ne.vec_id = s.neighbor_id
        JOIN embeddings qq ON qq.vec_id = s.query_id),
rr AS (SELECT query_id, neighbor_id, cos_sim,
              ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cos_sim DESC, neighbor_id ASC)
                  AS rank
       FROM rer)
SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INT) AS rank
FROM rr WHERE rank <= {_TOPK}
"""


@register(
    "sim_topk_ivfpq_rerank",
    _ivfpq_rerank_oracle(),
    doc="Two-stage IVF-PQ serving — the query path a production vector "
        "store actually answers with: the ADC scan produces a CHEAP "
        f"shortlist of {_RERANK_SHORT} candidates per query from the "
        "8-byte codes alone, then only those candidates' full vectors are "
        "fetched for an exact cosine re-rank to top-5 (Jegou et al. "
        "TPAMI'11 §IV's IVFADC+R refinement). This is what makes PQ "
        "compression usable at 100 TB: the corpus-wide pass never touches "
        "raw vectors, and the exact pass touches 25 rows per query — the "
        "re-rank join is the tiny shortlist BROADCAST against the vector "
        "table (equi on vec_id, pruned scan), never a second corpus "
        "pass. Rank arithmetic is the shared integer-exact ADC body plus "
        "the repo's rounded-cosine convention, so the oracle replays both "
        "stages bit-for-bit.",
)
def sim_topk_ivfpq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "embeddings")
    short = _ivfpq_topk(spark, e, k=_RERANK_SHORT).select(
        "query_id", "neighbor_id"
    )
    nv = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("__nv"),
    )
    qv = e.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("__qv"),
    )
    rer = (
        nv.join(F.broadcast(short), "neighbor_id")
        .join(F.broadcast(qv.join(
            F.broadcast(short.select("query_id").distinct()), "query_id"
        )), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            sim.cosine_expr("__nv", "__qv").alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        rer.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _TOPK)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )
