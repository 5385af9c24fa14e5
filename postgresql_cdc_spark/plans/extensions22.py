"""Round-12 registry depth: lexical retrieval (BM25), hybrid lexical+vector
rank fusion (RRF), a bigram perplexity-proxy quality filter, and streaming
foreachBatch maintenance of the IVF vector index.

These close the retrieval corner of the training-data north star: the repo
already builds the inverted index (`text_inverted_index`) and serves pure
vector ANN (`sim_topk_*`); this module adds the RANKING layer a retrieval
pipeline actually answers with — BM25 term scoring, reciprocal-rank fusion
of the lexical and semantic lists (Cormack et al., SIGIR'09), and the
n-gram-LM quality filter (the CCNet/KenLM perplexity gate, integer-exact
proxy form) — plus the streaming maintenance path that keeps the vector
index fresh as embeddings arrive through the CDC pipe.

Determinism conventions (shared with the rest of the registry): all ratio
scores are exact-integer numerators/denominators with ONE IEEE division per
ratio and a fixed left-assoc sum order, idf is the LOG-FREE rational form
(monotone in the ln idf, bit-equal across engines — the
`text_tfidf_topterms` convention), RRF contributions are scaled integer
floor-divisions, and the perplexity proxy is pure BIGINT arithmetic.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from postgresql_cdc_spark.plans.registry import register

# BM25 parameters as exact rationals: k1 = 1.2 = 6/5, b = 0.75 = 3/4.
# Per-term saturation tf*(k1+1) / (tf + k1*(1-b) + k1*b*dl/avgdl) with
# avgdl = s/n multiplies out (by 10*s) to 22*s*tf / (10*s*tf + 3*s + 9*dl*n)
# — every operand BIGINT-exact, one IEEE division. The idf is the log-free
# rational (n - df + 0.5)/(df + 0.5) = (2n - 2df + 1)/(2df + 1): strictly
# monotone in the Robertson ln idf, so rankings agree where ln() could
# drift an ulp at a rank boundary.
_BM25_TERMS = ("spark", "hash", "window", "dup")


def T(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Shared reader with the under-parallelized-scan fan-out for the
    # kernel-heavy corpora (documents/embeddings): the single-row-group
    # fixture otherwise serializes the tokenize/md5 stage into one task
    # (see plans.extensions.T).
    from postgresql_cdc_spark.plans.extensions import T as _T

    return _T(spark, sf_dir, name)


def _term_score(t: str) -> str:
    """Engine-neutral BM25 per-term score over columns tf_<t>, df_<t>,
    dl, n, s (all BIGINT)."""
    return (
        f"(CAST(2 * n - 2 * df_{t} + 1 AS DOUBLE)"
        f" / CAST(2 * df_{t} + 1 AS DOUBLE))"
        f" * (CAST(22 * s * tf_{t} AS DOUBLE)"
        f" / CAST(10 * s * tf_{t} + 3 * s + 9 * dl * n AS DOUBLE))"
    )


_BM25_SCORE = "round(" + " + ".join(_term_score(t) for t in _BM25_TERMS) + ", 6)"

# Spark-side tokenization (operators/text.tokens as SQL text) vs the DuckDB
# twin — same grammar the whole text family pins.
_S_TOKS = "filter(split(lower(text), '[^a-z0-9]+'), t -> t != '')"
_D_TOKS = "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '')"


def _bm25_doc_col_list(engine: str) -> list:
    """Per-document projection: dl + one tf column per query term."""
    if engine == "spark":
        tf = "CAST(size(filter(toks, t -> t = '{t}')) AS BIGINT) AS tf_{t}"
        dl = "CAST(size(toks) AS BIGINT) AS dl"
    else:
        tf = "CAST(len(list_filter(toks, t -> t = '{t}')) AS BIGINT) AS tf_{t}"
        dl = "CAST(len(toks) AS BIGINT) AS dl"
    return [dl] + [tf.format(t=t) for t in _BM25_TERMS]


def _bm25_doc_cols(engine: str) -> str:
    return ", ".join(_bm25_doc_col_list(engine))


def _bm25_df_aggs(engine: str) -> str:
    contains = "array_contains" if engine == "spark" else "list_contains"
    return ", ".join(
        f"CAST(SUM(CASE WHEN {contains}(toks, '{t}') THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS df_{t}"
        for t in _BM25_TERMS
    )


def _bm25_scored_sql(engine: str, docs_src: str) -> str:
    """Full scored-collection SQL (CTE body ending in `scored`): doc_id +
    bm25 over ``docs_src`` (a relation providing doc_id, text)."""
    toks = _S_TOKS if engine == "spark" else _D_TOKS
    return f"""
    WITH d AS (SELECT doc_id, {toks} AS toks FROM {docs_src}),
    dd AS (SELECT doc_id, toks, {_bm25_doc_cols(engine)} FROM d),
    st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(SUM(dl) AS BIGINT) AS s FROM dd),
    dfs AS (SELECT {_bm25_df_aggs(engine)} FROM dd),
    scored AS (SELECT doc_id, {_BM25_SCORE} AS bm25
               FROM dd CROSS JOIN st CROSS JOIN dfs)
    """


@register(
    "text_bm25_topk",
    _bm25_scored_sql("duck", "documents")
    + """
    SELECT doc_id, bm25 FROM scored
    ORDER BY bm25 DESC, doc_id ASC LIMIT 10
    """,
    doc="BM25 top-10 for a fixed 4-term query over the document corpus — "
        "the lexical ranking layer on top of the already-registered "
        "inverted-index build (Robertson & Zaragoza 2009, k1=1.2 b=0.75). "
        "Every factor is an exact rational: the idf is the LOG-FREE form "
        "(2n-2df+1)/(2df+1) (monotone in ln idf; the text_tfidf_topterms "
        "bit-determinism convention), the length-normalized saturation "
        "multiplies out to 22*s*tf / (10*s*tf + 3*s + 9*dl*n) over BIGINT "
        "operands, each term is ONE IEEE division pair, and the 4-term sum "
        "is fixed left-assoc then round(,6) — so both engines rank "
        "identically with no float-log seam. Scale shape: corpus stats "
        "(n, s) and the 4 dfs are two one-row aggregates CROSS-joined back "
        "(broadcast), per-doc tf/dl are in-row array kernels (zero "
        "shuffle), and the top-10 is an orderBy+limit TakeOrdered — no "
        "global window, no explode, the scan reads (doc_id, text) only.",
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents").select("doc_id", "text")
    dd = d.selectExpr("doc_id", f"{_S_TOKS} AS toks").selectExpr(
        "doc_id", *_bm25_doc_col_list("spark")
    )
    st = dd.selectExpr("dl").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("dl").cast("bigint").alias("s"),
    )
    # dfs needs the token ARRAYS again — recompute from the scan rather
    # than carrying the array through the agg (array columns never leave
    # the per-doc projection; the scan is cheap and column-pruned)
    dfs = d.selectExpr(f"{_S_TOKS} AS toks").agg(*[
        F.expr(
            f"CAST(SUM(CASE WHEN array_contains(toks, '{t}') THEN 1 ELSE 0 "
            f"END) AS BIGINT)"
        ).alias(f"df_{t}")
        for t in _BM25_TERMS
    ])
    scored = (
        dd.crossJoin(F.broadcast(st))
        .crossJoin(F.broadcast(dfs))
        .selectExpr("doc_id", f"{_BM25_SCORE} AS bm25")
    )
    return scored.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(10)


# --- hybrid retrieval: reciprocal-rank fusion --------------------------------

_RRF_K = 60          # the standard RRF damping constant (Cormack et al.)
_RRF_SCALE = 10**9   # scaled-integer 1/(k+r): floor(1e9/(60+r)), exact
_RRF_DEPTH = 50      # per-system candidate depth
_COS_Q = 0           # the fixed query: vec_id 0's embedding

# Rounded-cosine convention (operators/similarity._cos_sql and its DuckDB
# twin in plans/extensions) — restated here for the fixed-query form.
_S_DOT = (
    "aggregate(zip_with(CAST({a} AS ARRAY<DOUBLE>), "
    "CAST({b} AS ARRAY<DOUBLE>), (x, y) -> x * y), "
    "0.0D, (acc, x) -> acc + x)"
)
_D_DOT = (
    "list_reduce(list_concat([CAST(0.0 AS DOUBLE)], "
    "list_transform(list_zip({a}, {b}), "
    "s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE))), (x, y) -> x + y)"
)


def _cos(engine: str, a: str, b: str) -> str:
    dot = _S_DOT if engine == "spark" else _D_DOT
    return (
        f"round({dot.format(a=a, b=b)} / "
        f"(sqrt({dot.format(a=a, b=a)}) * sqrt({dot.format(a=b, b=b)})), 6)"
    )


_RRF_CTES = (
    _bm25_scored_sql(
        "duck",
        "(SELECT d.doc_id, d.text FROM documents d "
        "JOIN embeddings e ON e.vec_id = d.doc_id)",
    )
    + f""",
    lex AS (SELECT doc_id AS id, r_lex FROM (
        SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id ASC)
               AS r_lex FROM scored) WHERE r_lex <= {_RRF_DEPTH}),
    u AS (SELECT e.vec_id, e.embedding FROM embeddings e
          JOIN documents d ON d.doc_id = e.vec_id),
    qv AS (SELECT embedding AS q FROM embeddings WHERE vec_id = {_COS_Q}),
    sem AS (SELECT vec_id AS id, r_sem FROM (
        SELECT u.vec_id,
               ROW_NUMBER() OVER (
                   ORDER BY {_cos("duck", "u.embedding", "qv.q")} DESC,
                            u.vec_id ASC) AS r_sem
        FROM u CROSS JOIN qv) WHERE r_sem <= {_RRF_DEPTH}),
    fused AS (
        SELECT COALESCE(lex.id, sem.id) AS id,
               CAST(COALESCE(r_lex, 0) AS INT) AS r_lex,
               CAST(COALESCE(r_sem, 0) AS INT) AS r_sem,
               CAST(COALESCE({_RRF_SCALE} // ({_RRF_K} + r_lex), 0)
                  + COALESCE({_RRF_SCALE} // ({_RRF_K} + r_sem), 0)
                    AS BIGINT) AS rrf
        FROM lex FULL JOIN sem ON lex.id = sem.id)
    """
)

_RRF_ORACLE = (
    _RRF_CTES
    + """
    SELECT id, r_lex, r_sem, rrf FROM fused
    ORDER BY rrf DESC, id ASC LIMIT 10
    """
)


@register(
    "hybrid_rrf_fusion",
    _RRF_ORACLE,
    doc="Hybrid retrieval by reciprocal-rank fusion (Cormack et al., "
        "SIGIR'09): the BM25 lexical top-50 and the embedding-cosine "
        "semantic top-50 (fixed query: vec_id 0's vector, the corpus "
        "universe = ids present in BOTH documents and embeddings) fuse as "
        "rrf = floor(1e9/(60+r_lex)) + floor(1e9/(60+r_sem)) — scaled-"
        "integer floor-division, so the fused ranking is BIGINT-exact; a "
        "list a doc missed contributes 0 (standard RRF absence handling). "
        "This is the retrieval stack RAG/training-dedup pipelines actually "
        "serve: two independent rankers, no score calibration, fusion on "
        "ranks alone. Scale shape: each system's rank<=50 filter plans a "
        "TakeOrdered LIMIT BELOW the global window "
        "(LimitPushDownThroughWindow — the events_heavy_hitters pattern), "
        "so no window task ever holds more than 50 rows; the fuse is a "
        "50x50 full-outer equi-join and the final cut an orderBy+limit.",
)
def hybrid_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents").select("doc_id", "text")
    e = T(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    u_docs = d.join(e.select(F.col("vec_id").alias("doc_id")), "doc_id")
    # lexical list: BM25 over the universe (same machinery as text_bm25_topk)
    dd = u_docs.selectExpr("doc_id", f"{_S_TOKS} AS toks").selectExpr(
        "doc_id", *_bm25_doc_col_list("spark")
    )
    st = dd.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("dl").cast("bigint").alias("s"),
    )
    dfs = u_docs.selectExpr(f"{_S_TOKS} AS toks").agg(*[
        F.expr(
            f"CAST(SUM(CASE WHEN array_contains(toks, '{t}') THEN 1 ELSE 0 "
            f"END) AS BIGINT)"
        ).alias(f"df_{t}")
        for t in _BM25_TERMS
    ])
    scored = (
        dd.crossJoin(F.broadcast(st))
        .crossJoin(F.broadcast(dfs))
        .selectExpr("doc_id", f"{_BM25_SCORE} AS bm25")
    )
    w_lex = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
    lex = (
        scored.withColumn("r_lex", F.row_number().over(w_lex))
        .where(F.col("r_lex") <= _RRF_DEPTH)
        .select(F.col("doc_id").alias("id"), "r_lex")
    )
    # semantic list: rounded cosine to the fixed query vector
    u_emb = e.join(d.select(F.col("doc_id").alias("vec_id")), "vec_id")
    qv = e.where(F.col("vec_id") == _COS_Q).select(
        F.col("embedding").alias("q")
    )
    sem_scored = u_emb.crossJoin(F.broadcast(qv)).selectExpr(
        "vec_id", f"{_cos('spark', 'embedding', 'q')} AS cs"
    )
    w_sem = Window.orderBy(F.desc("cs"), F.asc("vec_id"))
    sem = (
        sem_scored.withColumn("r_sem", F.row_number().over(w_sem))
        .where(F.col("r_sem") <= _RRF_DEPTH)
        .select(F.col("vec_id").alias("id"), "r_sem")
    )
    fused = (
        lex.join(sem, "id", "full_outer")
        .selectExpr(
            "id",
            "CAST(COALESCE(r_lex, 0) AS INT) AS r_lex",
            "CAST(COALESCE(r_sem, 0) AS INT) AS r_sem",
            f"CAST(COALESCE({_RRF_SCALE} DIV ({_RRF_K} + r_lex), 0)"
            f" + COALESCE({_RRF_SCALE} DIV ({_RRF_K} + r_sem), 0)"
            " AS BIGINT) AS rrf",
        )
    )
    return fused.orderBy(F.desc("rrf"), F.asc("id")).limit(10)


# --- bigram perplexity-proxy quality filter ----------------------------------

_PPX_SCALE = 10**6

_PPX_ORACLE = f"""
    WITH d AS (SELECT doc_id, source, {_D_TOKS} AS toks FROM documents),
    bg AS (SELECT doc_id, source, unnest(list_transform(
               range(1, len(toks)), i ->
               {{'w1': toks[i], 'w2': toks[i + 1]}})) AS b
           FROM d WHERE len(toks) >= 2),
    occ AS (SELECT doc_id, source, b.w1 AS w1, b.w2 AS w2 FROM bg),
    cb AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cb
           FROM occ GROUP BY 1, 2),
    cl AS (SELECT w1, CAST(SUM(cb) AS BIGINT) AS cl FROM cb GROUP BY 1),
    vocab AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v
              FROM (SELECT unnest(toks) AS tok FROM d)),
    px AS (SELECT occ.doc_id, occ.source,
                  ({_PPX_SCALE} * (cl.cl + vocab.v)) // (cb.cb + 1) AS proxy
           FROM occ JOIN cb USING (w1, w2) JOIN cl USING (w1)
           CROSS JOIN vocab),
    ds AS (SELECT doc_id, source,
                  CAST(SUM(proxy) AS BIGINT) // CAST(COUNT(*) AS BIGINT)
                      AS surprisal
           FROM px GROUP BY 1, 2),
    top AS (SELECT source, doc_id AS top_doc_id, surprisal AS top_surprisal
            FROM (SELECT source, doc_id, surprisal,
                         ROW_NUMBER() OVER (PARTITION BY source
                             ORDER BY surprisal DESC, doc_id ASC) AS rn
                  FROM ds) WHERE rn = 1)
    SELECT ds.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(ds.surprisal) AS BIGINT)
               // CAST(COUNT(*) AS BIGINT) AS mean_surprisal,
           MAX(top.top_doc_id) AS top_doc_id,
           MAX(top.top_surprisal) AS top_surprisal
    FROM ds JOIN top USING (source)
    GROUP BY ds.source
"""


@register(
    "text_perplexity_proxy",
    _PPX_ORACLE,
    doc="Bigram-LM perplexity-proxy quality filter per source — the "
        "CCNet/KenLM gate (Wenzek et al., LREC'20) that scores each "
        "document by how surprising its bigrams are under the corpus's own "
        "add-one-smoothed bigram model, in a LOG-FREE integer-exact form: "
        "per-bigram proxy = floor(1e6 * (c(w1,*) + V) / (c(w1,w2) + 1)) — "
        "the scaled INVERSE conditional probability, monotone per bigram "
        "in the surprisal -log P(w2|w1) — and per-doc score = the floor "
        "mean, all BIGINT (no float log to drift). Consumes the count "
        "tables text_ngram_lm_counts builds but closes the loop to an "
        "actual per-document quality signal: per source, the doc count, "
        "mean surprisal, and the most-surprising document (the outlier a "
        "filter would drop first). Docs under 2 tokens have no bigrams and "
        "are excluded by construction. Scale shape: bigrams are in-row "
        "array transforms, counts are two map-side-combinable hash aggs "
        "over the vocab^2-bounded bigram table, BOTH count joins (cb and "
        "the vocab-sized cl) are plain equi-joins with no broadcast hint "
        "(AQE broadcasts only when a side actually fits — a forced hint on "
        "a 1e8+-token vocab would OOM), V rides in as a one-row cross "
        "join, and the only window is partitioned by source.",
)
def text_perplexity_proxy(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents").selectExpr(
        "doc_id", "source", f"{_S_TOKS} AS toks"
    )
    occ = (
        d.where(F.size("toks") >= 2)
        .select(
            "doc_id",
            "source",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 1), i -> "
                    "struct(element_at(toks, i) AS w1, "
                    "element_at(toks, i + 1) AS w2))"
                )
            ).alias("b"),
        )
        .select("doc_id", "source", "b.w1", "b.w2")
    )
    cb = occ.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("cb")
    )
    cl = cb.groupBy("w1").agg(F.sum("cb").cast("bigint").alias("cl"))
    vocab = (
        d.select(F.explode("toks").alias("tok"))
        .agg(F.countDistinct("tok").cast("bigint").alias("v"))
    )
    # NOTE: no broadcast hint on cl — it is vocab-sized (one row per distinct
    # first token), which at a 100-TB corpus is 1e8-1e9 rows; a forced hint
    # would override the size threshold and OOM. Left as a plain equi-join,
    # AQE broadcasts it only when it actually fits (the sibling cb join is
    # the same shape one token wider). vocab IS a one-row aggregate: safe.
    px = (
        occ.join(cb, ["w1", "w2"])
        .join(cl, "w1")
        .crossJoin(F.broadcast(vocab))
        .selectExpr(
            "doc_id", "source",
            f"({_PPX_SCALE} * (cl + v)) DIV (cb + 1) AS proxy",
        )
    )
    ds = px.groupBy("doc_id", "source").agg(
        F.expr(
            "CAST(SUM(proxy) AS BIGINT) DIV CAST(COUNT(*) AS BIGINT)"
        ).alias("surprisal")
    )
    w = Window.partitionBy("source").orderBy(
        F.desc("surprisal"), F.asc("doc_id")
    )
    top = (
        ds.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "source",
            F.col("doc_id").alias("top_doc_id"),
            F.col("surprisal").alias("top_surprisal"),
        )
    )
    return (
        ds.join(top, "source")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.expr(
                "CAST(SUM(surprisal) AS BIGINT) DIV CAST(COUNT(*) AS BIGINT)"
            ).alias("mean_surprisal"),
            F.max("top_doc_id").alias("top_doc_id"),
            F.max("top_surprisal").alias("top_surprisal"),
        )
    )


# --- streaming IVF index maintenance ------------------------------------------

def _vector_index_oracle() -> str:
    # The maintained index must be INVISIBLE to the serve path: the final
    # top-k over the incrementally-built postings equals the batch IVF-Flat
    # query bit-for-bit, so the oracle is sim_topk_ivf's SQL verbatim.
    from postgresql_cdc_spark.plans.extensions import _TOPK_IVF_ORACLE

    return _TOPK_IVF_ORACLE


@register(
    "cdc_stream_vector_index",
    _vector_index_oracle(),
    doc="STREAMING maintenance of the IVF-Flat vector index — the ANN twin "
        "of cdc_stream_dedup_admission's LSH maintenance and the production "
        "shape for a vector store fed by a CDC pipe: the coarse quantizer "
        "(16 deterministic seed centroids) is trained OFFLINE and frozen "
        "to parquet before the stream starts; each foreachBatch wave of "
        "arriving embeddings (3 waves, one file per trigger, mtime-ordered "
        "under AvailableNow) assigns its vectors to cells against the "
        "frozen centroids (broadcast join, one scan, no shuffle) and "
        "appends the postings as an ingest_epoch-partitioned dynamic "
        "overwrite — the r11 replay-idempotence contract, so a crashed "
        "epoch re-runs without duplicating postings. After the stream, "
        "compact_epochs folds the committed epochs below the newest into "
        "ONE base partition (the maintained-store small-file lifecycle: "
        "one partition per epoch forever is ~525k directories/year at "
        "1-min triggers) and the serve path answers top-5 for the "
        "standard query set (vec_id % 100 = 0, 4-of-16 cell probes, "
        "rounded-cosine re-rank) from the COMPACTED maintained index "
        "through the manifest-aware reader. The oracle is sim_topk_ivf's "
        "closed form verbatim: incremental maintenance AND its compaction "
        "must both be invisible to the serve path.",
)
def cdc_stream_vector_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob
    import shutil
    import tempfile
    import uuid

    from postgresql_cdc_spark.operators import similarity as sim
    from postgresql_cdc_spark.streaming.epoch_io import epoch_overwrite
    from postgresql_cdc_spark.streaming.epoch_maintenance import (
        compact_epochs,
        read_epoch_store,
    )

    e = T(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    base = tempfile.mkdtemp(prefix=f"pgcdc_vidx_{uuid.uuid4().hex[:12]}_")
    indir = os.path.join(base, "in")
    os.makedirs(indir)
    t0 = 1_600_000_000
    for k in range(3):
        tmp = os.path.join(base, f"w{k}")
        e.where(F.col("vec_id") % 3 == k).coalesce(1).write.parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dst = os.path.join(indir, f"wave{k}.parquet")
        shutil.move(part, dst)
        os.utime(dst, (t0 + 60 * k, t0 + 60 * k))

    # offline-trained quantizer, frozen before the stream starts (a store
    # trains its index parameters offline; maintenance only encodes)
    cents_path = os.path.join(base, "cents")
    sim.default_centroids(e, 16).write.parquet(cents_path)
    postings = os.path.join(base, "postings")

    def ingest(batch: DataFrame, epoch: int) -> None:
        sp = batch.sparkSession
        cents = sp.read.parquet(cents_path)
        assigned = sim.ivf_assign(
            batch.withColumnRenamed("vec_id", "neighbor_id"),
            cents, "neighbor_id", "embedding",
        ).select("cell", "neighbor_id", F.col("embedding").alias("nvec"))
        epoch_overwrite(assigned, postings, int(epoch))

    q = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", "1")
        .parquet(indir)
        .writeStream.foreachBatch(ingest)
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        if not q.awaitTermination(300):
            raise TimeoutError("vector-index ingest did not finish")
    finally:
        q.stop()

    # compact the committed epochs below the newest into the base partition
    # (postings fold by concatenation — the identity merge), then serve
    # from the compacted maintained index alone
    stats = compact_epochs(spark, postings, upto=2)
    assert stats["folded_partitions"] == 2, stats
    cents = spark.read.parquet(cents_path)
    posts = read_epoch_store(spark, postings)
    queries = e.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    wp = Window.partitionBy("query_id").orderBy(F.asc("__d"), F.asc("cell"))
    probes = (
        queries.join(F.broadcast(cents))
        .withColumn("__d", sim.l2sq(F.col("qvec"), F.col("__cvec")))
        .withColumn("__rn", F.row_number().over(wp))
        .where(F.col("__rn") <= 4)
        .select("query_id", "qvec", "cell")
    )
    scored = (
        posts.join(F.broadcast(probes), "cell")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "neighbor_id",
            sim.cosine_expr("nvec", "qvec").alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= 5)
    )


# --- per-slot replication-lag report ------------------------------------------

# Closed arithmetic form of streaming_gate._archive_frames (the shared
# deterministic changelog): RELATION at LSN 1; insert txn t (t = 0..9) is
# BEGIN 10+12t / inserts 11+12t..20+12t / COMMIT 21+12t; the update txn is
# BEGIN 130 / 20 updates 131..150 / COMMIT 151; the delete txn is BEGIN 152 /
# 15 deletes 153..167 / COMMIT 168. So:
#  - head (archive end, final commit)                      = 168
#  - a 25-DML budget from LSN -1 ends at the last COMMIT within it
#    (10+10 inserts; txn 2 would make 30) and acks it      = 21 + 12*1 = 33
#  - chunk split below: c0 = REL+txn0+txn1 (max 33), c1 = txn2+txn3
#    (max 57), c2 = the rest (max 168); default prune takes
#    min(fast, slow) = 33 -> only c0 (33 <= 33) is removable = base 33.
_LAG_HEAD = 168
_LAG_SLOW_ACK = 33
_LAG_BASE = 33

_SLOT_LAG_ORACLE = f"""
    SELECT 'fast' AS slot, CAST({_LAG_HEAD} AS BIGINT) AS flushed_lsn,
           CAST({_LAG_HEAD} AS BIGINT) AS head_lsn,
           CAST(0 AS BIGINT) AS lag_lsn,
           CAST(1 AS INT) AS pruned_chunks,
           CAST({_LAG_BASE} AS BIGINT) AS base_lsn,
           CAST(2 AS INT) AS retained_chunks
    UNION ALL
    SELECT 'slow', CAST({_LAG_SLOW_ACK} AS BIGINT),
           CAST({_LAG_HEAD} AS BIGINT),
           CAST({_LAG_HEAD - _LAG_SLOW_ACK} AS BIGINT),
           CAST(1 AS INT), CAST({_LAG_BASE} AS BIGINT), CAST(2 AS INT)
"""


@register(
    "cdc_slot_lag_report",
    _SLOT_LAG_ORACLE,
    doc="Per-slot replication-lag report — the pg_stat_replication analog "
        "for the archive transport, gating the r12 shared-archive retention "
        "semantics end-to-end: two slot consumers drain the same archive "
        "(slot 'fast' to the head; slot 'slow' one 25-DML txn-aligned "
        "micro-batch, acking the txn-1 COMMIT, the last within the budget — "
        "the S15 flush-LSN contract, "
        "CdcEngine.java:132-137), then the DEFAULT prune_wal_archive pass "
        "takes min over every _flushed_lsn_<slot> ack file, so only the "
        "chunk wholly behind the SLOWEST consumer (max LSN 33 <= 33) is "
        "removed and the head snapshot lands at 33 — one chunk pruned, two "
        "retained, and both slots' lag derived from ack files + chunk-index "
        "sidecars alone. The oracle is the closed arithmetic form of the "
        "shared archive builder (txn t commits at 21+12t; head 168). Scale "
        "shape: the report reads ONLY slot ack files and per-chunk .idx "
        "sidecars — O(slots + chunks) driver-side metadata, never the "
        "changelog bytes; at a month of 100-TB WAL this is the operational "
        "query a pipeline dashboards every minute.",
)
def cdc_slot_lag_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile
    import uuid

    from postgresql_cdc_spark.plans.streaming_gate import _archive_frames
    from postgresql_cdc_spark.streaming.source import (
        WalArchiveStreamReader,
        prune_wal_archive,
        write_wal_archive,
    )

    arch = tempfile.mkdtemp(prefix=f"pgcdc_lag_{uuid.uuid4().hex[:12]}_")
    frames = _archive_frames()
    # chunk at txn boundaries: c0 = REL + txns 0-1, c1 = txns 2-3, c2 = rest
    write_wal_archive(arch, [f for f in frames if f[0] <= 33],
                      chunk="000000.wal")
    write_wal_archive(arch, [f for f in frames if 33 < f[0] <= 57],
                      chunk="000001.wal")
    write_wal_archive(arch, [f for f in frames if f[0] > 57],
                      chunk="000002.wal")

    def _cycle(reader):
        """One micro-batch: offer, read, ack (the engine loop's body)."""
        start = reader.initialOffset()
        end = reader.latestOffset()
        part = reader.partitions(start, end)[0]
        list(reader.read(part))
        reader.commit(end)
        return end

    fast = WalArchiveStreamReader(
        {"path": arch, "slot": "fast", "readall": "true"}
    )
    fast_end = _cycle(fast)
    slow = WalArchiveStreamReader(
        {"path": arch, "slot": "slow", "maxrecordsperbatch": "25"}
    )
    slow_end = _cycle(slow)

    stats = prune_wal_archive(arch)  # default: min over all slot acks
    retained = sum(1 for n in os.listdir(arch) if n.endswith(".wal"))
    head = _LAG_HEAD  # == fast_end["lsn"]; the oracle pins the equality
    rows = [
        ("fast", int(fast_end["lsn"]), head, head - int(fast_end["lsn"]),
         int(stats["pruned_chunks"]), int(stats["base_lsn"]), retained),
        ("slow", int(slow_end["lsn"]), head, head - int(slow_end["lsn"]),
         int(stats["pruned_chunks"]), int(stats["base_lsn"]), retained),
    ]
    return spark.createDataFrame(
        rows,
        "slot string, flushed_lsn bigint, head_lsn bigint, lag_lsn bigint, "
        "pruned_chunks int, base_lsn bigint, retained_chunks int",
    )


# --- WAL chunk compaction under the gate --------------------------------------

def _chunk_compaction_oracle() -> str:
    # Compaction must be invisible to replay: the closed form is
    # cdc_stream_end_to_end's oracle verbatim.
    from postgresql_cdc_spark.plans.streaming_gate import N

    return f"""
    SELECT i AS id,
           CAST(CASE WHEN i % 5 = 0 THEN (i * 7) % 13 + 100
                     ELSE (i * 7) % 13 END AS INT) AS v_int,
           'acct-' || CAST(i AS VARCHAR) AS v_text
    FROM range({N}) t(i)
    WHERE i % 7 <> 0
    """


@register(
    "cdc_stream_chunk_compaction",
    _chunk_compaction_oracle(),
    doc="WAL archive CHUNK compaction under the gate — the small-file "
        "maintenance pass that completes the archive lifecycle (chunk "
        "index r11, retention prune r11/r12, compaction r12): the shared "
        "deterministic changelog is relayed as TEN tiny chunks (the shape "
        "a chatty producer leaves), a first drain writes the chunk-index "
        "sidecars, compact_wal_archive merges adjacent indexed runs "
        "byte-identically (merged chunk atomically replaces the run's "
        "first constituent so name order stays LSN order; sidecar derived "
        "from the last constituent's cumulative state; newest chunk never "
        "merged), and THEN a real StreamingQuery replays the compacted "
        "archive through the pgcdc source into materialize + typed view. "
        "The oracle is cdc_stream_end_to_end's closed form verbatim: one "
        "lost, duplicated, or re-ordered frame fails the hash. Crash "
        "windows (constituents outliving the merged chunk) are covered by "
        "the scan's LSN-monotonicity guard, unit-tested in "
        "tests/test_wal_compaction.py. Scale shape: compaction is O(bytes "
        "rewritten) sequential I/O on the maintenance node; replay cost "
        "after it is O(new data + #chunks) with #chunks now bounded by "
        "archive_bytes / target_chunk_bytes.",
)
def cdc_stream_chunk_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile
    import uuid

    from postgresql_cdc_spark.functions.pg_types import typed_view
    from postgresql_cdc_spark.operators.materialize import materialize
    from postgresql_cdc_spark.plans.streaming_gate import (
        _archive_frames,
        _run_stream_to_memory,
    )
    from postgresql_cdc_spark.streaming.archive_maintenance import (
        compact_wal_archive,
    )
    from postgresql_cdc_spark.streaming.source import (
        WalArchiveStreamReader,
        write_wal_archive,
    )

    base = tempfile.mkdtemp(prefix=f"pgcdc_cmp_{uuid.uuid4().hex[:12]}_")
    arch = os.path.join(base, "wal")
    frames = _archive_frames()
    per = (len(frames) + 9) // 10
    for c in range(10):  # ten tiny chunks, txn boundaries NOT aligned
        part = frames[c * per:(c + 1) * per]
        if part:
            write_wal_archive(arch, part, chunk=f"{c:06d}.wal")
    # first drain writes the sidecars (driver-side latestOffset)
    WalArchiveStreamReader(
        {"path": arch, "readall": "true",
         "ackpath": os.path.join(base, "ack0")}
    ).latestOffset()
    big = sum(
        os.path.getsize(os.path.join(arch, n))
        for n in os.listdir(arch) if n.endswith(".wal")
    )
    stats = compact_wal_archive(arch, target_chunk_bytes=(big // 2) + 1)
    assert stats["merged_runs"] >= 1 and stats["chunks_after"] <= 4, stats

    log = _run_stream_to_memory(spark, arch, base)
    state = materialize(log, keys=["id"], merge_sparse=False)
    return typed_view(
        state, {"id": "bigint", "v_int": "int", "v_text": "string"}, keep=()
    )


# --- streaming BM25 corpus-stats maintenance ----------------------------------

@register(
    "cdc_stream_bm25_stats",
    _bm25_scored_sql("duck", "documents")
    + """
    SELECT doc_id, bm25 FROM scored
    ORDER BY bm25 DESC, doc_id ASC LIMIT 10
    """,
    doc="STREAMING maintenance of the BM25 corpus statistics — the "
        "retrieval-layer twin of cdc_stream_vector_index: the corpus "
        "arrives in 3 foreachBatch waves and each epoch appends ONE "
        "partial-aggregate row (doc count, token total, per-term document "
        "frequencies — all SUM-mergeable, the map-side-combine property "
        "that lets a 100-TB index maintain its statistics without ever "
        "re-scanning the corpus) as an ingest_epoch-partitioned dynamic "
        "overwrite (replay-idempotent: a re-run epoch replaces its own "
        "partial, never double-counts). After the stream, compact_epochs "
        "SUM-merges the committed partials below the newest epoch into ONE "
        "base row (the partials are SUM-mergeable by design, so the base "
        "stays one row no matter how many epochs fold — the maintained-"
        "store lifecycle that keeps a year-old store's fold width at "
        "base+tail instead of 525k partials). The serve path folds the "
        "compacted store into the global (n, s, df_t) by ONE sum through "
        "the manifest-aware reader, broadcasts them against the per-doc "
        "tf/dl projection, and answers the same fixed 4-term query — gated "
        "against text_bm25_topk's closed form verbatim: maintained "
        "statistics and their compaction must be invisible to the scorer. "
        "Waves are one file per trigger, mtime-ordered under AvailableNow.",
)
def cdc_stream_bm25_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob
    import shutil
    import tempfile
    import uuid

    from postgresql_cdc_spark.streaming.epoch_io import epoch_overwrite
    from postgresql_cdc_spark.streaming.epoch_maintenance import (
        compact_epochs,
        read_epoch_store,
    )

    d = T(spark, sf_dir, "documents").select("doc_id", "text")

    base = tempfile.mkdtemp(prefix=f"pgcdc_bm25_{uuid.uuid4().hex[:12]}_")
    indir = os.path.join(base, "in")
    os.makedirs(indir)
    t0 = 1_600_000_000
    for k in range(3):
        tmp = os.path.join(base, f"w{k}")
        d.where(F.col("doc_id") % 3 == k).coalesce(1).write.parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dst = os.path.join(indir, f"wave{k}.parquet")
        shutil.move(part, dst)
        os.utime(dst, (t0 + 60 * k, t0 + 60 * k))

    stats_dir = os.path.join(base, "stats")

    def ingest(batch: DataFrame, epoch: int) -> None:
        toks = batch.selectExpr(f"{_S_TOKS} AS toks")
        partial = toks.agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.expr("CAST(size(toks) AS BIGINT)")).cast("bigint")
            .alias("s"),
            *[
                F.expr(
                    f"CAST(SUM(CASE WHEN array_contains(toks, '{t}') THEN 1 "
                    f"ELSE 0 END) AS BIGINT)"
                ).alias(f"df_{t}")
                for t in _BM25_TERMS
            ],
        )
        epoch_overwrite(partial, stats_dir, int(epoch))

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
            raise TimeoutError("bm25-stats ingest did not finish")
    finally:
        q.stop()

    def _sum_merge(df: DataFrame) -> DataFrame:
        return df.agg(
            F.sum("n").cast("bigint").alias("n"),
            F.sum("s").cast("bigint").alias("s"),
            *[
                F.sum(f"df_{t}").cast("bigint").alias(f"df_{t}")
                for t in _BM25_TERMS
            ],
        )

    # compact: SUM-merge the committed partials below the newest epoch into
    # ONE base row, then fold base + live tail into the global stats
    stats = compact_epochs(spark, stats_dir, upto=2, merge=_sum_merge)
    assert stats["folded_partitions"] == 2, stats
    folded = _sum_merge(read_epoch_store(spark, stats_dir))
    dd = d.selectExpr("doc_id", f"{_S_TOKS} AS toks").selectExpr(
        "doc_id", *_bm25_doc_col_list("spark")
    )
    scored = dd.crossJoin(F.broadcast(folded)).selectExpr(
        "doc_id", f"{_BM25_SCORE} AS bm25"
    )
    return scored.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(10)


# --- fusion overlap diagnostics ------------------------------------------------

_FUSION_EVAL_ORACLE = (
    _RRF_CTES
    + f""",
    top AS (SELECT id, r_lex, r_sem FROM fused
            ORDER BY rrf DESC, id ASC LIMIT 10)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_fused,
           CAST(SUM(CASE WHEN r_sem BETWEEN 1 AND 10
                         THEN 1 ELSE 0 END) AS BIGINT) AS in_sem10,
           CAST(SUM(CASE WHEN r_lex BETWEEN 1 AND 10
                         THEN 1 ELSE 0 END) AS BIGINT) AS in_lex10,
           CAST(SUM(CASE WHEN r_sem BETWEEN 1 AND 10
                          AND r_lex BETWEEN 1 AND 10
                         THEN 1 ELSE 0 END) AS BIGINT) AS in_both10,
           CAST(SUM(CASE WHEN r_sem = 0 OR r_sem > {_RRF_DEPTH}
                         THEN 1 ELSE 0 END) AS BIGINT) AS sem_absent
    FROM top
    """
)


@register(
    "retrieval_fusion_overlap",
    _FUSION_EVAL_ORACLE,
    doc="Fusion overlap diagnostics — the acceptance readout a retrieval "
        "stack reports next to its fused list (the recall-eval convention: "
        "ivf_recall_eval for ANN, this for fusion): of the RRF top-10, how "
        "many sit in the semantic top-10, the lexical top-10, both, and "
        "how many the semantic system missed entirely (contributed by the "
        "lexical side alone — the complementarity RRF exists to capture). "
        "All counts are integer-exact over the same fused CTEs "
        "hybrid_rrf_fusion gates, so the eval and the serving query can "
        "never drift. Scale shape: identical to the fusion query (rank<=50 "
        "limits below windows, 50x50 full-outer fuse) plus one 10-row "
        "aggregate.",
)
def retrieval_fusion_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    fused = hybrid_rrf_fusion(spark, sf_dir)  # the registered top-10
    return fused.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_fused"),
        F.sum(F.expr("CASE WHEN r_sem BETWEEN 1 AND 10 THEN 1 ELSE 0 END"))
        .cast("bigint").alias("in_sem10"),
        F.sum(F.expr("CASE WHEN r_lex BETWEEN 1 AND 10 THEN 1 ELSE 0 END"))
        .cast("bigint").alias("in_lex10"),
        F.sum(F.expr(
            "CASE WHEN r_sem BETWEEN 1 AND 10 AND r_lex BETWEEN 1 AND 10 "
            "THEN 1 ELSE 0 END"
        )).cast("bigint").alias("in_both10"),
        F.sum(F.expr(
            f"CASE WHEN r_sem = 0 OR r_sem > {_RRF_DEPTH} THEN 1 ELSE 0 END"
        )).cast("bigint").alias("sem_absent"),
    )
