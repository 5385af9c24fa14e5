"""Round-13 registry depth: recall-drift monitoring for the streaming-
maintained IVF index.

The maintained vector index (``cdc_stream_vector_index``) freezes its coarse
quantizer OFFLINE before the stream starts — correct for serving, but at a
100-TB store the corpus drifts away from the training distribution and
recall decays silently. The production answer is the recall curve a store
alarms on: after every ingest epoch, recall@5 of the maintained index
against brute-force truth over exactly the corpus ingested so far (the
fixed query sample every recall eval in this repo uses). This module gates
that curve end-to-end: a real StreamingQuery maintains the epoch-
partitioned postings, then each epoch's index PREFIX (the strictly-earlier-
epoch read — the replay contract doubling as time travel) is served and
scored against the replayed brute truth.

Determinism conventions: squared-L2 assignment and rounded-cosine re-rank
are the repo-wide similarity kernels (``operators/similarity``, mirrored by
``plans/extensions``' DuckDB twins); recall is integer per-mille
(``ivf_nprobe_sweep``'s convention). The oracle reconstructs each epoch's
corpus closed-form from the wave definition (wave k = ``vec_id % 3 = k``,
so the epoch-e corpus is ``vec_id % 3 <= e`` — the deterministic
mtime-ordered AvailableNow recipe shared with the r12 maintenance gates).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

# T is the shared loader with the under-parallelized-scan fan-out: the
# single-file fixtures scan as ONE task, which would serialize the per-row
# md5-shingle/minhash kernels below (measured 4.2 s -> 0.8 s on the decon
# probe's hash pass at sf0.1); a real corpus arrives in thousands of splits
# and the exchange never fires.
from postgresql_cdc_spark.plans.extensions import T, _cos_sql, _l2_sql
from postgresql_cdc_spark.plans.registry import register

_N_EPOCHS = 3
_N_PROBE = 4


def _drift_oracle() -> str:
    per_epoch = []
    rows = []
    for e in range(_N_EPOCHS):
        per_epoch.append(f"""
corpus{e} AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 3 <= {e}),
assign{e} AS (
  SELECT vec_id AS neighbor_id, embedding AS ne, cell FROM (
    SELECT c.vec_id, c.embedding, cent.cell,
           ROW_NUMBER() OVER (PARTITION BY c.vec_id
               ORDER BY {_l2_sql('c.embedding', 'cent.cv')} ASC,
                        cent.cell ASC) AS rn
    FROM corpus{e} c CROSS JOIN cent
  ) WHERE rn = 1),
ivf{e} AS (
  SELECT query_id, neighbor_id FROM (
    SELECT p.query_id, a.neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY p.query_id
               ORDER BY {_cos_sql('a.ne', 'p.qe')} DESC,
                        a.neighbor_id ASC) AS rank
    FROM assign{e} a JOIN probes p USING (cell)
    WHERE a.neighbor_id <> p.query_id
  ) WHERE rank <= 5),
brute{e} AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, c.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
               ORDER BY {_cos_sql('c.embedding', 'q.qe')} DESC,
                        c.vec_id ASC) AS rank
    FROM corpus{e} c JOIN qr q ON c.vec_id <> q.query_id
  ) WHERE rank <= 5),
ov{e} AS (SELECT CAST(COUNT(*) AS BIGINT) AS h
          FROM ivf{e} JOIN brute{e} USING (query_id, neighbor_id))""")
        rows.append(
            f"SELECT CAST({e} AS INT) AS epoch, h AS n_hits, n AS n_queries,"
            f" CAST((1000 * h) // (5 * n) AS BIGINT) AS recall_milli"
            f" FROM ov{e} CROSS JOIN nq"
        )
    return f"""
WITH cent AS (SELECT vec_id AS cell, embedding AS cv
              FROM embeddings ORDER BY vec_id LIMIT 16),
qr AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
       WHERE vec_id % 100 = 0 AND len(embedding) > 0),
probes AS (
  SELECT query_id, qe, cell FROM (
    SELECT qr.query_id, qr.qe, cent.cell,
           ROW_NUMBER() OVER (PARTITION BY qr.query_id
               ORDER BY {_l2_sql('qr.qe', 'cent.cv')} ASC,
                        cent.cell ASC) AS rn
    FROM qr CROSS JOIN cent
  ) WHERE rn <= {_N_PROBE}),
nq AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM qr),
{','.join(per_epoch)}
{' UNION ALL '.join(rows)}
"""


@register(
    "cdc_stream_ivf_recall_drift",
    _drift_oracle(),
    doc="Recall-drift curve for the STREAMING-maintained IVF index — the "
        "alarm a 100-TB vector store runs on its frozen offline quantizer: "
        "after each ingest epoch (3 foreachBatch waves, mtime-ordered under "
        "AvailableNow), recall@5 of the maintained index vs brute-force "
        "truth over exactly the corpus ingested so far, on the fixed 1% "
        "query sample. The per-epoch index state is read back through "
        "epoch_io's strictly-earlier-epoch probe — the replay-idempotence "
        "partitioning doubling as time travel, so ONE maintained store "
        "yields the whole curve without re-running the stream per point. "
        "The oracle replays each epoch's corpus closed-form (wave k = "
        "vec_id % 3 = k) against the same frozen 16-centroid quantizer "
        "and the same integer per-mille recall (ivf_nprobe_sweep's "
        "convention). Scale shape: per epoch, serving is the standard "
        "broadcast-probe IVF plan (no corpus self-join) and truth is the "
        "documented quadratic baseline over the 1% sample only; the curve "
        "a deployment computes per epoch is O(sample x corpus), never "
        "O(corpus^2).",
)
def cdc_stream_ivf_recall_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob
    import shutil
    import tempfile
    import uuid

    from postgresql_cdc_spark.operators import similarity as sim
    from postgresql_cdc_spark.streaming.epoch_io import epoch_overwrite
    from postgresql_cdc_spark.streaming.epoch_maintenance import (
        epochs_before_compacted,
    )

    e = T(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    base = tempfile.mkdtemp(prefix=f"pgcdc_drift_{uuid.uuid4().hex[:12]}_")
    indir = os.path.join(base, "in")
    os.makedirs(indir)
    t0 = 1_600_000_000
    for k in range(_N_EPOCHS):
        tmp = os.path.join(base, f"w{k}")
        e.where(F.col("vec_id") % 3 == k).coalesce(1).write.parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dst = os.path.join(indir, f"wave{k}.parquet")
        shutil.move(part, dst)
        os.utime(dst, (t0 + 60 * k, t0 + 60 * k))

    # frozen offline quantizer + maintained postings: the exact
    # cdc_stream_vector_index maintenance pipe
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
            raise TimeoutError("recall-drift ingest did not finish")
    finally:
        q.stop()

    cents = spark.read.parquet(cents_path)
    queries = e.where(
        (F.col("vec_id") % 100 == 0) & (F.size("embedding") > 0)
    ).select(F.col("vec_id").alias("query_id"), "embedding")
    nq = queries.agg(F.count(F.lit(1)).cast("bigint").alias("n"))

    # probes depend only on the frozen quantizer + fixed queries: once
    wp = Window.partitionBy("query_id").orderBy(F.asc("__d"), F.asc("cell"))
    probes = (
        queries.select("query_id", F.col("embedding").alias("qvec"))
        .join(F.broadcast(cents))
        .withColumn("__d", sim.l2sq(F.col("qvec"), F.col("__cvec")))
        .withColumn("__rn", F.row_number().over(wp))
        .where(F.col("__rn") <= _N_PROBE)
        .select("query_id", "qvec", "cell")
    )

    out = None
    for ep in range(_N_EPOCHS):
        # the maintained index as of epoch ep: the strictly-earlier probe
        # of epoch ep+1 — per-epoch time travel off one store
        posts = epochs_before_compacted(spark, postings, ep + 1)
        w = Window.partitionBy("query_id").orderBy(
            F.desc("cos_sim"), F.asc("neighbor_id")
        )
        ivf = (
            posts.join(F.broadcast(probes), "cell")
            .where(F.col("neighbor_id") != F.col("query_id"))
            .select(
                "query_id", "neighbor_id",
                sim.cosine_expr("nvec", "qvec").alias("cos_sim"),
            )
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= 5)
            .select("query_id", "neighbor_id")
        )
        brute = sim.topk_brute(
            e.where(F.col("vec_id") % 3 <= ep), queries, k=5
        ).select("query_id", "neighbor_id")
        row = (
            ivf.join(brute, ["query_id", "neighbor_id"])
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_hits"))
            .select(F.lit(ep).cast("int").alias("epoch"), "n_hits")
        )
        out = row if out is None else out.unionByName(row)
    return out.crossJoin(F.broadcast(nq)).select(
        "epoch", "n_hits", F.col("n").alias("n_queries"),
        F.expr("CAST((1000 * n_hits) DIV (5 * n) AS BIGINT)")
        .alias("recall_milli"),
    )


# --- fuzzy (MinHash) decontamination of the held-out split -------------------

from postgresql_cdc_spark.plans.extensions import _mh_sql  # noqa: E402
from postgresql_cdc_spark.plans.extensions2 import (  # noqa: E402
    _H60,
    _SHINGLES3,
    _TOKS,
    _band_from_sql,
)

_FUZZY_DECON_ORACLE = f"""
    WITH test0 AS (SELECT doc_id AS id, text FROM documents
                   WHERE doc_id % 10 = 0),
    train0 AS (SELECT doc_id AS id, text FROM documents
               WHERE doc_id % 10 <> 0),
    tt AS (SELECT id, {_TOKS} AS toks FROM test0),
    tr AS (SELECT id, {_TOKS} AS toks FROM train0),
    sht AS (SELECT id, {_SHINGLES3} AS sh FROM tt),
    shr AS (SELECT id, {_SHINGLES3} AS sh FROM tr),
    bt AS (SELECT id, list_transform(sh, s -> {_H60.format(x='s')}) AS shh
           FROM sht WHERE len(sh) > 0),
    br AS (SELECT id, list_transform(sh, s -> {_H60.format(x='s')}) AS shh
           FROM shr WHERE len(sh) > 0),
    sigt AS (SELECT id, {", ".join(_mh_sql(i) for i in range(12))} FROM bt),
    sigr AS (SELECT id, {", ".join(_mh_sql(i) for i in range(12))} FROM br),
    bandst AS ({" UNION ALL ".join(_band_from_sql("sigt", b) for b in range(4))}),
    bandsr AS ({" UNION ALL ".join(_band_from_sql("sigr", b) for b in range(4))}),
    wide AS (SELECT band, bucket FROM bandsr GROUP BY 1, 2
             HAVING COUNT(*) > 50),
    bkr AS (SELECT bandsr.* FROM bandsr ANTI JOIN wide USING (band, bucket)),
    cand0 AS (SELECT DISTINCT p.id AS test_id, q.id AS train_id
              FROM bandst p JOIN bkr q USING (band, bucket)),
    szt AS (SELECT id, len(shh) AS n_sh FROM bt),
    szr AS (SELECT id, len(shh) AS n_sh FROM br),
    cand AS (SELECT c.test_id, c.train_id, sa.n_sh AS na, sb.n_sh AS nb
             FROM cand0 c
             JOIN szt sa ON sa.id = c.test_id
             JOIN szr sb ON sb.id = c.train_id
             WHERE least(sa.n_sh, sb.n_sh)
                   >= (0.5 - 1e-6) * greatest(sa.n_sh, sb.n_sh)),
    pt AS (SELECT id, unnest(shh) AS sh_hash FROM bt),
    pr AS (SELECT id, unnest(shh) AS sh_hash FROM br),
    common AS (SELECT c.test_id, c.train_id, c.na, c.nb,
                      COUNT(*) AS n_common
               FROM cand c
               JOIN pt ON pt.id = c.test_id
               JOIN pr ON pr.id = c.train_id AND pr.sh_hash = pt.sh_hash
               GROUP BY 1, 2, 3, 4),
    matches AS (
        SELECT test_id, train_id,
               round(CAST(n_common AS DOUBLE) / (na + nb - n_common), 6)
                 AS jaccard
        FROM common
        WHERE round(CAST(n_common AS DOUBLE) / (na + nb - n_common), 6)
              >= 0.5)
    SELECT test_doc_id, n_contaminating, best_train_id, best_jaccard FROM (
        SELECT test_id AS test_doc_id,
               CAST(COUNT(*) OVER (PARTITION BY test_id) AS BIGINT)
                 AS n_contaminating,
               CAST(train_id AS BIGINT) AS best_train_id,
               jaccard AS best_jaccard,
               ROW_NUMBER() OVER (PARTITION BY test_id
                   ORDER BY jaccard DESC, train_id ASC) AS rn
        FROM matches) WHERE rn = 1
"""


@register(
    "decon_fuzzy_minhash",
    _FUZZY_DECON_ORACLE,
    doc="Fuzzy decontamination of the held-out split: each test doc "
        "(doc_id % 10 = 0) probes the TRAINING split's LSH band-bucket "
        "index for near-duplicate contamination — MinHash banding for "
        "candidates, hot-bucket cap, size-ratio prune, exact shingle "
        "Jaccard >= 0.5 verification — and the report aggregates per test "
        "doc: how many training docs contaminate it and the best match "
        "(max Jaccard, ties to the lowest train id). This is the fuzzy "
        "complement of decon_test_train_overlap's exact-shingle "
        "containment: paraphrased/perturbed eval leakage that exact "
        "n-gram overlap understates shows up here (the standard pre-"
        "training decon pass — fuzzy variants of it guard most published "
        "LLM eval suites). Scale shape: the test split probes a stored "
        "index (batch->index equi-join); the training corpus never self-"
        "joins, the per-test-doc aggregate is a bounded groupBy with a "
        "struct-max (no global window), so cost is O(|test| x collision "
        "rate) however large the training corpus grows.",
)
def decon_fuzzy_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from postgresql_cdc_spark.operators import dedup as dd

    d = T(spark, sf_dir, "documents").select("doc_id", "text")
    test = d.where(F.col("doc_id") % 10 == 0)
    train = d.where(F.col("doc_id") % 10 != 0)
    m = dd.minhash_lsh_incremental(
        test, train, "text", "doc_id", threshold=0.5
    )
    # best match per test doc without a window: struct-max orders by
    # (jaccard, -train_id), so ties deterministically take the lowest id
    best = F.max(
        F.struct(
            F.col("jaccard").alias("j"),
            (-F.col("corpus_id")).alias("neg_id"),
        )
    ).alias("best")
    return (
        m.groupBy(F.col("batch_id").alias("test_doc_id"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_contaminating"), best)
        .select(
            "test_doc_id",
            "n_contaminating",
            (-F.col("best.neg_id")).cast("bigint").alias("best_train_id"),
            F.col("best.j").alias("best_jaccard"),
        )
    )
