"""sf1 scale soak: a MEASURED 10x curve for the bench's five most expensive
rows (round-9 verdict #4) — evidence the sf0.1 bench cannot give that the
partition/prune strategies actually hold when the data grows.

Builds a deterministic sf1 fixture set (10x sf0.1) under .bench_cache/sf1/:

- ``documents``: replica 0 is sf0.1 verbatim; replicas 1-9 shift doc_id by
  k*1,000,000 and salt every SECOND token with a replica tag — the longest
  run of unsalted tokens is then 2, so EVERY trigram shingle of a replica
  contains its salt and cross-replica Jaccard is exactly 0, keeping the
  near-dup pair count ~linear in corpus size (naive 10x copies would grow
  pairs quadratically and measure the wrong thing; salting every THIRD
  token — the first version of this file — left whole trigrams intact
  between salts, ~0.15 residual cross-replica Jaccard). Token count grows
  1.5x per salted replica; noted with the results.
- ``embeddings``: replicas shift vec_id by k*1,000,000 (divisible by 100, so
  the vec_id %% 100 query subset scales 10x with the corpus) and add
  deterministic hash-derived noise of +-0.1 per component (distinct vectors,
  same distribution shape).
- ``lineitem``: replicas shift l_orderkey by k*10,000,000; the synthesized
  changelog then versions 10x the keys.

Each query runs once untimed (JIT warm-up) then twice timed per scale; the
table reports both timed passes, the per-input-row cost at each scale, and
the sf1/sf0.1 time ratio (linear scaling => ~10x on 10x data; LSH rows may
run slightly superlinear from candidate collisions — the thing this soak
exists to catch if caps are mistuned).

Usage: python tools/scale_soak.py   (writes JSON to stdout; paste the table
into BASELINE.md's "sf1 scale soak" section)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

SRC = os.environ.get("SOAK_SRC_SF_DIR", "/root/testdata/sf0.1")
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DST = os.path.join(REPO, ".bench_cache", "sf1")
REPLICAS = 10

SOAK_QUERIES = [
    "cdc_materialize_state",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "sim_topk_lsh",
    "sim_topk_ivfpq",  # r11 composed index: expect ~flat (compile-constant)
    # the round-10 two-level seam-stitch rewrites: the soak is the direct
    # evidence that no window task scales with the key/score range
    "dq_sequence_gaps",
    "eval_auc_exact",
    # r12 retrieval layer: BM25 is two one-row aggs + an in-row projection
    # (expect ~linear); RRF adds the 50-deep rank windows (limit pushed
    # below) and the universe equi-join; the perplexity proxy is the
    # word-count shape (bigram hash aggs + occurrence equi-join)
    "text_bm25_topk",
    "hybrid_rrf_fusion",
    "text_perplexity_proxy",
]
ROWS_TABLE = {
    "cdc_materialize_state": "lineitem",
    "dedup_minhash_lsh": "documents",
    "dedup_ngram_jaccard": "documents",
    "dedup_simhash": "documents",
    "sim_topk_lsh": "embeddings",
    "sim_topk_ivfpq": "embeddings",
    "dq_sequence_gaps": "orders",
    "eval_auc_exact": "embeddings",
    "text_bm25_topk": "documents",
    "hybrid_rrf_fusion": "documents",
    "text_perplexity_proxy": "documents",
}


def _build_sf1(spark) -> None:
    os.makedirs(DST, exist_ok=True)

    docs = spark.read.parquet(os.path.join(SRC, "documents.parquet"))
    reps = [docs]
    for k in range(1, REPLICAS):
        salted = (
            "array_join(flatten(transform(split(text, ' '), "
            f"(t, i) -> IF(i % 2 = 0, array('rk{k}x', t), array(t)))), ' ')"
        )
        reps.append(
            docs.select(
                (F.col("doc_id") + k * 1_000_000).alias("doc_id"),
                F.expr(salted).alias("text"),
                "lang",
                "source",
                "n_chars",
            )
        )
    out = reps[0]
    for r in reps[1:]:
        out = out.unionByName(r)
    out.write.mode("overwrite").parquet(os.path.join(DST, "documents.parquet"))

    emb = spark.read.parquet(os.path.join(SRC, "embeddings.parquet"))
    reps = [emb]
    for k in range(1, REPLICAS):
        noisy = (
            "transform(embedding, (x, i) -> x + "
            f"CAST(pmod(hash(vec_id, i, {k}), 1000) - 500 AS FLOAT) / 5000.0)"
        )
        reps.append(
            emb.select(
                (F.col("vec_id") + k * 1_000_000).alias("vec_id"),
                F.expr(noisy).alias("embedding"),
                "label",
            )
        )
    out = reps[0]
    for r in reps[1:]:
        out = out.unionByName(r)
    out.write.mode("overwrite").parquet(os.path.join(DST, "embeddings.parquet"))

    li = spark.read.parquet(os.path.join(SRC, "lineitem.parquet"))
    reps = [li]
    for k in range(1, REPLICAS):
        reps.append(
            li.withColumn(
                "l_orderkey", F.col("l_orderkey") + k * 10_000_000
            )
        )
    out = reps[0]
    for r in reps[1:]:
        out = out.unionByName(r)
    out.write.mode("overwrite").parquet(os.path.join(DST, "lineitem.parquet"))

    od = spark.read.parquet(os.path.join(SRC, "orders.parquet"))
    reps = [od]
    for k in range(1, REPLICAS):
        reps.append(
            od.withColumn(
                "o_orderkey", F.col("o_orderkey") + k * 10_000_000
            )
        )
    out = reps[0]
    for r in reps[1:]:
        out = out.unionByName(r)
    out.write.mode("overwrite").parquet(os.path.join(DST, "orders.parquet"))


def _stream_ingest_soak(spark, sf_dir: str) -> dict:
    """The production CDC+dedup composition, measured as a STREAM: 4 ingest
    waves through foreachBatch, each wave probing the LSH index the earlier
    waves persisted (epoch-partitioned, like the registered gate) then
    appending its own postings. Records per-batch wall time and docs/s —
    the evidence the one-shot batch soak cannot give: per-wave cost must
    track |wave| x collision rate, NOT the accumulated index size. Unlike
    the oracle-gated query this uses the PRODUCTION hot-bucket cap (the
    gate disables it only for oracle exactness)."""
    import glob
    import shutil
    import tempfile
    import uuid

    from pyspark.sql import DataFrame

    from postgresql_cdc_spark.operators import dedup as dd

    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        "doc_id", "text"
    )
    waves = [d.where(F.col("doc_id") % 3 == k) for k in range(3)]
    waves.append(
        d.where(F.col("doc_id") % 5 == 0).select(
            (F.col("doc_id") + 100_000_000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" qq zz")).alias("text"),
        )
    )

    base = tempfile.mkdtemp(prefix=f"soak_sincr_{uuid.uuid4().hex[:8]}_")
    indir = os.path.join(base, "in")
    os.makedirs(indir)
    t0 = 1_600_000_000
    n_docs = 0
    for k, w in enumerate(waves):
        tmp = os.path.join(base, f"w{k}")
        w.coalesce(1).write.parquet(tmp)
        n_docs += spark.read.parquet(tmp).count()
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dst = os.path.join(indir, f"wave{k}.parquet")
        shutil.move(part, dst)
        os.utime(dst, (t0 + 60 * k, t0 + 60 * k))

    idx = {p: os.path.join(base, "index", p)
           for p in ("buckets", "sizes", "postings")}
    matches_dir = os.path.join(base, "matches")
    batch_s: list = []  # driver-side: foreachBatch runs in this process

    from postgresql_cdc_spark.streaming.epoch_io import epoch_overwrite
    from postgresql_cdc_spark.streaming.epoch_maintenance import (
        epochs_before_compacted,
    )

    def ingest(batch: DataFrame, epoch: int) -> None:
        bt0 = time.perf_counter()
        sp = batch.sparkSession
        batch = batch.persist()
        ep = int(epoch)
        if os.path.isdir(idx["buckets"]):
            ci = dd.LshIndex(
                epochs_before_compacted(sp, idx["buckets"], ep),
                epochs_before_compacted(sp, idx["sizes"], ep),
                epochs_before_compacted(sp, idx["postings"], ep),
            )
            epoch_overwrite(
                dd.minhash_lsh_incremental(
                    batch, None, "text", "doc_id", threshold=0.5,
                    corpus_index=ci,
                ),
                matches_dir, ep,
            )
        bi = dd.build_lsh_index(batch, "text", "doc_id")
        epoch_overwrite(bi.buckets, idx["buckets"], ep)
        epoch_overwrite(bi.sizes, idx["sizes"], ep)
        epoch_overwrite(bi.postings, idx["postings"], ep)
        sp.catalog.clearCache()
        batch_s.append(round(time.perf_counter() - bt0, 2))

    wall0 = time.perf_counter()
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
        if not q.awaitTermination(1800):
            raise TimeoutError("streaming soak did not finish")
    finally:
        q.stop()
    wall = round(time.perf_counter() - wall0, 2)
    n_matches = (
        spark.read.parquet(matches_dir).count()
        if os.path.isdir(matches_dir) else 0
    )
    shutil.rmtree(base, ignore_errors=True)
    return {
        "n_docs": n_docs,
        "n_matches": n_matches,
        "per_batch_s": batch_s,
        "stream_wall_s": wall,
        "docs_per_s": round(n_docs / max(sum(batch_s), 1e-9), 1),
    }



def _materialize_from_parquet(path: str):
    """``cdc_materialize_state`` over a changelog pre-synthesized to parquet,
    so the timed run measures the merge operator (materialize + typed view),
    not the changelog synthesis."""

    def fn(spark, sf_dir):
        from postgresql_cdc_spark.functions.pg_types import typed_view
        from postgresql_cdc_spark.operators.materialize import materialize
        from postgresql_cdc_spark.sources.changelog import LINEITEM_COLUMNS

        state = materialize(
            spark.read.parquet(path), keys=["l_orderkey", "l_linenumber"],
            merge_sparse=True, columns=list(LINEITEM_COLUMNS),
        )
        return typed_view(state, LINEITEM_COLUMNS, keep=())

    return fn

def main() -> int:
    from postgresql_cdc_spark.plans import QUERIES
    from postgresql_cdc_spark.session import get_spark

    spark = get_spark("scale-soak")
    spark.range(1000).selectExpr("sum(id)").collect()

    # recipe-versioned cache: a stale fixture built by an OLDER _build_sf1
    # would silently measure the wrong data (the salt-period fix was exactly
    # that hazard), so rebuild whenever the builder source changes
    import hashlib
    import inspect

    recipe = hashlib.md5(
        (inspect.getsource(_build_sf1) + f"|{REPLICAS}|{SRC}").encode()
    ).hexdigest()
    stamp = os.path.join(DST, "_recipe_md5")
    have = (
        open(stamp).read().strip() if os.path.isfile(stamp) else ""
    )
    if have != recipe or not all(
        os.path.isdir(os.path.join(DST, f"{t}.parquet"))
        for t in ("documents", "embeddings", "lineitem", "orders")
    ):
        print("building sf1 fixtures ...", file=sys.stderr, flush=True)
        _build_sf1(spark)
        # the synthesized sf1 changelog derives from the sf1 lineitem
        # fixture — a recipe change must invalidate it too or the
        # materialize row measures old data
        import shutil

        stale_clog = os.path.join(
            REPO, ".bench_cache", "soak_clog_sf1.parquet"
        )
        if os.path.isdir(stale_clog):
            shutil.rmtree(stale_clog)
        os.makedirs(DST, exist_ok=True)
        with open(stamp, "w") as f:
            f.write(recipe)

    # cdc_materialize_state: time the merge operator only — changelog
    # synthesis is untimed input prep per scale.
    overrides: dict = {}
    from postgresql_cdc_spark.sources.changelog import (
        synthesize_changelog_lineitem,
    )

    clogs = {}
    for tag, d in (("sf0.1", SRC), ("sf1", DST)):
        clog = os.path.join(REPO, ".bench_cache", f"soak_clog_{tag}.parquet")
        if not os.path.isdir(clog):
            print(f"synthesizing changelog for {tag} ...", file=sys.stderr,
                  flush=True)
            synthesize_changelog_lineitem(spark, d).write.mode(
                "overwrite"
            ).parquet(clog)
        clogs[d] = clog

    rows = {}
    for t in ("documents", "embeddings", "lineitem", "orders"):
        rows[("sf0.1", t)] = spark.read.parquet(
            os.path.join(SRC, f"{t}.parquet")).count()
        rows[("sf1", t)] = spark.read.parquet(
            os.path.join(DST, f"{t}.parquet")).count()

    results: dict = {}
    for name in SOAK_QUERIES:
        results[name] = {}
        for tag, d in (("sf0.1", SRC), ("sf1", DST)):
            if name == "cdc_materialize_state":
                fn = _materialize_from_parquet(clogs[d])
            else:
                fn = QUERIES[name].spark
            times = []
            for p in range(3):  # pass 0 = untimed JIT warm-up
                t0 = time.perf_counter()
                fn(spark, d).write.format("noop").mode("overwrite").save()
                dt = round(time.perf_counter() - t0, 2)
                spark.catalog.clearCache()
                if p > 0:
                    times.append(dt)
                print(f"  {name} @ {tag}: {dt}s"
                      f"{' (warm-up, untimed)' if p == 0 else ''}",
                      file=sys.stderr, flush=True)
            n = rows[(tag, ROWS_TABLE[name])]
            best = min(times)
            results[name][tag] = {
                "runs_s": times,
                "best_s": best,
                "input_rows": n,
                "us_per_row": round(1e6 * best / n, 3),
            }
        r01, r1 = results[name]["sf0.1"], results[name]["sf1"]
        results[name]["time_ratio_10x_data"] = round(
            r1["best_s"] / r01["best_s"], 2
        )

    # streaming ingest soak (round-10 verdict #5): the foreachBatch CDC+LSH
    # admission pipeline, measured per-batch at 1x and 10x — ~flat docs/s
    # across scales is the pass signal (per-wave cost tracks wave size, not
    # accumulated index size).
    stream: dict = {}
    for tag, d in (("sf0.1", SRC), ("sf1", DST)):
        print(f"  streaming ingest soak @ {tag} ...", file=sys.stderr,
              flush=True)
        stream[tag] = _stream_ingest_soak(spark, d)
        print(f"  streaming ingest soak @ {tag}: {stream[tag]}",
              file=sys.stderr, flush=True)
    stream["docs_per_s_ratio_sf1_vs_sf01"] = round(
        stream["sf1"]["docs_per_s"] / stream["sf0.1"]["docs_per_s"], 2
    )
    results["stream_incremental_dedup_ingest"] = stream
    print(json.dumps({"soak": results}, indent=2))
    return 0


if __name__ == "__main__":
    sys.exit(main())
