"""Multimodal columns: image/audio/video as opaque ``binary`` + typed metadata.

Design for a 100 TB training-data lake:

- the payload column is ``BinaryType`` (parquet stores it page-compressed;
  Spark never materializes it except in the projections that need it);
- typed metadata travels beside it in a struct (``media_type``, dimensions,
  codec), so planning-relevant predicates (e.g. ``media_type = 'image/png'``)
  prune without touching bytes;
- per-item processing (decode / feature-extract / resize / frame-sample) runs
  in ``mapInPandas`` — Arrow-batched, one Python worker per input partition,
  no shuffle; batch size is governed by
  ``spark.sql.execution.arrow.maxRecordsPerBatch``.

The container has no image/audio codecs, so the real decoders are STUBS that
raise ``NotImplementedError`` (marked below); the *deterministic fake* decoder
exercises the full plumbing — schema, batching, partition preservation — and
is what the oracle-checked queries run. Swap ``fake_decode_image`` for a real
PIL/ffmpeg call in production; nothing else changes.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# every kernel below runs in a Python worker: each installs the zip-directory
# cache there before Spark's next per-task invalidate_caches()
from postgresql_cdc_spark.session import cache_zip_directories

MEDIA_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media_type", StringType()),
        StructField("payload", BinaryType()),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("content_md5", StringType()),
        StructField("head_byte", IntegerType()),
    ]
)

DECODE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_pixels", LongType()),
        StructField("resize_w", IntegerType()),
        StructField("resize_h", IntegerType()),
    ]
)


def decode_image(payload: bytes) -> "object":
    """REAL image decode — STUB. The container ships no codec libraries
    (PIL/opencv); in production replace with e.g. ``PIL.Image.open``. The
    Spark-side plumbing (schema, batching, UDF signature) is exercised by
    ``fake_decode_image`` instead."""
    raise NotImplementedError("no image codec in this environment; use fake_decode_image")


def fake_decode_image(payload: bytes) -> tuple[int, int]:
    """Deterministic stand-in for decode: derives (width, height) from the
    payload bytes — stable across engines/runs, so oracle-checkable."""
    w = 1 + payload[0] % 64 if payload else 1
    h = 1 + len(payload) % 64
    return w, h


def attach_binary(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Fixture adapter: UTF-8-encode a text column into the binary payload
    column (the fixtures ship no real media; bytes are bytes)."""
    return df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.lit("text/plain").alias("media_type"),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
    )


def binary_features(df: DataFrame) -> DataFrame:
    """Arrow-batched byte-level feature extraction (mapInPandas).

    Per item: byte length, md5 hex digest, first byte. Python here is the
    point — this is the template for any real decoder; everything stays
    batch-columnar until the per-item loop.
    """

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache_zip_directories()
        for pdf in batches:
            payloads = pdf["payload"]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": payloads.map(len).astype("int64"),
                    "content_md5": payloads.map(
                        lambda b: hashlib.md5(bytes(b)).hexdigest()
                    ),
                    "head_byte": payloads.map(
                        lambda b: int(b[0]) if len(b) else -1
                    ).astype("int32"),
                }
            )

    return df.mapInPandas(extract, FEATURE_SCHEMA)


def decode_resize(df: DataFrame, target: tuple[int, int] = (32, 32)) -> DataFrame:
    """Decode (fake) + resize plan: emits source dims and the target dims a
    real resampler would produce. Same mapInPandas shape as a real
    decode-resize stage."""
    tw, th = target

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache_zip_directories()
        for pdf in batches:
            dims = pdf["payload"].map(lambda b: fake_decode_image(bytes(b)))
            w = dims.map(lambda d: d[0]).astype("int32")
            h = dims.map(lambda d: d[1]).astype("int32")
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": w,
                    "height": h,
                    "n_pixels": (w.astype("int64") * h.astype("int64")),
                    "resize_w": pd.Series([tw] * len(pdf), dtype="int32"),
                    "resize_h": pd.Series([th] * len(pdf), dtype="int32"),
                }
            )

    return df.mapInPandas(decode, DECODE_SCHEMA)


ENERGY_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("window_id", IntegerType()),
        StructField("n_window_bytes", IntegerType()),
        StructField("energy", LongType()),
    ]
)


def audio_window_energy(df: DataFrame, window_bytes: int = 64,
                        max_windows: int = 4) -> DataFrame:
    """'Audio' feature extraction: treat the payload as 8-bit PCM samples and
    emit per-window sample-value sums (integer-exact energy proxy) for the
    first ``max_windows`` windows.

    Same Arrow-batched mapInPandas shape a real librosa/ffmpeg feature
    extractor uses — numpy vectorized inside the batch, bytes never shuffled,
    one output row per non-empty window.
    """
    import numpy as np

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache_zip_directories()
        for pdf in batches:
            ids, wins, sizes, energies = [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                samples = np.frombuffer(bytes(payload), dtype=np.uint8)
                for w in range(max_windows):
                    chunk = samples[w * window_bytes:(w + 1) * window_bytes]
                    if len(chunk) == 0:
                        break
                    ids.append(doc_id)
                    wins.append(w)
                    sizes.append(len(chunk))
                    energies.append(int(chunk.sum(dtype=np.int64)))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "window_id": pd.Series(wins, dtype="int32"),
                    "n_window_bytes": pd.Series(sizes, dtype="int32"),
                    "energy": pd.Series(energies, dtype="int64"),
                }
            )

    return df.mapInPandas(extract, ENERGY_SCHEMA)


def frame_sample_offsets(df: DataFrame, frame_size: int = 256,
                         every: int = 10) -> DataFrame:
    """'Video' frame sampling plan over an opaque byte stream: treat the
    payload as fixed-size frames, keep every ``every``-th frame's byte
    offset. Pure built-ins — the byte math needs no Python."""
    n_frames = (F.length("payload") / frame_size).cast("long")
    idx = F.sequence(
        F.lit(0).cast("long"),
        F.greatest(n_frames - 1, F.lit(0).cast("long")),
        F.lit(every).cast("long"),
    )
    return df.select(
        "doc_id",
        n_frames.alias("n_frames"),
        F.when(n_frames > 0, idx).otherwise(
            F.array().cast("array<long>")
        ).alias("sampled_frames"),
        F.when(n_frames > 0, F.transform(idx, lambda i: i * frame_size)).otherwise(
            F.array().cast("array<long>")
        ).alias("byte_offsets"),
    )


PHASH_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("c0", LongType()),
        StructField("c1", LongType()),
        StructField("c2", LongType()),
        StructField("c3", LongType()),
    ]
)


def perceptual_ahash_chunks(df: DataFrame) -> DataFrame:
    """64-bit average-hash (aHash) of the payload head, as 4x16-bit chunks.

    The first 64 payload bytes stand in for the 8x8 grayscale downsample a
    real image pipeline feeds aHash (zero-padded when shorter); bit i is
    [byte_i > floor(mean)] with an INTEGER mean so the threshold is
    engine-exact. Emitting the hash as four 16-bit chunk columns does two
    jobs at once: no signed-64-bit packing edge case, and the chunks ARE
    the pigeonhole blocking keys for Hamming pairing (any two hashes within
    distance 3 agree exactly on at least one chunk).

    numpy-vectorized mapInPandas over the Arrow batch — the same kernel
    shape a real perceptual hasher (pHash DCT, wavelet) drops into; bytes
    never shuffle.
    """
    import numpy as np

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache_zip_directories()
        weights = (np.int64(1) << np.arange(16, dtype=np.int64))
        for pdf in batches:
            n = len(pdf)
            mat = np.zeros((n, 64), dtype=np.int64)
            for r, b in enumerate(pdf["payload"]):
                bb = bytes(b)[:64]
                if bb:
                    mat[r, : len(bb)] = np.frombuffer(bb, np.uint8)
            mean = mat.sum(axis=1) // 64
            bits = mat > mean[:, None]
            out = {"doc_id": pdf["doc_id"].to_numpy()}
            for k in range(4):
                out[f"c{k}"] = (
                    bits[:, k * 16:(k + 1) * 16] @ weights
                ).astype("int64")
            yield pd.DataFrame(out)

    return df.mapInPandas(kernel, PHASH_SCHEMA)


def phash_dup_pairs(
    hashes: DataFrame, max_distance: int = 3, max_bucket: int = 200
) -> DataFrame:
    """(id_a, id_b, hamming) for every pair of aHashes within
    ``max_distance``, via pigeonhole chunk blocking.

    With 4 chunks, distance <= 3 forces at least one identical chunk, so
    candidates come from 4 equi-joins on (chunk_index, chunk_value) — the
    same guarantee simhash pairing uses — and the exact popcount filter
    makes the RESULT independent of the blocking path. Chunks seen in more
    than ``max_bucket`` docs are dropped from blocking (boilerplate heads);
    the caller's oracle must mirror the cap. Persist contract as usual:
    caller clears the cache after materializing.
    """
    h = hashes.persist()
    posting = h.select(
        "doc_id",
        F.explode(
            F.array(*[
                F.struct(F.lit(k).alias("k"), F.col(f"c{k}").alias("v"))
                for k in range(4)
            ])
        ).alias("p"),
    ).select("doc_id", "p.k", "p.v")
    hot = (
        posting.groupBy("k", "v").count()
        .where(F.col("count") > max_bucket)
        .select("k", "v")
    )
    posting = posting.join(F.broadcast(hot), ["k", "v"], "left_anti")
    pa, pb = posting.alias("pa"), posting.alias("pb")
    cand = (
        pa.join(pb, ["k", "v"])
        .where(F.col("pa.doc_id") < F.col("pb.doc_id"))
        .select(
            F.col("pa.doc_id").alias("id_a"),
            F.col("pb.doc_id").alias("id_b"),
        )
        .distinct()
    )
    ha = h.select(*[F.col(c).alias(f"{c}_a") for c in h.columns])
    hb = h.select(*[F.col(c).alias(f"{c}_b") for c in h.columns])
    ham = sum(
        F.bit_count(F.col(f"c{k}_a").bitwiseXOR(F.col(f"c{k}_b")))
        for k in range(4)
    )
    return (
        cand.join(ha, cand.id_a == F.col("doc_id_a"))
        .join(hb, cand.id_b == F.col("doc_id_b"))
        .select("id_a", "id_b", ham.cast("int").alias("hamming"))
        .where(F.col("hamming") <= max_distance)
    )


CDC_CHUNK_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("chunk_h60", LongType()),
        StructField("chunk_len", LongType()),
    ]
)


def content_defined_chunks(
    df: DataFrame, window: int = 8, mod: int = 32
) -> DataFrame:
    """Content-defined chunking (the rsync/borg/restic storage-dedup
    primitive): split each binary payload at positions where a rolling
    window statistic hits a target value, so chunk boundaries depend only
    on LOCAL content — an insertion near the head shifts every byte, yet
    all boundaries after the edit re-align and the downstream chunks hash
    identically, which fixed-size chunking structurally cannot do.

    Boundary rule (deterministic, oracle-replicable): after prefix length
    ``p`` (window <= p < n) iff ``sum(b[p-W+j] * j, j=1..W) % mod == 0`` —
    a weighted window sum standing in for a Rabin polynomial (same
    locality property; a production system swaps in gear/Rabin hashing in
    this same kernel). Expected chunk length = ``mod`` bytes.

    Emits one (doc_id, chunk_h60, chunk_len) row per chunk — the chunk
    store's index keys. numpy-vectorized mapInPandas over the Arrow batch
    (sliding-window matmul per payload); bytes never shuffle, only the
    skinny hash rows do.
    """
    import hashlib

    import numpy as np

    W, M = window, mod

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache_zip_directories()
        weights = np.arange(1, W + 1, dtype=np.int64)
        for pdf in batches:
            out_doc: list[int] = []
            out_h: list[int] = []
            out_len: list[int] = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                raw = bytes(payload)
                n = len(raw)
                if n == 0:
                    continue
                if n >= W:
                    b = np.frombuffer(raw, np.uint8).astype(np.int64)
                    sw = np.lib.stride_tricks.sliding_window_view(b, W)
                    conv = sw @ weights  # conv[k] = sum b[k+j-1]*j
                    ends = np.nonzero(conv % M == 0)[0] + W
                    cuts = [0] + [int(e) for e in ends if e < n] + [n]
                else:
                    cuts = [0, n]
                for a, c in zip(cuts, cuts[1:]):
                    chunk = raw[a:c]
                    out_doc.append(int(doc_id))
                    out_h.append(
                        int(hashlib.md5(chunk).hexdigest()[:15], 16)
                    )
                    out_len.append(c - a)
            yield pd.DataFrame(
                {
                    "doc_id": pd.array(out_doc, dtype="int64"),
                    "chunk_h60": pd.array(out_h, dtype="int64"),
                    "chunk_len": pd.array(out_len, dtype="int64"),
                }
            )

    return df.mapInPandas(kernel, CDC_CHUNK_SCHEMA)


SCENE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_full_frames", LongType()),
        StructField("n_cuts", LongType()),
        StructField("cut_frames", StringType()),
    ]
)


def scene_cut_detect(
    df: DataFrame, frame_bytes: int = 64, threshold: int = 1600
) -> DataFrame:
    """'Video' scene-cut detection over an opaque byte stream: treat the
    payload as fixed-size frames, score each full frame by its byte sum
    (the same energy proxy as ``audio_window_energy``), and mark frame i
    as a cut when ``|sum_i - sum_{i-1}| > threshold`` — the
    adjacent-frame-difference detector every shot-segmentation pipeline
    starts from (a real system swaps histogram/SSIM distance into this
    same kernel; the trailing partial frame is excluded so every score
    compares equal-sized frames).

    Emits one row per document: full-frame count, cut count, and the cut
    frame indices as a comma-joined string (deterministic, ascending).
    numpy-vectorized mapInPandas over the Arrow batch — a reshape and one
    diff per payload; bytes never shuffle, only the per-doc summary rows.
    """
    import numpy as np

    FB, T = frame_bytes, threshold

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache_zip_directories()
        for pdf in batches:
            ids, nfr, ncut, cuts = [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                raw = bytes(payload)
                k = len(raw) // FB
                ids.append(doc_id)
                nfr.append(k)
                if k < 2:
                    ncut.append(0)
                    cuts.append("")
                    continue
                frames = np.frombuffer(raw[: k * FB], np.uint8).reshape(
                    k, FB
                )
                sums = frames.sum(axis=1, dtype=np.int64)
                hit = np.flatnonzero(np.abs(np.diff(sums)) > T) + 1
                ncut.append(int(hit.size))
                cuts.append(",".join(str(int(i)) for i in hit))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "n_full_frames": pd.Series(nfr, dtype="int64"),
                    "n_cuts": pd.Series(ncut, dtype="int64"),
                    "cut_frames": pd.Series(cuts, dtype="object"),
                }
            )

    return df.mapInPandas(kernel, SCENE_SCHEMA)


BYTE_DIVERSITY_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("n_distinct_bytes", LongType()),
        StructField("top_byte_permille", LongType()),
        StructField("diversity_class", StringType()),
    ]
)


def byte_diversity_profile(df: DataFrame) -> DataFrame:
    """Byte-diversity profile of each binary payload: distinct byte count,
    the most frequent byte's per-mille share, and a diversity class
    (low <= 16 distinct, mid <= 64, high above) — the integer-exact stand-in
    for byte entropy that storage pipelines use to route payloads
    (low-diversity -> compress hard; high-diversity -> likely already
    compressed/encrypted, store as-is). One np.bincount per payload inside
    Arrow-batched mapInPandas; empty payloads report zeros and class 'low'.
    """
    import numpy as np

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache_zip_directories()
        for pdf in batches:
            ids, nb, nd, tp, cls = [], [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                raw = np.frombuffer(bytes(payload), np.uint8)
                ids.append(doc_id)
                nb.append(len(raw))
                if len(raw) == 0:
                    nd.append(0)
                    tp.append(0)
                    cls.append("low")
                    continue
                counts = np.bincount(raw, minlength=256)
                distinct = int((counts > 0).sum())
                nd.append(distinct)
                tp.append(int(1000 * counts.max()) // len(raw))
                cls.append(
                    "low" if distinct <= 16
                    else "mid" if distinct <= 64 else "high"
                )
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "n_bytes": pd.Series(nb, dtype="int64"),
                    "n_distinct_bytes": pd.Series(nd, dtype="int64"),
                    "top_byte_permille": pd.Series(tp, dtype="int64"),
                    "diversity_class": pd.Series(cls, dtype="object"),
                }
            )

    return df.mapInPandas(kernel, BYTE_DIVERSITY_SCHEMA)
