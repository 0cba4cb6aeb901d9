"""Multimodal columns: opaque binary payloads + typed metadata.

Pattern for image/audio/video at 100 TB: the media bytes are an opaque
``binary`` column co-located with a typed metadata struct (mime, size,
dimensions); decode / feature-extract / resize / frame-sample run as
Arrow-batched pandas functions over ``mapInPandas``, so the bytes never
leave the executor and flow Python-ward one Arrow batch at a time
(bounded memory, no driver collect).

The container has no image/audio codec libraries, so the REAL decoders
are stubbed behind import-guards (``decode_image``/``decode_audio``
raise ``NotImplementedError`` unless PIL/soundfile are present); the
deterministic byte-level fakes below keep the full Spark-side plumbing —
schema, Arrow batch shape, partitioning — real and testable.

The reference has no media handling; this is a north-star extension
(BASELINE.json) on top of its binary-free schema (SURVEY.md §1.2).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType, FloatType, IntegerType, LongType, StringType,
    StructField, StructType,
)

def media_meta() -> "F.Column":
    """Typed metadata struct carried alongside every payload."""
    return F.struct(
        F.lit("text/plain").alias("mime"),
        F.length(F.col("payload")).alias("n_bytes"),
    )


def as_media(documents: DataFrame) -> DataFrame:
    """documents -> media table: (doc_id, payload binary, meta struct).
    The fixture's text stands in for media bytes; real ingestion would
    read image/audio files with ``spark.read.format('binaryFile')``."""
    return (
        documents
        .withColumn("payload", F.encode(F.col("text"), "UTF-8"))
        .withColumn("meta", media_meta())
        .select("doc_id", "payload", "meta")
    )


# --- real decoders: stubbed (no codec libs in this container) -------------

def decode_image(payload: bytes) -> "object":
    """Decode image bytes -> pixel array. Requires PIL (absent here)."""
    try:
        from PIL import Image  # noqa: F401
        import io
        return Image.open(io.BytesIO(payload))
    except ImportError as e:
        raise NotImplementedError(
            "image decode requires PIL; install pillow on the cluster "
            "image — the mapInPandas plumbing around this stub is real"
        ) from e


def decode_audio(payload: bytes) -> "object":
    """Decode audio bytes -> samples. Requires soundfile (absent here)."""
    try:
        import io
        import soundfile  # noqa: F401
        return soundfile.read(io.BytesIO(payload))
    except ImportError as e:
        raise NotImplementedError(
            "audio decode requires soundfile; install it on the cluster "
            "image — the mapInPandas plumbing around this stub is real"
        ) from e


# --- deterministic byte-level feature extraction (the fake decode) --------

FEATURES_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("n_bytes", LongType()),
    StructField("n_e", LongType()),
    StructField("n_space", LongType()),
])

HIST_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("byte_hist", ArrayType(FloatType())),
])


def _feature_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Per-Arrow-batch scalar features straight off the payload bytes."""
    for pdf in batches:
        payloads = pdf["payload"]
        yield pd.DataFrame({
            "doc_id": pdf["doc_id"],
            "n_bytes": payloads.map(len).astype("int64"),
            "n_e": payloads.map(lambda b: b.count(b"e")).astype("int64"),
            "n_space": payloads.map(lambda b: b.count(b" ")).astype("int64"),
        })


def extract_features(media: DataFrame) -> DataFrame:
    """Byte-level scalar features via ``mapInPandas`` (the decode seam:
    swap ``_feature_batches`` for a real codec on a cluster with libs)."""
    return media.select("doc_id", "payload").mapInPandas(
        _feature_batches, FEATURES_SCHEMA)


def _feature_batches_arrow(batches):
    """The mapInArrow twin of ``_feature_batches``: the batch never
    leaves Arrow — ``pyarrow.compute`` kernels (C++-vectorized) run
    directly on the RecordBatch buffers, skipping the Arrow->pandas->
    Arrow materialization mapInPandas pays twice per batch. Same
    output contract; byte counts via binary_length / count_substring
    on the BinaryArray."""
    import pyarrow as pa
    import pyarrow.compute as pc
    for rb in batches:
        payload = rb.column(rb.schema.get_field_index("payload"))
        yield pa.RecordBatch.from_arrays(
            [rb.column(rb.schema.get_field_index("doc_id")),
             pc.binary_length(payload).cast(pa.int64()),
             pc.count_substring(payload, "e").cast(pa.int64()),
             pc.count_substring(payload, " ").cast(pa.int64())],
            names=["doc_id", "n_bytes", "n_e", "n_space"])


def extract_features_arrow(media: DataFrame) -> DataFrame:
    """Byte-level scalar features via ``mapInArrow`` — zero pandas
    conversion on either side of the Python worker; the lane a 100 TB
    media scan wants when the per-batch work is itself Arrow-kernel
    expressible (real codecs that need numpy/PIL buffers still go
    through the mapInPandas seam next door)."""
    return media.select("doc_id", "payload").mapInArrow(
        _feature_batches_arrow, FEATURES_SCHEMA)


def _hist_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """16-bin byte histogram, L1-normalized — a deterministic stand-in
    for an embedding-style media feature vector."""
    import numpy as np
    for pdf in batches:
        vecs = []
        for b in pdf["payload"]:
            arr = np.frombuffer(b, dtype=np.uint8)
            hist = np.bincount(arr >> 4, minlength=16).astype("float32")
            total = hist.sum()
            vecs.append((hist / total if total else hist).tolist())
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "byte_hist": vecs})


def byte_histogram(media: DataFrame) -> DataFrame:
    """Fixed-width feature vector per payload (``array<float>``), ready
    for the similarity-search operators (cosine top-k / LSH)."""
    return media.select("doc_id", "payload").mapInPandas(
        _hist_batches, HIST_SCHEMA)


# --- frame sampling (video-style) -----------------------------------------

FRAME_BYTES = 16   # fake codec: one "frame" per 16 payload bytes
FRAME_STEP = 4     # sample every 4th frame


def frame_sample(media: DataFrame) -> DataFrame:
    """Deterministic frame sampling: treat each FRAME_BYTES-byte slice as
    one frame, keep every FRAME_STEP-th index. Pure Spark expression
    (sequence + explode) — the sampling PLAN is exactly what a real video
    pipeline uses; only the per-frame decode (a mapInPandas over
    (doc_id, frame_idx, payload-slice)) is stubbed."""
    n_frames = (F.length("payload") / F.lit(FRAME_BYTES)).cast(IntegerType())
    return (
        media
        .withColumn("n_frames", n_frames)
        .where(F.col("n_frames") > 0)
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(FRAME_STEP))
            ).alias("frame_idx"),
        )
    )


# --- perceptual fingerprint (dHash-style, codec-free) ----------------------

DHASH_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("n_bytes", LongType()),
    StructField("dhash", LongType()),
])


def _dhash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """63-bit difference hash over the raw byte stream: split the payload
    into 64 equal byte blocks (width ceil(n/64), trailing blocks may be
    empty = sum 0), bit k = [sum(block k) > sum(block k+1)]. The same
    gradient-sign construction image dHash applies to pixel rows, applied
    pre-decode so it needs no codec — and is therefore exactly
    reproducible by the SQL oracle. Integer end to end."""
    import numpy as np
    for pdf in batches:
        ids, ns, hs = [], [], []
        for i, b in zip(pdf["doc_id"], pdf["payload"]):
            arr = np.frombuffer(b, dtype=np.uint8).astype(np.int64)
            n = int(arr.size)
            w = (n + 63) // 64
            sums = [int(arr[k * w:min((k + 1) * w, n)].sum())
                    for k in range(64)]
            fp = 0
            for k in range(63):
                if sums[k] > sums[k + 1]:
                    fp |= 1 << k
            ids.append(i)
            ns.append(n)
            hs.append(fp)
        yield pd.DataFrame({"doc_id": ids, "n_bytes": ns, "dhash": hs})


def perceptual_dhash(media: DataFrame) -> DataFrame:
    """(doc_id, n_bytes, dhash) via Arrow-batched ``mapInPandas``."""
    return media.select("doc_id", "payload").mapInPandas(
        _dhash_batches, DHASH_SCHEMA)

def dhash_chunk_candidates(h: DataFrame, max_df: int | None = None,
                           ) -> tuple[DataFrame, DataFrame]:
    """Candidate near-dup pairs from the 3x21-bit chunk pigeonhole over
    ``(doc_id, dhash)`` rows: any pair within hamming distance <= 2 of
    the 63-bit dhash agrees on at least one whole 21-bit chunk, so
    candidates come from a chunk-equality equi-join on 8-byte keys.

    ``max_df`` is the skew valve (same discipline as the shingle index's
    sum-df² cap): chunk values shared by more than ``max_df`` documents
    are dropped from the candidate index, so a degenerate corpus — many
    constant-color images hashing to identical chunks — cannot drive the
    self-join to Σ bucket². Returns ``(candidates, dropped)`` where
    ``dropped`` is the audit frame of vetoed heavy buckets
    ``(j, cv, df)``; it is empty when the valve never fires, and a
    value-checked gate against an uncapped oracle proves the cap lost
    no pairs on the real corpus. Dropping a bucket can only lose pairs
    whose SOLE agreeing chunk is boilerplate-heavy; the exact XOR
    verification after never emits a false positive either way."""
    chunks = h.select(
        "doc_id",
        F.posexplode(F.array(*[
            F.shiftrightunsigned(F.col("dhash"), 21 * j)
            .bitwiseAND(F.lit((1 << 21) - 1)) for j in range(3)
        ])).alias("j", "cv"))
    dropped = None
    if max_df is not None:
        df_counts = (chunks.groupBy("j", "cv")
                     .agg(F.count(F.lit(1)).alias("df"))
                     .localCheckpoint(eager=False))  # keep: measured
        dropped = df_counts.where(F.col("df") > max_df)
        chunks = (chunks.join(df_counts.where(F.col("df") <= max_df)
                              .select("j", "cv"), ["j", "cv"]))
    a = chunks.select(F.col("doc_id").alias("a_id"), "j", "cv")
    b = chunks.select(F.col("doc_id").alias("b_id"),
                      F.col("j").alias("jb"), F.col("cv").alias("cvb"))
    cand = (a.join(b, (F.col("j") == F.col("jb"))
                   & (F.col("cv") == F.col("cvb"))
                   & (F.col("a_id") < F.col("b_id")))
            .select("a_id", "b_id").distinct())
    if dropped is None:
        dropped = cand.sparkSession.createDataFrame(
            [], "j int, cv long, df long")
    return cand, dropped
