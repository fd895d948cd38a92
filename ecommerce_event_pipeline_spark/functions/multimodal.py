"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

The Spark-side plumbing is real and tested — schema, partitioning, Arrow
batch shape, ``mapInPandas`` signatures; no codec layer (PIL/ffmpeg/
torchaudio) is used, so every byte kernel here is a deterministic
stand-in over the raw payload bytes.

Design points for 100 TB of media:
- media rows are (id, kind, metadata struct, payload binary) — metadata is
  columnar and prunable, payloads only reach Python when a UDF needs the
  bytes (select narrow first!);
- all byte-touching operators are ``mapInPandas`` — Arrow moves the binary
  batches zero-copy; batch size is controlled by
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` so a partition of large
  payloads doesn't materialize at once;
- frame sampling / resize emit MORE rows per input row — ``mapInPandas``
  (iterator of DataFrames in/out) handles 1→N naturally, no explode of a
  Python list needed.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

FEATURE_SCHEMA = (
    "media_id long, kind string, payload_bytes long, byte_mean double, "
    "byte_std double, content_hash long"
)

FRAME_SCHEMA = "media_id long, frame_index int, frame_offset_ms int, frame_hash long"


def synthetic_media(spark: SparkSession, n: int = 64) -> DataFrame:
    """Deterministic fake media table: payload bytes derived from sha2 of
    the id (stable across runs/executors), metadata filled per kind.
    Entirely JVM-side generation — no Python loop."""
    base = spark.range(n).withColumn(
        "kind",
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("id") % 3 + 1).cast("int"),
        ),
    )
    payload = F.unhex(
        F.concat(*[F.sha2(F.concat(F.col("id").cast("string"), F.lit(f"#{i}")), 256)
                   for i in range(4)])
    )  # 128 deterministic bytes
    meta = F.struct(
        F.when(F.col("kind") == "image", (F.col("id") % 64 + 32).cast("int")).alias("width"),
        F.when(F.col("kind") == "image", (F.col("id") % 48 + 24).cast("int")).alias("height"),
        F.when(F.col("kind") == "audio", F.lit(16000)).cast("int").alias("sample_rate"),
        F.when(F.col("kind") != "image", (F.col("id") % 9000 + 1000).cast("int")).alias("duration_ms"),
        F.concat(F.lit("fake-"), F.col("kind")).alias("codec"),
    )
    return base.select(
        F.col("id").alias("media_id"), "kind", meta.alias("metadata"), payload.alias("payload")
    )


def extract_features(media: DataFrame) -> DataFrame:
    """Byte-level feature extraction over Arrow batches (mapInPandas).

    Stands in for a real embedding/feature model; the batch shape, numpy
    work, and output contract are exactly what a model UDF uses.
    """

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import math

        def stats(a: np.ndarray) -> tuple[float, float]:
            # mean/std via EXACT integer sums then one float op each —
            # byte sums fit in int64 exactly, so an external SQL engine
            # (the DuckDB oracle) reproduces the same IEEE doubles
            # bit-for-bit, which a streaming/pairwise float std would not
            n = a.size
            if n == 0:  # empty payload → degenerate-but-typed row
                return 0.0, 0.0
            s = int(a.sum(dtype=np.int64))
            sq = int((a.astype(np.int64) ** 2).sum())
            mean = s / n
            var = sq / n - mean * mean
            return mean, math.sqrt(var if var > 0 else 0.0)

        for pdf in batches:
            arrs = [np.frombuffer(p, dtype=np.uint8) for p in pdf["payload"]]
            st = [stats(a) for a in arrs]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "payload_bytes": [a.size for a in arrs],
                    "byte_mean": [m for m, _ in st],
                    "byte_std": [sd for _, sd in st],
                    "content_hash": [
                        int.from_bytes(a[:8].tobytes(), "little", signed=True)
                        for a in arrs
                    ],
                }
            )

    return media.select("media_id", "kind", "payload").mapInPandas(
        op, schema=FEATURE_SCHEMA
    )


def sample_frames(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Frame sampling: 1 video row → N frame rows (deterministic fake
    frames: hash of payload + offset). Demonstrates the 1→N mapInPandas
    expansion a real ffmpeg sampler uses."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, dur, payload in zip(
                pdf["media_id"], pdf["duration_ms"], pdf["payload"]
            ):
                arr = np.frombuffer(payload, dtype=np.uint8)
                n_frames = max(int(dur) // every_ms, 1)
                for i in range(n_frames):
                    off = i * every_ms
                    h = int(arr[(off // 7) % arr.size]) * 1_000_003 + off
                    rows.append((mid, i, off, h))
            yield pd.DataFrame(
                rows, columns=["media_id", "frame_index", "frame_offset_ms", "frame_hash"]
            )

    videos = media.where(F.col("kind") == "video").select(
        "media_id", F.col("metadata.duration_ms").alias("duration_ms"), "payload"
    )
    return videos.mapInPandas(op, schema=FRAME_SCHEMA)


RESIZE_SCHEMA = "media_id long, orig_bytes int, resized array<int>, resized_sum long"


def resize_payload(media: DataFrame, target_bytes: int = 32) -> DataFrame:
    """Nearest-neighbor byte resampling of image payloads to a fixed size —
    the codec-free stand-in for an image resize (identical Arrow batch
    shape, numpy indexing, and typed output contract as a real
    PIL/torchvision resize UDF; only the kernel differs).

    Index selection is integer floor arithmetic (``i·(n−1) div (t−1)``) so
    the resample is bit-deterministic and reproducible by the DuckDB
    oracle from the sha-derived payload hex — no float rounding anywhere.
    """

    if target_bytes < 1:
        raise ValueError(f"target_bytes must be >= 1, got {target_bytes}")

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        denom = max(target_bytes - 1, 1)
        for pdf in batches:
            ids, origs, outs, sums = [], [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                arr = np.frombuffer(payload, dtype=np.uint8)
                n = arr.size
                if n == 0:  # empty payload → empty resample, not a crash
                    ids.append(mid); origs.append(0); outs.append([]); sums.append(0)
                    continue
                idx = [(i * (n - 1)) // denom for i in range(target_bytes)]
                resized = arr[idx].astype(int).tolist()
                ids.append(mid)
                origs.append(n)
                outs.append(resized)
                sums.append(int(sum(resized)))
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "orig_bytes": origs,
                    "resized": outs,
                    "resized_sum": sums,
                }
            )

    images = media.where(F.col("kind") == "image").select("media_id", "payload")
    return images.mapInPandas(op, schema=RESIZE_SCHEMA)


PHASH_SCHEMA = "media_id long, phash long, blocks array<int>"


def perceptual_hashes(media: DataFrame, n_planted: int) -> DataFrame:
    """aHash-style 64-bit perceptual fingerprint per media row, plus a
    planted "re-encoded copy" per row (1→2 Arrow expansion).

    bit_i = 1 iff byte_i·64 > Σbytes over the first 64 payload bytes —
    an INTEGER threshold compare (no float mean), so an external SQL
    engine replays every bit. The copy (media_id + n_planted) bumps
    byte 0 by +16 mod 256: the same tiny payload perturbation a
    re-encode makes, moving only the handful of bits whose byte sits
    within the shifted threshold — a near-dup by construction. A real
    deployment swaps the byte-threshold kernel for DCT-low-frequency
    pHash over decoded pixels (no codec here, see module docstring); the
    Spark-side shape — narrow select, Arrow batches, 1→N emit, typed
    contract — is identical. Also emits the hash's 8 one-byte blocks
    for pigeonhole LSH blocking (Hamming ≤ 7 ⇒ at least one of 8
    blocks equal)."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def one(a64: np.ndarray) -> tuple[int, list[int]]:
            s = int(a64.sum(dtype=np.int64))
            bits = (a64.astype(np.int64) * 64 > s).astype(np.uint8)
            packed = np.packbits(bits)  # 8 bytes, MSB-first per byte
            v = int.from_bytes(packed.tobytes(), "big", signed=False)
            if v >= 1 << 63:
                v -= 1 << 64
            return v, [int(x) for x in packed]

        for pdf in batches:
            ids, hashes, blocks = [], [], []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                a = np.frombuffer(p, dtype=np.uint8)[:64].copy()
                h, bl = one(a)
                ids.append(int(mid))
                hashes.append(h)
                blocks.append(bl)
                a[0] = (int(a[0]) + 16) % 256  # the re-encoded copy
                h2, bl2 = one(a)
                ids.append(int(mid) + n_planted)
                hashes.append(h2)
                blocks.append(bl2)
            yield pd.DataFrame(
                {"media_id": ids, "phash": hashes, "blocks": blocks}
            )

    return media.select("media_id", "payload").mapInPandas(
        op, schema=PHASH_SCHEMA
    )
