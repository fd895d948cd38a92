"""Media near-duplicate detection over binary payloads (T147).

Round-11 expansion of the multimodal family (multimodal_features /
multimodal_frames / multimodal_resize in registry.py): perceptual-hash
near-dup pairs with pigeonhole LSH blocking — the media twin of the
SimHash text pipeline (functions/dedup.py simhash_dupes). The payload →
fingerprint kernel runs in Arrow-batched ``mapInPandas`` (the real
decode/DCT kernel is codec-gated; the byte-threshold stand-in keeps
every bit oracle-replayable), and the pairing is pure DataFrame ops:
block explode → self-join → exact Hamming verify.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.windows import sort_result
from ..registry_core import register

_MEDIA_N = 500  # same synthetic catalog size as multimodal_features

_PHASH_DUPES_ORACLE = f"""
WITH ids AS (SELECT range AS media_id FROM range({_MEDIA_N})),
hx AS (
  SELECT media_id,
         sha256(media_id::VARCHAR || '#0') || sha256(media_id::VARCHAR || '#1') ||
         sha256(media_id::VARCHAR || '#2') || sha256(media_id::VARCHAR || '#3') AS h
  FROM ids),
orig AS (
  SELECT media_id,
         list_transform(range(64),
                        i -> CAST(('0x' || substr(h, 2 * i + 1, 2)) AS INT))
           AS bytes
  FROM hx),
both_rows AS (
  SELECT media_id, bytes FROM orig
  UNION ALL
  SELECT media_id + {_MEDIA_N} AS media_id,
         list_transform(range(64),
                        i -> CASE WHEN i = 0 THEN (bytes[1] + 16) % 256
                                  ELSE bytes[i + 1] END) AS bytes
  FROM orig),
bits AS (
  SELECT media_id,
         list_transform(bytes,
                        b -> CASE WHEN b * 64 > list_aggregate(bytes, 'sum')
                                  THEN 1 ELSE 0 END) AS bit
  FROM both_rows),
ph AS (
  SELECT media_id,
         CAST(CASE WHEN hv >= 9223372036854775808
                   THEN hv - 18446744073709551616 ELSE hv END AS BIGINT)
           AS phash,
         blocks
  FROM (
    SELECT media_id,
           list_reduce(list_prepend(CAST(0 AS HUGEINT), bit),
                       (a, b) -> a * 2 + b) AS hv,
           list_transform(range(8),
                          j -> list_reduce(
                                 list_prepend(0, bit[8*j+1:8*j+8]),
                                 (a, b) -> a * 2 + b)) AS blocks
    FROM bits)),
expl AS (
  SELECT media_id, phash, r.range AS blk, blocks[r.range + 1] AS bv
  FROM ph, range(8) r),
cand AS (
  SELECT DISTINCT a.media_id AS media_id_1, a.phash AS p1,
                  b.media_id AS media_id_2, b.phash AS p2
  FROM expl a JOIN expl b
    ON a.blk = b.blk AND a.bv = b.bv AND a.media_id < b.media_id)
SELECT media_id_1, media_id_2,
       CAST(bit_count(xor(p1, p2)) AS INT) AS hamming,
       CASE WHEN media_id_2 - media_id_1 = {_MEDIA_N}
            THEN 1 ELSE 0 END AS planted
FROM cand
WHERE bit_count(xor(p1, p2)) <= 6
ORDER BY media_id_1, media_id_2
"""


@register("media_phash_dupes", _PHASH_DUPES_ORACLE)
def media_phash_dupes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T147: perceptual-hash near-duplicate media pairs — the
    image/audio twin of SimHash text dedup. Each payload gets a 64-bit
    mean-threshold fingerprint (Arrow-batched mapInPandas, 1→2 emit
    planting a re-encoded copy per row so the detector has real work);
    candidate pairs come from pigeonhole blocking on the hash's 8
    one-byte blocks (Hamming ≤ 7 ⇒ some block equal — never an
    all-pairs join), then exact Hamming ≤ 6 verification via
    bit_count(xor). Every bit is replayed by the oracle from sha256
    hex, so the pair set is value-hash checked end to end. Scale
    shape: the self-join is bucketed by (block, value) — 8·|media|
    rows, ≤256-way fan-in per block value at uniform hashes; verify
    is O(candidates)."""
    from ..functions.multimodal import perceptual_hashes, synthetic_media

    ph = perceptual_hashes(synthetic_media(spark, _MEDIA_N), _MEDIA_N)
    expl = ph.select(
        "media_id", "phash", F.posexplode("blocks").alias("blk", "bv")
    )
    a = expl.select(
        F.col("media_id").alias("media_id_1"),
        F.col("phash").alias("p1"),
        "blk",
        "bv",
    )
    b = expl.select(
        F.col("media_id").alias("media_id_2"),
        F.col("phash").alias("p2"),
        "blk",
        "bv",
    )
    cand = (
        a.join(b, ["blk", "bv"])
        .where(F.col("media_id_1") < F.col("media_id_2"))
        .select("media_id_1", "p1", "media_id_2", "p2")
        .distinct()
    )
    hamming = F.bit_count(F.col("p1").bitwiseXOR(F.col("p2")))
    return (
        cand.where(hamming <= 6)
        .select(
            "media_id_1",
            "media_id_2",
            hamming.cast("int").alias("hamming"),
            F.when(
                F.col("media_id_2") - F.col("media_id_1") == _MEDIA_N, 1
            )
            .otherwise(0)
            .alias("planted"),
        )
        .transform(sort_result, "media_id_1", "media_id_2")
    )
