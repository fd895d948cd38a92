"""Multimodal plumbing: binary columns, mapInPandas batch shape."""

from __future__ import annotations

import pytest

from ecommerce_event_pipeline_spark.functions import multimodal


@pytest.fixture(scope="module")
def media(spark):
    return multimodal.synthetic_media(spark, n=30).cache()


def test_synthetic_media_shape(spark, media):
    rows = media.collect()
    assert len(rows) == 30
    for r in rows[:5]:
        assert r["kind"] in ("image", "audio", "video")
        assert len(r["payload"]) == 128
    # deterministic across invocations
    again = multimodal.synthetic_media(spark, n=30).collect()
    assert sorted(map(str, rows)) == sorted(map(str, again))


def test_extract_features_via_map_in_pandas(spark, media):
    feats = {r["media_id"]: r for r in multimodal.extract_features(media).collect()}
    assert len(feats) == 30
    for r in feats.values():
        assert r["payload_bytes"] == 128
        assert 0.0 <= r["byte_mean"] <= 255.0
        assert r["byte_std"] > 0.0
    # deterministic content hash
    again = {r["media_id"]: r["content_hash"]
             for r in multimodal.extract_features(media).collect()}
    assert all(feats[k]["content_hash"] == again[k] for k in feats)


def test_sample_frames_expands_videos(spark, media):
    frames = multimodal.sample_frames(media, every_ms=1000).collect()
    video_count = media.where("kind = 'video'").count()
    assert len(frames) >= video_count  # ≥1 frame per video
    by_media = {}
    for f in frames:
        by_media.setdefault(f["media_id"], []).append(f)
    for fs in by_media.values():
        idxs = sorted(f["frame_index"] for f in fs)
        assert idxs == list(range(len(idxs)))  # dense frame indexes


def test_resize_payload_is_deterministic_nearest_neighbor(spark):
    from ecommerce_event_pipeline_spark.functions.multimodal import (
        resize_payload,
        synthetic_media,
    )

    media = synthetic_media(spark, 30)
    out = {r["media_id"]: r for r in resize_payload(media, 32).collect()}
    imgs = {r["media_id"]: r for r in media.where("kind = 'image'").collect()}
    assert set(out) == set(imgs)
    for mid, row in out.items():
        payload = bytes(imgs[mid]["payload"])
        expected = [payload[(i * 127) // 31] for i in range(32)]
        assert row["resized"] == expected
        assert row["orig_bytes"] == 128
        assert row["resized_sum"] == sum(expected)
