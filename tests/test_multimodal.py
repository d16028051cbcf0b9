"""Multimodal binary-column plumbing tests: schema contracts, Arrow batch
shapes, deterministic fake decode, frame fan-out, stubbed resize."""

from __future__ import annotations

import pytest

from nahuatl_data_pipeline_spark.operators.multimodal import (
    FEATURE_SCHEMA,
    FRAME_SCHEMA,
    MEDIA_SCHEMA,
    attach_media_metadata,
    extract_features,
    fake_decode,
    resize_images,
    sample_frames,
)


@pytest.fixture()
def media(spark):
    rows = [
        ("m1", b"\x00\x01" * 600),
        ("m2", b"payload-two"),
        ("m3", None),
    ]
    df = spark.createDataFrame(rows, "media_id string, payload binary")
    return attach_media_metadata(df, modality="image", mime="image/png")


def _shape(dt):
    return [(f.name, f.dataType.simpleString()) for f in dt.fields]


def test_metadata_struct(media):
    assert _shape(media.schema["meta"].dataType) == _shape(
        MEDIA_SCHEMA["meta"].dataType
    )
    rows = {r["media_id"]: r["meta"] for r in media.collect()}
    assert rows["m1"]["modality"] == "image"
    assert rows["m1"]["mime"] == "image/png"
    assert rows["m1"]["sha256"] is not None and len(rows["m1"]["sha256"]) == 64
    assert rows["m3"]["sha256"] is None  # null payload → null hash
    assert rows["m1"]["width"] is None  # unset until a decode stage


def test_extract_features_deterministic(media):
    out = extract_features(media)
    assert out.schema == FEATURE_SCHEMA
    rows = {r["media_id"]: r for r in out.collect()}
    assert rows["m1"]["n_bytes"] == 1200
    assert rows["m1"]["modality"] == "image"
    assert rows["m3"]["feature"] is None
    # deterministic: same payload → same feature, across runs and engines
    expected = list(fake_decode(b"payload-two"))
    assert rows["m2"]["feature"] == expected
    assert len(expected) == 8 and all(0 <= x < 1 for x in expected)


def test_frame_sampling_fanout(media):
    out = sample_frames(media, every_n_bytes=256, frame_bytes=16, max_frames=3)
    assert out.schema == FRAME_SCHEMA
    rows = [r for r in out.collect() if r["media_id"] == "m1"]
    # 1200 bytes / 256 = 5 windows, capped at 3
    assert [r["frame_idx"] for r in sorted(rows, key=lambda r: r["frame_idx"])] == [
        0,
        1,
        2,
    ]
    assert all(len(r["frame"]) <= 16 for r in rows)
    # null payload contributes no frames
    assert not [r for r in out.collect() if r["media_id"] == "m3"]


def test_resize_stub_raises_at_execution(media):
    resized = resize_images(media, 32, 32)  # plan builds fine
    assert resized.schema == MEDIA_SCHEMA
    with pytest.raises(Exception, match="NotImplementedError|no image codec"):
        resized.collect()


def test_resize_with_real_fn(media):
    resized = resize_images(
        media, 4, 2, resize_fn=lambda b, w, h: b[: w * h]
    )
    rows = {r["media_id"]: r for r in resized.collect()}
    assert rows["m2"]["payload"] == b"payload-" and rows["m2"]["meta"]["width"] == 4
    assert rows["m3"]["payload"] is None and rows["m3"]["meta"]["height"] == 2
