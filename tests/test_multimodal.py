from __future__ import annotations

import pytest

from nexus_processor_spark.sources import multimodal


@pytest.fixture()
def media(spark):
    rows = [
        (1, "image", "png", bytearray(b"payload-one"), 8, 8, None),
        (2, "image", "png", bytearray(b"payload-two"), 8, 8, None),
        (3, "image", "png", None, None, None, None),
        (4, "video", "mp4", bytearray(b"vid"), 640, 480, 3500),
    ]
    return spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)


def test_fake_decode_features_deterministic(spark, media):
    out1 = {r.media_id: r for r in
            multimodal.extract_image_features(media, fake_decode=True).collect()}
    out2 = {r.media_id: r for r in
            multimodal.extract_image_features(media, fake_decode=True).collect()}
    assert out1[1].embedding == out2[1].embedding  # deterministic
    assert out1[1].sha256 != out1[2].sha256
    assert len(out1[1].embedding) == 16
    assert out1[3].sha256 is None  # null payload propagates
    assert 0.0 <= out1[1].mean_luma <= 255.0


def test_real_decode_is_gated(spark, media):
    """With codec libs absent the real path fails with a clear ImportError
    naming the library; with them present it decodes (skip — not this
    container's path)."""
    try:
        import PIL  # noqa: F401
        pytest.skip("Pillow present: real decode path active")
    except ImportError:
        pass
    with pytest.raises(Exception, match="Pillow"):
        multimodal.extract_image_features(
            media.filter("media_id = 1"), fake_decode=False
        ).collect()


def test_real_audio_decode_is_gated(spark, media):
    try:
        import soundfile  # noqa: F401
        pytest.skip("soundfile present: real decode path active")
    except ImportError:
        pass
    with pytest.raises(Exception, match="soundfile"):
        multimodal.extract_audio_features(
            media.filter("media_id = 1"), fake_decode=False
        ).collect()


def test_audio_features_fake_decode(spark, media):
    out = {r.media_id: r for r in
           multimodal.extract_audio_features(
               media.filter("media_id <= 2"), fake_decode=True).collect()}
    assert out[1].n_samples == 8000
    assert 0 < out[1].rms < out[1].peak
    assert out[1].zero_crossings > 0
    # deterministic per payload, distinct across payloads
    again = {r.media_id: r.rms for r in
             multimodal.extract_audio_features(
                 media.filter("media_id <= 2"), fake_decode=True).collect()}
    assert again[1] == out[1].rms and again[2] != again[1]


def test_frame_sampling_grid(spark, media):
    rows = multimodal.sample_frames(media, every_ms=1000).collect()
    assert [(r.media_id, r.frame_ts_ms) for r in rows] == [
        (4, 0), (4, 1000), (4, 2000), (4, 3000)
    ]


def test_dhash_deterministic_and_null_safe(spark, media):
    a = {r.media_id: r.dhash
         for r in multimodal.image_dhash(media, fake_decode=True).collect()}
    b = {r.media_id: r.dhash
         for r in multimodal.image_dhash(media, fake_decode=True).collect()}
    assert a == b
    assert a[3] is None           # null payload -> null hash
    assert a[1] != a[2]           # different payloads -> different hashes
    assert all(v is None or -(2**63) <= v < 2**63 for v in a.values())


def test_dhash_matches_reference_formula():
    import numpy as np

    # a gradient image: every horizontal step increases -> all 64 bits
    # set -> -1 in two's complement
    img = np.tile(np.arange(9, dtype=np.float64) * 10, (8, 1))
    assert multimodal._dhash(img) == -1
    # flat image -> no bits
    assert multimodal._dhash(np.zeros((8, 9))) == 0
    # odd sizes go through the block-average path without bias at edges
    img2 = np.tile(np.arange(17, dtype=np.float64), (13, 1))
    assert multimodal._dhash(img2) == -1


def test_dhash_digest_batch_matches_per_row():
    import numpy as np

    payloads = [b"", b"a", b"same-bytes", None, b"x" * 1000,
                bytes(range(256)), b"\x00", None]
    got = multimodal._dhash_digest_batch(payloads)
    want = [None if p is None else
            multimodal._dhash(
                multimodal._decode_image_digest(p).astype(np.float64))
            for p in payloads]
    assert got == want


def test_image_near_dup_pairs_banded(spark):
    # duplicate payloads collide exactly; distinct ones stay apart
    rows = [
        (1, "image", "png", bytearray(b"same-bytes"), 8, 8, None),
        (2, "image", "png", bytearray(b"same-bytes"), 8, 8, None),
        (3, "image", "png", bytearray(b"other-bytes"), 8, 8, None),
    ]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    pairs = multimodal.image_near_dup_pairs(
        media, hamming_max=0, fake_decode=True
    ).collect()
    assert [(r.media_a, r.media_b, r.hamming) for r in pairs] == [(1, 2, 0)]

    # the candidate stage must stay an equi join (no cross join)
    from nexus_processor_spark.plans import explain

    plan = explain.executed_plan(
        multimodal.image_near_dup_pairs(media, fake_decode=True))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_extract_frame_features_digest_matches_reference(spark, media):
    """The full frame pipeline (grid explode -> payload join -> Arrow
    seek-decode kernel) against a driver-side recompute of the digest
    contract: frame f's pixel t is (sha256(payload)[t % 32] + f) % 256."""
    import hashlib

    import numpy as np

    got = sorted(
        (r.media_id, r.frame_ts_ms, r.n_px, r.sum_luma)
        for r in multimodal.extract_frame_features(
            media, every_ms=1000,
            decoder=multimodal._decode_frame_digest).collect()
    )
    d = np.frombuffer(hashlib.sha256(b"vid").digest(), dtype=np.uint8)
    want = [
        (4, f * 1000, 64,
         int(((np.tile(d, 2).astype(np.int64) + f) % 256).sum()))
        for f in range(4)  # duration 3500 ms, 1000 ms grid
    ]
    assert got == want


def test_extract_frame_features_null_payload_and_zero_duration(spark):
    rows = [
        (7, "video", "mp4", None, None, None, 2500),
        (8, "video", "mp4", bytearray(b"x"), None, None, 0),
    ]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    got = multimodal.extract_frame_features(
        media, every_ms=1000,
        decoder=multimodal._decode_frame_digest).collect()
    # null payload: grid rows pass through with null features;
    # zero duration: no frame lands strictly before 0 ms
    assert sorted((r.media_id, r.frame_ts_ms, r.n_px, r.sum_luma)
                  for r in got) == [
        (7, 0, None, None), (7, 1000, None, None), (7, 2000, None, None),
    ]


def test_real_frame_decode_is_gated(spark, media):
    with pytest.raises(Exception, match="PyAV|av"):
        multimodal.extract_frame_features(media, every_ms=1000).collect()
