"""Multimodal plumbing tests: schema contracts, Arrow batch shapes,
determinism of the stubbed decode, strict-mode refusal."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_engineering_nd_datalake_project_4_spark.operators import multimodal


@pytest.fixture(scope="module")
def media(spark):
    rows = [
        (1, "image", b"\x89PNG fake bytes 1", "image/png", 64, 64, None),
        (2, "image", b"\x89PNG fake bytes 2", "image/png", 32, 32, None),
        (3, "video", b"\x00\x00ftyp fake mp4", "video/mp4", 640, 480, 3500),
        (4, "audio", b"RIFF fake wav", "audio/wav", None, None, 2000),
        (5, "image", None, "image/png", None, None, None),
    ]
    return spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA).repartition(2)


def test_image_features_schema_and_shape(media):
    feats = multimodal.image_features(media, dim=64)
    rows = feats.collect()
    assert feats.schema == multimodal.IMAGE_FEATURES_SCHEMA
    assert sorted(r["media_id"] for r in rows) == [1, 2, 5]
    assert all(r["feat_dim"] == 64 and len(r["features"]) == 64 for r in rows)
    assert all(0.0 <= v <= 1.0 for r in rows for v in r["features"])


def test_image_features_deterministic(media):
    a = {r["media_id"]: r["features"] for r in multimodal.image_features(media).collect()}
    b = {r["media_id"]: r["features"] for r in multimodal.image_features(media).collect()}
    assert a == b


def test_null_content_yields_zero_vector(media):
    feats = {r["media_id"]: r["features"] for r in multimodal.image_features(media).collect()}
    assert feats[5] == [0.0] * 64


@pytest.mark.parametrize("kind", ["image", "audio"])
def test_features_of_a_batch_without_that_kind(media, kind):
    """Every Arrow batch here holds only video rows: the producer yields an
    empty frame, whose list-typed ``features`` column must still convert."""
    only_video = media.filter(F.col("kind") == "video")
    produce = {"image": multimodal.image_features, "audio": multimodal.audio_features}[kind]
    assert produce(only_video).collect() == []


def test_video_frame_sampling(media):
    frames = multimodal.sample_video_frames(media, every_ms=1000).collect()
    # 3500ms at 1 frame/s → 3 frames, contiguous indices, 32-byte payloads
    assert [r["frame_idx"] for r in frames] == [0, 1, 2]
    assert all(r["media_id"] == 3 and len(r["frame"]) == 32 for r in frames)


def test_strict_mode_raises(media):
    with pytest.raises(Exception, match="NotImplementedError|real image decode"):
        multimodal.image_features(media, strict=True).collect()


def test_media_stats_jvm_only(media):
    stats = {r["kind"]: r for r in multimodal.media_stats(media).collect()}
    assert stats["image"]["n"] == 3
    assert stats["video"]["total_bytes"] == len(b"\x00\x00ftyp fake mp4")


def _make_ppm(w: int, h: int) -> bytes:
    """P6 RGB gradient image: pixel (y,x) = (y%256, x%256, (x+y)%256)."""
    import numpy as np

    y, x = np.mgrid[0:h, 0:w]
    arr = np.stack([y % 256, x % 256, (x + y) % 256], axis=2).astype("uint8")
    return multimodal.encode_netpbm(arr)


def test_netpbm_decode_roundtrip():
    import numpy as np

    raw = _make_ppm(12, 8)
    arr = multimodal.decode_netpbm(raw)
    assert arr.shape == (8, 12, 3)
    assert arr[3, 5, 0] == 3 and arr[3, 5, 1] == 5 and arr[3, 5, 2] == 8
    assert multimodal.decode_netpbm(multimodal.encode_netpbm(arr)) is not None
    # comments + P5 grayscale
    gray = b"P5\n# a comment\n2 2\n255\n" + bytes([0, 64, 128, 255])
    g = multimodal.decode_netpbm(gray)
    assert g.shape == (2, 2, 1) and g[1, 1, 0] == 255
    # non-netpbm and truncated payloads return None, never raise
    assert multimodal.decode_netpbm(b"\x89PNG...") is None
    assert multimodal.decode_netpbm(b"P6\n4 4\n255\n\x00\x00") is None


def test_netpbm_real_features_strict(spark):
    """netpbm payloads decode FOR REAL: strict=True must succeed and the
    features must equal the numpy-computed luminance grid."""
    import numpy as np

    raw = _make_ppm(16, 16)
    df = spark.createDataFrame(
        [(10, "image", raw, "image/x-portable-pixmap", 16, 16, None)],
        multimodal.MEDIA_SCHEMA,
    )
    feats = multimodal.image_features(df, dim=64, strict=True).collect()
    assert len(feats) == 1 and len(feats[0]["features"]) == 64
    arr = multimodal.decode_netpbm(raw).astype("float64").mean(axis=2)
    # 8x8 grid over a 16x16 image = 2x2 block means
    expect00 = arr[0:2, 0:2].mean() / 255.0
    assert abs(feats[0]["features"][0] - expect00) < 1e-6


def test_resize_images_nearest_neighbor(spark):
    import numpy as np

    raw = _make_ppm(8, 4)
    df = spark.createDataFrame(
        [(11, "image", raw, "image/x-portable-pixmap", 8, 4, None),
         (12, "image", b"\x89PNG fake", "image/png", 5, 5, None)],
        multimodal.MEDIA_SCHEMA,
    )
    out = {r["media_id"]: r for r in multimodal.resize_images(df, 4, 2).collect()}
    resized = multimodal.decode_netpbm(bytes(out[11]["content"]))
    assert resized.shape == (2, 4, 3)
    src = multimodal.decode_netpbm(raw)
    # nearest-neighbor: out[y,x] = src[y*4//2? -> (y*src_h)//dst_h, (x*src_w)//dst_w]
    assert (resized[1, 3] == src[(1 * 4) // 2, (3 * 8) // 4]).all()
    # non-netpbm passes through unchanged in non-strict mode
    assert bytes(out[12]["content"]) == b"\x89PNG fake"


def _make_wav(rate: int = 8000, hz: float = 440.0, secs: float = 0.25) -> bytes:
    """16-bit mono PCM sine wave, hand-assembled RIFF."""
    import numpy as np

    t = np.arange(int(rate * secs)) / rate
    samples = (np.sin(2 * np.pi * hz * t) * 32767 * 0.5).astype("<i2")
    data = samples.tobytes()
    fmt = (
        (1).to_bytes(2, "little") + (1).to_bytes(2, "little")
        + rate.to_bytes(4, "little") + (rate * 2).to_bytes(4, "little")
        + (2).to_bytes(2, "little") + (16).to_bytes(2, "little")
    )
    body = b"WAVE" + b"fmt " + len(fmt).to_bytes(4, "little") + fmt
    body += b"data" + len(data).to_bytes(4, "little") + data
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def test_wav_real_audio_features_strict(spark):
    """PCM WAV decodes FOR REAL: strict=True succeeds; RMS of a half-scale
    sine is ~0.5/sqrt(2); ZCR is ~2*f/rate."""
    raw = _make_wav(rate=8000, hz=440.0)
    df = spark.createDataFrame(
        [(20, "audio", raw, "audio/wav", None, None, 250)], multimodal.MEDIA_SCHEMA
    )
    r = multimodal.audio_features(df, dim=16, strict=True).collect()[0]
    assert r["sample_rate"] == 8000 and r["n_frames"] == 2000
    assert abs(r["rms"] - 0.5 / 2**0.5) < 0.01
    assert abs(r["zero_crossing_rate"] - 2 * 440.0 / 8000) < 0.01
    assert len(r["features"]) == 16 and all(abs(v - r["rms"]) < 0.05 for v in r["features"])


def test_wav_decode_rejects_non_pcm(spark):
    assert multimodal.decode_wav(b"RIFF    WAVEjunk") is None
    assert multimodal.decode_wav(b"ID3\x03mp3-ish") is None
    # compressed audio raises in strict mode, falls back to fake otherwise
    df = spark.createDataFrame(
        [(21, "audio", b"ID3\x03mp3-ish", "audio/mpeg", None, None, 100)],
        multimodal.MEDIA_SCHEMA,
    )
    with pytest.raises(Exception, match="NotImplementedError|RIFF/WAVE"):
        multimodal.audio_features(df, strict=True).collect()
    fallback = multimodal.audio_features(df).collect()[0]
    assert fallback["sample_rate"] == 0 and len(fallback["features"]) == 16


# ---------------------------------------------------------------------------
# perceptual hashing (aHash/dHash) + near-dup pairs
# ---------------------------------------------------------------------------


def _p5(arr):
    return multimodal.encode_netpbm(arr.reshape(arr.shape[0], arr.shape[1], 1))


@pytest.fixture(scope="module")
def planted_media(spark):
    """Real P5 images: a base gradient, a near-duplicate (small noise), a
    brightness-shifted copy, and two unrelated textures."""
    import numpy as np

    # gradient max 10*15+3*15=195, so +40 brightness never saturates (a
    # clipped corner flattens the gradient and breaks dHash invariance)
    base = np.add.outer(np.arange(16) * 10, np.arange(16) * 3).astype("uint8")
    noisy = base.copy()
    noisy[3, 5] = min(255, int(noisy[3, 5]) + 9)  # one-pixel blip
    bright = (base.astype(int) + 40).astype("uint8")
    rng = [(i * 37 + j * 101) % 251 for i in range(16) for j in range(16)]
    tex1 = np.array(rng, dtype="uint8").reshape(16, 16)
    tex2 = np.array(rng[::-1], dtype="uint8").reshape(16, 16)
    rows = [
        (1, "image", _p5(base), "image/x-portable-graymap", 16, 16, None),
        (2, "image", _p5(noisy), "image/x-portable-graymap", 16, 16, None),
        (3, "image", _p5(bright), "image/x-portable-graymap", 16, 16, None),
        (4, "image", _p5(tex1), "image/x-portable-graymap", 16, 16, None),
        (5, "image", _p5(tex2), "image/x-portable-graymap", 16, 16, None),
        (6, "image", None, "image/x-portable-graymap", None, None, None),
    ]
    return spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA).repartition(2)


def test_ahash_planted_duplicates_pair(planted_media):
    hashes = multimodal.image_perceptual_hashes(planted_media)
    by_id = {r["media_id"]: r["phash"] for r in hashes.collect()}
    assert by_id[6] is None  # NULL content -> NULL phash
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in multimodal.image_near_dup_pairs(hashes, max_hamming=8).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] <= 2  # one-pixel blip
    assert (1, 3) in pairs  # aHash is brightness-robust (mean shifts along)
    # unrelated textures never pair with the gradient family
    assert not any(4 in p or 5 in p for p in pairs)


def test_phash_banding_equals_all_pairs(planted_media):
    """The pigeonhole banding join must return EXACTLY the all-pairs
    hamming result (same guarantee as text SimHash)."""
    hashes = multimodal.image_perceptual_hashes(planted_media).collect()
    hv = {r["media_id"]: r["phash"] for r in hashes if r["phash"] is not None}
    want = {
        (a, b): bin((hv[a] ^ hv[b]) & ((1 << 64) - 1)).count("1")
        for a in hv
        for b in hv
        if a < b and bin((hv[a] ^ hv[b]) & ((1 << 64) - 1)).count("1") <= 8
    }
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in multimodal.image_near_dup_pairs(
            multimodal.image_perceptual_hashes(planted_media), max_hamming=8
        ).collect()
    }
    assert got == want


def test_phash_strict_rejects_compressed(media):
    with pytest.raises(Exception, match="NotImplementedError|netpbm"):
        multimodal.image_perceptual_hashes(media, strict=True).collect()


def test_phash_hash_size_validation(planted_media):
    import numpy as np

    with pytest.raises(ValueError, match="fit in 64 bits"):
        multimodal.perceptual_hash_bits(np.zeros((8, 8, 1), dtype="uint8"), hash_size=9)


def test_jpeg_decode_environment_gate():
    """Pins the compressed-codec posture BOTH ways: while the container
    lacks PIL/cv2 the strict-mode stub must keep raising the documented
    NotImplementedError; the moment an environment upgrade provides a
    decoder, this test FAILS loudly — the signal to swap real decode into
    the _decode_image seam and extend q146 to compressed inputs
    (round-7 verdict task 8; environment re-checked round 8: absent)."""
    try:
        import PIL  # noqa: F401

        has_codec = True
    except ImportError:
        has_codec = False
    try:
        import cv2  # noqa: F401

        has_codec = True
    except ImportError:
        pass

    from data_engineering_nd_datalake_project_4_spark.operators.multimodal import _decode_image

    jpeg_magic = b"\xff\xd8\xff\xe0" + b"\x00" * 32
    if not has_codec:
        with pytest.raises(NotImplementedError, match="netpbm"):
            _decode_image(jpeg_magic, strict=True)
    else:
        pytest.fail(
            "PIL/cv2 is now available: implement real JPEG decode behind "
            "_decode_image and extend q146 to compressed inputs"
        )
