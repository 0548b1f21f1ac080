"""Multimodal: real ppm/wav codecs, perceptual hashing, stub boundaries."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from cargo_dupes_spark.operators.multimodal import (
    FEATURE_SCHEMA,
    NEAR_MEDIA_OFFSET,
    _audio_features,
    _image_features,
    _wav_from_samples,
    decode_ppm,
    decode_wav,
    encode_ppm,
    exact_media_dupes,
    extract_features,
    media_features,
    near_media_dupes,
    swap_extreme_blocks,
    synthetic_media,
    synthetic_media_near,
    synthetic_wav,
)


def test_ppm_roundtrip():
    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, size=(24, 32, 3), dtype=np.uint8)
    assert np.array_equal(decode_ppm(encode_ppm(img)), img)
    with pytest.raises(ValueError, match="P6"):
        decode_ppm(b"JFIF....")


def test_ppm_foreign_headers():
    """Spec-valid foreign P6 variants decode identically; broken ones raise
    (never a silently wrong image -> wrong phash)."""
    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(4, 5, 3), dtype=np.uint8)
    pixels = img.tobytes()
    # '#' comment lines anywhere whitespace can appear in the header
    with_comment = b"P6\n# written by foreign-tool 1.2\n5 4\n# cmt\n255\n" + pixels
    assert np.array_equal(decode_ppm(with_comment), img)
    # CRLF after maxval (the one foreign-writer whitespace variant)
    with_crlf = b"P6\n5 4\n255\r\n" + pixels
    assert np.array_equal(decode_ppm(with_crlf), img)
    with pytest.raises(ValueError, match="truncated PPM pixel"):
        decode_ppm(b"P6\n5 4\n255\n" + pixels[:-1])
    with pytest.raises(ValueError, match="malformed PPM header"):
        decode_ppm(b"P6\nfive 4\n255\n" + pixels)
    with pytest.raises(ValueError, match="whitespace after PPM maxval"):
        decode_ppm(b"P6\n5 4\n255#c\n" + pixels)
    with pytest.raises(ValueError, match="invalid PPM dimensions"):
        decode_ppm(b"P6\n0 4\n255\n")


def test_wav_roundtrip():
    rng = np.random.default_rng(4)
    payload = synthetic_wav(rng, n_samples=2000)
    x, rate = decode_wav(payload)
    assert rate == 8000 and len(x) == 2000 and x.dtype == np.int16


def test_average_hash_is_perceptual():
    """aHash invariance: a uniform brightness shift keeps the hash; a
    different image changes it."""
    rng = np.random.default_rng(9)
    img = rng.integers(30, 200, size=(64, 64, 3), dtype=np.uint8)
    ph, feat = _image_features(img)
    brighter = np.clip(img.astype(np.int16) + 20, 0, 255).astype(np.uint8)
    ph2, _ = _image_features(brighter)
    assert ph == ph2
    other = rng.integers(30, 200, size=(64, 64, 3), dtype=np.uint8)
    assert _image_features(other)[0] != ph
    assert len(feat) == 32 and float(feat.max()) <= 1.0


def test_audio_features_shape():
    rng = np.random.default_rng(11)
    x, _ = decode_wav(synthetic_wav(rng))
    ph, feat = _audio_features(x)
    assert len(feat) == 32 and abs(float(feat.max()) - 1.0) < 1e-9
    # duplicate samples -> identical hash; different audio -> different
    assert _audio_features(x)[0] == ph
    y, _ = decode_wav(synthetic_wav(rng))
    assert _audio_features(y)[0] != ph


def test_feature_schema_and_determinism(spark):
    media = synthetic_media(spark, n=24)
    feats = extract_features(media, strict=False)
    assert feats.schema == FEATURE_SCHEMA
    rows1 = sorted((r.media_id, r.phash) for r in feats.collect())
    rows2 = sorted((r.media_id, r.phash) for r in extract_features(media).collect())
    assert rows1 == rows2
    dim = len(feats.first().feature)
    assert dim == 32


def test_planted_dupes_found(spark):
    media = synthetic_media(spark, n=48)
    dupes = exact_media_dupes(extract_features(media))
    got = {r.media_id for r in dupes.collect()}
    planted = {i for i in range(48) if i % 6 == 5} | {
        i - 3 for i in range(48) if i % 6 == 5
    }
    assert planted <= got


def test_strict_mode_raises(spark):
    media = synthetic_media(spark, n=6)
    with pytest.raises(Exception, match="NotImplementedError|codec"):
        extract_features(media, strict=True).collect()


# ---------------------------------------------------------------------------
# near tier: Hamming-ball over perceptual hashes (reference analog: the near
# tier over opaque-object fingerprints, dupes-core/src/grouper.rs:95-220)
# ---------------------------------------------------------------------------
def _ham(a: int, b: int) -> int:
    return bin((a ^ b) & ((1 << 64) - 1)).count("1")


def test_swap_extreme_blocks_hamming_exactly_2():
    # the block-swap perturbation's Hamming distance is an arithmetic fact:
    # global mean unchanged, exactly the max/min-mean block bits flip
    rng = np.random.default_rng(3)
    for _ in range(5):
        img = rng.integers(0, 200, size=(24, 32, 3), dtype=np.uint8)
        ph0, _ = _image_features(img)
        ph1, _ = _image_features(swap_extreme_blocks(img))
        assert _ham(ph0, ph1) == 2


def test_brightness_shift_hamming_zero():
    rng = np.random.default_rng(4)
    img = rng.integers(0, 200, size=(24, 32, 3), dtype=np.uint8)
    ph0, _ = _image_features(img)
    ph1, _ = _image_features(img + np.uint8(10))
    assert _ham(ph0, ph1) == 0


def test_audio_amplification_hamming_zero():
    rng = np.random.default_rng(6)
    t = np.arange(4000)
    x = (8000 * np.sin(0.05 * t) + rng.normal(0, 400, len(t))).astype(np.int16)
    ph0, _ = _audio_features(x.astype(np.int16))
    ph1, _ = _audio_features((x * 2).astype(np.int16))
    assert _ham(ph0, ph1) == 0


def _near_planted(n: int = 96) -> list[tuple[int, int, int]]:
    out = []
    for i in range(n):
        if i % 3 == 0 and i % 6 == 0:
            out.append((i, i + NEAR_MEDIA_OFFSET, 0))
        elif i % 3 == 0 and i % 6 == 3:
            out.append((i, i + NEAR_MEDIA_OFFSET, 2))
        elif i % 6 == 1:
            out.append((i, i + NEAR_MEDIA_OFFSET, 0))
    return out


def test_synthetic_media_near_no_organic_pairs(spark):
    # brute-force exclusion of ANY unplanted same-type pair within the ball
    # at the fixed seed — the assumption the driver oracle rests on
    media = synthetic_media_near(spark, n=96)
    rows = extract_features(media).collect()
    planted = {(a, b) for a, b, _ in _near_planted(96)}
    within = set()
    for i, r1 in enumerate(rows):
        for r2 in rows[i + 1 :]:
            if r1.media_type != r2.media_type:
                continue
            if _ham(r1.phash, r2.phash) <= 3:
                a, b = sorted((r1.media_id, r2.media_id))
                within.add((a, b))
    assert within == planted


def test_near_media_dupes_operator(spark):
    media = synthetic_media_near(spark, n=96)
    feats = extract_features(media)
    got = {
        (r.id_a, r.id_b): (r.media_type, r.hamming)
        for r in near_media_dupes(feats, hamming_threshold=3, n_chunks=4).collect()
    }
    expected = {
        (a, b): ("image" if a % 3 == 0 else "audio", h)
        for a, b, h in _near_planted(96)
    }
    assert got == expected


def test_near_media_dupes_cross_type_never_pairs(spark):
    # identical phash on different media_type must NOT pair (type folds into
    # the band key AND the verify re-checks it)
    feats = spark.createDataFrame(
        [(1, "image", 42, None), (2, "audio", 42, None)], FEATURE_SCHEMA
    )
    assert near_media_dupes(feats).count() == 0
