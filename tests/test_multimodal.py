"""Real pure-numpy multimodal kernels: PPM decode/resize, WAV features.

The fixtures are REAL file bytes (P6 headers, RIFF chunks) built by the
synthetic generators, so these tests pin actual format parsing — not the
byte-stats stub path."""

from __future__ import annotations

import numpy as np
import pytest

from yet_another_map_reduce_spark.operators import multimodal
from yet_another_map_reduce_spark.operators.multimodal import (
    _decode_ppm,
    _parse_wav_pcm16,
    encode_ppm,
)


def test_ppm_encode_decode_roundtrip():
    img = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    out = _decode_ppm(encode_ppm(img))
    assert out.shape == (2, 3, 3) and (out == img).all()


def test_ppm_rejects_garbage():
    assert _decode_ppm(None) is None
    assert _decode_ppm(b"not an image") is None
    assert _decode_ppm(b"P6\n3 2\n255\nshort") is None  # truncated pixels


def test_decode_image_means_match_fixture_arithmetic(spark):
    ids = spark.createDataFrame([(0,), (7,), (255,)], "doc_id long")
    media = multimodal.synthetic_ppm_media(ids, "doc_id", width=8, height=8)
    got = {r["media_id"]: r for r in multimodal.decode_image(media).collect()}
    for i in (0, 7, 255):
        grid = np.add.outer(np.arange(8) * 7, np.arange(8) * 3)
        expect_r = float(((i * 31 + grid) % 256).mean())
        row = got[i]
        assert (row["width"], row["height"], row["channels"]) == (8, 8, 3)
        assert row["mean_r"] == pytest.approx(expect_r, abs=1e-9)


def test_decode_image_quarantines_non_ppm(spark):
    df = spark.createDataFrame([(1, bytearray(b"JFIF..."))], "media_id long, content binary")
    row = multimodal.decode_image(df).collect()[0]
    assert row["width"] is None and row["mean_r"] is None


def test_resize_image_nearest_neighbor(spark):
    ids = spark.createDataFrame([(3,)], "doc_id long")
    media = multimodal.synthetic_ppm_media(ids, "doc_id", width=8, height=8)
    src = _decode_ppm(media.collect()[0]["content"])
    out = multimodal.resize_image(media, 4, 4).collect()[0]
    assert out["resized"] and (out["width"], out["height"]) == (4, 4)
    resized = _decode_ppm(bytes(out["content"]))
    # yi = (arange(4)*8)//4 = [0,2,4,6] — exactly every other row/col
    assert (resized == src[::2, ::2]).all()


def test_wav_parse_and_features(spark):
    ids = spark.createDataFrame([(12,)], "doc_id long")
    wav = multimodal.synthetic_wav_media(ids, "doc_id", rate=8000, n_samples=800)
    blob = bytes(wav.collect()[0]["content"])
    rate, samples = _parse_wav_pcm16(blob)
    assert rate == 8000 and samples.size == 800
    amp = 1000 + (12 % 100) * 10
    assert set(np.unique(samples)) == {-amp, amp}
    row = multimodal.extract_audio_features(wav).collect()[0]
    assert row["sample_rate"] == 8000
    assert row["n_samples"] == 800
    assert row["duration_ms"] == 100
    assert row["rms"] == pytest.approx(amp, rel=1e-6)  # square wave: rms == amplitude


def test_wav_parser_rejects_non_wav():
    assert _parse_wav_pcm16(b"RIFFxxxxNOPE") is None
    assert _parse_wav_pcm16(None) is None


def test_extract_features_uses_real_pixels_for_ppm(spark):
    ids = spark.createDataFrame([(5,)], "doc_id long")
    media = multimodal.synthetic_ppm_media(ids, "doc_id", width=8, height=8)
    feats = multimodal.extract_features(media).collect()[0]["features"]
    assert feats[0] == 8.0 and feats[1] == 8.0  # width, height from real decode
    # full pixel-statistics parity with an independent numpy rendering
    y, x, c = np.meshgrid(np.arange(8), np.arange(8), np.arange(3), indexing="ij")
    img = (5 * 31 + y * 7 + x * 3 + c * 11) % 256
    for ch in range(3):
        assert feats[2 + ch] == np.float32(img[..., ch].mean())
    n, s, sq = img.size, int(img.sum()), int((img.astype(np.int64) ** 2).sum())
    assert feats[5] == np.float32(((n * sq - s * s) / (n * n)) ** 0.5)
    assert feats[6] == float(img.min()) and feats[7] == float(img.max())


def test_extract_features_byte_stats_fallback_for_non_ppm(spark):
    df = spark.createDataFrame([(1, b"not a ppm blob")], "media_id long, content binary")
    feats = multimodal.extract_features(df).collect()[0]["features"]
    assert feats == [np.float32(v) for v in multimodal._fake_feature_vector(b"not a ppm blob")]


def test_registered_codec_claims_blob_before_fallback(spark):
    """A deployment-registered decoder (here: a fake 'JPEG' codec that
    sniffs the JFIF magic) wins over the byte-stats fallback, and the
    built-in PPM/WAV paths are untouched.  The registry snapshot is
    taken at extract_features() call time, so unregistering restores
    the fallback for later calls."""
    jpeg_blob = b"\xff\xd8\xff\xe0 fake jpeg body"

    def fake_jpeg(blob):
        if blob is not None and blob[:3] == b"\xff\xd8\xff":
            return [float(i) for i in range(8)]
        return None

    multimodal.register_feature_codec("fake_jpeg", fake_jpeg)
    try:
        df = spark.createDataFrame(
            [(1, jpeg_blob), (2, b"not any codec")], "media_id long, content binary"
        )
        feats = {r["media_id"]: r["features"] for r in multimodal.extract_features(df).collect()}
        assert feats[1] == [float(i) for i in range(8)]  # claimed by registered codec
        assert feats[2] == [np.float32(v) for v in multimodal._fake_feature_vector(b"not any codec")]
        # built-in PPM path still first-class alongside the new codec
        ids = spark.createDataFrame([(5,)], "doc_id long")
        ppm = multimodal.synthetic_ppm_media(ids, "doc_id", width=4, height=4)
        assert multimodal.extract_features(ppm).collect()[0]["features"][0] == 4.0
    finally:
        multimodal.unregister_feature_codec("fake_jpeg")
    feats = multimodal.extract_features(df).collect()
    by_id = {r["media_id"]: r["features"] for r in feats}
    assert by_id[1] == [np.float32(v) for v in multimodal._fake_feature_vector(jpeg_blob)]


def test_mjpm_roundtrip_and_sampling_cadence(spark):
    ids = spark.createDataFrame([(3,)], "doc_id long")
    video = multimodal.synthetic_video_media(
        ids, "doc_id", n_frames=6, frame_ms=40, width=8, height=8
    )
    # every_ms == frame_ms -> every frame survives
    all_frames = multimodal.sample_video_frames(video, every_ms=40).collect()
    assert [r["frame_idx"] for r in all_frames] == [0, 1, 2, 3, 4, 5]
    assert [r["ts_ms"] for r in all_frames] == [0, 40, 80, 120, 160, 200]
    # every_ms == 2*frame_ms -> every other frame
    sampled = multimodal.sample_video_frames(video, every_ms=80).collect()
    assert [r["frame_idx"] for r in sampled] == [0, 2, 4]
    # non-multiple cadence: nearest frame at-or-after each 50ms tick
    # (ticks 0,50,100,150,200 -> frames 0,2,3,4,5), not just frame 0
    odd = multimodal.sample_video_frames(video, every_ms=50).collect()
    assert [r["frame_idx"] for r in odd] == [0, 2, 3, 4, 5]
    # degenerate cadence is rejected driver-side, not as an executor crash
    with pytest.raises(ValueError, match="every_ms"):
        multimodal.sample_video_frames(video, every_ms=0)
    # each sampled frame is a decodable P6 equal to the fixture pattern
    img = multimodal._decode_ppm(sampled[1]["content"])
    assert img is not None and img.shape == (8, 8, 3)
    assert img[0, 0, 0] == ((3 * 1000 + 2) * 31) % 256


def test_mjpm_quarantines_garbage(spark):
    bad = spark.createDataFrame(
        [(1, bytearray(b"not a video")), (2, None)], "media_id long, content binary"
    )
    rows = multimodal.sample_video_frames(bad, every_ms=40).collect()
    assert len(rows) == 2
    assert all(r["frame_idx"] is None and r["content"] is None for r in rows)


def test_extract_features_routes_wav_through_pcm_kernel(spark):
    """WAV blobs through the GENERIC extract_features kernel get real
    PCM-derived features (rate, n, duration, rms, zcr, min, max, mean)
    — not the byte-stats stub — matching extract_audio_features'
    statistics for the same blob."""
    from pyspark.sql import functions as F

    base = spark.range(3).select(F.col("id").alias("media_id"))
    wav = multimodal.synthetic_wav_media(base, "media_id", rate=8000, n_samples=800)
    feats = {
        r["media_id"]: r["features"]
        for r in multimodal.extract_features(wav).collect()
    }
    audio = {
        r["media_id"]: r
        for r in multimodal.extract_audio_features(wav).collect()
    }
    assert set(feats) == {0, 1, 2}
    for mid, f in feats.items():
        a = audio[mid]
        assert f[0] == 8000.0 and f[1] == 800.0
        assert f[2] == float(a["duration_ms"])
        assert abs(f[3] - a["rms"]) < 1e-3
        assert abs(f[4] - a["zero_crossing_rate"]) < 1e-6
        # square wave: min = -amplitude, max = +amplitude
        amp = 1000.0 + (mid % 100) * 10
        assert f[5] == -amp and f[6] == amp


def test_media_parsers_quarantine_arbitrary_bytes_never_raise():
    """The three hand-written binary parsers uphold the quarantine
    contract on HOSTILE input: None (or a valid parse) for arbitrary
    bytes, never an exception that would fail the whole Arrow batch —
    the avro fuzzing campaign's lesson applied to the media kernels.
    Includes the pathological PPM header whose >4300-digit dimension
    used to make int() itself raise (CPython's int-str limit) and kill
    the batch instead of quarantining the row."""
    import random

    from yet_another_map_reduce_spark.operators.multimodal import (
        _decode_ppm,
        _parse_mjpm,
        _parse_wav_pcm16,
    )

    # explicit regression: giant-digit PPM header quarantines, not raises
    evil = b"P6\n" + b"9" * 5000 + b" 1\n255\n" + b"\x00" * 16
    assert _decode_ppm(evil) is None
    assert _decode_ppm(b"P6\n" + b"9" * 10 + b" 1\n255\n") is None

    rng = random.Random(0xBEEF)
    magics = [b"", b"P6\n", b"RIFF" + b"\x00" * 4 + b"WAVE", b"MJPM"]
    for i in range(3000):
        blob = bytes(
            rng.randrange(256) for _ in range(rng.randrange(0, 200))
        )
        blob = magics[i % len(magics)] + blob
        img = _decode_ppm(blob)
        assert img is None or img.ndim == 3 and img.shape[2] == 3
        wav = _parse_wav_pcm16(blob)
        assert wav is None or (len(wav) == 2 and wav[0] is not None)
        vid = _parse_mjpm(blob)
        assert vid is None or (
            len(vid) == 2 and isinstance(vid[1], list)
        )


def test_image_phash_identical_and_perturbed(spark):
    """Identical images hash equal (hamming 0); a lightly-perturbed
    copy lands within a small hamming distance; a structurally
    different image lands far; undecodable blobs get NULL + false."""
    import numpy as np

    from yet_another_map_reduce_spark.operators import multimodal

    base = np.zeros((8, 8, 3), dtype=np.uint8)
    base[:4] = 255  # top half bright: strong bit structure
    perturbed = base.copy()
    perturbed[0, 0] = 0  # flip one bright cell dark
    different = np.transpose(base, (1, 0, 2)).copy()  # left half bright
    rows = [
        (1, bytearray(multimodal.encode_ppm(base))),
        (2, bytearray(multimodal.encode_ppm(base))),
        (3, bytearray(multimodal.encode_ppm(perturbed))),
        (4, bytearray(multimodal.encode_ppm(different))),
        (5, bytearray(b"not an image")),
    ]
    df = spark.createDataFrame(rows, "media_id long, content binary")
    got = {r["media_id"]: (r["phash"], r["decodable"]) for r in multimodal.image_phash(df).collect()}
    assert got[1] == got[2] and got[1][1] is True
    assert got[5] == (None, False)
    ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
    assert 1 <= ham(got[1][0], got[3][0]) <= 3
    assert ham(got[1][0], got[4][0]) > 3


def test_image_near_dup_pairs_banded(spark):
    """Band collisions find the exact and hamming-1 pairs; the far
    image pairs with nothing; the corrupt blob never pairs."""
    import numpy as np

    from yet_another_map_reduce_spark.operators import multimodal

    base = np.zeros((8, 8, 3), dtype=np.uint8)
    base[:4] = 255
    perturbed = base.copy()
    perturbed[0, 0] = 0
    different = np.transpose(base, (1, 0, 2)).copy()
    rows = [
        (1, bytearray(multimodal.encode_ppm(base))),
        (2, bytearray(multimodal.encode_ppm(base))),
        (3, bytearray(multimodal.encode_ppm(perturbed))),
        (4, bytearray(multimodal.encode_ppm(different))),
        (5, bytearray(b"junk")),
    ]
    df = spark.createDataFrame(rows, "media_id long, content binary")
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in multimodal.image_near_dup_pairs(df, max_hamming=3).collect()
    }
    assert pairs[(1, 2)] == 0
    assert (1, 3) in pairs and 1 <= pairs[(1, 3)] <= 3
    assert not any(4 in p or 5 in p for p in pairs)


def _ppm_from_mask(mask: int):
    """4x4 PPM whose hash_size=4 aHash equals ``mask`` exactly: cell k
    is bright iff bit k is set; with 0 < popcount < 16 the integer
    threshold (gray*16 > total) reproduces the mask bit for bit."""
    import numpy as np

    from yet_another_map_reduce_spark.operators import multimodal

    img = np.zeros((4, 4, 3), dtype=np.uint8)
    for k in range(16):
        if mask >> k & 1:
            img[k // 4, k % 4] = 255
    return bytearray(multimodal.encode_ppm(img))


def test_image_near_dup_small_hash_bands_cover_real_bits(spark):
    """hash_size=4 populates only 16 bits; banding must split THOSE 16,
    not a hardcoded 60 — under the old bits=60 banding the upper bands
    were identically zero, every image collided there, and with a
    bucket cap those mega-buckets silently dropped, losing true pairs
    whose only real-bit agreement was inside an upper band."""
    from yet_another_map_reduce_spark.operators import multimodal

    a = (1 << 0) | (1 << 1) | (1 << 2) | (1 << 8) | (1 << 9) | (1 << 15)
    b = a ^ ((1 << 2) | (1 << 7) | (1 << 12))  # hamming 3; bits 8-11 agree
    fillers = [
        (1 << 15) | (1 << 3) | (1 << 4) | (1 << 13) | (1 << 14) | (1 << i)
        for i in (5, 6, 10, 11)
    ] * 3  # 12 images sharing bit 15 -> zero-band buckets would exceed the cap
    rows = [(1, _ppm_from_mask(a)), (2, _ppm_from_mask(b))] + [
        (10 + i, blob)
        for i, mask in enumerate(fillers)
        for blob in [_ppm_from_mask(mask)]
    ]
    df = spark.createDataFrame(rows, "media_id long, content binary")
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in multimodal.image_near_dup_pairs(
            df, bands=4, max_hamming=3, hash_size=4, max_bucket_size=8
        ).collect()
    }
    assert pairs.get((1, 2)) == 3


def test_banded_hamming_rejects_bands_exceeding_bits():
    import pytest

    from yet_another_map_reduce_spark.operators.dedup import banded_hamming_pairs

    with pytest.raises(ValueError, match="bands"):
        banded_hamming_pairs(
            None, hash_col="h", id_col="i", bits=4, bands=8, max_hamming=3
        )


def test_image_phash_dct_survives_illumination_gradient(spark):
    """The DCT tier's reason to exist: a left-to-right illumination
    ramp (amp 60) over a textured image flips >3 aHash bits (local
    means shift across the lit side) but <=3 DCT bits (a smooth ramp
    lives in the DC + lowest AC coefficients, which the median
    threshold mostly absorbs).  Fixture chosen at margin: aHash
    hamming 6, DCT hamming 0."""
    import numpy as np

    from yet_another_map_reduce_spark.operators import multimodal

    rng = np.random.RandomState(1)
    small = rng.randint(40, 216, size=(8, 8))
    base1 = np.kron(small, np.ones((2, 2), dtype=np.int64))
    base = np.stack([base1] * 3, axis=2).astype(np.uint8)
    y, x = np.meshgrid(np.arange(16), np.arange(16), indexing="ij")
    grad = (x * 60 // 15).astype(np.int64)[:, :, None]
    shifted = np.clip(base.astype(np.int64) + grad, 0, 255).astype(np.uint8)
    rows = [
        (1, bytearray(multimodal.encode_ppm(base))),
        (2, bytearray(multimodal.encode_ppm(shifted))),
    ]
    df = spark.createDataFrame(rows, "media_id long, content binary")
    ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
    a = {r["media_id"]: r["phash"] for r in multimodal.image_phash(df, kind="ahash").collect()}
    d = {r["media_id"]: r["phash"] for r in multimodal.image_phash(df, kind="dct").collect()}
    assert ham(a[1], a[2]) > 3  # aHash misses this near-dup at the standard radius
    assert ham(d[1], d[2]) <= 3  # the DCT tier keeps it


def test_image_phash_rejects_unknown_kind(spark):
    import pytest

    from yet_another_map_reduce_spark.operators import multimodal

    df = spark.createDataFrame([(1, bytearray(b"x"))], "media_id long, content binary")
    with pytest.raises(ValueError, match="kind"):
        multimodal.image_phash(df, kind="wavelet")


def test_video_near_dup_pairs_shared_frames(spark):
    """Two clips sharing identical frames pair with the matching-pair
    count and min hamming 0; an unrelated clip and a corrupt blob never
    pair; min_frame_pairs filters single-frame coincidences."""
    import struct

    import numpy as np

    from yet_another_map_reduce_spark.operators import multimodal

    def frame(idx: int):
        img = np.zeros((8, 8, 3), dtype=np.uint8)
        img[(idx * 3) % 8 : (idx * 3) % 8 + 2] = 255  # distinct stripe per idx
        return multimodal.encode_ppm(img)

    def clip(frame_ids):
        frames = [frame(i) for i in frame_ids]
        payload = b"".join(struct.pack("<I", len(p)) + p for p in frames)
        return bytearray(
            b"MJPM" + struct.pack("<II", len(frames), 40) + payload
        )

    rows = [
        (1, clip([0, 1, 2, 3])),
        (2, clip([9, 1, 2, 7])),  # shares frames 1 and 2 with clip 1
        (3, clip([5, 6, 5, 6])),  # internally repetitive; intra-clip
        # frame matches must NOT produce a self-pair
        (4, bytearray(b"not a video")),
    ]
    df = spark.createDataFrame(rows, "media_id long, content binary")
    pairs = {
        (r["id_a"], r["id_b"]): (r["n_frame_pairs"], r["min_hamming"])
        for r in multimodal.video_near_dup_pairs(
            df, every_ms=40, max_hamming=3, max_bucket_size=None
        ).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)][1] == 0
    assert pairs[(1, 2)][0] >= 2  # frames 1 and 2 both match
    assert not any(4 in p for p in pairs)
    assert not any(a == b for a, b in pairs)  # no self-pairs from clip 3
    strict = {
        (r["id_a"], r["id_b"])
        for r in multimodal.video_near_dup_pairs(
            df, every_ms=40, max_hamming=3, max_bucket_size=None,
            min_frame_pairs=10,
        ).collect()
    }
    assert (1, 2) not in strict


def test_image_near_dup_capped_buckets_reports_drops(spark):
    """The exclusion report over the same perceptual hashes and banding
    names the buckets the pairs call drops: with 12 images sharing a
    band key and cap 8, the oversized bucket appears in the report
    (size 12), and a suppressed pair is indeed absent from the capped
    pairs output but present uncapped."""
    from pyspark.sql import functions as F

    from yet_another_map_reduce_spark.operators import dedup

    mask = (1 << 15) | (1 << 3)  # same upper band (bits 12-15) for all
    rows = [(i, _ppm_from_mask(mask | (1 << (i % 3)))) for i in range(12)]
    df = spark.createDataFrame(rows, "media_id long, content binary")
    report = dedup.banded_hamming_capped_buckets(
        multimodal.image_phash(df, hash_size=4).where(F.col("phash").isNotNull()),
        hash_col="phash", id_col="media_id", bits=16, bands=4, max_bucket_size=8,
    ).collect()
    assert any(r["n_ids"] == 12 for r in report)  # the shared band bucket
    capped = multimodal.image_near_dup_pairs(
        df, bands=4, max_hamming=3, hash_size=4, max_bucket_size=8
    ).count()
    uncapped = multimodal.image_near_dup_pairs(
        df, bands=4, max_hamming=3, hash_size=4, max_bucket_size=None
    ).count()
    assert uncapped > capped  # the report's buckets are real suppressions


def test_video_near_dup_pairs_cap_suppresses_degenerate_frames(spark):
    """Degenerate repeated frames across many clips land in oversized
    buckets: the capped pairs call suppresses those collisions, which
    the uncapped call reports as clip pairs."""
    import struct

    black = multimodal.encode_ppm(np.zeros((8, 8, 3), dtype=np.uint8))

    def stripe(idx: int):
        img = np.zeros((8, 8, 3), dtype=np.uint8)
        img[(idx * 2) % 7 : (idx * 2) % 7 + 1] = 255
        return multimodal.encode_ppm(img)

    def clip(frames):
        payload = b"".join(struct.pack("<I", len(p)) + p for p in frames)
        return bytearray(b"MJPM" + struct.pack("<II", len(frames), 40) + payload)

    # every clip opens with the same black frame (the degenerate bucket),
    # then a distinct stripe frame
    rows = [(i, clip([black, stripe(i)])) for i in range(6)]
    df = spark.createDataFrame(rows, "media_id long, content binary")

    def pairs(cap):
        return multimodal.video_near_dup_pairs(
            df, every_ms=40, max_hamming=3, max_bucket_size=cap
        ).count()

    assert pairs(None) >= 15  # all six black frames pair up uncapped
    assert pairs(4) == 0  # with the cap, the black-frame pairs are suppressed


def test_video_near_dup_rejects_out_of_domain_media_id(spark):
    """The composite frame key is only sound for media_id < 2^43;
    out-of-domain ids (e.g. 60-bit md5-derived keys) must raise, not
    silently alias into other clips' keys."""
    import struct

    import numpy as np

    from yet_another_map_reduce_spark.operators import multimodal

    frame = multimodal.encode_ppm(np.zeros((8, 8, 3), dtype=np.uint8))
    payload = struct.pack("<I", len(frame)) + frame
    blob = bytearray(b"MJPM" + struct.pack("<II", 1, 40) + payload)
    df = spark.createDataFrame(
        [(1 << 43, blob), (1, blob)], "media_id long, content binary"
    )
    with pytest.raises(Exception, match="out of domain"):
        multimodal.video_near_dup_pairs(df, every_ms=40).collect()


def test_audio_fingerprint_gain_invariant_and_quarantine(spark):
    """Re-gained copies of the same waveform fingerprint identically
    (the near-dup property), different periods land far apart, garbage
    quarantines, and n_bits is validated."""
    ids = spark.createDataFrame([(3,), (11,), (4,)], "doc_id long")
    # docs 3 and 11 share half-period (i%8)=3 with different amplitudes
    wav = multimodal.synthetic_wav_media(ids, "doc_id", n_samples=800)
    got = {r["media_id"]: r["afp"] for r in multimodal.audio_fingerprint(wav).collect()}
    assert got[3] == got[11]
    assert bin(got[3] ^ got[4]).count("1") > 3
    bad = spark.createDataFrame([(1, bytearray(b"RIFFjunk"))], "media_id long, content binary")
    row = multimodal.audio_fingerprint(bad).collect()[0]
    assert row["afp"] is None and row["decodable"] is False
    with pytest.raises(ValueError, match="n_bits"):
        multimodal.audio_fingerprint(wav, n_bits=0)


def test_audio_near_dup_pairs_same_period_classes(spark):
    """Equal-period clips pair at hamming 0 regardless of gain; the
    unparseable blob never pairs."""
    ids = spark.createDataFrame([(3,), (11,), (19,), (4,)], "doc_id long")
    wav = multimodal.synthetic_wav_media(ids, "doc_id", n_samples=800)
    corrupt = spark.createDataFrame(
        [(99, bytearray(b"not audio"))], "media_id long, content binary"
    )
    media = wav.unionByName(corrupt)
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in multimodal.audio_near_dup_pairs(media, max_bucket_size=None).collect()
    }
    assert pairs[(3, 11)] == 0 and pairs[(3, 19)] == 0 and pairs[(11, 19)] == 0
    assert not any(4 in p or 99 in p for p in pairs)


def test_audio_fingerprint_short_clip_pads_as_silence(spark):
    """A clip shorter than n_bits*stride samples still fingerprints:
    missing samples read as silence (sign bit 1), deterministically."""
    ids = spark.createDataFrame([(0,)], "doc_id long")
    wav = multimodal.synthetic_wav_media(ids, "doc_id", n_samples=100)
    fp = multimodal.audio_fingerprint(wav).collect()[0]["afp"]
    # positions 13k >= 100 (k >= 8) are all silence -> bits set
    assert all(fp >> k & 1 for k in range(8, 60))


def test_audio_near_dup_capped_buckets_reports_drops(spark):
    """No silent caps for audio: ``dedup.banded_hamming_capped_buckets``
    over the same fingerprints reports the oversized band buckets, and
    the capped pairs call indeed suppresses pairs the uncapped call
    emits."""
    from yet_another_map_reduce_spark.operators import multimodal
    from yet_another_map_reduce_spark.operators.dedup import (
        banded_hamming_capped_buckets,
    )

    # six clips with the same zero-crossing period -> identical afp:
    # one oversized band bucket in every band at cap 4
    ids = spark.createDataFrame([(3 + 8 * i,) for i in range(6)], "doc_id long")
    media = multimodal.synthetic_wav_media(ids, "doc_id", n_samples=800)
    report = banded_hamming_capped_buckets(
        multimodal.audio_fingerprint(media),
        hash_col="afp",
        id_col="media_id",
        bits=60,
        bands=4,
        max_bucket_size=4,
    ).collect()
    assert report and max(r["n_ids"] for r in report) == 6
    capped = multimodal.audio_near_dup_pairs(media, max_bucket_size=4).count()
    uncapped = multimodal.audio_near_dup_pairs(media, max_bucket_size=None).count()
    assert capped == 0 and uncapped == 15  # all C(6,2) pairs were capped away


def _wav_from_samples(samples):
    """RIFF PCM16 mono blob from an int16 numpy array."""
    import struct

    import numpy as np

    data = np.asarray(samples, dtype="<i2").tobytes()
    fmt_chunk = b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
    return bytearray(
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
        + fmt_chunk + b"data" + struct.pack("<I", len(data)) + data
    )


def test_audio_fingerprint_spectral_survives_dc_offset(spark):
    """The spectral tier's reason to exist: a constant DC offset
    shifts every zero crossing, flipping sign-tier bits wholesale, but
    lands entirely in DFT bin 0 — which the band-energy fingerprint
    excludes — so the spectral fingerprint is unchanged.  A re-gained
    copy (x2) is also spectral-invariant (g² scales every energy, the
    difference-of-differences signs survive)."""
    import numpy as np

    from yet_another_map_reduce_spark.operators import multimodal

    rng = np.random.RandomState(3)
    base = (rng.randint(-900, 900, size=768)).astype(np.int64)
    rows = [
        (1, _wav_from_samples(base)),
        (2, _wav_from_samples(base + 500)),   # DC offset copy
        (3, _wav_from_samples(base * 2)),     # re-gained copy
    ]
    df = spark.createDataFrame(rows, "media_id long, content binary")
    ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731

    sign = {
        r["media_id"]: r["afp"]
        for r in multimodal.audio_fingerprint(df, kind="sign").collect()
    }
    spec = {
        r["media_id"]: r["afp"]
        for r in multimodal.audio_fingerprint(df, kind="spectral").collect()
    }
    assert ham(sign[1], sign[2]) > 3     # sign tier misses the DC-offset dup
    assert ham(spec[1], spec[2]) <= 3    # spectral tier keeps it
    assert ham(spec[1], spec[3]) == 0    # gain-invariant by construction

    # and through the pair pipeline knob
    pairs = {
        (r["id_a"], r["id_b"])
        for r in multimodal.audio_near_dup_pairs(
            df, kind="spectral", max_bucket_size=None
        ).collect()
    }
    assert (1, 2) in pairs and (1, 3) in pairs


def test_audio_fingerprint_rejects_bad_spectral_bits(spark):
    import pytest

    from yet_another_map_reduce_spark.operators import multimodal

    df = spark.createDataFrame([(1, bytearray(b"x"))], "media_id long, content binary")
    with pytest.raises(ValueError, match="multiple"):
        multimodal.audio_fingerprint(df, n_bits=59, kind="spectral")
    with pytest.raises(ValueError, match="kind"):
        multimodal.audio_fingerprint(df, kind="mfcc")


def test_video_near_dup_dct_tier_catches_illumination_gradient(spark):
    """kind='dct' through the video pipeline: two clips sharing a
    frame up to a smooth illumination ramp pair under the DCT tier but
    NOT under aHash at the same radius — the same discrimination case
    as the still-image test, proven through the clip-level operator."""
    import struct

    import numpy as np

    from yet_another_map_reduce_spark.operators import multimodal

    rng = np.random.RandomState(1)
    small = rng.randint(40, 216, size=(8, 8))
    base1 = np.kron(small, np.ones((2, 2), dtype=np.int64))
    base = np.stack([base1] * 3, axis=2).astype(np.uint8)
    y, x = np.meshgrid(np.arange(16), np.arange(16), indexing="ij")
    grad = (x * 60 // 15).astype(np.int64)[:, :, None]
    shifted = np.clip(base.astype(np.int64) + grad, 0, 255).astype(np.uint8)

    def clip(frames):
        payload = b"".join(struct.pack("<I", len(p)) + p for p in frames)
        return bytearray(b"MJPM" + struct.pack("<II", len(frames), 40) + payload)

    rows = [
        (1, clip([multimodal.encode_ppm(base)])),
        (2, clip([multimodal.encode_ppm(shifted)])),
    ]
    df = spark.createDataFrame(rows, "media_id long, content binary")
    a = multimodal.video_near_dup_pairs(
        df, every_ms=40, max_hamming=3, kind="ahash", max_bucket_size=None
    ).count()
    d = multimodal.video_near_dup_pairs(
        df, every_ms=40, max_hamming=3, kind="dct", max_bucket_size=None
    ).count()
    assert a == 0  # aHash misses the gradient near-dup at radius 3
    assert d == 1  # the DCT tier pairs the clips


def test_spectral_dft_tables_are_exact_fixed_point():
    """The spectral tier's cos/sin bases are plain ints, rounded once
    (engine-portable): bin k row t equals round(scale*cos(2πkt/64)),
    cos row values at t=0 are the full scale, and the tables are what
    the kernel actually folds (re-derived here independently)."""
    import math

    from yet_another_map_reduce_spark.operators.multimodal import (
        _SPECTRAL_BANDS,
        _SPECTRAL_FRAME,
        _SPECTRAL_SCALE,
        spectral_dft_tables,
    )

    cos_t, sin_t = spectral_dft_tables()
    assert len(cos_t) == len(sin_t) == _SPECTRAL_BANDS
    for k in range(_SPECTRAL_BANDS):
        assert len(cos_t[k]) == _SPECTRAL_FRAME
        assert cos_t[k][0] == _SPECTRAL_SCALE and sin_t[k][0] == 0
        for t in (1, 7, 33):
            ang = 2.0 * math.pi * (k + 1) * t / _SPECTRAL_FRAME
            assert cos_t[k][t] == int(round(_SPECTRAL_SCALE * math.cos(ang)))
            assert sin_t[k][t] == int(round(_SPECTRAL_SCALE * math.sin(ang)))
