"""Multimodal (image/audio/video) column plumbing.

North-star extension.  Media are opaque ``binary`` columns plus typed
metadata; everything Spark-side (schema, partition shape, Arrow batch
flow, UDF signatures) is real and tested.  Uncompressed formats have
REAL pure-numpy kernels — PPM (P6) decode + nearest-neighbor resize,
WAV PCM16 feature extraction — behind the production interface
(``mapInPandas`` over Arrow record batches — the only sane shape for
multi-MB blobs: no per-row Python calls, no driver materialization).
Compressed codecs (JPEG/PNG/mp4) require libraries absent from this
container: video frame sampling stays an explicit stub, and the
generic ``extract_features`` routes each blob through an ordered codec
registry (built-ins: PPM pixels, WAV PCM; deployments plug real
compressed-codec decoders in via ``register_feature_codec``) with a
clearly-marked deterministic byte-stats fallback for unclaimed blobs.

Scale notes:
- blobs stay in executor memory one Arrow batch at a time
  (``spark.sql.execution.arrow.maxRecordsPerBatch`` bounds batch bytes);
- metadata extraction is pure expressions (length/hash) and never
  touches Python;
- feature vectors come back as ``array<float>``, ready for the
  similarity operators.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    FloatType,
    LongType,
    StringType,
    StructField,
    StructType,
)

#: canonical media-row schema: blob + typed metadata
MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),  # image | audio | video
        StructField("content", BinaryType()),
        StructField("mime", StringType()),
        StructField("width", LongType()),  # image/video; null otherwise
        StructField("height", LongType()),
        StructField("duration_ms", LongType()),  # audio/video; null otherwise
    ]
)


def media_from_text(df: DataFrame, id_col: str, text_col: str, kind: str = "image") -> DataFrame:
    """Test-fixture adapter: wrap a text column as a binary blob with the
    canonical media schema (the container has no real media files)."""
    return df.select(
        F.col(id_col).cast("bigint").alias("media_id"),
        F.lit(kind).alias("kind"),
        F.encode(F.col(text_col), "UTF-8").alias("content"),
        F.lit("application/octet-stream").alias("mime"),
        F.lit(None).cast("bigint").alias("width"),
        F.lit(None).cast("bigint").alias("height"),
        F.lit(None).cast("bigint").alias("duration_ms"),
    )


def media_metadata(df: DataFrame) -> DataFrame:
    """Pure-expression metadata: byte size + content hash.  This is the
    cheap pass that runs before any decode at 100 TB (dedup by hash,
    size filters) so the expensive kernels see a pruned set."""
    return df.select(
        "media_id",
        "kind",
        F.octet_length("content").alias("n_bytes"),
        F.sha2(F.col("content"), 256).alias("content_sha256"),
        "mime",
    )


_FEATURE_DIM = 8


def _fake_feature_vector(blob: bytes) -> list[float]:
    """Deterministic stand-in for a real encoder: 8 floats derived from
    byte statistics.  Terminal fallback when no registered codec claims
    the blob (see :func:`register_feature_codec`)."""
    if blob is None or len(blob) == 0:
        return [0.0] * _FEATURE_DIM
    n = len(blob)
    return [
        float(n % 997),
        float(blob[0]),
        float(blob[-1]),
        float(sum(blob[:64]) % 1009),
        float(min(blob)),
        float(max(blob)),
        float(n % 31),
        float((blob[n // 2]) if n else 0),
    ]


FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("features", ArrayType(FloatType())),
    ]
)

#: ordered feature-codec registry: (name, decode) pairs tried front to
#: back; ``decode(blob) -> list[float] | None`` returns the feature
#: vector for blobs it recognizes and None to pass to the next codec.
_FEATURE_CODECS: list[tuple[str, object]] = []


def register_feature_codec(name: str, decode) -> None:
    """Plug a real decoder (Pillow JPEG, ffmpeg MP4, an ONNX encoder...)
    into :func:`extract_features` without touching operator code.

    ``decode(blob)`` must return a ``_FEATURE_DIM``-float list for blobs
    it recognizes and ``None`` otherwise (sniff-by-magic-bytes, the way
    the built-in PPM/WAV codecs do).  Codecs are tried in registration
    order, after the built-ins.

    Cluster note: :func:`extract_features` snapshots the registry into
    its ``mapInPandas`` closure, so cloudpickle ships the registered
    callables BY VALUE to every executor — driver-side registration
    works on a real cluster without installing the decoder module on
    workers (its imports must still resolve there if the callable
    imports lazily, which real codec bindings do).
    """
    _FEATURE_CODECS.append((name, decode))


def unregister_feature_codec(name: str) -> None:
    _FEATURE_CODECS[:] = [(n, d) for n, d in _FEATURE_CODECS if n != name]


def extract_features(df: DataFrame) -> DataFrame:
    """Feature extraction over Arrow batches via ``mapInPandas``.

    The iterator-of-batches signature is the real production shape:
    model/codec state loads once per partition, blobs stream through
    without materializing the partition.  Each blob goes to the first
    registered codec that claims it (built-ins: PPM pixel statistics,
    WAV PCM statistics; deployments add real compressed-codec decoders
    via :func:`register_feature_codec`); unclaimed blobs fall back to
    the byte-stats stub (``_fake_feature_vector``).
    """
    codecs = tuple(_FEATURE_CODECS)  # snapshot: ships by value in the closure

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # real impl: load codec/model ONCE here, per partition
        for batch in batches:
            yield pd.DataFrame(
                {
                    "media_id": batch["media_id"],
                    "features": [_feature_vector(b, codecs) for b in batch["content"]],
                }
            )

    return df.select("media_id", "content").mapInPandas(kernel, schema=FEATURES_SCHEMA)


def _wav_feature_vector(parsed) -> list[float]:
    """8-dim PCM-derived features for a parsed WAV: (rate, n_samples,
    duration_ms, rms, zero-crossing rate, min, max, mean) — the same
    sample statistics :func:`extract_audio_features` emits, packed into
    the generic fixed-width feature slot."""
    import numpy as np

    rate, samples = parsed
    x = samples.astype(np.float64)
    if x.size == 0:
        return [float(rate), 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]
    return [
        float(rate),
        float(x.size),
        float(int(x.size * 1000 // max(rate, 1))),
        float(np.sqrt((x ** 2).mean())),
        float((np.signbit(x[1:]) != np.signbit(x[:-1])).mean()) if x.size > 1 else 0.0,
        float(x.min()),
        float(x.max()),
        float(x.mean()),
    ]


def _ppm_features(blob: bytes | None) -> list[float] | None:
    """REAL pixel-statistics features for PPM blobs (dims, per-channel
    means, contrast); None for anything that isn't a P6 PPM.

    The contrast (population std) is computed from the integer-exact
    identity ``n²·var = n·Σv² − (Σv)²`` — every intermediate is an
    integer that float64 holds exactly (Σv² ≤ n·255²), so the value is
    a single deterministic IEEE division + sqrt that any engine (SQL
    included) reproduces bit-for-bit.  Channel means divide an exact
    integer sum by a power-of-two pixel count — also exact."""
    img = _decode_ppm(blob)
    if img is None:
        return None
    import numpy as np

    m = img.astype(np.int64)
    n = int(m.size)
    s = int(m.sum())
    sq = int((m * m).sum())
    var_num = n * sq - s * s
    return [
        float(img.shape[1]),
        float(img.shape[0]),
        float(m[..., 0].mean()),
        float(m[..., 1].mean()),
        float(m[..., 2].mean()),
        math.sqrt(var_num / (n * n)),
        float(m.min()),
        float(m.max()),
    ]


def _wav_features(blob: bytes | None) -> list[float] | None:
    """REAL PCM-sample-statistics features for WAV PCM16 blobs; None
    for anything that isn't a RIFF/WAVE container."""
    parsed = _parse_wav_pcm16(blob)
    if parsed is None:
        return None
    return _wav_feature_vector(parsed)


register_feature_codec("ppm", _ppm_features)
register_feature_codec("wav_pcm16", _wav_features)


def _feature_vector(blob: bytes | None, codecs=None) -> list[float]:
    """First registered codec that claims the blob wins; byte-stats
    fallback only for genuinely unknown codecs (JPEG/MP4 etc. — no
    codec libs in this container; see :func:`register_feature_codec`
    for how a deployment plugs real ones in)."""
    for _name, decode in (codecs if codecs is not None else _FEATURE_CODECS):
        feats = decode(blob)
        if feats is not None:
            return feats
    return _fake_feature_vector(blob)


def synthetic_ppm_media(df: DataFrame, id_col: str, width: int = 8, height: int = 8) -> DataFrame:
    """Deterministic PPM (P6) test fixture: pixel (y, x, c) of image
    ``i`` is ``(i*31 + y*7 + x*3 + c*11) % 256`` — arithmetic, so any
    engine (or test) can re-derive the expected bytes."""
    import numpy as np

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        y, x, c = np.meshgrid(
            np.arange(height), np.arange(width), np.arange(3), indexing="ij"
        )
        base = (y * 7 + x * 3 + c * 11).astype(np.int64)
        for batch in batches:
            blobs = [
                encode_ppm(((int(i) * 31 + base) % 256).astype(np.uint8))
                for i in batch[id_col]
            ]
            yield pd.DataFrame({"media_id": batch[id_col], "content": blobs})

    return df.select(F.col(id_col).cast("bigint").alias(id_col)).mapInPandas(
        kernel, schema="media_id long, content binary"
    )


import re as _re

_PPM_HEADER = _re.compile(rb"^P6\s+(?:#[^\n]*\n\s*)?(\d+)\s+(\d+)\s+(\d+)\s")


def _decode_ppm(blob: bytes | None):
    """Pure-numpy PPM (P6, maxval ≤ 255) decode → HxWx3 uint8, or None
    when the blob isn't a parseable P6 image (caller quarantines)."""
    import numpy as np

    if not blob or not blob.startswith(b"P6"):
        return None
    m = _PPM_HEADER.match(blob)
    if not m:
        return None
    if any(len(g) > 9 for g in m.groups()):
        # a dimension/maxval with >9 digits is never a real image, and
        # past ~4300 digits int() itself raises (CVE-2020-10735 limit)
        # — which would fail the batch instead of quarantining the row
        return None
    w, h, maxval = (int(g) for g in m.groups())
    if maxval > 255 or w <= 0 or h <= 0:
        return None
    pixels = np.frombuffer(blob, dtype=np.uint8, offset=m.end())
    if pixels.size < w * h * 3:
        return None
    return pixels[: w * h * 3].reshape(h, w, 3)


def encode_ppm(img) -> bytes:
    """HxWx3 uint8 → P6 bytes (the inverse of :func:`_decode_ppm`)."""
    h, w = img.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + img.astype("uint8").tobytes()


DECODED_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("channels", LongType()),
        # doubles, not floats: the mean of integer pixels is exact in
        # float64 (sum of ints / n), so an ANSI-SQL oracle can hash-match
        StructField("mean_r", DoubleType()),
        StructField("mean_g", DoubleType()),
        StructField("mean_b", DoubleType()),
    ]
)


def decode_image(df: DataFrame) -> DataFrame:
    """REAL image decode for the uncompressed PPM (P6) format — pure
    numpy, no codec library — over Arrow batches via ``mapInPandas``.
    Emits dimensions + per-channel means; undecodable blobs surface as
    null dimensions (quarantine rows) instead of failing the batch.
    Compressed formats (JPEG/PNG) still need a codec library; plug a
    PIL/opencv call into the same kernel where ``_decode_ppm`` is.
    """
    import numpy as np

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            out = {k: [] for k in ("media_id", "width", "height", "channels",
                                   "mean_r", "mean_g", "mean_b")}
            for mid, blob in zip(batch["media_id"], batch["content"]):
                img = _decode_ppm(blob)
                out["media_id"].append(mid)
                if img is None:
                    for k in ("width", "height", "channels", "mean_r", "mean_g", "mean_b"):
                        out[k].append(None)
                else:
                    means = img.astype(np.float64).mean(axis=(0, 1))
                    out["width"].append(img.shape[1])
                    out["height"].append(img.shape[0])
                    out["channels"].append(3)
                    out["mean_r"].append(float(means[0]))
                    out["mean_g"].append(float(means[1]))
                    out["mean_b"].append(float(means[2]))
            yield pd.DataFrame(out)

    return df.select("media_id", "content").mapInPandas(kernel, schema=DECODED_SCHEMA)


def resize_image(df: DataFrame, width: int, height: int) -> DataFrame:
    """REAL nearest-neighbor resize for PPM (P6) blobs — numpy index
    sampling, re-encoded as P6 into the ``content`` column (same media
    schema in and out, so resize stages compose).  Undecodable blobs
    pass through with ``resized = false``."""
    import numpy as np

    out_schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("content", BinaryType()),
            StructField("width", LongType()),
            StructField("height", LongType()),
            StructField("resized", BooleanType()),
        ]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            rows = {"media_id": [], "content": [], "width": [], "height": [], "resized": []}
            for mid, blob in zip(batch["media_id"], batch["content"]):
                img = _decode_ppm(blob)
                rows["media_id"].append(mid)
                if img is None:
                    rows["content"].append(blob)
                    rows["width"].append(None)
                    rows["height"].append(None)
                    rows["resized"].append(False)
                    continue
                h, w = img.shape[:2]
                yi = (np.arange(height) * h) // height
                xi = (np.arange(width) * w) // width
                resized = img[yi][:, xi]
                rows["content"].append(encode_ppm(resized))
                rows["width"].append(width)
                rows["height"].append(height)
                rows["resized"].append(True)
            yield pd.DataFrame(rows)

    return df.select("media_id", "content").mapInPandas(kernel, schema=out_schema)


AUDIO_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("sample_rate", LongType()),
        StructField("n_samples", LongType()),
        StructField("duration_ms", LongType()),
        StructField("rms", FloatType()),
        StructField("zero_crossing_rate", FloatType()),
    ]
)


def extract_audio_features(df: DataFrame) -> DataFrame:
    """REAL audio feature extraction for WAV (RIFF PCM16 mono/stereo) —
    pure-numpy header parse + sample statistics (duration, RMS,
    zero-crossing rate).  Non-WAV blobs emit null features."""
    import numpy as np

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            rows = {k: [] for k in ("media_id", "sample_rate", "n_samples",
                                    "duration_ms", "rms", "zero_crossing_rate")}
            for mid, blob in zip(batch["media_id"], batch["content"]):
                rows["media_id"].append(mid)
                parsed = _parse_wav_pcm16(blob)
                if parsed is None:
                    for k in ("sample_rate", "n_samples", "duration_ms", "rms",
                              "zero_crossing_rate"):
                        rows[k].append(None)
                    continue
                rate, samples = parsed
                x = samples.astype(np.float64)
                rms = float(np.sqrt((x ** 2).mean())) if x.size else 0.0
                zc = float((np.signbit(x[1:]) != np.signbit(x[:-1])).mean()) if x.size > 1 else 0.0
                rows["sample_rate"].append(rate)
                rows["n_samples"].append(int(x.size))
                rows["duration_ms"].append(int(x.size * 1000 // max(rate, 1)))
                rows["rms"].append(rms)
                rows["zero_crossing_rate"].append(zc)
            yield pd.DataFrame(rows)

    return df.select("media_id", "content").mapInPandas(kernel, schema=AUDIO_SCHEMA)


def _parse_wav_pcm16(blob: bytes | None):
    """Minimal RIFF/WAVE parser: returns (sample_rate, mono int16 numpy
    array) for PCM16 files, else None.  Multi-channel audio is averaged
    to mono."""
    import numpy as np
    import struct

    if not blob or len(blob) < 44 or blob[:4] != b"RIFF" or blob[8:12] != b"WAVE":
        return None
    pos, rate, n_channels, data = 12, None, None, None
    while pos + 8 <= len(blob):
        chunk_id = blob[pos:pos + 4]
        (size,) = struct.unpack_from("<I", blob, pos + 4)
        body = blob[pos + 8:pos + 8 + size]
        if chunk_id == b"fmt " and len(body) >= 16:
            fmt, n_channels, rate = struct.unpack_from("<HHI", body, 0)
            if fmt != 1:  # PCM only
                return None
            (bits,) = struct.unpack_from("<H", body, 14)
            if bits != 16:
                return None
        elif chunk_id == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if rate is None or data is None or n_channels in (None, 0):
        return None
    samples = np.frombuffer(data[: len(data) - (len(data) % (2 * n_channels))], dtype="<i2")
    if n_channels > 1:
        samples = samples.reshape(-1, n_channels).mean(axis=1)
    return rate, samples


def synthetic_wav_media(
    df: DataFrame, id_col: str, rate: int = 8000, n_samples: int = 800
) -> DataFrame:
    """Deterministic WAV (RIFF PCM16 mono) test fixture: image ``i`` is a
    square wave with amplitude ``1000 + (i % 100) * 10`` and half-period
    ``4 + (i % 8)`` samples — real, parseable WAV bytes."""
    import struct

    import numpy as np

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        t = np.arange(n_samples)
        fmt_chunk = b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, rate, rate * 2, 2, 16)
        for batch in batches:
            blobs = []
            for i in batch[id_col]:
                i = int(i)
                amp = 1000 + (i % 100) * 10
                half = 4 + (i % 8)
                wave = (amp * np.where((t // half) % 2 == 0, 1, -1)).astype("<i2")
                data = wave.tobytes()
                blobs.append(
                    b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
                    + fmt_chunk + b"data" + struct.pack("<I", len(data)) + data
                )
            yield pd.DataFrame({"media_id": batch[id_col], "content": blobs})

    return df.select(F.col(id_col).cast("bigint").alias(id_col)).mapInPandas(
        kernel, schema="media_id long, content binary"
    )


# --------------------------------------------------------------------------
# video: an uncompressed container (no codec library needed)
#
# MJPM ("motion PPM") layout, little-endian:
#   b"MJPM" | uint32 n_frames | uint32 frame_ms | n_frames x (uint32 len | P6)
#
# Compressed containers (mp4/webm) genuinely require a codec library
# absent from this environment; MJPM keeps the *Spark-side* pipeline —
# binary column in, per-frame explode out, chained PPM decode — fully
# real.  Swap `_parse_mjpm` for a pyav/ffmpeg call to handle real
# containers with the same operator shape.
# --------------------------------------------------------------------------

_MJPM_MAGIC = b"MJPM"


def synthetic_video_media(
    df: DataFrame,
    id_col: str,
    n_frames: int = 6,
    frame_ms: int = 40,
    width: int = 8,
    height: int = 8,
) -> DataFrame:
    """Deterministic MJPM fixture: frame ``f`` of video ``i`` is the
    synthetic PPM pattern of :func:`synthetic_ppm_media` for index
    ``i * 1000 + f`` — re-derivable arithmetically by any engine."""
    import struct

    import numpy as np

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        y, x, c = np.meshgrid(
            np.arange(height), np.arange(width), np.arange(3), indexing="ij"
        )
        base = (y * 7 + x * 3 + c * 11).astype(np.int64)
        for batch in batches:
            blobs = []
            for i in batch[id_col]:
                frames = [
                    encode_ppm((((int(i) * 1000 + f) * 31 + base) % 256).astype(np.uint8))
                    for f in range(n_frames)
                ]
                payload = b"".join(struct.pack("<I", len(p)) + p for p in frames)
                blobs.append(
                    _MJPM_MAGIC + struct.pack("<II", n_frames, frame_ms) + payload
                )
            yield pd.DataFrame({"media_id": batch[id_col], "content": blobs})

    return df.select(F.col(id_col).cast("bigint").alias(id_col)).mapInPandas(
        kernel, schema="media_id long, content binary"
    )


def _parse_mjpm(blob: bytes | None):
    """MJPM container → (frame_ms, [frame bytes]) or None if unparseable."""
    import struct

    if not blob or not blob.startswith(_MJPM_MAGIC) or len(blob) < 12:
        return None
    n_frames, frame_ms = struct.unpack_from("<II", blob, 4)
    frames, off = [], 12
    for _ in range(n_frames):
        if off + 4 > len(blob):
            return None
        (ln,) = struct.unpack_from("<I", blob, off)
        off += 4
        if off + ln > len(blob):
            return None
        frames.append(blob[off : off + ln])
        off += ln
    return frame_ms, frames


VIDEO_FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_idx", LongType()),
        StructField("ts_ms", LongType()),
        StructField("content", BinaryType()),
    ]
)


def sample_video_frames(df: DataFrame, every_ms: int) -> DataFrame:
    """REAL frame sampling over the MJPM container: for each sampling
    tick (``0, every_ms, 2·every_ms, …``) keep the first frame whose
    timestamp (``frame_idx * frame_ms``) is at or past the tick — one
    row per kept frame with the raw P6 bytes, ready to chain into
    :func:`decode_image` / :func:`resize_image` (same ``media_id``/
    ``content`` contract).  Nearest-at-or-after selection means an
    ``every_ms`` that is not a multiple of the frame interval still
    samples at the requested cadence instead of silently keeping only
    frame 0; when it IS a multiple, the kept set is exactly the
    on-boundary frames.

    Arrow-batched ``mapInPandas``; a video never leaves its partition
    and only sampled frames are materialized (the skip is a byte-offset
    walk, not a decode).  Unparseable blobs become one quarantine row
    (null ``frame_idx``) instead of failing the batch.
    """
    if every_ms < 1:
        raise ValueError(f"every_ms must be >= 1, got {every_ms}")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            out = {k: [] for k in ("media_id", "frame_idx", "ts_ms", "content")}
            for mid, blob in zip(batch["media_id"], batch["content"]):
                parsed = _parse_mjpm(blob)
                if parsed is None:
                    out["media_id"].append(mid)
                    out["frame_idx"].append(None)
                    out["ts_ms"].append(None)
                    out["content"].append(None)
                    continue
                frame_ms, frames = parsed
                for idx, frame in enumerate(frames):
                    ts = idx * frame_ms
                    # first frame at-or-after a tick: a tick falls in the
                    # (ts - frame_ms, ts] window iff the tick count grows
                    if idx == 0 or ts // every_ms > (ts - frame_ms) // every_ms:
                        out["media_id"].append(mid)
                        out["frame_idx"].append(idx)
                        out["ts_ms"].append(ts)
                        out["content"].append(frame)
            yield pd.DataFrame(out)

    return df.select("media_id", "content").mapInPandas(kernel, schema=VIDEO_FRAME_SCHEMA)


DCT_FIXED_SCALE = 1 << 14  # fixed-point DCT coefficient scale (2^14)


def dct_coeff_table(n: int, scale: int = DCT_FIXED_SCALE) -> list[list[int]]:
    """Fixed-point DCT-II basis: ``C[u][k] = round(scale *
    cos(pi*(2k+1)*u/(2n)))`` as plain Python ints.  The SAME table is
    used by the Spark kernel (:func:`image_phash` ``kind="dct"``) and
    inlined as literals into the DuckDB oracle SQL, so the transform is
    integer-exact and engine-portable by construction — rounding
    happens once, here, not per-engine.  Unnormalized on purpose: the
    hash thresholds coefficients against their own median, so any
    per-row constant factor cancels and the orthonormal scaling would
    only add division (and float drift) for nothing."""
    import math

    return [
        [
            int(round(scale * math.cos(math.pi * (2 * k + 1) * u / (2 * n))))
            for k in range(n)
        ]
        for u in range(n)
    ]


def image_phash(df: DataFrame, hash_size: int = 8, kind: str = "ahash") -> DataFrame:
    """Perceptual hash over PPM blobs — the multimodal counterpart of
    ``dedup.simhash``: near-identical images get equal or Hamming-close
    hashes, so corpus-level image dedup becomes the same banded
    fixed-width-key problem as text dedup.  Two tiers:

    - ``kind="ahash"`` (default): average hash — grayscale channel sum
      (0..765), downsample to ``hash_size``² cells with the same
      ``(k*dim)//hash_size`` index rule as :func:`resize_image`,
      bit = ``gray*N > total`` (no float mean).  Cheapest; sensitive to
      smooth illumination changes (a brightness GRADIENT shifts local
      means and flips bits across the lit side).
    - ``kind="dct"``: DCT perceptual hash — downsample to a
      ``2·hash_size``² grid, fixed-point integer DCT-II
      (:func:`dct_coeff_table`, scale 2^14, int64 matmul — exact, no
      floats), keep the low-frequency ``hash_size``² block (row-major),
      bit = coefficient > median of the block's 63 non-DC
      coefficients (odd count → the median IS an element, no
      interpolation); the DC term itself is EXCLUDED from the packed
      bits (it is the full grayscale sum — always above the AC median,
      a constant-1 bit every image would collide on), so AC
      coefficients 1..60 land in bits 0..59, the reference-pHash
      convention.  Robust to brightness/contrast/illumination-
      gradient shifts: those live almost entirely in the DC and lowest
      AC coefficients, leaving the thresholded spectrum shape intact.

    Both tiers are INTEGER-EXACT end to end so an ANSI-SQL oracle can
    replay them bit for bit (the discipline every hash in this repo
    follows), and both pack bits into the LOW 60 of a BIGINT
    (``md5_hash64``'s 60-bit discipline — a sign bit would shift
    differently in engines with arithmetic-only right shift); cells ≥
    60 still participate in the threshold (aHash total / dct median),
    only the packing drops them.

    Output: ``(media_id, phash bigint, decodable boolean)`` — phash
    NULL for undecodable blobs (quarantine contract).
    """
    import numpy as np

    if kind not in ("ahash", "dct"):
        raise ValueError(f"kind must be 'ahash' or 'dct', got {kind!r}")
    n_cells = hash_size * hash_size
    out_schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("phash", LongType()),
            StructField("decodable", BooleanType()),
        ]
    )
    dct_n = 2 * hash_size

    def _gray_grid(img, grid: int):
        h, w = img.shape[:2]
        yi = (np.arange(grid) * h) // grid
        xi = (np.arange(grid) * w) // grid
        return img[yi][:, xi].astype(np.int64).sum(axis=2)

    def _hash_ahash(img) -> int:
        cells = _gray_grid(img, hash_size).ravel()
        total = int(cells.sum())
        bits = (cells * n_cells) > total
        ph = 0
        for k in range(min(60, n_cells)):
            if bits[k]:
                ph |= 1 << k
        return ph

    dct_c = None  # built lazily inside the worker, shared across rows

    def _hash_dct(img) -> int:
        nonlocal dct_c
        if dct_c is None:
            dct_c = np.array(dct_coeff_table(dct_n), dtype=np.int64)
        g = _gray_grid(img, dct_n)
        # |C| <= 2^14, g <= 765, two n<=2^6-term sums: |F| < 2^46 — int64-safe
        coef = (dct_c @ g @ dct_c.T)[:hash_size, :hash_size].ravel()
        med = int(np.sort(coef[1:])[(n_cells - 1 - 1) // 2])
        bits = coef > med
        # DC (coef[0]) is the full grayscale sum — essentially always
        # above the AC median, so as a bit it is a constant 1 every
        # image collides on.  Reference pHash implementations exclude
        # DC from both the median and the bits: pack AC coefficients
        # 1..60 into bits 0..59.
        ph = 0
        for k in range(1, min(61, n_cells)):
            if bits[k]:
                ph |= 1 << (k - 1)
        return ph

    hash_one = _hash_ahash if kind == "ahash" else _hash_dct

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            ids, hashes, ok = [], [], []
            for mid, blob in zip(batch["media_id"], batch["content"]):
                ids.append(mid)
                img = _decode_ppm(blob)
                if img is None:
                    hashes.append(None)
                    ok.append(False)
                    continue
                hashes.append(hash_one(img))
                ok.append(True)
            yield pd.DataFrame(
                {"media_id": ids, "phash": pd.array(hashes, dtype="Int64"), "decodable": ok}
            )

    return df.select("media_id", "content").mapInPandas(kernel, schema=out_schema)


def image_near_dup_pairs(
    df: DataFrame,
    bands: int = 4,
    max_hamming: int = 3,
    hash_size: int = 8,
    max_bucket_size: int | None = 1000,
    kind: str = "ahash",
) -> DataFrame:
    """Image near-duplicate pairs by banded perceptual hash — the same
    pigeonhole trick as ``dedup.simhash_near_dup_pairs`` (two 60-bit
    hashes within Hamming distance ``bands - 1`` share an unchanged
    band), applied to :func:`image_phash`: band collision generates
    candidates, exact ``bit_count(XOR)`` verifies.  Undecodable blobs
    never pair (NULL phash drops).

    Scale shape: one mapInPandas pass for hashes, then the SHARED
    banded-Hamming pipeline (``dedup.banded_hamming_pairs`` — one
    fixed-width-key shuffle, capped in-bucket expansion); image BYTES
    never shuffle, only 8-byte hashes do.  ``max_bucket_size`` caps
    degenerate buckets — run ``dedup.banded_hamming_capped_buckets``
    over the same :func:`image_phash` hashes and banding to see exactly
    what a cap dropped (no-silent-caps discipline).

    Banding note: :func:`image_phash` populates ``min(60,
    hash_size**2)`` bits — banding a hardcoded 60 at ``hash_size < 8``
    would make the upper bands identically zero (every image collides
    there → capped mega-buckets silently drop), hence
    ``bits=min(60, hash_size**2)``.
    """
    from yet_another_map_reduce_spark.operators.dedup import banded_hamming_pairs

    return banded_hamming_pairs(
        image_phash(df, hash_size=hash_size, kind=kind).where(
            F.col("phash").isNotNull()
        ),
        hash_col="phash",
        id_col="media_id",
        bits=min(60, hash_size * hash_size),
        bands=bands,
        max_hamming=max_hamming,
        max_bucket_size=max_bucket_size,
    )


#: frame-key packing for video near-dup: the composite frame id is
#: ``media_id << FRAME_KEY_BITS | frame_idx``, so clip ids must stay
#: below 2^43 and clips below 2^20 frames (a 9.7-hour clip at 30 fps);
#: both bounds are ENFORCED per row (violations raise, never alias)
FRAME_KEY_BITS = 20
FRAME_KEY_SPACE = 1 << FRAME_KEY_BITS
_MAX_CLIP_ID = 1 << 43


def _video_frame_fingerprints(
    df: DataFrame, every_ms: int, hash_size: int, kind: str
) -> DataFrame:
    """Frame-hash stage of :func:`video_near_dup_pairs`: sample
    frames, pack the composite frame key, hash.

    The composite key is only sound inside its documented domain
    (``media_id < 2^43``, ``frame_idx < 2^20``); out-of-range rows
    would silently alias into OTHER clips' keys (and 60-bit md5-derived
    ids would overflow int64 outright), so the packing raises on
    violation instead — same fail-loudly discipline as the bands>bits
    guard in ``dedup._hamming_band_groups``.  Unparseable videos
    (NULL frame_idx) and undecodable frames (NULL phash) quarantine
    out before any key is built."""
    frames = sample_video_frames(df, every_ms=every_ms).where(
        F.col("frame_idx").isNotNull()
    )
    in_domain = (
        (F.col("media_id") >= 0)
        & (F.col("media_id") < F.lit(_MAX_CLIP_ID))
        & (F.col("frame_idx") >= 0)
        & (F.col("frame_idx") < F.lit(FRAME_KEY_SPACE))
    )
    key = F.when(
        F.assert_true(
            in_domain,
            F.concat_ws(
                " ",
                F.lit(
                    "video near-dup composite frame key out of domain "
                    "(need 0 <= media_id < 2^43 and 0 <= frame_idx < 2^20):"
                ),
                F.col("media_id"),
                F.col("frame_idx"),
            ),
        ).isNull(),
        F.shiftleft(F.col("media_id"), FRAME_KEY_BITS) + F.col("frame_idx"),
    )
    return image_phash(
        frames.select(key.alias("media_id"), "content"),
        hash_size=hash_size,
        kind=kind,
    ).where(F.col("phash").isNotNull())


def _clip_of(col: str):
    """Exact clip id from a composite frame key (integer bit shift —
    float division would be lossy above 2^53)."""
    return F.shiftrightunsigned(F.col(col), FRAME_KEY_BITS)


def video_near_dup_pairs(
    df: DataFrame,
    every_ms: int = 1000,
    bands: int = 4,
    max_hamming: int = 3,
    hash_size: int = 8,
    max_bucket_size: int | None = 1000,
    kind: str = "ahash",
    min_frame_pairs: int = 1,
) -> DataFrame:
    """Video clip-level near-duplicate pairs — the operator a multimodal
    training-data pipeline runs on crawled video (re-encodes, re-uploads,
    clipped copies): two clips are near-dups when they share at least
    ``min_frame_pairs`` visually-near-identical sampled frames.

    Pipeline (each stage is the already-proven substrate):

    1. :func:`sample_video_frames` at ``every_ms`` cadence — byte-offset
       walk, only sampled frames materialize, a video never leaves its
       partition; unparseable blobs quarantine (never pair).
    2. :func:`image_phash` per sampled frame (``kind`` selects the
       aHash or DCT tier) — frames collapse to 8-byte hashes.
    3. ``dedup.banded_hamming_pairs`` over the frame hashes with the
       composite frame key ``media_id << FRAME_KEY_BITS | frame_idx``
       (domain-checked — see :func:`_video_frame_fingerprints`) — one
       fixed-width-key shuffle; FRAME BYTES NEVER SHUFFLE, only the
       packed hash+key pairs do.
    4. Fold frame pairs to clip pairs: cross-clip only, canonically
       ordered, ``n_frame_pairs`` = matching frame pairs (a frame may
       match several frames of the other clip — it counts PAIRS, not
       distinct frames), ``min_hamming`` = the closest match.

    Scale shape: work after stage 1 is proportional to sampled-frame
    count, not video bytes; the candidate stage is bucketed (capped
    per-band groups), never all-pairs.  ``min_frame_pairs`` > 1 is the
    precision knob against single-frame coincidences (title cards,
    black frames) — raise it or lower ``every_ms`` together.

    Returns ``(id_a, id_b, n_frame_pairs, min_hamming)``.
    """
    from yet_another_map_reduce_spark.operators.dedup import banded_hamming_pairs

    frame_pairs = banded_hamming_pairs(
        _video_frame_fingerprints(df, every_ms, hash_size, kind),
        hash_col="phash",
        id_col="media_id",
        bits=min(60, hash_size * hash_size),
        bands=bands,
        max_hamming=max_hamming,
        max_bucket_size=max_bucket_size,
    )
    clip = frame_pairs.select(
        _clip_of("id_a").alias("clip_a"),
        _clip_of("id_b").alias("clip_b"),
        "hamming",
    ).where(F.col("clip_a") != F.col("clip_b"))
    return (
        clip.select(
            F.least("clip_a", "clip_b").alias("id_a"),
            F.greatest("clip_a", "clip_b").alias("id_b"),
            "hamming",
        )
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("n_frame_pairs"),
            F.min("hamming").alias("min_hamming"),
        )
        .where(F.col("n_frame_pairs") >= min_frame_pairs)
    )


#: spectral-tier geometry: 64-sample frames, DFT bins 1..6 (six band
#: energies), 5 band-difference bits per frame — n_bits must divide
#: into whole frames of 5 bits.
_SPECTRAL_FRAME = 64
_SPECTRAL_BANDS = 6
#: fixed-point DFT table scale 2^7: |re| <= 64 * 2^15 * 2^7 = 2^28,
#: re^2 + im^2 < 2^57 — int64-safe with headroom, no floats anywhere
_SPECTRAL_SCALE = 1 << 7


def spectral_dft_tables() -> tuple[list[list[int]], list[list[int]]]:
    """Fixed-point cos/sin DFT bases for the spectral audio tier:
    ``COS[k][t] = round(scale * cos(2*pi*k*t/frame))`` (same for sin),
    bins 1..``_SPECTRAL_BANDS``, plain Python ints — rounding happens
    once, here, engine-portably (the :func:`dct_coeff_table`
    discipline)."""
    two_pi = 2.0 * math.pi
    cos_t = [
        [
            int(round(_SPECTRAL_SCALE * math.cos(two_pi * k * t / _SPECTRAL_FRAME)))
            for t in range(_SPECTRAL_FRAME)
        ]
        for k in range(1, _SPECTRAL_BANDS + 1)
    ]
    sin_t = [
        [
            int(round(_SPECTRAL_SCALE * math.sin(two_pi * k * t / _SPECTRAL_FRAME)))
            for t in range(_SPECTRAL_FRAME)
        ]
        for k in range(1, _SPECTRAL_BANDS + 1)
    ]
    return cos_t, sin_t


def audio_fingerprint(
    df: DataFrame, n_bits: int = 60, stride: int = 13, kind: str = "sign"
) -> DataFrame:
    """Audio fingerprint over PCM16 WAV blobs — the audio member of the
    perceptual-hash family (:func:`image_phash` for images, per-frame
    hashes for video).  Two tiers behind the same ``(media_id, afp)``
    contract:

    - ``kind="sign"`` (default): bit ``k`` is the sign of sample
      ``k * stride`` (1 = non-negative), packed into the low ``n_bits``
      of a BIGINT.  The sign sequence at a fixed stride is an
      amplitude-independent sketch of the waveform's zero-crossing
      structure, so re-levelled or re-gained copies get equal or
      Hamming-close fingerprints.  Cheapest; sensitive to a constant
      DC offset (a bias shifts every zero crossing and flips sign bits
      wholesale).
    - ``kind="spectral"``: chromaprint-style band-energy-difference
      fingerprint — 64-sample frames, fixed-point integer DFT
      (:func:`spectral_dft_tables`, scale 2^7, int64 matmuls — exact,
      no floats), band energy ``E = re² + im²`` for bins 1..6, bit =
      ``(E[f][b] - E[f][b+1]) - (E[f-1][b] - E[f-1][b+1]) > 0`` (frame
      -1 ≡ silence).  Positive gain scales every energy by g², so the
      difference-of-differences SIGNS are gain-invariant, and bin 0
      (DC) is excluded, so a constant offset — the case the sign tier
      misses — leaves the fingerprint intact (test-pinned).  ``stride``
      is ignored; ``n_bits`` must be a multiple of 5 (five
      band-difference bits per frame).

    Both tiers are INTEGER-EXACT end to end (the repo-wide hash
    discipline, making an ANSI-SQL replay possible for either).

    Output: ``(media_id, afp bigint, decodable boolean)`` — afp NULL
    for unparseable blobs (quarantine contract); recordings shorter
    than the fingerprint span treat missing samples as silence, so
    short clips still fingerprint deterministically.
    """
    if not 1 <= n_bits <= 60:
        raise ValueError(f"n_bits must be in [1, 60], got {n_bits}")
    if kind not in ("sign", "spectral"):
        raise ValueError(f"kind must be 'sign' or 'spectral', got {kind!r}")
    if kind == "spectral" and n_bits % (_SPECTRAL_BANDS - 1) != 0:
        raise ValueError(
            f"spectral tier packs {_SPECTRAL_BANDS - 1} bits/frame; "
            f"n_bits={n_bits} is not a multiple"
        )
    out_schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("afp", LongType()),
            StructField("decodable", BooleanType()),
        ]
    )

    def _fp_sign(samples) -> int:
        fp = 0
        for k in range(n_bits):
            pos = k * stride
            if pos >= samples.size or samples[pos] >= 0:
                fp |= 1 << k
        return fp

    tables = None  # built lazily inside the worker, shared across rows

    def _fp_spectral(samples) -> int:
        import numpy as np

        nonlocal tables
        if tables is None:
            cos_t, sin_t = spectral_dft_tables()
            tables = (
                np.array(cos_t, dtype=np.int64).T,  # (frame, bands)
                np.array(sin_t, dtype=np.int64).T,
            )
        cos_m, sin_m = tables
        n_frames = n_bits // (_SPECTRAL_BANDS - 1)
        need = n_frames * _SPECTRAL_FRAME
        x = samples.astype(np.int64)
        if x.size < need:  # missing samples are silence
            x = np.concatenate([x, np.zeros(need - x.size, dtype=np.int64)])
        seg = x[:need].reshape(n_frames, _SPECTRAL_FRAME)
        re = seg @ cos_m  # (frames, bands), |.| <= 2^28
        im = seg @ sin_m
        energy = re * re + im * im  # < 2^57: int64-exact
        band_diff = energy[:, :-1] - energy[:, 1:]  # (frames, bands-1)
        prev = np.vstack(
            [np.zeros((1, _SPECTRAL_BANDS - 1), dtype=np.int64), band_diff[:-1]]
        )
        bits = (band_diff - prev) > 0
        fp = 0
        for i, b in enumerate(bits.ravel()):
            if b:
                fp |= 1 << i
        return fp

    fp_one = _fp_sign if kind == "sign" else _fp_spectral

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            ids, fps, ok = [], [], []
            for mid, blob in zip(batch["media_id"], batch["content"]):
                ids.append(mid)
                parsed = _parse_wav_pcm16(blob)
                if parsed is None:
                    fps.append(None)
                    ok.append(False)
                    continue
                _, samples = parsed
                fps.append(fp_one(samples))
                ok.append(True)
            yield pd.DataFrame(
                {"media_id": ids, "afp": pd.array(fps, dtype="Int64"), "decodable": ok}
            )

    return df.select("media_id", "content").mapInPandas(kernel, schema=out_schema)


def audio_near_dup_pairs(
    df: DataFrame,
    bands: int = 4,
    max_hamming: int = 3,
    n_bits: int = 60,
    stride: int = 13,
    max_bucket_size: int | None = 1000,
    kind: str = "sign",
) -> DataFrame:
    """Audio near-duplicate pairs — :func:`audio_fingerprint` into the
    SHARED banded-Hamming pipeline (``dedup.banded_hamming_pairs``),
    completing the modality symmetry with image and video near-dup:
    band collision generates candidates (one fixed-width-key shuffle;
    audio BYTES never shuffle), exact ``bit_count(XOR)`` verifies,
    unparseable blobs never pair.  ``max_bucket_size`` caps degenerate
    buckets (silence, test tones) — run
    ``dedup.banded_hamming_capped_buckets`` over the same fingerprints
    to see exactly what a cap dropped (no-silent-caps discipline)."""
    from yet_another_map_reduce_spark.operators.dedup import banded_hamming_pairs

    fp = audio_fingerprint(df, n_bits=n_bits, stride=stride, kind=kind).where(
        F.col("afp").isNotNull()
    )
    return banded_hamming_pairs(
        fp,
        hash_col="afp",
        id_col="media_id",
        bits=n_bits,
        bands=bands,
        max_hamming=max_hamming,
        max_bucket_size=max_bucket_size,
    )

