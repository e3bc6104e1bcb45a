"""Multimodal-column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride as ``binary`` columns with a metadata struct;
decode / feature-extract run as Arrow-batched ``mapInPandas`` stages.

Two decode tiers:

- **Real, dependency-free decoders** for PNG (zlib inflate + full
  scanline unfiltering → pixel array) and WAV (RIFF parse + PCM sample
  decode) — stdlib ``zlib``/``struct`` only, so they run in this
  container and their features are functions of the actual bytes.
- **Declared stub** (:func:`_fake_decode`, sha256-derived) for formats
  that need codec libraries not present here (JPEG/MP4/…).  A real
  deployment swaps the stub for PIL/ffmpeg; everything around it
  (Arrow batching, schema, partition sizing) is production-shaped.
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image | audio | video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("sample_rate", T.IntegerType(), True),
                    T.StructField("duration_ms", T.IntegerType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
        T.StructField("n_bytes", T.IntegerType(), True),
    ]
)


# ---------------------------------------------------------------------------
# Real decoders (pure stdlib — zlib/struct; no codec libraries needed)
# ---------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
#: samples per pixel by PNG color type (palette unsupported — needs PLTE)
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def _png_unfilter(raw: bytes, width: int, height: int, channels: int) -> np.ndarray:
    """Reverse PNG scanline filtering (types 0-4, 8-bit depth) →
    ``(height, width*channels)`` uint8.  Sub/Up are vectorized (Sub is
    a per-channel prefix sum mod 256); Average/Paeth are per-pixel —
    fine for a correctness kernel; a production decoder is a codec."""
    stride = width * channels
    out = np.zeros((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int64)
    pos = 0
    for y in range(height):
        ft = raw[pos]
        line = np.frombuffer(raw[pos + 1 : pos + 1 + stride], dtype=np.uint8).astype(
            np.int64
        )
        pos += 1 + stride
        if ft == 0:
            cur = line
        elif ft == 1:  # Sub: prefix sum per channel, mod 256
            cur = np.cumsum(line.reshape(width, channels), axis=0).reshape(-1) & 0xFF
        elif ft == 2:  # Up
            cur = (line + prev) & 0xFF
        elif ft == 3:  # Average
            cur = np.zeros(stride, dtype=np.int64)
            for x in range(stride):
                a = cur[x - channels] if x >= channels else 0
                cur[x] = (line[x] + ((a + prev[x]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            cur = np.zeros(stride, dtype=np.int64)
            for x in range(stride):
                a = cur[x - channels] if x >= channels else 0
                b = prev[x]
                c = prev[x - channels] if x >= channels else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[x] = (line[x] + pred) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter type {ft}")
        out[y] = cur.astype(np.uint8)
        prev = cur
    return out


def decode_png(payload: bytes) -> dict | None:
    """Full PNG decode from bytes: chunk walk → IHDR, concatenated IDAT
    inflate, scanline unfilter.  Returns ``{width, height, channels,
    bit_depth, pixels}`` (pixels: (h, w, channels) uint8) or None when
    the payload is not a decodable PNG (interlaced, paletted and
    non-8-bit images are out of scope for the dependency-free path)."""
    try:
        if payload is None or not payload.startswith(_PNG_SIG):
            return None
        pos, width, height = len(_PNG_SIG), None, None
        bit_depth = color_type = interlace = None
        idat = bytearray()
        while pos + 8 <= len(payload):
            (length,) = struct.unpack(">I", payload[pos : pos + 4])
            ctype = payload[pos + 4 : pos + 8]
            data = payload[pos + 8 : pos + 8 + length]
            pos += 12 + length  # length + type + data + crc
            if ctype == b"IHDR":
                width, height, bit_depth, color_type, _, _, interlace = struct.unpack(
                    ">IIBBBBB", data
                )
            elif ctype == b"IDAT":
                idat.extend(data)
            elif ctype == b"IEND":
                break
        if width is None or bit_depth != 8 or interlace != 0:
            return None
        channels = _PNG_CHANNELS.get(color_type)
        if channels is None:
            return None
        raw = zlib.decompress(bytes(idat))
        if len(raw) != height * (1 + width * channels):
            return None
        px = _png_unfilter(raw, width, height, channels).reshape(
            height, width, channels
        )
        return {
            "width": width,
            "height": height,
            "channels": channels,
            "bit_depth": bit_depth,
            "pixels": px,
        }
    except Exception:
        return None


def decode_wav(payload: bytes) -> dict | None:
    """RIFF/WAVE parse + PCM sample decode (8/16-bit integer PCM).
    Returns ``{sample_rate, channels, bits, n_samples, duration_ms,
    samples}`` (samples: float64 in [-1, 1], mono-mixed) or None."""
    try:
        if payload is None or len(payload) < 44 or payload[:4] != b"RIFF" \
                or payload[8:12] != b"WAVE":
            return None
        pos = 12
        fmt = None
        data = None
        while pos + 8 <= len(payload):
            cid = payload[pos : pos + 4]
            (clen,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
            body = payload[pos + 8 : pos + 8 + clen]
            pos += 8 + clen + (clen & 1)  # chunks are word-aligned
            if cid == b"fmt ":
                fmt = struct.unpack("<HHIIHH", body[:16])
            elif cid == b"data":
                data = body
        if fmt is None or data is None:
            return None
        audio_fmt, channels, rate, _byte_rate, _block, bits = fmt
        if audio_fmt != 1 or bits not in (8, 16) or channels < 1:
            return None  # integer PCM only
        if bits == 16:
            s = np.frombuffer(data[: len(data) - (len(data) % 2)], dtype="<i2")
            samples = s.astype(np.float64) / 32768.0
        else:
            samples = (np.frombuffer(data, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
        if channels > 1:
            n = len(samples) // channels
            samples = samples[: n * channels].reshape(n, channels).mean(axis=1)
        n_samples = len(samples)
        return {
            "sample_rate": rate,
            "channels": channels,
            "bits": bits,
            "n_samples": n_samples,
            "duration_ms": int(n_samples * 1000 // rate) if rate else 0,
            "samples": samples,
        }
    except Exception:
        return None


def decode_jpeg(payload: bytes) -> dict | None:
    """JPEG structural parse (marker-segment walk, no entropy decode —
    a full DCT needs codec libraries this container lacks): SOI → walk
    FF-marker segments to the first SOF — frame dimensions, component
    count, bit precision, progressive-vs-baseline — counting DQT/DHT
    tables on the way.  Returns ``{width, height, components,
    precision, progressive, n_quant_tables, n_huffman_tables}`` or
    None when the bytes are not a JPEG."""
    try:
        if payload is None or len(payload) < 4 or payload[:2] != b"\xff\xd8":
            return None
        pos = 2
        n_dqt = n_dht = 0
        while pos + 4 <= len(payload):
            if payload[pos] != 0xFF:
                return None
            marker = payload[pos + 1]
            if marker == 0xD8 or 0xD0 <= marker <= 0xD7:  # SOI/RSTn: bare
                pos += 2
                continue
            if marker == 0xD9:  # EOI before any frame header
                return None
            (seg_len,) = struct.unpack(">H", payload[pos + 2 : pos + 4])
            body = payload[pos + 4 : pos + 2 + seg_len]
            if marker == 0xDB:
                n_dqt += 1
            elif marker == 0xC4:
                n_dht += 1
            elif marker in (0xC0, 0xC1, 0xC2, 0xC3):  # SOF0-3
                precision = body[0]
                height, width = struct.unpack(">HH", body[1:5])
                components = body[5]
                return {
                    "width": int(width),
                    "height": int(height),
                    "components": int(components),
                    "precision": int(precision),
                    "progressive": marker == 0xC2,
                    "n_quant_tables": n_dqt,
                    "n_huffman_tables": n_dht,
                }
            elif marker == 0xDA:  # SOS before SOF: malformed
                return None
            pos += 2 + seg_len
        return None
    except Exception:
        return None


def _jpeg_features(d: dict, dim: int) -> np.ndarray:
    """Feature vector from real JPEG frame structure (no pixels without
    an entropy decoder): dimensions, components, precision, mode and
    table counts."""
    head = [
        float(d["width"]),
        float(d["height"]),
        float(d["components"]),
        float(d["precision"]),
        1.0 if d["progressive"] else 0.0,
        float(d["n_quant_tables"]),
        float(d["n_huffman_tables"]),
    ]
    return np.concatenate([head, np.zeros(max(0, dim - len(head)))])[:dim].astype(
        np.float32
    )


def _png_features(d: dict, dim: int) -> np.ndarray:
    """Feature vector from real pixel structure: dimensions + per-channel
    means + luminance std, padded with a coarse luminance histogram."""
    px = d["pixels"].astype(np.float64)
    lum = px.mean(axis=2)
    means = px.reshape(-1, d["channels"]).mean(axis=0) / 255.0
    head = [
        float(d["width"]),
        float(d["height"]),
        float(d["channels"]),
        *[float(m) for m in means[:3]],
        float(lum.std() / 255.0),
    ]
    hist, _ = np.histogram(lum, bins=max(1, dim - len(head)), range=(0.0, 255.0))
    tail = hist.astype(np.float64) / max(1, lum.size)
    return np.concatenate([head, tail])[:dim].astype(np.float32)


def _wav_features(d: dict, dim: int) -> np.ndarray:
    """Feature vector from real PCM samples: rate/shape + RMS, peak,
    zero-crossing rate, mean absolute amplitude."""
    s = d["samples"]
    zc = int(np.count_nonzero(np.signbit(s[1:]) != np.signbit(s[:-1]))) if len(s) > 1 else 0
    head = [
        float(d["sample_rate"]),
        float(d["channels"]),
        float(d["duration_ms"]),
        float(np.sqrt(np.mean(s**2))) if len(s) else 0.0,
        float(np.max(np.abs(s))) if len(s) else 0.0,
        float(zc) / max(1, len(s) - 1),
        float(np.mean(np.abs(s))) if len(s) else 0.0,
    ]
    return np.concatenate([head, np.zeros(max(0, dim - len(head)))])[:dim].astype(
        np.float32
    )


def _fake_decode(payload: bytes, dim: int = 16) -> np.ndarray:
    """STUB decode: deterministic pseudo-feature from the payload hash.

    A real deployment replaces this body with PIL/ffmpeg decode +
    model inference; everything around it (Arrow batching, schema,
    partition sizing) is production-shaped.
    """
    if payload is None:
        return np.zeros(dim, dtype=np.float32)
    h = hashlib.sha256(payload).digest()
    raw = np.frombuffer((h * ((dim * 4) // len(h) + 1))[: dim * 4], dtype=np.uint32)
    return (raw.astype(np.float64) / 2**32).astype(np.float32)


def decode_features(payload: bytes, dim: int = 16) -> np.ndarray | None:
    """Feature vector for one payload: REAL decode when the bytes are a
    PNG or WAV (pure-stdlib decoders above — features are functions of
    actual pixel/sample structure), REAL structural parse for JPEG
    (frame header: dims/components/mode — entropy decode needs codec
    libraries this container lacks), sha256 stub otherwise
    (declared)."""
    if payload is None:
        return None
    d = decode_png(payload)
    if d is not None:
        return _png_features(d, dim)
    d = decode_wav(payload)
    if d is not None:
        return _wav_features(d, dim)
    d = decode_jpeg(payload)
    if d is not None:
        return _jpeg_features(d, dim)
    return _fake_decode(payload, dim)


def extract_features(media: DataFrame, dim: int = 16) -> DataFrame:
    """mapInPandas feature extraction: one Arrow batch in, one out.

    Batches arrive sized by ``spark.sql.execution.arrow.maxRecordsPerBatch``;
    at scale, repartition upstream so one task holds O(batch) payloads
    in memory, never the whole partition's media in one pandas frame.
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                (lambda f: f.tolist() if f is not None else None)(
                    decode_features(p, dim)
                )
                for p in pdf["payload"]
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "feature": feats,
                    "n_bytes": [
                        len(p) if p is not None else 0 for p in pdf["payload"]
                    ],
                }
            )

    return media.mapInPandas(kernel, schema=FEATURE_SCHEMA)


def media_feature_summary(media: DataFrame, dim: int = 16) -> DataFrame:
    """Contract-friendly scalar view of :func:`extract_features`:
    ``(media_id, kind, n_bytes, feat_sum)`` where ``feat_sum`` is the
    6-dp-rounded sum of the feature vector — hashable scalars only (the
    driver's canonicalizer cannot sort an ``array<float>`` column), and
    fully reproducible in the DuckDB oracle because the stub decode is
    sha256-of-an-ASCII-payload."""
    from aqueduct_core_spark.functions.text import round6

    feats = extract_features(media, dim)
    feat_sum = F.aggregate(
        F.col("feature"), F.lit(0.0), lambda acc, v: acc + v.cast("double")
    )
    return feats.select(
        "media_id", "kind", "n_bytes", round6(feat_sum).alias("feat_sum")
    )


RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("channels", T.IntegerType(), True),
        T.StructField("out_w", T.IntegerType(), True),
        T.StructField("out_h", T.IntegerType(), True),
        T.StructField("pixels", T.BinaryType(), True),  # out_h·out_w·channels uint8
    ]
)


def resize_pixels(px: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Nearest-neighbor resample via numpy fancy indexing (pure
    vectorized — no per-pixel Python): output cell (i, j) samples the
    source pixel whose center is nearest to the cell center, the
    standard half-pixel-offset convention (``floor((i+0.5)·h/out_h)``,
    clamped).  Deterministic, dependency-free, and exact for integer
    upscales of solid regions."""
    h, w = px.shape[:2]
    rows = np.minimum(
        ((np.arange(out_h) + 0.5) * h / out_h).astype(np.int64), h - 1
    )
    cols = np.minimum(
        ((np.arange(out_w) + 0.5) * w / out_w).astype(np.int64), w - 1
    )
    return px[rows][:, cols]


def resize_images(media: DataFrame, out_w: int = 32, out_h: int = 32) -> DataFrame:
    """Image resize as an Arrow-batched ``mapInPandas`` kernel (the
    brief's decode → resize step): PNGs are REALLY decoded
    (:func:`decode_png` — inflate + unfilter) and nearest-neighbor
    resampled to ``(out_h, out_w)``; the thumbnail rides out as a raw
    ``uint8`` binary of ``out_h·out_w·channels`` bytes plus the source
    dims.  Non-decodable payloads (JPEG entropy data needs a codec
    library; see module header) yield a row with NULL dims/pixels —
    the count of those is the honest decode-coverage metric.  Same
    batch-shape rules as :func:`extract_features`: one Arrow batch of
    payloads in memory per task, never the whole partition."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                d = decode_png(payload)
                # a zero-width or zero-height image has no pixel to sample
                if d is None or not d["width"] or not d["height"]:
                    rows.append((mid, None, None, None, None, None, None))
                    continue
                small = resize_pixels(d["pixels"], out_w, out_h)
                rows.append(
                    (
                        mid,
                        d["width"],
                        d["height"],
                        d["channels"],
                        out_w,
                        out_h,
                        np.ascontiguousarray(small, dtype=np.uint8).tobytes(),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "width", "height", "channels",
                    "out_w", "out_h", "pixels",
                ],
            )

    return media.mapInPandas(kernel, schema=RESIZE_SCHEMA)


RESAMPLE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("n_samples", T.IntegerType(), True),
        T.StructField("out_rate", T.IntegerType(), True),
        T.StructField("out_n", T.IntegerType(), True),
        T.StructField("pcm", T.BinaryType(), True),  # out_n × int16 LE
    ]
)


def resample_audio(media: DataFrame, out_rate: int = 16000) -> DataFrame:
    """Audio resample — the resize kernel's audio sibling: WAVs are
    REALLY decoded (:func:`decode_wav` — RIFF walk + PCM, mono-mixed)
    and nearest-sample resampled to ``out_rate`` with the same
    half-offset convention as :func:`resize_pixels` (output sample i
    takes source sample ``floor((i+0.5)·rate/out_rate)``, clamped;
    vectorized fancy indexing, no interpolation — the deterministic
    dependency-free tier; a codec library would swap in a polyphase
    filter behind the same schema).  Output rides as little-endian
    int16 PCM bytes.  Non-decodable payloads yield NULL rows, never
    exceptions — the null count is the decode-coverage metric."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                d = decode_wav(payload)
                # a WAV with zero samples has no sample to resample
                if d is None or not d["sample_rate"] or not d["n_samples"]:
                    rows.append((mid, None, None, None, None, None))
                    continue
                x = d["samples"]
                out_n = max(1, int(len(x) * out_rate // d["sample_rate"]))
                idx = np.minimum(
                    ((np.arange(out_n) + 0.5) * len(x) / out_n).astype(np.int64),
                    len(x) - 1,
                )
                pcm = np.clip(x[idx] * 32767.0, -32768, 32767).astype("<i2")
                rows.append(
                    (
                        mid,
                        d["sample_rate"],
                        d["n_samples"],
                        out_rate,
                        out_n,
                        pcm.tobytes(),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "sample_rate", "n_samples",
                    "out_rate", "out_n", "pcm",
                ],
            )

    return media.mapInPandas(kernel, schema=RESAMPLE_SCHEMA)


# ---------------------------------------------------------------------------
# Deterministic real-format encoders (test/bench inputs; stdlib only)
# ---------------------------------------------------------------------------

def make_png(width: int, height: int, rgb: tuple[int, int, int]) -> bytes:
    """A real, spec-valid solid-color RGB PNG (8-bit, filter 0, correct
    CRCs) built with stdlib zlib — decodable by any PNG reader."""

    def chunk(ctype: bytes, data: bytes) -> bytes:
        crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
        return struct.pack(">I", len(data)) + ctype + data + struct.pack(">I", crc)

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    row = b"\x00" + bytes(rgb) * width  # filter type 0 + pixels
    idat = zlib.compress(row * height)
    return _PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat) + chunk(b"IEND", b"")


def make_wav(
    sample_rate: int, n_samples: int, amplitude: int, half_period: int
) -> bytes:
    """A real 16-bit mono PCM WAV containing a ±amplitude square wave
    with the given half period (samples) — every derived feature
    (duration, RMS, zero crossings) is exact integer arithmetic, which
    is what lets an oracle predict them without parsing bytes."""
    idx = np.arange(n_samples)
    samples = np.where((idx // half_period) % 2 == 0, amplitude, -amplitude).astype(
        "<i2"
    )
    data = samples.tobytes()
    byte_rate = sample_rate * 2
    hdr = (
        b"RIFF"
        + struct.pack("<I", 36 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, sample_rate, byte_rate, 2, 16)
        + b"data"
        + struct.pack("<I", len(data))
    )
    return hdr + data


def make_jpeg(
    width: int,
    height: int,
    components: int = 3,
    progressive: bool = False,
    n_dqt: int = 1,
    n_dht: int = 2,
) -> bytes:
    """A minimal spec-shaped JPEG header stream (SOI → DQT/DHT tables →
    SOF0/SOF2 → SOS → entropy junk → EOI).  The entropy-coded body is
    not valid DCT data — no dependency-free encoder exists — but every
    STRUCTURAL field the marker-walk parser reads (dimensions,
    components, precision, mode, table counts) is real and exercises
    the same segment arithmetic a camera JPEG does."""
    sof = 0xC2 if progressive else 0xC0
    comps = b"".join(bytes([i + 1, 0x11, 0]) for i in range(components))
    sof_body = (
        bytes([8]) + struct.pack(">HH", height, width) + bytes([components]) + comps
    )
    out = b"\xff\xd8"  # SOI
    for _ in range(n_dqt):
        out += b"\xff\xdb" + struct.pack(">H", 2 + 65) + bytes(65)
    for _ in range(n_dht):
        out += b"\xff\xc4" + struct.pack(">H", 2 + 19) + bytes(19)
    out += bytes([0xFF, sof]) + struct.pack(">H", 2 + len(sof_body)) + sof_body
    out += b"\xff\xda" + struct.pack(">H", 4) + b"\x00\x00"  # SOS
    return out + b"entropy-coded-payload" + b"\xff\xd9"


def synthetic_real_media(spark, n: int = 32) -> DataFrame:
    """Deterministic MIXED table of real media payloads — WAV (i%3=0),
    PNG (i%3=1), JPEG headers (i%3=2), parameters pure functions of
    ``media_id`` (j = i//3 is the per-kind index), so an oracle can
    predict every decoded field arithmetically without seeing bytes."""
    rows = []
    for i in range(n):
        j = i // 3
        if i % 3 == 0:
            payload = make_wav(8000 + 100 * j, 400 + 10 * j, 1000 + j, 4 + (j % 5))
            kind = "audio"
        elif i % 3 == 1:
            payload = make_png(
                16 + (j % 8), 8 + (j % 5),
                (j % 256, (2 * j) % 256, (3 * j) % 256),
            )
            kind = "image"
        else:
            payload = make_jpeg(
                320 + j, 240 + j,
                components=1 + (j % 3),
                progressive=(j % 2 == 1),
                n_dqt=1 + (j % 2),
                n_dht=1 + (j % 3),
            )
            kind = "image"
        rows.append((i, kind, payload, None))
    return spark.createDataFrame(rows, MEDIA_SCHEMA).coalesce(2)


def real_decode_summary(media: DataFrame) -> DataFrame:
    """Contract view of the REAL media decode across all three byte
    formats: each payload is sniffed by magic and parsed by the
    matching stdlib decoder (RIFF/PCM, PNG chunk-walk + inflate, JPEG
    marker walk) inside ONE mapInPandas kernel.  Columns are chosen to
    be exactly predictable from the synthesis parameters — WAV
    square-wave RMS = amp/32768, PNG solid-fill pixel mean =
    (r+g+b)/3, JPEG frame/table fields verbatim — so the DuckDB
    oracle is an independent arithmetic check: if any parser misreads
    a header field, a sample or a pixel, the hash mismatches.
    (``n_bytes`` is WAV-only: PNG length depends on zlib's compressor
    and JPEG length on table counts — not arithmetic contracts.)"""
    from aqueduct_core_spark.functions.text import round6

    cols = [
        "media_id", "kind", "width", "height", "components",
        "sample_rate", "duration_ms", "progressive",
        "n_quant_tables", "n_huffman_tables",
        "px_mean", "rms", "zcr", "n_bytes",
    ]

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                row = {c: None for c in cols}
                row["media_id"] = int(mid)
                w = decode_wav(payload)
                if w is not None:
                    s = w["samples"]
                    zc = int(
                        np.count_nonzero(np.signbit(s[1:]) != np.signbit(s[:-1]))
                    )
                    row.update(
                        kind="wav",
                        components=int(w["channels"]),
                        sample_rate=int(w["sample_rate"]),
                        duration_ms=int(w["duration_ms"]),
                        rms=float(np.sqrt(np.mean(s**2))),
                        zcr=float(zc) / max(1, len(s) - 1),
                        n_bytes=int(len(payload)),
                    )
                    out.append(row)
                    continue
                p = decode_png(payload)
                if p is not None:
                    row.update(
                        kind="png",
                        width=int(p["width"]),
                        height=int(p["height"]),
                        components=int(p["channels"]),
                        px_mean=float(np.mean(p["pixels"])),
                    )
                    out.append(row)
                    continue
                j = decode_jpeg(payload)
                if j is not None:
                    row.update(
                        kind="jpeg",
                        width=int(j["width"]),
                        height=int(j["height"]),
                        components=int(j["components"]),
                        progressive=bool(j["progressive"]),
                        n_quant_tables=int(j["n_quant_tables"]),
                        n_huffman_tables=int(j["n_huffman_tables"]),
                    )
                    out.append(row)
            yield pd.DataFrame(out, columns=cols)

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("kind", T.StringType(), True),
            T.StructField("width", T.IntegerType(), True),
            T.StructField("height", T.IntegerType(), True),
            T.StructField("components", T.IntegerType(), True),
            T.StructField("sample_rate", T.IntegerType(), True),
            T.StructField("duration_ms", T.IntegerType(), True),
            T.StructField("progressive", T.BooleanType(), True),
            T.StructField("n_quant_tables", T.IntegerType(), True),
            T.StructField("n_huffman_tables", T.IntegerType(), True),
            T.StructField("px_mean", T.DoubleType(), True),
            T.StructField("rms", T.DoubleType(), True),
            T.StructField("zcr", T.DoubleType(), True),
            T.StructField("n_bytes", T.IntegerType(), True),
        ]
    )
    decoded = media.mapInPandas(kernel, schema=schema)
    return decoded.select(
        "media_id", "kind", "width", "height", "components",
        "sample_rate", "duration_ms", "progressive",
        "n_quant_tables", "n_huffman_tables",
        round6(F.col("px_mean")).alias("px_mean"),
        round6(F.col("rms")).alias("rms"),
        round6(F.col("zcr")).alias("zcr"),
        "n_bytes",
    )


def synthetic_media(spark, n: int = 64) -> DataFrame:
    """Deterministic fake media table for tests (no external data).

    Payloads are ASCII hex strings (not raw digest bytes) so the DuckDB
    oracle — whose ``sha256`` only accepts VARCHAR — can recompute the
    stub decode byte-for-byte."""
    rows = []
    kinds = ["image", "audio", "video"]
    for i in range(n):
        kind = kinds[i % 3]
        payload = (hashlib.sha256(str(i).encode()).hexdigest() * (1 + i % 4)).encode("ascii")
        meta = {
            "width": 64 + i if kind == "image" else None,
            "height": 48 + i if kind == "image" else None,
            "sample_rate": 16000 if kind == "audio" else None,
            "duration_ms": 2500 + 100 * i if kind == "video" else None,
        }
        rows.append((i, kind, payload, meta))
    # few partitions: Arrow batches should be payload-bound, not
    # task-overhead-bound, for a tiny synthetic table
    return spark.createDataFrame(rows, MEDIA_SCHEMA).coalesce(4)
