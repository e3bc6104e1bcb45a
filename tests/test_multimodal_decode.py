"""Real media decode: dependency-free PNG and WAV decoders.

The PNG tests craft spec-valid files (including filtered scanlines) by
hand; the WAV test writes through the stdlib ``wave`` module — an
independent encoder, so a parser bug cannot self-certify.
"""

import io
import struct
import wave
import zlib

import numpy as np

from aqueduct_core_spark.functions.multimodal import (
    _PNG_SIG,
    decode_features,
    decode_png,
    decode_wav,
    extract_features,
    make_png,
    make_wav,
    real_decode_summary,
    synthetic_real_media,
)


def _chunk(ctype: bytes, data: bytes) -> bytes:
    crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
    return struct.pack(">I", len(data)) + ctype + data + struct.pack(">I", crc)


def _png_from_raw(width: int, height: int, raw: bytes, color_type: int = 2) -> bytes:
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    return (
        _PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw))
        + _chunk(b"IEND", b"")
    )


def test_png_solid_color_dimensions_and_pixels():
    png = make_png(13, 7, (200, 100, 50))
    d = decode_png(png)
    assert d is not None
    assert (d["width"], d["height"], d["channels"]) == (13, 7, 3)
    assert d["pixels"].shape == (7, 13, 3)
    assert (d["pixels"][:, :, 0] == 200).all()
    assert (d["pixels"][:, :, 1] == 100).all()
    assert (d["pixels"][:, :, 2] == 50).all()


def test_png_all_filter_types_roundtrip():
    """Encode a known gradient with every filter type and check the
    unfilter reconstructs the exact pixels."""
    w, h, c = 5, 5, 3
    rng = np.random.RandomState(3)
    img = rng.randint(0, 256, size=(h, w, c), dtype=np.uint8)

    def flt(ft, cur, prev):
        cur = cur.astype(np.int64)
        prev = prev.astype(np.int64)
        out = np.zeros_like(cur)
        for x in range(len(cur)):
            a = cur[x - c] if x >= c else 0
            b = prev[x]
            cc = prev[x - c] if x >= c else 0
            if ft == 0:
                pred = 0
            elif ft == 1:
                pred = a
            elif ft == 2:
                pred = b
            elif ft == 3:
                pred = (a + b) >> 1
            else:
                p = a + b - cc
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
            out[x] = (cur[x] - pred) & 0xFF
        return out.astype(np.uint8)

    raw = bytearray()
    prev = np.zeros(w * c, dtype=np.uint8)
    for y in range(h):
        ft = y % 5  # exercise filters 0..4
        cur = img[y].reshape(-1)
        raw.append(ft)
        raw.extend(flt(ft, cur, prev).tobytes())
        prev = cur
    d = decode_png(_png_from_raw(w, h, bytes(raw)))
    assert d is not None
    assert (d["pixels"] == img).all()


def test_png_rejects_garbage_and_unsupported():
    assert decode_png(b"not a png") is None
    assert decode_png(None) is None
    # 16-bit depth unsupported -> clean None, not a crash
    ihdr = struct.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0)
    bad = _PNG_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IEND", b"")
    assert decode_png(bad) is None


def test_wav_stdlib_roundtrip():
    """Independent encoder: stdlib wave writes a stereo 16-bit file."""
    rate, n = 22050, 1000
    t = np.arange(n)
    left = (np.sin(2 * np.pi * 440 * t / rate) * 12000).astype("<i2")
    right = (np.cos(2 * np.pi * 220 * t / rate) * 8000).astype("<i2")
    inter = np.empty(2 * n, dtype="<i2")
    inter[0::2], inter[1::2] = left, right
    buf = io.BytesIO()
    with wave.open(buf, "wb") as f:
        f.setnchannels(2)
        f.setsampwidth(2)
        f.setframerate(rate)
        f.writeframes(inter.tobytes())
    d = decode_wav(buf.getvalue())
    assert d is not None
    assert d["sample_rate"] == rate and d["channels"] == 2 and d["bits"] == 16
    assert d["n_samples"] == n
    assert d["duration_ms"] == n * 1000 // rate
    expect = (left.astype(np.float64) + right.astype(np.float64)) / 2 / 32768.0
    assert np.allclose(d["samples"], expect)


def test_wav_square_wave_exact_features():
    wav = make_wav(8000, 400, 1000, 4)
    d = decode_wav(wav)
    assert d["sample_rate"] == 8000 and d["n_samples"] == 400
    rms = float(np.sqrt(np.mean(d["samples"] ** 2)))
    assert rms == 1000 / 32768.0  # exact: power-of-two denominator
    assert len(wav) == 44 + 800


def test_decode_features_tiers():
    """PNG/WAV payloads produce structure-derived features; opaque
    payloads fall back to the declared sha256 stub."""
    f_png = decode_features(make_png(16, 8, (10, 20, 30)))
    assert f_png[0] == 16.0 and f_png[1] == 8.0 and f_png[2] == 3.0
    assert abs(f_png[3] - 10 / 255) < 1e-6
    f_wav = decode_features(make_wav(16000, 320, 2000, 5))
    assert f_wav[0] == 16000.0 and f_wav[2] == float(320 * 1000 // 16000)
    f_opaque = decode_features(b"opaque bytes")
    assert len(f_opaque) == 16 and (f_opaque >= 0).all() and (f_opaque < 1).all()


def test_extract_features_mixed_kinds(spark):
    """The Spark kernel routes each payload to the right decoder."""
    from aqueduct_core_spark.functions.multimodal import MEDIA_SCHEMA

    rows = [
        (0, "image", make_png(12, 6, (255, 0, 0)), None),
        (1, "audio", make_wav(8000, 400, 1000, 4), None),
        (2, "image", b"not decodable", None),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {r["media_id"]: r for r in extract_features(df).collect()}
    assert out[0]["feature"][0] == 12.0 and out[0]["feature"][1] == 6.0
    assert out[1]["feature"][0] == 8000.0
    assert out[2]["feature"] is not None  # stub path still yields features


def test_real_decode_summary_matches_arithmetic(spark):
    """End-to-end over the MIXED corpus (WAV/PNG/JPEG by media_id % 3):
    bytes built → sniffed + parsed in the kernel → equals the
    closed-form prediction (what the DuckDB oracle recomputes)."""
    got = {
        r["media_id"]: r
        for r in real_decode_summary(synthetic_real_media(spark, n=12)).collect()
    }
    assert len(got) == 12
    for i in range(12):
        r, j = got[i], i // 3
        if i % 3 == 0:
            rate, n, amp, half = 8000 + 100 * j, 400 + 10 * j, 1000 + j, 4 + (j % 5)
            assert r["kind"] == "wav"
            assert r["sample_rate"] == rate
            assert r["duration_ms"] == n * 1000 // rate
            assert r["n_bytes"] == 44 + 2 * n
            assert abs(r["rms"] - amp / 32768.0) < 1e-6
            assert abs(r["zcr"] - ((n - 1) // half) / (n - 1)) < 1e-6
            assert r["width"] is None and r["progressive"] is None
        elif i % 3 == 1:
            w, h = 16 + (j % 8), 8 + (j % 5)
            rgb = (j % 256, (2 * j) % 256, (3 * j) % 256)
            assert r["kind"] == "png"
            assert (r["width"], r["height"], r["components"]) == (w, h, 3)
            assert abs(r["px_mean"] - sum(rgb) / 3) < 1e-5
            assert r["rms"] is None and r["n_bytes"] is None
        else:
            assert r["kind"] == "jpeg"
            assert (r["width"], r["height"]) == (320 + j, 240 + j)
            assert r["components"] == 1 + (j % 3)
            assert r["progressive"] is (j % 2 == 1)
            assert r["n_quant_tables"] == 1 + (j % 2)
            assert r["n_huffman_tables"] == 1 + (j % 3)
            assert r["px_mean"] is None and r["sample_rate"] is None


def _jpeg_bytes(width, height, components=3, progressive=False):
    """Hand-built minimal JPEG header stream: SOI, DQT, DHT, SOF, SOS."""
    import struct

    sof = 0xC2 if progressive else 0xC0
    comps = b"".join(bytes([i + 1, 0x11, 0]) for i in range(components))
    sof_body = bytes([8]) + struct.pack(">HH", height, width) + bytes([components]) + comps
    out = b"\xff\xd8"                                     # SOI
    out += b"\xff\xdb" + struct.pack(">H", 2 + 65) + bytes(65)   # DQT
    out += b"\xff\xc4" + struct.pack(">H", 2 + 19) + bytes(19)   # DHT
    out += bytes([0xFF, sof]) + struct.pack(">H", 2 + len(sof_body)) + sof_body
    out += b"\xff\xda" + struct.pack(">H", 4) + b"\x00\x00"      # SOS
    return out + b"entropy-coded-junk" + b"\xff\xd9"


def test_decode_jpeg_structural_parse():
    from aqueduct_core_spark.functions.multimodal import decode_features, decode_jpeg

    d = decode_jpeg(_jpeg_bytes(640, 480))
    assert d == {"width": 640, "height": 480, "components": 3,
                 "precision": 8, "progressive": False,
                 "n_quant_tables": 1, "n_huffman_tables": 1}

    p = decode_jpeg(_jpeg_bytes(31, 17, components=1, progressive=True))
    assert p["width"] == 31 and p["height"] == 17
    assert p["components"] == 1 and p["progressive"] is True

    # non-JPEG and truncated/malformed inputs are None, never raise
    assert decode_jpeg(b"notajpeg") is None
    assert decode_jpeg(None) is None
    assert decode_jpeg(b"\xff\xd8\xff") is None
    assert decode_jpeg(b"\xff\xd8" + b"\xff\xda\x00\x04\x00\x00") is None  # SOS first

    # decode_features routes JPEG bytes to the structural features
    f = decode_features(_jpeg_bytes(640, 480), dim=16)
    assert list(f[:5]) == [640.0, 480.0, 3.0, 8.0, 0.0]


# --- resize (decode -> nearest-neighbor resample, r5) ---


def test_resize_pixels_nearest_neighbor_math():
    import numpy as np

    from aqueduct_core_spark.functions.multimodal import resize_pixels

    # 4x4 gradient; downsample to 2x2 picks the half-pixel-centered
    # sources: rows/cols floor((i+0.5)*4/2) = 1, 3
    px = np.arange(16, dtype=np.uint8).reshape(4, 4, 1)
    small = resize_pixels(px, 2, 2)
    assert small.shape == (2, 2, 1)
    assert small.reshape(2, 2).tolist() == [[5, 7], [13, 15]]
    # upscale of a solid block stays solid
    solid = np.full((3, 3, 3), 9, dtype=np.uint8)
    up = resize_pixels(solid, 7, 5)
    assert up.shape == (5, 7, 3) and (up == 9).all()


def test_resize_images_kernel_real_png_and_honest_nulls(spark):
    import numpy as np

    from aqueduct_core_spark.functions.multimodal import (
        MEDIA_SCHEMA, make_png, resize_images,
    )

    rows = [
        (1, "image", bytearray(make_png(16, 8, (200, 100, 50))), None),
        (2, "image", bytearray(b"not-a-png"), None),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {r["media_id"]: r for r in resize_images(media, 4, 2).collect()}
    ok = out[1]
    assert (ok["width"], ok["height"], ok["channels"]) == (16, 8, 3)
    assert (ok["out_w"], ok["out_h"]) == (4, 2)
    px = np.frombuffer(bytes(ok["pixels"]), dtype=np.uint8).reshape(2, 4, 3)
    assert (px == np.array([200, 100, 50], dtype=np.uint8)).all()
    # non-decodable payload -> honest NULL row, never an exception
    bad = out[2]
    assert bad["pixels"] is None and bad["width"] is None


def test_resize_images_zero_width_or_height_png_is_null_row(spark):
    """A PNG whose IHDR declares zero width or zero height decodes to
    an empty pixel array; the kernel must emit the NULL row (no pixel
    to sample), never raise."""
    from aqueduct_core_spark.functions.multimodal import MEDIA_SCHEMA, resize_images

    rows = [
        (1, "image", bytearray(_png_from_raw(0, 3, b"\x00" * 3)), None),
        (2, "image", bytearray(_png_from_raw(3, 0, b"")), None),
        (3, "image", bytearray(make_png(2, 2, (1, 2, 3))), None),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {r["media_id"]: r for r in resize_images(media, 4, 2).collect()}
    for mid in (1, 2):
        assert out[mid]["pixels"] is None and out[mid]["width"] is None, mid
    assert out[3]["pixels"] is not None and out[3]["width"] == 2


def test_resample_audio_kernel_square_wave_and_nulls(spark):
    import numpy as np

    from aqueduct_core_spark.functions.multimodal import (
        MEDIA_SCHEMA, make_wav, resample_audio,
    )

    # 8 kHz square wave, half-period 4 samples -> resampled to 4 kHz the
    # half-offset rule picks source samples 1,3,5,... preserving the
    # +amp/-amp alternation every 2 output samples
    wav = make_wav(8000, 64, amplitude=16384, half_period=4)
    rows = [
        (1, "audio", bytearray(wav), None),
        (2, "audio", bytearray(b"not-a-wav"), None),
    ]
    out = {
        r["media_id"]: r
        for r in resample_audio(
            spark.createDataFrame(rows, MEDIA_SCHEMA), out_rate=4000
        ).collect()
    }
    ok = out[1]
    assert (ok["sample_rate"], ok["n_samples"]) == (8000, 64)
    assert (ok["out_rate"], ok["out_n"]) == (4000, 32)
    pcm = np.frombuffer(bytes(ok["pcm"]), dtype="<i2")
    assert len(pcm) == 32
    # square wave survives: |sample| is the (scaled) amplitude everywhere
    amp = 16384 / 32768.0 * 32767.0
    assert (np.abs(pcm.astype(np.int64)) == int(amp)).all()
    # alternation every half_period/2 = 2 output samples
    assert (pcm[:4] == np.array([pcm[0], pcm[0], -pcm[0], -pcm[0]])).all()
    assert out[2]["pcm"] is None and out[2]["sample_rate"] is None


def test_resample_audio_zero_sample_wav_is_null_row(spark):
    """A well-formed WAV carrying zero samples must become a NULL row
    (nothing to resample), never an exception."""
    from aqueduct_core_spark.functions.multimodal import MEDIA_SCHEMA, resample_audio

    rows = [
        (1, "audio", bytearray(make_wav(8000, 0, amplitude=16384, half_period=4)), None),
        (2, "audio", bytearray(make_wav(8000, 8, amplitude=16384, half_period=4)), None),
    ]
    out = {
        r["media_id"]: r
        for r in resample_audio(
            spark.createDataFrame(rows, MEDIA_SCHEMA), out_rate=4000
        ).collect()
    }
    assert out[1]["pcm"] is None and out[1]["sample_rate"] is None
    assert out[2]["out_n"] == 4 and out[2]["pcm"] is not None
