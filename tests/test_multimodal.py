"""Real stdlib media codecs (PPM/WAV) + Spark feature extraction."""

from __future__ import annotations

import numpy as np
import pytest

from kgforge.multimodal import (
    decode_ppm,
    decode_real,
    decode_wav,
    encode_ppm,
    encode_wav,
    extract_media_features,
    frame_sample,
    resize_nearest,
)


def test_ppm_roundtrip_exact():
    blob = encode_ppm(17, 9, seed=4)
    img = decode_ppm(blob)
    assert img.shape == (9, 17, 3)
    # spot-check the generator formula
    assert img[0, 0, 0] == 4 % 256 and img[2, 3, 1] == (2 * 13 + 12) % 256


def test_ppm_header_with_comment():
    img = encode_ppm(4, 2, seed=0)
    commented = b"P6\n# a comment\n4 2\n255\n" + img.split(b"255\n", 1)[1]
    assert np.array_equal(decode_ppm(commented), decode_ppm(img))


def test_resize_nearest_known_grid():
    img = np.arange(16, dtype=np.uint8).reshape(4, 4, 1)
    small = resize_nearest(img, 2, 2)
    assert small[:, :, 0].tolist() == [[0, 2], [8, 10]]
    big = resize_nearest(img, 8, 8)
    assert big.shape == (8, 8, 1)
    assert big[0, 0, 0] == 0 and big[7, 7, 0] == 15


def test_wav_roundtrip_and_frame_sample():
    blob = encode_wav(1000, rate=8000, seed=2)
    samples, rate = decode_wav(blob)
    assert rate == 8000 and len(samples) == 1000
    t = np.arange(1000, dtype=np.int64)
    expect = (((t * 39) % 20001) - 10000).astype(np.int16)
    assert np.array_equal(samples, expect)
    picked = frame_sample(samples, 10)
    assert len(picked) == 10 and picked[0] == samples[0]


def test_decode_real_dispatch_and_unsupported():
    assert decode_real(encode_ppm(8, 8))["kind"] == "image/ppm"
    assert decode_real(encode_wav(64))["kind"] == "audio/wav"
    with pytest.raises(ValueError, match="JPEG"):
        decode_real(b"\xff\xd8\xff\xe0xxxx")
    with pytest.raises(ValueError, match="unsupported"):
        decode_real(b"garbage")


# --- PNG (VERDICT r3 #3: the real zlib decoder, every filter branch) ---


def _test_img(w=13, h=7, seed=5):
    return decode_ppm(encode_ppm(w, h, seed=seed))


@pytest.mark.parametrize("ftype", [0, 1, 2, 3, 4])
def test_png_roundtrip_every_filter(ftype):
    """encode with filter f on every scanline -> decode must invert it
    bit-for-bit (None/Sub/Up/Average/Paeth all exercised)."""
    from kgforge.multimodal import decode_png, encode_png

    img = _test_img()
    assert np.array_equal(decode_png(encode_png(img, filter_type=ftype)), img)


def test_png_gray_palette_alpha_color_types():
    """Hand-built gray (type 0), palette (type 3) and RGBA (type 6) PNGs:
    gray replicates to RGB, palette is looked up, alpha is dropped."""
    import struct
    import zlib

    from kgforge.multimodal import _png_chunk, decode_png

    def build(w, h, color, payload, extra=b""):
        ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
        return (
            b"\x89PNG\r\n\x1a\n"
            + _png_chunk(b"IHDR", ihdr)
            + extra
            + _png_chunk(b"IDAT", zlib.compress(payload))
            + _png_chunk(b"IEND", b"")
        )

    # 2x2 gray ramp, filter 0 rows
    gray = build(2, 2, 0, b"\x00\x0a\x14\x00\x1e\x28")
    g = decode_png(gray)
    assert g.shape == (2, 2, 3) and g[0, 0].tolist() == [10, 10, 10]
    assert g[1, 1].tolist() == [40, 40, 40]

    # 2x1 palette: indices 1,0 into [(255,0,0),(0,255,0)]
    plte = _png_chunk(b"PLTE", bytes([255, 0, 0, 0, 255, 0]))
    pal = build(2, 1, 3, b"\x00\x01\x00", extra=plte)
    p = decode_png(pal)
    assert p[0, 0].tolist() == [0, 255, 0] and p[0, 1].tolist() == [255, 0, 0]

    # 1x1 RGBA: alpha dropped
    rgba = build(1, 1, 6, b"\x00\x09\x08\x07\x80")
    assert decode_png(rgba)[0, 0].tolist() == [9, 8, 7]


def test_png_rejects_corruption_and_unsupported():
    from kgforge.multimodal import decode_png, encode_png

    blob = bytearray(encode_png(_test_img()))
    blob[40] ^= 0xFF  # flip a byte inside IDAT -> CRC must catch it
    with pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(blob))
    with pytest.raises(ValueError, match="not a PNG"):
        decode_png(b"P6 not a png")


def test_decode_real_png_skip_on_error_contract():
    """Malformed PNGs must surface as ValueError from decode_real (the
    skip-on-error loop catches only ValueError): a truncated chunk raises
    struct.error, corrupt IDAT zlib.error — both must be normalized
    (code-review r4)."""
    from kgforge.multimodal import encode_png

    full = encode_png(_test_img())
    for bad in (
        full[:20],                     # truncated mid-IHDR -> struct.error
        full[:50],                     # truncated inside IDAT
        b"\x89PNG\r\n\x1a\n" + b"\x00" * 16,  # garbage chunks
    ):
        with pytest.raises(ValueError):
            decode_real(bad)


def test_decode_real_png_matches_ppm_features():
    """The same pixels through PPM and PNG containers must yield identical
    features (the codec is lossless; only `kind` differs)."""
    from kgforge.multimodal import encode_png

    img = _test_img(16, 12, seed=3)
    via_ppm = decode_real(encode_ppm(16, 12, seed=3))
    via_png = decode_real(encode_png(img, filter_type=4))
    assert via_png["kind"] == "image/png"
    assert via_png["width"] == 16 and via_png["height"] == 12
    assert via_png["features"] == via_ppm["features"]


def test_spark_png_decode_executor_local_identity(spark):
    """PNG decode on executors (mapInPandas) == local decode, including a
    mix of scanline filters across rows."""
    from kgforge.multimodal import encode_png

    rows = [
        (i, bytearray(encode_png(_test_img(9 + i % 4, 6 + i % 3, seed=i),
                                 filter_type=i % 5)))
        for i in range(10)
    ]
    media = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r.doc_id: r for r in extract_media_features(media).collect()}
    assert len(out) == 10
    for i in range(10):
        local = decode_real(bytes(rows[i][1]))
        assert out[i].kind == "image/png"
        assert out[i].features == local["features"]


# --- JPEG (VERDICT r4 #3: baseline SOF0 codec, stdlib+numpy) ---


def _smooth_img(h=24, w=20):
    yy, xx = np.mgrid[0:h, 0:w]
    return np.clip(
        np.stack([xx * 3 + 20, yy * 4 + 10, xx + yy + 50], axis=-1), 0, 255
    ).astype(np.uint8)


@pytest.mark.parametrize("subsample", [False, True])
@pytest.mark.parametrize("restart", [0, 3])
def test_jpeg_roundtrip_within_quant_error(subsample, restart):
    """encode -> decode over 4:4:4 and 4:2:0 with and without restart
    intervals: lossy, but bounded by the flat quant table (and 4:2:0's
    chroma averaging) on a smooth image. Dims straddle MCU boundaries
    (24x20 is not a multiple of 16) so edge padding/cropping is covered."""
    from kgforge.multimodal import decode_jpeg, encode_jpeg

    img = _smooth_img()
    out = decode_jpeg(
        encode_jpeg(img, quant=8, subsample=subsample, restart_interval=restart)
    )
    assert out.shape == img.shape
    assert np.abs(out.astype(int) - img.astype(int)).max() <= 10


def test_jpeg_grayscale_and_determinism():
    from kgforge.multimodal import decode_jpeg, encode_jpeg

    yy, xx = np.mgrid[0:17, 0:13]  # non-multiple-of-8 dims
    g = np.clip(yy * 5 + xx * 2, 0, 255).astype(np.uint8)
    blob = encode_jpeg(g, quant=8)
    out = decode_jpeg(blob)
    assert out.shape == (17, 13, 3)
    # gray replicates to 3 identical channels
    assert np.array_equal(out[:, :, 0], out[:, :, 1])
    assert np.abs(out[:, :, 0].astype(int) - g.astype(int)).max() <= 6
    assert encode_jpeg(g, quant=8) == blob  # bit-deterministic encode


def test_jpeg_rejects_progressive_and_malformed():
    import struct

    from kgforge.multimodal import decode_jpeg, encode_jpeg

    blob = bytearray(encode_jpeg(_smooth_img(), quant=8))
    # rewrite SOF0 (FFC0) to SOF2 (FFC2): progressive must name the marker
    i = bytes(blob).index(b"\xff\xc0")
    prog = blob[:i] + b"\xff\xc2" + blob[i + 2:]
    with pytest.raises(ValueError, match="progressive|0xFFC2"):
        decode_jpeg(bytes(prog))
    with pytest.raises(ValueError):
        decode_jpeg(b"\xff\xd8\xff\xe0fakejpeg")
    with pytest.raises(ValueError):
        decode_jpeg(b"not a jpeg at all")
    # decode_real normalizes truncation (struct/IndexError) to ValueError
    with pytest.raises(ValueError):
        decode_real(bytes(blob[: len(blob) // 2]))
    assert struct is not None


def test_spark_jpeg_decode_executor_local_identity(spark):
    """JPEG decode on executors (mapInPandas) == local decode, mixing
    4:4:4 and 4:2:0 payloads across rows."""
    from kgforge.multimodal import encode_jpeg

    rows = [
        (i, bytearray(encode_jpeg(
            np.asarray(_test_img(10 + i % 4, 8 + i % 3, seed=i)),
            quant=8, subsample=bool(i % 2),
        )))
        for i in range(10)
    ]
    media = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r.doc_id: r for r in extract_media_features(media).collect()}
    assert len(out) == 10
    for i in range(10):
        local = decode_real(bytes(rows[i][1]))
        assert out[i].kind == "image/jpeg"
        assert out[i].features == local["features"]


def test_spark_media_features_end_to_end(spark):
    rows = [(0, bytearray(encode_ppm(16, 12, seed=0))),
            (1, bytearray(encode_wav(500, seed=1))),
            (2, bytearray(b"\xff\xd8\xffjpeg")),  # skipped, not failed
            (3, bytearray(encode_ppm(10, 10, seed=3)))]
    media = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r.doc_id: r for r in extract_media_features(media).collect()}
    assert set(out) == {0, 1, 3}  # JPEG skipped
    assert out[0].kind == "image/ppm" and out[0].width == 16 and out[0].height == 12
    assert out[1].kind == "audio/wav" and out[1].n_frames == 500
    assert len(out[0].features) == 6  # 3 channel means + 3 resized stds
    # decode runs on executors byte-identically to the local decode
    local = decode_real(encode_ppm(16, 12, seed=0))
    assert out[0].features == local["features"]


def test_spark_media_features_parallelism_invariant(spark):
    rows = [(i, bytearray(encode_ppm(8 + i % 3, 8, seed=i))) for i in range(24)]
    a = spark.createDataFrame(rows, "doc_id long, payload binary").repartition(1)
    b = spark.createDataFrame(rows, "doc_id long, payload binary").repartition(7)
    fa = {r.doc_id: r.features for r in extract_media_features(a).collect()}
    fb = {r.doc_id: r.features for r in extract_media_features(b).collect()}
    assert fa == fb and len(fa) == 24


def test_riff_non_wave_and_truncated_wav_are_skipped(spark):
    """RIFF-but-not-WAVE (AVI/WebP) and truncated WAV blobs must SKIP via
    ValueError, not crash the task with wave.Error/EOFError (ADVICE r2)."""
    import pytest as _pytest

    from kgforge.multimodal import decode_real

    avi = b"RIFF" + (1000).to_bytes(4, "little") + b"AVI LIST" + b"\x00" * 32
    with _pytest.raises(ValueError):
        decode_real(avi)
    truncated = encode_wav(200, seed=3)[:30]  # header cut mid-chunk
    with _pytest.raises(ValueError):
        decode_real(truncated)

    # end-to-end: one bad blob among good ones skips, others survive
    good = encode_wav(100, seed=4)
    df = spark.createDataFrame(
        [(1, bytearray(good)), (2, bytearray(avi)), (3, bytearray(truncated))],
        "doc_id long, payload binary",
    )
    out = extract_media_features(df).collect()
    assert {r.doc_id for r in out} == {1}


def test_decode_envelope_rejects_photo_scale_inputs(spark):
    """VERDICT r5 #5: the pure-Python codecs must never CRAWL on a
    photo-scale input — an oversized image skips with a ValueError naming
    the envelope and the production codec, at header-parse time (before
    any pixel work) for each container, and at blob size before any
    parsing at all."""
    import pytest as _pytest

    from kgforge.multimodal import (
        MAX_DECODE_BYTES,
        MAX_DECODE_PX,
        decode_real,
        extract_media_features,
    )

    # PPM: oversized header, tiny payload — caught before frombuffer
    big_ppm = b"P6\n%d %d\n255\n" % (MAX_DECODE_PX + 1, 4) + b"\x00" * 12
    with _pytest.raises(ValueError, match="envelope"):
        decode_real(big_ppm)

    # PNG: oversized IHDR — caught before zlib/filter work. Hand-build the
    # header (encode_png would materialize the oversized pixels).
    import struct
    import zlib as _zlib

    ihdr = struct.pack(">IIBBBBB", 9, MAX_DECODE_PX + 1, 8, 2, 0, 0, 0)
    chunk = b"IHDR" + ihdr
    png = (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", len(ihdr)) + chunk
        + struct.pack(">I", _zlib.crc32(chunk) & 0xFFFFFFFF)
    )
    with _pytest.raises(ValueError, match="envelope"):
        decode_real(png)

    # JPEG: oversized SOF0 — caught before the per-bit huffman reader
    sof_payload = struct.pack(">BHHB", 8, MAX_DECODE_PX + 1, 8, 1) + bytes(
        [1, 0x11, 0]
    )
    jpg = (
        b"\xff\xd8"
        + b"\xff\xc0" + struct.pack(">H", len(sof_payload) + 2) + sof_payload
    )
    with _pytest.raises(ValueError, match="envelope"):
        decode_real(jpg)

    # blob-size envelope: giant payload rejected before any parsing
    with _pytest.raises(ValueError, match="envelope"):
        decode_real(b"P6\n4 4\n255\n" + b"\x00" * (MAX_DECODE_BYTES + 1))

    # in-envelope media still decode (guard is not over-broad)
    assert decode_real(encode_ppm(16, 12, seed=1))["kind"] == "image/ppm"

    # end-to-end: oversized blob among good ones skips, others survive
    df = spark.createDataFrame(
        [(1, bytearray(encode_ppm(8, 8, seed=2))), (2, bytearray(big_ppm))],
        "doc_id long, payload binary",
    )
    assert {r.doc_id for r in extract_media_features(df).collect()} == {1}
