"""Lossless media codecs (operators/media_codecs.py): BMP, GIF (full
LZW), WAV PCM — round-trips, format edge cases, strict-vs-null contract
in the Spark operators, and loud refusal outside the implemented
profiles.  Lossless means every round-trip assertion is bit-exact."""

from __future__ import annotations

import numpy as np
import pytest

from creek_spark.operators.media_codecs import (
    bmp_from_array,
    decode_bmp_pixels,
    decode_gif_indexed,
    decode_gif_pixels,
    decode_wav_samples,
    gif_from_array,
    gif_from_indexed,
    wav_from_array,
)


# -- BMP ----------------------------------------------------------------------


@pytest.mark.parametrize("shape", [(1, 1, 3), (5, 7, 3), (13, 17, 3), (8, 8, 3)])
def test_bmp_rgb_roundtrip(shape):
    rng = np.random.default_rng(sum(shape))
    a = rng.integers(0, 256, shape, dtype=np.uint8)
    assert np.array_equal(decode_bmp_pixels(bmp_from_array(a)), a)


def test_bmp_gray_palette_roundtrip():
    rng = np.random.default_rng(1)
    g = rng.integers(0, 256, (9, 21), dtype=np.uint8)  # odd width: padding
    d = decode_bmp_pixels(bmp_from_array(g))
    assert np.array_equal(d, np.stack([g] * 3, axis=-1))


def test_bmp_refusals():
    with pytest.raises(ValueError, match="not a BMP"):
        decode_bmp_pixels(b"GIF89a" + bytes(60))
    enc = bytearray(bmp_from_array(np.zeros((4, 4, 3), dtype=np.uint8)))
    enc[30] = 1  # BI_RLE8 compression flag
    with pytest.raises(NotImplementedError, match="compressed BMP"):
        decode_bmp_pixels(bytes(enc))
    with pytest.raises(ValueError, match="truncated"):
        decode_bmp_pixels(bytes(bmp_from_array(np.zeros((8, 8, 3), np.uint8))[:70]))


# -- GIF ----------------------------------------------------------------------


@pytest.mark.parametrize("interlace", [False, True])
@pytest.mark.parametrize("shape", [(1, 1), (5, 3), (16, 16), (33, 7)])
def test_gif_roundtrip(shape, interlace):
    rng = np.random.default_rng(shape[0] * 31 + shape[1])
    a = rng.integers(0, 256, shape, dtype=np.uint8)
    d = decode_gif_pixels(gif_from_array(a, interlace=interlace))
    assert np.array_equal(d, np.stack([a] * 3, axis=-1))


def test_gif_lzw_dictionary_reset_and_kwkwk():
    # 76800 highly repetitive pixels: dictionary hits the 4096 cap
    # (clear + rebuild) and constant runs drive the KwKwK case
    big = np.tile(np.arange(256, dtype=np.uint8), 300).reshape(300, 256)
    assert np.array_equal(decode_gif_pixels(gif_from_array(big))[:, :, 0], big)
    const = np.full((64, 200), 7, dtype=np.uint8)
    assert np.array_equal(
        decode_gif_pixels(gif_from_array(const))[:, :, 0], const
    )


def test_gif_indexed_resize_path_reuses_palette():
    rng = np.random.default_rng(5)
    a = rng.integers(0, 17, (12, 9), dtype=np.uint8)  # small palette use
    enc = gif_from_array(a)
    idx, pal = decode_gif_indexed(enc)
    assert np.array_equal(idx, a)
    re = gif_from_indexed(idx[::2, ::3], pal)  # any index transform
    idx2, pal2 = decode_gif_indexed(re)
    assert np.array_equal(idx2, a[::2, ::3])
    assert np.array_equal(pal2[: pal.shape[0]], pal)


def test_gif_refusals():
    with pytest.raises(ValueError, match="not a GIF"):
        decode_gif_pixels(b"BM" + bytes(60))
    enc = bytearray(gif_from_array(np.zeros((4, 4), dtype=np.uint8)))
    i = 6 + 7 + 768  # header + LSD + 256-entry GCT = image descriptor
    assert enc[i] == 0x2C
    enc[i + 9] |= 0x80  # claim a local color table
    with pytest.raises(NotImplementedError, match="local color"):
        decode_gif_pixels(bytes(enc))
    with pytest.raises(ValueError):
        decode_gif_pixels(bytes(gif_from_array(np.zeros((8, 8), np.uint8)))[:40])


def test_gif_bitflip_fuzz_never_escapes():
    rng = np.random.default_rng(11)
    base = gif_from_array(
        rng.integers(0, 256, (16, 16), dtype=np.uint8), interlace=True
    )
    for _ in range(300):
        m = bytearray(base)
        for _ in range(rng.integers(1, 4)):
            m[rng.integers(6, len(m))] ^= 1 << rng.integers(0, 8)
        try:
            out = decode_gif_pixels(bytes(m))
            assert out.dtype == np.uint8
        except (ValueError, NotImplementedError):
            pass


# -- WAV ----------------------------------------------------------------------


def test_wav_roundtrip_mono_stereo():
    rng = np.random.default_rng(2)
    stereo = rng.integers(-32768, 32768, (777, 2), dtype=np.int16)
    arr, rate = decode_wav_samples(wav_from_array(stereo, rate=16000))
    assert rate == 16000 and np.array_equal(arr, stereo.astype(np.int32))
    mono = rng.integers(-32768, 32768, 500, dtype=np.int16)
    arr, rate = decode_wav_samples(wav_from_array(mono))
    assert arr.shape == (500, 1) and rate == 8000


def test_wav_8bit_and_legacy_synth():
    from creek_spark.operators.multimodal import wav_bytes

    arr, rate = decode_wav_samples(
        wav_bytes(seconds=0.25, rate=8000, channels=2, bits=8)
    )
    assert arr.shape == (2000, 2)
    assert int(arr.min()) == int(arr.max()) == -128  # silence, centered


def test_wav_refusals():
    with pytest.raises(ValueError, match="not a WAV"):
        decode_wav_samples(b"RIFFxxxxAVI " + bytes(20))
    enc = bytearray(wav_from_array(np.zeros(10, dtype=np.int16)))
    enc[20] = 85  # format tag -> MP3
    with pytest.raises(NotImplementedError, match="non-PCM"):
        decode_wav_samples(bytes(enc))


# -- Spark operator integration -------------------------------------------------


def test_pixel_stats_covers_all_four_formats(spark):
    """One mixed batch: PNG, JPEG, BMP, GIF all decode to real pixels
    in a single pixel_stats pass — the four-format dispatch in
    decode_image_pixels."""
    from creek_spark.operators.jpeg_codec import jpeg_bytes_blockgrid
    from creek_spark.operators.multimodal import (
        pixel_stats,
        png_bytes_gradient,
    )

    g = ((np.arange(64, dtype=np.int64).reshape(8, 8) * 3) % 256).astype(
        np.uint8
    )
    rows = [
        (1, bytearray(png_bytes_gradient(4, 3, seed=1))),
        (2, bytearray(jpeg_bytes_blockgrid(16, 8, seed=2))),
        (3, bytearray(bmp_from_array(np.stack([g] * 3, -1)))),
        (4, bytearray(gif_from_array(g))),
    ]
    media = spark.createDataFrame(rows, "media_id bigint, content binary")
    out = {r["media_id"]: r for r in pixel_stats(media, strict=True).collect()}
    assert out[1]["n_values"] == 4 * 3 * 3
    assert out[2]["n_values"] == 16 * 8
    assert out[3]["sum_px"] == int(g.astype(np.int64).sum()) * 3
    assert out[4]["sum_px"] == int(g.astype(np.int64).sum()) * 3


def test_resize_images_bmp_and_gif_stay_lossless(spark):
    from creek_spark.operators.multimodal import (
        decode_image_pixels,
        nn_resize,
        resize_images,
    )

    rng = np.random.default_rng(9)
    rgb = rng.integers(0, 256, (10, 14, 3), dtype=np.uint8)
    gray = rng.integers(0, 256, (12, 9), dtype=np.uint8)
    rows = [
        (1, "image", bytearray(bmp_from_array(rgb)), "image/bmp"),
        (2, "image", bytearray(gif_from_array(gray)), "image/gif"),
    ]
    media = spark.createDataFrame(
        rows, "media_id bigint, kind string, content binary, mime string"
    )
    out = {
        r["media_id"]: r
        for r in resize_images(media, width=7, height=5).collect()
    }
    assert bytes(out[1]["content"][:2]) == b"BM"
    assert bytes(out[2]["content"][:4]) == b"GIF8"
    # nearest-neighbor on a lossless container is EXACT: re-decode
    # equals resizing the source pixels directly
    assert np.array_equal(
        decode_image_pixels(bytes(out[1]["content"])), nn_resize(rgb, 7, 5)
    )
    assert np.array_equal(
        decode_image_pixels(bytes(out[2]["content"]))[:, :, 0],
        nn_resize(gray, 7, 5),
    )


def test_audio_stats_strict_and_null_paths(spark):
    from creek_spark.operators.multimodal import audio_stats

    s = np.array([[100, -50], [0, 25], [-100, 75]], dtype=np.int16)
    good = wav_from_array(s, rate=8000)
    mp3ish = bytearray(good)
    mp3ish[20] = 85  # non-PCM format tag
    media = spark.createDataFrame(
        [(1, bytearray(good)), (2, bytearray(bytes(mp3ish)))],
        "media_id bigint, content binary",
    )
    rows = {r["media_id"]: r for r in audio_stats(media).collect()}
    assert rows[1]["n_frames"] == 3 and rows[1]["n_channels"] == 2
    assert rows[1]["sum_amp"] == 50 and rows[1]["min_amp"] == -100
    assert rows[1]["sum_sq"] == int((s.astype(np.int64) ** 2).sum())
    assert rows[1]["duration_us"] == 3 * 1_000_000 // 8000
    assert rows[2]["n_frames"] is None  # compressed → nulls
    with pytest.raises(Exception, match="non-PCM"):
        audio_stats(media, strict=True).collect()


# -- PNG extensions (round 11): palette, low depth, Adam7, tRNS ----------------


def test_png_palette_roundtrip_all_depths():
    from creek_spark.operators.multimodal import (
        decode_png_pixels,
        png_bytes_indexed,
    )

    rng = np.random.default_rng(4)
    for depth in (1, 2, 4, 8):
        n = 1 << depth
        pal = rng.integers(0, 256, (n, 3), dtype=np.uint8)
        idx = rng.integers(0, n, (11, 17), dtype=np.uint8)
        for interlace in (False, True):
            d = decode_png_pixels(
                png_bytes_indexed(idx, pal, bit_depth=depth, interlace=interlace)
            )
            assert np.array_equal(d, pal[idx]), (depth, interlace)


def test_png_palette_trns_yields_alpha():
    from creek_spark.operators.multimodal import (
        decode_png_pixels,
        png_bytes_indexed,
    )

    pal = np.array([[255, 0, 0], [0, 255, 0], [0, 0, 255]], dtype=np.uint8)
    idx = np.array([[0, 1], [2, 0]], dtype=np.uint8)
    d = decode_png_pixels(png_bytes_indexed(idx, pal, trns=[10, 200]))
    assert d.shape == (2, 2, 4)
    # entries beyond the tRNS table default to opaque
    assert d[0, 0, 3] == 10 and d[0, 1, 3] == 200 and d[1, 0, 3] == 255


def test_png_adam7_interlace_all_channel_counts():
    from creek_spark.operators.multimodal import (
        decode_png_pixels,
        png_from_array,
    )

    rng = np.random.default_rng(6)
    for shape in [(1, 1), (3, 2), (13, 21, 3), (5, 9, 4), (16, 7, 2)]:
        a = rng.integers(0, 256, shape, dtype=np.uint8)
        d = decode_png_pixels(png_from_array(a, interlace=True))
        exp = a[:, :, None] if a.ndim == 2 else a
        assert np.array_equal(d, exp), shape


def test_png_lowdepth_gray_expands_per_spec():
    from creek_spark.operators.multimodal import decode_png_pixels
    from tests.fixtures import png_bytes_gray_lowdepth

    rng = np.random.default_rng(7)
    for depth in (1, 2, 4):
        v = rng.integers(0, 1 << depth, (9, 14), dtype=np.uint8)
        d = decode_png_pixels(png_bytes_gray_lowdepth(v, depth))
        exp = (v.astype(np.int64) * 255 // ((1 << depth) - 1)).astype(np.uint8)
        assert np.array_equal(d[:, :, 0], exp), depth


def test_png_16bit_decodes_and_palette_needs_plte():
    """Pre-round-11 latent bug pinned fixed: color type 3 mapped to 1
    channel, so the old 'palette not supported' guard was dead code and
    palette PNGs silently decoded their INDEX PLANE as gray pixels —
    now they resolve through PLTE, and a missing PLTE raises.  16-bit
    decodes too (high-byte reduction, the spec 16→8 scaling), so every
    variant the PNG spec allows is covered."""
    import struct
    import zlib

    from creek_spark.operators.multimodal import (
        _png_chunk,
        _PNG_SIG,
        decode_png_pixels,
    )
    from tests.fixtures import png16_from_array

    rng = np.random.default_rng(13)
    for shape in [(5, 7), (6, 11, 3), (3, 3, 4), (9, 4, 2)]:
        a = rng.integers(0, 65536, shape, dtype=np.uint16)
        for interlace in (False, True):
            d = decode_png_pixels(png16_from_array(a, interlace=interlace))
            exp = (a >> 8).astype(np.uint8)
            exp = exp[:, :, None] if exp.ndim == 2 else exp
            assert np.array_equal(d, exp), (shape, interlace)
    # 16-bit PALETTE is spec-invalid and refused
    bad16p = (
        _PNG_SIG
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 16, 3, 0, 0, 0))
        + _png_chunk(b"IDAT", zlib.compress(b"\x00" * 10))
        + _png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError):
        decode_png_pixels(bad16p)
    ihdr_pal = struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)
    no_plte = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr_pal)
        + _png_chunk(b"IDAT", zlib.compress(b"\x00\x00\x01\x00\x01\x00"))
        + _png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="PLTE"):
        decode_png_pixels(no_plte)


# -- EXIF orientation (round 11) ------------------------------------------------


def test_exif_orientation_parse_and_auto_orient():
    from creek_spark.operators.jpeg_codec import (
        decode_jpeg_pixels,
        jpeg_from_array,
    )
    from creek_spark.operators.multimodal import (
        auto_orient,
        exif_app1_segment,
        exif_orientation,
    )

    rng = np.random.default_rng(1)
    img = rng.integers(0, 256, (6, 9, 3), dtype=np.uint8)
    enc = jpeg_from_array(img, quality=90)
    assert exif_orientation(enc) is None
    for big_endian in (False, True):
        for o in range(1, 9):
            tagged = enc[:2] + exif_app1_segment(o, big_endian=big_endian) + enc[2:]
            assert exif_orientation(tagged) == o
            # the tagged stream still decodes: APP1 is metadata
            assert decode_jpeg_pixels(tagged).shape == (6, 9, 3)
    # the 8 orientations are the 8 distinct dihedral transforms
    outs = {auto_orient(img, o).tobytes() for o in range(1, 9)}
    assert len(outs) == 8
    # never raises on junk — orientation is advisory metadata
    assert exif_orientation(b"\xff\xd8\xff\xe1\x00\x04xx") is None
    assert exif_orientation(None) is None


def test_orientation_aware_dedup_motivation():
    """Why a pixel-dedup pass must auto-orient first: one photo stored
    sensor-order with orientation tag 6 vs the same photo stored
    display-order hash apart on raw pixels but together after
    auto_orient."""
    from creek_spark.operators.jpeg_codec import jpeg_bytes_blockgrid, decode_jpeg_pixels
    from creek_spark.operators.multimodal import auto_orient

    display = decode_jpeg_pixels(jpeg_bytes_blockgrid(24, 16, seed=3))
    sensor = auto_orient(display, 8)  # stored rotated; tag would say 6
    assert not np.array_equal(
        display, sensor.reshape(-1)[: display.size].reshape(display.shape)
    )
    assert np.array_equal(auto_orient(sensor, 6), display)
