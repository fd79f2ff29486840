"""Header-parser corruption fuzz across the full 12-format surface.

A 100 TB corpus WILL contain truncated, bit-flipped, and adversarially
shaped payloads, and the header monitors (`parse_image_header` /
`parse_av_header`) run inside mapInPandas stages where an escaped
exception fails the task and a non-terminating walk hangs the executor
for the duration of the task timeout.  The gate here: every corruption
either parses (dict) or refuses (None) — no exception class escapes,
and every internal walk (PNG chunk scan, JPEG segment loop, RIFF chunk
walk, TIFF IFD walk, ISO-BMFF box walk) terminates even when the
corrupted length fields are adversarial (0, 1, max-u32/u64).

Decode-level twins: test_jpeg_codec.py / test_media_codecs.py carry the
JPEG and GIF bitflip gates; this file adds the PNG / BMP / WAV decoder
gates so every pure-python decoder in the package is fuzz-covered.
"""

from __future__ import annotations

import random
import struct

import numpy as np
import pytest

from creek_spark.operators.media_codecs import (
    bmp_from_array,
    decode_bmp_pixels,
    decode_wav_samples,
    wav_from_array,
)
from creek_spark.operators.multimodal import (
    avif_bytes,
    bmp_bytes,
    decode_image_pixels,
    decode_png_pixels,
    flac_bytes,
    gif_bytes,
    mp3_bytes,
    mp4_bytes,
    parse_av_header,
    parse_image_header,
    png_bytes,
    png_bytes_gradient,
    png_bytes_indexed,
    tiff_bytes,
    wav_bytes,
    webp_bytes,
)
from creek_spark.operators.jpeg_codec import jpeg_from_array


def _zoo() -> list[tuple[str, bytes]]:
    """One spec-valid payload per format/layout the parsers cover."""
    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (16, 24, 3), dtype=np.uint8)
    return [
        ("png_rgb", png_bytes(24, 16, color_type=2)),
        (
            "png_pal",
            png_bytes_indexed(
                rng.integers(0, 4, (8, 8)),
                rng.integers(0, 256, (4, 3)),
            ),
        ),
        ("jpeg", jpeg_from_array(img)),
        ("jpeg_prog", jpeg_from_array(img, progressive=True)),
        ("jpeg_rst", jpeg_from_array(img, restart_interval=2)),
        ("gif", gif_bytes(24, 16)),
        ("bmp", bmp_bytes(24, 16)),
        ("webp_vp8", webp_bytes(24, 16, layout="vp8")),
        ("webp_vp8l", webp_bytes(24, 16, layout="vp8l", alpha=True)),
        ("webp_vp8x", webp_bytes(24, 16, layout="vp8x")),
        ("tiff_le", tiff_bytes(24, 16)),
        ("tiff_be", tiff_bytes(24, 16, big_endian=True, bits_behind_offset=True)),
        ("avif", avif_bytes(24, 16, thumb=(6, 4))),
        ("heic", avif_bytes(24, 16, brand="mif1", bit_depth=10)),
        ("wav", wav_bytes(seconds=0.01)),
        ("mp4", mp4_bytes()),
        ("flac", flac_bytes()),
        ("mp3", mp3_bytes(duration_ms=100)),
        ("mp3_id3", mp3_bytes(duration_ms=100, id3=True)),
    ]


def _parse_both(payload: bytes) -> None:
    """Both parsers must return dict-or-None, never raise."""
    for parser in (parse_image_header, parse_av_header):
        out = parser(payload)
        assert out is None or isinstance(out, dict)


def test_header_parsers_never_raise_on_truncation():
    for name, base in _zoo():
        # every prefix up to 96 bytes (the region all header logic
        # lives in), then a stride through the tail
        cuts = list(range(min(96, len(base)) + 1))
        cuts += list(range(96, len(base), max(1, len(base) // 64)))
        for n in cuts:
            _parse_both(base[:n])


def test_header_parsers_never_raise_on_bitflips():
    rng = random.Random(12)
    for name, base in _zoo():
        for _ in range(400):
            m = bytearray(base)
            for _ in range(rng.randint(1, 3)):
                m[rng.randrange(len(m))] ^= 1 << rng.randrange(8)
            _parse_both(bytes(m))


def test_header_parsers_never_raise_on_adversarial_lengths():
    """Length/size fields forced to the adversarial extremes (0, 1,
    max) at every plausible offset — the box/chunk/IFD walks must
    terminate and refuse rather than loop or read out of range."""
    evil_u32 = (0, 1, 7, 8, 0x7FFFFFFF, 0xFFFFFFFF)
    for name, base in _zoo():
        for off in range(0, min(len(base) - 4, 64)):
            for v in evil_u32:
                m = bytearray(base)
                m[off : off + 4] = struct.pack(">I", v)
                _parse_both(bytes(m))
                m[off : off + 4] = struct.pack("<I", v)
                _parse_both(bytes(m))


def test_header_parsers_never_raise_on_magic_random_tail():
    """Each format's magic spliced onto random bytes drives the parser
    past its signature guard into the walk logic with garbage."""
    magics = [
        b"\x89PNG\r\n\x1a\n",
        b"\xff\xd8",
        b"GIF89a",
        b"BM",
        b"RIFF\x40\x00\x00\x00WEBP",
        b"RIFF\x40\x00\x00\x00WAVE",
        b"II*\x00",
        b"MM\x00*",
        struct.pack(">I", 16) + b"ftypavif" + bytes(4),
        struct.pack(">I", 16) + b"ftypmif1" + bytes(4),
        struct.pack(">I", 16) + b"ftypisom" + bytes(4),
        b"fLaC",
        b"ID3\x04\x00\x00",
        b"\xff\xfb",
    ]
    rng = random.Random(34)
    for magic in magics:
        for _ in range(150):
            tail = rng.randbytes(rng.randint(0, 120))
            _parse_both(magic + tail)


def test_header_parsers_never_raise_on_pure_noise():
    rng = random.Random(56)
    for _ in range(300):
        _parse_both(rng.randbytes(rng.randint(0, 200)))


# ---------------------------------------------------------------------
# Decoder-level gates for the three codecs without one (JPEG and GIF
# have theirs in test_jpeg_codec.py / test_media_codecs.py).
# ---------------------------------------------------------------------


def _flip_fuzz(decode, base: bytes, *, seed: int, rounds: int = 300):
    rng = np.random.default_rng(seed)
    for _ in range(rounds):
        m = bytearray(base)
        for _ in range(rng.integers(1, 4)):
            m[rng.integers(0, len(m))] ^= 1 << rng.integers(0, 8)
        try:
            decode(bytes(m))
        except (ValueError, NotImplementedError):
            pass


def test_png_bitflip_fuzz_never_escapes():
    _flip_fuzz(decode_png_pixels, png_bytes_gradient(20, 14, seed=1), seed=21)


def test_bmp_bitflip_fuzz_never_escapes():
    rng = np.random.default_rng(3)
    base = bmp_from_array(rng.integers(0, 256, (14, 20, 3), dtype=np.uint8))
    _flip_fuzz(decode_bmp_pixels, base, seed=22)


def test_wav_bitflip_fuzz_never_escapes():
    samples = np.random.default_rng(4).integers(
        -32768, 32768, (500, 2), dtype=np.int16
    )
    _flip_fuzz(decode_wav_samples, wav_from_array(samples), seed=23)


def test_dispatch_decoder_refuses_noise_with_valueerror():
    """`decode_image_pixels` (the dispatching entry the mapInPandas
    stages call) must raise exactly ValueError/NotImplementedError on
    junk — any other class would escape the strict=False null path."""
    rng = random.Random(78)
    for _ in range(200):
        payload = rng.randbytes(rng.randint(0, 150))
        with pytest.raises((ValueError, NotImplementedError)):
            decode_image_pixels(payload)


def _forged_png_height(rows: int) -> bytes:
    """A valid small PNG whose IHDR claims ``rows`` rows."""
    import zlib

    base = bytearray(png_bytes_gradient(20, 14, seed=1))
    # signature (8) + IHDR length/tag (8) + width (4) → height at 20:24
    base[20:24] = struct.pack(">I", rows)
    base[29:33] = struct.pack(">I", zlib.crc32(bytes(base[12:29])))
    return bytes(base)


def _forged_jpeg_size(side: int, **kw) -> bytes:
    """A valid small JPEG whose SOF claims ``side`` × ``side`` pixels."""
    base = bytearray(
        jpeg_from_array(np.zeros((16, 16, 3), dtype=np.uint8), **kw)
    )
    sof = max(base.find(b"\xff\xc0"), base.find(b"\xff\xc2"))
    # marker (2) + length (2) + precision (1) → height, width
    base[sof + 5 : sof + 9] = struct.pack(">HH", side, side)
    return bytes(base)


@pytest.mark.parametrize(
    "decode, payload",
    [
        (decode_png_pixels, _forged_png_height(1 << 31)),
        (decode_image_pixels, _forged_png_height(1 << 31)),
        (decode_image_pixels, _forged_jpeg_size(65535)),
        (decode_image_pixels, _forged_jpeg_size(65535, progressive=True)),
    ],
    ids=["png", "png_dispatch", "jpeg", "jpeg_progressive"],
)
def test_forged_dimensions_refuse_before_allocating(monkeypatch, decode, payload):
    """A header claiming a huge image must be refused from the payload's
    own size, not by attempting the allocation: whether a 100 GiB
    ``np.zeros`` fails depends on the host's overcommit policy, and a
    MemoryError would escape the decoders' ValueError contract."""
    limit = 1 << 26

    def bounded(alloc):
        def wrapped(shape, *a, **kw):
            n = int(np.prod(shape, dtype=object))
            assert n <= limit, f"allocation of {n} elements sized from a header"
            return alloc(shape, *a, **kw)

        return wrapped

    monkeypatch.setattr(np, "zeros", bounded(np.zeros))
    monkeypatch.setattr(np, "empty", bounded(np.empty))
    with pytest.raises(ValueError):
        decode(payload)
