"""Multimodal plumbing: binary columns + typed metadata, Arrow-batched
decode/feature/resize stubs, frame-sample planning.  The codec step is
stubbed (no image/audio libs in this environment) — these tests pin down
the schema, batch shape, null handling, and partition behavior that real
codecs plug into."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from creek_spark.operators.multimodal import (
    FEATURE_SCHEMA,
    MEDIA_SCHEMA,
    RESIZED_SCHEMA,
    attach_binary_metadata,
    extract_features,
    frame_sample_plan,
    resize_images,
)


@pytest.fixture()
def media(spark):
    rows = [
        (1, "image", b"\x89PNG" + bytes(range(200)), "image/png", None, {}),
        (2, "image", b"\xff\xd8tiny", "image/jpeg", None, {}),
        (3, "audio", b"RIFF" + bytes(100), "audio/wav", None, {}),
        (4, "video", b"\x00\x00ftyp" + bytes(50), "video/mp4", None,
         {"duration_s": "12"}),
        (5, "image", None, "image/png", None, {}),  # null payload
    ]
    df = spark.createDataFrame(rows, schema=MEDIA_SCHEMA)
    return df.withColumn("n_bytes", F.length("content").cast("long"))


def test_attach_binary_metadata_stays_jvm(spark, media):
    out = attach_binary_metadata(media)
    rows = {r["media_id"]: r for r in out.collect()}
    assert rows[1]["n_bytes"] == 204
    assert rows[5]["n_bytes"] is None
    assert len(rows[2]["content_md5"]) == 32
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan  # metadata derivation never decodes


def test_extract_features_fake_decode(spark, media):
    out = extract_features(media, fake_decode=True)
    assert out.schema == FEATURE_SCHEMA
    rows = {r["media_id"]: r for r in out.collect()}
    assert rows[1]["feat_dim"] == 4
    assert rows[1]["features"][0] == 204.0  # n_bytes as first fake feature
    assert rows[5]["feat_dim"] == 0  # null payload → empty features
    assert rows[5]["n_bytes"] is None


def test_extract_features_strict_raises(spark, media):
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PythonException

    with pytest.raises((PythonException, Py4JJavaError)):
        extract_features(media, fake_decode=False).collect()


def test_resize_images_fake(spark, media):
    out = resize_images(media, width=8, height=8, fake_resize=True)
    assert out.schema == RESIZED_SCHEMA
    rows = {r["media_id"]: r for r in out.collect()}
    # only images survive; payload capped at width*height
    assert set(rows) == {1, 2, 5}
    assert len(rows[1]["content"]) == 64
    assert rows[2]["content"] == b"\xff\xd8tiny"  # shorter than cap: unchanged
    assert rows[5]["content"] is None
    assert (rows[1]["width"], rows[1]["height"]) == (8, 8)


def test_resize_images_injected_codec(spark, media):
    out = resize_images(
        media, width=4, height=4,
        batch_resizer=lambda content, w, h: content[:1] * (w * h),
    )
    rows = {r["media_id"]: r for r in out.collect()}
    assert rows[1]["content"] == b"\x89" * 16


def test_frame_sample_plan(spark, media):
    out = frame_sample_plan(media, every_n_seconds=5)
    rows = out.collect()
    # only the video (duration 12s) → frames at 0,5,10
    assert [(r["media_id"], r["frame_ts"]) for r in rows] == [
        (4, 0), (4, 5), (4, 10)
    ]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan  # planning never touches payload bytes


def test_frame_sample_plan_survives_corrupt_duration_metadata(spark):
    """Metadata is untrusted: a negative duration (sentinel), a
    non-numeric string, or a MISSING duration_s key must yield zero
    frame tasks for that row — not an ANSI cast/element_at error or an
    illegal-sequence JVM crash that fails the whole job."""
    rows = [
        (1, "video", bytearray(b"x"), {"duration_s": "-1"}),
        (2, "video", bytearray(b"x"), {"duration_s": "garbage"}),
        (3, "video", bytearray(b"x"), {}),
        (4, "video", bytearray(b"x"), {"duration_s": "7"}),
    ]
    media = spark.createDataFrame(
        rows,
        "media_id bigint, kind string, content binary, meta map<string,string>",
    )
    out = frame_sample_plan(media, every_n_seconds=5).collect()
    got = sorted((r["media_id"], r["frame_ts"]) for r in out)
    # corrupt/missing rows clamp to duration 0 → single ts=0 task;
    # the intact row gets its real schedule
    assert got == [(1, 0), (2, 0), (3, 0), (4, 0), (4, 5)]


# ---------------------------------------------------------------------
# real header decode (pure stdlib, no codec libraries)
# ---------------------------------------------------------------------


def _png_bytes(width, height, bit_depth=8, color_type=6):
    """A real, spec-valid PNG built with stdlib only (zlib + struct)."""
    import struct
    import zlib

    def chunk(tag, payload):
        return (
            struct.pack(">I", len(payload))
            + tag
            + payload
            + struct.pack(">I", zlib.crc32(tag + payload))
        )

    ihdr = struct.pack(">IIBBBBB", width, height, bit_depth, color_type, 0, 0, 0)
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color_type]
    raw = b"".join(
        b"\x00" + bytes(width * channels * (bit_depth // 8)) for _ in range(height)
    )
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def _jpeg_bytes(width, height, n_channels=3):
    """Minimal JPEG segment stream: SOI, APP0(JFIF), DQT, SOF0."""
    import struct

    app0 = b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    dqt = b"\x00" + bytes(64)
    sof = struct.pack(">BHHB", 8, height, width, n_channels) + bytes(
        3 * n_channels
    )

    def seg(marker, payload):
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    return b"\xff\xd8" + seg(0xE0, app0) + seg(0xDB, dqt) + seg(0xC0, sof)


def _gif_bytes(width, height):
    import struct

    return b"GIF89a" + struct.pack("<HH", width, height) + b"\xf7\x00\x00" + bytes(16)


def _bmp_bytes(width, height, bpp=24):
    import struct

    dib = struct.pack("<IiiHH", 40, width, -height, 1, bpp) + bytes(24)
    return b"BM" + struct.pack("<IHHI", 14 + 40, 0, 0, 54) + dib


def test_parse_image_header_all_formats():
    from creek_spark.operators.multimodal import parse_image_header

    png = parse_image_header(_png_bytes(320, 200, color_type=2))
    assert (png["format"], png["width"], png["height"], png["n_channels"]) == (
        "png", 320, 200, 3,
    )
    jpg = parse_image_header(_jpeg_bytes(640, 480))
    assert (jpg["format"], jpg["width"], jpg["height"], jpg["n_channels"]) == (
        "jpeg", 640, 480, 3,
    )
    gif = parse_image_header(_gif_bytes(16, 9))
    assert (gif["format"], gif["width"], gif["height"]) == ("gif", 16, 9)
    bmp = parse_image_header(_bmp_bytes(100, 50))
    assert (bmp["format"], bmp["width"], bmp["height"], bmp["bit_depth"]) == (
        "bmp", 100, 50, 24,
    )
    assert parse_image_header(None) is None
    assert parse_image_header(b"not an image, just text bytes") is None


def _webp_bytes(kind: str, w: int, h: int, *, alpha: bool = False) -> bytes:
    from creek_spark.operators.multimodal import webp_bytes

    return webp_bytes(w, h, layout=kind, alpha=alpha)


def _tiff_bytes(
    w: int, h: int, *, big_endian: bool = False, spp: int = 3,
    bits: int = 8, bits_behind_offset: bool = False,
) -> bytes:
    from creek_spark.operators.multimodal import tiff_bytes

    return tiff_bytes(
        w, h, big_endian=big_endian, n_channels=spp, bit_depth=bits,
        bits_behind_offset=bits_behind_offset,
    )


def test_media_header_operators(spark):
    """The header tier end to end on one mixed frame: decode_image_headers
    and frame_decode_stats (the operators' own tests go deeper)."""
    import numpy as np

    from creek_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_image_headers,
        frame_decode_stats,
        mp4_bytes,
        tiff_bytes,
        webp_bytes,
    )

    media = spark.createDataFrame(
        [
            (1, "image", bytearray(webp_bytes(64, 32)), None, None, {}),
            (2, "image", bytearray(tiff_bytes(80, 60)), None, None, {}),
            (3, "video", bytearray(mp4_bytes()), None, None,
             {"duration_s": "6"}),
        ],
        schema=MEDIA_SCHEMA,
    )
    hdrs = {r["media_id"]: r for r in decode_image_headers(media).collect()}
    assert (hdrs[1]["format"], hdrs[1]["width"]) == ("webp", 64)
    assert (hdrs[2]["format"], hdrs[2]["height"]) == ("tiff", 60)
    assert hdrs[3]["format"] is None  # video payload: not an image

    def codec(payload, ts):
        return [np.zeros((2, 2), dtype=np.uint8) for _ in ts]

    rows = frame_decode_stats(media, frame_decoder=codec).collect()
    assert {r["frame_ts"] for r in rows} == {0, 5}  # 6 s / every 5 s
    assert all(r["sum_px"] == 0 and r["n_values"] == 4 for r in rows)


def test_parse_image_header_webp_and_tiff():
    """WebP (all three first-chunk layouts) and TIFF (both byte orders,
    inline and behind-offset BitsPerSample) parse to container-truth
    geometry with n_channels_decoded=None — headers are monitorable
    even though pixel decode is out of the pure-numpy profile."""
    from creek_spark.operators.multimodal import parse_image_header

    for kind, alpha, nc in (("vp8", False, 3), ("vp8l", True, 4),
                            ("vp8x", True, 4), ("vp8x", False, 3)):
        hdr = parse_image_header(_webp_bytes(kind, 320, 200, alpha=alpha))
        assert hdr == {
            "format": "webp", "width": 320, "height": 200,
            "bit_depth": 8, "n_channels": nc, "n_channels_decoded": None,
        }, kind
    # malformed first chunk: unknown fourcc / bad sync code → None
    assert parse_image_header(
        b"RIFF" + b"\x10\x00\x00\x00" + b"WEBPVP9 " + bytes(16)
    ) is None
    assert parse_image_header(
        b"RIFF" + b"\x10\x00\x00\x00" + b"WEBPVP8 " + bytes(16)
    ) is None

    for be in (False, True):
        for behind in (False, True):
            hdr = parse_image_header(
                _tiff_bytes(640, 480, big_endian=be, spp=3,
                            bits=8, bits_behind_offset=behind)
            )
            assert hdr == {
                "format": "tiff", "width": 640, "height": 480,
                "bit_depth": 8, "n_channels": 3,
                "n_channels_decoded": None,
            }, (be, behind)
    # a TIFF whose IFD lacks geometry (e.g. a bare EXIF block) → None
    import struct as _s

    bare = b"II*\x00" + _s.pack("<I", 8) + _s.pack("<H", 1) + _s.pack(
        "<HHI", 274, 3, 1
    ) + _s.pack("<H", 6) + b"\x00\x00" + _s.pack("<I", 0)
    assert parse_image_header(bare) is None
    # truncated IFD offset → None, never an exception
    assert parse_image_header(b"II*\x00" + _s.pack("<I", 10**6) + bytes(8)) is None


def test_parse_image_header_avif_heic():
    """AVIF/HEIF via the ISO-BMFF meta/iprp/ipco walk: the primary
    (largest) ispe wins over a thumbnail ispe, pixi supplies
    depth/channels, image brands only — a video mp4 ftyp must NOT
    parse as an image (that is parse_av_header's business)."""
    from creek_spark.operators.multimodal import avif_bytes, parse_image_header

    hdr = parse_image_header(avif_bytes(1280, 720, thumb=(160, 90)))
    assert hdr == {
        "format": "avif", "width": 1280, "height": 720,
        "bit_depth": 8, "n_channels": 3, "n_channels_decoded": None,
    }
    hdr = parse_image_header(
        avif_bytes(640, 480, brand="heic", bit_depth=10, n_channels=3)
    )
    assert hdr == {
        "format": "heic", "width": 640, "height": 480,
        "bit_depth": 10, "n_channels": 3, "n_channels_decoded": None,
    }
    # video brand: not an image header
    from creek_spark.operators.multimodal import mp4_bytes

    assert parse_image_header(mp4_bytes()) is None
    # image brand but no ispe anywhere → None, never a crash
    import struct as _s

    ftyp = _s.pack(">I", 16) + b"ftypavif" + _s.pack(">I", 0)
    assert parse_image_header(ftyp + _s.pack(">I", 12) + b"meta" + bytes(4)) is None
    # truncated / zero-size boxes terminate the walk cleanly
    assert parse_image_header(ftyp + _s.pack(">I", 3) + b"meta") is None


def test_decode_image_headers_through_mapinpandas(spark):
    """Real PNG/JPEG bytes decoded to width/height through the Arrow
    batch path — the codec-free decode is live, not a stub."""
    from creek_spark.operators.multimodal import (
        IMAGE_HEADER_SCHEMA,
        decode_image_headers,
    )

    rows = [
        (1, "image", _png_bytes(320, 200), "image/png", None, {}),
        (2, "image", _jpeg_bytes(640, 480), "image/jpeg", None, {}),
        (3, "image", _gif_bytes(16, 9), "image/gif", None, {}),
        (4, "image", _bmp_bytes(100, 50), "image/bmp", None, {}),
        (5, "image", b"junk" * 10, "image/png", None, {}),
        (6, "image", None, "image/png", None, {}),
    ]
    media = spark.createDataFrame(rows, schema=MEDIA_SCHEMA)
    out = decode_image_headers(media)
    assert out.schema == IMAGE_HEADER_SCHEMA
    got = {r["media_id"]: r for r in out.collect()}
    assert (got[1]["format"], got[1]["width"], got[1]["height"]) == ("png", 320, 200)
    assert (got[2]["format"], got[2]["width"], got[2]["height"]) == ("jpeg", 640, 480)
    assert (got[3]["width"], got[3]["height"]) == (16, 9)
    assert (got[4]["width"], got[4]["height"], got[4]["bit_depth"]) == (100, 50, 24)
    assert got[5]["format"] is None and got[5]["n_bytes"] == 40
    assert got[6]["format"] is None and got[6]["n_bytes"] is None


def test_extract_features_strict_decodes_real_images(spark):
    """Strict mode (fake_decode=False) is no longer a stub for images:
    geometry features come from the real header decode."""
    rows = [
        (1, "image", _png_bytes(320, 200, color_type=6), "image/png", None, {}),
        (2, "image", _jpeg_bytes(640, 480), "image/jpeg", None, {}),
    ]
    media = spark.createDataFrame(rows, schema=MEDIA_SCHEMA)
    got = {r["media_id"]: r for r in extract_features(media).collect()}
    assert got[1]["features"] == [320.0, 200.0, 8.0, 4.0]
    assert got[2]["features"] == [640.0, 480.0, 8.0, 3.0]


def test_av_header_decode_real_payloads(spark):
    """REAL WAV/MP4 container metadata through the mapInPandas path."""
    from creek_spark.operators.multimodal import (
        decode_av_headers,
        mp4_bytes,
        wav_bytes,
    )

    rows = [
        (1, wav_bytes(seconds=2.0, rate=16000, channels=2, bits=16)),
        (2, wav_bytes(seconds=0.5, rate=8000, channels=1, bits=8)),
        (3, mp4_bytes(timescale=600, duration=1800)),
        (4, b"not a container"),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "media_id long, content binary")
    out = {r["media_id"]: r.asDict() for r in decode_av_headers(df).collect()}
    assert out[1]["format"] == "wav" and out[1]["duration_ms"] == 2000
    assert out[1]["sample_rate"] == 16000 and out[1]["n_channels"] == 2
    assert out[2]["duration_ms"] == 500 and out[2]["bit_depth"] == 8
    assert out[3]["format"] == "mp4/isom" and out[3]["duration_ms"] == 3000
    assert out[4]["format"] is None
    assert out[5]["format"] is None and out[5]["n_bytes"] is None


def test_av_header_flac_and_mp3():
    """FLAC STREAMINFO (exact duration from the 36-bit total-samples
    field) and MP3 frame headers (MPEG-1 and MPEG-2 tables, ID3v2 skip,
    CBR duration estimate, mono/stereo mode) — plus the near-miss
    payloads that must NOT sniff as mp3 (bad layer, free/bad bitrate,
    reserved sample-rate index)."""
    from creek_spark.operators.multimodal import (
        flac_bytes,
        mp3_bytes,
        parse_av_header,
    )

    h = parse_av_header(
        flac_bytes(total_samples=3 * 48000, rate=48000, channels=2, bits=24)
    )
    assert h == {
        "format": "flac", "sample_rate": 48000, "n_channels": 2,
        "bit_depth": 24, "duration_ms": 3000,
    }
    # non-STREAMINFO first block / zero rate: refused, not misparsed
    bad = bytearray(flac_bytes())
    bad[4] = 0x84  # type 4 (VORBIS_COMMENT) where STREAMINFO must be
    assert parse_av_header(bytes(bad)) is None

    h = parse_av_header(mp3_bytes(duration_ms=2500, kbps=192, rate=48000))
    assert h == {
        "format": "mp3", "sample_rate": 48000, "n_channels": 2,
        "duration_ms": 2500,
    }
    h = parse_av_header(
        mp3_bytes(duration_ms=700, kbps=64, rate=32000, channels=1, id3=True)
    )
    assert h["n_channels"] == 1 and h["duration_ms"] == 700
    # MPEG-2 Layer III (halved-rate table; 576-sample frames, so the
    # CBR frame stride is 72·bitrate/rate — stamp the header at every
    # boundary like a real stream, which the anti-false-positive gate's
    # second-frame probe requires)
    hdr2 = bytes([0xFF, 0xE0 | (2 << 3) | (1 << 1), (12 << 4) | (0 << 2), 0])
    n2 = 128 * 1000 // 8
    flen2 = 72 * 128 * 1000 // 22050
    buf2 = bytearray(n2)
    for off in range(0, n2 - 3, flen2):
        buf2[off : off + 4] = hdr2
    mpeg2 = bytes(buf2)
    h = parse_av_header(mpeg2)
    assert h["sample_rate"] == 22050 and h["duration_ms"] == 1000
    # near-misses: layer I, free bitrate, bad bitrate, reserved rate idx
    for b1, b2 in (
        (0xE0 | (3 << 3) | (3 << 1), (9 << 4)),   # layer I
        (0xE0 | (3 << 3) | (1 << 1), (0 << 4)),   # free-format bitrate
        (0xE0 | (3 << 3) | (1 << 1), (15 << 4)),  # invalid bitrate
        (0xE0 | (3 << 3) | (1 << 1), (9 << 4) | (3 << 2)),  # rate idx 3
    ):
        assert parse_av_header(bytes([0xFF, b1, b2, 0]) + bytes(64)) is None


def test_av_header_refuses_mp3_false_positives_and_image_brands():
    """Review findings: (a) a bare 4-byte sync sniff matched noise that
    happens to start 0xFF 0xE2-0xFF (JPEG entropy bytes) — the parser
    now demands a complete first frame and, when more frames fit, a
    valid second-frame sync; (b) ISO-BMFF IMAGE brands belong to
    parse_image_header — a corrupt AVIF must not become a 'mp4/avif'
    VIDEO row while intact AVIFs sit in the 'avif' image bucket."""
    import struct

    from creek_spark.operators.multimodal import parse_av_header

    # valid-looking header nibbles but no full frame behind them
    sniff = bytes([0xFF, 0xFB, (9 << 4), 0])
    assert parse_av_header(sniff + bytes(60)) is None
    # full frame length but garbage where frame 2's sync must be
    flen = 144 * 128 * 1000 // 44100
    assert parse_av_header(sniff + bytes(flen * 3)) is None

    # image brands: refused here (parse_image_header owns them),
    # including payloads whose meta is too corrupt to geometry-parse
    for brand in (b"avif", b"avis", b"heic", b"heix", b"mif1", b"msf1"):
        corrupt = struct.pack(">I", 16) + b"ftyp" + brand + bytes(4)
        assert parse_av_header(corrupt) is None
    # video brands still parse
    from creek_spark.operators.multimodal import mp4_bytes

    assert parse_av_header(mp4_bytes())["format"] == "mp4/isom"


def test_av_header_id3v24_footer():
    """ID3v2.4 footer flag (byte 5, 0x10) adds 10 trailing bytes to the
    tag; the frame-sync search must skip them."""
    from creek_spark.operators.multimodal import mp3_bytes, parse_av_header

    plain = mp3_bytes(duration_ms=200, kbps=128, rate=44100)
    tag_body = b"x" * 30
    tag = (
        b"ID3\x04\x00\x10"  # v2.4, footer flag
        + bytes([0, 0, (len(tag_body) >> 7) & 0x7F, len(tag_body) & 0x7F])
        + tag_body
        + b"3DI\x04\x00\x10" + bytes(4)  # the 10-byte footer
    )
    h = parse_av_header(tag + plain)
    assert h is not None and h["format"] == "mp3"
    assert h["duration_ms"] == 200


def test_media_report_corrupt_bmff_image_stays_in_image_bucket(spark):
    """A truncated AVIF/HEIC (ftyp parses, meta doesn't) lands in its
    IMAGE family bucket as arrived-but-undecoded — the same
    one-format-one-bucket rule the RIFF family follows — instead of
    splitting the format's corruption gap across an 'mp4/...' row."""
    import struct

    from creek_spark.operators.multimodal import avif_bytes, media_report

    corrupt_avif = struct.pack(">I", 16) + b"ftypavif" + bytes(4)
    corrupt_heic = struct.pack(">I", 16) + b"ftypmif1" + bytes(4)
    media = spark.createDataFrame(
        [
            (1, "d0", bytearray(avif_bytes(20, 10))),
            (2, "d0", bytearray(corrupt_avif)),
            (3, "d0", bytearray(corrupt_heic)),
        ],
        "media_id bigint, day string, content binary",
    )
    rows = {r["fmt"]: r for r in media_report(media).collect()}
    assert set(rows) == {"avif", "heic"}
    assert rows["avif"]["n_media"] == 2  # intact + corrupt, ONE bucket
    assert rows["avif"]["n_decoded"] == 0  # entropy decode out of profile
    assert rows["heic"]["n_media"] == 1


def test_av_header_strict_raises_on_garbage(spark):
    import pytest
    from py4j.protocol import Py4JJavaError

    from creek_spark.operators.multimodal import decode_av_headers

    df = spark.createDataFrame(
        [(1, b"garbage")], "media_id long, content binary"
    )
    with pytest.raises(Exception):
        decode_av_headers(df, strict=True).collect()


# ------------------------------------------------- real PNG pixel codec


def _png_with_filters(rows_and_filters, ch=3):
    """Hand-build a PNG whose scanlines use explicit filter types, to
    exercise every unfilter branch (the encoder itself only emits
    filter 0)."""
    import struct
    import zlib

    import numpy as np

    from creek_spark.operators.multimodal import _PNG_SIG

    h = len(rows_and_filters)
    w = len(rows_and_filters[0][1]) // ch

    def chunk(tag, payload):
        return (
            struct.pack(">I", len(payload))
            + tag
            + payload
            + struct.pack(">I", zlib.crc32(tag + payload))
        )

    color_type = {1: 0, 3: 2, 4: 6}[ch]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    raw = b"".join(bytes([ft]) + bytes(row) for ft, row in rows_and_filters)
    return _PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")


def test_png_decode_every_filter_type():
    """Reference-decode a hand-filtered PNG: Sub/Up/Average/Paeth rows
    reconstruct to the exact pixels a straight filter-0 encoding of the
    same image gives."""
    import numpy as np

    from creek_spark.operators.multimodal import (
        decode_png_pixels,
        png_from_array,
    )

    rng = np.random.RandomState(7)
    img = rng.randint(0, 256, size=(5, 4, 3)).astype(np.uint8)

    # build filtered scanlines per the spec (the inverse of unfiltering)
    ch, h, w = 3, *img.shape[:2]
    stride = w * ch
    flat = img.reshape(h, stride).astype(int)
    filters = [0, 1, 2, 3, 4]
    lines = []
    prev = [0] * stride
    for y, ft in zip(range(h), filters):
        cur = list(flat[y])
        filt = []
        for x in range(stride):
            a = cur[x - ch] if x >= ch else 0
            b = prev[x]
            c = prev[x - ch] if x >= ch else 0
            if ft == 0:
                filt.append(cur[x] % 256)
            elif ft == 1:
                filt.append((cur[x] - a) % 256)
            elif ft == 2:
                filt.append((cur[x] - b) % 256)
            elif ft == 3:
                filt.append((cur[x] - ((a + b) >> 1)) % 256)
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                filt.append((cur[x] - pred) % 256)
        lines.append((ft, filt))
        prev = cur
    decoded = decode_png_pixels(_png_with_filters(lines, ch=3))
    assert (decoded == img).all()
    # and the filter-0 encoder round-trips the same image
    assert (decode_png_pixels(png_from_array(img)) == img).all()


def test_png_roundtrip_all_channel_counts():
    import numpy as np

    from creek_spark.operators.multimodal import (
        decode_png_pixels,
        png_from_array,
    )

    rng = np.random.RandomState(3)
    for ch in (1, 2, 3, 4):
        img = rng.randint(0, 256, size=(6, 5, ch)).astype(np.uint8)
        out = decode_png_pixels(png_from_array(img))
        assert out.shape == (6, 5, ch)
        assert (out == img).all()


def test_png_decode_rejects_non_png():
    import pytest as _pytest

    from creek_spark.operators.multimodal import (
        bmp_bytes,
        decode_png_pixels,
    )

    with _pytest.raises(ValueError):
        decode_png_pixels(b"not a png at all")
    with _pytest.raises(ValueError):
        decode_png_pixels(bmp_bytes(4, 4))


def test_resize_images_real_png_path(spark):
    """resize_images with neither fake nor injected codec must now
    REALLY resize PNG payloads (decode → NN → encode)."""
    import numpy as np

    from creek_spark.operators.multimodal import (
        decode_png_pixels,
        nn_resize,
        png_bytes_gradient,
        resize_images,
    )

    media = spark.createDataFrame(
        [(1, "image", bytearray(png_bytes_gradient(10, 8, seed=5)), "image/png")],
        "media_id long, kind string, content binary, mime string",
    )
    out = resize_images(media, width=4, height=3).collect()
    assert len(out) == 1
    got = decode_png_pixels(bytes(out[0]["content"]))
    want = nn_resize(decode_png_pixels(png_bytes_gradient(10, 8, seed=5)), 4, 3)
    assert got.shape == (3, 4, 3)
    assert (got == want).all()


def test_pixel_stats_strict_matches_numpy(spark):
    import numpy as np

    from creek_spark.operators.multimodal import (
        decode_png_pixels,
        pixel_stats,
        png_bytes_gradient,
    )

    payloads = {i: png_bytes_gradient(5 + i, 4 + i, seed=11 * i) for i in range(3)}
    media = spark.createDataFrame(
        [(i, bytearray(p)) for i, p in payloads.items()],
        "media_id long, content binary",
    )
    rows = {r["media_id"]: r for r in pixel_stats(media, strict=True).collect()}
    for i, p in payloads.items():
        a = decode_png_pixels(p)
        r = rows[i]
        assert r["width"] == a.shape[1] and r["height"] == a.shape[0]
        assert r["n_values"] == a.size
        assert r["sum_px"] == int(a.sum(dtype=np.int64))
        assert r["min_px"] == int(a.min()) and r["max_px"] == int(a.max())


def test_pixel_stats_non_png_null_vs_strict(spark):
    import pytest as _pytest

    from creek_spark.operators.multimodal import bmp_bytes, pixel_stats

    media = spark.createDataFrame(
        [(1, bytearray(bmp_bytes(4, 4)))], "media_id long, content binary"
    )
    row = pixel_stats(media).collect()[0]
    assert row["sum_px"] is None and row["width"] is None
    with _pytest.raises(Exception):
        pixel_stats(media, strict=True).collect()


def test_media_report_riff_family_classification(spark):
    """RIFF is a container FAMILY: only RIFF....WAVE is wav.  WebP
    (RIFF....WEBP — common in real image corpora) and AVI payloads must
    land in their own undecoded buckets, not skew the 'wav' row of the
    per-format corruption monitor the report exists to provide."""
    import struct

    import numpy as np

    from creek_spark.operators.media_codecs import wav_from_array
    from creek_spark.operators.multimodal import media_report

    wav = wav_from_array(np.arange(-8, 8, dtype=np.int16))
    webp = b"RIFF" + struct.pack("<I", 12) + b"WEBPVP8 " + bytes(16)
    avi = b"RIFF" + struct.pack("<I", 12) + b"AVI LIST" + bytes(16)
    riff_junk = b"RIFF" + struct.pack("<I", 4) + b"JUNK"
    media = spark.createDataFrame(
        [
            (1, "d0", bytearray(wav)),
            (2, "d0", bytearray(webp)),
            (3, "d0", bytearray(avi)),
            (4, "d0", bytearray(riff_junk)),
        ],
        "media_id bigint, day string, content binary",
    )
    rows = {r["fmt"]: r for r in media_report(media).collect()}
    assert set(rows) == {"wav", "webp", "avi", "other"}
    assert rows["wav"]["n_media"] == rows["wav"]["n_decoded"] == 1
    for fmt in ("webp", "avi", "other"):
        assert rows[fmt]["n_media"] == 1 and rows[fmt]["n_decoded"] == 0


def test_media_report_av_container_buckets(spark):
    """Every parseable audio/video container gets its own
    arrived-vs-decoded row: FLAC, MP3 and MP4 payloads land under their
    format (undecoded — only wav has an in-profile sample decode), a
    well-formed WebP under 'webp' with its header parsed, and a wav
    whose fmt chunk is corrupt stays in the 'wav' bucket as
    arrived-but-undecoded — the corruption gap the report monitors."""
    import struct

    from creek_spark.operators.multimodal import (
        flac_bytes,
        media_report,
        mp3_bytes,
        mp4_bytes,
        webp_bytes,
    )

    corrupt_wav = (
        b"RIFF" + struct.pack("<I", 20) + b"WAVE"
        + b"fmt " + struct.pack("<I", 4) + bytes(4)  # fmt too short
    )
    media = spark.createDataFrame(
        [
            (1, "d0", bytearray(flac_bytes())),
            (2, "d0", bytearray(mp3_bytes())),
            (3, "d0", bytearray(mp4_bytes())),
            (4, "d0", bytearray(webp_bytes(32, 16))),
            (5, "d0", bytearray(corrupt_wav)),
        ],
        "media_id bigint, day string, content binary",
    )
    rows = {r["fmt"]: r for r in media_report(media).collect()}
    assert set(rows) == {"flac", "mp3", "mp4/isom", "webp", "wav"}
    for fmt, r in rows.items():
        assert r["n_media"] == 1 and r["n_decoded"] == 0, fmt


def test_frame_decoder_injection_contract_end_to_end(spark):
    """The video-decode injection contract (round 12; verdict item 4):
    inject a deterministic fake codec and prove the WHOLE plumbing —
    frame_sample_plan's task list, the one-decoder-call-per-video
    batching, per-frame exact-integer stats, None-frame accounting,
    and the strict-vs-null contract — so a production deployment knows
    exactly what to plug in (PyAV/ffmpeg) and everything around it is
    gated today."""
    import numpy as np

    from creek_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        frame_decode_stats,
        frame_sample_plan,
        mp4_bytes,
    )

    rows = [
        (1, "video", mp4_bytes(timescale=600, duration=1800), "video/mp4",
         None, {"duration_s": "12"}),
        (2, "video", mp4_bytes(timescale=1000, duration=2500), "video/mp4",
         None, {"duration_s": "7"}),
        (3, "image", b"\x89PNG" + bytes(16), "image/png", None, {}),  # skipped
        (4, "video", None, "video/mp4", None, {"duration_s": "5"}),  # null
    ]
    media = spark.createDataFrame(rows, schema=MEDIA_SCHEMA)

    def fake_codec(payload: bytes, frame_ts: list) -> list:
        # deterministic per (payload, ts); ts 99+ "past EOF" → None
        out = []
        for t in frame_ts:
            if t >= 10:
                out.append(None)
                continue
            seed = (payload[16] + 7 * t) % 256
            a = (np.arange(6 * 8 * 3, dtype=np.int64).reshape(6, 8, 3)
                 + seed) % 256
            out.append(a.astype(np.uint8))
        return out

    got = frame_decode_stats(media, frame_decoder=fake_codec).collect()
    # task parity: exactly the rows frame_sample_plan generates
    plan = {
        (r["media_id"], r["frame_ts"])
        for r in frame_sample_plan(media).collect()
    }
    assert {(r["media_id"], r["frame_ts"]) for r in got} == plan
    by_key = {(r["media_id"], r["frame_ts"]): r for r in got}
    # decoded frames carry closed-form exact stats
    payloads = {1: rows[0][2], 2: rows[1][2]}
    for (mid, t), r in by_key.items():
        if mid == 4 or t >= 10:  # null payload / past-EOF frame
            assert r["sum_px"] is None and r["width"] is None
            continue
        a = fake_codec(payloads[mid], [t])[0]
        assert (r["width"], r["height"], r["n_channels"]) == (8, 6, 3)
        assert r["n_values"] == a.size
        assert r["sum_px"] == int(a.sum(dtype=np.int64))
        assert r["min_px"] == int(a.min()) and r["max_px"] == int(a.max())

    # one decoder call per VIDEO ROW (container opened once) with the
    # full ordered timestamp list: the decoder runs on workers, so the
    # proof is encoded in its output — each 1x1 frame's value is
    # len(frame_ts)*10 + ts, which distinguishes one batched call
    # (len 3 → 30/35/40) from per-frame calls (len 1 → 10/15/20)
    def counting(payload, frame_ts):
        return [
            np.full((1, 1), (len(frame_ts) * 10 + t) % 256, dtype=np.uint8)
            for t in frame_ts
        ]

    got1 = frame_decode_stats(
        media.where(F.col("media_id") == 1), frame_decoder=counting
    ).collect()
    assert {r["frame_ts"]: r["sum_px"] for r in got1} == {0: 30, 5: 35, 10: 40}

    # contract violations are validated, not trusted: wrong length /
    # wrong dtype raise FrameDecoderContractError under BOTH strictness
    # modes — a broken injected codec is a deployment bug, and nulling
    # it would be indistinguishable from corrupt media (an ordinary
    # decode ValueError still nulls by default, tested above)
    import pytest as _pytest

    for bad in (
        lambda p, ts: [],  # wrong length
        lambda p, ts: [np.zeros((4, 4), dtype=np.float64)] * len(ts),
    ):
        for strict in (False, True):
            with _pytest.raises(Exception, match="contract violation"):
                frame_decode_stats(
                    media.where(F.col("media_id") == 1),
                    frame_decoder=bad, strict=strict,
                ).collect()

    # an ordinary decode failure (corrupt media) keeps the original
    # contract: NULL rows by default, propagated under strict
    def corrupt(p, ts):
        raise ValueError("corrupt GOP")

    nulls = frame_decode_stats(
        media.where(F.col("media_id") == 1), frame_decoder=corrupt
    ).collect()
    assert len(nulls) == 3 and all(r["sum_px"] is None for r in nulls)
    with _pytest.raises(Exception, match="corrupt GOP"):
        frame_decode_stats(
            media.where(F.col("media_id") == 1),
            frame_decoder=corrupt, strict=True,
        ).collect()


def test_image_pixel_digest_normalizes_exif_orientation(spark):
    """The same photo stored under different camera orientations (plus
    a mirrored variant) must digest identically once auto_orient runs —
    and MUST split under orient=False (raw stored pixels), proving the
    normalization is doing the work.  Display dims are reported for
    rotated storage (width/height swap undone)."""
    import numpy as np

    from creek_spark.operators.jpeg_codec import jpeg_from_array
    from creek_spark.operators.multimodal import (
        exif_app1_segment,
        image_pixel_digest,
    )

    bx = np.arange(24, dtype=np.int64)[None, :] // 8
    by = np.arange(16, dtype=np.int64)[:, None] // 8
    disp = (2 * ((5 + 7 * bx + 13 * by) % 125)).astype(np.uint8)

    def payload(o):
        stored = {
            1: disp,
            2: disp[:, ::-1],
            3: disp[::-1, ::-1],
            6: np.rot90(disp, 1),
            8: np.rot90(disp, 3),
        }[o]
        enc = jpeg_from_array(np.ascontiguousarray(stored), quality=50)
        return enc if o == 1 else enc[:2] + exif_app1_segment(o) + enc[2:]

    rows = [(o, bytearray(payload(o))) for o in (1, 2, 3, 6, 8)]
    rows.append((99, bytearray(b"\x00not-an-image")))
    media = spark.createDataFrame(rows, "media_id bigint, content binary")

    got = {r["media_id"]: r for r in image_pixel_digest(media).collect()}
    base = got[1]
    assert base["digest"] is not None
    for o in (2, 3, 6, 8):
        assert got[o]["digest"] == base["digest"], o
        assert (got[o]["width"], got[o]["height"]) == (24, 16), o
    assert got[99]["digest"] is None  # null path for junk

    raw = {
        r["media_id"]: r["digest"]
        for r in image_pixel_digest(media, orient=False).collect()
    }
    assert len({raw[o] for o in (1, 2, 3, 6, 8)}) == 5  # all split

    import pytest as _pytest

    with _pytest.raises(Exception, match="not a (recognized|JPEG|PNG)"):
        image_pixel_digest(media, strict=True).collect()

    # digest canonical-form pin: the LUT-join fast path must equal the
    # DOCUMENTED "h:w: + y,x,c decimal comma-joined" md5 — the form the
    # DuckDB oracle computes with string_agg, so it can never drift
    import hashlib

    from creek_spark.operators.multimodal import decode_image_pixels

    px = decode_image_pixels(payload(1))
    want = hashlib.md5(
        (
            f"{px.shape[0]}:{px.shape[1]}:"
            + ",".join(str(int(v)) for v in px.reshape(-1))
        ).encode()
    ).hexdigest()
    assert base["digest"] == want


def test_header_decoded_channels_agree_with_pixel_decode():
    """r11 verdict minor note: parse_image_header reported palette
    images at the container truth (1 index sample) while pixel_stats
    reported the resolved channels, so joining header rows against
    pixel rows mismatched.  The new n_channels_decoded field must equal
    decode_image_pixels' actual channel count across the codec zoo —
    palette PNG (±tRNS), every PNG color type, low-depth gray, GIF,
    8/24-bit BMP, gray/color JPEG."""
    import numpy as np

    from creek_spark.operators.jpeg_codec import jpeg_from_array
    from creek_spark.operators.media_codecs import (
        bmp_from_array,
        gif_from_array,
    )
    from creek_spark.operators.multimodal import (
        decode_image_pixels,
        parse_image_header,
        png_bytes_indexed,
        png_from_array,
    )

    rng = np.random.default_rng(3)
    idx = rng.integers(0, 4, (6, 5), dtype=np.uint8)
    pal = rng.integers(0, 256, (4, 3), dtype=np.uint8)
    gray = rng.integers(0, 256, (6, 5), dtype=np.uint8)
    zoo = [
        png_bytes_indexed(idx, pal),  # palette → 3
        png_bytes_indexed(idx, pal, trns=[0, 255, 128, 255]),  # +tRNS → 4
        png_bytes_indexed(idx % 2, pal, bit_depth=1),  # low-depth palette
        png_from_array(gray),  # gray → 1
        png_from_array(np.stack([gray, 255 - gray], -1)),  # LA → 2
        png_from_array(np.stack([gray] * 3, -1)),  # RGB → 3
        png_from_array(np.stack([gray] * 4, -1)),  # RGBA → 4
        gif_from_array(gray),  # GIF palette → 3
        bmp_from_array(np.stack([gray] * 3, -1)),  # 24-bit BMP → 3
        jpeg_from_array(gray, quality=80),  # gray JPEG → 1
        jpeg_from_array(np.stack([gray] * 3, -1), quality=80),  # color → 3
    ]
    for i, payload in enumerate(zoo):
        hdr = parse_image_header(payload)
        a = decode_image_pixels(payload)
        ch = 1 if a.ndim == 2 else a.shape[-1]
        assert hdr["n_channels_decoded"] == ch, (
            i, hdr["format"], hdr["n_channels"], hdr["n_channels_decoded"], ch,
        )


def test_header_decoded_channels_null_for_undecodable_variants():
    """Coherence cuts BOTH ways (review finding): variants the pixel
    decoders raise on must report n_channels_decoded=None — a
    lossless/arithmetic/12-bit JPEG, an RLE-compressed BMP, a
    spec-illegal PNG color-type/depth combination.  Otherwise joining
    header rows against pixel rows shows decoded-channel counts beside
    NULL pixel rows, the exact incoherence the column exists to
    prevent."""
    import struct

    import numpy as np
    import pytest

    from creek_spark.operators.jpeg_codec import jpeg_from_array
    from creek_spark.operators.media_codecs import bmp_from_array
    from creek_spark.operators.multimodal import (
        decode_image_pixels,
        parse_image_header,
        png_bytes,
    )

    rng = np.random.default_rng(4)
    img = rng.integers(0, 256, (8, 8, 3), dtype=np.uint8)

    # SOF9 (arithmetic): rewrite a real JPEG's SOF0 marker
    j = bytearray(jpeg_from_array(img))
    sof = j.find(b"\xff\xc0")
    assert sof > 0
    j[sof + 1] = 0xC9
    arithmetic = bytes(j)

    # 12-bit precision: SOF0 with precision byte 12
    j12 = bytearray(jpeg_from_array(img))
    sof = j12.find(b"\xff\xc0")
    j12[sof + 4] = 12  # marker(2) + len(2) → precision byte
    twelve_bit = bytes(j12)

    # RLE8-compressed BMP: set the compression dword on a real BMP
    b8 = bytearray(bmp_from_array(img))
    b8[30:34] = struct.pack("<I", 1)  # BI_RLE8
    rle_bmp = bytes(b8)

    # spec-illegal PNG: palette (ct3) at depth 16
    bad_png = png_bytes(8, 8, bit_depth=16, color_type=3)

    for payload in (arithmetic, twelve_bit, rle_bmp, bad_png):
        hdr = parse_image_header(payload)
        assert hdr is not None and hdr["n_channels_decoded"] is None, hdr
        with pytest.raises((ValueError, NotImplementedError)):
            decode_image_pixels(payload)


def test_image_pixel_digest_distinguishes_shapes(spark):
    """Review finding: the digest preimage now carries h:w, so two
    images holding the same 12 values in row-major order but shaped
    2x6 vs 3x4 digest differently — a consumer grouping on the digest
    alone can no longer silently merge distinct images."""
    import numpy as np

    from creek_spark.operators.media_codecs import bmp_from_array
    from creek_spark.operators.multimodal import image_pixel_digest

    vals = np.arange(36, dtype=np.uint8).reshape(-1, 3)  # 12 px RGB
    a = bmp_from_array(vals.reshape(2, 6, 3))
    b = bmp_from_array(vals.reshape(3, 4, 3))
    media = spark.createDataFrame(
        [(1, bytearray(a)), (2, bytearray(b))],
        "media_id bigint, content binary",
    )
    got = {r["media_id"]: r["digest"] for r in image_pixel_digest(media).collect()}
    assert got[1] is not None and got[2] is not None
    assert got[1] != got[2]
