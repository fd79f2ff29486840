"""Query catalog, part 11: the pure-numpy baseline JPEG codec, proven
on real decoded pixels with an analytic DuckDB oracle.

Round-10's verdict named non-PNG pixel decode the engine's largest
real-user gap: a 100 TB multimodal corpus is dominated by JPEG, and
``pixel_stats`` / ``resize_images`` hit the strict-mode cliff on it.
operators/jpeg_codec.py closes that with a spec-faithful baseline
(ITU-T T.81 sequential Huffman) encoder+decoder in stdlib + numpy; this
module is its correctness gate in the oracled catalog, the same way
``multimodal_pixel_stats`` gates the PNG codec.

The oracle trick: an image whose 8×8 blocks are each CONSTANT at an
even level survives the whole lossy pipeline bit-exactly (a constant
block's DCT is DC-only; at quality 50 the Annex K luma table has
q00=16, and an even level-shifted value v has 8v/16 = v/2 exactly — no
quantization loss; for R=G=B color, Cb=Cr=128 exactly, so the 4:2:0
chroma path is the identity).  Every pixel statistic is therefore a
closed-form function of (doc_id-derived) block coordinates that DuckDB
computes from generate_series — while Spark computes it by actually
Huffman-decoding, dequantizing, IDCT-ing and upsampling the payload on
executors.  A hash mismatch means the encoder, the decoder, or the
stats fold mangled real pixel bytes.

Scale shape: one mapInPandas stage (Arrow batches, decode work ∝ media
bytes, one metadata row out per image; the blob never shuffles) — the
multimodal family remains the catalog's only Python-stage plans.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from creek_spark.queries import _fan_out, _t, register

# =====================================================================
# baseline JPEG pixel statistics (pure-numpy codec, oracle-verified)
# =====================================================================

# per doc: w=(id%5+2)*8, h=(id%3+1)*8 (multiples of 8 — no padding
# blocks), seed=id%97, color on odd ids (4:2:0 + YCbCr identity path),
# restart_interval=id%4 (0=no RSTn; 1..3 exercise DC-predictor resets),
# PROGRESSIVE (SOF2: spectral-selection + successive-approximation
# scans) when id%8 >= 4 — the quantized coefficients are identical to
# the baseline encoding, so the oracle is the same closed form.
# block (bx,by) decodes to exactly 2*((seed + 7*bx + 13*by) % 125).
JPEG_PIXEL_STATS_ORACLE = """
WITH g AS (
  SELECT doc_id,
         CAST((doc_id % 5 + 2) * 8 AS BIGINT) AS w,
         CAST((doc_id % 3 + 1) * 8 AS BIGINT) AS h,
         CAST(doc_id % 97 AS BIGINT) AS seed,
         CAST(CASE WHEN doc_id % 2 = 1 THEN 3 ELSE 1 END AS BIGINT) AS nch
  FROM documents),
blk AS (
  SELECT doc_id, w, h, nch,
         2 * ((seed + 7 * bx + 13 * by) % 125) AS v
  FROM g,
       unnest(generate_series(0, w // 8 - 1)) AS tx(bx),
       unnest(generate_series(0, h // 8 - 1)) AS ty(by))
SELECT doc_id AS media_id,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CAST(nch AS INTEGER) AS n_channels,
       CAST(w * h * nch AS BIGINT) AS n_values,
       CAST(64 * nch * SUM(v) AS BIGINT) AS sum_px,
       CAST(MIN(v) AS INTEGER) AS min_px,
       CAST(MAX(v) AS INTEGER) AS max_px,
       CAST(CAST(64 * nch * SUM(v) AS BIGINT) AS DOUBLE)
           / CAST(w * h * nch AS DOUBLE) AS mean_px
FROM blk GROUP BY doc_id, w, h, nch
"""


@register("multimodal_jpeg_pixel_stats", JPEG_PIXEL_STATS_ORACLE, "multimodal")
def multimodal_jpeg_pixel_stats(spark, sf_dir):
    """Round-trip proof that JPEG pixel decode is REAL — baseline AND
    progressive: synthesize a deterministic block-grid JPEG per
    document through the pure-numpy encoder (grayscale 4:4:4 on even
    doc_ids, RGB 4:2:0 on odd ones, restart markers on doc_id%4≠0,
    SOF2 progressive with successive-approximation scans on
    doc_id%8≥4), decode it back through the full Huffman + dequant +
    IDCT + chroma-upsample pipeline inside ``pixel_stats``
    (mapInPandas), and report count / exact sum / min / max / mean per
    image.  The oracle predicts every statistic in closed form (module
    docstring explains why the lossy pipeline is bit-exact on these
    payloads; progressive reorganizes the same quantized coefficients,
    so the same closed form holds)."""
    from creek_spark.operators.jpeg_codec import jpeg_bytes_blockgrid
    from creek_spark.operators.multimodal import pixel_stats

    def synth(batches):
        import pandas as pd  # noqa: PLC0415 — worker-side import

        for pdf in batches:
            content = [
                jpeg_bytes_blockgrid(
                    (int(i) % 5 + 2) * 8,
                    (int(i) % 3 + 1) * 8,
                    seed=int(i) % 97,
                    color=int(i) % 2 == 1,
                    restart_interval=int(i) % 4,
                    progressive=int(i) % 8 >= 4,
                )
                for i in pdf["doc_id"]
            ]
            yield pd.DataFrame({"media_id": pdf["doc_id"], "content": content})

    docs = _fan_out(_t(spark, sf_dir, "documents").select("doc_id"))
    media = docs.mapInPandas(synth, schema="media_id bigint, content binary")
    stats = pixel_stats(media, strict=True)
    return stats.select(
        "*",
        (
            F.col("sum_px").cast("double") / F.col("n_values").cast("double")
        ).alias("mean_px"),
    )


# =====================================================================
# lossless pixel stats: BMP (BI_RGB, row padding) + GIF (full LZW)
# =====================================================================

# even doc_id → 24-bit BMP with the PNG-style gradient (pixel (x,y,c) =
# (x + 2y + seed + c) mod 256); odd → a palette-indexed image (value
# (x + 2y + seed) mod 256 through an identity 256-gray palette, so it
# resolves to (v,v,v) and each pixel contributes 3v): doc_id%4==1 is an
# INTERLACED GIF (full LZW + pass reordering), doc_id%4==3 an Adam7-
# interlaced palette PNG (PLTE lookup).  All lossless → exact oracle;
# the two palette containers share one closed form by construction.
LOSSLESS_PIXEL_STATS_ORACLE = """
WITH g AS (
  SELECT doc_id,
         CAST(doc_id % 9 + 2 AS BIGINT) AS w,
         CAST(doc_id % 5 + 2 AS BIGINT) AS h,
         CAST(doc_id % 256 AS BIGINT) AS seed,
         doc_id % 2 = 0 AS is_bmp
  FROM documents),
px AS (
  SELECT doc_id, w, h, is_bmp,
         CASE WHEN is_bmp THEN (x + 2 * y + seed + c) % 256
              ELSE (x + 2 * y + seed) % 256 END AS v
  FROM g,
       unnest(generate_series(0, w - 1)) AS tx(x),
       unnest(generate_series(0, h - 1)) AS ty(y),
       unnest(generate_series(0, 2)) AS tc(c))
SELECT doc_id AS media_id,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CAST(3 AS INTEGER) AS n_channels,
       CAST(w * h * 3 AS BIGINT) AS n_values,
       CAST(SUM(v) AS BIGINT) AS sum_px,
       CAST(MIN(v) AS INTEGER) AS min_px,
       CAST(MAX(v) AS INTEGER) AS max_px
FROM px GROUP BY doc_id, w, h
"""


@register(
    "multimodal_lossless_pixel_stats",
    LOSSLESS_PIXEL_STATS_ORACLE,
    "multimodal",
)
def multimodal_lossless_pixel_stats(spark, sf_dir):
    """Round-trip proof for the LOSSLESS pure-stdlib codec paths that
    complete image coverage: BMP (operators/media_codecs.py — BGR row
    order, bottom-up storage, 4-byte row padding on the odd widths this
    generator produces), GIF (FULL variable-width LZW with dictionary
    growth and interlaced row order), and palette PNG (round-11 PNG
    extension: PLTE lookup under Adam7 interlace).  Per document the
    gradient image is encoded, shipped as binary, and decoded back
    inside ``pixel_stats`` on executors; the oracle predicts every
    statistic exactly (lossless codecs, no quantization argument
    needed)."""
    from creek_spark.operators.multimodal import pixel_stats

    def synth(batches):
        import numpy as np  # noqa: PLC0415 — worker-side import
        import pandas as pd  # noqa: PLC0415

        from creek_spark.operators.media_codecs import (
            bmp_from_array,
            gif_from_array,
        )

        def one(i: int) -> bytes:
            w, h, seed = i % 9 + 2, i % 5 + 2, i % 256
            xx = np.arange(w, dtype=np.int64)[None, :]
            yy = np.arange(h, dtype=np.int64)[:, None]
            if i % 2 == 0:
                cc = np.arange(3, dtype=np.int64)[None, None, :]
                arr = (xx[..., None] + 2 * yy[..., None] + seed + cc) % 256
                return bmp_from_array(arr.astype(np.uint8))
            arr = ((xx + 2 * yy + seed) % 256).astype(np.uint8)
            if i % 4 == 3:
                from creek_spark.operators.multimodal import (
                    png_bytes_indexed,
                )

                pal = np.repeat(
                    np.arange(256, dtype=np.uint8)[:, None], 3, axis=1
                )
                return png_bytes_indexed(arr, pal, interlace=True)
            return gif_from_array(arr, interlace=(i % 4 == 1))

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "content": [one(int(i)) for i in pdf["doc_id"]],
                }
            )

    docs = _fan_out(_t(spark, sf_dir, "documents").select("doc_id"))
    media = docs.mapInPandas(synth, schema="media_id bigint, content binary")
    return pixel_stats(media, strict=True)


# =====================================================================
# audio sample stats: WAV PCM decode (real samples, exact integers)
# =====================================================================

# frames = (doc_id%37+5)*4, rate 8000, stereo on odd ids; sample (f, c)
# = ((37f + 11c + seed) mod 201) - 100 as int16 — every statistic is an
# exact integer fold the oracle reproduces from generate_series.
AUDIO_STATS_ORACLE = """
WITH g AS (
  SELECT doc_id,
         CAST((doc_id % 37 + 5) * 4 AS BIGINT) AS n,
         CAST(1 + doc_id % 2 AS BIGINT) AS ch,
         CAST(doc_id % 97 AS BIGINT) AS seed
  FROM documents),
s AS (
  SELECT doc_id, n, ch,
         (37 * f + 11 * c + seed) % 201 - 100 AS v
  FROM g,
       unnest(generate_series(0, n - 1)) AS tf(f),
       unnest(generate_series(0, ch - 1)) AS tc(c))
SELECT doc_id AS media_id,
       CAST(n AS BIGINT) AS n_frames,
       CAST(ch AS INTEGER) AS n_channels,
       CAST(8000 AS INTEGER) AS sample_rate,
       CAST(n * 1000000 // 8000 AS BIGINT) AS duration_us,
       CAST(SUM(v) AS BIGINT) AS sum_amp,
       CAST(MIN(v) AS INTEGER) AS min_amp,
       CAST(MAX(v) AS INTEGER) AS max_amp,
       CAST(SUM(v * v) AS BIGINT) AS sum_sq
FROM s GROUP BY doc_id, n, ch
"""


@register("multimodal_audio_stats", AUDIO_STATS_ORACLE, "multimodal")
def multimodal_audio_stats(spark, sf_dir):
    """Round-trip proof that AUDIO decode is real at the sample level,
    not just container headers: synthesize a deterministic PCM pattern
    per document, encode through the pure-stdlib WAV writer, decode the
    samples back inside ``audio_stats`` (mapInPandas), and report
    exact-integer amplitude/energy statistics the oracle reproduces in
    closed form.  Compressed audio remains the documented injection
    point; PCM — the interchange format every audio pipeline
    normalizes to — is now first-class."""
    from creek_spark.operators.multimodal import audio_stats

    def synth(batches):
        import numpy as np  # noqa: PLC0415 — worker-side import
        import pandas as pd  # noqa: PLC0415

        from creek_spark.operators.media_codecs import wav_from_array

        def one(i: int) -> bytes:
            n, ch, seed = (i % 37 + 5) * 4, 1 + i % 2, i % 97
            f = np.arange(n, dtype=np.int64)[:, None]
            c = np.arange(ch, dtype=np.int64)[None, :]
            v = (37 * f + 11 * c + seed) % 201 - 100
            return wav_from_array(v.astype(np.int16), rate=8000)

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "content": [one(int(i)) for i in pdf["doc_id"]],
                }
            )

    docs = _fan_out(_t(spark, sf_dir, "documents").select("doc_id"))
    media = docs.mapInPandas(synth, schema="media_id bigint, content binary")
    return audio_stats(media, strict=True)


# =====================================================================
# mixed-format media ingest report (the multimodal curation dashboard)
# =====================================================================

# five deterministic arms by doc_id%5 — BMP gradient / GIF gradient /
# JPEG block-grid / WAV PCM pattern / an unrecognizable payload (counts
# as arrived-but-undecoded) — bucketed into 3 days by doc_id%3.  Every
# decoded arm is exact (lossless codecs; the JPEG arm is the bit-exact
# block-grid construction), so the whole report is closed-form.
MEDIA_REPORT_ORACLE = """
WITH g AS (
  SELECT doc_id, doc_id % 5 AS arm,
         'd' || CAST(doc_id % 3 AS VARCHAR) AS day
  FROM documents),
bmp_px AS (
  SELECT g.doc_id, day, (x + 2*y + (doc_id % 256) + c) % 256 AS v
  FROM g,
       unnest(generate_series(0, doc_id % 9 + 1)) AS tx(x),
       unnest(generate_series(0, doc_id % 5 + 1)) AS ty(y),
       unnest(generate_series(0, 2)) AS tc(c)
  WHERE arm = 0),
gif_px AS (
  SELECT g.doc_id, day, (x + 2*y + (doc_id % 256)) % 256 AS v
  FROM g,
       unnest(generate_series(0, doc_id % 9 + 1)) AS tx(x),
       unnest(generate_series(0, doc_id % 5 + 1)) AS ty(y),
       unnest(generate_series(0, 2)) AS tc(c)
  WHERE arm = 1),
jpg_px AS (
  SELECT g.doc_id, day,
         2 * (((doc_id % 97) + 7*bx + 13*by) % 125) AS v, 64 AS mult
  FROM g,
       unnest(generate_series(0, doc_id % 5 + 1)) AS tx(bx),
       unnest(generate_series(0, doc_id % 3)) AS ty(by)
  WHERE arm = 2),
wav_px AS (
  SELECT g.doc_id, day, (37*f + 11*c + (doc_id % 97)) % 201 - 100 AS v
  FROM g,
       unnest(generate_series(0, (doc_id % 37 + 5) * 4 - 1)) AS tf(f),
       unnest(generate_series(0, doc_id % 2)) AS tc(c)
  WHERE arm = 3),
perdoc AS (
  SELECT 'bmp' AS fmt, day, doc_id, COUNT(*) AS nv, SUM(v) AS sv,
         MIN(v) AS lo, MAX(v) AS hi, 1 AS dec
  FROM bmp_px GROUP BY day, doc_id
  UNION ALL
  SELECT 'gif', day, doc_id, COUNT(*), SUM(v), MIN(v), MAX(v), 1
  FROM gif_px GROUP BY day, doc_id
  UNION ALL
  SELECT 'jpeg', day, doc_id, 64 * COUNT(*), 64 * SUM(v),
         MIN(v), MAX(v), 1
  FROM jpg_px GROUP BY day, doc_id
  UNION ALL
  SELECT 'wav', day, doc_id, COUNT(*), SUM(v), MIN(v), MAX(v), 1
  FROM wav_px GROUP BY day, doc_id
  UNION ALL
  SELECT 'other', day, doc_id, 0, 0, NULL, NULL, 0
  FROM g WHERE arm = 4)
SELECT fmt, day,
       CAST(COUNT(*) AS BIGINT) AS n_media,
       CAST(SUM(dec) AS BIGINT) AS n_decoded,
       CAST(SUM(nv) AS BIGINT) AS n_values,
       CAST(SUM(sv) AS BIGINT) AS sum_val,
       CAST(MIN(lo) AS INTEGER) AS min_val,
       CAST(MAX(hi) AS INTEGER) AS max_val
FROM perdoc GROUP BY fmt, day
"""


@register("multimodal_media_report", MEDIA_REPORT_ORACLE, "multimodal")
def multimodal_media_report(spark, sf_dir):
    """The mixed-format curation dashboard: one pass over a corpus that
    interleaves BMP, GIF, block-grid JPEG, PCM WAV and unrecognizable
    payloads, decoded by signature through the pure-stdlib codecs
    inside ``media_report`` (mapInPandas with in-Python map-side
    combine — at most one cell per (fmt, day) leaves each Arrow batch;
    blobs never shuffle) and folded to per-(format, day) exact-integer
    ingest statistics.  Undecodable payloads count as
    arrived-but-undecoded — the n_media/n_decoded gap IS the corruption
    monitor."""
    from creek_spark.operators.multimodal import media_report

    def synth(batches):
        import numpy as np  # noqa: PLC0415 — worker-side import
        import pandas as pd  # noqa: PLC0415

        from creek_spark.operators.jpeg_codec import jpeg_bytes_blockgrid
        from creek_spark.operators.media_codecs import (
            bmp_from_array,
            gif_from_array,
            wav_from_array,
        )

        def one(i: int) -> bytes | None:
            arm = i % 5
            if arm in (0, 1):
                w, h, seed = i % 9 + 2, i % 5 + 2, i % 256
                xx = np.arange(w, dtype=np.int64)[None, :]
                yy = np.arange(h, dtype=np.int64)[:, None]
                if arm == 0:
                    cc = np.arange(3, dtype=np.int64)[None, None, :]
                    arr = (
                        xx[..., None] + 2 * yy[..., None] + seed + cc
                    ) % 256
                    return bmp_from_array(arr.astype(np.uint8))
                return gif_from_array(((xx + 2 * yy + seed) % 256).astype(np.uint8))
            if arm == 2:
                return jpeg_bytes_blockgrid(
                    (i % 5 + 2) * 8, (i % 3 + 1) * 8, seed=i % 97,
                    progressive=i % 2 == 0,
                )
            if arm == 3:
                n, ch, seed = (i % 37 + 5) * 4, 1 + i % 2, i % 97
                f = np.arange(n, dtype=np.int64)[:, None]
                c = np.arange(ch, dtype=np.int64)[None, :]
                v = (37 * f + 11 * c + seed) % 201 - 100
                return wav_from_array(v.astype(np.int16), rate=8000)
            return b"\x00unrecognizable-payload" + bytes([i % 251])

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "day": ["d" + str(int(i) % 3) for i in pdf["doc_id"]],
                    "content": [one(int(i)) for i in pdf["doc_id"]],
                }
            )

    docs = _fan_out(_t(spark, sf_dir, "documents").select("doc_id"))
    media = docs.mapInPandas(synth, schema="day string, content binary")
    return media_report(media)


# =====================================================================
# video frame decode through the injection contract (round 12)
# =====================================================================

# per doc: a spec-valid MP4 container (ftyp+moov/mvhd) with one
# doc-keyed trailing byte, duration_s = doc_id % 20 + 3, frames sampled
# every 5 s → ts in {0, 5, ...}.  The injected codec is the
# DETERMINISTIC FAKE the conformance tests gate: frame(t) is the 6×8×3
# consecutive ramp (k + seed) % 256, k = 0..143, seed = (payload[-1] +
# 7·t) % 256 — 144 consecutive residues mod 256, so every statistic is
# closed-form (sum via generate_series; min/max by whether the ramp
# wraps at 256).  Spark runs the REAL plumbing — frame_sample_plan's
# sequence expression, one decoder call per video row, per-frame
# exact-integer stats — with the codec as the one injected part, which
# is exactly the production contract (PyAV/ffmpeg slots into the same
# signature).
FRAME_STATS_ORACLE = """
WITH g AS (
  SELECT doc_id, doc_id % 20 + 3 AS dur,
         CAST(doc_id % 251 AS BIGINT) AS pbyte
  FROM documents),
fr AS (
  SELECT doc_id, pbyte, t,
         (pbyte + 7 * t) % 256 AS seed
  FROM g, unnest(generate_series(0, dur, 5)) AS ts(t)),
px AS (
  SELECT doc_id, t, seed, SUM((k + seed) % 256) AS sv
  FROM fr, unnest(generate_series(0, 143)) AS ks(k)
  GROUP BY doc_id, t, seed)
SELECT CAST(doc_id AS BIGINT) AS media_id,
       CAST(t AS INTEGER) AS frame_ts,
       CAST(8 AS INTEGER) AS width,
       CAST(6 AS INTEGER) AS height,
       CAST(3 AS INTEGER) AS n_channels,
       CAST(144 AS BIGINT) AS n_values,
       CAST(sv AS BIGINT) AS sum_px,
       CAST(CASE WHEN seed > 112 THEN 0 ELSE seed END AS INTEGER)
         AS min_px,
       CAST(CASE WHEN seed > 112 THEN 255 ELSE seed + 143 END AS INTEGER)
         AS max_px
FROM px
"""


@register("multimodal_frame_stats", FRAME_STATS_ORACLE, "multimodal")
def multimodal_frame_stats(spark, sf_dir):
    """Video-frame decode through the injection contract
    (`frame_decode_stats`): the Spark-side plumbing — frame task
    generation from container metadata, one decoder call per video row
    with the full timestamp list, per-frame exact-integer pixel stats,
    contract validation — runs for real over spec-valid MP4 payloads;
    the codec is the deterministic fake the conformance tests gate,
    standing where a production deployment injects PyAV/ffmpeg (H.264
    entropy decode is a codec library's job, not a from-spec numpy
    project — multimodal.py documents the signature).  Every cell is
    closed-form for the DuckDB oracle."""
    from creek_spark.operators.multimodal import (
        frame_decode_stats,
        mp4_bytes,
    )

    def synth(batches):
        import pandas as pd  # noqa: PLC0415 — worker-side import

        base = mp4_bytes(timescale=600, duration=1800)

        def one(i: int) -> bytes:
            return base + bytes([i % 251])

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "kind": ["video"] * len(pdf),
                    "content": [one(int(i)) for i in pdf["doc_id"]],
                    "meta": [
                        {"duration_s": str(int(i) % 20 + 3)}
                        for i in pdf["doc_id"]
                    ],
                }
            )

    def fake_codec(payload: bytes, frame_ts: list) -> list:
        import numpy as np  # noqa: PLC0415 — worker-side import

        out = []
        for t in frame_ts:
            seed = (payload[-1] + 7 * int(t)) % 256
            a = (np.arange(144, dtype=np.int64).reshape(6, 8, 3) + seed) % 256
            out.append(a.astype(np.uint8))
        return out

    docs = _fan_out(_t(spark, sf_dir, "documents").select("doc_id"))
    media = docs.mapInPandas(
        synth,
        schema="media_id bigint, kind string, content binary, "
               "meta map<string,string>",
    )
    return frame_decode_stats(media, frame_decoder=fake_codec, strict=True)


# =====================================================================
# EXIF-orientation-normalized pixel dedup (round 12)
# =====================================================================

# per doc: grp = doc_id % 8 defines ONE display image D (a blockgrid —
# constant even-valued 8×8 blocks, so the whole lossy JPEG pipeline is
# bit-exact); the stored payload carries D rotated per an EXIF
# orientation arm (doc_id % 4 → 1 / 3 / 6 / 8) with the matching APP1
# tag spliced after SOI.  Orientation-normalized digesting must
# collapse every arm onto D's digest — 8 groups total, each counting
# ALL its docs regardless of how the camera stored them.  The oracle
# computes D's digest closed-form (md5 of the canonical y,x value
# string over the blockgrid arithmetic).
PIXEL_DEDUP_ORIENTED_ORACLE = """
WITH g AS (SELECT doc_id, doc_id % 8 AS grp FROM documents),
dims AS (
  SELECT doc_id, grp,
         CAST((grp % 3 + 2) * 8 AS BIGINT) AS w,
         CAST((grp % 2 + 1) * 8 AS BIGINT) AS h,
         CAST((grp * 11) % 97 AS BIGINT) AS seed
  FROM g),
px AS (
  SELECT doc_id, w, h, x, y,
         2 * ((seed + 7 * (x // 8) + 13 * (y // 8)) % 125) AS v
  FROM dims
  CROSS JOIN unnest(generate_series(0, w - 1)) AS tx(x)
  CROSS JOIN unnest(generate_series(0, h - 1)) AS ty(y)),
ds AS (
  SELECT doc_id, w, h,
         md5(CAST(h AS VARCHAR) || ':' || CAST(w AS VARCHAR) || ':'
             || string_agg(CAST(v AS VARCHAR), ',' ORDER BY y, x)) AS digest
  FROM px GROUP BY doc_id, w, h)
SELECT digest,
       CAST(COUNT(*) AS BIGINT) AS n_copies,
       CAST(MIN(doc_id) AS BIGINT) AS keep_id,
       CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height
FROM ds GROUP BY digest, w, h ORDER BY keep_id
"""


@register(
    "multimodal_pixel_dedup_oriented",
    PIXEL_DEDUP_ORIENTED_ORACLE,
    "multimodal",
)
def multimodal_pixel_dedup_oriented(spark, sf_dir):
    """EXIF-aware pixel dedup (r11 verdict item 5): camera JPEGs store
    sensor-order pixels + an orientation tag, so raw-pixel digests
    treat rotations of ONE photo as different images.
    `image_pixel_digest` decodes through the real JPEG codec, reads the
    APP1 orientation, `auto_orient`s to display pixels and digests
    THOSE — here proven on payloads that store the same display image
    under orientations 1/3/6/8 (the synthesis rotates the pixel array
    inversely and splices the matching EXIF segment, all bit-exact via
    the blockgrid construction).  The dedup stays a JVM hash aggregate
    on the digest."""
    from creek_spark.operators.multimodal import (
        exif_app1_segment,
        image_pixel_digest,
    )
    from creek_spark.operators.jpeg_codec import jpeg_from_array

    def synth(batches):
        import numpy as np  # noqa: PLC0415 — worker-side import
        import pandas as pd  # noqa: PLC0415

        def one(i: int) -> bytes:
            grp = i % 8
            w = (grp % 3 + 2) * 8
            h = (grp % 2 + 1) * 8
            seed = (grp * 11) % 97
            bx = np.arange(w, dtype=np.int64)[None, :] // 8
            by = np.arange(h, dtype=np.int64)[:, None] // 8
            disp = (2 * ((seed + 7 * bx + 13 * by) % 125)).astype(np.uint8)
            # (i // 8) % 4, NOT i % 4: grp = i % 8 fixes i % 4, so the
            # per-i arm would give every doc in a group the SAME
            # orientation and never test cross-orientation collapse
            # (review finding) — i // 8 cycles the arm within groups
            o = (1, 3, 6, 8)[(i // 8) % 4]
            if o == 3:
                stored = disp[::-1, ::-1]
            elif o == 6:  # auto_orient applies rot90(k=3): store k=1
                stored = np.rot90(disp, 1)
            elif o == 8:  # auto_orient applies rot90(k=1): store k=3
                stored = np.rot90(disp, 3)
            else:
                stored = disp
            enc = jpeg_from_array(np.ascontiguousarray(stored), quality=50)
            if o != 1:
                enc = enc[:2] + exif_app1_segment(o) + enc[2:]
            return enc

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "content": [one(int(i)) for i in pdf["doc_id"]],
                }
            )

    docs = _fan_out(_t(spark, sf_dir, "documents").select("doc_id"))
    media = docs.mapInPandas(synth, schema="media_id bigint, content binary")
    ds = image_pixel_digest(media, strict=True)
    return (
        ds.groupBy("digest", "width", "height")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_copies"),
            F.min("media_id").cast("bigint").alias("keep_id"),
        )
        .select("digest", "n_copies", "keep_id", "width", "height")
        .orderBy("keep_id")
    )
