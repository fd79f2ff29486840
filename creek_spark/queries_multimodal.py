"""Catalog domain: multimodal columns — binary metadata, features,
audio/video and image headers, frame and patch plans, and statistics on
really decoded media: PNG, baseline JPEG, BMP/GIF, WAV and video
frames, exact and EXIF-orientation-normalized pixel dedup, and the
mixed-format media report.

The decode oracles are analytic.  An image whose 8×8 blocks are each
CONSTANT at an even level survives the whole lossy JPEG pipeline
bit-exactly (a constant block's DCT is DC-only; at quality 50 the
Annex K luma table has q00=16, and an even level-shifted value v has
8v/16 = v/2 exactly — no quantization loss; for R=G=B color, Cb=Cr=128
exactly, so the 4:2:0 chroma path is the identity).  Every pixel
statistic is therefore a closed-form function of (doc_id-derived) block
coordinates that DuckDB computes from generate_series — while Spark
computes it by actually decoding the payload on executors.  A hash
mismatch means the encoder, the decoder, or the stats fold mangled real
media bytes.

Scale shape: one mapInPandas stage (Arrow batches, decode work ∝ media
bytes, one metadata row out per item; the blob never shuffles) — the
multimodal family remains the catalog's only Python-stage plans.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from creek_spark.queries import _fan_out, _t, register


# =====================================================================
# multimodal (binary columns; decode is stubbed, plumbing is real)
# =====================================================================


@register(
    "multimodal_binary_meta",
    """
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS content_md5
    FROM documents
    """,
    "multimodal",
)
def multimodal_binary_meta(spark, sf_dir):
    """Opaque-binary plumbing: payload as BinaryType + JVM-side metadata
    (length/digest) — metadata queries never decode.  (md5 of the utf-8
    bytes ≡ md5 of the text.)"""
    docs = _t(spark, sf_dir, "documents")
    blob = docs.select(
        "doc_id", F.encode("text", "utf-8").alias("content")
    )
    return blob.select(
        "doc_id",
        F.length("content").cast("bigint").alias("n_bytes"),
        F.md5("content").alias("content_md5"),
    )


@register(
    "multimodal_features",
    """
    SELECT doc_id AS media_id,
           'image' AS kind,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           4 AS feat_dim,
           CAST(octet_length(encode(text)) AS FLOAT) AS feat_len,
           CAST(octet_length(encode(text)) % 7 AS FLOAT) AS feat_mod
    FROM documents
    """,
    "multimodal",
)
def multimodal_features(spark, sf_dir):
    """mapInPandas feature-extraction plumbing over binary payloads with a
    deterministic fake decoder (codec libs absent here; the decode stub is
    the documented injection point for PIL/librosa/ffmpeg).

    The catalog entry projects the feature array to scalar columns — both
    because the driver's canonicalizer sorts rows (arrays are unhashable in
    pandas) and because the byte-length-derived features are expressible in
    ANSI SQL, upgrading this from rows-only to a full hash-match.  The
    array-returning operator stays for API users (tests/test_multimodal.py
    covers the full feature vector)."""
    from creek_spark.operators.multimodal import extract_features

    docs = _t(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode("text", "utf-8").alias("content"),
    )
    feats = extract_features(media, fake_decode=True)
    return feats.select(
        "media_id",
        "kind",
        "n_bytes",
        "feat_dim",
        F.element_at("features", 1).alias("feat_len"),
        F.element_at("features", 4).alias("feat_mod"),
    )


@register(
    "multimodal_av_headers",
    """
    SELECT doc_id AS media_id,
           CASE CAST(doc_id % 4 AS INTEGER)
             WHEN 0 THEN 'wav' WHEN 1 THEN 'mp4/isom'
             WHEN 2 THEN 'flac' ELSE 'mp3' END AS format,
           CAST(CASE CAST(doc_id % 4 AS INTEGER)
             WHEN 0 THEN (doc_id % 10 + 1) * 250
             WHEN 1 THEN (doc_id % 100 + 1) * 10
             WHEN 2 THEN (doc_id % 10 + 1) * 250
             ELSE (doc_id % 30 + 1) * 100 END AS BIGINT) AS duration_ms,
           CAST(CASE CAST(doc_id % 4 AS INTEGER)
             WHEN 0 THEN 8000 + ((doc_id // 4) % 4) * 4000
             WHEN 2 THEN 16000 + ((doc_id // 4) % 2) * 32000
             WHEN 3 THEN CASE CAST((doc_id // 4) % 3 AS INTEGER)
               WHEN 0 THEN 44100 WHEN 1 THEN 48000 ELSE 32000 END
             ELSE NULL END AS INTEGER) AS sample_rate,
           CAST(CASE WHEN doc_id % 4 = 1 THEN NULL
                     ELSE (doc_id // 4) % 2 + 1 END AS INTEGER) AS n_channels,
           CAST(CASE CAST(doc_id % 4 AS INTEGER)
             WHEN 0 THEN 16
             WHEN 2 THEN 16 + ((doc_id // 4) % 2) * 8
             ELSE NULL END AS INTEGER) AS bit_depth
    FROM documents
    """,
    "multimodal",
)
def multimodal_av_headers(spark, sf_dir):
    """AV twin of multimodal_image_headers: synthesize spec-valid WAV /
    MP4 / FLAC / MP3 containers from doc_id arithmetic, decode with the
    pure-stdlib parser, and let the oracle predict every field —
    duration comes back through the actual RIFF data-size / mvhd
    timescale / FLAC 36-bit total-samples / MP3 CBR-bitrate math, so a
    mismatch means real header bytes broke.  The FLAC arm alternates
    16/24-bit depth and 16/48 kHz; the MP3 arm cycles the three MPEG-1
    sample rates and both channel modes (bit_depth NULL — lossy audio
    has no fixed sample width; its duration is the CBR estimate, exact
    for these constant-bitrate payloads)."""
    from creek_spark.operators.multimodal import (
        decode_av_headers,
        flac_bytes,
        mp3_bytes,
        mp4_bytes,
        wav_bytes,
    )

    def synth(batches):
        import pandas as pd  # noqa: PLC0415 — worker-side import

        for pdf in batches:
            content = []
            for i in pdf["doc_id"]:
                i = int(i)
                arm = i % 4
                if arm == 0:
                    content.append(
                        wav_bytes(
                            seconds=(i % 10 + 1) * 0.25,
                            rate=8000 + ((i // 4) % 4) * 4000,
                            channels=(i // 4) % 2 + 1,
                            bits=16,
                        )
                    )
                elif arm == 1:
                    content.append(
                        mp4_bytes(timescale=600, duration=(i % 100 + 1) * 6)
                    )
                elif arm == 2:
                    rate = 16000 + ((i // 4) % 2) * 32000
                    content.append(
                        flac_bytes(
                            total_samples=(i % 10 + 1) * rate // 4,
                            rate=rate,
                            channels=(i // 4) % 2 + 1,
                            bits=16 + ((i // 4) % 2) * 8,
                        )
                    )
                else:
                    content.append(
                        mp3_bytes(
                            duration_ms=(i % 30 + 1) * 100,
                            kbps=128,
                            rate=(44100, 48000, 32000)[(i // 4) % 3],
                            channels=(i // 4) % 2 + 1,
                            id3=i % 8 == 3,  # half the mp3s carry ID3v2
                        )
                    )
            yield pd.DataFrame({"media_id": pdf["doc_id"], "content": content})

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    media = docs.mapInPandas(
        synth, schema="media_id bigint, content binary"
    )
    return decode_av_headers(media, strict=True).select(
        "media_id", "format", "duration_ms", "sample_rate",
        "n_channels", "bit_depth",
    )


@register(
    "multimodal_frame_plan",
    """
    SELECT doc_id AS media_id, unnest(generate_series(0, doc_id % 60 + 5, 5)) AS frame_ts
    FROM documents
    """,
    "multimodal",
)
def multimodal_frame_plan(spark, sf_dir):
    """Video frame-sampling work plan driven by REAL container decode:
    synthesize an MP4 per document whose mvhd encodes a (doc_id % 60 + 5)
    second duration, recover the duration through the stdlib box parser,
    and expand one decode task every 5 s — (media_id, frame_ts) rows.
    The oracle predicts the expansion from the same arithmetic, so a
    mismatch means duration recovery or the expansion broke.  Payload
    bytes are never touched after the header read; the expansion is a
    JVM sequence/explode."""
    from creek_spark.operators.multimodal import decode_av_headers, mp4_bytes

    def synth(batches):
        import pandas as pd  # noqa: PLC0415 — worker-side import

        for pdf in batches:
            content = [
                mp4_bytes(timescale=600, duration=(int(i) % 60 + 5) * 600)
                for i in pdf["doc_id"]
            ]
            yield pd.DataFrame({"media_id": pdf["doc_id"], "content": content})

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    media = docs.mapInPandas(synth, schema="media_id bigint, content binary")
    hdrs = decode_av_headers(media, strict=True)
    dur_s = (F.col("duration_ms") / F.lit(1000)).cast("long")
    return hdrs.select(
        "media_id",
        F.explode(F.sequence(F.lit(0).cast("long"), dur_s, F.lit(5).cast("long"))).alias(
            "frame_ts"
        ),
    )


@register(
    "multimodal_image_headers",
    """
    SELECT doc_id AS media_id,
           CASE CAST(doc_id % 7 AS INTEGER)
             WHEN 0 THEN 'bmp' WHEN 1 THEN 'gif' WHEN 2 THEN 'png'
             WHEN 3 THEN 'webp' WHEN 4 THEN 'tiff'
             WHEN 5 THEN 'avif' ELSE 'heic' END AS format,
           CAST(doc_id % 512 + 1 AS INTEGER) AS width,
           CAST(doc_id % 256 + 1 AS INTEGER) AS height,
           CAST(CASE CAST(doc_id % 7 AS INTEGER)
             WHEN 0 THEN 24 WHEN 6 THEN 10 ELSE 8 END AS INTEGER)
             AS bit_depth,
           CAST(CASE CAST(doc_id % 7 AS INTEGER)
             WHEN 0 THEN 3 WHEN 1 THEN 1 WHEN 2 THEN 3
             WHEN 3 THEN CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 4 END
             ELSE 3 END AS INTEGER) AS n_channels,
           CAST(CASE WHEN doc_id % 7 < 3 THEN 3 ELSE NULL END AS INTEGER)
             AS n_channels_decoded
    FROM documents
    """,
    "multimodal",
)
def multimodal_image_headers(spark, sf_dir):
    """Round-trip proof that the image header decoder is REAL: synthesize
    a deterministic spec-valid BMP/GIF/PNG/WebP/TIFF/AVIF/HEIC payload
    per document (stdlib byte builders), then recover geometry with
    `decode_image_headers` (pure-stdlib parse over Arrow batches).  The
    oracle predicts the decoded fields from the same doc_id arithmetic —
    a hash mismatch means either the builder or the parser mangled real
    header bytes.  ``n_channels_decoded`` (round 12) reports the
    pixel-decode channel count beside the container truth: the GIF arm
    stores 1 index sample per pixel but decodes to 3 channels
    (palette→RGB), so header rows join coherently against pixel_stats
    rows; the WebP/TIFF/AVIF/HEIC arms (round 12) are header-parseable
    but outside the pixel decoders' profile, so their decoded count is
    NULL — the same split media_report monitors.  Variant coverage: the
    WebP arm alternates lossy VP8 (3 channels) with alpha-flagged
    lossless VP8L (4) by doc parity; the TIFF arm alternates byte order
    AND the inline vs behind-offset BitsPerSample layout; the AVIF arm
    carries a smaller thumbnail ispe the largest-extent rule must skip;
    the HEIC arm is 10-bit (the common HDR depth) under the mif1
    brand."""
    from creek_spark.operators.multimodal import (
        avif_bytes,
        bmp_bytes,
        decode_image_headers,
        gif_bytes,
        png_bytes,
        tiff_bytes,
        webp_bytes,
    )

    def synth(batches):
        import pandas as pd  # noqa: PLC0415 — worker-side import

        for pdf in batches:
            content = []
            for i in pdf["doc_id"]:
                i = int(i)
                w, h = i % 512 + 1, i % 256 + 1
                arm = i % 7
                if arm == 3:
                    content.append(
                        webp_bytes(w, h, layout="vp8")
                        if i % 2 == 0
                        else webp_bytes(w, h, layout="vp8l", alpha=True)
                    )
                elif arm == 4:
                    content.append(
                        tiff_bytes(
                            w, h, big_endian=i % 2 == 0,
                            bits_behind_offset=i % 2 == 1,
                        )
                    )
                elif arm == 5:
                    content.append(
                        avif_bytes(w, h, thumb=(max(1, w // 4), max(1, h // 4)))
                    )
                elif arm == 6:
                    content.append(
                        avif_bytes(w, h, brand="mif1", bit_depth=10)
                    )
                else:
                    content.append([bmp_bytes, gif_bytes, png_bytes][arm](w, h))
            yield pd.DataFrame({"media_id": pdf["doc_id"], "content": content})

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    media = docs.mapInPandas(
        synth, schema="media_id bigint, content binary"
    )
    hdrs = decode_image_headers(media, strict=True)
    return hdrs.select(
        "media_id", "format", "width", "height", "bit_depth",
        "n_channels", "n_channels_decoded",
    )


@register(
    "multimodal_patch_plan",
    """
    WITH m AS (
      SELECT doc_id AS media_id,
             CAST(doc_id % 512 + 1 AS BIGINT) AS width,
             CAST(doc_id % 256 + 1 AS BIGINT) AS height,
             CAST(((doc_id % 512 + 1 + 15) // 16)
                  * ((doc_id % 256 + 1 + 15) // 16) AS BIGINT) AS n_patches,
             CAST(doc_id % 8 AS INTEGER) AS shard
      FROM documents),
    cum AS (
      SELECT *, SUM(n_patches) OVER (PARTITION BY shard ORDER BY media_id
                                     ROWS UNBOUNDED PRECEDING) AS cum_incl
      FROM m)
    SELECT media_id, n_patches, shard,
           CAST((cum_incl - n_patches) // 1024 AS INTEGER) AS pack_id,
           CAST((cum_incl - n_patches) % 1024 AS INTEGER) AS pack_offset
    FROM cum
    """,
    "multimodal",
)
def multimodal_patch_plan(spark, sf_dir):
    """Vision-LM preprocessing plan driven by REAL image decode: every
    document gets a spec-valid synthesized image, geometry is recovered
    through the stdlib header parser, ViT-style 16×16 patch counts are
    computed (ceil(w/16)·ceil(h/16)), and images are packed into
    1024-patch batches per shard — the multimodal twin of text sequence
    packing, sharing pack_sequences' segmented cumsum.  The oracle
    predicts geometry AND pack layout from the doc_id arithmetic, so a
    mismatch means header decode, patch math, or the distributed cumsum
    broke.  Image bytes are touched only inside the Arrow-batched
    header parse; everything after is JVM integer arithmetic."""
    from creek_spark.operators.multimodal import (
        bmp_bytes,
        decode_image_headers,
        gif_bytes,
        png_bytes,
    )
    from creek_spark.operators.pipeline import pack_sequences

    def synth(batches):
        import pandas as pd  # noqa: PLC0415 — worker-side import

        for pdf in batches:
            content = []
            for i in pdf["doc_id"]:
                i = int(i)
                w, h = i % 512 + 1, i % 256 + 1
                content.append([bmp_bytes, gif_bytes, png_bytes][i % 3](w, h))
            yield pd.DataFrame({"media_id": pdf["doc_id"], "content": content})

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    media = docs.mapInPandas(synth, schema="media_id bigint, content binary")
    hdrs = decode_image_headers(media, strict=True)
    patches = hdrs.select(
        "media_id",
        (
            F.floor((F.col("width") + 15) / 16)
            * F.floor((F.col("height") + 15) / 16)
        )
        .cast("bigint")
        .alias("n_patches"),
    )
    packed = pack_sequences(
        patches,
        "media_id",
        "n_patches",
        budget=1024,
        shard_col=F.pmod(F.col("media_id"), F.lit(8)),
    )
    return packed.select(
        "media_id", "n_patches", "shard", "pack_id", "pack_offset"
    )


# =====================================================================
# real PNG pixel statistics (pure-stdlib pixel codec, oracle-verified)
# =====================================================================

PIXEL_STATS_ORACLE = """
WITH g AS (
  SELECT doc_id,
         CAST(doc_id % 12 + 4 AS BIGINT) AS w,
         CAST(doc_id % 8 + 3 AS BIGINT) AS h,
         CAST(doc_id % 256 AS BIGINT) AS seed
  FROM documents),
px AS (
  SELECT doc_id, w, h,
         (x + 2 * y + seed + c) % 256 AS v
  FROM g,
       unnest(generate_series(0, w - 1)) AS tx(x),
       unnest(generate_series(0, h - 1)) AS ty(y),
       unnest(generate_series(0, 2)) AS tc(c))
SELECT doc_id AS media_id,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CAST(3 AS INTEGER) AS n_channels,
       CAST(COUNT(*) AS BIGINT) AS n_values,
       CAST(SUM(v) AS BIGINT) AS sum_px,
       CAST(MIN(v) AS INTEGER) AS min_px,
       CAST(MAX(v) AS INTEGER) AS max_px,
       CAST(CAST(SUM(v) AS BIGINT) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
           AS mean_px
FROM px GROUP BY doc_id, w, h
"""


@register("multimodal_pixel_stats", PIXEL_STATS_ORACLE, "multimodal")
def multimodal_pixel_stats(spark, sf_dir):
    """Round-trip proof that PIXEL decode is REAL, not just headers:
    synthesize a deterministic gradient PNG per document (pixel (x,y,c)
    = (x + 2y + seed + c) mod 256, encoded through the pure-stdlib PNG
    encoder), decode it back through the chunk-walk + IDAT-inflate +
    unfilter codec inside ``pixel_stats`` (mapInPandas), and report
    count / exact sum / min / max / mean per image.  The oracle predicts
    every statistic from the closed-form pixel arithmetic — a hash
    mismatch means the encoder, the decoder, or the stats fold mangled
    actual pixel bytes.

    Scale shape: one mapInPandas stage (Arrow-batched, work ∝ media
    bytes, one metadata row out per image) — the multimodal paths are
    the catalog's ONLY Python stages (PLAN_AUDIT counts them; every
    relational/dedup/text query is plan-gated JVM-only); the mean is
    one IEEE division of exact integers in the JVM."""
    from creek_spark.operators.multimodal import (
        pixel_stats,
        png_bytes_gradient,
    )

    def synth(batches):
        import pandas as pd  # noqa: PLC0415 — worker-side import

        for pdf in batches:
            content = [
                png_bytes_gradient(
                    int(i) % 12 + 4, int(i) % 8 + 3, seed=int(i) % 256
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
# pixel-level exact dedup (real codec round trip)
# =====================================================================

PIXEL_DEDUP_ORACLE = """
WITH g AS (
  SELECT doc_id, CAST(doc_id % 16 AS BIGINT) AS grp FROM documents),
dims AS (
  SELECT doc_id, grp,
         CAST(grp % 12 + 4 AS BIGINT) AS w,
         CAST(grp % 8 + 3 AS BIGINT) AS h,
         CAST((grp * 13) % 256 AS BIGINT) AS seed
  FROM g),
px AS (
  SELECT doc_id, w, h, x, y, c, (x + 2 * y + seed + c) % 256 AS v
  FROM dims
  CROSS JOIN unnest(generate_series(0, w - 1)) AS tx(x)
  CROSS JOIN unnest(generate_series(0, h - 1)) AS ty(y)
  CROSS JOIN unnest(generate_series(0, 2)) AS tc(c)),
ds AS (
  SELECT doc_id, w, h,
         md5(CAST(h AS VARCHAR) || ':' || CAST(w AS VARCHAR) || ':'
             || string_agg(CAST(v AS VARCHAR), ',' ORDER BY y, x, c)) AS digest
  FROM px GROUP BY doc_id, w, h)
SELECT digest,
       CAST(COUNT(*) AS BIGINT) AS n_copies,
       CAST(MIN(doc_id) AS BIGINT) AS keep_id,
       CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height
FROM ds GROUP BY digest, w, h ORDER BY keep_id
"""


@register("multimodal_pixel_dedup", PIXEL_DEDUP_ORACLE, "multimodal")
def multimodal_pixel_dedup(spark, sf_dir):
    """Pixel-level exact image dedup through the REAL codec: synthesize
    a gradient PNG per document with dimensions/seed derived from
    doc_id mod 16 (so 16 pixel-identical groups exist by construction),
    encode → decode through the pure-stdlib PNG codec, digest the
    decoded pixels (md5 of the canonical "h:w:" + y,x,c value string —
    shape in the preimage, matching image_pixel_digest), and group
    by digest — content-addressed image dedup where byte-level dedup
    would be fooled by re-encoding.  The oracle predicts every digest
    from the closed-form pixel arithmetic, so a hash mismatch means the
    encoder, the decoder, or the canonicalization mangled pixels.

    Scale shape: ONE mapInPandas stage (encode+decode+digest per image,
    work ∝ media bytes, one digest row out per image); the dedup itself
    is a JVM hash aggregate on the digest — the dedup_exact shape over
    decoded content."""
    from creek_spark.operators.multimodal import (
        decode_png_pixels,
        png_bytes_gradient,
    )

    def synth_digest(batches):
        import hashlib

        import pandas as pd  # noqa: PLC0415 — worker-side import

        for pdf in batches:
            out = {"media_id": [], "digest": [], "width": [], "height": []}
            for i in pdf["doc_id"]:
                grp = int(i) % 16
                w, h, seed = grp % 12 + 4, grp % 8 + 3, (grp * 13) % 256
                arr = decode_png_pixels(png_bytes_gradient(w, h, seed=seed))
                s = (
                    f"{arr.shape[0]}:{arr.shape[1]}:"
                    + ",".join(str(int(v)) for v in arr.reshape(-1))
                )
                out["media_id"].append(int(i))
                out["digest"].append(hashlib.md5(s.encode()).hexdigest())
                out["width"].append(arr.shape[1])
                out["height"].append(arr.shape[0])
            yield pd.DataFrame(out)

    docs = _fan_out(_t(spark, sf_dir, "documents").select("doc_id"))
    ds = docs.mapInPandas(
        synth_digest,
        schema="media_id bigint, digest string, width int, height int",
    )
    return (
        ds.groupBy("digest", "width", "height")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_copies"),
            F.min("media_id").cast("bigint").alias("keep_id"),
        )
        .select("digest", "n_copies", "keep_id", "width", "height")
        .orderBy("keep_id")
    )


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
