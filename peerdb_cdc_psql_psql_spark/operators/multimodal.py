"""Multimodal-column pack (SURVEY.md §2.10 X5 + north-star): image/
audio/video as opaque binary columns + typed metadata structs, with
decode / feature-extract / frame-sample as Arrow-batched Pandas
transforms over ``mapInPandas``.

Real codecs: every ``codec``-tagged query here is a byte-level round
trip through the pure-Python codecs in ``functions/codecs.py`` —
WAV / G.711 / IMA ADPCM / FLAC audio, BMP / PNG / GIF / JPEG (baseline,
progressive, 4:2:0, CMYK, EXIF) / TIFF / WebP images, and DIB AVI,
Motion-JPEG AVI and MP4 video; no media library is needed. Each one
is a per-id row function handed to ``_round_trip``: the manifest
filtered to one media type and id range, then ONE ``mapInPandas``
that builds the id's deterministic fixture, encodes it, decodes it
back and emits the decoded stats, so a payload never crosses the
JVM↔Python boundary. The oracles recompute those stats in closed
form. ``decode_media`` keeps the deterministic fake decoder for
format-agnostic byte-stat plumbing, plus the real sniffing decoder
(``codecs.decode_any``).

Scale: binary payloads ride parquet natively; metadata-only queries
never touch the blob column (columnar projection), and the Pandas
stages are the one place this engine uses Python — Arrow-batched,
per-partition, no driver collects.
"""

from __future__ import annotations

import struct
from collections.abc import Callable, Iterator

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import load
from ..registry import register

# Media manifest schema: the typed envelope around the opaque payload.
MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("media_type", T.StringType()),  # image | audio | video
        T.StructField("payload", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("n_frames", T.IntegerType()),
                    T.StructField("sample_rate", T.IntegerType()),
                ]
            ),
        ),
    ]
)

_DECODE_OUT_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("payload_bytes", T.LongType()),
        T.StructField("byte_sum", T.LongType()),
        T.StructField("byte_mean", T.DoubleType()),
    ]
)


def media_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize the media table from `documents`: payload = UTF-8
    bytes of the text (a stand-in blob), typed metadata derived
    deterministically from doc_id. Real pipelines read this manifest
    from parquet directly — blobs inline or as object-store pointers."""
    docs = load(spark, sf_dir, "documents")
    mt = (
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
    )
    return docs.select(
        F.col("doc_id").alias("media_id"),
        mt.alias("media_type"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.struct(
            ((F.col("doc_id") % 8 + 1) * 64).cast("int").alias("width"),
            ((F.col("doc_id") % 4 + 1) * 64).cast("int").alias("height"),
            (F.col("doc_id") % 30 + 1).cast("int").alias("n_frames"),
            F.lit(16000).cast("int").alias("sample_rate"),
        ).alias("meta"),
    )


_DECODE_ANY_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("fmt", T.StringType()),
        T.StructField("kind", T.StringType()),
        T.StructField("ok", T.BooleanType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("n_channels", T.LongType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("sample_rate", T.LongType()),
    ]
)


def decode_media(df: DataFrame, fake: bool = True) -> DataFrame:
    """Decode/feature-extract stage over mapInPandas (Arrow batches).

    ``fake=True`` runs the deterministic stand-in decoder (byte stats
    per payload — numpy-vectorized inside the batch). ``fake=False``
    is the REAL format-agnostic path (the r5 sanction closed in r6):
    `codecs.decode_any` sniffs the container magic and dispatches to
    the matching real decoder (WAV/G.711/ADPCM/FLAC audio;
    BMP/PNG/GIF/JPEG/TIFF images; AVI/MP4 container demux), emitting
    one normalized metadata row per blob; unknown/corrupt payloads
    degrade to ok=false rows, never a task failure. Note the schemas
    differ: byte stats for the stand-in, typed media metadata for the
    real path."""

    if not fake:
        from ..functions.codecs import decode_any

        def real_batches(it: Iterator) -> Iterator:
            import pandas as pd

            for pdf in it:
                rows = []
                for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                    d = decode_any(bytes(payload))
                    rows.append(
                        (
                            int(mid), d["fmt"], d["kind"], bool(d["ok"]),
                            d["width"], d["height"], d["n_channels"],
                            d["n_frames"], d["n_samples"], d["sample_rate"],
                        )
                    )
                yield pd.DataFrame(
                    rows,
                    columns=[f.name for f in _DECODE_ANY_SCHEMA.fields],
                )

        return df.mapInPandas(real_batches, schema=_DECODE_ANY_SCHEMA)

    def batches(it: Iterator) -> Iterator:
        import numpy as np

        for pdf in it:
            payloads = pdf["payload"]
            sums = payloads.map(lambda b: int(np.frombuffer(b, dtype=np.uint8).sum()))
            lens = payloads.map(len)
            out = pdf[["media_id", "media_type"]].copy()
            out["payload_bytes"] = lens.astype("int64")
            out["byte_sum"] = sums.astype("int64")
            out["byte_mean"] = out["byte_sum"] / out["payload_bytes"]
            yield out

    return df.mapInPandas(batches, schema=_DECODE_OUT_SCHEMA)


@register(
    "multimodal_manifest_stats",
    oracle="""
SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
            WHEN doc_id % 3 = 1 THEN 'audio'
            ELSE 'video' END AS media_type,
       COUNT(*) AS n_media,
       CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
       MAX((doc_id % 8 + 1) * 64) AS max_width,
       CAST(SUM(doc_id % 30 + 1) AS BIGINT) AS total_frames
FROM documents
GROUP BY 1
""",
    tags=("X5", "multimodal"),
)
def multimodal_manifest_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed-metadata analytics over the media manifest (X5): byte
    volume, dimensions, frame counts per media type — the blob column
    is never read (columnar projection prunes it)."""
    m = media_manifest(spark, sf_dir)
    return m.groupBy("media_type").agg(
        F.count(F.lit(1)).alias("n_media"),
        F.sum(F.length("payload")).cast("bigint").alias("total_bytes"),
        F.max("meta.width").alias("max_width"),
        F.sum("meta.n_frames").cast("bigint").alias("total_frames"),
    )


@register(
    "multimodal_frame_sample",
    oracle="""
SELECT media_id, frame_idx FROM (
  SELECT doc_id AS media_id, doc_id % 30 + 1 AS n_frames,
         unnest(range(0, CAST(doc_id % 30 + 1 AS BIGINT), 5)) AS frame_idx
  FROM documents
  WHERE doc_id % 3 = 2 AND doc_id < 150
)
""",
    tags=("X5", "multimodal"),
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing (X5): every-5th frame index per
    video, exploded into (media_id, frame_idx) work units — the fan-out
    a distributed frame extractor consumes. Explode happens executor-
    side; no driver involvement."""
    m = media_manifest(spark, sf_dir).filter(
        (F.col("media_type") == "video") & (F.col("media_id") < 150)
    )
    idx = F.sequence(
        F.lit(0), F.col("meta.n_frames").cast("long") - 1, F.lit(5).cast("long")
    )
    return m.select("media_id", F.explode(idx).alias("frame_idx"))


@register(
    "multimodal_decode_stats",
    oracle="""
SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
            WHEN doc_id % 3 = 1 THEN 'audio'
            ELSE 'video' END AS media_type,
       COUNT(*) AS n_decoded,
       CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_payload_bytes
FROM documents
WHERE doc_id < 200
GROUP BY 1
""",
    tags=("X5", "multimodal"),
)
def multimodal_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end decode pipeline (X5): manifest → mapInPandas fake
    decoder (Arrow batches, numpy byte stats) → grouped rollup. The
    oracle checks the Spark-side plumbing (row routing, byte lengths)
    — byte_sum/byte_mean correctness is asserted separately in
    tests/test_llm_pack.py against an expression-computed truth."""
    m = media_manifest(spark, sf_dir).filter(F.col("media_id") < 200)
    decoded = decode_media(m, fake=True)
    return decoded.groupBy("media_type").agg(
        F.count(F.lit(1)).alias("n_decoded"),
        F.sum("payload_bytes").cast("bigint").alias("total_payload_bytes"),
    )


# ---------------------------------------------------------------------------
# Real codecs: one encode → decode round trip per media id
# ---------------------------------------------------------------------------


def _schema(cols: str) -> T.StructType:
    """Output schema from space-separated ``name`` or ``name:type``
    tokens (type ``string`` or ``boolean``); an untyped column is
    bigint."""
    types = {"string": T.StringType(), "boolean": T.BooleanType()}
    return T.StructType(
        [
            T.StructField(name, types[t[0]] if t else T.LongType())
            for name, *t in (c.split(":") for c in cols.split())
        ]
    )


def _round_trip(
    spark: SparkSession,
    sf_dir: str,
    media_type: str,
    ids: range,
    schema: T.StructType,
    rows_for: Callable[[int], list[dict]],
) -> DataFrame:
    """A codec query: the manifest's ``media_type`` rows whose
    ``media_id`` lies in ``ids``, through ONE ``mapInPandas``.
    ``rows_for(m)`` builds media id ``m``'s fixture, encodes and
    decodes it, and returns its output rows as mappings from column
    name to value (a decoder's result dict usually is one); the batch
    loop prepends ``media_id`` and emits ``schema``'s columns in order.

    ``rows_for`` must be nested in its query function: closures are
    pickled by value, while a module-level function here would be
    pickled by reference and need this package importable on every
    worker (``functions/codecs.py`` registers itself by value)."""
    cols = schema.fieldNames()

    def batches(it: Iterator) -> Iterator:
        import pandas as pd

        for pdf in it:
            rows = [
                (m, *(r[c] for c in cols[1:]))
                for m in map(int, pdf["media_id"])
                for r in rows_for(m)
            ]
            yield pd.DataFrame(rows, columns=cols)

    mid = F.col("media_id")
    keep = (
        (F.col("media_type") == media_type)
        & (mid >= ids.start)
        & (mid < ids.stop)
    )
    ids_df = media_manifest(spark, sf_dir).filter(keep).select("media_id")
    return ids_df.mapInPandas(batches, schema=schema)


_PNG_SCHEMA = _schema(
    "media_id width height n_channels n_pixels sum_r sum_g sum_b"
)
_JPEG_COLOR_SCHEMA = _schema("media_id width height n_channels sum_r sum_g sum_b")
_BMP_SCHEMA = _schema("media_id width height n_pixels mean_r mean_g mean_b")
_PCM_SCHEMA = _schema("media_id sample_rate n_channels n_samples peak mean_abs")
_FLAC_CHANNELS_SCHEMA = _schema(
    "media_id n_channels channel_mode:string n_samples sum_samples"
    " min_sample max_sample"
)
# the GIF fixtures' 16-color palette: exact mod-function channels
_GIF_PALETTE = (np.arange(16)[:, None] * [17, 13, 29] % 256).astype(np.uint8)


@register(
    "multimodal_png_decode",
    oracle="""
SELECT doc_id AS media_id,
       (doc_id % 8) * 4 + 5 AS width,
       (doc_id % 4) + 2 AS height,
       CAST(3 AS BIGINT) AS n_channels,
       ((doc_id % 8) * 4 + 5) * ((doc_id % 4) + 2) AS n_pixels,
       ((doc_id % 4) + 2)
         * ( ((doc_id % 8) * 4 + 5) * (doc_id % 200)
           + ((doc_id % 8) * 4 + 5) * ((doc_id % 8) * 4 + 4) // 2 ) AS sum_r,
       ((doc_id % 8) * 4 + 5)
         * ( ((doc_id % 4) + 2) * (doc_id % 220)
           + ((doc_id % 4) + 2) * ((doc_id % 4) + 1) // 2 ) AS sum_g,
       ((doc_id % 8) * 4 + 5) * ((doc_id % 4) + 2)
         * ((doc_id * 13) % 256) AS sum_b
FROM documents
WHERE doc_id % 3 = 0 AND doc_id < 200
""",
    tags=("X5", "multimodal", "codec"),
)
def multimodal_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG codec round trip (X5, VERDICT r5 #7): gradient images
    zlib-compressed through all five PNG scanline filters, then
    re-parsed byte-for-byte with the stdlib-only decoder. The oracle
    recomputes dimensions and per-channel pixel sums arithmetically
    (gradient sums are closed-form) — any filter-reconstruction or
    inflate-framing bug breaks exact equality."""
    from ..functions.codecs import decode_png, encode_png

    def rows_for(m: int) -> list[dict]:
        w, h = m % 8 * 4 + 5, m % 4 + 2
        px = np.empty((h, w, 3), np.uint8)
        px[..., 0] = m % 200 + np.arange(w)
        px[..., 1] = m % 220 + np.arange(h)[:, None]
        px[..., 2] = m * 13 % 256
        return [decode_png(encode_png(px))]

    return _round_trip(spark, sf_dir, "image", range(200), _PNG_SCHEMA, rows_for)


@register(
    "multimodal_gif_decode",
    oracle="""
SELECT media_id, width, height,
       width * height AS n_pixels,
       CAST(16 AS BIGINT) AS n_colors,
       local_table, interlaced,
       n0 * ((c0 * 17) % 256)
         + (width * height - n0) * ((c1 * 17) % 256) AS sum_r,
       n0 * ((c0 * 13) % 256)
         + (width * height - n0) * ((c1 * 13) % 256) AS sum_g,
       n0 * ((c0 * 29) % 256)
         + (width * height - n0) * ((c1 * 29) % 256) AS sum_b,
       -- row-position-weighted red sum: even rows carry
       -- a = ceil(w/2)·r0 + floor(w/2)·r1, odd rows the swap;
       -- Σ even y = k(k-1) with k = ceil(h/2), Σ odd y = j² with
       -- j = floor(h/2). Pins the §20 de-interlace row placement
       -- (plain sums are permutation-invariant).
       ( ((width + 1) // 2 * ((c0 * 17) % 256)
            + width // 2 * ((c1 * 17) % 256))
          * (((height + 1) // 2) * ((height + 1) // 2 - 1))
       + (width // 2 * ((c0 * 17) % 256)
            + (width + 1) // 2 * ((c1 * 17) % 256))
          * ((height // 2) * (height // 2)) ) AS row_weighted_r
FROM (
  SELECT doc_id AS media_id,
         (doc_id % 8) * 4 + 5 AS width,
         (doc_id % 4) + 2 AS height,
         doc_id % 16 AS c0,
         (doc_id * 7 + 1) % 16 AS c1,
         (doc_id // 3) % 3 = 2 AS local_table,
         (doc_id // 3) % 2 = 1 AS interlaced,
         -- checkerboard even-cell count:
         -- ceil(h/2)*ceil(w/2) + floor(h/2)*floor(w/2)
         (((doc_id % 4) + 3) // 2) * (((doc_id % 8) * 4 + 6) // 2)
           + (((doc_id % 4) + 2) // 2) * (((doc_id % 8) * 4 + 5) // 2) AS n0
  FROM documents
  WHERE doc_id % 3 = 0 AND doc_id < 200
)
""",
    tags=("X5", "multimodal", "codec"),
)
def multimodal_gif_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL GIF codec round trip (X5, r6; layouts r8): checkerboard
    16-color images LZW-compressed through the pure-Python variable-
    width encoder, then re-parsed (block walk, sub-block reassembly,
    string table growth, palette lookup). Fixtures rotate the two r8
    layout levers — palette as a LOCAL color table (no global one)
    and §20 four-pass INTERLACED row order — so all four combinations
    decode in every window. The oracle recomputes dimensions,
    per-channel sums from the checkerboard counting identity, the
    layout-flag assignments, AND the row-position-weighted red sum
    (plain sums are row-permutation-invariant; the weighted sum
    breaks if de-interlacing scatters any row to the wrong place).

    Note the odd fixture widths make the two checkerboard colors
    unbalanced per row, pinning the row-major pixel order too."""
    from ..functions.codecs import decode_gif, encode_gif

    def rows_for(m: int) -> list[dict]:
        w, h = m % 8 * 4 + 5, m % 4 + 2
        yy, xx = np.indices((h, w))
        idx = np.where((xx + yy) % 2 == 0, m % 16, (m * 7 + 1) % 16)
        # the two layout levers rotate with combined cycle 6 (all four
        # combinations): palette placement and §20 interlaced row order
        payload = encode_gif(
            idx.astype(np.uint8), _GIF_PALETTE,
            local_palette=(m // 3) % 3 == 2, interlace=(m // 3) % 2 == 1,
        )
        return [decode_gif(payload)]

    schema = _schema(
        "media_id width height n_pixels n_colors local_table:boolean"
        " interlaced:boolean sum_r sum_g sum_b row_weighted_r"
    )
    return _round_trip(spark, sf_dir, "image", range(200), schema, rows_for)


@register(
    "multimodal_gif_anim_decode",
    oracle="""
SELECT media_id, width, height,
       CAST(3 AS BIGINT) AS n_frames,
       CAST(3 * (media_id % 10 + 1) AS BIGINT) AS total_delay_cs,
       CAST(d AS BIGINT) AS disposal1,
       -- final canvas census (frame rects are disjoint by
       -- construction): row 0 = checkerboard c2 over c0 (odd cells
       -- TRANSPARENT — base shows through), inner rect = c1 kept /
       -- bg restored / c0 restored per disposal 1/2/3, rest = c0
       nE * ((c2 * 17) % 256) + nO * ((c0 * 17) % 256)
         + a1 * ((k1 * 17) % 256) + rest * ((c0 * 17) % 256)
         AS final_sum_r,
       nE * ((c2 * 13) % 256) + nO * ((c0 * 13) % 256)
         + a1 * ((k1 * 13) % 256) + rest * ((c0 * 13) % 256)
         AS final_sum_g,
       nE * ((c2 * 29) % 256) + nO * ((c0 * 29) % 256)
         + a1 * ((k1 * 29) % 256) + rest * ((c0 * 29) % 256)
         AS final_sum_b,
       width * height * ((c0 * 17) % 256) AS first_sum_r
FROM (
  SELECT media_id, width, height, c0, c2, d,
         CASE d WHEN 1 THEN c1 WHEN 2 THEN bg ELSE c0 END AS k1,
         (width + 1) // 2 AS nE, width // 2 AS nO,
         (width // 2) * (height // 2) AS a1,
         width * height - width
           - (width // 2) * (height // 2) AS rest
  FROM (
    SELECT doc_id AS media_id,
           (doc_id % 8) * 3 + 6 AS width,
           (doc_id % 4) * 2 + 4 AS height,
           doc_id % 16 AS c0,
           (doc_id * 7 + 1) % 16 AS c1,
           (doc_id * 5 + 3) % 16 AS c2,
           (doc_id + 11) % 16 AS bg,
           (doc_id // 3) % 3 + 1 AS d
    FROM documents
    WHERE doc_id % 3 = 1 AND doc_id < 200
  )
)
""",
    tags=("X5", "multimodal", "codec"),
)
def multimodal_gif_anim_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANIMATED GIF decode + compositing (X5, r8 — the dominant
    real-corpus GIF shape: multi-frame, sub-rectangle updates,
    transparency, disposal methods). Three frames per fixture: a
    full-rect base, an inner sub-rectangle whose disposal cycles
    1 (keep) / 2 (restore-background) / 3 (restore-previous) —
    interlaced on odd ids so §20 runs per-frame — and a top-row
    checkerboard whose odd cells are transparent, so the base color
    MUST show through the transparency mask. The oracle recomputes
    the final composited canvas channel census, the per-frame delay
    total from the Graphic Control Extensions, the disposal
    assignment, and frame 0's displayed sum. A wrong disposal
    restore, a transparency mask applied backwards, or a frame
    placed at the wrong offset each shift a sum."""
    from ..functions.codecs import decode_gif_anim, encode_gif_anim

    def rows_for(m: int) -> list[dict]:
        w, h = (m % 8) * 3 + 6, (m % 4) * 2 + 4
        c2, delay = (m * 5 + 3) % 16, m % 10 + 1
        t = (c2 + 1) % 16
        row = np.full((1, w), c2, np.uint8)
        row[0, 1::2] = t
        frames = [
            {"idx": np.full((h, w), m % 16, np.uint8), "x": 0, "y": 0,
             "disposal": 1, "transparent": None, "delay_cs": delay},
            {"idx": np.full((h // 2, w // 2), (m * 7 + 1) % 16, np.uint8),
             "x": 1, "y": 1, "disposal": (m // 3) % 3 + 1,
             "transparent": None, "delay_cs": delay,
             "interlace": m % 2 == 1},
            {"idx": row, "x": 0, "y": 0, "disposal": 0, "transparent": t,
             "delay_cs": delay},
        ]
        d = decode_gif_anim(
            encode_gif_anim(frames, _GIF_PALETTE, w, h, bg_index=(m + 11) % 16)
        )
        return [{**d, "disposal1": d["frames"][1]["disposal"]}]

    schema = _schema(
        "media_id width height n_frames total_delay_cs disposal1"
        " final_sum_r final_sum_g final_sum_b first_sum_r"
    )
    # the oracle's ids (doc_id % 3 = 1) are the audio rows
    return _round_trip(spark, sf_dir, "audio", range(200), schema, rows_for)


@register(
    "multimodal_jpeg_decode",
    oracle="""
SELECT doc_id AS media_id,
       (doc_id % 8) * 4 + 5 AS width,
       (doc_id % 4) + 2 AS height,
       ((doc_id % 8) * 4 + 5) * ((doc_id % 4) + 2) AS n_pixels,
       ((doc_id % 8) * 4 + 5) * ((doc_id % 4) + 2)
         * (2 * (doc_id % 127)) AS sum_gray
FROM documents
WHERE doc_id % 3 = 0 AND doc_id < 200
""",
    tags=("X5", "multimodal", "codec"),
)
def multimodal_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline JPEG codec round trip (X5, r6): solid even-gray
    fixtures through the full lossy pipeline — FDCT, standard-table
    quantization, canonical Huffman entropy coding with byte
    stuffing, then marker walk, in-stream table parse, Huffman +
    magnitude decode, dequant, IDCT, MCU-padding crop. Even-gray
    solids are the pipeline's lossless fixed points, so the oracle
    pins dimensions and the exact pixel sum; any DCT-scaling,
    zigzag, bit-packing, or table desync breaks equality."""
    from ..functions.codecs import decode_jpeg, encode_jpeg_gray

    def rows_for(m: int) -> list[dict]:
        w, h = m % 8 * 4 + 5, m % 4 + 2
        px = np.full((h, w), 2 * (m % 127), np.uint8)
        return [decode_jpeg(encode_jpeg_gray(px))]

    schema = _schema("media_id width height n_pixels sum_gray")
    return _round_trip(spark, sf_dir, "image", range(200), schema, rows_for)


@register(
    "multimodal_jpeg_color_decode",
    oracle="""
SELECT doc_id AS media_id,
       (doc_id % 8) * 4 + 5 AS width,
       (doc_id % 4) + 2 AS height,
       CAST(3 AS BIGINT) AS n_channels,
       ((doc_id % 8) * 4 + 5) * ((doc_id % 4) + 2)
         * (2 * (doc_id % 127)) AS sum_r,
       ((doc_id % 8) * 4 + 5) * ((doc_id % 4) + 2)
         * (2 * (doc_id % 127)) AS sum_g,
       ((doc_id % 8) * 4 + 5) * ((doc_id % 4) + 2)
         * (2 * (doc_id % 127)) AS sum_b
FROM documents
WHERE doc_id % 3 = 0 AND doc_id < 200
""",
    tags=("X5", "multimodal", "codec"),
)
def multimodal_jpeg_color_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL color JPEG round trip (X5, r6): 3-component 4:4:4
    baseline — JFIF RGB→YCbCr, interleaved Y/Cb/Cr MCUs with
    per-component DC predictors and luma/chroma quant tables, then
    the inverse transform on decode. Gray-valued RGB solids map to
    Y=v, Cb=Cr=128 EXACTLY (the color transform's fixed line), so
    even-gray fixtures stay lossless through the full color pipeline
    and the oracle pins exact per-channel sums — a desync in MCU
    interleave order, chroma table selection, or either color
    transform breaks equality."""
    from ..functions.codecs import decode_jpeg, encode_jpeg_rgb

    def rows_for(m: int) -> list[dict]:
        w, h = m % 8 * 4 + 5, m % 4 + 2
        px = np.full((h, w, 3), 2 * (m % 127), np.uint8)
        return [decode_jpeg(encode_jpeg_rgb(px))]

    return _round_trip(
        spark, sf_dir, "image", range(200), _JPEG_COLOR_SCHEMA, rows_for
    )


@register(
    "multimodal_jpeg_noninterleaved_decode",
    oracle="""
SELECT doc_id AS media_id,
       (doc_id % 8) * 4 + 5 AS width,
       (doc_id % 4) + 2 AS height,
       CAST(CASE WHEN doc_id % 4 = 0 THEN 2 ELSE 3 END AS BIGINT)
         AS n_scans,
       (doc_id // 3) % 2 = 1 AS subsampled,
       ((doc_id % 8) * 4 + 5) * ((doc_id % 4) + 2)
         * (2 * (doc_id % 127)) AS sum_r,
       ((doc_id % 8) * 4 + 5) * ((doc_id % 4) + 2)
         * (2 * (doc_id % 127)) AS sum_g,
       ((doc_id % 8) * 4 + 5) * ((doc_id % 4) + 2)
         * (2 * (doc_id % 127)) AS sum_b
FROM documents
WHERE doc_id % 3 = 0 AND doc_id >= 350 AND doc_id < 500
""",
    tags=("X5", "multimodal", "codec"),
)
def multimodal_jpeg_noninterleaved_decode(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """NON-INTERLEAVED baseline JPEG (X5, r8 second pass — T.81
    §A.2: one SOS per component over its OWN block grid, the layout
    some baseline encoders emit for 4:4:4 color). Fixtures rotate
    4:4:4 / 4:2:0 subsampling and restart intervals inside the
    per-component scans (block-counted, RSTn sequence reset per
    scan); even-gray solids stay lossless through the color pipeline,
    and the SOS count re-read from the emitted bytes pins that the
    file really is multi-scan. A decoder walking the wrong grid
    geometry (MCU-padded instead of own-grid) or carrying DC
    predictors across scans breaks the sums."""
    from ..functions.codecs import (
        decode_jpeg,
        encode_jpeg_rgb,
        encode_jpeg_rgb_420,
    )

    def rows_for(m: int) -> list[dict]:
        w, h, v = m % 8 * 4 + 5, m % 4 + 2, 2 * (m % 127)
        sub = (m // 3) % 2 == 1
        enc = encode_jpeg_rgb_420 if sub else encode_jpeg_rgb
        # every fourth fixture uses the PARTIALLY interleaved §A.2.3
        # script (Y alone + Cb/Cr interleaved → 2 scans); the rest
        # stay fully non-interleaved (3)
        payload = enc(
            np.full((h, w, 3), v, np.uint8),
            restart_interval=(m // 3) % 3,
            interleaved=False,
            scan_groups=[[0], [1, 2]] if m % 4 == 0 else None,
        )
        d = decode_jpeg(payload)
        return [{**d, "n_scans": payload.count(b"\xff\xda"), "subsampled": sub}]

    schema = _schema(
        "media_id width height n_scans subsampled:boolean sum_r sum_g sum_b"
    )
    return _round_trip(spark, sf_dir, "image", range(350, 500), schema, rows_for)


@register(
    "multimodal_jpeg_420_decode",
    oracle="""
SELECT doc_id AS media_id,
       (doc_id % 8) * 4 + 5 AS width,
       (doc_id % 4) + 2 AS height,
       CAST(3 AS BIGINT) AS n_channels,
       ((doc_id % 8) * 4 + 5) * ((doc_id % 4) + 2)
         * (2 * (doc_id % 127)) AS sum_r,
       ((doc_id % 8) * 4 + 5) * ((doc_id % 4) + 2)
         * (2 * (doc_id % 127)) AS sum_g,
       ((doc_id % 8) * 4 + 5) * ((doc_id % 4) + 2)
         * (2 * (doc_id % 127)) AS sum_b
FROM documents
WHERE doc_id % 3 = 0 AND doc_id < 200
""",
    tags=("X5", "multimodal", "codec"),
)
def multimodal_jpeg_420_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL 4:2:0 SUBSAMPLED JPEG round trip (X5, r6) — the dominant
    shape of real-corpus JPEGs: Y at 2×2 sampling, box-averaged
    half-resolution chroma, MCU = 4 luma blocks + Cb + Cr, decode
    re-expands chroma by replication. Gray-valued even solids stay
    exact through subsampling too (a constant plane box-averages and
    replicates to itself), so the oracle pins the full 4:2:0 chain —
    MCU interleave order, per-factor block placement, chroma
    upsampling — with exact per-channel sums. Odd fixture widths
    exercise the luma-vs-chroma MCU overhang crop."""
    from ..functions.codecs import decode_jpeg, encode_jpeg_rgb_420

    def rows_for(m: int) -> list[dict]:
        w, h = m % 8 * 4 + 5, m % 4 + 2
        px = np.full((h, w, 3), 2 * (m % 127), np.uint8)
        return [decode_jpeg(encode_jpeg_rgb_420(px))]

    return _round_trip(
        spark, sf_dir, "image", range(200), _JPEG_COLOR_SCHEMA, rows_for
    )


@register(
    "multimodal_jpeg_exif_orientation",
    oracle="""
WITH p AS (
  SELECT doc_id, doc_id % 8 + 1 AS o, 2 * (doc_id % 97 + 1) AS v
  FROM documents WHERE doc_id % 3 = 0 AND doc_id < 200
)
SELECT doc_id AS media_id,
       o AS orientation,
       16 AS width, 16 AS height,
       64 * (4 * v + 12) AS sum_gray,
       CASE WHEN o IN (1, 2) THEN 288*(2*v+2) + 800*(2*v+10)
            WHEN o IN (3, 4) THEN 800*(2*v+2) + 288*(2*v+10)
            WHEN o IN (5, 6) THEN 288*(2*v+4) + 800*(2*v+8)
            ELSE                  800*(2*v+4) + 288*(2*v+8) END AS wsum_row,
       CASE WHEN o IN (1, 4) THEN 288*(2*v+4) + 800*(2*v+8)
            WHEN o IN (2, 3) THEN 800*(2*v+4) + 288*(2*v+8)
            WHEN o IN (5, 8) THEN 288*(2*v+2) + 800*(2*v+10)
            ELSE                  800*(2*v+2) + 288*(2*v+10) END AS wsum_col
FROM p
""",
    tags=("X5", "multimodal", "codec"),
)
def multimodal_jpeg_exif_orientation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REAL EXIF-orientation round trip (X5, r9 — VERDICT r8 missing
    #3): virtually every phone photo carries APP1 tag 0x0112, and a
    decoder that skips it reports transposed dimensions/pixels for a
    large slice of any real crawl. Fixtures are 16×16 2×2-block-solid
    even-gray images (each 8×8 block is a DC-only lossless fixed
    point of the baseline pipeline, so the block GRID survives the
    lossy codec bit-exact) written with every orientation 1-8; the
    decoder must parse the APP1 TIFF, apply the transform, and report
    the displayed grid. The oracle pins the de-interlace-pin trick's
    POSITION-WEIGHTED sums (Σ px·(row+1), Σ px·(col+1)) in closed
    form — the plain pixel sum is orientation-invariant, but the
    weighted pair is distinct for each of the 8 transforms on this
    asymmetric grid, so a wrong/missing flip or transpose breaks the
    row."""
    from ..functions.codecs import decode_jpeg, encode_jpeg_gray

    def rows_for(m: int) -> list[dict]:
        v = 2 * (m % 97 + 1)
        img = np.zeros((16, 16), np.uint8)
        img[:8, :8], img[:8, 8:] = v, v + 2
        img[8:, :8], img[8:, 8:] = v + 4, v + 6
        return [decode_jpeg(encode_jpeg_gray(img, exif_orientation=m % 8 + 1))]

    schema = _schema(
        "media_id orientation width height sum_gray wsum_row wsum_col"
    )
    return _round_trip(spark, sf_dir, "image", range(200), schema, rows_for)


@register(
    "multimodal_jpeg_dri_decode",
    oracle="""
SELECT doc_id AS media_id,
       (doc_id % 8) * 8 + 21 AS width,
       (doc_id % 4) * 8 + 6 AS height,
       ((doc_id % 8) * 8 + 21) * ((doc_id % 4) * 8 + 6)
         * (2 * (doc_id % 127)) AS sum_gray,
       doc_id % 5 + 1 AS restart_interval,
       (((doc_id % 8) + 3) * ((doc_id % 4) + 1) - 1)
         // (doc_id % 5 + 1) AS n_restarts
FROM documents
WHERE doc_id % 3 = 0 AND doc_id < 200
""",
    tags=("X5", "multimodal", "codec"),
)
def multimodal_jpeg_dri_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL restart-marker JPEG round trip (X5, r8 — VERDICT r6 #2):
    camera/libjpeg output near-universally carries DRI + RSTn markers
    (byte-aligned, DC predictors reset every DRI MCUs). Fixtures span
    3-10 MCU columns × 1-4 rows with restart intervals 1-5, so some
    streams carry >8 restarts and exercise the modulo-8 marker-
    sequence wrap; the decoder verifies each RSTn's sequence number
    and resets its predictors, and the encoder emits spec-placement
    markers any conforming decoder reads. The oracle pins dimensions
    + exact pixel sum (even-gray solids are the lossless fixed point)
    AND the marker count ((MCUs-1) div interval) recomputed from the
    emitted bytes — a decoder that ignored the markers instead of
    consuming them would desync and break the sum; an encoder that
    misplaced them breaks the count."""
    from ..functions.codecs import decode_jpeg, encode_jpeg_gray

    def rows_for(m: int) -> list[dict]:
        w, h, ri = m % 8 * 8 + 21, m % 4 * 8 + 6, m % 5 + 1
        data = encode_jpeg_gray(
            np.full((h, w), 2 * (m % 127), np.uint8), restart_interval=ri
        )
        # count RSTn markers in the emitted stream: entropy 0xFF bytes
        # are always stuffed with 0x00, so a raw FF D0-D7 pair can only
        # BE a restart marker
        n_rst = sum(
            1
            for i in range(len(data) - 1)
            if data[i] == 0xFF and 0xD0 <= data[i + 1] <= 0xD7
        )
        return [{**decode_jpeg(data), "restart_interval": ri, "n_restarts": n_rst}]

    schema = _schema(
        "media_id width height sum_gray restart_interval n_restarts"
    )
    return _round_trip(spark, sf_dir, "image", range(200), schema, rows_for)


@register(
    "multimodal_wav_decode",
    oracle="""
SELECT doc_id AS media_id,
       CAST(16000 AS BIGINT) AS sample_rate,
       CAST(1 AS BIGINT) AS n_channels,
       800 + (doc_id % 10) * 160 AS n_samples,
       (800 + (doc_id % 10) * 160) // 16 AS duration_ms,
       (doc_id % 320) * 100 AS peak,
       (doc_id % 320) * 100 AS mean_abs
FROM documents
WHERE doc_id % 3 = 1 AND doc_id < 200
""",
    tags=("X5", "multimodal", "codec"),
)
def multimodal_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL WAV codec round trip (X5): synthesize PCM-16 square-wave
    payloads executor-side, then parse the actual RIFF bytes back with
    the hand-rolled chunk walker. The oracle recomputes every decoded
    field arithmetically — a byte-level codec bug (stride, chunk
    alignment, endianness) breaks exact equality."""
    from ..functions.codecs import decode_wav, encode_wav_pcm16

    def rows_for(m: int) -> list[dict]:
        amp, n = m % 320 * 100, 800 + m % 10 * 160
        wave_ = np.tile([amp, -amp], (n + 1) // 2)[:n]
        return [decode_wav(encode_wav_pcm16(wave_, 16000))]

    schema = _schema(
        "media_id sample_rate n_channels n_samples duration_ms peak mean_abs"
    )
    return _round_trip(spark, sf_dir, "audio", range(200), schema, rows_for)


@register(
    "multimodal_bmp_decode",
    oracle="""
SELECT doc_id AS media_id,
       (doc_id % 8) * 4 + 5 AS width,
       (doc_id % 4) + 2 AS height,
       ((doc_id % 8) * 4 + 5) * ((doc_id % 4) + 2) AS n_pixels,
       doc_id % 256 AS mean_r,
       (doc_id * 7) % 256 AS mean_g,
       (doc_id * 13) % 256 AS mean_b
FROM documents
WHERE doc_id % 3 = 0 AND doc_id < 200
""",
    tags=("X5", "multimodal", "codec"),
)
def multimodal_bmp_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL BMP codec round trip (X5): solid-color odd-width 24-bit
    images encoded and re-parsed byte-for-byte (headers, 4-byte row
    padding, bottom-up BGR order); decoded dimensions and channel
    means must equal their arithmetic definitions exactly."""
    from ..functions.codecs import decode_bmp, encode_bmp24

    def rows_for(m: int) -> list[dict]:
        w, h = m % 8 * 4 + 5, m % 4 + 2
        rgb = (m % 256, m * 7 % 256, m * 13 % 256)
        return [decode_bmp(encode_bmp24(np.full((h, w, 3), rgb, np.uint8)))]

    return _round_trip(spark, sf_dir, "image", range(200), _BMP_SCHEMA, rows_for)


@register(
    "multimodal_resize_stats",
    oracle="""
SELECT doc_id AS media_id,
       CAST(8 AS BIGINT) AS width, CAST(6 AS BIGINT) AS height,
       CAST(48 AS BIGINT) AS n_pixels,
       doc_id % 256 AS mean_r,
       (doc_id * 7) % 256 AS mean_g,
       (doc_id * 13) % 256 AS mean_b
FROM documents
WHERE doc_id % 3 = 0 AND doc_id < 200
""",
    tags=("X5", "multimodal", "codec"),
)
def multimodal_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed image-resize stage (X5): decode → nearest-neighbor
    resample to 8×6 → re-encode → decode again. Solid-color inputs
    keep their exact channel means through any correct resampler, so
    the oracle pins both the target dimensions and color fidelity of
    the full two-pass codec chain."""
    from ..functions.codecs import decode_bmp, encode_bmp24, resize_nearest

    def rows_for(m: int) -> list[dict]:
        w, h = m % 8 * 4 + 5, m % 4 + 2
        rgb = (m % 256, m * 7 % 256, m * 13 % 256)
        b = encode_bmp24(np.full((h, w, 3), rgb, np.uint8))
        # decode: stride-padded bottom-up BGR rows back to RGB pixels
        d = decode_bmp(b)
        h, w = d["height"], d["width"]
        stride = (3 * w + 3) & ~3
        off = int.from_bytes(b[10:14], "little")
        rows = np.frombuffer(
            b, dtype=np.uint8, count=h * stride, offset=off
        ).reshape(h, stride)
        px = rows[:, : 3 * w].reshape(h, w, 3)[::-1, :, ::-1]
        return [decode_bmp(encode_bmp24(resize_nearest(px, 8, 6)))]

    return _round_trip(spark, sf_dir, "image", range(200), _BMP_SCHEMA, rows_for)


@register(
    "multimodal_mjpg_frame_sample",
    oracle="""
SELECT media_id, frame_idx,
       CAST(media_id % 30 + 1 AS BIGINT) AS n_frames,
       (media_id % 6) * 4 + 5 AS width,
       (media_id % 3) + 2 AS height,
       2 * ((media_id + 11 * frame_idx) % 128) AS mean_gray
FROM (
  SELECT doc_id AS media_id,
         unnest(range(0, CAST(doc_id % 30 + 1 AS BIGINT), 3)) AS frame_idx
  FROM documents WHERE doc_id % 3 = 2 AND doc_id < 150
)
""",
    tags=("X5", "multimodal", "codec"),
)
def multimodal_mjpg_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Motion-JPEG round trip (X5, r6): every frame an
    independent 4:4:4 color JPEG inside the AVI container ('00dc'
    chunks, fourcc MJPG). Frames are gray-valued even solids — the
    lossless fixed line of both the color transform and the DCT
    pipeline — so sampling every 3rd frame and decoding through the
    FULL chain (RIFF demux → per-chunk JPEG marker walk → Huffman →
    IDCT → YCbCr⁻¹) yields exact SQL-derivable means; closes the
    MJPG-in-AVI line of the r5 sanction list."""
    from ..functions.codecs import (
        decode_avi,
        decode_avi_mjpg_frame,
        encode_avi_mjpg,
    )

    def rows_for(m: int) -> list[dict]:
        n, w, h = m % 30 + 1, m % 6 * 4 + 5, m % 3 + 2
        vals = [2 * ((m + 11 * f) % 128) for f in range(n)]
        frames = np.stack([np.full((h, w, 3), v, np.uint8) for v in vals])
        payload = encode_avi_mjpg(frames, fps=10)
        d = decode_avi(payload)
        assert d["codec"] == "mjpg"
        rows = []
        for fi in range(0, d["n_frames"], 3):
            px = decode_avi_mjpg_frame(payload, d["frames"][fi])
            total = int(px.astype(np.int64).sum())
            mean = total // (px.shape[0] * px.shape[1] * 3)
            rows.append({**d, "frame_idx": fi, "mean_gray": mean})
        return rows

    schema = _schema("media_id frame_idx n_frames width height mean_gray")
    return _round_trip(spark, sf_dir, "video", range(150), schema, rows_for)


@register(
    "multimodal_audio_frames",
    oracle="""
SELECT media_id, frame_idx,
       LEAST(400, n_samples - frame_idx * 400) AS frame_samples,
       amp AS peak,
       amp AS mean_abs,
       CASE WHEN amp > 0
            THEN LEAST(400, n_samples - frame_idx * 400) - 1
            ELSE 0 END AS zero_crossings
FROM (
  SELECT doc_id AS media_id,
         800 + (doc_id % 10) * 160 AS n_samples,
         (doc_id % 320) * 100 AS amp,
         unnest(range(0,
             CAST((800 + (doc_id % 10) * 160 + 399) // 400 AS BIGINT)
         )) AS frame_idx
  FROM documents WHERE doc_id % 3 = 1 AND doc_id < 200
)
""",
    tags=("X5", "multimodal", "codec"),
)
def multimodal_audio_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio feature-extract (X5): the synthesized square waves framed
    into 400-sample windows. An alternating ±a signal makes every
    per-frame feature exactly arithmetic — peak and mean-abs equal the
    amplitude at ANY frame length, and adjacent samples flip sign at
    every boundary, so zero_crossings = frame_samples − 1 (0 for the
    silent amp=0 payloads). A framing off-by-one (dropped ragged tail,
    overlapping windows) or a crossing miscount breaks equality."""
    from ..functions.codecs import decode_wav_samples, encode_wav_pcm16

    frame_len = 400

    def rows_for(m: int) -> list[dict]:
        amp, n = m % 320 * 100, 800 + m % 10 * 160
        wave_ = np.tile([amp, -amp], (n + 1) // 2)[:n]
        _rate, _ch, x = decode_wav_samples(encode_wav_pcm16(wave_, 16000))
        rows = []
        for fi in range((len(x) + frame_len - 1) // frame_len):
            fr = x[fi * frame_len : (fi + 1) * frame_len].astype(np.int64)
            ab = np.abs(fr)
            flips = np.signbit(fr[:-1]) != np.signbit(fr[1:])
            rows.append({
                "frame_idx": fi, "frame_samples": len(fr),
                "peak": int(ab.max()), "mean_abs": int(ab.mean()),
                "zero_crossings": int(np.count_nonzero(flips)),
            })
        return rows

    schema = _schema(
        "media_id frame_idx frame_samples peak mean_abs zero_crossings"
    )
    return _round_trip(spark, sf_dir, "audio", range(200), schema, rows_for)


@register(
    "multimodal_video_frame_sample",
    oracle="""
SELECT media_id, frame_idx,
       CAST(media_id % 30 + 1 AS BIGINT) AS n_frames,
       (media_id % 6) * 4 + 5 AS width,
       (media_id % 3) + 2 AS height,
       (media_id + 11 * frame_idx) % 256 AS mean_r,
       (media_id * 7 + 3 * frame_idx) % 256 AS mean_g,
       (media_id * 13 + 5 * frame_idx) % 256 AS mean_b
FROM (
  SELECT doc_id AS media_id,
         unnest(range(0, CAST(doc_id % 30 + 1 AS BIGINT), 5)) AS frame_idx
  FROM documents WHERE doc_id % 3 = 2 AND doc_id < 150
)
""",
    tags=("X5", "multimodal", "codec"),
)
def multimodal_video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL AVI codec round trip (X5): synthesize uncompressed-DIB AVI
    videos executor-side, demux the actual RIFF container back, and
    decode every 5th frame into exact channel means. The oracle
    recomputes frame indices and colors arithmetically — a demux bug
    (chunk alignment, frame directory, stride, row order) or an
    off-by-one in the sampling stride breaks exact equality. Upgrades
    the reference's frame-sample surface from index fan-out plumbing
    (`multimodal_frame_sample`) to a byte-level decode path."""
    from ..functions.codecs import decode_avi, decode_avi_frame, encode_avi_dib

    def rows_for(m: int) -> list[dict]:
        n, w, h = m % 30 + 1, m % 6 * 4 + 5, m % 3 + 2
        f = np.arange(n, dtype=np.int64)[:, None, None]
        px = np.empty((n, h, w, 3), dtype=np.uint8)
        px[..., 0] = (m + 11 * f) % 256
        px[..., 1] = (m * 7 + 3 * f) % 256
        px[..., 2] = (m * 13 + 5 * f) % 256
        payload = encode_avi_dib(px, fps=10)
        d = decode_avi(payload)
        w, h = d["width"], d["height"]
        rows = []
        for fi in range(0, d["n_frames"], 5):
            fr = decode_avi_frame(payload, d["frames"][fi], w, h)
            r, g, b = fr.reshape(-1, 3).astype(np.int64).sum(axis=0) // (w * h)
            rows.append({
                **d, "frame_idx": fi,
                "mean_r": int(r), "mean_g": int(g), "mean_b": int(b),
            })
        return rows

    schema = _schema(
        "media_id frame_idx n_frames width height mean_r mean_g mean_b"
    )
    return _round_trip(spark, sf_dir, "video", range(150), schema, rows_for)


@register(
    "multimodal_ulaw_decode",
    oracle="""
SELECT doc_id AS media_id,
       CAST(8000 AS BIGINT) AS sample_rate,
       CAST(1 AS BIGINT) AS n_channels,
       800 + (doc_id % 10) * 160 AS n_samples,
       ((2 * ((doc_id * 7) % 16) + 33) * (1 << (doc_id % 8)) - 33) * 4
         AS peak,
       ((2 * ((doc_id * 7) % 16) + 33) * (1 << (doc_id % 8)) - 33) * 4
         AS mean_abs
FROM documents
WHERE doc_id % 3 = 1 AND doc_id < 200
""",
    tags=("X5", "multimodal", "codec"),
)
def multimodal_ulaw_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL G.711 μ-law decode (X5, r6): spec-derived code-byte square
    waves expanded through the published piecewise-linear table —
    decoded amplitude ((2m+33)·2^e − 33)·4 with e = id%8, m = 7·id%16
    is closed-form, so the oracle pins complementing, sign handling,
    and the segment expansion exactly. Alternating ± codes exercise
    both sign branches in every payload."""
    from ..functions.codecs import decode_wav, encode_wav_g711_codes

    def rows_for(m: int) -> list[dict]:
        code = ((m % 8) << 4) | (m * 7 % 16)
        # μ-law stores complemented codes; a clear sign bit before the
        # complement is the positive half-wave
        n = 800 + m % 10 * 160
        codes = np.tile([0xFF ^ code, 0x7F ^ code], (n + 1) // 2)[:n]
        payload = encode_wav_g711_codes(codes.astype(np.uint8), 8000, "u")
        return [decode_wav(payload)]

    return _round_trip(spark, sf_dir, "audio", range(200), _PCM_SCHEMA, rows_for)


@register(
    "multimodal_alaw_decode",
    oracle="""
SELECT doc_id AS media_id,
       CAST(8000 AS BIGINT) AS sample_rate,
       CAST(1 AS BIGINT) AS n_channels,
       800 + (doc_id % 10) * 160 AS n_samples,
       CASE WHEN doc_id % 8 = 0
            THEN ((doc_id * 11) % 16) * 16 + 8
            ELSE (((doc_id * 11) % 16) * 16 + 264)
                 * (1 << ((doc_id % 8) - 1))
       END AS peak,
       CASE WHEN doc_id % 8 = 0
            THEN ((doc_id * 11) % 16) * 16 + 8
            ELSE (((doc_id * 11) % 16) * 16 + 264)
                 * (1 << ((doc_id % 8) - 1))
       END AS mean_abs
FROM documents
WHERE doc_id % 3 = 1 AND doc_id < 200
""",
    tags=("X5", "multimodal", "codec"),
)
def multimodal_alaw_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL G.711 A-law decode (X5, r6): same shape as the μ-law
    fixture but through the A-law branch — XOR-0x55 unmasking, the
    seg-0 special case ((m·16)+8) vs the geometric segments
    ((m·16+264)·2^(e−1)), and the inverted sign convention (sign bit
    SET = positive). The CASE split in the oracle pins the seg-0
    boundary exactly."""
    from ..functions.codecs import decode_wav, encode_wav_g711_codes

    def rows_for(m: int) -> list[dict]:
        code = ((m % 8) << 4) | (m * 11 % 16)
        n = 800 + m % 10 * 160
        # A-law XORs 0x55 into every code; a SET sign bit is positive
        codes = np.tile([(0x80 | code) ^ 0x55, code ^ 0x55], (n + 1) // 2)[:n]
        payload = encode_wav_g711_codes(codes.astype(np.uint8), 8000, "a")
        return [decode_wav(payload)]

    return _round_trip(spark, sf_dir, "audio", range(200), _PCM_SCHEMA, rows_for)


@register(
    "multimodal_adpcm_decode",
    # n = 2 blocks × spb(256) = 1010 samples; ramp p0 … p0+1009 →
    # peak = p0+1009, mean_abs = p0 + (n−1)//2 = p0+504.
    oracle="""
SELECT doc_id AS media_id,
       CAST(8000 AS BIGINT) AS sample_rate,
       CAST(1 AS BIGINT) AS n_channels,
       CAST(1010 AS BIGINT) AS n_samples,
       (doc_id % 200) * 50 + 1009 AS peak,
       (doc_id % 200) * 50 + 504 AS mean_abs
FROM documents
WHERE doc_id % 3 = 1 AND doc_id < 200
""",
    tags=("X5", "multimodal", "codec"),
)
def multimodal_adpcm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL IMA ADPCM decode (X5, r6): the 4-bit differential state
    machine run over spec-derived unit-ramp blocks (the ADPCM analog
    of the JPEG solid-gray fixed point — all-nibble-1 streams decode
    to exact arithmetic ramps while the step/index tables engage).
    The arbitrary-signal error path is bounded separately by the
    encoder/decoder reconstruction-identity pytest property."""
    from ..functions.codecs import (
        adpcm_samples_per_block,
        decode_wav,
        encode_wav_adpcm_blocks,
    )

    def rows_for(m: int) -> list[dict]:
        # two all-nibble-1 blocks of 256 bytes; block b's header
        # predictor continues the unit ramp from p0
        p0, spb = m % 200 * 50, adpcm_samples_per_block(256)
        blocks = b"".join(
            struct.pack("<hBB", p0 + b * spb, 0, 0) + b"\x11" * 252
            for b in range(2)
        )
        return [decode_wav(encode_wav_adpcm_blocks(blocks, 8000, 256))]

    return _round_trip(spark, sf_dir, "audio", range(200), _PCM_SCHEMA, rows_for)


@register(
    "multimodal_adpcm_stereo_decode",
    # spb(256, 2ch) = 249; per-channel unit ramps from base_c, block
    # headers continue the ramp → n = 249·B continuous samples
    oracle="""
SELECT media_id,
       CAST(8000 AS BIGINT) AS sample_rate,
       CAST(2 AS BIGINT) AS n_channels,
       n AS n_samples,
       n * (b0 + b1) + 2 * (n * (n - 1) // 2) AS sum_samples,
       LEAST(b0, b1) AS min_sample,
       GREATEST(b0, b1) + n - 1 AS max_sample
FROM (
  SELECT doc_id AS media_id,
         249 * (doc_id % 3 + 1) AS n,
         (doc_id % 900) - 450 AS b0,
         (doc_id % 700) - 350 AS b1
  FROM documents WHERE doc_id % 3 = 1 AND doc_id < 150
)
""",
    tags=("X5", "multimodal", "codec"),
)
def multimodal_adpcm_stereo_decode(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STEREO IMA ADPCM decode (X5, r8 second pass): spec-derived
    all-nibble-1 blocks with TWO per-channel headers and the
    Microsoft 4-byte/8-sample group interleave — each channel decodes
    to an exact unit ramp from its own base, so a decoder that walks
    the groups in the wrong channel order, misplaces the second
    header, or forgets the fact-chunk trim breaks the closed-form
    census. The arbitrary-signal stereo error path is bounded by the
    encoder/decoder reconstruction pytest property."""
    from ..functions.codecs import decode_wav_samples, encode_wav_adpcm_blocks

    def rows_for(m: int) -> list[dict]:
        nb, b0, b1 = m % 3 + 1, m % 900 - 450, m % 700 - 350
        blocks = b"".join(
            struct.pack("<hBB", b0 + b * 249, 0, 0)
            + struct.pack("<hBB", b1 + b * 249, 0, 0)
            + b"\x11" * 248
            for b in range(nb)
        )
        payload = encode_wav_adpcm_blocks(
            blocks, 8000, 256, n_channels=2, n_frames=249 * nb
        )
        rate, ch, y = decode_wav_samples(payload)
        y = y.astype(np.int64)
        return [{
            "sample_rate": rate, "n_channels": ch, "n_samples": y.shape[0],
            "sum_samples": int(y.sum()), "min_sample": int(y.min()),
            "max_sample": int(y.max()),
        }]

    schema = _schema(
        "media_id sample_rate n_channels n_samples sum_samples min_sample"
        " max_sample"
    )
    return _round_trip(spark, sf_dir, "audio", range(150), schema, rows_for)


@register(
    "multimodal_palette_png_decode",
    # checkerboard count n0 = ceil(h/2)*ceil(w/2) + floor(h/2)*floor(w/2)
    oracle="""
SELECT media_id, width, height,
       CAST(3 AS BIGINT) AS n_channels,
       width * height AS n_pixels,
       n0 * (media_id % 251)
         + (width * height - n0) * ((media_id * 5) % 256) AS sum_r,
       n0 * ((media_id * 3) % 256)
         + (width * height - n0) * ((media_id * 11) % 256) AS sum_g,
       n0 * ((media_id * 7) % 256)
         + (width * height - n0) * ((media_id * 13) % 256) AS sum_b
FROM (
  SELECT doc_id AS media_id,
         (doc_id % 8) * 4 + 5 AS width,
         (doc_id % 4) + 2 AS height,
         (((doc_id % 4) + 3) // 2) * (((doc_id % 8) * 4 + 6) // 2)
           + (((doc_id % 4) + 2) // 2) * (((doc_id % 8) * 4 + 5) // 2) AS n0
  FROM documents
  WHERE doc_id % 3 = 0 AND doc_id < 200
)
""",
    tags=("X5", "multimodal", "codec"),
)
def multimodal_palette_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL palette-PNG decode (X5, r6): indexed checkerboards through
    PLTE parsing, filter reconstruction over 1-byte-per-pixel
    scanlines, and palette expansion. The oracle reuses the GIF
    checkerboard counting identity on the palette channels — a filter
    bpp bug (treating indices as RGB triples) or a PLTE lookup error
    breaks exact equality."""
    from ..functions.codecs import decode_png, encode_png_palette

    def rows_for(m: int) -> list[dict]:
        w, h = m % 8 * 4 + 5, m % 4 + 2
        pal = np.array(
            [
                [m % 251, m * 3 % 256, m * 7 % 256],
                [m * 5 % 256, m * 11 % 256, m * 13 % 256],
            ],
            np.uint8,
        )
        yy, xx = np.indices((h, w))
        idx = ((xx + yy) % 2).astype(np.uint8)
        return [decode_png(encode_png_palette(idx, pal))]

    return _round_trip(spark, sf_dir, "image", range(200), _PNG_SCHEMA, rows_for)


@register(
    "multimodal_interlaced_png_decode",
    # identical closed form to multimodal_png_decode: Adam7 is a
    # lossless reordering, so a correct de-interlacer reproduces the
    # same pixels — any pass-grid or pass-local-filter-state bug
    # scrambles the gradient and breaks the sums.
    oracle="""
SELECT doc_id AS media_id,
       (doc_id % 8) * 4 + 5 AS width,
       (doc_id % 4) + 2 AS height,
       CAST(3 AS BIGINT) AS n_channels,
       ((doc_id % 8) * 4 + 5) * ((doc_id % 4) + 2) AS n_pixels,
       ((doc_id % 4) + 2)
         * ( ((doc_id % 8) * 4 + 5) * (doc_id % 200)
           + ((doc_id % 8) * 4 + 5) * ((doc_id % 8) * 4 + 4) // 2 ) AS sum_r,
       ((doc_id % 8) * 4 + 5)
         * ( ((doc_id % 4) + 2) * (doc_id % 220)
           + ((doc_id % 4) + 2) * ((doc_id % 4) + 1) // 2 ) AS sum_g,
       ((doc_id % 8) * 4 + 5) * ((doc_id % 4) + 2)
         * ((doc_id * 13) % 256) AS sum_b
FROM documents
WHERE doc_id % 3 = 0 AND doc_id < 200
""",
    tags=("X5", "multimodal", "codec"),
)
def multimodal_interlaced_png_decode(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REAL Adam7 interlaced-PNG decode (X5, r6): the gradient images
    re-encoded as seven-pass progressive streams and reconstructed
    through the pass grid (PNG §8.2) — pass sub-image extraction,
    per-pass filter state, empty-pass handling for narrow images
    (fixture heights 2-5 leave several passes empty). Dimensions and
    channel sums must land exactly where the sequential layout does."""
    from ..functions.codecs import decode_png, encode_png

    def rows_for(m: int) -> list[dict]:
        w, h = m % 8 * 4 + 5, m % 4 + 2
        px = np.empty((h, w, 3), np.uint8)
        px[..., 0] = m % 200 + np.arange(w)
        px[..., 1] = m % 220 + np.arange(h)[:, None]
        px[..., 2] = m * 13 % 256
        return [decode_png(encode_png(px, interlace=True))]

    return _round_trip(spark, sf_dir, "image", range(200), _PNG_SCHEMA, rows_for)


@register(
    "multimodal_png16_decode",
    oracle="""
SELECT media_id, width, height,
       CAST(3 AS BIGINT) AS n_channels,
       width * height AS n_pixels,
       height * (width * ((media_id * 250) % 50000)
                 + 255 * width * (width - 1) // 2) AS sum_r,
       width * (height * ((media_id * 199) % 40000)
                + 511 * height * (height - 1) // 2) AS sum_g,
       width * height * ((media_id * 157) % 60000) AS sum_b
FROM (
  SELECT doc_id AS media_id,
         (doc_id % 8) * 4 + 5 AS width,
         (doc_id % 4) + 2 AS height
  FROM documents
  WHERE doc_id % 3 = 0 AND doc_id < 200
)
""",
    tags=("X5", "multimodal", "codec"),
)
def multimodal_png16_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL 16-bit PNG decode (X5, r6): depth-16 gradients through the
    byte-level filter machinery at bpp = 2·ch and big-endian sample
    recombination. Gradient steps of 255/511 put most pixels outside
    the 8-bit range, so a truncated high byte or a little-endian
    reassembly breaks the exact sums."""
    from ..functions.codecs import decode_png, encode_png

    def rows_for(m: int) -> list[dict]:
        w, h = m % 8 * 4 + 5, m % 4 + 2
        px = np.empty((h, w, 3), np.uint16)
        px[..., 0] = m * 250 % 50000 + 255 * np.arange(w)
        px[..., 1] = m * 199 % 40000 + 511 * np.arange(h)[:, None]
        px[..., 2] = m * 157 % 60000
        return [decode_png(encode_png(px))]

    return _round_trip(spark, sf_dir, "image", range(200), _PNG_SCHEMA, rows_for)


@register(
    "multimodal_progressive_jpeg_decode",
    oracle="""
SELECT doc_id AS media_id,
       (doc_id % 8) * 4 + 5 AS width,
       (doc_id % 4) + 2 AS height,
       CAST(3 AS BIGINT) AS n_channels,
       ((doc_id % 8) * 4 + 5) * ((doc_id % 4) + 2)
         * (2 * (doc_id % 127)) AS sum_r,
       ((doc_id % 8) * 4 + 5) * ((doc_id % 4) + 2)
         * (2 * (doc_id % 127)) AS sum_g,
       ((doc_id % 8) * 4 + 5) * ((doc_id % 4) + 2)
         * (2 * (doc_id % 127)) AS sum_b
FROM documents
WHERE doc_id % 3 = 0 AND doc_id < 200
""",
    tags=("X5", "multimodal", "codec"),
)
def multimodal_progressive_jpeg_decode(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REAL progressive JPEG decode (X5, r6): SOF2 color streams —
    spectral-selection + successive-approximation scans accumulated
    into per-component coefficient arrays (DC first/refine over the
    interleaved MCU grid, AC first/refine per component over its own
    block grid with EOB-run coding), one IDCT at the end. The pinned
    stronger property (pytest) is that progressive streams decode
    BIT-IDENTICALLY to their baseline twins; the oracle pins the
    closed-form solid sums through the full multi-scan path."""
    from ..functions.codecs import decode_jpeg, encode_jpeg_progressive

    def rows_for(m: int) -> list[dict]:
        w, h = m % 8 * 4 + 5, m % 4 + 2
        payload = encode_jpeg_progressive(
            np.full((h, w, 3), 2 * (m % 127), np.uint8),
            # rotate in-scan restart intervals (0 = none; r8: RSTn
            # inside progressive scans decode)
            restart_interval=(m // 3) % 3,
        )
        return [decode_jpeg(payload)]

    return _round_trip(
        spark, sf_dir, "image", range(200), _JPEG_COLOR_SCHEMA, rows_for
    )


@register(
    "multimodal_mp4_frame_sample",
    oracle="""
SELECT media_id, frame_idx,
       CAST(media_id % 24 + 1 AS BIGINT) AS n_frames,
       (media_id % 5) * 4 + 6 AS width,
       (media_id % 4) + 2 AS height,
       CAST((media_id % 24 + 1) * 60 AS BIGINT) AS duration_ts,
       2 * ((media_id + 7 * frame_idx) % 128) AS mean_gray
FROM (
  SELECT doc_id AS media_id,
         unnest(range(0, CAST(doc_id % 24 + 1 AS BIGINT), 3)) AS frame_idx
  FROM documents WHERE doc_id % 3 = 2 AND doc_id >= 150 AND doc_id < 300
)
""",
    tags=("X5", "multimodal", "codec"),
)
def multimodal_mp4_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL MP4 (ISO BMFF) round trip (X5, r6): photo-JPEG samples in
    a 'vide' track, demuxed through the stsc×stsz×stco sample-table
    walk (irregular chunking — 2 then 3 samples per chunk — so the
    run-length path is genuinely exercised; even media_ids write
    co64, the 64-bit offset form >4 GB shards need). Frames are
    gray-valued even solids (the lossless fixed line of the JPEG
    pipeline), so sampling every 3rd sample and decoding yields
    exact SQL-derivable means; `duration_ts` pins the mdhd timing
    math (n_frames × 60 ticks at timescale 600). Closes the MP4
    container line of the sanction list — only the H.264 bitstream
    itself remains a library."""
    from ..functions.codecs import (
        decode_mp4,
        decode_mp4_frame,
        encode_mp4_mjpeg,
    )

    def rows_for(m: int) -> list[dict]:
        n, w, h = m % 24 + 1, m % 5 * 4 + 6, m % 4 + 2
        vals = [2 * ((m + 7 * f) % 128) for f in range(n)]
        frames = np.stack([np.full((h, w, 3), v, np.uint8) for v in vals])
        payload = encode_mp4_mjpeg(frames, fps=10, co64=(m % 2 == 0))
        d = decode_mp4(payload)
        assert d["codec"] == "jpeg" and d["timescale"] == 600
        rows = []
        for fi in range(0, d["n_frames"], 3):
            px = decode_mp4_frame(payload, d["frames"][fi])
            total = int(px.astype(np.int64).sum())
            mean = total // (px.shape[0] * px.shape[1] * 3)
            rows.append({
                **d, "frame_idx": fi, "duration_ts": d["duration"],
                "mean_gray": mean,
            })
        return rows

    schema = _schema(
        "media_id frame_idx n_frames width height duration_ts mean_gray"
    )
    return _round_trip(spark, sf_dir, "video", range(150, 300), schema, rows_for)


@register(
    "multimodal_flac_decode",
    oracle="""
SELECT media_id,
       CAST(16000 AS BIGINT) AS sample_rate,
       n AS n_samples,
       n * a + b * n * (n - 1) // 2 AS sum_samples,
       LEAST(a, a + b * (n - 1)) AS min_sample,
       GREATEST(a, a + b * (n - 1)) AS max_sample,
       CAST(1 AS BIGINT) AS compressed
FROM (
  SELECT doc_id AS media_id,
         1000 + (doc_id % 10) * 300 AS n,
         (doc_id % 50) * 10 - 250 AS a,
         (doc_id % 7) - 3 AS b
  FROM documents WHERE doc_id % 3 = 1 AND doc_id >= 200 AND doc_id < 350
)
""",
    tags=("X5", "multimodal", "codec"),
)
def multimodal_flac_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL FLAC codec round trip (X5, r6): linear-ramp signals
    s[i] = a + b·i encoded through the fixed-predictor path (an
    order-2 ramp's residual is all-zero past the warmup — the
    maximally-compressible line Rice coding exists for; b=0 rows take
    the CONSTANT subframe), decoded back through frame-sync walk +
    CRC-8/CRC-16 verification. All decoded stats are closed-form in
    (a, b, n), and `compressed` pins payload < the equivalent WAV —
    the codec must actually compress, not just round-trip."""
    from ..functions.codecs import decode_flac, encode_flac

    def rows_for(m: int) -> list[dict]:
        n = 1000 + m % 10 * 300
        a, b = m % 50 * 10 - 250, m % 7 - 3
        payload = encode_flac(a + b * np.arange(n, dtype=np.int64), 16000)
        compressed = int(len(payload) < 2 * n + 44)
        return [{**decode_flac(payload), "compressed": compressed}]

    schema = _schema(
        "media_id sample_rate n_samples sum_samples min_sample max_sample"
        " compressed"
    )
    return _round_trip(spark, sf_dir, "audio", range(200, 350), schema, rows_for)


@register(
    "multimodal_flac_stereo_decode",
    oracle="""
SELECT media_id,
       CAST(2 AS BIGINT) AS n_channels,
       CASE media_id % 4
         WHEN 0 THEN 'independent' WHEN 1 THEN 'left_side'
         WHEN 2 THEN 'right_side' ELSE 'mid_side'
       END AS channel_mode,
       n AS n_samples,
       n * (a + a2) + (b + b2) * n * (n - 1) // 2 AS sum_samples,
       LEAST(a, a + b * (n - 1), a2, a2 + b2 * (n - 1)) AS min_sample,
       GREATEST(a, a + b * (n - 1), a2, a2 + b2 * (n - 1)) AS max_sample
FROM (
  SELECT doc_id AS media_id,
         800 + (doc_id % 9) * 250 AS n,
         (doc_id % 40) * 12 - 240 AS a,
         (doc_id % 7) - 3 AS b,
         (doc_id % 30) * 9 - 130 AS a2,
         (doc_id % 5) - 2 AS b2
  FROM documents WHERE doc_id % 3 = 1 AND doc_id >= 350 AND doc_id < 500
)
""",
    tags=("X5", "multimodal", "codec"),
)
def multimodal_flac_stereo_decode(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REAL STEREO FLAC round trip (X5, r8 — VERDICT r6 #7):
    per-channel linear ramps encoded through all four §9.1.3 channel
    assignments (independent, left/side, right/side, mid/side —
    rotated by id, the side subframe carrying bps+1 bits), decoded
    back through frame-sync walk + CRC verification + channel
    reconstruction. Stats are closed-form in (a, b, a2, b2, n), and
    channel_mode is re-read from the FRAME HEADER of the emitted
    bytes, so the oracle pins both the reconstruction arithmetic and
    the mode actually written."""
    from ..functions.codecs import decode_flac, encode_flac

    modes = ("independent", "left_side", "right_side", "mid_side")

    def rows_for(m: int) -> list[dict]:
        n = 800 + m % 9 * 250
        a, b = m % 40 * 12 - 240, m % 7 - 3
        a2, b2 = m % 30 * 9 - 130, m % 5 - 2
        i = np.arange(n, dtype=np.int64)
        sig = np.stack([a + b * i, a2 + b2 * i], axis=1)
        return [decode_flac(encode_flac(sig, 16000, stereo_mode=modes[m % 4]))]

    return _round_trip(
        spark, sf_dir, "audio", range(350, 500), _FLAC_CHANNELS_SCHEMA, rows_for
    )


@register(
    "multimodal_flac_multichannel_decode",
    oracle="""
SELECT media_id,
       CAST(C AS BIGINT) AS n_channels,
       'independent' AS channel_mode,
       n AS n_samples,
       C * n * a + dc * n * C * (C - 1) // 2
         + b * C * n * (n - 1) // 2 AS sum_samples,
       LEAST(a, a + dc * (C - 1), a + b * (n - 1),
             a + dc * (C - 1) + b * (n - 1)) AS min_sample,
       GREATEST(a, a + dc * (C - 1), a + b * (n - 1),
                a + dc * (C - 1) + b * (n - 1)) AS max_sample
FROM (
  SELECT doc_id AS media_id,
         doc_id % 6 + 3 AS C,
         900 + (doc_id % 7) * 600 AS n,
         (doc_id % 50) * 10 - 250 AS a,
         (doc_id % 9) - 4 AS b,
         (doc_id % 11) - 5 AS dc
  FROM documents WHERE doc_id % 3 = 1 AND doc_id >= 200 AND doc_id < 350
)
""",
    tags=("X5", "multimodal", "codec"),
)
def multimodal_flac_multichannel_decode(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MULTICHANNEL FLAC round trip (X5, r8 second pass — surround
    corpora: 3-8 channels, §9.1.3 assignments 0b0010-0b0111, coded
    independently since the decorrelation modes exist only for
    stereo). Each channel is the shared ramp offset by c·dc, so a
    decoder interleaving channels in the wrong order, dropping one,
    or misreading the frame-header channel count breaks the
    closed-form census; block counts cross the 4096 frame boundary
    on part of the fixture set."""
    from ..functions.codecs import decode_flac, encode_flac

    def rows_for(m: int) -> list[dict]:
        C = m % 6 + 3
        n = 900 + (m % 7) * 600
        a, b, dc = m % 50 * 10 - 250, m % 9 - 4, m % 11 - 5
        i = np.arange(n, dtype=np.int64)
        sig = np.stack([a + c * dc + b * i for c in range(C)], axis=1)
        return [decode_flac(encode_flac(sig, 16000))]

    return _round_trip(
        spark, sf_dir, "audio", range(200, 350), _FLAC_CHANNELS_SCHEMA, rows_for
    )


@register(
    "multimodal_tiff_tiled_decode",
    oracle="""
SELECT media_id, width, height, layout, planar, compression,
       CAST(p AS BIGINT) AS predictor,
       CAST(CASE lay
         WHEN 0 THEN ((width + tw - 1) // tw) * ((height + th - 1) // th)
         WHEN 1 THEN ((width + tw - 1) // tw) * ((height + th - 1) // th) * 3
         ELSE ((height + 3) // 4) * 3
       END AS BIGINT) AS n_segments,
       height * (width * r0 + width * (width - 1) // 2) AS sum_r,
       width * (height * g0 + height * (height - 1) // 2) AS sum_g,
       width * height * b0 AS sum_b
FROM (
  SELECT doc_id AS media_id,
         (doc_id % 8) * 4 + 5 AS width,
         (doc_id % 4) * 3 + 4 AS height,
         (doc_id // 3) % 3 AS lay,
         CASE (doc_id // 3) % 3 WHEN 0 THEN 'tiles' WHEN 1 THEN 'tiles'
           ELSE 'strips' END AS layout,
         (doc_id // 3) % 3 <> 0 AS planar,
         CASE (doc_id // 9) % 3
           WHEN 0 THEN 'none' WHEN 1 THEN 'packbits' ELSE 'lzw'
         END AS compression,
         (doc_id // 3) % 2 + 1 AS p,
         doc_id % 3 + 3 AS tw,
         doc_id % 5 + 2 AS th,
         doc_id % 200 AS r0,
         doc_id % 220 AS g0,
         (doc_id * 13) % 256 AS b0
  FROM documents
  WHERE doc_id % 3 = 2 AND doc_id < 200
)
""",
    tags=("X5", "multimodal", "codec"),
)
def multimodal_tiff_tiled_decode(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TILED and PLANAR TIFF decode (X5, r8 — the remaining
    real-corpus TIFF layouts: tiles are how geo/large-scan TIFFs
    window 100k-pixel-wide images; planar configuration is §15's
    plane-major sample order). Fixtures rotate tiled-chunky /
    tiled-planar / strip-planar against the compression and
    predictor rotations, with tile dims that do NOT divide the image
    dims (edge-tile padding + clipping run). The oracle recomputes
    dimensions, layout facts, the exact segment count (tiles-across ×
    tiles-down × planes), and the closed-form gradient channel sums —
    a tile placed at the wrong offset, a plane stacked in the wrong
    order, or a predictor inverted at image width instead of tile
    width each breaks exact equality."""
    from ..functions.codecs import (
        decode_tiff_meta,
        decode_tiff_pixels,
        encode_tiff_ext,
    )

    comps = ("none", "packbits", "lzw")

    def rows_for(m: int) -> list[dict]:
        w, h = m % 8 * 4 + 5, (m % 4) * 3 + 4
        px = np.empty((h, w, 3), np.uint8)
        px[..., 0] = m % 200 + np.arange(w)
        px[..., 1] = m % 220 + np.arange(h)[:, None]
        px[..., 2] = m * 13 % 256
        # layouts rotate tiled-chunky / tiled-planar / strip-planar;
        # tile dims deliberately do not divide the image dims
        lay = (m // 3) % 3
        kw = dict(
            compression=comps[(m // 9) % 3], predictor=(m // 3) % 2 + 1
        )
        if lay < 2:
            kw["tile"] = (m % 3 + 3, m % 5 + 2)
        else:
            kw["rows_per_strip"] = 4
        payload = encode_tiff_ext(px, planar=lay > 0, **kw)
        meta = decode_tiff_meta(payload)
        got = decode_tiff_pixels(payload).astype(np.int64)
        return [{
            **meta, "n_segments": len(meta["segments"]),
            "sum_r": int(got[..., 0].sum()), "sum_g": int(got[..., 1].sum()),
            "sum_b": int(got[..., 2].sum()),
        }]

    schema = _schema(
        "media_id width height layout:string planar:boolean"
        " compression:string predictor n_segments sum_r sum_g sum_b"
    )
    # the oracle's ids (doc_id % 3 = 2) are the video rows
    return _round_trip(spark, sf_dir, "video", range(200), schema, rows_for)


@register(
    "multimodal_tiff16_decode",
    oracle="""
SELECT media_id, width, height, CAST(16 AS BIGINT) AS bits,
       layout, compression, CAST(p AS BIGINT) AS predictor,
       width * height * b0
         + 300 * width * (height * (height - 1) // 2)
         + height * (width * (width - 1) // 2) AS sum_gray
FROM (
  SELECT doc_id AS media_id,
         (doc_id % 8) * 4 + 5 AS width,
         (doc_id % 4) * 3 + 4 AS height,
         CASE WHEN doc_id % 2 = 0 THEN 'strips' ELSE 'tiles' END
           AS layout,
         CASE (doc_id // 9) % 3
           WHEN 0 THEN 'none' WHEN 1 THEN 'packbits' ELSE 'lzw'
         END AS compression,
         (doc_id // 3) % 2 + 1 AS p,
         (doc_id % 100) * 500 AS b0
  FROM documents
  WHERE doc_id % 3 = 0 AND doc_id >= 200 AND doc_id < 350
)
""",
    tags=("X5", "multimodal", "codec"),
)
def multimodal_tiff16_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-BIT TIFF decode (X5, r8 second pass — the scientific/
    scanner depth): gray gradients whose values exceed 8 bits
    (b0 up to 49,500 + 300/row + 1/column), written at bits-per-
    sample 16 through strips or tiles, rotated against compression
    and the §14 predictor (which wraps at 65,536 for 16-bit
    samples). A dropped high byte, a wrong-endian sample read, or an
    8-bit predictor wrap each breaks the closed-form sum."""
    from ..functions.codecs import (
        decode_tiff_meta,
        decode_tiff_pixels,
        encode_tiff_ext,
    )

    comps = ("none", "packbits", "lzw")

    def rows_for(m: int) -> list[dict]:
        w, h = m % 8 * 4 + 5, (m % 4) * 3 + 4
        px = (
            (m % 100) * 500
            + 300 * np.arange(h, dtype=np.int64)[:, None]
            + np.arange(w, dtype=np.int64)[None, :]
        ).astype(np.uint16)
        kw = dict(compression=comps[(m // 9) % 3], predictor=(m // 3) % 2 + 1)
        if m % 2:
            kw["tile"] = (m % 3 + 3, m % 5 + 2)
        else:
            kw["rows_per_strip"] = 4
        payload = encode_tiff_ext(px, **kw)
        got = decode_tiff_pixels(payload).astype(np.int64)
        return [{**decode_tiff_meta(payload), "sum_gray": int(got.sum())}]

    schema = _schema(
        "media_id width height bits layout:string compression:string"
        " predictor sum_gray"
    )
    return _round_trip(spark, sf_dir, "image", range(200, 350), schema, rows_for)


@register(
    "multimodal_tiff_float_decode",
    oracle="""
WITH p AS (
  SELECT doc_id,
         doc_id % 4 * 2 + 6 AS h,
         doc_id % 6 * 2 + 9 AS w,
         doc_id % 50 AS b0,
         doc_id % 5 + 3 AS rps
  FROM documents
  WHERE doc_id % 3 = 0 AND doc_id >= 350 AND doc_id < 500
)
SELECT doc_id AS media_id,
       w AS width, h AS height, 32 AS bits,
       CASE (doc_id // 3) % 4 WHEN 0 THEN 'none'
            WHEN 1 THEN 'packbits' WHEN 2 THEN 'lzw'
            ELSE 'deflate' END AS compression,
       (doc_id // 3) % 2 * 2 + 1 AS predictor,
       (h + rps - 1) // rps AS n_strips,
       h * w * b0 + 3 * w * (h * (h - 1) // 2)
         + 7 * h * (w * (w - 1) // 2) AS sum_val
FROM p
""",
    tags=("X5", "multimodal", "codec"),
)
def multimodal_tiff_float_decode(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """FLOATING-POINT TIFF decode (X5, r9 — the last carried codec
    boundary: SampleFormat-3 geo/elevation rasters): integer-valued
    float32 gradients (exactly representable, so the sum contract
    stays bit-exact) written through the float strip writer, rotated
    over none/PackBits/LZW and predictor 1 vs 3 (TIFF TechNote 3
    byte-plane reorder + byte differencing). A wrong plane gather, a
    little-endian misread of the big-endian reordered bytes, or a
    missed cumulative byte sum each breaks the closed-form total."""
    from ..functions.codecs import (
        decode_tiff_meta,
        decode_tiff_pixels,
        encode_tiff_float,
    )

    comps = ("none", "packbits", "lzw", "deflate")

    def rows_for(m: int) -> list[dict]:
        h, w = m % 4 * 2 + 6, m % 6 * 2 + 9
        px = (
            m % 50
            + 3 * np.arange(h, dtype=np.int64)[:, None]
            + 7 * np.arange(w, dtype=np.int64)[None, :]
        ).astype(np.float32)
        payload = encode_tiff_float(
            px,
            compression=comps[(m // 3) % 4],
            predictor=(m // 3) % 2 * 2 + 1,
            rows_per_strip=m % 5 + 3,
        )
        meta = decode_tiff_meta(payload)
        got = decode_tiff_pixels(payload).astype(np.int64)
        return [{**meta, "n_strips": len(meta["strips"]), "sum_val": int(got.sum())}]

    schema = _schema(
        "media_id width height bits compression:string predictor n_strips"
        " sum_val"
    )
    return _round_trip(spark, sf_dir, "image", range(350, 500), schema, rows_for)


@register(
    "multimodal_tiff_float_tiled_decode",
    oracle="""
WITH p AS (
  SELECT doc_id AS m, doc_id // 3 AS k,
         (doc_id // 3) % 5 * 3 + 7 AS h,
         (doc_id // 3) % 4 * 5 + 9 AS w,
         doc_id % 50 AS b0,
         doc_id % 5 + 3 AS rps,
         (doc_id // 3) % 3 AS lay,
         ((doc_id // 3) // 2) % 2 * 8 + 8 AS tw
  FROM documents
  WHERE doc_id % 3 = 0 AND doc_id >= 200 AND doc_id < 350
)
SELECT m AS media_id,
       CASE WHEN lay IN (0, 2) THEN 'tiles' ELSE 'strips' END AS layout,
       CASE WHEN lay IN (1, 2) THEN 1 ELSE 0 END AS planar,
       CASE (k // 3) % 4 WHEN 0 THEN 'none' WHEN 1 THEN 'packbits'
            WHEN 2 THEN 'lzw' ELSE 'deflate' END AS compression,
       k % 2 * 2 + 1 AS predictor,
       w AS width, h AS height, 3 AS n_channels,
       CASE WHEN lay IN (0, 2)
            THEN ((w + tw - 1) // tw) * ((h + 7) // 8)
                 * (CASE WHEN lay = 2 THEN 3 ELSE 1 END)
            ELSE ((h + rps - 1) // rps) * 3 END AS n_segments,
       3 * h * w * b0 + 9 * w * (h * (h - 1) // 2)
         + 21 * h * (w * (w - 1) // 2) + 33 * h * w AS sum_val
FROM p
""",
    tags=("X5", "multimodal", "codec"),
)
def multimodal_tiff_float_tiled_decode(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TILED and PLANAR floating-point TIFF decode (X5, r10 — closes
    the r9 documented boundary: TechNote-3 float rasters in all four
    layout combinations, not only chunky strips). 3-band
    integer-valued float32 gradients rotate over layout (tiled
    chunky / planar strips / tiled planar), tile width 8 vs 16,
    none/PackBits/LZW/Deflate, and predictor 1 vs 3 — the predictor
    inverts per STORED segment row (tile-wide in tiled files), so a
    whole-image inversion or a wrong plane-major segment order each
    breaks the closed-form band sums the oracle pins."""
    from ..functions.codecs import (
        decode_tiff_meta,
        decode_tiff_pixels,
        encode_tiff_ext,
    )

    comps = ("none", "packbits", "lzw", "deflate")

    def rows_for(m: int) -> list[dict]:
        k = m // 3
        h, w = k % 5 * 3 + 7, k % 4 * 5 + 9
        lay, tw = k % 3, (k // 2) % 2 * 8 + 8
        px = (
            m % 50
            + 3 * np.arange(h, dtype=np.int64)[:, None, None]
            + 7 * np.arange(w, dtype=np.int64)[None, :, None]
            + 11 * np.arange(3, dtype=np.int64)[None, None, :]
        ).astype(np.float32)
        payload = encode_tiff_ext(
            px,
            compression=comps[(k // 3) % 4],
            predictor=k % 2 * 2 + 1,
            rows_per_strip=m % 5 + 3,
            tile=(tw, 8) if lay in (0, 2) else None,
            planar=lay in (1, 2),
        )
        meta = decode_tiff_meta(payload)
        got = decode_tiff_pixels(payload).astype(np.int64)
        return [{
            **meta, "planar": int(meta["planar"]),
            "n_segments": len(meta["segments"]), "sum_val": int(got.sum()),
        }]

    schema = _schema(
        "media_id layout:string planar compression:string predictor width"
        " height n_channels n_segments sum_val"
    )
    return _round_trip(spark, sf_dir, "image", range(200, 350), schema, rows_for)


@register(
    "multimodal_jpeg_cmyk_decode",
    oracle="""
WITH p AS (
  SELECT doc_id,
         (doc_id // 3) % 2 * 2 AS t,
         2 * (doc_id % 60) + 11 AS v,
         2 * (doc_id % 50) + 21 AS k
  FROM documents
  WHERE doc_id % 3 = 0 AND doc_id >= 500 AND doc_id < 650
)
SELECT doc_id AS media_id, t AS transform,
       16 AS width, 16 AS height, 4 AS n_channels,
       64 * (4 * v + 24) AS sum_c,
       64 * (4 * k + 24) AS sum_k,
       64 * (  ((255 - v)      * (255 - k))      // 255
             + ((255 - v - 4)  * (255 - k - 4))  // 255
             + ((255 - v - 8)  * (255 - k - 8))  // 255
             + ((255 - v - 12) * (255 - k - 12)) // 255) AS sum_r
FROM p
""",
    tags=("X5", "multimodal", "codec"),
)
def multimodal_jpeg_cmyk_decode(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """4-COMPONENT Adobe CMYK/YCCK JPEG decode (X5, r9 — the
    print-origin corpus shape next to EXIF phone photos): 2×2
    block-solid TRUE-CMYK fixtures with ODD channel values (Adobe
    inversion stores 255−v, EVEN — the per-block DC-only lossless
    fixed point), written through both APP14 transforms: 0 (inverted
    planes stored directly) and 2 (YCCK — inverted C/M/Y ride as
    YCbCr; equal C=M=Y makes the color path exact, the same argument
    as the r6 even-gray color fixtures). The oracle pins the C and K
    channel sums plus the integer-exact CMYK→RGB red sum
    ((255−C)(255−K)//255) — a missed inversion, a dropped K plane, or
    a wrong YCCK un-transform each breaks a closed form."""
    from ..functions.codecs import (
        decode_jpeg,
        decode_jpeg_pixels,
        encode_jpeg_cmyk,
    )

    def rows_for(m: int) -> list[dict]:
        t = (m // 3) % 2 * 2
        v, k = 2 * (m % 60) + 11, 2 * (m % 50) + 21
        img = np.zeros((16, 16, 4), np.uint8)
        for i in range(2):
            for j in range(2):
                d4 = 4 * i + 8 * j
                img[8*i:8*i+8, 8*j:8*j+8, 0:3] = v + d4
                img[8*i:8*i+8, 8*j:8*j+8, 3] = k + d4
        payload = encode_jpeg_cmyk(img, transform=t)
        px = decode_jpeg_pixels(payload).astype(np.int64)
        return [{
            **decode_jpeg(payload), "transform": t,
            "sum_c": int(px[..., 0].sum()), "sum_k": int(px[..., 3].sum()),
        }]

    schema = _schema(
        "media_id transform width height n_channels sum_c sum_k sum_r"
    )
    return _round_trip(spark, sf_dir, "image", range(500, 650), schema, rows_for)


@register(
    "multimodal_tiff_decode",
    oracle="""
SELECT doc_id AS media_id,
       (doc_id % 8) * 4 + 5 AS width,
       (doc_id % 4) + 2 AS height,
       CAST(3 AS BIGINT) AS n_channels,
       CASE (doc_id // 3) % 3
         WHEN 0 THEN 'none' WHEN 1 THEN 'packbits' ELSE 'lzw'
       END AS compression,
       (doc_id // 3) % 2 + 1 AS predictor,
       ((doc_id % 4) + 2 + 3) // 4 AS n_strips,
       ((doc_id % 4) + 2)
         * ( ((doc_id % 8) * 4 + 5) * (doc_id % 200)
           + ((doc_id % 8) * 4 + 5) * ((doc_id % 8) * 4 + 4) // 2 ) AS sum_r,
       ((doc_id % 8) * 4 + 5)
         * ( ((doc_id % 4) + 2) * (doc_id % 220)
           + ((doc_id % 4) + 2) * ((doc_id % 4) + 1) // 2 ) AS sum_g,
       ((doc_id % 8) * 4 + 5) * ((doc_id % 4) + 2)
         * ((doc_id * 13) % 256) AS sum_b
FROM documents
WHERE doc_id % 3 = 0 AND doc_id < 200
""",
    tags=("X5", "multimodal", "codec"),
)
def multimodal_tiff_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL TIFF codec round trip (X5): the PNG gradient fixture as a
    multi-strip TIFF, compression rotated across none / PackBits /
    TIFF-LZW (EarlyChange) and §14 horizontal differencing
    (predictor=2, LZW's scanner-output companion — r8) on every other
    fixture, re-parsed byte-for-byte by the IFD-walking decoder. The
    oracle recomputes dimensions, strip count, the compression AND
    predictor assignments, and closed-form per-channel pixel sums —
    a desync in RLE, the LZW width schedule, or the per-row
    difference/cumsum inverse breaks exact equality."""
    from ..functions.codecs import decode_tiff, encode_tiff

    comps = ("none", "packbits", "lzw")

    def rows_for(m: int) -> list[dict]:
        w, h = m % 8 * 4 + 5, m % 4 + 2
        px = np.empty((h, w, 3), np.uint8)
        px[..., 0] = m % 200 + np.arange(w)
        px[..., 1] = m % 220 + np.arange(h)[:, None]
        px[..., 2] = m * 13 % 256
        payload = encode_tiff(
            px,
            # image ids are all id % 3 == 0, so the rotations run on id // 3
            compression=comps[m // 3 % 3],
            rows_per_strip=4,
            # §14 horizontal differencing on every other fixture:
            # crossed with the compression rotation this covers the
            # predictor×codec matrix (LZW+predictor2 = the scanner-TIFF
            # default — VERDICT r6 #3)
            predictor=(m // 3) % 2 + 1,
        )
        return [decode_tiff(payload)]

    schema = _schema(
        "media_id width height n_channels compression:string predictor"
        " n_strips sum_r sum_g sum_b"
    )
    return _round_trip(spark, sf_dir, "image", range(200), schema, rows_for)


@register(
    "multimodal_webp_decode",
    oracle="""
WITH p AS (
  SELECT doc_id AS m,
         (doc_id % 7) * 4 + 6 AS w,
         (doc_id % 5) * 3 + 4 AS h,
         ((doc_id % 7) * 4 + 6) // 2 + (doc_id // 3) % 3 AS split,
         (doc_id // 3) % 6 AS v,
         (doc_id * 17) % 256 AS ra, (doc_id * 23) % 256 AS ga,
         (doc_id * 29) % 256 AS ba,
         (doc_id * 31) % 256 AS rb, (doc_id * 37) % 256 AS gb,
         (doc_id * 41) % 256 AS bb, (doc_id * 13) % 256 AS ab
  FROM documents WHERE doc_id % 3 = 0 AND doc_id < 200
)
SELECT m AS media_id, w AS width, h AS height, w * h AS n_pixels,
       CASE v WHEN 2 THEN 'subtract_green' WHEN 3 THEN 'palette'
              WHEN 4 THEN 'predictor' WHEN 5 THEN 'color'
              ELSE 'none' END AS transforms,
       CASE v WHEN 1 THEN 4 WHEN 5 THEN 3 ELSE 0 END AS cache_bits,
       h * (split * ra + (w - split) * rb) AS sum_r,
       h * (split * ga + (w - split) * gb) AS sum_g,
       h * (split * ba + (w - split) * bb) AS sum_b,
       h * (split * 255 + (w - split) * ab) AS sum_a,
       h * (ra * (split * (split - 1) // 2)
            + rb * (w * (w - 1) // 2 - split * (split - 1) // 2))
         AS col_weighted_r
FROM p
""",
    tags=("X5", "multimodal", "codec"),
)
def multimodal_webp_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL lossless-WebP (VP8L) round trip (X5, r11 — VERDICT r10
    next-round #4: the crawl pipeline's web corpus is full of
    image/webp). Two-color column-split fixtures rotate SIX encoder
    variants across the full VP8L decode surface: plain LZ77, color
    cache, subtract-green, palette (color-indexing with sub-byte
    bundling), each of the 14 spatial predictors, and the cross-color
    transform combined with meta prefix-code groups + cache. The
    oracle recomputes dimensions, the per-channel sums from the
    split-count identity, the transform/cache levers the stream must
    carry, AND the column-position-weighted red sum (plain sums are
    pixel-permutation-invariant; the weighted sum breaks if LZ77
    copies or transform inverses scatter any column)."""
    from ..functions.codecs import decode_webp, encode_webp_vp8l

    def rows_for(m: int) -> list[dict]:
        w, h = (m % 7) * 4 + 6, (m % 5) * 3 + 4
        split = w // 2 + (m // 3) % 3
        v = (m // 3) % 6
        px = np.zeros((h, w, 4), np.uint8)
        px[:, :split] = ((m * 17) % 256, (m * 23) % 256, (m * 29) % 256, 255)
        px[:, split:] = (
            (m * 31) % 256, (m * 37) % 256, (m * 41) % 256, (m * 13) % 256,
        )
        kw = {}
        if v == 1:
            kw = {"cache_bits": 4}
        elif v == 2:
            kw = {"subtract_green": True}
        elif v == 3:
            kw = {"palette": True}
        elif v == 4:
            # alternate explicit single-mode and per-tile AUTO
            # selection (heterogeneous predictor tiles, r11)
            kw = {"predictor_mode": "auto" if (m // 6) % 2 else (m // 18) % 14}
        elif v == 5:
            # alternate explicit constant elements and per-tile
            # AUTO search (heterogeneous color tiles, r11)
            kw = {
                "color_transform": (
                    "auto" if (m // 6) % 2 else (
                        (m * 3) % 256, (m * 5) % 256, (m * 7) % 256,
                    )
                ),
                "cache_bits": 3,
                "meta_bits": 2,
            }
        return [decode_webp(encode_webp_vp8l(px, **kw))]

    schema = _schema(
        "media_id width height n_pixels transforms:string cache_bits sum_r"
        " sum_g sum_b sum_a col_weighted_r"
    )
    return _round_trip(spark, sf_dir, "image", range(200), schema, rows_for)


@register(
    "multimodal_webp_anim_decode",
    oracle="""
WITH p AS (
  SELECT doc_id AS m,
         (doc_id % 6) * 2 + 8 AS w, (doc_id % 4) * 2 + 6 AS h,
         (doc_id * 17) % 256 AS ra, (doc_id * 23) % 256 AS ga,
         (doc_id * 29) % 256 AS ba,
         (doc_id * 31) % 256 AS rb, (doc_id * 37) % 256 AS gb,
         (doc_id * 41) % 256 AS bb,
         (doc_id * 43) % 256 AS rc, (doc_id * 47) % 256 AS gcc,
         (doc_id * 53) % 256 AS bc,
         (doc_id * 59) % 256 AS rg, (doc_id * 61) % 256 AS gg,
         (doc_id * 67) % 256 AS bgc,
         (doc_id // 3) % 2 AS disp,
         doc_id % 7 + 10 + doc_id % 5 + 20 + doc_id % 3 + 30 AS total_dur,
         doc_id % 5 AS loopc
  FROM documents WHERE doc_id % 3 = 0 AND doc_id >= 350 AND doc_id < 500
)
SELECT m AS media_id, w AS canvas_w, h AS canvas_h,
       CAST(3 AS BIGINT) AS n_frames,
       loopc AS loop_count,
       total_dur AS total_duration_ms,
       CAST(disp AS BIGINT) AS disposed_frames,
       (w + 1) // 2 * rc + w // 2 * ra
         + (w - 4) * (h - 4) * (CASE WHEN disp = 1 THEN rg ELSE rb END)
         + (w * h - w - (w - 4) * (h - 4)) * ra AS final_sum_r,
       (w + 1) // 2 * gcc + w // 2 * ga
         + (w - 4) * (h - 4) * (CASE WHEN disp = 1 THEN gg ELSE gb END)
         + (w * h - w - (w - 4) * (h - 4)) * ga AS final_sum_g,
       (w + 1) // 2 * bc + w // 2 * ba
         + (w - 4) * (h - 4) * (CASE WHEN disp = 1 THEN bgc ELSE bb END)
         + (w * h - w - (w - 4) * (h - 4)) * ba AS final_sum_b,
       w * h * ra AS first_sum_r
FROM p
""",
    tags=("X5", "multimodal", "codec"),
)
def multimodal_webp_anim_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANIMATED WebP decode + viewer-exact compositing (X5, r11 —
    the WebP analog of the animated-GIF closure; the dominant modern
    replacement for animated GIF in web corpora): VP8X feature flags
    + 24-bit canvas dims, ANIM background/loop, per-frame ANMF
    headers (even offsets stored /2, dispose-to-background + blend
    bits) wrapping real VP8L frame bitstreams. 3-frame fixtures:
    full-canvas base (no-blend), an inner rect (alpha-blended,
    disposal rotated by id — its region reads background vs frame
    color in the final canvas), and a top-row checkerboard whose odd
    cells are TRANSPARENT under alpha blending (the base must show
    through) — final-canvas channel census, duration totals, loop
    count and disposal accounting all closed-form in the oracle.
    Frame 2 rotates the per-tile auto predictor under the animation
    for cross-surface composition."""
    from ..functions.codecs import decode_webp_anim, encode_webp_anim

    def rows_for(m: int) -> list[dict]:
        w, h = (m % 6) * 2 + 8, (m % 4) * 2 + 6
        cA = ((m * 17) % 256, (m * 23) % 256, (m * 29) % 256, 255)
        cB = ((m * 31) % 256, (m * 37) % 256, (m * 41) % 256, 255)
        cC = ((m * 43) % 256, (m * 47) % 256, (m * 53) % 256, 255)
        bg = ((m * 59) % 256, (m * 61) % 256, (m * 67) % 256, 255)
        f0 = np.zeros((h, w, 4), np.uint8)
        f0[:] = cA
        f1 = np.zeros((h - 4, w - 4, 4), np.uint8)
        f1[:] = cB
        row = np.zeros((1, w, 4), np.uint8)
        row[0, 0::2] = cC
        frames = [
            {"px": f0, "x": 0, "y": 0,
             "duration_ms": m % 7 + 10, "blend": False},
            {"px": f1, "x": 2, "y": 2,
             "duration_ms": m % 5 + 20, "blend": True,
             "dispose_bg": (m // 3) % 2 == 1,
             "enc": {"predictor_mode": "auto"} if m % 2 else {}},
            {"px": row, "x": 0, "y": 0,
             "duration_ms": m % 3 + 30, "blend": True},
        ]
        return [decode_webp_anim(
            encode_webp_anim(frames, w, h, bg_rgba=bg, loop=m % 5)
        )]

    schema = _schema(
        "media_id canvas_w canvas_h n_frames loop_count total_duration_ms"
        " disposed_frames final_sum_r final_sum_g final_sum_b first_sum_r"
    )
    return _round_trip(spark, sf_dir, "image", range(350, 500), schema, rows_for)
