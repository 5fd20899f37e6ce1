"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, plus decode / feature-extract / resize /
frame-sample operators as Arrow-batched pandas functions over
``mapInPandas``.

Codec coverage (no codec libs in this container — every decoder below
is dependency-free):

* REAL: NetPBM P5 images (+ concatenated-P5 video streams), RIFF/WAV
  PCM audio (8- and 16-bit mono), baseline JPEG incl. restart markers
  (full T.81 Huffman + IDCT path, functions/jpeg.py), PROGRESSIVE
  JPEG (Annex G multi-scan, functions/jpeg_progressive.py, round 15),
  and PNG in grayscale/truecolor/palette with Adam7 interlace
  (CRC-verified, bounded inflate, functions/png.py). These genuinely
  parse the bytes.
* STUBBED: everything else (MP4, FLAC, MP3/AAC): ``decode_media``
  raises NotImplementedError unless ``fake=True``, in which case it
  produces a deterministic fake decode (dimensions derived from the
  payload hash) so the Spark-side plumbing — schema, batch iteration,
  partitioning, UDF signatures — is real and testable end to end.
* MEASURED: ``mm_decode_report`` (round 15) publishes per-modality,
  per-reason drop counters so corpus attrition under the
  drop-per-row contract is visible, never silent.

Scale notes: media payloads are large blobs; the operators below keep them
out of shuffles (metadata-only projections shuffle, payloads stay in their
input partition via mapInPandas), and ``maxRecordsPerBatch`` bounds Arrow
batch memory. At 100 TB, store payloads in parquet binary columns (or
pointers into object storage) and push decode to the executors exactly as
mapInPandas does here.
"""

from __future__ import annotations

import re
import struct
from collections.abc import Iterator
from typing import TYPE_CHECKING

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from .hashing import round_portable
from .jpeg import encode_dc_jpeg
from .jpeg_progressive import encode_dc_jpeg_progressive
from .png import encode_png_gray
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd

# Typed metadata carried alongside every opaque payload.
MEDIA_META = StructType([
    StructField("format", StringType()),       # e.g. "png", "wav", "mp4"
    StructField("width", IntegerType()),       # images/video
    StructField("height", IntegerType()),
    StructField("duration_ms", LongType()),    # audio/video
    StructField("n_bytes", LongType()),
])

MEDIA_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("kind", StringType()),         # "image" | "audio" | "video"
    StructField("payload", BinaryType()),
    StructField("meta", MEDIA_META),
])

DECODED_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("kind", StringType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("n_frames", IntegerType()),
    StructField("features", ArrayType(FloatType())),
])

N_FEATURES = 8


def fake_media_from_documents(docs: DataFrame, kind: str = "image") -> DataFrame:
    """Build a media table with real binary payloads (the utf-8 document
    bytes) and typed metadata — the deterministic stand-in for a real
    image/audio ingest. Pure Column expressions."""
    payload = F.encode(F.col("text"), "UTF-8")
    n_bytes = F.octet_length(payload).cast("long")
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit(kind).alias("kind"),
        payload.alias("payload"),
        F.struct(
            F.lit("fake/" + kind).alias("format"),
            (n_bytes % 640 + 16).cast("int").alias("width"),
            (n_bytes % 480 + 16).cast("int").alias("height"),
            (n_bytes * 10).alias("duration_ms"),
            n_bytes.alias("n_bytes"),
        ).alias("meta"),
    )


def decode_media(media: DataFrame, fake: bool = False,
                 batch_size_hint: int | None = None) -> DataFrame:
    """Decode payloads and extract per-item features via ``mapInPandas``.

    Real decode is STUBBED (no codec libs in this environment): with
    ``fake=False`` this raises NotImplementedError at execution time; with
    ``fake=True`` it derives deterministic pseudo-decode outputs from the
    payload bytes, exercising the full Arrow batch path: binary in,
    struct+array<float> out, payloads never shuffled.
    """

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in it:
            if not fake:
                raise NotImplementedError(
                    "media codecs (PIL/ffmpeg) are not available in this "
                    "environment; pass fake=True for the deterministic stub"
                )
            out_rows = []
            for row in pdf.to_dict("records"):
                payload: bytes = bytes(row["payload"])
                n = len(payload)
                # Deterministic fake decode: dims from byte stats, features
                # from fixed-stride byte windows (real arithmetic over the
                # real bytes — only the *codec* is fake).
                width = n % 640 + 16
                height = n % 480 + 16
                n_frames = 1 if row["kind"] == "image" else n % 16 + 1
                stride = max(n // N_FEATURES, 1)
                feats = [
                    float(sum(payload[i * stride:(i + 1) * stride])
                          % 1000) / 1000.0
                    for i in range(N_FEATURES)
                ]
                out_rows.append((row["media_id"], row["kind"], width, height,
                                 n_frames, feats))
            yield pd.DataFrame(
                out_rows,
                columns=["media_id", "kind", "width", "height", "n_frames",
                         "features"],
            )

    return media.mapInPandas(batches, schema=DECODED_SCHEMA)


def resize_meta(media: DataFrame, max_side: int) -> Column | DataFrame:
    """Resize planning as a metadata-only projection (the payload transform
    itself would live in the decode stub): compute the scaled dims keeping
    aspect ratio. Pure Column math — no Python, no payload movement."""
    w = F.col("meta.width").cast("double")
    h = F.col("meta.height").cast("double")
    scale = F.least(F.lit(float(max_side)) / F.greatest(w, h), F.lit(1.0))
    return media.select(
        "media_id",
        "kind",
        F.floor(w * scale + F.lit(0.5)).cast("int").alias("out_width"),
        F.floor(h * scale + F.lit(0.5)).cast("int").alias("out_height"),
        round_portable(scale).alias("scale"),
    )


def frame_sample_plan(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Frame sampling plan for video rows: one row per sampled timestamp
    (explode over a sequence — JVM-side; the actual frame grab would happen
    in the decode stub)."""
    n = (F.col("meta.duration_ms") / every_ms).cast("int")
    return (
        media.filter(F.col("kind") == "video")
        .select(
            "media_id",
            F.explode(
                F.when(n >= 1, F.sequence(F.lit(0), n - 1))
                .otherwise(F.array().cast("array<int>"))
            ).alias("frame_idx"),
        )
        .select(
            "media_id",
            "frame_idx",
            (F.col("frame_idx").cast("long") * every_ms).alias("sample_at_ms"),
        )
    )


# -- REAL NetPBM (P5/PGM) codec path ----------------------------------------
#
# The PIL/ffmpeg stub above is honest about compressed codecs, but an
# UNCOMPRESSED raster format needs no library at all: NetPBM P5 is a
# text header ("P5\n<w> <h>\n255\n") followed by w*h raw bytes. The
# functions below build VALID P5 payloads from document text with pure
# Column expressions, then genuinely PARSE those bytes back (magic,
# dims, maxval, raster) with numpy inside mapInPandas — a real binary
# decode, real feature extraction, and a real nearest-neighbor resize,
# all dependency-free and oracle-checkable: the raster bytes are the
# [a-z0-9 ]-scrubbed text (ASCII, so byte == codepoint) zero-padded to
# the raster size, which DuckDB can reconstruct arithmetically with
# unicode(substr(...)) without ever touching the binary.

PGM_WIDTH = 64
PGM_BANDS = 8          # horizontal feature bands over the flat raster
PGM_RESIZE = 16        # nearest-neighbor target side


def _pgm_clean(text: Column) -> Column:
    """ASCII-guaranteed raster source: lower + strip non-[a-z0-9 ]."""
    return F.coalesce(
        F.regexp_replace(F.lower(text), r"[^a-z0-9 ]+", ""), F.lit(""))


def pgm_media_from_documents(docs: DataFrame) -> DataFrame:
    """Encode each document as a REAL binary P5/PGM image (one byte per
    cleaned character, row-major, width 64, zero-padded final row;
    empty/NULL text becomes a 64x1 black image). Pure Column
    expressions — the payload leaves the executor as genuine bytes any
    NetPBM reader opens."""
    clean = _pgm_clean(F.col("text"))
    n = F.length(clean)
    h = F.greatest(F.ceil(n / F.lit(float(PGM_WIDTH))).cast("int"),
                   F.lit(1))
    wh = (F.lit(PGM_WIDTH) * h).cast("int")
    header = F.concat(F.lit("P5\n" + str(PGM_WIDTH) + " "),
                      h.cast("string"), F.lit("\n255\n"))
    body = F.expr(
        f"rpad(regexp_replace(lower(coalesce(text, '')),"
        f" '[^a-z0-9 ]+', ''), "
        f"int(greatest(ceil(length(regexp_replace(lower(coalesce(text,"
        f" '')), '[^a-z0-9 ]+', '')) / {PGM_WIDTH}.0), 1))"
        f" * {PGM_WIDTH}, chr(0))")
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.concat(F.encode(header, "UTF-8"),
                 F.encode(body, "UTF-8")).alias("payload"),
        F.struct(F.lit("pgm").alias("format"),
                 F.lit(PGM_WIDTH).cast("int").alias("width"),
                 h.alias("height"),
                 F.lit(0).cast("long").alias("duration_ms"),
                 (wh.cast("long") + F.octet_length(
                     F.encode(header, "UTF-8")).cast("long"))
                 .alias("n_bytes")).alias("meta"))


def _parse_p5_at(payload: bytes, pos: int):
    """Genuine NetPBM P5 parse at byte offset ``pos``: magic,
    whitespace-separated dims and maxval, then the raw raster. Returns
    ``(w, h, raster, next_pos)`` where ``next_pos`` is the offset of
    the byte after the raster — the exact cursor a concatenated-P5
    stream (ffmpeg's image2pipe pgm output) advances frame by frame.
    Raises ValueError on malformed input (truncated raster, wrong
    magic) — decode failures at 100 TB are data, not crashes, so
    callers catch per row."""
    import numpy as np

    if payload[pos:pos + 2] != b"P5":
        raise ValueError("not a P5 payload")
    # header tokens: P5, width, height, maxval, then ONE whitespace
    # byte before the raster (the NetPBM spec)
    pos, tokens = pos + 2, []
    while len(tokens) < 3:
        while pos < len(payload) and payload[pos:pos + 1].isspace():
            pos += 1
        start = pos
        while pos < len(payload) and not payload[pos:pos + 1].isspace():
            pos += 1
        if start == pos:
            raise ValueError("truncated P5 header")
        tokens.append(int(payload[start:pos]))
    pos += 1  # the single post-maxval whitespace
    w, h, maxval = tokens
    if w <= 0 or h <= 0:
        # a 0×N header parses "successfully" but every consumer then
        # divides or indexes by w*h — at 100 TB that one blob must be
        # dropped data, not a ZeroDivisionError that kills the stage
        raise ValueError("non-positive P5 dimensions")
    if maxval != 255:
        raise ValueError("unsupported maxval")
    raster = np.frombuffer(payload, dtype=np.uint8, count=w * h,
                           offset=pos)
    if raster.size != w * h:
        raise ValueError("truncated raster")
    return w, h, raster, pos + w * h


def _parse_p5(payload: bytes):
    """Single-image P5 parse (see ``_parse_p5_at``)."""
    w, h, raster, _ = _parse_p5_at(payload, 0)
    return w, h, raster


def decode_pgm(media: DataFrame) -> DataFrame:
    """REAL decode of P5 payloads via mapInPandas: parse the binary
    header, slice the raster into PGM_BANDS bands, and emit exact
    integer features — one SCALAR row per band, feat_micro =
    (band byte sum * 1e6) // band length, pure int64. Payloads never
    shuffle; Arrow batches bound memory. Malformed payloads are data,
    not crashes: a row whose parse raises ValueError is dropped (the
    100 TB contract — one bad blob must not kill the job). Rasters
    whose size is not a multiple of PGM_BANDS are banded over the
    first band_len*PGM_BANDS bytes (band_len = wh // PGM_BANDS),
    matching the oracle's per-band index arithmetic exactly. Returns
    (media_id, width, height, n_frames, band, feat_micro) — scalar
    columns only, so any canonicalizer can sort/hash the result."""

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in it:
            out = []
            for mid, payload in zip(pdf["media_id"].to_list(),
                                    pdf["payload"].to_list()):
                try:
                    w, h, raster = _parse_p5(bytes(payload))
                except ValueError:
                    continue  # malformed blob: drop the row, keep the job
                band_len = (w * h) // PGM_BANDS
                if band_len == 0:
                    continue
                sums = raster[:band_len * PGM_BANDS].reshape(
                    PGM_BANDS, band_len).sum(axis=1, dtype="int64")
                for b, s in enumerate(sums):
                    out.append((mid, w, h, 1, b,
                                int(s) * 1_000_000 // band_len))
            yield pd.DataFrame(
                out, columns=["media_id", "width", "height", "n_frames",
                              "band", "feat_micro"])

    schema = ("media_id long, width int, height int, n_frames int, "
              "band int, feat_micro long")
    return media.select("media_id", "payload").mapInPandas(
        batches, schema=schema)


def sql_decode_pgm(table: str = "documents",
                   cap: int | None = None) -> str:
    """DuckDB twin of pgm_media_from_documents >> decode_pgm: rebuild
    the raster arithmetically from the cleaned ASCII text (byte ==
    codepoint; padding is 0) and compute the same integer band
    micro-means — one scalar row per (media_id, band), mirroring the
    Spark side's exploded shape. ``cap`` mirrors the python-codec
    builders' RASTER_MAX_CHARS truncation (the P5 builder is pure
    Column exprs with no such limit, so the PGM entry passes None)."""
    clean = ("regexp_replace(lower(coalesce(text, '')),"
             " '[^a-z0-9 ]+', '', 'g')")
    if cap is not None:
        clean = f"substring({clean}, 1, {cap})"
    return f"""
    WITH _pg_base AS (
      SELECT doc_id AS media_id, {clean} AS c,
             length({clean}) AS n,
             greatest(CAST(ceil(length({clean}) / {PGM_WIDTH}.0)
                           AS INTEGER), 1) AS h
      FROM {table}
    ),
    _pg_band AS (
      SELECT media_id, h, c, n,
             ({PGM_WIDTH} * h) // {PGM_BANDS} AS band_len,
             unnest(generate_series(0, {PGM_BANDS - 1})) AS band
      FROM _pg_base
    )
    SELECT media_id, CAST({PGM_WIDTH} AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height, CAST(1 AS INTEGER) AS n_frames,
           CAST(band AS INTEGER) AS band,
           (CAST(list_aggregate(list_transform(
              generate_series(1, band_len),
              i -> CASE WHEN band * band_len + i <= n
                   THEN unicode(substr(c,
                     CAST(band * band_len + i AS INTEGER), 1))
                   ELSE 0 END), 'sum') AS BIGINT)
            * 1000000) // band_len AS feat_micro
    FROM _pg_band
    """


PHASH_SIDE = 8         # aHash grid: 8x8 = 64-bit hash


def phash_pgm(media: DataFrame) -> DataFrame:
    """Perceptual average-hash (aHash) of each P5 payload — the
    classic image near-dup fingerprint: nearest-neighbor resample the
    REAL parsed raster to 8x8 with the exact integer grid
    src = (dst * size) // 8, then bit j (row-major) is set iff
    64 * pixel_j > sum(all 64 pixels) — a strict integer comparison,
    so the hash is exact on any engine (no float mean). Returns
    (media_id, phash) with the 64 bits packed LSB-first into one
    int64, two's-complement when bit 63 is set. Payloads never
    shuffle; malformed payloads drop per row like decode_pgm."""

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        side = PHASH_SIDE
        for pdf in it:
            out = []
            for mid, payload in zip(pdf["media_id"].to_list(),
                                    pdf["payload"].to_list()):
                try:
                    w, h, raster = _parse_p5(bytes(payload))
                except ValueError:
                    continue
                img = raster.reshape(h, w)
                rows = (np.arange(side) * h) // side
                cols = (np.arange(side) * w) // side
                px = img[np.ix_(rows, cols)].astype("int64").ravel()
                total = int(px.sum())
                bits = (px * 64) > total
                ph = int.from_bytes(
                    np.packbits(bits, bitorder="little").tobytes(),
                    "little", signed=True)
                out.append((mid, ph))
            yield pd.DataFrame(out, columns=["media_id", "phash"])

    return media.select("media_id", "payload").mapInPandas(
        batches, schema="media_id long, phash long")


def sql_phash_pgm(table_expr: str, width: int = PGM_WIDTH) -> str:
    """DuckDB twin of pgm_media_from_documents >> phash_pgm over the
    arithmetic raster: same integer sampling grid, same strict
    64*p > total bit rule, same LSB-first packing (signed two's
    complement for bit 63). ``table_expr`` must yield
    (media_id, c, n) = id, cleaned text, its length. ``width`` is the
    raster row width in value cells — {PGM_WIDTH} for the PGM byte
    raster, JPEG_BLOCKS_W for the JPEG tile grid (phash_jpeg hashes
    the decoded tile values, which equal the text bytes there)."""
    w, s = width, PHASH_SIDE
    return f"""
    _ph_base AS (
      SELECT media_id, c, n,
             greatest(CAST(ceil(n / {w}.0) AS INTEGER), 1) AS h
      FROM ({table_expr})
    ),
    _ph_px AS (
      SELECT media_id, j.j AS j,
             CASE WHEN ((((j.j // {s}) * h) // {s}) * {w}
                        + (((j.j % {s}) * {w}) // {s}) + 1) <= n
                  THEN unicode(substr(c,
                    CAST((((j.j // {s}) * h) // {s}) * {w}
                         + (((j.j % {s}) * {w}) // {s}) + 1 AS INTEGER),
                    1))
                  ELSE 0 END AS p
      FROM _ph_base,
           (SELECT unnest(generate_series(0, {s * s - 1})) AS j) j
    ),
    _ph_tot AS (
      SELECT media_id, j, p,
             sum(p) OVER (PARTITION BY media_id) AS total
      FROM _ph_px
    ),
    _ph AS (
      SELECT media_id,
             CAST(sum(CASE WHEN 64 * p > total
                      THEN CASE WHEN j = 63
                           THEN -9223372036854775808
                           ELSE (CAST(1 AS BIGINT) << CAST(j AS INTEGER))
                           END
                      ELSE 0 END) AS BIGINT) AS phash
      FROM _ph_tot GROUP BY media_id
    )
    """


def resize_pgm(media: DataFrame, side: int = PGM_RESIZE) -> DataFrame:
    """REAL nearest-neighbor resize of the decoded raster to
    side x side (src index = (dst * src_size) // dst_size — pure
    integer sampling), emitting the resized dims and the exact int64
    checksum of the resized raster so the oracle pins every sampled
    pixel. The resize itself is numpy fancy-indexing over the parsed
    raster — the actual payload transform, not a metadata plan."""

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        for pdf in it:
            out = []
            for mid, payload in zip(pdf["media_id"].to_list(),
                                    pdf["payload"].to_list()):
                try:
                    w, h, raster = _parse_p5(bytes(payload))
                except ValueError:
                    continue  # malformed blob: drop the row, keep the job
                img = raster.reshape(h, w)
                rows = (np.arange(side) * h) // side
                cols = (np.arange(side) * w) // side
                resized = img[np.ix_(rows, cols)]
                out.append((mid, side, side,
                            int(resized.sum(dtype="int64"))))
            yield pd.DataFrame(
                out, columns=["media_id", "out_width", "out_height",
                              "checksum"])

    schema = ("media_id long, out_width int, out_height int, "
              "checksum long")
    return media.select("media_id", "payload").mapInPandas(
        batches, schema=schema)


def sql_resize_pgm(table: str = "documents",
                   side: int = PGM_RESIZE) -> str:
    """DuckDB twin of resize_pgm over the arithmetic raster: the same
    (dst * src) // dst sampling grid, checksum as the sum of sampled
    byte values (text codepoint, or 0 in the padding)."""
    clean = ("regexp_replace(lower(coalesce(text, '')),"
             " '[^a-z0-9 ]+', '', 'g')")
    return f"""
    WITH _rz_base AS (
      SELECT doc_id AS media_id, {clean} AS c,
             length({clean}) AS n,
             greatest(CAST(ceil(length({clean}) / {PGM_WIDTH}.0)
                           AS INTEGER), 1) AS h
      FROM {table}
    ),
    _rz_sum AS (
      SELECT media_id,
             CAST(list_aggregate(flatten(list_transform(
               generate_series(0, {side - 1}), r ->
               list_transform(generate_series(0, {side - 1}), col ->
                 CASE WHEN ((r * h) // {side}) * {PGM_WIDTH}
                           + ((col * {PGM_WIDTH}) // {side}) + 1 <= n
                      THEN unicode(substr(c,
                        CAST(((r * h) // {side}) * {PGM_WIDTH}
                             + ((col * {PGM_WIDTH}) // {side}) + 1
                             AS INTEGER), 1))
                      ELSE 0 END))), 'sum') AS BIGINT) AS checksum
      FROM _rz_base
    )
    SELECT media_id, CAST({side} AS INTEGER) AS out_width,
           CAST({side} AS INTEGER) AS out_height, checksum
    FROM _rz_sum
    """


# -- REAL multi-frame video path (concatenated P5 stream) --------------------
#
# ffmpeg's `-f image2pipe -vcodec pgm` output IS a video stream of
# back-to-back P5 frames — no container library needed to build or walk
# one. The functions below synthesize a VALID frame stream from document
# text with pure Column expressions and then genuinely PARSE it frame by
# frame (each frame's header read, the cursor advanced by the parsed
# raster size — frame boundaries are discovered by parsing, never
# assumed), sampling every k-th frame. This replaces the metadata-only
# ``frame_sample_plan`` stub with a real decode-on-sample path: the
# frames that are NOT sampled are skipped by header arithmetic, the
# 100 TB property that makes sparse frame sampling ~k× cheaper than a
# full decode.

FRAME_W = 8            # 8x8 = 64-byte frames: the median synthetic doc
FRAME_H = 8            # (~300 chars) yields ~5 frames, so multi-frame
                       # paths (sampling, frame-aligned dedup) exercise
                       # on typical rows, not just the long tail
FRAME_EVERY = 2        # sample frames 0, 2, 4, ...
FRAME_MS = 40          # 25 fps


def pgm_stream_from_documents(docs: DataFrame) -> DataFrame:
    """Encode each document as a REAL concatenated-P5 frame stream
    (FRAME_W x FRAME_H bytes per frame from the cleaned text,
    zero-padded final frame; empty/NULL text becomes one black frame).
    Pure Column expressions: header + body stay ASCII/NUL so the UTF-8
    encode is byte-exact, same contract as pgm_media_from_documents."""
    fb = FRAME_W * FRAME_H
    clean = _pgm_clean(F.col("text"))
    n = F.length(clean)
    nf = F.greatest(F.ceil(n / F.lit(float(fb))).cast("int"), F.lit(1))
    header = F.lit(f"P5\n{FRAME_W} {FRAME_H}\n255\n")
    body = F.rpad(clean, (nf * fb).cast("int"), F.expr("chr(0)"))
    # body is HOISTED through a 1-element-array aggregate so the lambda
    # references a bound variable instead of the inlined rpad+regexp
    # expression — Catalyst does not CSE inside HOF lambdas, so the
    # direct spelling re-ran the regex scrub once PER FRAME (the
    # shingles_exploded / bloom_filter_literal lesson; measured 4 s ->
    # 0.6 s for the sf0.1 encode). Bit-identical output.
    stream = F.aggregate(
        F.array(body), F.lit(""),
        lambda acc, b: F.concat_ws(
            "", F.transform(
                F.sequence(F.lit(0), nf - 1),
                lambda i: F.concat(header,
                                   F.substring(b, i * fb + 1, fb)))))
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("video").alias("kind"),
        F.encode(stream, "UTF-8").alias("payload"),
        F.struct(F.lit("pgm_stream").alias("format"),
                 F.lit(FRAME_W).cast("int").alias("width"),
                 F.lit(FRAME_H).cast("int").alias("height"),
                 (nf.cast("long") * FRAME_MS).alias("duration_ms"),
                 # arithmetic, not octet_length(stream): a second
                 # reference would build the stream twice per row
                 # (header + body are pure ASCII/NUL, 1 byte per char)
                 (nf.cast("long")
                  * (len(f"P5\n{FRAME_W} {FRAME_H}\n255\n") + fb))
                 .alias("n_bytes")).alias("meta"))


def _p5_stream_rasters(buf: bytes):
    """Vectorized walk of a HOMOGENEOUS concatenated-P5 stream: parse
    frame 0's header genuinely, then — iff the stream is an exact
    multiple of that frame size AND every frame offset carries the
    byte-identical header (one strided numpy comparison; the same
    byte-exact verification the scalar walk performs, not an
    assumption) — return (w, h, rasters 2-D). Heterogeneous or
    odd-length streams return None and take the scalar per-frame walk.
    Raises ValueError on a malformed first frame like the scalar
    parser. Cuts the per-frame python overhead ~5x on uniform streams
    (the builder's output is always uniform; a real mixed-dims stream
    falls back, correctness identical)."""
    import numpy as np

    w, h, _, pos = _parse_p5_at(buf, 0)
    fsz = pos
    hdr_len = fsz - w * h
    if len(buf) % fsz:
        return None
    arr = np.frombuffer(buf, dtype=np.uint8).reshape(-1, fsz)
    hdr = np.frombuffer(buf, dtype=np.uint8, count=hdr_len)
    if not (arr[:, :hdr_len] == hdr).all():
        return None
    return w, h, arr[:, hdr_len:]


def frame_sample_pgm(media: DataFrame,
                     every: int = FRAME_EVERY) -> DataFrame:
    """REAL frame sampling over a concatenated-P5 stream via
    mapInPandas: walk the payload frame by frame (each header parsed,
    cursor advanced by the parsed raster size), keep every ``every``-th
    frame, and emit its exact integer mean — one SCALAR row per sampled
    frame. Unsampled frames advance the cursor by header arithmetic
    only (their rasters are never materialized — the sparse-decode
    property). Payloads never shuffle; malformed streams are dropped
    per row, not raised (the 100 TB contract)."""

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        for pdf in it:
            out = []
            for mid, payload in zip(pdf["media_id"].to_list(),
                                    pdf["payload"].to_list()):
                try:
                    buf = bytes(payload)
                    fast = _p5_stream_rasters(buf)
                except ValueError:
                    continue  # malformed stream: drop the row
                if fast is not None:
                    w, h, rasters = fast
                    nf = len(rasters)
                    idxs = np.arange(0, nf, every)
                    means = (rasters[idxs].sum(axis=1, dtype="int64")
                             * 1_000_000 // (w * h))
                    out.extend(
                        (mid, int(fi), nf, w, h, int(mm))
                        for fi, mm in zip(idxs, means))
                    continue
                try:
                    pos, idx, frames = 0, 0, []
                    while pos < len(buf):
                        w, h, raster, pos = _parse_p5_at(buf, pos)
                        if idx % every == 0:
                            frames.append(
                                (idx, w, h,
                                 int(raster.sum(dtype="int64"))
                                 * 1_000_000 // (w * h)))
                        idx += 1
                except ValueError:
                    continue  # malformed stream: drop the row
                for fidx, w, h, mm in frames:
                    out.append((mid, fidx, idx, w, h, mm))
            yield pd.DataFrame(
                out, columns=["media_id", "frame_idx", "n_frames",
                              "width", "height", "mean_micro"])

    schema = ("media_id long, frame_idx int, n_frames int, "
              "width int, height int, mean_micro long")
    return media.select("media_id", "payload").mapInPandas(
        batches, schema=schema)


def sql_frame_sample(table: str = "documents",
                     every: int = FRAME_EVERY) -> str:
    """DuckDB twin of pgm_stream_from_documents >> frame_sample_pgm:
    frame f covers cleaned-text bytes [f*fb+1, (f+1)*fb] (0 in the
    padding), sampled at f % every == 0."""
    fb = FRAME_W * FRAME_H
    clean = ("regexp_replace(lower(coalesce(text, '')),"
             " '[^a-z0-9 ]+', '', 'g')")
    return f"""
    WITH _fs_base AS (
      SELECT doc_id AS media_id, {clean} AS c,
             length({clean}) AS n,
             greatest(CAST(ceil(length({clean}) / {fb}.0) AS INTEGER),
                      1) AS nf
      FROM {table}
    ),
    _fs_fr AS (
      SELECT media_id, c, n, nf,
             unnest(generate_series(0, nf - 1)) AS f
      FROM _fs_base
    )
    SELECT media_id, CAST(f AS INTEGER) AS frame_idx,
           CAST(nf AS INTEGER) AS n_frames,
           CAST({FRAME_W} AS INTEGER) AS width,
           CAST({FRAME_H} AS INTEGER) AS height,
           (CAST(list_aggregate(list_transform(
              generate_series(1, {fb}),
              i -> CASE WHEN f * {fb} + i <= n
                   THEN unicode(substr(c, CAST(f * {fb} + i AS INTEGER),
                                       1))
                   ELSE 0 END), 'sum') AS BIGINT)
            * 1000000) // {fb} AS mean_micro
    FROM _fs_fr WHERE f % {every} = 0
    """


# -- REAL audio path (RIFF/WAV, PCM unsigned 8-bit) ---------------------------
#
# WAV with PCM u8 samples is the uncompressed-audio analog of NetPBM:
# a RIFF container whose chunks need no codec library to build or walk.
# The builder synthesizes a VALID mono 8 kHz PCM-u8 WAV from document
# text with pure Column expressions (little-endian size fields via
# chr() + ISO-8859-1 encode — codepoint == byte for 0..255), and the
# decoder genuinely WALKS the RIFF chunk list: magic, fmt block
# (format/channels/rate/bits validated), data chunk located by 4CC with
# odd-size pad-byte alignment per the RIFF spec — then extracts exact
# integer features from the samples. Python's stdlib ``wave`` module
# opens these payloads (asserted in tests), so the builder is honest.

WAV_RATE = 8000

# IMA/DVI ADPCM (round 17 — fmt code 0x11, the common compressed WAV
# in telephony and games; IMA "Recommended Practices for Enhancing
# Digital Audio Compatibility", 1992). The step-size table (89
# entries) and index-adjust table are the published constants; the
# decode recurrence is exact integer end to end, so a DuckDB oracle
# replays it verbatim with a list_reduce fold.
ADPCM_BLOCK = 128      # nBlockAlign: 4-byte header + 124 data bytes
_IMA_STEPS = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34,
    37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143,
    157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494,
    544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552,
    1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428,
    4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487,
    12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623, 27086,
    29794, 32767)
_IMA_INDEX_ADJ = (-1, -1, -1, -1, 2, 4, 6, 8)  # indexed by nibble & 7


def _le(width: int, value_expr: str) -> str:
    """SQL string expr: ``width``-byte little-endian encoding of a
    nonneg int expression, as chr() codepoints 0..255 (ISO-8859-1
    encodes each to exactly one byte)."""
    parts = [f"chr(CAST(({value_expr}) DIV {1 << (8 * i)} AS INT) % 256)"
             for i in range(width)]
    return "concat(" + ", ".join(parts) + ")"


def wav_media_from_documents(docs: DataFrame) -> DataFrame:
    """Encode each document as a REAL RIFF/WAVE file (mono, 8 kHz,
    PCM unsigned 8-bit; sample bytes = cleaned text codepoints,
    empty/NULL text becomes one zero sample). Pure Column expressions;
    the single ISO-8859-1 encode maps every codepoint 0..255 to its
    byte, so variable little-endian size fields survive exactly."""
    clean = ("regexp_replace(lower(coalesce(text, '')),"
             " '[^a-z0-9 ]+', '')")
    n = f"greatest(length({clean}), 1)"
    data = f"rpad({clean}, {n}, chr(0))"
    hdr = (
        f"concat('RIFF', {_le(4, f'36 + {n}')}, 'WAVE',"
        f" 'fmt ', {_le(4, '16')}, {_le(2, '1')}, {_le(2, '1')},"
        f" {_le(4, str(WAV_RATE))}, {_le(4, str(WAV_RATE))},"
        f" {_le(2, '1')}, {_le(2, '8')},"
        f" 'data', {_le(4, n)}, {data})")
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("audio").alias("kind"),
        F.expr(f"encode({hdr}, 'ISO-8859-1')").alias("payload"),
        F.struct(F.lit("wav").alias("format"),
                 F.lit(0).cast("int").alias("width"),
                 F.lit(0).cast("int").alias("height"),
                 (F.expr(n).cast("long") * 1000 / WAV_RATE).cast("long")
                 .alias("duration_ms"),
                 (F.expr(n).cast("long") + 44).alias("n_bytes"))
        .alias("meta"))


def wav16_media_from_documents(docs: DataFrame) -> DataFrame:
    """Encode each document as a REAL 16-BIT PCM RIFF/WAVE file
    (mono, 8 kHz, signed little-endian — round 15): sample
    s16 = v*257 - 32768 for each cleaned-text codepoint v (both bytes
    of every sample are live — low byte v, high byte (v+128) & 255 —
    so the decode genuinely exercises the 16-bit lane), empty/NULL
    text becomes one v=0 sample. The decoder's (s + 32768) >> 8 fold
    recovers v exactly, so sql_decode_wav stays the oracle. Python
    stdlib ``wave`` opens these payloads (asserted in tests). Built in
    mapInPandas (16-bit LE packing is not a Column expression)."""

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import re
        import struct

        import numpy as np
        import pandas as pd

        strip = re.compile(r"[^a-z0-9 ]+")
        for pdf in it:
            out = []
            for did, text in zip(pdf["doc_id"].to_list(),
                                 pdf["text"].to_list()):
                clean = strip.sub("", (text or "").lower())
                v = np.frombuffer(clean.encode("ascii"),
                                  dtype=np.uint8).astype(np.int64)
                if v.size == 0:
                    v = np.zeros(1, dtype=np.int64)
                data = (v * 257 - 32768).astype("<i2").tobytes()
                hdr = (b"RIFF" + struct.pack("<I", 36 + len(data))
                       + b"WAVEfmt " + struct.pack(
                           "<IHHIIHH", 16, 1, 1, WAV_RATE,
                           WAV_RATE * 2, 2, 16)
                       + b"data" + struct.pack("<I", len(data)))
                out.append((did, bytearray(hdr + data)))
            yield pd.DataFrame(out, columns=["media_id", "payload"])

    return docs.select("doc_id", "text").mapInPandas(
        batches, schema="media_id long, payload binary")


def wav_ulaw_media_from_documents(docs: DataFrame) -> DataFrame:
    """Encode each document as a G.711 MU-LAW RIFF/WAVE file (round
    16, fmt code 7 — the telephony standard): each cleaned-text byte
    IS the mu-law code (so the full 256-code table is exercised at
    corpus scale), empty/NULL text becomes one code-0 sample. Pure
    Column expressions like the u8 builder (a mu-law stream is just
    bytes); the decoder expands codes with the exact ITU integer
    transform, which the DuckDB oracle replays verbatim."""
    clean = ("regexp_replace(lower(coalesce(text, '')),"
             " '[^a-z0-9 ]+', '')")
    n = f"greatest(length({clean}), 1)"
    data = f"rpad({clean}, {n}, chr(0))"
    hdr = (
        f"concat('RIFF', {_le(4, f'36 + {n}')}, 'WAVE',"
        f" 'fmt ', {_le(4, '16')}, {_le(2, '7')}, {_le(2, '1')},"
        f" {_le(4, str(WAV_RATE))}, {_le(4, str(WAV_RATE))},"
        f" {_le(2, '1')}, {_le(2, '8')},"
        f" 'data', {_le(4, n)}, {data})")
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.expr(f"encode({hdr}, 'ISO-8859-1')").alias("payload"))


def wav_alaw_media_from_documents(docs: DataFrame) -> DataFrame:
    """Encode each document as a G.711 A-LAW RIFF/WAVE file (round
    16, fmt code 6 — Europe's telephony standard): each cleaned-text
    byte IS the A-law code, empty/NULL text one code-0 sample. Same
    pure-Column shape as the mu-law builder, fmt code 6."""
    clean = ("regexp_replace(lower(coalesce(text, '')),"
             " '[^a-z0-9 ]+', '')")
    n = f"greatest(length({clean}), 1)"
    data = f"rpad({clean}, {n}, chr(0))"
    hdr = (
        f"concat('RIFF', {_le(4, f'36 + {n}')}, 'WAVE',"
        f" 'fmt ', {_le(4, '16')}, {_le(2, '6')}, {_le(2, '1')},"
        f" {_le(4, str(WAV_RATE))}, {_le(4, str(WAV_RATE))},"
        f" {_le(2, '1')}, {_le(2, '8')},"
        f" 'data', {_le(4, n)}, {data})")
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.expr(f"encode({hdr}, 'ISO-8859-1')").alias("payload"))


def sql_decode_wav_alaw(table: str = "documents") -> str:
    """DuckDB twin of wav_alaw_media_from_documents >> decode_wav:
    replay the ITU A-law expansion per codepoint (u = xor(c, 85);
    segment 0 linear + 8, else (quant*16 + 264) << (seg-1); sign bit
    SET = positive) and the top-byte fold, then the clip features."""
    clean = ("regexp_replace(lower(coalesce(text, '')),"
             " '[^a-z0-9 ]+', '', 'g')")
    u = ("xor(CASE WHEN i <= raw_n THEN unicode(substr(c, "
         "CAST(i AS INTEGER), 1)) ELSE 0 END, 85)")
    t = (f"(CASE WHEN (({u}) // 16) % 8 = 0"
         f" THEN (({u}) % 16) * 16 + 8"
         f" ELSE ((({u}) % 16) * 16 + 264)"
         f" * (1 << (((({u}) // 16) % 8) - 1)) END)")
    pcm = f"(CASE WHEN ({u}) >= 128 THEN ({t}) ELSE -({t}) END)"
    u8 = f"((({pcm}) + 32768) // 256)"
    return f"""
    WITH _wa_base AS (
      SELECT doc_id AS media_id, {clean} AS c,
             greatest(length({clean}), 1) AS n,
             length({clean}) AS raw_n
      FROM {table}
    )
    SELECT media_id, CAST(n AS BIGINT) AS n_samples,
           CAST({WAV_RATE} AS INTEGER) AS sample_rate,
           (CAST(n AS BIGINT) * 1000) // {WAV_RATE} AS duration_ms,
           (CAST(list_aggregate(list_transform(
              generate_series(1, n), i -> {u8}), 'sum') AS BIGINT)
            * 1000000) // n AS mean_micro,
           CAST(list_aggregate(list_transform(
              generate_series(1, n), i -> {u8}), 'max') AS INTEGER)
             AS peak
    FROM _wa_base
    """


def sql_decode_wav_ulaw(table: str = "documents") -> str:
    """DuckDB twin of wav_ulaw_media_from_documents >> decode_wav:
    replay the ITU mu-law expansion per codepoint (u = 255 - c;
    magnitude ((u%16)*8 + 132) << exponent; sign from bit 7; bias
    132) and the top-byte fold, then the same clip features."""
    clean = ("regexp_replace(lower(coalesce(text, '')),"
             " '[^a-z0-9 ]+', '', 'g')")
    u = ("(255 - (CASE WHEN i <= raw_n THEN unicode(substr(c, "
         "CAST(i AS INTEGER), 1)) ELSE 0 END))")
    t = f"((({u}) % 16) * 8 + 132) * (1 << ((({u}) // 16) % 8))"
    pcm = f"(CASE WHEN ({u}) >= 128 THEN 132 - ({t}) ELSE ({t}) - 132 END)"
    u8 = f"((({pcm}) + 32768) // 256)"
    return f"""
    WITH _wu_base AS (
      SELECT doc_id AS media_id, {clean} AS c,
             greatest(length({clean}), 1) AS n,
             length({clean}) AS raw_n
      FROM {table}
    )
    SELECT media_id, CAST(n AS BIGINT) AS n_samples,
           CAST({WAV_RATE} AS INTEGER) AS sample_rate,
           (CAST(n AS BIGINT) * 1000) // {WAV_RATE} AS duration_ms,
           (CAST(list_aggregate(list_transform(
              generate_series(1, n), i -> {u8}), 'sum') AS BIGINT)
            * 1000000) // n AS mean_micro,
           CAST(list_aggregate(list_transform(
              generate_series(1, n), i -> {u8}), 'max') AS INTEGER)
             AS peak
    FROM _wu_base
    """


def wav_adpcm_media_from_documents(docs: DataFrame) -> DataFrame:
    """Encode each document as an IMA-ADPCM RIFF/WAVE file (round 17,
    fmt code 0x11): each cleaned-text byte IS one data byte of the
    nibble stream (low nibble = c % 16, high = c // 16 — ASCII <= 122
    keeps the high nibble in 0..7, so sign nibbles come from the low
    positions), packed into ADPCM_BLOCK-byte blocks whose 4-byte
    headers carry predictor 0 and step index (b*11) % 89 (block b —
    every block starts from a different rung of the step table). The
    final block is SHORT (its actual byte count, no fact chunk);
    empty/NULL text is one header-only block (1 sample). Built in
    mapInPandas (the per-block header interleave is not a Column
    expression); the decoder replays the published IMA recurrence,
    which the DuckDB oracle folds verbatim."""

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import re
        import struct as st

        import pandas as pd

        strip = re.compile(r"[^a-z0-9 ]+")
        dcap = ADPCM_BLOCK - 4
        spb = dcap * 2 + 1
        for pdf in it:
            out = []
            for did, text in zip(pdf["doc_id"].to_list(),
                                 pdf["text"].to_list()):
                clean = strip.sub("", (text or "").lower()).encode(
                    "ascii")
                nb = max(-(-len(clean) // dcap), 1)
                body = bytearray()
                for b in range(nb):
                    body += st.pack("<hBB", 0, (b * 11) % 89, 0)
                    body += clean[b * dcap:(b + 1) * dcap]
                fmt = st.pack("<HHIIHHHH", 0x11, 1, WAV_RATE,
                              WAV_RATE * ADPCM_BLOCK // spb,
                              ADPCM_BLOCK, 4, 2, spb)
                payload = (b"RIFF"
                           + (4 + 8 + len(fmt) + 8 + len(body))
                           .to_bytes(4, "little")
                           + b"WAVEfmt "
                           + len(fmt).to_bytes(4, "little") + fmt
                           + b"data"
                           + len(body).to_bytes(4, "little") + body)
                out.append((did, bytearray(payload)))
            yield pd.DataFrame(out, columns=["media_id", "payload"])

    return _fanout_docs(docs).select("doc_id", "text").mapInPandas(
        batches, schema="media_id long, payload binary")


def sql_decode_wav_adpcm(table: str = "documents") -> str:
    """DuckDB twin of wav_adpcm_media_from_documents >> decode_wav:
    replay the exact IMA recurrence per block with a homogeneous
    list_reduce fold (state [predictor, step_index, u8_sum, u8_max]
    prepended to single-element [nibble] lists; the published step /
    index-adjust tables as SQL literals), block b starting from
    predictor 0 / index (b*11) % 89 with the header contributing one
    u8 sample of 128, then the same clip features."""
    # Precompute the recurrence's two lookups over the FULL
    # (step_index, nibble) domain — 89*16 = 1424 entries each — so
    # the fold lambda does table INDEXING only (the naive spelling
    # inlined the 89-literal step table ~24x per nibble through the
    # diff/clamp expansions and ran minutes at sf0.1):
    #   sdiff[idx*16 + nib + 1] = signed predictor delta
    #   nidx [idx*16 + nib + 1] = next step index, already clamped
    sdiff_t, nidx_t = [], []
    for idx in range(89):
        step = _IMA_STEPS[idx]
        for n in range(16):
            d = step >> 3
            if n & 1:
                d += step >> 2
            if n & 2:
                d += step >> 1
            if n & 4:
                d += step
            sdiff_t.append(-d if n & 8 else d)
            nidx_t.append(min(max(idx + _IMA_INDEX_ADJ[n & 7], 0), 88))
    sdiff = "[" + ",".join(map(str, sdiff_t)) + "]"
    nidxl = "[" + ",".join(map(str, nidx_t)) + "]"
    dcap = ADPCM_BLOCK - 4
    clean = ("regexp_replace(lower(coalesce(text, '')),"
             " '[^a-z0-9 ]+', '', 'g')")
    # nibble j (1-based) of block b: char at text position
    # b*dcap + (j+1)//2, low nibble on odd j
    ch = (f"unicode(substr(c, CAST(b * {dcap} + (j + 1) // 2"
          " AS INTEGER), 1))")
    nib = (f"CASE WHEN j % 2 = 1 THEN ({ch}) % 16"
           f" ELSE ({ch}) // 16 END")
    pred = ("least(greatest(acc[1]"
            " + sd[CAST(acc[2] * 16 + x[1] + 1 AS INTEGER)],"
            " -32768), 32767)")
    nidx = "ni[CAST(acc[2] * 16 + x[1] + 1 AS INTEGER)]"
    u8 = f"(({pred}) + 32768) // 256"
    fold = (f"list_reduce(list_prepend("
            f"CAST([0, (b * 11) % 89, 128, 128] AS BIGINT[]),"
            f" list_transform(generate_series(1,"
            f" 2 * (least((b + 1) * {dcap}, raw_n) - b * {dcap})),"
            f" j -> [CAST({nib} AS BIGINT)])),"
            f" (acc, x) -> [{pred}, {nidx}, acc[3] + ({u8}),"
            f" greatest(acc[4], {u8})])")
    return f"""
    WITH _wd_tbl AS (
      SELECT CAST({sdiff} AS BIGINT[]) AS sd,
             CAST({nidxl} AS BIGINT[]) AS ni
    ),
    _wd_base AS (
      SELECT doc_id AS media_id, {clean} AS c,
             length({clean}) AS raw_n,
             greatest(CAST(ceil(length({clean}) / {dcap}.0)
                           AS INTEGER), 1) AS nb
      FROM {table}
    ),
    _wd_blk AS (
      SELECT media_id, c, raw_n, nb,
             unnest(generate_series(0, nb - 1)) AS b
      FROM _wd_base
    ),
    _wd_fold AS (
      SELECT media_id, nb, raw_n, {fold} AS st
      FROM _wd_blk CROSS JOIN _wd_tbl
    )
    SELECT media_id,
           CAST(any_value(nb) + 2 * any_value(raw_n) AS BIGINT)
             AS n_samples,
           CAST({WAV_RATE} AS INTEGER) AS sample_rate,
           (CAST(any_value(nb) + 2 * any_value(raw_n) AS BIGINT)
            * 1000) // {WAV_RATE} AS duration_ms,
           (CAST(sum(st[3]) AS BIGINT) * 1000000)
             // (any_value(nb) + 2 * any_value(raw_n)) AS mean_micro,
           CAST(max(st[4]) AS INTEGER) AS peak
    FROM _wd_fold
    GROUP BY media_id
    """


def wav_wide_media_from_documents(docs: DataFrame) -> DataFrame:
    """Encode each document as a WIDE-SAMPLE RIFF/WAVE file (round
    16): EVEN doc_ids as 24-BIT PCM (sample = v * 0x010101 - 2^23, so
    all three bytes are live and the decoder's top-byte fold recovers
    v exactly), ODD doc_ids as IEEE FLOAT32 (fmt code 3; sample =
    (v - 128) / 128 — dyadic, exactly representable, so the decoder's
    round-half-up f*128 + 128 fold recovers v exactly). Both lanes
    land on the same u8 feature domain, so sql_decode_wav stays the
    oracle. Empty/NULL text becomes one v=0 sample. Python stdlib
    ``wave`` opens the 24-bit lane (asserted in tests; stdlib wave
    has no float support, so that lane is struct-verified
    independently)."""

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import re
        import struct

        import numpy as np
        import pandas as pd

        strip = re.compile(r"[^a-z0-9 ]+")
        for pdf in it:
            out = []
            for did, text in zip(pdf["doc_id"].to_list(),
                                 pdf["text"].to_list()):
                clean = strip.sub("", (text or "").lower())
                v = np.frombuffer(clean.encode("ascii"),
                                  dtype=np.uint8).astype(np.int64)
                if v.size == 0:
                    v = np.zeros(1, dtype=np.int64)
                if did % 2 == 0:
                    s = v * 0x010101 - (1 << 23)
                    b = (s + (1 << 24)) % (1 << 24)  # two's complement
                    data = np.stack([b & 255, (b >> 8) & 255,
                                     (b >> 16) & 255],
                                    axis=1).astype(np.uint8).tobytes()
                    afmt, width = 1, 3
                else:
                    data = ((v - 128) / 128.0).astype("<f4").tobytes()
                    afmt, width = 3, 4
                hdr = (b"RIFF" + struct.pack("<I", 36 + len(data))
                       + b"WAVEfmt " + struct.pack(
                           "<IHHIIHH", 16, afmt, 1, WAV_RATE,
                           WAV_RATE * width, width, width * 8)
                       + b"data" + struct.pack("<I", len(data)))
                out.append((did, bytearray(hdr + data)))
            yield pd.DataFrame(out, columns=["media_id", "payload"])

    return docs.select("doc_id", "text").mapInPandas(
        batches, schema="media_id long, payload binary")


def wav_stereo_media_from_documents(docs: DataFrame) -> DataFrame:
    """Encode each document as a REAL STEREO RIFF/WAVE file (round 15
    — music/podcast audio is overwhelmingly 2-channel): left channel
    = cleaned-text codepoint v, right channel = (v*37) % 256 (the
    modulo genuinely binds), interleaved L/R frames; EVEN doc_ids are
    PCM-u8 stereo, ODD doc_ids 16-bit stereo on the lossless
    v*257 - 32768 grid — the decoder's width fold + downmix lands
    both on mono = (v + (v*37) % 256) // 2, so one arithmetic oracle
    covers the whole corpus. stdlib ``wave`` opens the payloads
    (asserted in tests)."""

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import re
        import struct

        import numpy as np
        import pandas as pd

        strip = re.compile(r"[^a-z0-9 ]+")
        for pdf in it:
            out = []
            for did, text in zip(pdf["doc_id"].to_list(),
                                 pdf["text"].to_list()):
                clean = strip.sub("", (text or "").lower())
                v = np.frombuffer(clean.encode("ascii"),
                                  dtype=np.uint8).astype(np.int64)
                if v.size == 0:
                    v = np.zeros(1, dtype=np.int64)
                frames = np.stack([v, (v * 37) % 256], axis=-1)
                if did % 2 == 0:
                    data = frames.astype(np.uint8).tobytes()
                    align, bits = 2, 8
                else:
                    data = (frames * 257 - 32768).astype("<i2").tobytes()
                    align, bits = 4, 16
                hdr = (b"RIFF" + struct.pack("<I", 36 + len(data))
                       + b"WAVEfmt " + struct.pack(
                           "<IHHIIHH", 16, 1, 2, WAV_RATE,
                           WAV_RATE * align, align, bits)
                       + b"data" + struct.pack("<I", len(data)))
                out.append((did, bytearray(hdr + data)))
            yield pd.DataFrame(out, columns=["media_id", "payload"])

    return docs.select("doc_id", "text").mapInPandas(
        batches, schema="media_id long, payload binary")


def sql_decode_wav_stereo(table: str = "documents") -> str:
    """DuckDB twin of wav_stereo_media_from_documents >> decode_wav:
    the downmixed mono sample is (v + (v*37) % 256) // 2 per cleaned
    codepoint v (one v=0 frame for empty text) — identical for both
    planted widths, so one oracle pins the deinterleave, the width
    fold, and the integer downmix at once."""
    clean = ("regexp_replace(lower(coalesce(text, '')),"
             " '[^a-z0-9 ]+', '', 'g')")
    mono = ("(unicode(substr(c, CAST(i AS INTEGER), 1))"
            " + (unicode(substr(c, CAST(i AS INTEGER), 1)) * 37) % 256)"
            " // 2")
    return f"""
    WITH _ws_base AS (
      SELECT doc_id AS media_id, {clean} AS c,
             greatest(length({clean}), 1) AS n,
             length({clean}) AS raw_n
      FROM {table}
    )
    SELECT media_id, CAST(n AS BIGINT) AS n_samples,
           CAST({WAV_RATE} AS INTEGER) AS sample_rate,
           (CAST(n AS BIGINT) * 1000) // {WAV_RATE} AS duration_ms,
           (CAST(CASE WHEN raw_n = 0 THEN 0 ELSE list_aggregate(
              list_transform(generate_series(1, raw_n),
                i -> {mono}), 'sum') END AS BIGINT)
            * 1000000) // n AS mean_micro,
           CAST(CASE WHEN raw_n = 0 THEN 0 ELSE list_aggregate(
              list_transform(generate_series(1, raw_n),
                i -> {mono}), 'max') END AS INTEGER) AS peak
    FROM _ws_base
    """


def _parse_wav(payload: bytes):
    """Genuine RIFF walk: validate RIFF/WAVE magic, iterate chunks by
    4CC + little-endian size (odd sizes padded to even per the spec),
    parse the fmt block, and locate the data chunk. Returns
    (sample_rate, samples ndarray[uint8]). Raises ValueError on
    malformed/unsupported payloads."""
    import numpy as np

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    riff_size = int.from_bytes(payload[4:8], "little")
    if riff_size + 8 > len(payload):
        raise ValueError("truncated RIFF")
    # walk only the DECLARED riff span: wild WAVs commonly carry
    # trailing non-RIFF bytes (ID3 tags, padding) after a complete
    # FORM — those must not parse as bogus chunk headers and kill an
    # intact payload (same rule as the AIFF walker)
    end = 8 + riff_size
    pos, fmt, data = 12, None, None
    while pos + 8 <= end:
        cc = payload[pos:pos + 4]
        size = int.from_bytes(payload[pos + 4:pos + 8], "little")
        if pos + 8 + size > end:
            raise ValueError("truncated chunk")
        body = payload[pos + 8:pos + 8 + size]
        if cc == b"fmt ":
            if size < 16:
                raise ValueError("short fmt block")
            fmt = (int.from_bytes(body[0:2], "little"),   # audio format
                   int.from_bytes(body[2:4], "little"),   # channels
                   int.from_bytes(body[4:8], "little"),   # sample rate
                   int.from_bytes(body[14:16], "little"),  # bits/sample
                   int.from_bytes(body[12:14], "little"))  # block align
        elif cc == b"data":
            data = body
        pos += 8 + size + (size & 1)  # RIFF word alignment
    if fmt is None or data is None:
        raise ValueError("missing fmt or data chunk")
    afmt, channels, rate, bits, block_align = fmt
    if channels not in (1, 2) or not (
            (afmt == 1 and bits in (8, 16, 24))
            or (afmt == 3 and bits == 32)
            or (afmt in (6, 7) and bits == 8)
            or (afmt == 0x11 and bits == 4 and channels == 1)):
        raise ValueError(
            "unsupported encoding (want PCM 8/16/24-bit, float32, "
            "G.711 A-law/mu-law mono/stereo, or mono IMA-ADPCM)")
    if not 0 < rate < (1 << 31):
        # rate = 0 would divide-by-zero in duration math; an absurd
        # rate would overflow the int output column — both are
        # malformed DATA, so they drop per row like any parse failure
        raise ValueError("invalid sample rate")
    if afmt == 0x11:
        # IMA/DVI ADPCM (fmt code 0x11, round 17 — the common
        # compressed WAV in telephony/games): the stream is a
        # sequence of nBlockAlign-byte blocks, each a 4-byte header
        # (initial predictor int16 LE, initial step index, reserved)
        # followed by 4-bit nibbles, LOW nibble first; the header
        # predictor is the block's sample 0. The recurrence is the
        # published exact-integer IMA decode (diff assembled from
        # step >> 3/2/1/0 by nibble bits, predictor clamped to int16,
        # index clamped to 0..88). Inherently SEQUENTIAL within a
        # block, but blocks reset the state by construction — at
        # 100 TB the unit of parallelism is the block, and a short
        # FINAL block decodes with its actual byte count (the robust
        # no-fact-chunk convention). Same top-byte u8 fold as 16-bit.
        if block_align < 4:
            raise ValueError("invalid ADPCM block align")
        out: list[int] = []
        for off in range(0, len(data), block_align):
            blk = data[off:off + block_align]
            if len(blk) < 4:
                raise ValueError("truncated ADPCM block")
            pred = int.from_bytes(blk[0:2], "little", signed=True)
            idx = blk[2]
            if idx > 88:
                raise ValueError("invalid ADPCM step index")
            out.append((pred + 32768) >> 8)
            for byte in blk[4:]:
                for nib in (byte & 0x0F, byte >> 4):
                    step = _IMA_STEPS[idx]
                    diff = step >> 3
                    if nib & 1:
                        diff += step >> 2
                    if nib & 2:
                        diff += step >> 1
                    if nib & 4:
                        diff += step
                    pred = pred - diff if nib & 8 else pred + diff
                    pred = (-32768 if pred < -32768
                            else 32767 if pred > 32767 else pred)
                    nxt = idx + _IMA_INDEX_ADJ[nib & 7]
                    idx = 0 if nxt < 0 else 88 if nxt > 88 else nxt
                    out.append((pred + 32768) >> 8)
        u8 = np.asarray(out, dtype=np.int64)
    elif afmt == 6:
        # G.711 A-law (fmt code 6 — Europe's telephony standard):
        # toggle the even bits (0x55), split 3-bit segment + 4-bit
        # quantization, segment 0 is linear; sign bit SET means
        # positive (the A-law polarity inversion vs mu-law). Exact
        # ITU integers end to end; same top-byte fold.
        b = np.frombuffer(data, dtype=np.uint8).astype(np.int64)
        u = b ^ 0x55
        t0 = (u & 0x0F) << 4
        seg = (u >> 4) & 0x07
        t = np.where(seg == 0, t0 + 8,
                     (t0 + 0x108) << np.maximum(seg - 1, 0))
        pcm = np.where(u & 0x80, t, -t)
        u8 = (pcm + 32768) >> 8
    elif afmt == 7:
        # G.711 mu-law (fmt code 7, round 16 — the telephony
        # standard): each byte expands to 14-bit-magnitude PCM by the
        # exact ITU integer transform (complement, 3-bit exponent,
        # 4-bit mantissa, bias 0x84), then folds to the u8 feature
        # domain by the same top-byte bias as linear 16-bit. Fully
        # integer, so a DuckDB oracle replays it verbatim.
        b = np.frombuffer(data, dtype=np.uint8).astype(np.int64)
        u = 255 - b  # ~code & 0xFF
        t = (((u & 0x0F) << 3) + 0x84) << ((u >> 4) & 0x07)
        pcm = np.where(u & 0x80, 0x84 - t, t - 0x84)
        u8 = (pcm + 32768) >> 8
    elif bits == 8:
        u8 = np.frombuffer(data, dtype=np.uint8).astype(np.int64)
    elif bits == 24:
        # 24-bit signed little-endian PCM (round 16 — the pro-audio
        # export width): assemble the three bytes, bias by 2^23, and
        # take the TOP byte — lossless for the builder's v * 0x010101
        # grid (v*0x010101 >> 16 == v for v <= 255), standard 8-bit
        # requantization for everything else.
        if len(data) % 3:
            raise ValueError("24-bit data length not a multiple of 3")
        b = np.frombuffer(data, dtype=np.uint8).astype(np.int64)
        s24 = b[0::3] | (b[1::3] << 8) | (b[2::3] << 16)
        s24 -= (s24 >> 23) << 24  # sign-extend bit 23
        u8 = (s24 + (1 << 23)) >> 16
    elif bits == 32:
        # IEEE float32 (fmt code 3, round 16 — DAW/ML-pipeline
        # exports): fold [-1, 1] to the u8 domain by round-half-up of
        # f*128 + 128, clipped (f = +1.0 maps to 256 pre-clip) — the
        # exact inverse of the builder's (v - 128) / 128 embedding
        # (dyadic, exactly representable in float32).
        if len(data) % 4:
            raise ValueError("float32 data length not a multiple of 4")
        f = np.frombuffer(data, dtype="<f4").astype(np.float64)
        if not np.isfinite(f).all():
            raise ValueError("non-finite float32 sample")
        u8 = np.clip(np.floor(f * 128.0 + 128.5), 0, 255).astype(
            np.int64)
    else:
        # 16-bit signed little-endian PCM (round 15 — the width every
        # real-world recorder emits; u8 is rare in the wild): fold to
        # the same u8 feature domain as the 8-bit path so every
        # downstream feature/oracle is width-independent.
        # (s + 32768) >> 8 is the exact top-byte of the biased sample
        # — lossless for payloads whose samples sit on the
        # v*257 - 32768 grid (the builder's), standard 8-bit
        # requantization for everything else.
        if len(data) % 2:
            raise ValueError("odd 16-bit data length")
        s16 = np.frombuffer(data, dtype="<i2").astype(np.int64)
        u8 = (s16 + 32768) >> 8
    if channels == 2:
        # stereo (round 15): music/podcast audio is overwhelmingly
        # 2-channel. Deinterleave L/R frames and DOWNMIX after the
        # width fold — mono = (l + r) // 2, exact integer floor, so
        # the oracle reproduces it arithmetically.
        if u8.size % 2:
            raise ValueError("stereo data length mismatch")
        u8 = (u8[0::2] + u8[1::2]) // 2
    return rate, u8.astype(np.uint8)


def _ext80_encode(value: int) -> bytes:
    """Encode a positive integer as an IEEE 754 80-bit extended float
    (the AIFF COMM sampleRate field — sign(1) + biased exponent(15) +
    64-bit mantissa with an EXPLICIT integer bit)."""
    if value <= 0:
        raise ValueError("invalid sample rate")
    k = value.bit_length() - 1
    exp = 16383 + k
    mant = value << (63 - k)
    return exp.to_bytes(2, "big") + mant.to_bytes(8, "big")


def _ext80_to_int(raw: bytes) -> int:
    """Decode an 80-bit extended float to its exact positive-integer
    value; raises ValueError for negative, zero, non-integer, or
    out-of-int-range rates (all malformed DATA for a sample rate —
    they drop per row like any parse failure)."""
    if len(raw) != 10:
        raise ValueError("invalid sample rate")
    se = int.from_bytes(raw[0:2], "big")
    mant = int.from_bytes(raw[2:10], "big")
    if se & 0x8000 or mant == 0:
        raise ValueError("invalid sample rate")
    e = (se & 0x7FFF) - 16383
    if not 0 <= e <= 62:
        raise ValueError("invalid sample rate")
    shift = 63 - e
    value = mant >> shift
    if value << shift != mant:  # fractional rates unsupported
        raise ValueError("invalid sample rate")
    return value


def _parse_aiff(payload: bytes):
    """Genuine IFF walk (round 17 late addition — the audio family's
    second container, and its first BIG-ENDIAN one): validate the
    FORM/AIFF magic, iterate chunks by 4CC + big-endian size with
    odd-size pad alignment, parse COMM (channels, frame count, sample
    width, and the 80-bit EXTENDED-FLOAT sample rate — decoded with
    exact integer math, no float detour), honor SSND's leading
    offset/blockSize pair, and fold the signed big-endian 16-bit
    samples to the u8 feature domain with the same (s + 32768) >> 8
    rule as the 16-bit WAV lane. Returns (sample_rate, samples
    ndarray[int64]). Raises ValueError on malformed/unsupported
    payloads — messages inside the public attrition taxonomy."""
    import numpy as np

    if payload[:4] != b"FORM" or payload[8:12] != b"AIFF":
        raise ValueError("not a FORM/AIFF payload")
    form_size = int.from_bytes(payload[4:8], "big")
    if form_size + 8 > len(payload):
        raise ValueError("truncated FORM")
    # the chunk walk is bounded by the DECLARED form size, not the
    # blob length: wild AIFFs commonly carry trailing non-IFF bytes
    # (ID3v1 tags, padding) after a complete FORM, and those must not
    # kill an intact payload by parsing as a bogus chunk header
    end = 8 + form_size
    pos, comm, ssnd = 12, None, None
    while pos + 8 <= end:
        cc = payload[pos:pos + 4]
        size = int.from_bytes(payload[pos + 4:pos + 8], "big")
        if pos + 8 + size > end:
            raise ValueError("truncated chunk")
        body = payload[pos + 8:pos + 8 + size]
        if cc == b"COMM":
            if size < 18:
                raise ValueError("short COMM block")
            comm = (int.from_bytes(body[0:2], "big"),    # channels
                    int.from_bytes(body[2:6], "big"),    # sample frames
                    int.from_bytes(body[6:8], "big"),    # bits/sample
                    _ext80_to_int(body[8:18]))           # sample rate
        elif cc == b"SSND":
            if size < 8:
                raise ValueError("short SSND block")
            off = int.from_bytes(body[0:4], "big")
            if 8 + off > size:
                raise ValueError("truncated AIFF samples")
            ssnd = body[8 + off:]  # blockSize: alignment hint only
        pos += 8 + size + (size & 1)  # IFF word alignment
    if comm is None or ssnd is None:
        raise ValueError("missing COMM or SSND chunk")
    channels, n_frames, bits, rate = comm
    if channels != 1 or bits != 16:
        raise ValueError("unsupported AIFF profile "
                         "(want mono 16-bit PCM)")
    if not 0 < rate < (1 << 31):
        raise ValueError("invalid sample rate")
    if len(ssnd) < 2 * n_frames:
        raise ValueError("truncated AIFF samples")
    s16 = np.frombuffer(ssnd[:2 * n_frames], dtype=">i2")
    return rate, ((s16.astype(np.int64) + 32768) >> 8)


def aiff_media_from_documents(docs: DataFrame) -> DataFrame:
    """Encode each document as a REAL AIFF file (round 17 late
    addition — mono 8 kHz 16-bit big-endian PCM): sample
    s16 = v*257 - 32768 for each cleaned-text codepoint v (the wav16
    lane's derivation, so the (s + 32768) >> 8 fold recovers v and
    sql_decode_wav stays the oracle), empty/NULL text one v=0 sample.
    The COMM sample rate is a genuine 80-bit extended float; odd
    doc_ids carry a nonzero SSND offset (2 junk lead bytes);
    ``did % 3 == 0`` prepends an odd-length ANNO chunk so the walker's
    pad alignment is exercised at corpus scale. Built in mapInPandas
    (big-endian packing is not a Column expression)."""

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import re
        import struct

        import numpy as np
        import pandas as pd

        strip = re.compile(r"[^a-z0-9 ]+")
        rate80 = _ext80_encode(WAV_RATE)
        for pdf in it:
            out = []
            for did, text in zip(pdf["doc_id"].to_list(),
                                 pdf["text"].to_list()):
                clean = strip.sub("", (text or "").lower())
                v = np.frombuffer(clean.encode("ascii"),
                                  dtype=np.uint8).astype(np.int64)
                if v.size == 0:
                    v = np.zeros(1, dtype=np.int64)
                data = (v * 257 - 32768).astype(">i2").tobytes()
                off = 2 if did % 2 else 0
                ssnd_body = (struct.pack(">II", off, 0)
                             + b"\xee" * off + data)
                chunks = b""
                if did % 3 == 0:  # odd-size chunk: pad-walk coverage
                    chunks += b"ANNO" + struct.pack(">I", 5) \
                        + b"mktd6" + b"\x00"
                chunks += (b"COMM" + struct.pack(">IHIH", 18, 1,
                                                 v.size, 16) + rate80
                           + b"SSND" + struct.pack(
                               ">I", len(ssnd_body)) + ssnd_body)
                payload = (b"FORM"
                           + struct.pack(">I", 4 + len(chunks))
                           + b"AIFF" + chunks)
                out.append((did, bytearray(payload)))
            yield pd.DataFrame(out, columns=["media_id", "payload"])

    return _fanout_docs(docs).select("doc_id", "text").mapInPandas(
        batches, schema="media_id long, payload binary")


def decode_aiff(media: DataFrame) -> DataFrame:
    """REAL decode of AIFF payloads via mapInPandas — the decode_wav
    feature contract (sample count, rate, duration, mean level in
    micros, peak) over the big-endian IFF walk, so the WAV oracle
    pins a second audio container. Scalar columns only; payloads
    never shuffle; malformed payloads drop per row."""

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in it:
            out = []
            for mid, payload in zip(pdf["media_id"].to_list(),
                                    pdf["payload"].to_list()):
                try:
                    rate, samples = _parse_aiff(bytes(payload))
                except ValueError:
                    continue  # malformed blob: drop the row
                if samples.size == 0:
                    continue
                out.append((mid, int(samples.size), rate,
                            int(samples.size) * 1000 // rate,
                            int(samples.sum(dtype="int64"))
                            * 1_000_000 // int(samples.size),
                            int(samples.max())))
            yield pd.DataFrame(
                out, columns=["media_id", "n_samples", "sample_rate",
                              "duration_ms", "mean_micro", "peak"])

    schema = ("media_id long, n_samples long, sample_rate int, "
              "duration_ms long, mean_micro long, peak int")
    return media.select("media_id", "payload").mapInPandas(
        batches, schema=schema)


def flac_media_from_documents(docs: DataFrame) -> DataFrame:
    """Encode each document as a REAL FLAC stream (round 17 late
    addition — the audio family's first COMPRESSED lossless
    container): sample s16 = v*257 - 32768 per cleaned-text codepoint
    v (the wav16/AIFF lane derivation, so the (s + 32768) >> 8 fold
    recovers v and sql_decode_wav stays the oracle), empty/NULL text
    one v=0 sample. Subframe kinds rotate per (doc_id + frame):
    VERBATIM / FIXED order 1 / FIXED order 2, with all-equal frames
    forced CONSTANT, odd frames split into 4 rice partitions, every
    third partition escape-coded raw, real CRC-8/CRC-16 everywhere,
    and the true MD5 of the sample stream in STREAMINFO;
    ``did % 3 == 0`` appends a PADDING metadata block and
    ``did % 5 == 0`` a VORBIS_COMMENT so the skip path runs at corpus
    scale. Built in mapInPandas (bit packing is not a Column
    expression)."""
    from .flac import encode_flac

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import re

        import numpy as np
        import pandas as pd

        strip = re.compile(r"[^a-z0-9 ]+")
        for pdf in it:
            out = []
            for did, text in zip(pdf["doc_id"].to_list(),
                                 pdf["text"].to_list()):
                clean = strip.sub("", (text or "").lower())
                v = np.frombuffer(clean.encode("ascii"),
                                  dtype=np.uint8).astype(np.int64)
                if v.size == 0:
                    v = np.zeros(1, dtype=np.int64)
                s = v * 257 - 32768
                kinds = (lambda f, d=did:
                         ("verbatim", "fixed1", "fixed2")[(d + f) % 3])
                out.append((did, bytearray(encode_flac(
                    s, WAV_RATE, padding=did % 3 == 0,
                    vorbis=did % 5 == 0, kinds=kinds))))
            yield pd.DataFrame(out, columns=["media_id", "payload"])

    return _fanout_docs(docs).select("doc_id", "text").mapInPandas(
        batches, schema="media_id long, payload binary")


def decode_flac(media: DataFrame) -> DataFrame:
    """REAL decode of FLAC payloads via mapInPandas — the decode_wav
    feature contract (sample count, rate, duration, mean level in
    micros, peak) over the frame walk / rice-residual / fixed-
    predictor reconstruction with CRC-8/CRC-16/MD5 verification, so
    the WAV oracle pins a THIRD audio container. Scalar columns only;
    payloads never shuffle; malformed payloads drop per row."""
    from .flac import _parse_flac

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in it:
            out = []
            for mid, payload in zip(pdf["media_id"].to_list(),
                                    pdf["payload"].to_list()):
                try:
                    rate, s16 = _parse_flac(bytes(payload))
                except ValueError:
                    continue  # malformed blob: drop the row
                if s16.size == 0:
                    continue
                samples = (s16 + 32768) >> 8
                out.append((mid, int(samples.size), rate,
                            int(samples.size) * 1000 // rate,
                            int(samples.sum(dtype="int64"))
                            * 1_000_000 // int(samples.size),
                            int(samples.max())))
            yield pd.DataFrame(
                out, columns=["media_id", "n_samples", "sample_rate",
                              "duration_ms", "mean_micro", "peak"])

    schema = ("media_id long, n_samples long, sample_rate int, "
              "duration_ms long, mean_micro long, peak int")
    return media.select("media_id", "payload").mapInPandas(
        batches, schema=schema)


def decode_wav(media: DataFrame) -> DataFrame:
    """REAL decode of RIFF/WAV payloads via mapInPandas: walk the
    chunk list, validate the PCM fmt (mono or stereo, 8- or 16-bit
    since round 15; 16-bit folds to the u8 feature domain, stereo
    downmixes (l + r) // 2 after the fold), and emit exact
    integer features per clip — sample count, rate, duration, mean
    level in micros, peak. Scalar columns only; payloads never
    shuffle; malformed payloads are dropped per row (the 100 TB
    contract)."""

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in it:
            out = []
            for mid, payload in zip(pdf["media_id"].to_list(),
                                    pdf["payload"].to_list()):
                try:
                    rate, samples = _parse_wav(bytes(payload))
                except ValueError:
                    continue  # malformed blob: drop the row
                if samples.size == 0:
                    continue
                out.append((mid, int(samples.size), rate,
                            int(samples.size) * 1000 // rate,
                            int(samples.sum(dtype="int64"))
                            * 1_000_000 // int(samples.size),
                            int(samples.max())))
            yield pd.DataFrame(
                out, columns=["media_id", "n_samples", "sample_rate",
                              "duration_ms", "mean_micro", "peak"])

    schema = ("media_id long, n_samples long, sample_rate int, "
              "duration_ms long, mean_micro long, peak int")
    return media.select("media_id", "payload").mapInPandas(
        batches, schema=schema)


def sql_decode_wav(table: str = "documents") -> str:
    """DuckDB twin of wav_media_from_documents >> decode_wav: rebuild
    the sample bytes arithmetically (codepoint == byte; one zero
    sample for empty text) and compute the same integer features."""
    clean = ("regexp_replace(lower(coalesce(text, '')),"
             " '[^a-z0-9 ]+', '', 'g')")
    return f"""
    WITH _wv_base AS (
      SELECT doc_id AS media_id, {clean} AS c,
             greatest(length({clean}), 1) AS n,
             length({clean}) AS raw_n
      FROM {table}
    )
    SELECT media_id, CAST(n AS BIGINT) AS n_samples,
           CAST({WAV_RATE} AS INTEGER) AS sample_rate,
           (CAST(n AS BIGINT) * 1000) // {WAV_RATE} AS duration_ms,
           (CAST(CASE WHEN raw_n = 0 THEN 0 ELSE list_aggregate(
              list_transform(generate_series(1, raw_n),
                i -> unicode(substr(c, CAST(i AS INTEGER), 1))),
              'sum') END AS BIGINT) * 1000000) // n AS mean_micro,
           CAST(CASE WHEN raw_n = 0 THEN 0 ELSE list_aggregate(
              list_transform(generate_series(1, raw_n),
                i -> unicode(substr(c, CAST(i AS INTEGER), 1))),
              'max') END AS INTEGER) AS peak
    FROM _wv_base
    """


FPHASH_GRID = 4        # per-frame aHash grid: 4x4 = 16-bit hash


def frame_phash_pgm(media: DataFrame,
                    every: int = FRAME_EVERY) -> DataFrame:
    """Per-frame perceptual hash over a concatenated-P5 stream: walk
    the stream (genuine parse, like frame_sample_pgm), and for every
    ``every``-th frame compute a 16-bit aHash — 4x4 integer resample
    of the frame raster, strict 16*p > total bit rule, LSB-first.
    Emits (media_id, frame_idx, fhash) scalars; unsampled frames are
    skipped by header arithmetic; malformed streams drop per row."""

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        g = FPHASH_GRID
        for pdf in it:
            out = []
            for mid, payload in zip(pdf["media_id"].to_list(),
                                    pdf["payload"].to_list()):
                try:
                    buf = bytes(payload)
                    fast = _p5_stream_rasters(buf)
                except ValueError:
                    continue  # malformed stream: drop the row
                if fast is not None:
                    w, h, rasters = fast
                    idxs = np.arange(0, len(rasters), every)
                    rows = (np.arange(g) * h) // g
                    cols = (np.arange(g) * w) // g
                    flat = (rows[:, None] * w + cols).ravel()
                    px = rasters[idxs][:, flat].astype("int64")
                    tot = px.sum(axis=1)
                    bits = (g * g * px) > tot[:, None]
                    fhs = bits @ (1 << np.arange(g * g, dtype="int64"))
                    out.extend((mid, int(fi), int(fh))
                               for fi, fh in zip(idxs, fhs))
                    continue
                try:
                    pos, idx, frames = 0, 0, []
                    while pos < len(buf):
                        w, h, raster, pos = _parse_p5_at(buf, pos)
                        if idx % every == 0:
                            img = raster.reshape(h, w)
                            rows = (np.arange(g) * h) // g
                            cols = (np.arange(g) * w) // g
                            px = img[np.ix_(rows, cols)].ravel()
                            total = int(px.sum(dtype="int64"))
                            fh = sum(1 << j for j in range(g * g)
                                     if g * g * int(px[j]) > total)
                            frames.append((idx, fh))
                        idx += 1
                except ValueError:
                    continue  # malformed stream: drop the row
                out.extend((mid, fi, fh) for fi, fh in frames)
            yield pd.DataFrame(
                out, columns=["media_id", "frame_idx", "fhash"])

    return media.select("media_id", "payload").mapInPandas(
        batches, schema="media_id long, frame_idx int, fhash int")


def sql_frame_phash(table_expr: str, every: int = FRAME_EVERY) -> str:
    """DuckDB twin of pgm_stream_from_documents >> frame_phash_pgm
    over the arithmetic frame bytes: same 4x4 sampling grid inside
    each frame, same strict 16*p > total rule, same LSB-first packing.
    ``table_expr`` must yield (media_id, c, n). Produces the CTE
    ``_fp`` with (media_id, frame_idx, fhash)."""
    fb = FRAME_W * FRAME_H
    g = FPHASH_GRID
    # flat in-frame offset of grid cell j: row (j//g)*(H//g), col
    # (j%g)*(W//g) — exact while the grid divides the frame dims
    # (8x8 frame / 4x4 grid: stride 2 both ways)
    off = (f"((j.j // {g}) * ({FRAME_H} // {g})) * {FRAME_W}"
           f" + (j.j % {g}) * ({FRAME_W} // {g})")
    return f"""
    _fp_base AS (
      SELECT media_id, c, n,
             greatest(CAST(ceil(n / {fb}.0) AS INTEGER), 1) AS nf
      FROM ({table_expr})
    ),
    _fp_px AS (
      SELECT media_id, f.f AS frame_idx, j.j AS j,
             CASE WHEN f.f * {fb} + {off} + 1 <= n
                  THEN unicode(substr(c,
                    CAST(f.f * {fb} + {off} + 1 AS INTEGER), 1))
                  ELSE 0 END AS p
      FROM _fp_base,
           LATERAL (SELECT unnest(generate_series(0, nf - 1)) AS f) f,
           (SELECT unnest(generate_series(0, {g * g - 1})) AS j) j
      WHERE f.f % {every} = 0
    ),
    _fp_tot AS (
      SELECT media_id, frame_idx, j, p,
             sum(p) OVER (PARTITION BY media_id, frame_idx) AS total
      FROM _fp_px
    ),
    _fp AS (
      SELECT media_id, CAST(frame_idx AS INTEGER) AS frame_idx,
             CAST(sum(CASE WHEN {g * g} * p > total
                      THEN (CAST(1 AS BIGINT) << CAST(j AS INTEGER))
                      ELSE 0 END) AS INTEGER) AS fhash
      FROM _fp_tot GROUP BY media_id, frame_idx
    )
    """


AFP_WINDOWS = 32       # energy windows -> 31-bit delta-sign fingerprint


def afp_wav(media: DataFrame) -> DataFrame:
    """Audio fingerprint of each RIFF/WAV payload — the time-domain
    variant of Haitsma & Kalker's robust audio hash (ISMIR 2002): the
    clip is split into {AFP_WINDOWS} equal sample windows (integer
    boundaries w*n//{AFP_WINDOWS}), and bit w is the SIGN of the
    energy difference E[w+1] > E[w] — level-shift-robust, 31 bits.
    The payload is genuinely parsed (the full RIFF walk) before
    fingerprinting; malformed clips drop per row. Emits
    (media_id, afp int) — the fingerprint is computed map-side next
    to the bytes, so audio near-dup joins ship 4-byte fingerprints,
    never waveforms."""

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        nb = AFP_WINDOWS
        for pdf in it:
            out = []
            for mid, payload in zip(pdf["media_id"].to_list(),
                                    pdf["payload"].to_list()):
                try:
                    _, samples = _parse_wav(bytes(payload))
                except ValueError:
                    continue  # malformed blob: drop the row
                n = int(samples.size)
                if n == 0:
                    continue
                bounds = [w * n // nb for w in range(nb + 1)]
                e = [int(samples[bounds[w]:bounds[w + 1]]
                         .sum(dtype="int64")) for w in range(nb)]
                fp = sum(1 << w for w in range(nb - 1)
                         if e[w + 1] > e[w])
                out.append((mid, fp))
            yield pd.DataFrame(out, columns=["media_id", "afp"])

    return media.select("media_id", "payload").mapInPandas(
        batches, schema="media_id long, afp int")


def sql_afp_wav(table_expr: str) -> str:
    """DuckDB twin of wav_media_from_documents >> afp_wav over the
    arithmetic samples (codepoint == byte; one zero sample for empty
    text): same integer window boundaries, same strict E[w+1] > E[w]
    sign rule, same LSB-first packing. ``table_expr`` must yield
    (media_id, c, n) with n >= 1 the padded sample count. Produces the
    CTE ``_af`` with (media_id, afp)."""
    nb = AFP_WINDOWS
    return f"""
    _af_e AS (
      SELECT media_id, w.w AS w,
             coalesce(CAST(list_aggregate(list_transform(
               generate_series(CAST(w.w * n // {nb} + 1 AS BIGINT),
                               CAST((w.w + 1) * n // {nb} AS BIGINT)),
               i -> CASE WHEN i <= length(c)
                    THEN unicode(substr(c, CAST(i AS INTEGER), 1))
                    ELSE 0 END), 'sum') AS BIGINT), 0) AS e
      FROM ({table_expr}),
           (SELECT unnest(generate_series(0, {nb - 1})) AS w) w
    ),
    _af AS (
      SELECT a.media_id,
             CAST(sum(CASE WHEN b.e > a.e
                  THEN (CAST(1 AS BIGINT) << CAST(a.w AS INTEGER))
                  ELSE 0 END) AS INTEGER) AS afp
      FROM _af_e a JOIN _af_e b
        ON b.media_id = a.media_id AND b.w = a.w + 1
      GROUP BY a.media_id
    )
    """


# Landmark fingerprint thresholds (round 17 — shift-invariant audio
# near-dup; Wang, "An Industrial-Strength Audio Search Algorithm",
# ISMIR 2003 is the landmark/peak-pair idea, here in the time domain):
AFP_LM_DF_CAP = 64     # drop hashes seen in > 64 docs (stop motifs)
AFP_LM_MIN_SHARED = 3  # a pair needs >= 3 shared rare hashes
AFP_LM_GAP_CAP = 31    # landmark gaps quantized to 5 bits


def afp_landmarks(media: DataFrame) -> DataFrame:
    """SHIFT-INVARIANT audio fingerprints — the landmark answer to
    afp_wav's measured weakness (its integer window boundaries are
    n-relative, so an appended suffix or prepended shift scatters the
    whole hash: 0/40 recall, documented since r12). Each clip's
    LANDMARKS are strict local maxima over a +/-2 sample window; every
    THREE consecutive landmarks hash as (v1, v2, v3, gap12, gap21)
    packed into 34 bits — positions appear only as GAPS, so the hash
    set of an unchanged region is invariant under any time shift.
    Emits one row per distinct hash per clip (media_id, h) —
    fingerprints are computed map-side next to the waveform bytes and
    only the ~n/5 8-byte hashes shuffle, never samples. Malformed
    clips drop per row."""

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        g = AFP_LM_GAP_CAP
        for pdf in it:
            out_mid: list = []
            out_h: list = []
            for mid, payload in zip(pdf["media_id"].to_list(),
                                    pdf["payload"].to_list()):
                try:
                    _, samples = _parse_wav(bytes(payload))
                except ValueError:
                    continue  # malformed blob: drop the row
                v = samples.astype(np.int64)
                if v.size < 5:
                    continue
                c = v[2:-2]
                is_lm = ((c > v[1:-3]) & (c > v[:-4])
                         & (c > v[3:-1]) & (c > v[4:]))
                pos = np.flatnonzero(is_lm) + 2
                if pos.size < 3:
                    continue
                val = v[pos]
                v1, v2, v3 = val[:-2], val[1:-1], val[2:]
                d1 = np.minimum(pos[1:-1] - pos[:-2], g)
                d2 = np.minimum(pos[2:] - pos[1:-1], g)
                hs = np.unique(
                    (((v1 * 256 + v2) * 256 + v3) * 32 + d1) * 32 + d2)
                out_mid.extend([mid] * hs.size)
                out_h.extend(hs.tolist())
            yield pd.DataFrame({"media_id": out_mid, "h": out_h})

    return media.select("media_id", "payload").mapInPandas(
        batches, schema="media_id long, h long")


def sql_audio_dedup_shift(table: str = "documents") -> str:
    """DuckDB twin of the shift-invariant audio near-dup pipeline
    (corpus build + wav encode + afp_landmarks + DF filter + pair
    join): rebuild the samples arithmetically (codepoint == byte),
    find the same strict local maxima, hash the same landmark
    trigrams, drop hashes with document frequency > AFP_LM_DF_CAP,
    and keep pairs sharing >= AFP_LM_MIN_SHARED hashes that cover at
    least half of the smaller fingerprint."""
    def u(e: str) -> str:
        return f"unicode(substr(c, CAST({e} AS INTEGER), 1))"

    lm = (f"{u('i')} > {u('i-1')} AND {u('i')} > {u('i-2')}"
          f" AND {u('i')} > {u('i+1')} AND {u('i')} > {u('i+2')}")
    g = AFP_LM_GAP_CAP
    tri = (f"(((({u('lms[k]')} * 256 + {u('lms[k+1]')}) * 256"
           f" + {u('lms[k+2]')}) * 32)"
           f" + least(lms[k+1] - lms[k], {g})) * 32"
           f" + least(lms[k+2] - lms[k+1], {g})")
    clean = ("regexp_replace(lower(coalesce(text, '')),"
             " '[^a-z0-9 ]+', '', 'g')")
    return f"""
    WITH _sa_raw AS (
      SELECT doc_id, {clean} AS c FROM {table}
      UNION ALL
      SELECT doc_id + 20000, {clean} || ' qq shifted suffix block qq'
      FROM {table} WHERE doc_id < 40
      UNION ALL
      SELECT doc_id + 40000, 'zz prefix shift zz ' || {clean}
      FROM {table} WHERE doc_id < 40
    ),
    _sa_lm AS (
      SELECT doc_id, c,
             list_filter(generate_series(3, length(c) - 2),
                         i -> {lm}) AS lms
      FROM _sa_raw
    ),
    _sa_tri AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(lms) - 2),
                                   k -> {tri})) AS h
      FROM _sa_lm
    ),
    _sa_fp AS (SELECT DISTINCT doc_id, h FROM _sa_tri),
    _sa_df AS (SELECT h FROM _sa_fp GROUP BY h
               HAVING count(*) <= {AFP_LM_DF_CAP}),
    _sa_keep AS (SELECT f.doc_id, f.h
                 FROM _sa_fp f JOIN _sa_df d USING (h)),
    _sa_cnt AS (SELECT doc_id, count(*) AS cnt FROM _sa_keep
                GROUP BY doc_id),
    _sa_pair AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             count(*) AS shared
      FROM _sa_keep a JOIN _sa_keep b
        ON b.h = a.h AND b.doc_id > a.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, CAST(shared AS BIGINT) AS shared
    FROM _sa_pair p
    JOIN _sa_cnt ca ON ca.doc_id = p.doc_a
    JOIN _sa_cnt cb ON cb.doc_id = p.doc_b
    WHERE shared >= {AFP_LM_MIN_SHARED}
      AND 2 * shared >= least(ca.cnt, cb.cnt)
    """


# ---------------------------------------------------------------------------
# Compressed-codec media: baseline JPEG (round 13). The builder encodes
# each document as a REAL baseline JPEG of block-constant 8x8 tiles
# (one tile per cleaned character, unit quant tables), which any JPEG
# reader opens; decode_jpeg runs the full T.81 baseline decode path
# (markers, canonical Huffman, dequant, zigzag, IDCT) and recovers the
# tile values EXACTLY — DC-only blocks are lossless — so the DuckDB
# oracle can compute the identical features straight from the text.
# The decoder itself handles arbitrary baseline JPEGs (AC coefficients,
# 4:2:0/4:2:2/4:4:4 color) and is cross-validated against an
# independent encoder in tests/test_jpeg.py.
# ---------------------------------------------------------------------------

JPEG_BLOCKS_W = 16     # tiles per row -> 128 px wide images
JPEG_BANDS = 8         # feature bands over the tile sequence
# Cleaned-text cap for the python-encoded raster builders, mirrored as
# a substring() in their oracles: bounds every downstream dimension
# (the JPEG tile grid must stay under the 65535-px SOF limit, the PNG
# raster under the decoder's 2^26 allocation cap) so one giant
# document can neither kill the encode stage nor diverge the engines.
RASTER_MAX_CHARS = 65536


def _fanout_docs(docs: DataFrame) -> DataFrame:
    """Repartition the documents input to the session parallelism
    before a python-codec mapInPandas builder (the rationale below in
    ``_raster_media_from_documents``): the sf corpora are single
    parquet files — one partition — which serialized the whole
    encode+decode python pipeline of the GIF-anim/ADPCM/AIFF/FLAC
    lanes onto one core; mapInPandas inherits its input's
    partitioning, so the decode stage was single-task too. Applied to
    the EXPENSIVE python lanes only (raster/JPEG, GIF-anim, ADPCM,
    AIFF, FLAC) — for the cheap numpy WAV encodes the shuffle costs
    more than the fan-out saves (wav16 measured 0.47 -> 0.72 s with
    it). Corpus-builder harness cost either way — a real ingest
    arrives already partitioned."""
    return docs.repartition(
        docs.sparkSession.sparkContext.defaultParallelism)


# the raster builders' text clean ([a-z0-9 ], lowercased), in lockstep
# with every raster oracle
_CLEAN_RE = re.compile(r"[^a-z0-9 ]+")


def _text_grid(clean: str, width: int) -> "np.ndarray":
    """Cap cleaned text at RASTER_MAX_CHARS and zero-pad it into a
    [rows, width] uint8 grid of at least one row."""
    clean = clean[:RASTER_MAX_CHARS]
    n = len(clean)
    raster = np.zeros(max(-(-n // width), 1) * width, dtype=np.uint8)
    raster[:n] = np.frombuffer(clean.encode("ascii"), dtype=np.uint8)
    return raster.reshape(-1, width)


def _raster_media_from_documents(docs: DataFrame, width: int,
                                 encode_fn,
                                 with_id: bool = False) -> DataFrame:
    """Shared python-codec corpus builder (JPEG + PNG): clean the text
    ([a-z0-9 ], lowercased — in lockstep with every raster oracle),
    cap at RASTER_MAX_CHARS, zero-pad to ``width``-cell rows, and hand
    the [rows, width] uint8 grid to ``encode_fn`` (with the doc_id as
    a second argument when ``with_id`` — for builders that vary the
    container encoding deterministically per document, e.g. the
    palette builder interlacing every other PNG). One builder, so the
    cleaning rule cannot drift between codecs.

    The input is repartitioned to the session parallelism first
    (``_fanout_docs`` at the return): the sf corpora are single
    parquet files (one partition), which would serialize the whole
    python encode+decode pipeline onto one core — this is the corpus
    BUILDER, so the one extra shuffle is test harness cost, not a
    decode-path cost (a real ingest arrives already partitioned)."""

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in it:
            out = []
            for did, text in zip(pdf["doc_id"].to_list(),
                                 pdf["text"].to_list()):
                grid = _text_grid(_CLEAN_RE.sub("", (text or "").lower()),
                                  width)
                payload = (encode_fn(grid, did) if with_id
                           else encode_fn(grid))
                out.append((did, bytearray(payload)))
            yield pd.DataFrame(out, columns=["media_id", "payload"])

    return _fanout_docs(docs).select("doc_id", "text").mapInPandas(
        batches, schema="media_id long, payload binary")


def jpeg_media_from_documents(docs: DataFrame) -> DataFrame:
    """Encode each document as a baseline grayscale JPEG: one
    block-constant 8x8 tile per cleaned character (the PGM builder's
    raster, JPEG-compressed for real), width JPEG_BLOCKS_W tiles,
    zero-padded final row; empty/NULL text becomes one black tile
    row. Encoding is a Pandas-batched python pass (Huffman bitstreams
    are not Column expressions); payloads are genuine JPEGs. See
    ``_raster_media_from_documents`` for the shared clean/cap/pad
    contract."""
    from .jpeg import encode_dc_jpeg

    return _raster_media_from_documents(docs, JPEG_BLOCKS_W,
                                        encode_dc_jpeg)


def jpeg_progressive_media_from_documents(docs: DataFrame) -> DataFrame:
    """Encode each document as a PROGRESSIVE grayscale JPEG (round 15)
    of the same block-constant tile grid as jpeg_media_from_documents:
    six scans — DC first at point transform 4, four one-bit DC
    refinements, an all-EOB-run AC scan (functions/jpeg_progressive.py
    encode_dc_jpeg_progressive). Every ODD doc_id additionally carries
    a DRI/RSTn restart structure (interval 3 — round 16: real encoders
    emit progressive + restarts together, so the corpus pins predictor
    and EOB-run resets in every scan kind at scale). DC reconstruction
    is bit-exact either way, so the decoded features equal the
    baseline corpus's and sql_decode_jpeg stays the oracle."""
    from .jpeg_progressive import encode_dc_jpeg_progressive

    def enc(grid, did):
        return encode_dc_jpeg_progressive(
            grid, restart_interval=3 if did % 2 else 0)

    return _raster_media_from_documents(docs, JPEG_BLOCKS_W, enc,
                                        with_id=True)


def decode_jpeg(media: DataFrame, progressive: bool = False) -> DataFrame:
    """REAL baseline-JPEG decode via mapInPandas: full T.81 decode of
    each payload, then integer band features over the 8x8-tile grid
    (the luma plane sampled at tile centers — exact for the
    block-constant corpus, well-defined for any JPEG): one scalar row
    per (media_id, band), feat_micro = (band tile sum * 1e6) //
    band_len. Malformed payloads drop per row (the 100 TB contract);
    payloads never shuffle. ``progressive`` selects the SOF0/SOF2
    dispatching decoder (decode_jpeg_any) so baseline AND progressive
    payloads decode through one entry point (round 15)."""
    if progressive:
        from .jpeg_progressive import decode_jpeg_any as decode
    else:
        from .jpeg import decode_baseline_jpeg as decode

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        for pdf in it:
            out = []
            for mid, payload in zip(pdf["media_id"].to_list(),
                                    pdf["payload"].to_list()):
                try:
                    w, h, plane = decode(bytes(payload))
                except ValueError:
                    continue  # malformed blob: drop the row
                tiles = plane[4::8, 4::8].astype(np.int64).ravel()
                band_len = tiles.size // JPEG_BANDS
                if band_len == 0:
                    continue
                sums = tiles[:band_len * JPEG_BANDS].reshape(
                    JPEG_BANDS, band_len).sum(axis=1)
                for b, s in enumerate(sums):
                    out.append((mid, w, h, b,
                                int(s) * 1_000_000 // band_len))
            yield pd.DataFrame(
                out, columns=["media_id", "width", "height", "band",
                              "feat_micro"])

    schema = ("media_id long, width int, height int, band int, "
              "feat_micro long")
    return media.select("media_id", "payload").mapInPandas(
        batches, schema=schema)


def sql_decode_jpeg(table: str = "documents") -> str:
    """DuckDB twin of jpeg_media_from_documents >> decode_jpeg: the
    encode->decode pipeline is EXACT on block-constant tiles, so the
    tile grid equals the cleaned text bytes (0-padded, capped at
    RASTER_MAX_CHARS exactly as the builder caps) and the band
    features are pure integer arithmetic over the text."""
    clean = ("substring(regexp_replace(lower(coalesce(text, '')),"
             f" '[^a-z0-9 ]+', '', 'g'), 1, {RASTER_MAX_CHARS})")
    w = JPEG_BLOCKS_W
    nb = JPEG_BANDS
    return f"""
    WITH _jp_base AS (
      SELECT doc_id AS media_id, {clean} AS c,
             length({clean}) AS n,
             greatest(CAST(ceil(length({clean}) / {w}.0)
                           AS INTEGER), 1) AS hb
      FROM {table}
    ),
    _jp_band AS (
      SELECT media_id, hb, c, n,
             ({w} * hb) // {nb} AS band_len,
             unnest(generate_series(0, {nb - 1})) AS band
      FROM _jp_base
    )
    SELECT media_id, CAST({w} * 8 AS INTEGER) AS width,
           CAST(hb * 8 AS INTEGER) AS height,
           CAST(band AS INTEGER) AS band,
           (CAST(list_aggregate(list_transform(
              generate_series(1, band_len),
              i -> CASE WHEN band * band_len + i <= n
                   THEN unicode(substr(c,
                     CAST(band * band_len + i AS INTEGER), 1))
                   ELSE 0 END), 'sum') AS BIGINT)
            * 1000000) // band_len AS feat_micro
    FROM _jp_band
    """


def phash_jpeg(media: DataFrame) -> DataFrame:
    """Perceptual average-hash of each baseline-JPEG payload: the FULL
    T.81 decode (functions/jpeg.py), then the same aHash as phash_pgm
    over the 8x8-TILE grid (tile values sampled at tile centers —
    exact for the block-constant corpus): integer resample grid
    src = (dst * size) // 8, strict 64*p > total bit rule, LSB-first
    int64 packing. Malformed payloads drop per row; payloads never
    shuffle — only 8-byte hashes do."""
    from .jpeg import decode_baseline_jpeg

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        side = PHASH_SIDE
        for pdf in it:
            out = []
            for mid, payload in zip(pdf["media_id"].to_list(),
                                    pdf["payload"].to_list()):
                try:
                    _w, _h, plane = decode_baseline_jpeg(bytes(payload))
                except ValueError:
                    continue
                img = plane[4::8, 4::8].astype("int64")
                h, w = img.shape
                rows = (np.arange(side) * h) // side
                cols = (np.arange(side) * w) // side
                px = img[np.ix_(rows, cols)].ravel()
                total = int(px.sum())
                bits = (px * 64) > total
                ph = int.from_bytes(
                    np.packbits(bits, bitorder="little").tobytes(),
                    "little", signed=True)
                out.append((mid, ph))
            yield pd.DataFrame(out, columns=["media_id", "phash"])

    return media.select("media_id", "payload").mapInPandas(
        batches, schema="media_id long, phash long")


# -- PNG codec path (round 13) -----------------------------------------------
#
# PNG is LOSSLESS (zlib is stdlib — no codec lib needed), so the
# decode features of ANY raster are oracle-checkable, not just
# block-constant ones: the builder reuses the PGM raster layout (one
# byte per cleaned char, width PGM_WIDTH, zero-padded) compressed
# into a real 8-bit grayscale PNG, and the decoded band features are
# IDENTICAL to decode_pgm's over the capped text — the oracle is
# sql_decode_pgm with the same RASTER_MAX_CHARS substring, while the
# Spark side exercises a genuinely different codec (chunk walk, CRCs,
# inflate, filter reconstruction).

def png_media_from_documents(docs: DataFrame) -> DataFrame:
    """Encode each document as a real 8-bit grayscale PNG of the PGM
    raster layout (width PGM_WIDTH, zero-padded final row; empty/NULL
    text becomes one black row). zlib compression is a python pass
    (mapInPandas). See ``_raster_media_from_documents`` for the shared
    clean/cap/pad contract."""
    from .png import encode_png_gray

    return _raster_media_from_documents(docs, PGM_WIDTH,
                                        encode_png_gray)


# Truecolor channel derivations (round 14): deterministic per-byte
# functions of the grayscale cell value v (padding cells are v=0), so
# the DuckDB oracle recomputes every channel from the cleaned text.
# R = v; G = 255 - v (padding -> 255); B = (v * 37) % 256 (the modulo
# genuinely binds: 'z' * 37 = 4514).
def _rgb_channels(v: "np.ndarray") -> "np.ndarray":
    import numpy as np

    return np.stack([v, 255 - v, (v * 37) % 256], axis=-1).astype(
        np.uint8)


def png_rgb_media_from_documents(docs: DataFrame) -> DataFrame:
    """Encode each document as a real 8-bit TRUECOLOR PNG: the PGM
    raster layout provides the luma grid, and the three channels are
    the deterministic derivations above. Same clean/cap/pad contract
    as every raster builder (_raster_media_from_documents)."""
    from .png import encode_png_rgb

    return _raster_media_from_documents(
        docs, PGM_WIDTH,
        lambda grid: encode_png_rgb(
            _rgb_channels(grid.astype("int64"))))


def _rgb_png_features(media: DataFrame, decoder_name: str,
                      module: str = "png") -> DataFrame:
    """Shared feature extractor for the RGB-raster PNG decoders
    (truecolor + palette): decode each payload with the named
    functions.png decoder, then per-CHANNEL integer band features over
    the recovered [h, w, 3] raster (one scalar row per (media_id,
    channel, band) — the driver canonicalizer needs scalars).
    Malformed payloads drop per row; payloads never shuffle."""

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        import importlib

        mod = importlib.import_module(f"{__package__}.{module}")
        decode = getattr(mod, decoder_name)
        for pdf in it:
            out = []
            for mid, payload in zip(pdf["media_id"].to_list(),
                                    pdf["payload"].to_list()):
                try:
                    w, h, raster = decode(bytes(payload))
                except ValueError:
                    continue  # malformed blob: drop the row
                band_len = (w * h) // PGM_BANDS
                if band_len == 0:
                    continue
                for ch in range(3):
                    flat = raster[:, :, ch].ravel().astype("int64")
                    sums = flat[:band_len * PGM_BANDS].reshape(
                        PGM_BANDS, band_len).sum(axis=1)
                    for b, s in enumerate(sums):
                        out.append((mid, w, h, ch, b,
                                    int(s) * 1_000_000 // band_len))
            yield pd.DataFrame(
                out, columns=["media_id", "width", "height", "channel",
                              "band", "feat_micro"])

    schema = ("media_id long, width int, height int, channel int, "
              "band int, feat_micro long")
    return media.select("media_id", "payload").mapInPandas(
        batches, schema=schema)


def decode_png_rgb_features(media: DataFrame) -> DataFrame:
    """REAL truecolor PNG decode via mapInPandas — chunk walk with CRC
    checks, inflate, per-scanline filter reconstruction with 3-byte
    pixel taps — then per-channel band features (see
    ``_rgb_png_features``)."""
    return _rgb_png_features(media, "decode_png_rgb")


def decode_png_palette_features(media: DataFrame) -> DataFrame:
    """REAL palette PNG decode via mapInPandas — chunk walk with CRC
    checks, PLTE capture, inflate, filter reconstruction (Adam7 passes
    de-interlaced when the header says so), index->RGB palette lookup
    — then the same per-channel band features as the truecolor path
    (``_rgb_png_features``): the palette is built so indexed colors
    EQUAL the truecolor derivations, making the two entries share one
    oracle while exercising disjoint container paths."""
    return _rgb_png_features(media, "decode_png_palette")


def png_palette_media_from_documents(docs: DataFrame) -> DataFrame:
    """Encode each document as a real 8-bit PALETTE PNG (color type 3,
    round 15): the PLTE holds 256 entries where entry v = (v, 255 - v,
    (v*37) % 256) — exactly the truecolor channel derivations — and
    the index raster is the PGM text grid, so the decoded RGB equals
    png_rgb_media_from_documents' and sql_decode_png_rgb stays the
    oracle. Every ODD doc_id is Adam7-INTERLACED (deterministic, so
    both container layouts are exercised at corpus scale; interlace is
    lossless, so the oracle is unaffected). Same clean/cap/pad
    contract as every raster builder."""
    from .png import encode_png_palette

    def enc(grid, did):
        import numpy as np

        pal = _rgb_channels(np.arange(256, dtype=np.int64))
        return encode_png_palette(grid, pal, interlace=bool(did % 2))

    return _raster_media_from_documents(docs, PGM_WIDTH, enc,
                                        with_id=True)


# Alpha derivation for the RGBA corpus (round 16): one more
# deterministic per-byte function of the grayscale cell value v, so
# the DuckDB oracle recomputes it from the cleaned text like the RGB
# channels. A = (v*29 + 3) % 256 — padding cells (v=0) get A=3,
# nearly transparent, so the composite genuinely binds on padding.
def _alpha_channel(v: "np.ndarray") -> "np.ndarray":
    import numpy as np

    return ((v * 29 + 3) % 256).astype(np.uint8)


def composite_over_white(c: "np.ndarray", a: "np.ndarray") -> "np.ndarray":
    """THE engine's alpha-composite rule (documented contract): fold a
    straight-alpha channel into the RGB feature domain by compositing
    over a WHITE background in exact integer arithmetic —
    out = (c*a + 255*(255 - a) + 127) // 255, i.e. round-half-up of
    the real-valued source-over blend. Integer-exact, so the DuckDB
    oracle reproduces it verbatim; white because crawl renderers
    rasterize on white and it maximally exposes transparent-padding
    bugs (a black background would map transparent padding to the
    padding value 0 and hide them)."""
    import numpy as np

    c = c.astype(np.int64)
    a = a.astype(np.int64)
    return ((c * a + 255 * (255 - a) + 127) // 255).astype(np.uint8)


def png_rgba_media_from_documents(docs: DataFrame) -> DataFrame:
    """Encode each document as a real 8-bit RGBA PNG (color type 6 —
    the dominant modern-web profile): RGB = the truecolor channel
    derivations, A = _alpha_channel; every ODD doc_id is
    Adam7-interlaced (4-byte pixel taps per pass). Same clean/cap/pad
    contract as every raster builder."""
    from .png import encode_png_rgba

    def enc(grid, did):
        import numpy as np

        v = grid.astype("int64")
        rgba = np.concatenate(
            [_rgb_channels(v), _alpha_channel(v)[..., None]], axis=-1)
        return encode_png_rgba(rgba, interlace=bool(did % 2))

    return _raster_media_from_documents(docs, PGM_WIDTH, enc,
                                        with_id=True)


def decode_png_rgba_features(media: DataFrame,
                             decoder_name: str = "decode_png_rgba",
                             ) -> DataFrame:
    """REAL RGBA-raster PNG decode via mapInPandas — chunk walk with
    CRC checks, inflate, filter reconstruction, Adam7 de-interlace —
    then per-channel band features where channels 0-2 are the RGB
    COMPOSITED OVER WHITE (composite_over_white, the documented rule)
    and channel 3 is the raw alpha. ``decoder_name`` selects any
    functions.png decoder returning [h, w, 4] (truecolor-alpha or
    palette+tRNS — the two container paths share this extractor AND
    one oracle). Malformed payloads drop per row; payloads never
    shuffle."""

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        from . import png as png_mod

        decode_png_rgba = getattr(png_mod, decoder_name)
        for pdf in it:
            out = []
            for mid, payload in zip(pdf["media_id"].to_list(),
                                    pdf["payload"].to_list()):
                try:
                    w, h, raster = decode_png_rgba(bytes(payload))
                except ValueError:
                    continue  # malformed blob: drop the row
                band_len = (w * h) // PGM_BANDS
                if band_len == 0:
                    continue
                alpha = raster[:, :, 3]
                for ch in range(4):
                    plane = (alpha if ch == 3 else composite_over_white(
                        raster[:, :, ch], alpha))
                    flat = plane.ravel().astype("int64")
                    sums = flat[:band_len * PGM_BANDS].reshape(
                        PGM_BANDS, band_len).sum(axis=1)
                    for b, s in enumerate(sums):
                        out.append((mid, w, h, ch, b,
                                    int(s) * 1_000_000 // band_len))
            yield pd.DataFrame(
                out, columns=["media_id", "width", "height", "channel",
                              "band", "feat_micro"])

    schema = ("media_id long, width int, height int, channel int, "
              "band int, feat_micro long")
    return media.select("media_id", "payload").mapInPandas(
        batches, schema=schema)


def gif_anim_media_from_documents(docs: DataFrame) -> DataFrame:
    """Encode each document as an ANIMATED GIF89a (round 16): the
    cleaned text splits into FRAME_W x FRAME_H frames (zero-padded
    final frame; empty/NULL text = one black frame — the exact layout
    of the P5 video stream, so sql_frame_sample stays the oracle),
    each frame a full-rect image block with its own Graphic Control
    Extension, LZW-coded against the 256-entry IDENTITY-GRAY global
    table (entry v = (v, v, v) — channel 0 of a decoded pixel IS the
    text byte). Built in mapInPandas (LZW is not a Column
    expression)."""
    from .gif import encode_gif_anim

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import re

        import numpy as np
        import pandas as pd

        strip = re.compile(r"[^a-z0-9 ]+")
        fb = FRAME_W * FRAME_H
        pal = np.stack([np.arange(256, dtype=np.uint8)] * 3, axis=1)
        for pdf in it:
            out = []
            for did, text in zip(pdf["doc_id"].to_list(),
                                 pdf["text"].to_list()):
                clean = strip.sub("", (text or "").lower())
                v = np.frombuffer(clean.encode("ascii"),
                                  dtype=np.uint8)
                nf = max(-(-v.size // fb), 1)
                padded = np.zeros(nf * fb, dtype=np.uint8)
                padded[:v.size] = v
                frames = padded.reshape(nf, FRAME_H, FRAME_W)
                out.append((did,
                            bytearray(encode_gif_anim(frames, pal))))
            yield pd.DataFrame(out, columns=["media_id", "payload"])

    return _fanout_docs(docs).select("doc_id", "text").mapInPandas(
        batches, schema="media_id long, payload binary")


def gif_frame_sample(media: DataFrame,
                     every: int = FRAME_EVERY) -> DataFrame:
    """Frame sampling over animated GIFs: walk the block grammar,
    LZW-decode ONLY every ``every``-th frame (unsampled frames skip by
    sub-block length walking, never entering the entropy coder — the
    sparse-decode property, ~k x cheaper at sample rate 1/k), and emit
    each sampled frame's exact integer mean over channel 0 (the
    identity-gray table makes that the text-byte mean, pinning LZW +
    block walk + palette against sql_frame_sample). Malformed streams
    drop per row; payloads never shuffle."""

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        from .gif import decode_gif_frames

        fb = FRAME_W * FRAME_H
        for pdf in it:
            out = []
            for mid, payload in zip(pdf["media_id"].to_list(),
                                    pdf["payload"].to_list()):
                try:
                    w, h, nf, frames = decode_gif_frames(
                        bytes(payload), every)
                except ValueError:
                    continue  # malformed stream: drop the row
                for fi, raster in frames:
                    mean = (int(raster[:, :, 0].astype("int64").sum())
                            * 1_000_000 // fb)
                    out.append((mid, fi, nf, w, h, mean))
            yield pd.DataFrame(
                out, columns=["media_id", "frame_idx", "n_frames",
                              "width", "height", "mean_micro"])

    schema = ("media_id long, frame_idx int, n_frames int, "
              "width int, height int, mean_micro long")
    return media.select("media_id", "payload").mapInPandas(
        batches, schema=schema)


def gif_anim_delta_media_from_documents(docs: DataFrame) -> DataFrame:
    """Encode each document as a DELTA-CODED animated GIF89a
    (round 17 — the dominant wild animated-GIF profile): the same
    FRAME_W x FRAME_H text-grid frame layout as
    gif_anim_media_from_documents (so sql_frame_sample stays the
    oracle), but after frame 0 each image block covers only the
    bounding rectangle of changed pixels, unchanged pixels inside the
    rect are the GCE-transparent index (compositing passthrough),
    odd frames carry a permuted LOCAL color table, every 5th frame
    disposes restore-to-background, and a NETSCAPE2.0 loop extension
    precedes the frames. Built in mapInPandas (LZW is not a Column
    expression)."""
    from .gif import encode_gif_anim_delta

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import re

        import numpy as np
        import pandas as pd

        strip = re.compile(r"[^a-z0-9 ]+")
        fb = FRAME_W * FRAME_H
        pal = np.stack([np.arange(256, dtype=np.uint8)] * 3, axis=1)
        for pdf in it:
            out = []
            for did, text in zip(pdf["doc_id"].to_list(),
                                 pdf["text"].to_list()):
                clean = strip.sub("", (text or "").lower())
                v = np.frombuffer(clean.encode("ascii"),
                                  dtype=np.uint8)
                nf = max(-(-v.size // fb), 1)
                padded = np.zeros(nf * fb, dtype=np.uint8)
                padded[:v.size] = v
                frames = padded.reshape(nf, FRAME_H, FRAME_W)
                out.append((did, bytearray(
                    encode_gif_anim_delta(frames, pal))))
            yield pd.DataFrame(out, columns=["media_id", "payload"])

    return _fanout_docs(docs).select("doc_id", "text").mapInPandas(
        batches, schema="media_id long, payload binary")


def gif_frame_composite(media: DataFrame,
                        every: int = FRAME_EVERY) -> DataFrame:
    """Composited frame sampling over delta-coded animated GIFs:
    walk the block grammar, COMPOSITE every frame onto the logical
    screen (partial rects, transparency passthrough, LCT precedence,
    disposal 0-3 — functions/gif.py decode_gif_frames_composited),
    and emit each sampled frame's exact integer mean over channel 0
    of the FULL canvas — which equals the target text-grid frame, so
    sql_frame_sample stays the oracle. Unlike the full-rect sampler,
    every frame's LZW must run (a composited frame depends on all
    prior draws/disposals — the honesty note on the decoder); the
    saving at sample rate 1/k is only the snapshot copies. Malformed
    streams drop per row; payloads never shuffle."""

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        from .gif import decode_gif_frames_composited

        fb = FRAME_W * FRAME_H
        for pdf in it:
            out = []
            for mid, payload in zip(pdf["media_id"].to_list(),
                                    pdf["payload"].to_list()):
                try:
                    w, h, nf, frames = decode_gif_frames_composited(
                        bytes(payload), every)
                except ValueError:
                    continue  # malformed stream: drop the row
                for fi, canvas in frames:
                    mean = (int(canvas[:, :, 0].astype("int64").sum())
                            * 1_000_000 // fb)
                    out.append((mid, fi, nf, w, h, mean))
            yield pd.DataFrame(
                out, columns=["media_id", "frame_idx", "n_frames",
                              "width", "height", "mean_micro"])

    schema = ("media_id long, frame_idx int, n_frames int, "
              "width int, height int, mean_micro long")
    return media.select("media_id", "payload").mapInPandas(
        batches, schema=schema)


def gif_media_from_documents(docs: DataFrame) -> DataFrame:
    """Encode each document as a single-frame GIF89a (round 16): the
    256-entry global color table holds the truecolor channel
    derivations (entry v = (v, 255 - v, (v*37) % 256)) and the index
    raster is the PGM text grid, so the decoded RGB equals the
    truecolor/palette PNG corpora's and sql_decode_png_rgb stays the
    oracle — while the container path is GIF block grammar + REAL
    variable-width LZW (dictionary growth, width bumps, clear/reset
    cycles at 4096). Every ODD doc_id uses the 4-pass GIF interlace.
    Same clean/cap/pad contract as every raster builder."""
    from .gif import encode_gif

    def enc(grid, did):
        import numpy as np

        pal = _rgb_channels(np.arange(256, dtype=np.int64))
        return encode_gif(grid, pal, interlace=bool(did % 2))

    return _raster_media_from_documents(docs, PGM_WIDTH, enc,
                                        with_id=True)


def bmp_media_from_documents(docs: DataFrame) -> DataFrame:
    """Encode each document as a Windows BMP (round 17 late addition —
    a container with NO entropy coder: fixed headers, BGR byte order,
    bottom-up rows, 4-byte stride padding, optional RLE8). Three
    profiles rotate by doc_id so one entry prices every decode path:
    ``did % 3 == 0`` a 24-bit BI_RGB raster of the truecolor channel
    derivations; ``did % 3 == 1`` an 8-bit BI_RLE8 palettized raster
    (encoded runs + absolute-mode stretches + word padding);
    ``did % 3 == 2`` an 8-bit uncompressed palettized raster — with
    TOP-DOWN row order (negative biHeight) on odd doc_ids of the
    BI_RGB profiles. All three decode to the same RGB as the
    PNG-truecolor/palette/GIF corpora, so sql_decode_png_rgb stays the
    oracle and a stride-padding, BGR-swap, row-order, or RLE bug flips
    the hash. Same clean/cap/pad contract as every raster builder."""
    from .bmp import encode_bmp_pal8, encode_bmp_rgb24, encode_bmp_rle8

    def enc(grid, did):
        import numpy as np

        if did % 3 == 0:
            return encode_bmp_rgb24(_rgb_channels(grid.astype("int64")),
                                    topdown=bool(did % 2))
        pal = _rgb_channels(np.arange(256, dtype=np.int64))
        if did % 3 == 1:
            return encode_bmp_rle8(grid, pal)
        return encode_bmp_pal8(grid, pal, topdown=bool(did % 2))

    return _raster_media_from_documents(docs, PGM_WIDTH, enc,
                                        with_id=True)


ICO_MAX_ROWS = 256  # ICONDIRENTRY dimensions are u8 (0 means 256)
ICO_MAX_CHARS = ICO_MAX_ROWS * PGM_WIDTH


def ico_media_from_documents(docs: DataFrame) -> DataFrame:
    """Encode each document as a Windows ICO (round 17 late addition —
    the first DIRECTORY-shaped container: ICONDIR + per-image entries
    + headerless DIBs or embedded PNGs). Three image profiles rotate
    by doc_id so one entry prices every dispatch path:
    ``did % 3 == 0`` an embedded truecolor PNG (the Vista-era
    PNG-in-ICO convention — signature dispatch + the full PNG lane);
    ``did % 3 == 1`` an 8-bit palettized DIB (doubled biHeight,
    BGRA palette, bottom-up XOR rows, opaque AND mask);
    ``did % 3 == 2`` a 24-bit BGR DIB. Every ODD doc_id adds a 1x1
    24-bit DECOY entry FIRST so the largest-image selection rule is
    exercised at corpus scale (the decoy loses to every real raster).
    The raster is the standard text grid CAPPED AT 256 ROWS
    (ICONDIRENTRY dimensions are u8), so sql_decode_png_rgb with
    cap=ICO_MAX_CHARS stays the oracle and a dispatch, doubled-height,
    mask, palette, or selection bug flips only this hash."""
    from .ico import encode_ico
    from .png import encode_png_rgb

    def enc(grid, did):
        import numpy as np

        grid = grid[:ICO_MAX_ROWS]
        h, w = grid.shape
        if did % 3 == 0:
            rgb = _rgb_channels(grid.astype("int64"))
            img = ("png", encode_png_rgb(rgb), w, h)
        elif did % 3 == 1:
            img = ("dib8", grid,
                   _rgb_channels(np.arange(256, dtype=np.int64)))
        else:
            img = ("dib24", _rgb_channels(grid.astype("int64")))
        images = [img]
        if did % 2:
            decoy = ("dib24", np.full((1, 1, 3), 7, dtype=np.uint8))
            images.insert(0, decoy)
        return encode_ico(images)

    return _raster_media_from_documents(docs, PGM_WIDTH, enc,
                                        with_id=True)


def tiff_media_from_documents(docs: DataFrame) -> DataFrame:
    """Encode each document as a baseline grayscale TIFF (round 17
    late addition — the only container family with DUAL BYTE ORDER):
    odd doc_ids are big-endian ``MM``, ``did % 3 == 1`` PackBits-
    compressed per strip, ``did % 4 >= 2`` split into 2-row strips
    (exercising StripOffsets/StripByteCounts array reassembly and the
    out-of-line value-array path), and ``did % 5 == 4`` stored
    photometric 0 / WhiteIsZero with inverted bytes (the decoder
    re-inverts). Every variant decodes to the PGM raster, so
    sql_decode_pgm stays the oracle and an endianness, inline-value
    justification, strip, or PackBits bug flips the hash. Same
    clean/cap/pad contract as every raster builder."""
    from .tiff import encode_tiff_gray

    def enc(grid, did):
        return encode_tiff_gray(
            grid, big_endian=bool(did % 2),
            packbits=did % 3 == 1,
            rows_per_strip=2 if did % 4 >= 2 else None,
            white_is_zero=did % 5 == 4)

    return _raster_media_from_documents(docs, PGM_WIDTH, enc,
                                        with_id=True)


def _gray_features(media: DataFrame, decoder_name: str,
                   module: str) -> DataFrame:
    """Shared feature extractor for single-channel raster decoders
    (the decode_png shape, decoder-parametrized like
    _rgb_png_features): decode each payload with the named
    functions.<module> decoder returning (w, h, [h, w] uint8), then
    the SAME integer band features as decode_pgm — scalars only (the
    driver canonicalizer contract). Malformed payloads drop per row;
    payloads never shuffle."""

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import importlib

        import pandas as pd

        mod = importlib.import_module(f"{__package__}.{module}")
        decode = getattr(mod, decoder_name)
        for pdf in it:
            out = []
            for mid, payload in zip(pdf["media_id"].to_list(),
                                    pdf["payload"].to_list()):
                try:
                    w, h, raster = decode(bytes(payload))
                except ValueError:
                    continue  # malformed blob: drop the row
                flat = raster.ravel().astype("int64")
                band_len = (w * h) // PGM_BANDS
                if band_len == 0:
                    continue
                sums = flat[:band_len * PGM_BANDS].reshape(
                    PGM_BANDS, band_len).sum(axis=1)
                for b, s in enumerate(sums):
                    out.append((mid, w, h, 1, b,
                                int(s) * 1_000_000 // band_len))
            yield pd.DataFrame(
                out, columns=["media_id", "width", "height",
                              "n_frames", "band", "feat_micro"])

    schema = ("media_id long, width int, height int, n_frames int, "
              "band int, feat_micro long")
    return media.select("media_id", "payload").mapInPandas(
        batches, schema=schema)


def png_pal_trns_media_from_documents(docs: DataFrame) -> DataFrame:
    """Encode each document as a PALETTE + tRNS PNG (round 16 — the
    classic transparent-icon profile): the 256-entry PLTE holds the
    truecolor derivations and the 256-entry tRNS the alpha derivation
    (entry v = (v*29 + 3) % 256 — exactly the RGBA corpus), so the
    decoded RGBA equals png_rgba_media_from_documents' and
    sql_decode_png_rgba stays the oracle while the container path is
    PLTE+tRNS index mapping instead of 4-channel scanlines. Every ODD
    doc_id Adam7-interlaced. Same clean/cap/pad contract as every
    raster builder."""
    from .png import encode_png_palette

    def enc(grid, did):
        import numpy as np

        rng = np.arange(256, dtype=np.int64)
        pal = _rgb_channels(rng)
        return encode_png_palette(grid, pal, interlace=bool(did % 2),
                                  trns=_alpha_channel(rng))

    return _raster_media_from_documents(docs, PGM_WIDTH, enc,
                                        with_id=True)


def sql_decode_png_rgba(table: str = "documents",
                        cap: int | None = None) -> str:
    """DuckDB twin of png_rgba_media_from_documents >>
    decode_png_rgba_features: rebuild the four channels arithmetically
    from the cleaned text (R = u, G = 255 - u, B = (u*37) % 256,
    A = (u*29 + 3) % 256; padding u = 0), composite RGB over white
    with the EXACT integer rule (c*a + 255*(255-a) + 127) // 255, and
    compute the same integer band micro-means. PNG is lossless, so
    every value pins the chunk/inflate/filter/alpha path bit-exactly —
    including the composite rule itself."""
    clean = ("regexp_replace(lower(coalesce(text, '')),"
             " '[^a-z0-9 ]+', '', 'g')")
    if cap is not None:
        clean = f"substring({clean}, 1, {cap})"
    v = ("CASE WHEN band * band_len + i <= n THEN unicode(substr(c, "
         "CAST(band * band_len + i AS INTEGER), 1)) ELSE 0 END")
    a = f"((({v}) * 29 + 3) % 256)"
    u = (f"CASE WHEN channel = 0 THEN ({v}) "
         f"WHEN channel = 1 THEN 255 - ({v}) "
         f"ELSE (({v}) * 37) % 256 END")
    return f"""
    WITH _pa_base AS (
      SELECT doc_id AS media_id, {clean} AS c,
             length({clean}) AS n,
             greatest(CAST(ceil(length({clean}) / {PGM_WIDTH}.0)
                           AS INTEGER), 1) AS h
      FROM {table}
    ),
    _pa_band AS (
      SELECT media_id, h, c, n,
             ({PGM_WIDTH} * h) // {PGM_BANDS} AS band_len,
             unnest(generate_series(0, {PGM_BANDS - 1})) AS band
      FROM _pa_base
    ),
    _pa_ch AS (
      SELECT b.*, unnest(generate_series(0, 3)) AS channel
      FROM _pa_band b
    )
    SELECT media_id, CAST({PGM_WIDTH} AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height, CAST(channel AS INTEGER)
             AS channel, CAST(band AS INTEGER) AS band,
           (CAST(list_aggregate(list_transform(
              generate_series(1, band_len),
              i -> CASE WHEN channel = 3 THEN ({a})
                   ELSE (({u}) * ({a}) + 255 * (255 - ({a})) + 127)
                        // 255
                   END), 'sum') AS BIGINT)
            * 1000000) // band_len AS feat_micro
    FROM _pa_ch
    """


def png_gray16_media_from_documents(docs: DataFrame) -> DataFrame:
    """Encode each document as a WIDE-SAMPLE grayscale PNG (round 16):
    EVEN doc_ids as 16-bit gray (sample = v * 257, so the decoder's
    high-byte strip recovers v exactly — the same widening the WAV16
    twin uses), ODD doc_ids as 8-bit GRAY+ALPHA (color type 4) with
    alpha = 255 everywhere (fully opaque: composited over anything the
    gray value survives unchanged, letting both container profiles
    share the grayscale oracle; non-opaque alpha arithmetic is pinned
    by the RGBA entry). Even-of-even interlaced so Adam7 composes with
    both pixel widths. Same clean/cap/pad contract as every raster
    builder."""
    from .png import encode_png_gray, encode_png_gray_alpha

    def enc(grid, did):
        import numpy as np

        il = bool((did // 2) % 2)
        if did % 2 == 0:
            return encode_png_gray(grid.astype(np.uint16) * 257,
                                   interlace=il, depth=16)
        ga = np.stack([grid, np.full_like(grid, 255)], axis=-1)
        return encode_png_gray_alpha(ga, interlace=il)

    return _raster_media_from_documents(docs, PGM_WIDTH, enc,
                                        with_id=True)


def decode_png_gray_wide_features(media: DataFrame) -> DataFrame:
    """Decode the wide-sample grayscale corpus: dispatch on the IHDR
    color type byte (offset 25 — garbage on malformed payloads simply
    routes to a decoder that raises the taxonomy ValueError), strip
    16-bit samples to the high byte, composite gray+alpha over white
    (opaque in this corpus, so the gray survives — the rule still
    executes), and emit the SAME band features as decode_png so
    sql_decode_pgm stays the oracle."""

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        from .png import decode_png_gray, decode_png_gray_alpha

        for pdf in it:
            out = []
            for mid, payload in zip(pdf["media_id"].to_list(),
                                    pdf["payload"].to_list()):
                payload = bytes(payload)
                try:
                    if len(payload) > 25 and payload[25] == 4:
                        w, h, ga = decode_png_gray_alpha(payload)
                        raster = composite_over_white(ga[:, :, 0],
                                                      ga[:, :, 1])
                    else:
                        w, h, raster = decode_png_gray(payload)
                except ValueError:
                    continue  # malformed blob: drop the row
                flat = raster.ravel().astype("int64")
                band_len = (w * h) // PGM_BANDS
                if band_len == 0:
                    continue
                sums = flat[:band_len * PGM_BANDS].reshape(
                    PGM_BANDS, band_len).sum(axis=1)
                for b, s in enumerate(sums):
                    out.append((mid, w, h, 1, b,
                                int(s) * 1_000_000 // band_len))
            yield pd.DataFrame(
                out, columns=["media_id", "width", "height", "n_frames",
                              "band", "feat_micro"])

    schema = ("media_id long, width int, height int, n_frames int, "
              "band int, feat_micro long")
    return media.select("media_id", "payload").mapInPandas(
        batches, schema=schema)


def sql_decode_png_rgb(table: str = "documents",
                       cap: int | None = None,
                       vmap: str = "{v}") -> str:
    """DuckDB twin of png_rgb_media_from_documents >>
    decode_png_rgb_features: rebuild each channel arithmetically from
    the cleaned text (R = u, G = 255 - u, B = (u*37) % 256 where
    u = vmap(codepoint v); padding v = 0) and compute the same
    integer band micro-means — PNG is lossless, so every value pins
    the full chunk/inflate/filter path bit-exactly. ``vmap`` is a
    format template over the raw byte (default identity); the 4-bit
    palette entry maps v -> (v % 16) * 17 so the SAME channel
    derivations cover the indexed corpus (round 15)."""
    clean = ("regexp_replace(lower(coalesce(text, '')),"
             " '[^a-z0-9 ]+', '', 'g')")
    if cap is not None:
        clean = f"substring({clean}, 1, {cap})"
    v = vmap.format(
        v="CASE WHEN band * band_len + i <= n THEN unicode(substr(c, "
          "CAST(band * band_len + i AS INTEGER), 1)) ELSE 0 END")
    return f"""
    WITH _pc_base AS (
      SELECT doc_id AS media_id, {clean} AS c,
             length({clean}) AS n,
             greatest(CAST(ceil(length({clean}) / {PGM_WIDTH}.0)
                           AS INTEGER), 1) AS h
      FROM {table}
    ),
    _pc_band AS (
      SELECT media_id, h, c, n,
             ({PGM_WIDTH} * h) // {PGM_BANDS} AS band_len,
             unnest(generate_series(0, {PGM_BANDS - 1})) AS band
      FROM _pc_base
    ),
    _pc_ch AS (
      SELECT b.*, unnest(generate_series(0, 2)) AS channel
      FROM _pc_band b
    )
    SELECT media_id, CAST({PGM_WIDTH} AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height, CAST(channel AS INTEGER)
             AS channel, CAST(band AS INTEGER) AS band,
           (CAST(list_aggregate(list_transform(
              generate_series(1, band_len),
              i -> CASE WHEN channel = 0 THEN ({v})
                   WHEN channel = 1 THEN 255 - ({v})
                   ELSE (({v}) * 37) % 256
                   END), 'sum') AS BIGINT)
            * 1000000) // band_len AS feat_micro
    FROM _pc_ch
    """


def png_pal4_media_from_documents(docs: DataFrame) -> DataFrame:
    """Encode each document as a real 4-BIT palette PNG (round 15 —
    the classic icon profile: 16 colors, two pixels per byte): index
    = v % 16 per text-raster byte, PLTE entry i = the truecolor
    channel derivations of u = i*17 (u spans 0..255 exactly), so the
    decoded RGB equals the vmap'd sql_decode_png_rgb oracle. Every
    ODD doc_id is Adam7-interlaced — sub-byte pass scanlines pack
    independently, the container variation the depth work must
    survive. Same clean/cap/pad contract as every raster builder."""
    from .png import encode_png_palette

    def enc(grid, did):
        import numpy as np

        pal = _rgb_channels(np.arange(16, dtype=np.int64) * 17)
        return encode_png_palette(grid % 16, pal, depth=4,
                                  interlace=bool(did % 2))

    return _raster_media_from_documents(docs, PGM_WIDTH, enc,
                                        with_id=True)


def decode_png(media: DataFrame) -> DataFrame:
    """REAL PNG decode via mapInPandas — chunk walk with CRC checks,
    zlib inflate, per-scanline filter reconstruction — then the SAME
    integer band features as decode_pgm over the recovered raster
    (PNG is lossless, so the two decoders must emit identical rows
    for the same source text). Malformed payloads drop per row;
    payloads never shuffle."""
    from .png import decode_png_gray

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in it:
            out = []
            for mid, payload in zip(pdf["media_id"].to_list(),
                                    pdf["payload"].to_list()):
                try:
                    w, h, raster = decode_png_gray(bytes(payload))
                except ValueError:
                    continue  # malformed blob: drop the row
                flat = raster.ravel().astype("int64")
                band_len = (w * h) // PGM_BANDS
                if band_len == 0:
                    continue
                sums = flat[:band_len * PGM_BANDS].reshape(
                    PGM_BANDS, band_len).sum(axis=1)
                for b, s in enumerate(sums):
                    out.append((mid, w, h, 1, b,
                                int(s) * 1_000_000 // band_len))
            yield pd.DataFrame(
                out, columns=["media_id", "width", "height", "n_frames",
                              "band", "feat_micro"])

    schema = ("media_id long, width int, height int, n_frames int, "
              "band int, feat_micro long")
    return media.select("media_id", "payload").mapInPandas(
        batches, schema=schema)


# -- Decode attrition report (round 15) --------------------------------------
#
# Every decoder above honors the drop-per-row contract — correct, but a
# production pipeline must PUBLISH what it dropped ("no silent caps"):
# a corpus of 90% progressive JPEGs fed to a baseline-only decoder
# would otherwise report success. The report plants a deterministic
# corruption class per document (doc_id % 5), attempts the real decode
# map-side, classifies each failure by its ValueError message into an
# enumerated reason, and aggregates (modality, reason) counts — only
# the bounded-cardinality pairs ever shuffle, so the shape is
# 100 TB-safe (one map-side partial agg over the decode pass).

DECODE_REPORT_MODALITIES = ("audio_wav", "image_jpeg", "image_png")

# ordered: first matching pattern wins. The patterns enumerate the
# decoders' actual ValueError vocabularies (pinned per-class in
# tests/test_round15.py so a reworded message cannot silently move a
# failure into "other").
_REASON_PATTERNS = (
    ("bad_magic", ("no SOI", "not a PNG", "not a RIFF/WAVE",
                   "not a JPEG", "not a GIF", "not a BMP",
                   "not a TIFF", "not a FORM/AIFF", "not an ICO",
                   "not a FLAC")),
    # not planted by the report corpus (its corruptions re-sign their
    # chunks), but real corpora hit it constantly — without the row a
    # flipped-bit PNG would land in "other"
    ("bad_crc", ("CRC mismatch", "MD5 mismatch")),
    # "marker expected" fires only AFTER a valid SOI (the decoders
    # check the signature first and raise "no SOI" there), so it is
    # mid-stream corruption/truncation, never a wrong-format file —
    # classifying it bad_magic misattributed deep bit-flips (r15
    # advisory).
    ("truncated", ("truncated", "exhausted", "entropy data too small",
                   "scanline length", "missing IHDR", "missing fmt",
                   "missing COMM", "short fmt", "short COMM",
                   "short SSND",
                   "odd 16-bit", "data length", "IDAT inflate",
                   "IDAT stream", "marker expected",
                   "restart segment count", "no scan before EOI",
                   "no SOS", "DHT value count", "trailer missing",
                   "no image block")),
    ("unsupported_profile", ("unsupported GIF", "unsupported BMP",
                             "unsupported TIFF", "unsupported AIFF",
                             "unsupported ICO", "unsupported FLAC",
                             "multi-frame GIF",
                             "sub-rectangle frame",
                             "non-baseline SOF", "not a progressive",
                             "no supported SOF", "unsupported PNG",
                             "unsupported encoding", "8-bit precision",
                             "16-bit quant", "sampling factors",
                             "components only", "point transform",
                             "luma sampling", "refinement",
                             "spectral band", "interleaved",
                             "first scan must be DC",
                             "AC scan before DC", "multiple frames")),
    ("header_invalid", ("decode cap", "invalid dimensions",
                        "invalid sample rate", "non-finite",
                        "zero image dimension",
                        "PLTE", "palette", "tRNS", "coefficient planes",
                        "invalid DC category", "DC predictor",
                        "invalid Huffman",
                        "AC run past", "unknown filter",
                        "scan component", "LZW", "RLE", "PackBits",
                        "required tag", "strip layout", "color table",
                        "block type unknown",
                        "control block malformed",
                        "block align", "step index",
                        "out of bounds", "size mismatch",
                        "STREAMINFO", "sync lost", "sync bit",
                        "reserved bit", "coding invalid",
                        "partition order", "wasted bits",
                        "predictor order", "out of range",
                        "rate mismatch")),
)


def classify_decode_error(msg: str) -> str:
    """Map a decoder ValueError message to its enumerated attrition
    reason; unrecognized messages land in 'other' (a nonzero 'other'
    count in production means the taxonomy needs a new row, not that
    data was silently lost)."""
    for reason, pats in _REASON_PATTERNS:
        if any(p in msg for p in pats):
            return reason
    return "other"


_REPORT_CLS_REASON = ("ok", "bad_magic", "truncated",
                      "unsupported_profile", "header_invalid")


def _corrupt_for_report(payload: bytes, cls: int, modality: str) -> bytes:
    """Deterministic corruption for class ``cls`` (doc_id % 5). Each
    class is engineered to fail with exactly its mapped reason for
    EVERY document (the oracle counts by class, so per-doc ambiguity
    would flip the hash): truncation cuts a fixed PREFIX length that
    always lands mid-header — progressive JPEGs are decodable with any
    scan SUFFIX dropped (by design), so tail cuts could not guarantee
    a failure."""
    if cls == 0:
        return payload
    if cls == 1:  # bad_magic: break the signature's first byte
        return bytes([payload[0] ^ 0xFF]) + payload[1:]
    if cls == 2:  # truncated: mid-header prefix cut
        keep = {"image_jpeg": 37,   # inside the 69-byte DQT segment
                "image_png": 20,    # inside the IHDR chunk data
                "audio_wav": 30,    # inside the fmt chunk
                }[modality]
        return payload[:keep]
    if modality == "image_jpeg":
        at = payload.find(b"\xff\xc0")
        if at < 0:
            at = payload.find(b"\xff\xc2")
        if cls == 3:  # SOF3 lossless: a real but unsupported profile
            return payload[:at + 1] + b"\xc3" + payload[at + 2:]
        # oversize dims: 65535 x 65535 = 4.3 Gpx, over every cap
        return (payload[:at + 5] + b"\xff\xff\xff\xff"
                + payload[at + 9:])
    if modality == "image_png":
        import zlib as _z
        data = bytearray(payload[16:29])  # IHDR data (13 bytes)
        if cls == 3:
            # compression method 1: spec-shaped but no decoder supports
            # it (round 16 made gray+alpha a SUPPORTED profile, so the
            # old color-type-4 plant would now decode successfully)
            data[10] = 1
        else:
            data[0:4] = data[4:8] = (0x7FFFFFFF).to_bytes(4, "big")
        crc = _z.crc32(b"IHDR" + bytes(data)).to_bytes(4, "big")
        return payload[:16] + bytes(data) + crc + payload[33:]
    b = bytearray(payload)  # audio_wav: fixed 44-byte header layout
    if cls == 3:
        # fmt code 2 (MICROSOFT ADPCM): spec-shaped but unsupported
        # (round 16 made 24-bit PCM a SUPPORTED width; round 17 made
        # IMA ADPCM fmt 0x11 supported — MS ADPCM's per-block linear
        # predictors are a different codec and remain the plant)
        b[20:22] = (2).to_bytes(2, "little")
    else:
        b[24:28] = (0).to_bytes(4, "little")   # rate 0: invalid field
    return bytes(b)


def attrition_media_from_documents(docs: DataFrame) -> DataFrame:
    """The report corpus: every document in all three modalities —
    JPEG (baseline for even doc_ids, PROGRESSIVE for odd), grayscale
    PNG, WAV (PCM-u8 for even, 16-bit for odd) — each payload then
    corrupted per its doc_id % 5 class. Returns (modality, media_id,
    payload)."""

    def mixed_jpeg(grid, did):
        from .jpeg import encode_dc_jpeg
        from .jpeg_progressive import encode_dc_jpeg_progressive

        enc = encode_dc_jpeg if did % 2 == 0 else encode_dc_jpeg_progressive
        return enc(grid)

    jpeg = _raster_media_from_documents(docs, JPEG_BLOCKS_W,
                                        mixed_jpeg, with_id=True)
    png = png_media_from_documents(docs)
    wav = (wav_media_from_documents(docs)
           .filter(F.col("media_id") % 2 == 0)
           .select("media_id", "payload")
           .unionByName(wav16_media_from_documents(docs)
                        .filter(F.col("media_id") % 2 == 1)))
    tagged = None
    for modality, media in (("image_jpeg", jpeg), ("image_png", png),
                            ("audio_wav", wav)):
        t = media.select(F.lit(modality).alias("modality"),
                         "media_id", "payload")
        tagged = t if tagged is None else tagged.unionByName(t)

    def corrupt(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in it:
            out = []
            for modality, mid, payload in zip(
                    pdf["modality"].to_list(),
                    pdf["media_id"].to_list(),
                    pdf["payload"].to_list()):
                out.append((modality, mid, bytearray(
                    _corrupt_for_report(bytes(payload), mid % 5,
                                        modality))))
            yield pd.DataFrame(
                out, columns=["modality", "media_id", "payload"])

    return tagged.mapInPandas(
        corrupt, schema="modality string, media_id long, payload binary")


def _attrition_payloads(did: int, text: str | None) -> list:
    """One document's three UNCORRUPTED report-corpus payloads —
    byte-identical to what ``attrition_media_from_documents`` builds
    through the DataFrame builders (pinned by tests/test_round18.py):
    JPEG (baseline even / progressive odd doc_ids) and grayscale PNG
    via the shared raster clean/cap/pad contract, WAV u8 (even) /
    16-bit (odd) via the audio builders' uncapped clean. Returns
    [(modality, payload_bytes), ...]."""
    clean = _CLEAN_RE.sub("", (text or "").lower())
    jpeg_enc = (encode_dc_jpeg if did % 2 == 0
                else encode_dc_jpeg_progressive)
    out = [("image_jpeg", bytes(jpeg_enc(_text_grid(clean, JPEG_BLOCKS_W)))),
           ("image_png", bytes(encode_png_gray(_text_grid(clean, PGM_WIDTH))))]
    if did % 2 == 0:
        # u8 RIFF/WAVE — the Column-expression builder's exact bytes:
        # data = cleaned codepoints padded to >= 1 sample with NUL
        data = clean.encode("ascii") or b"\x00"
        hdr = (b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVEfmt "
               + struct.pack("<IHHIIHH", 16, 1, 1, WAV_RATE, WAV_RATE,
                             1, 8)
               + b"data" + struct.pack("<I", len(data)))
        out.append(("audio_wav", hdr + data))
    else:
        # 16-bit LE — wav16_media_from_documents' exact bytes
        v = np.frombuffer(clean.encode("ascii"),
                          dtype=np.uint8).astype(np.int64)
        if v.size == 0:
            v = np.zeros(1, dtype=np.int64)
        data = (v * 257 - 32768).astype("<i2").tobytes()
        hdr = (b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVEfmt "
               + struct.pack("<IHHIIHH", 16, 1, 1, WAV_RATE,
                             WAV_RATE * 2, 2, 16)
               + b"data" + struct.pack("<I", len(data)))
        out.append(("audio_wav", hdr + data))
    return out


def attrition_report_from_documents(docs: DataFrame) -> DataFrame:
    """FUSED attrition report (r18, guide §4.2/§2.3 — the r17
    verdict's task 5): build + corrupt + decode-attempt + classify in
    ONE Python stage over ONE document scan. The unfused pipeline
    (attrition_media_from_documents >> decode_attrition_report, kept
    as the semantics reference) scanned documents four times (JPEG /
    PNG / WAV / WAV16 builders), unioned three payload streams, and
    shipped every multi-KB payload across the Arrow boundary three
    times (builder out, corruptor in/out, classifier in); here the
    text crosses once per document, the three payloads live and die
    inside the kernel (byte-identical to the builders' —
    _attrition_payloads, pinned by test), and only the
    (modality, media_id, reason) scalars leave it. The bounded
    (modality, reason) pairs are all that shuffles, map-side
    partial-aggregated, exactly as before. Lifts onto readStream
    unchanged (the streaming twin wraps the same frame)."""

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        from .jpeg_progressive import decode_jpeg_any
        from .png import decode_png_gray

        decoders = {"image_jpeg": decode_jpeg_any,
                    "image_png": decode_png_gray,
                    "audio_wav": _parse_wav}
        for pdf in it:
            out = []
            for did, text in zip(pdf["doc_id"].to_list(),
                                 pdf["text"].to_list()):
                did = int(did)
                for modality, payload in _attrition_payloads(did, text):
                    corrupted = _corrupt_for_report(payload, did % 5,
                                                    modality)
                    try:
                        decoders[modality](bytes(corrupted))
                        reason = "ok"
                    except ValueError as exc:
                        reason = classify_decode_error(str(exc))
                    out.append((modality, did, reason))
            yield pd.DataFrame(
                out, columns=["modality", "media_id", "reason"])

    classified = _fanout_docs(docs).select("doc_id", "text").mapInPandas(
        batches, schema="modality string, media_id long, reason string")
    return (classified.groupBy("modality", "reason")
            .agg(F.count("*").alias("n")))


def decode_attrition_report(media: DataFrame) -> DataFrame:
    """Attempt the REAL decode of every payload (dispatching JPEG
    decoder, gray PNG decoder, 8/16-bit WAV parser), classify each
    outcome, and count per (modality, reason). Payloads never shuffle
    — only the classified (modality, reason) pairs do, with map-side
    partial aggregation."""

    def classify(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        from .jpeg_progressive import decode_jpeg_any
        from .png import decode_png_gray

        decoders = {"image_jpeg": decode_jpeg_any,
                    "image_png": decode_png_gray,
                    "audio_wav": _parse_wav}
        for pdf in it:
            out = []
            for modality, mid, payload in zip(
                    pdf["modality"].to_list(),
                    pdf["media_id"].to_list(),
                    pdf["payload"].to_list()):
                try:
                    decoders[modality](bytes(payload))
                    reason = "ok"
                except ValueError as exc:
                    reason = classify_decode_error(str(exc))
                out.append((modality, mid, reason))
            yield pd.DataFrame(
                out, columns=["modality", "media_id", "reason"])

    classified = media.mapInPandas(
        classify, schema="modality string, media_id long, reason string")
    return (classified.groupBy("modality", "reason")
            .agg(F.count("*").alias("n")))


def sql_decode_report(table: str = "documents") -> str:
    """DuckDB twin of attrition_media_from_documents >>
    decode_attrition_report: the planted class is a pure function of
    doc_id, so the expected counts are arithmetic — any decoder that
    fails on a class-0 payload, succeeds on a corrupted one, or
    raises a message outside its class's mapped reason flips the
    hash."""
    return f"""
    WITH _ar_cls AS (
      SELECT doc_id % 5 AS cls, count(*) AS n
      FROM {table} GROUP BY 1
    ),
    _ar_reason AS (
      SELECT CASE cls WHEN 0 THEN 'ok' WHEN 1 THEN 'bad_magic'
                      WHEN 2 THEN 'truncated'
                      WHEN 3 THEN 'unsupported_profile'
                      ELSE 'header_invalid' END AS reason,
             n FROM _ar_cls
    )
    SELECT m.modality, r.reason, CAST(r.n AS BIGINT) AS n
    FROM (SELECT unnest(['audio_wav', 'image_jpeg', 'image_png'])
            AS modality) m, _ar_reason r
    """
