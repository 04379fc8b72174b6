"""Multimodal columns (SURVEY.md §2.2 LLM block, north-star).

Media are opaque ``binary`` payloads with typed metadata travelling beside
them in the same DataFrame. The decode tier dispatches on magic bytes:

- **PNG payloads decode for REAL** — ``png_codec`` (stdlib zlib + numpy,
  full unfilter support) turns the bytes back into pixels; features, means,
  resized thumbnails, and checksums are computed from the ACTUAL decoded
  pixel values. The registered image queries build byte-correct PNGs from a
  deterministic pixel formula, so a DuckDB oracle that re-derives the same
  formula verifies the whole encode→decode→feature path end to end.
- **WAV payloads parse for REAL** — RIFF chunk walk + 8-bit PCM samples.
- **Animated GIF payloads decode for REAL** — ``gif_codec`` (from-scratch
  LZW, variable 9→12-bit codes, frame compositing): the video arm's
  multi-frame payloads round-trip through an actual animation container,
  so n_frames, per-frame pixels, and frame sampling are decoded facts.
- Anything else falls back to ``_fake_decode``, the clearly-declared
  deterministic stand-in for codecs genuinely absent in this container
  (JPEG, ffmpeg-grade video). No registered query depends on it anymore.

- ``multimodal_metadata`` — binary-column metadata extraction, oracle-checked.
- ``media_feature_extract`` — the mapInPandas decode/feature pipeline:
  real PNG + WAV + animated-GIF decode on all three arms.
"""

from __future__ import annotations

import hashlib
import math
import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tscd_datalake_adapter_spark.functions import persist_corpus
from tscd_datalake_adapter_spark.operators import register
from tscd_datalake_adapter_spark.operators.gif_codec import (
    GIF_SIGNATURES,
    gif_decode,
    gif_encode,
)
from tscd_datalake_adapter_spark.operators.png_codec import (
    PNG_SIGNATURE,
    png_decode,
    png_encode,
)
from tscd_datalake_adapter_spark.sources import load_table


@register(
    "multimodal_metadata",
    tags=("llm", "multimodal"),
    oracle="""
    SELECT doc_id,
           CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
           sha256(text) AS payload_sha256,
           upper(hex(CAST(substr(text, 1, 8) AS BLOB))) AS head_hex,
           CASE WHEN octet_length(CAST(text AS BLOB)) > 300 THEN 'large'
                ELSE 'small' END AS size_class
    FROM documents WHERE doc_id < 100 ORDER BY doc_id
    """,
)
def multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload metadata: length, content hash, magic-bytes hex, size
    class. The shape of image/audio manifest tables at 100 TB — metadata
    computed map-side, payloads never shuffled."""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    payload = F.col("text").cast("binary")
    return d.select(
        "doc_id",
        F.octet_length(payload).cast("long").alias("n_bytes"),
        F.sha2("text", 256).alias("payload_sha256"),
        F.upper(F.hex(F.substring("text", 1, 8).cast("binary"))).alias("head_hex"),
        F.when(F.octet_length(payload) > 300, "large")
        .otherwise("small")
        .alias("size_class"),
    ).orderBy("doc_id")


MEDIA_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("n_frames", T.IntegerType(), True),
        T.StructField("mean_intensity", T.DoubleType(), True),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
    ]
)


def _png_pixels(doc_id: int) -> np.ndarray:
    """The deterministic greyscale test image for ``doc_id``: dims from the
    id, pixel (x, y) = (7x + 13y + doc_id) mod 256. The oracle re-derives
    this formula in SQL, so any decode defect breaks the hash match."""
    w = 8 + doc_id % 9
    h = 6 + doc_id % 7
    x = np.arange(w, dtype=np.int64)
    y = np.arange(h, dtype=np.int64)
    return ((7 * x[None, :] + 13 * y[:, None] + doc_id) % 256).astype(np.uint8)


def _gif_frames(doc_id: int) -> list[np.ndarray]:
    """The deterministic grayscale animation for ``doc_id``: dims reuse the
    image-arm formula, n_frames = 2 + id mod 7, pixel (f, y, x) =
    (doc_id + 7x + 13y + 31f) mod 256. The oracle re-derives this formula
    in SQL, so any LZW/compositing defect breaks the hash match."""
    w = 8 + doc_id % 9
    h = 6 + doc_id % 7
    nf = 2 + doc_id % 7
    x = np.arange(w, dtype=np.int64)
    y = np.arange(h, dtype=np.int64)
    base = (7 * x[None, :] + 13 * y[:, None] + doc_id) % 256
    return [((base + 31 * f) % 256).astype(np.uint8) for f in range(nf)]


def _wav_payload(doc_id: int) -> bytes:
    """A real 8-bit PCM mono WAV for ``doc_id``: canonical 44-byte header
    (RIFF + fmt + data) and samples data[i] = (11·doc_id + 5i) mod 256."""
    n = 50 + doc_id % 20
    sr, ch, bits = 8000, 1, 8
    data = bytes((11 * doc_id + 5 * i) % 256 for i in range(n))
    block_align = ch * bits // 8
    byte_rate = sr * block_align
    return (
        b"RIFF"
        + struct.pack("<I", 36 + n)
        + b"WAVE"
        + b"fmt "
        + struct.pack("<IHHIIHH", 16, 1, ch, sr, byte_rate, block_align, bits)
        + b"data"
        + struct.pack("<I", n)
        + data
    )


def _wav_samples(payload: bytes) -> "np.ndarray":
    """REAL RIFF/WAVE parse: chunk walk to fmt + data, returning the raw
    8-bit PCM sample array. Raises ``ValueError`` on malformed/unsupported
    payloads like any decoder (struct truncation included — ``struct.error``
    is not a ValueError and would escape the drop-row handlers)."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, data = 12, None, None
    try:
        while pos + 8 <= len(payload):
            tag = payload[pos : pos + 4]
            (size,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
            body = payload[pos + 8 : pos + 8 + size]
            if tag == b"fmt ":
                fmt = struct.unpack("<HHIIHH", body[:16])
            elif tag == b"data":
                data = body
            pos += 8 + size + (size & 1)
    except struct.error as e:
        raise ValueError(f"malformed WAV chunk: {e}") from e
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_format, ch, sr, _rate, _align, bits = fmt
    if audio_format != 1 or bits != 8:
        raise ValueError(f"unsupported WAV format {audio_format}/{bits}-bit")
    samples = np.frombuffer(data, dtype=np.uint8)
    if samples.size == 0:
        raise ValueError("empty WAV data chunk")
    return samples


def _parse_wav(payload: bytes) -> dict:
    """Decode-dispatch dict form of :func:`_wav_samples` (the feature tier
    consumes metadata + an 8-sample fingerprint, not the full stream)."""
    samples = _wav_samples(payload)
    return {
        "width": None,
        "height": None,
        "n_frames": 1,
        "mean_intensity": int(samples.sum()) / (samples.size * 256),
        "feature": [(int(b) / 256.0) * 2.0 - 1.0 for b in samples[:8]],
    }


def _decode_media(payload: bytes) -> dict:
    """Magic-byte decode dispatch: REAL PNG pixels, REAL WAV samples,
    deterministic fake for everything else (the codecs this container
    genuinely lacks). Raises on empty payload like a real decoder would."""
    if not payload:
        raise ValueError("empty media payload")
    if payload[:8] == PNG_SIGNATURE:
        arr = png_decode(payload)
        h, w = arr.shape[0], arr.shape[1]
        flat_row0 = arr.reshape(h, -1)[0]
        total = int(arr.astype(np.int64).sum())
        return {
            "width": w,
            "height": h,
            "n_frames": 1,
            "mean_intensity": total / (arr.size * 256),
            "feature": [
                (int(b) / 256.0) * 2.0 - 1.0 for b in flat_row0[:8]
            ],
        }
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return _parse_wav(payload)
    if payload[:6] in GIF_SIGNATURES:
        frames, w, h = gif_decode(payload)
        total = sum(int(f.astype(np.int64).sum()) for f in frames)
        row0 = frames[0][0]
        return {
            "width": w,
            "height": h,
            "n_frames": len(frames),
            "mean_intensity": total / (len(frames) * w * h * 256),
            "feature": [(int(b) / 256.0) * 2.0 - 1.0 for b in row0[:8]],
        }
    return _fake_decode(payload)


def _fake_decode(payload: bytes) -> dict:
    """Deterministic stand-in for a real media decoder.

    STUB (non-PNG/WAV/GIF payloads only — every registered query now
    decodes for real): a real deployment replaces this with ffmpeg/
    torchaudio decode for the codecs genuinely absent here (JPEG, MP4).
    The fake
    derives stable pseudo-metadata from the payload's sha256 so tests can pin
    exact outputs. Raises on empty payload like a real decoder would.

    All float outputs are dyadic rationals (byte/256 and byte/128 - 1): they
    are exactly representable in float32 and double, so a SQL oracle that
    recomputes them from ``sha256(text)`` matches bit-for-bit — no rounding
    ties, no cross-engine float drift.
    """
    if not payload:
        raise ValueError("empty media payload")
    digest = hashlib.sha256(payload).digest()
    width = 64 + digest[0] % 192
    height = 64 + digest[1] % 192
    n_frames = 1 + digest[2] % 16
    mean_intensity = digest[3] / 256.0
    feature = [(b / 256.0) * 2.0 - 1.0 for b in digest[:8]]
    return {
        "width": width,
        "height": height,
        "n_frames": n_frames,
        "mean_intensity": mean_intensity,
        "feature": feature,
    }


def extract_media_features(media_df: DataFrame) -> DataFrame:
    """Arrow-batched decode/feature-extract over (doc_id, media_type,
    payload) — the real 100 TB plumbing: payload bytes stay columnar through
    Arrow, decode runs per-batch in the Python worker, output schema is fixed
    so downstream ops are planable. Swap ``_fake_decode`` for a real codec to
    productionize."""

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, mtype, payload in zip(
                pdf["doc_id"], pdf["media_type"], pdf["payload"]
            ):
                try:
                    meta = _decode_media(
                        bytes(payload) if payload is not None else b""
                    )
                except ValueError:
                    continue  # undecodable media dropped, like a real pipeline
                rows.append(
                    {
                        "doc_id": int(doc_id),
                        "media_type": str(mtype),
                        "width": meta["width"],
                        "height": meta["height"],
                        "n_frames": meta["n_frames"] if mtype == "video" else 1,
                        "mean_intensity": meta["mean_intensity"],
                        "feature": meta["feature"],
                    }
                )
            out = pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "media_type",
                    "width",
                    "height",
                    "n_frames",
                    "mean_intensity",
                    "feature",
                ],
            )
            out = out.astype(
                {
                    "doc_id": "int64",
                    # nullable Int32: a real WAV has no width/height
                    "width": "Int32",
                    "height": "Int32",
                    "n_frames": "int32",
                    "mean_intensity": "float64",
                }
            )
            yield out

    return media_df.mapInPandas(_decode, schema=MEDIA_FEATURE_SCHEMA)


# DuckDB expressions mirroring the deterministic generators:
# image pixel (x, y) of doc d = (7x + 13y + d) % 256, dims (8+d%9, 6+d%7);
# audio sample i of doc d = (11d + 5i) % 256, n = 50 + d%20.
_IMG_W, _IMG_H = "(8 + doc_id % 9)", "(6 + doc_id % 7)"
_MEDIA_FEATURE_ORACLE = f"""
    WITH img AS (
      SELECT doc_id, 'image' AS media_type,
             CAST({_IMG_W} AS INTEGER) AS width,
             CAST({_IMG_H} AS INTEGER) AS height,
             CAST(1 AS INTEGER) AS n_frames,
             CAST(list_sum(flatten(list_transform(range(0, {_IMG_H}), y ->
                  list_transform(range(0, {_IMG_W}), x ->
                    (7*x + 13*y + doc_id) % 256)))) AS DOUBLE)
               / ({_IMG_W} * {_IMG_H} * 256.0) AS mean_intensity,
             concat_ws(',', {", ".join(
                 f"printf('%.7f', ((7*{i} + doc_id) % 256)"
                 "/256.0*2.0-1.0)" for i in range(8)
             )}) AS feature_csv
      FROM documents WHERE doc_id < 100 AND doc_id % 3 = 0
    ),
    aud AS (
      SELECT doc_id, 'audio' AS media_type,
             CAST(NULL AS INTEGER) AS width,
             CAST(NULL AS INTEGER) AS height,
             CAST(1 AS INTEGER) AS n_frames,
             CAST(list_sum(list_transform(range(0, 50 + doc_id % 20),
                  i -> (11*doc_id + 5*i) % 256)) AS DOUBLE)
               / ((50 + doc_id % 20) * 256.0) AS mean_intensity,
             concat_ws(',', {", ".join(
                 f"printf('%.7f', ((11*doc_id + 5*{i}) % 256)"
                 "/256.0*2.0-1.0)" for i in range(8)
             )}) AS feature_csv
      FROM documents WHERE doc_id < 100 AND doc_id % 3 = 1
    ),
    vid AS (
      -- video arm = REAL animated GIF round-trip: the Spark side decodes
      -- LZW frames back to pixels; this CTE re-derives the generating
      -- formula pixel (f, y, x) = (doc_id + 7x + 13y + 31f) % 256 over
      -- n_frames = 2 + doc_id % 7 full frames, so the hash match proves
      -- the codec moved every frame's bytes correctly.
      SELECT doc_id, 'video' AS media_type,
             CAST({_IMG_W} AS INTEGER) AS width,
             CAST({_IMG_H} AS INTEGER) AS height,
             CAST(2 + doc_id % 7 AS INTEGER) AS n_frames,
             CAST(list_sum(flatten(list_transform(range(0, 2 + doc_id % 7),
                  f -> flatten(list_transform(range(0, {_IMG_H}), y ->
                    list_transform(range(0, {_IMG_W}), x ->
                      (7*x + 13*y + doc_id + 31*f) % 256)))))) AS DOUBLE)
               / ((2 + doc_id % 7) * {_IMG_W} * {_IMG_H} * 256.0)
               AS mean_intensity,
             concat_ws(',', {", ".join(
                 f"printf('%.7f', ((7*{i} + doc_id) % 256)"
                 "/256.0*2.0-1.0)" for i in range(8)
             )}) AS feature_csv
      FROM documents
      WHERE doc_id < 100 AND doc_id % 3 = 2 AND text IS NOT NULL
    )
    SELECT * FROM img
    UNION ALL SELECT * FROM aud
    UNION ALL SELECT * FROM vid
    ORDER BY doc_id
    """


def build_media_table(d: DataFrame) -> DataFrame:
    """Attach REAL media payloads to a documents frame: byte-correct PNGs
    (deterministic pixel formula) for image rows, real 8-bit PCM WAVs for
    audio rows, and real multi-frame animated GIFs for video rows
    (``gif_codec``: from-scratch LZW). Payload construction
    is an Arrow-batched pandas UDF: binaries are built executor-side and
    never pass through the driver."""

    @F.pandas_udf(T.BinaryType())
    def payload_of(
        doc_id: pd.Series, media_type: pd.Series, text: pd.Series
    ) -> pd.Series:
        out = []
        for did, mt, tx in zip(doc_id, media_type, text):
            did = int(did)
            if mt == "image":
                out.append(png_encode(_png_pixels(did)))
            elif mt == "audio":
                out.append(_wav_payload(did))
            elif tx is None:
                out.append(None)
            else:
                out.append(gif_encode(_gif_frames(did)))
        return pd.Series(out)

    typed = d.select(
        "doc_id",
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("media_type"),
        "text",
    )
    return typed.select(
        "doc_id",
        "media_type",
        payload_of("doc_id", "media_type", "text").alias("payload"),
    )


@register(
    "media_feature_extract",
    tags=("llm", "multimodal"),
    oracle=_MEDIA_FEATURE_ORACLE,
)
def media_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a media table with REAL payloads (byte-correct PNGs for image
    rows, real 8-bit PCM WAVs for audio rows, real animated GIFs for video
    rows) and run the decode/feature pipeline. Image features come from
    ACTUALLY DECODED pixels (``png_codec``: inflate + unfilter), audio
    features from parsed PCM samples, and video metadata/means from
    LZW-decoded GIF frames — all three arms decode for real.

    The registered output serializes the ``feature`` vector to a CSV string
    (all other columns are scalar) so result canonicalizers that sort rows
    pandas-side can hash it; ``extract_media_features`` keeps the real
    ``array<float>`` column for downstream use and pytest. The oracle
    re-derives each arm from its generating formula — because the Spark
    side recomputes those values from the decoded BYTES, a hash match
    verifies the full encode→decode→feature path. Every value is a dyadic
    rational or an identical-operand IEEE division, so the match is
    bit-exact (``%.7f`` prints k/128 and k/256 without rounding)."""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    feats = extract_media_features(build_media_table(d))
    return feats.select(
        "doc_id",
        "media_type",
        "width",
        "height",
        "n_frames",
        "mean_intensity",
        F.concat_ws(
            ",",
            F.transform(
                "feature", lambda x: F.format_string("%.7f", x.cast("double"))
            ),
        ).alias("feature_csv"),
    ).orderBy("doc_id")


def _le_hex(c, n_bytes: int):
    """Little-endian hex string of an int column (byte-reversed big-endian
    hex) — pure JVM expressions, stays in whole-stage codegen."""
    hx = F.lpad(F.hex(c), 2 * n_bytes, "0")
    return F.concat(
        *[F.substring(hx, 2 * i + 1, 2) for i in reversed(range(n_bytes))]
    )


def _le_read(payload_col: str, offset: int, n_bytes: int):
    """Parse a little-endian unsigned int at a 1-based byte offset of a
    binary column: per-byte hex, reassembled most-significant-first, then
    base-16 conv. Fixed offsets keep it codegen-only."""
    byte_hex = [
        F.hex(F.expr(f"substring({payload_col}, {offset + i}, 1)"))
        for i in reversed(range(n_bytes))
    ]
    return F.conv(F.concat(*byte_hex), 16, 10).cast("bigint")


@register(
    "wav_header_parse",
    tags=("llm", "multimodal"),
    oracle="""
    SELECT doc_id,
           CAST(8000 + (doc_id % 5) * 8000 AS BIGINT) AS sample_rate,
           CAST(1 + doc_id % 2 AS BIGINT) AS n_channels,
           CAST(16 AS BIGINT) AS bits_per_sample,
           CAST(1000 + doc_id * 37 AS BIGINT) AS data_bytes,
           round(CAST(1000 + doc_id * 37 AS DOUBLE) * 1000.0
                 / ((8000 + (doc_id % 5) * 8000) * (1 + doc_id % 2) * 2), 6)
               AS duration_ms,
           true AS magic_ok
    FROM documents WHERE doc_id < 100 ORDER BY doc_id
    """,
)
def wav_header_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL (not stubbed) RIFF/WAV header parsing, pure JVM expressions —
    the little-endian sibling of ``png_header_parse``: build byte-correct
    44-byte canonical WAV headers (RIFF chunk + PCM fmt chunk + data chunk,
    all multi-byte fields little-endian) and parse sample rate, channel
    count, bit depth, and data size back out of the raw bytes with
    ``substring``/``hex``/``conv``. Duration is *derived from the parsed
    bytes* (data_bytes / byte_rate), so the oracle's formula recomputation
    verifies the whole pack→parse round-trip including the LE byte order.

    At 100 TB this is the audio-manifest fast path: magic check +
    fixed-offset header reads in whole-stage codegen; full decode (the
    stubbed ``media_feature_extract`` tier) only for rows that need it."""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    sr = (8000 + (F.col("doc_id") % 5) * 8000).cast("int")
    ch = (1 + F.col("doc_id") % 2).cast("int")
    bits = F.lit(16)
    block_align = (ch * 2).cast("int")
    byte_rate = (sr * ch * 2).cast("int")
    data_len = (1000 + F.col("doc_id") * 37).cast("int")
    payload = F.unhex(
        F.concat(
            F.lit("52494646"),  # 'RIFF'
            _le_hex(36 + data_len, 4),  # chunk size
            F.lit("57415645"),  # 'WAVE'
            F.lit("666D7420"),  # 'fmt '
            _le_hex(F.lit(16), 4),  # fmt chunk size (PCM)
            _le_hex(F.lit(1), 2),  # audio format = PCM
            _le_hex(ch, 2),
            _le_hex(sr, 4),
            _le_hex(byte_rate, 4),
            _le_hex(block_align, 2),
            _le_hex(bits, 2),
            F.lit("64617461"),  # 'data'
            _le_hex(data_len, 4),
        )
    )
    media = d.select("doc_id", payload.alias("payload"))
    parsed = media.select(
        "doc_id",
        _le_read("payload", 25, 4).alias("sample_rate"),
        _le_read("payload", 23, 2).alias("n_channels"),
        _le_read("payload", 35, 2).alias("bits_per_sample"),
        _le_read("payload", 29, 4).alias("byte_rate"),
        _le_read("payload", 41, 4).alias("data_bytes"),
        (
            (F.hex(F.expr("substring(payload, 1, 4)")) == "52494646")
            & (F.hex(F.expr("substring(payload, 9, 4)")) == "57415645")
        ).alias("magic_ok"),
    )
    return parsed.select(
        "doc_id",
        "sample_rate",
        "n_channels",
        "bits_per_sample",
        "data_bytes",
        F.round(
            F.col("data_bytes").cast("double") * 1000.0 / F.col("byte_rate"), 6
        ).alias("duration_ms"),
        "magic_ok",
    ).orderBy("doc_id")


@register(
    "png_header_parse",
    tags=("llm", "multimodal"),
    oracle="""
    SELECT doc_id,
           CAST(100 + doc_id % 50 AS BIGINT) AS width,
           CAST(80 + doc_id % 40 AS BIGINT) AS height,
           true AS magic_ok
    FROM documents WHERE doc_id < 100 ORDER BY doc_id
    """,
)
def png_header_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL (not stubbed) binary container parsing, pure JVM expressions:
    build byte-correct PNG prefixes (8-byte signature + IHDR chunk, dims
    big-endian from ``unhex(lpad(hex(n), 8))``) and parse width/height back
    out of the raw bytes with ``substring``/``hex``/``conv`` — the pattern
    for extracting media dimensions from 100 TB of payload columns without
    a codec or a Python worker: magic-byte check + fixed-offset header
    reads stay in whole-stage codegen, full decode (the stubbed
    ``media_feature_extract`` path) is reserved for rows that need it.

    The oracle recomputes the dims from the generating formula, so the
    whole pack→parse round-trip is inside the exact gate."""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    w = (100 + F.col("doc_id") % 50).cast("int")
    h = (80 + F.col("doc_id") % 40).cast("int")
    be4 = lambda c: F.unhex(F.lpad(F.hex(c), 8, "0"))  # noqa: E731
    payload = F.concat(
        F.unhex(F.lit("89504E470D0A1A0A")),  # PNG signature
        F.unhex(F.lit("0000000D")),  # IHDR length = 13
        F.unhex(F.lit("49484452")),  # 'IHDR'
        be4(w),
        be4(h),
        F.unhex(F.lit("0806000000")),  # bit depth + color type + misc
    )
    media = d.select("doc_id", payload.alias("payload"))
    return media.select(
        "doc_id",
        F.conv(F.hex(F.expr("substring(payload, 17, 4)")), 16, 10)
        .cast("bigint")
        .alias("width"),
        F.conv(F.hex(F.expr("substring(payload, 21, 4)")), 16, 10)
        .cast("bigint")
        .alias("height"),
        (
            F.hex(F.expr("substring(payload, 1, 8)"))
            == F.lit("89504E470D0A1A0A")
        ).alias("magic_ok"),
    ).orderBy("doc_id")


MEDIA_RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("out_w", T.IntegerType(), True),
        T.StructField("out_h", T.IntegerType(), True),
        T.StructField("scale_x", T.DoubleType(), True),
        T.StructField("thumb_csv", T.StringType(), True),
        T.StructField("resized_checksum", T.LongType(), True),
    ]
)

_RESIZE_TARGET = 64


def nearest_resize(arr: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """REAL nearest-neighbor resample of a decoded greyscale array:
    out[y, x] = in[(y·h) div out_h, (x·w) div out_w]. Integer source-index
    math, so the result is exactly reproducible in SQL — which is what lets
    the resize oracle verify actual pixel movement, not just aspect math."""
    h, w = arr.shape[0], arr.shape[1]
    src_x = (np.arange(out_w, dtype=np.int64) * w) // out_w
    src_y = (np.arange(out_h, dtype=np.int64) * h) // out_h
    return arr[src_y][:, src_x]


def resize_media(media_df: DataFrame) -> DataFrame:
    """Arrow-batched resize over (doc_id, media_type, payload).

    PNG payloads take the REAL path: ``png_codec`` decode (inflate +
    unfilter) → nearest-neighbor resample to the 64-px-wide target
    (aspect-preserving integer floor math) → thumbnail samples and a
    position-weighted checksum computed from the ACTUAL resized pixels.
    Non-PNG payloads fall back to the declared fake decoder (sha-derived
    thumbnail, NULL checksum) — the arm whose codecs this container lacks.
    The Spark side — Arrow batching, fixed output schema, per-batch loop,
    row drops on undecodable payloads — is the 100 TB plumbing either way."""

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                pay = bytes(payload) if payload is not None else b""
                if pay[:8] == PNG_SIGNATURE:
                    try:
                        arr = png_decode(pay)
                    except ValueError:
                        continue
                    if arr.ndim == 3:  # collapse color to first channel
                        arr = arr[:, :, 0]
                    h, w = arr.shape
                    # Clamp: a very wide image (w > target*h) would floor
                    # to out_h == 0 and the thumbnail read would IndexError
                    # inside the task; 1-row output keeps the row instead.
                    out_h = max(1, (h * _RESIZE_TARGET) // w)
                    resized = nearest_resize(arr, _RESIZE_TARGET, out_h)
                    weights = np.arange(
                        1, resized.size + 1, dtype=np.int64
                    ).reshape(resized.shape)
                    checksum = int(
                        (resized.astype(np.int64) * weights).sum()
                    )
                    thumb = [
                        int(resized[0, x]) / 256.0 for x in (0, 16, 32, 48)
                    ]
                    rows.append(
                        {
                            "doc_id": int(doc_id),
                            "width": w,
                            "height": h,
                            "out_w": _RESIZE_TARGET,
                            "out_h": out_h,
                            "scale_x": w / float(_RESIZE_TARGET),
                            # %.8f: k/256 needs 8 fractional digits to
                            # print exactly (1/256 = 0.00390625)
                            "thumb_csv": ",".join(
                                "%.8f" % v for v in thumb
                            ),
                            "resized_checksum": checksum,
                        }
                    )
                    continue
                try:
                    meta = _fake_decode(pay)
                except ValueError:
                    continue
                w, h = meta["width"], meta["height"]
                digest = hashlib.sha256(pay).digest()
                thumb = [digest[4 + i] / 256.0 for i in range(4)]
                rows.append(
                    {
                        "doc_id": int(doc_id),
                        "width": w,
                        "height": h,
                        "out_w": _RESIZE_TARGET,
                        "out_h": (h * _RESIZE_TARGET) // w,
                        "scale_x": w / float(_RESIZE_TARGET),
                        "thumb_csv": ",".join("%.7f" % v for v in thumb),
                        "resized_checksum": None,
                    }
                )
            out = pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "width", "height", "out_w", "out_h",
                    "scale_x", "thumb_csv", "resized_checksum",
                ],
            ).astype(
                {"doc_id": "int64", "width": "int32", "height": "int32",
                 "out_w": "int32", "out_h": "int32", "scale_x": "float64",
                 "resized_checksum": "Int64"}
            )
            yield out

    return media_df.mapInPandas(_resize, schema=MEDIA_RESIZE_SCHEMA)


# resized[y][x] = source pixel ((x·w) div 64, (y·h) div out_h) of the
# deterministic formula image — the oracle recomputes ACTUAL pixel values,
# so a hash match proves the decode + nearest-neighbor resample moved real
# bytes correctly, not just the aspect arithmetic.
_MEDIA_RESIZE_ORACLE = f"""
    WITH q AS (
      SELECT doc_id, {_IMG_W} AS w, {_IMG_H} AS h,
             ({_IMG_H} * {_RESIZE_TARGET}) // {_IMG_W} AS out_h
      FROM documents WHERE doc_id < 100
    )
    SELECT doc_id,
           CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           CAST({_RESIZE_TARGET} AS INTEGER) AS out_w,
           CAST(out_h AS INTEGER) AS out_h,
           w / {_RESIZE_TARGET}.0 AS scale_x,
           concat_ws(',', {", ".join(
               f"printf('%.8f', ((7*(({x}*w)//{_RESIZE_TARGET}) + doc_id)"
               " % 256)/256.0)" for x in (0, 16, 32, 48)
           )}) AS thumb_csv,
           CAST(list_sum(flatten(list_transform(range(0, out_h), y ->
                list_transform(range(0, {_RESIZE_TARGET}), x ->
                  ((7*((x*w)//{_RESIZE_TARGET}) + 13*((y*h)//out_h)
                    + doc_id) % 256)
                  * (y*{_RESIZE_TARGET} + x + 1))))) AS BIGINT)
               AS resized_checksum
    FROM q ORDER BY doc_id
    """


@register(
    "media_resize",
    tags=("llm", "multimodal"),
    oracle=_MEDIA_RESIZE_ORACLE,
)
def media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered resize query: build REAL PNG payloads (deterministic
    pixel formula), decode them with ``png_codec``, nearest-neighbor
    resample to 64-px width, and emit thumbnail samples plus a
    position-weighted checksum of every resized pixel. The oracle
    recomputes the resized pixel grid from the generating formula, so the
    hash match covers encode → inflate → unfilter → resample → checksum.
    Aspect math is pure integer (floor), scale_x is w/64 (dyadic — exact
    in double), thumbnails are byte/256 dyadics printed ``%.8f``."""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 100)

    @F.pandas_udf(T.BinaryType())
    def png_of(doc_id: pd.Series) -> pd.Series:
        return pd.Series(
            [png_encode(_png_pixels(int(i))) for i in doc_id]
        )

    media = d.select(
        "doc_id",
        F.lit("image").alias("media_type"),
        png_of("doc_id").alias("payload"),
    )
    return resize_media(media).orderBy("doc_id")


MEDIA_FRAME_SAMPLE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("n_frames", T.IntegerType(), True),
        T.StructField("n_sampled", T.IntegerType(), True),
        T.StructField("frame_idx_csv", T.StringType(), True),
        T.StructField("frame_pixel_sum_csv", T.StringType(), True),
    ]
)


def sample_frames(media_df: DataFrame, k: int = 4) -> DataFrame:
    """Arrow-batched frame sampling for video payloads: decode the REAL
    frame count (animated GIF via ``gif_codec``; other payload types
    through ``_decode_media``), pick ``min(k, n_frames)`` evenly-spaced
    frame indices (``(i * n) div kept`` — strictly increasing integers, no
    dedup needed), and for GIF payloads emit each sampled frame's decoded
    pixel sum — the proof the sampled frames were actually extracted, not
    just indexed. Undecodable payloads drop, per the real-decoder
    contract."""

    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                pay = bytes(payload) if payload is not None else b""
                frames = None
                try:
                    if pay[:6] in GIF_SIGNATURES:
                        frames, _, _ = gif_decode(pay)
                        n = len(frames)
                    else:
                        n = _decode_media(pay)["n_frames"]
                except ValueError:
                    continue
                kept = min(k, n)
                idx = [(i * n) // kept for i in range(kept)]
                sums = (
                    ",".join(
                        str(int(frames[i].astype(np.int64).sum()))
                        for i in idx
                    )
                    if frames is not None
                    else None
                )
                rows.append(
                    {
                        "doc_id": int(doc_id),
                        "n_frames": n,
                        "n_sampled": kept,
                        "frame_idx_csv": ",".join(str(i) for i in idx),
                        "frame_pixel_sum_csv": sums,
                    }
                )
            out = pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "n_frames",
                    "n_sampled",
                    "frame_idx_csv",
                    "frame_pixel_sum_csv",
                ],
            ).astype(
                {"doc_id": "int64", "n_frames": "int32", "n_sampled": "int32"}
            )
            yield out

    return media_df.mapInPandas(_sample, schema=MEDIA_FRAME_SAMPLE_SCHEMA)


_MEDIA_FRAME_SAMPLE_ORACLE = f"""
    WITH s AS (
      SELECT doc_id, 2 + doc_id % 7 AS nf, least(4, 2 + doc_id % 7) AS kept
      FROM documents
      WHERE doc_id < 100 AND doc_id % 3 = 2 AND text IS NOT NULL
    )
    SELECT doc_id,
           CAST(nf AS INTEGER) AS n_frames,
           CAST(kept AS INTEGER) AS n_sampled,
           array_to_string(list_transform(range(0, kept),
                           i -> CAST((i * nf) // kept AS VARCHAR)), ',')
               AS frame_idx_csv,
           array_to_string(list_transform(range(0, kept), i ->
               CAST(list_sum(flatten(list_transform(range(0, {_IMG_H}), y ->
                    list_transform(range(0, {_IMG_W}), x ->
                      (7*x + 13*y + doc_id + 31*((i * nf) // kept)) % 256))))
                    AS VARCHAR)), ',') AS frame_pixel_sum_csv
    FROM s ORDER BY doc_id
    """


@register(
    "media_frame_sample",
    tags=("llm", "multimodal"),
    oracle=_MEDIA_FRAME_SAMPLE_ORACLE,
)
def media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered frame-sampling query over the video slice (doc_id%3==2,
    matching the media fixture's type cycling): REAL animated-GIF payloads
    are built executor-side, LZW-decoded back to frames, and the sampled
    frames' pixel sums emitted — the oracle re-derives frame counts,
    indices, AND every sampled frame's pixel sum from the generating
    formula, so a hash match proves actual frame extraction."""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    media = build_media_table(d).where(F.col("media_type") == "video")
    return sample_frames(media).orderBy("doc_id")


_FRAME_LEN = 16


@register(
    "wav_frame_energy",
    tags=("llm", "multimodal"),
    defer=True,
    oracle=f"""
    WITH aud AS (
        SELECT doc_id, 50 + doc_id % 20 AS n FROM documents
        WHERE doc_id < 60 AND doc_id % 3 = 1
    ),
    samp AS (
        SELECT doc_id, n,
               unnest(generate_series(0, n - 1)) AS i
        FROM aud
    ),
    framed AS (
        SELECT doc_id, i // {_FRAME_LEN} AS frame_id,
               ((11 * doc_id + 5 * i) % 256) - 128 AS dev
        FROM samp
        WHERE i < (n // {_FRAME_LEN}) * {_FRAME_LEN}
    )
    SELECT doc_id, frame_id,
           CAST({_FRAME_LEN} AS BIGINT) AS n_samples,
           CAST(sum(dev * dev) AS BIGINT) AS energy
    FROM framed GROUP BY doc_id, frame_id
    ORDER BY doc_id, frame_id
    """,
)
def wav_frame_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-frame signal energy over ACTUALLY DECODED audio: the RIFF/PCM
    payloads built by ``build_media_table`` are parsed back to samples
    (``_parse_wav`` — real chunk walk, not metadata trust), split into
    16-sample frames (tail dropped), and each frame reports its integer
    energy Σ(s−128)². This is the media analog of text quality scoring —
    a computation over decoded CONTENT, with the oracle re-deriving the
    energies from the sample-generating formula, so a hash match verifies
    the whole encode→decode→frame→energy path. Integer energies make the
    match exact.

    Scale shape: decode + framing run per Arrow batch in ``mapInPandas``
    (payload bytes never leave the executor, frames are a numpy reshape);
    the output is one bounded row per frame, shuffled only by the final
    presentation sort. Undecodable payloads drop rows, like every decode
    operator here."""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 60)
    media = build_media_table(d).where(F.col("media_type") == "audio")

    def _energies(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    samples = _wav_samples(
                        bytes(payload) if payload is not None else b""
                    )
                except ValueError:
                    continue
                k = samples.size // _FRAME_LEN
                if k == 0:
                    continue
                dev = (
                    samples[: k * _FRAME_LEN].astype(np.int64) - 128
                ).reshape(k, _FRAME_LEN)
                energy = (dev * dev).sum(axis=1)
                rows.extend(
                    {
                        "doc_id": int(doc_id),
                        "frame_id": int(f),
                        "n_samples": _FRAME_LEN,
                        "energy": int(e),
                    }
                    for f, e in enumerate(energy)
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "frame_id", "n_samples", "energy"]
            )

    out = media.select("doc_id", "payload").mapInPandas(
        _energies,
        "doc_id long, frame_id long, n_samples long, energy long",
    )
    return out.orderBy("doc_id", "frame_id")


@register(
    "wav_dft_band_magnitudes",
    tags=("llm", "multimodal"),
    defer=True,
    oracle="""
    WITH aud AS (
        SELECT doc_id, 50 + doc_id % 20 AS n FROM documents
        WHERE doc_id < 60 AND doc_id % 3 = 1
    ),
    samp AS (
        SELECT doc_id, n, unnest(generate_series(0, n - 1)) AS i
        FROM aud
    ),
    dev AS (
        SELECT doc_id, n, i,
               ((11 * doc_id + 5 * i) % 256) - 128 AS s
        FROM samp
    ),
    terms AS (
        SELECT d.doc_id, d.n, k.k,
               round(d.s * cos(-6.283185307179586 * k.k * d.i / d.n), 12)
                   AS tre,
               round(d.s * sin(-6.283185307179586 * k.k * d.i / d.n), 12)
                   AS tim
        FROM dev d CROSS JOIN (SELECT unnest([1, 2, 3]) AS k) k
    ),
    sums AS (
        SELECT doc_id, k, CAST(n AS BIGINT) AS n_samples,
               CAST(SUM(CAST(tre AS DECIMAL(38,12))) AS DOUBLE) AS re,
               CAST(SUM(CAST(tim AS DECIMAL(38,12))) AS DOUBLE) AS im
        FROM terms GROUP BY doc_id, k, n
    )
    SELECT doc_id, CAST(k AS BIGINT) AS band, n_samples,
           round(re, 6) AS re, round(im, 6) AS im,
           round(sqrt(re * re + im * im), 6) AS magnitude
    FROM sums ORDER BY doc_id, band
    """,
)
def wav_dft_band_magnitudes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Low-band DFT magnitudes over ACTUALLY DECODED audio — the spectral
    sibling of ``wav_frame_energy``: each RIFF/PCM payload is parsed back
    to integer samples executor-side, and bins k=1..3 of the discrete
    Fourier transform are evaluated as X_k = Σ_n s_n·e^(−2πikn/N) — the
    feature a speech-data curation pass thresholds on (a near-zero
    spectrum is silence/tone, not speech).

    Split of labor is the determinism recipe applied to trig: the decode
    (mapInPandas) emits only INTEGERS (doc, index, centered sample), so
    the Arrow hop carries nothing float; cos/sin run JVM-side on operands
    both engines construct identically (the 2π literal is spelled out —
    never ``pi()`` — so the angle doubles are bit-equal), each term is
    round-12 and decimal-summed. The oracle re-derives samples from the
    generator formula, so a hash match proves encode→parse→transform
    end-to-end. Per-doc fan-out is N×3 bounded rows; one shuffle to the
    (doc, band) aggregate."""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 60)
    media = build_media_table(d).where(F.col("media_type") == "audio")

    def _samples(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    samples = _wav_samples(
                        bytes(payload) if payload is not None else b""
                    )
                except ValueError:
                    continue
                n = int(samples.size)
                if n == 0:
                    continue
                dev = samples.astype(np.int64) - 128
                rows.extend(
                    {"doc_id": int(doc_id), "n": n, "i": i, "s": int(s)}
                    for i, s in enumerate(dev)
                )
            yield pd.DataFrame(rows, columns=["doc_id", "n", "i", "s"])

    dev = media.select("doc_id", "payload").mapInPandas(
        _samples, "doc_id long, n long, i long, s long"
    )
    ks = F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("k")
    angle = (
        F.lit(-6.283185307179586)
        * F.col("k")
        * F.col("i")
        / F.col("n")
    )
    terms = dev.select(
        "doc_id",
        "n",
        ks,
        "i",
        "s",
    ).select(
        "doc_id",
        "n",
        "k",
        F.round(F.col("s") * F.cos(angle), 12).alias("tre"),
        F.round(F.col("s") * F.sin(angle), 12).alias("tim"),
    )
    sums = terms.groupBy("doc_id", "k", "n").agg(
        F.sum(F.col("tre").cast("decimal(38,12)")).cast("double").alias("re"),
        F.sum(F.col("tim").cast("decimal(38,12)")).cast("double").alias("im"),
    )
    return sums.select(
        "doc_id",
        F.col("k").cast("long").alias("band"),
        F.col("n").cast("long").alias("n_samples"),
        F.round("re", 6).alias("re"),
        F.round("im", 6).alias("im"),
        F.round(
            F.sqrt(F.col("re") * F.col("re") + F.col("im") * F.col("im")), 6
        ).alias("magnitude"),
    ).orderBy("doc_id", "band")


# --- perceptual image hashing (aHash) near-dup -----------------------------


def phash_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The perceptual-dedup media table: (uid, payload) with TWO real PNG
    payloads per image-typed document — the clean formula image (uid =
    2·doc_id) and a one-pixel-perturbed re-encode (uid = 2·doc_id + 1).
    Shared by the batch near-dup query and the streaming dedup job."""
    d = (
        load_table(spark, sf_dir, "documents")
        .where((F.col("doc_id") < 200) & (F.col("doc_id") % 3 == 0))
        .select("doc_id")
    )
    # explode-tag, not a self-union: the two planted-twin arms otherwise
    # scan the slice twice inside the bands cache build (r8
    # construction-inclusive scan audit)
    sides = d.select(
        "doc_id",
        F.explode(
            F.array(
                F.struct(
                    (2 * F.col("doc_id")).alias("uid"),
                    F.lit(0).alias("pert"),
                ),
                F.struct(
                    (2 * F.col("doc_id") + 1).alias("uid"),
                    F.lit(1).alias("pert"),
                ),
            )
        ).alias("s"),
    ).select("doc_id", "s.uid", "s.pert")

    @F.pandas_udf(T.BinaryType())
    def payload_of(doc_id: pd.Series, pert: pd.Series) -> pd.Series:
        out = []
        for did, pe in zip(doc_id, pert):
            did = int(did)
            px = _png_pixels(did).copy()
            if int(pe):
                w, h = px.shape[1], px.shape[0]
                x0, y0 = (did * 3) % w, (did * 5) % h
                px[y0, x0] = (int(px[y0, x0]) + 128) % 256
            out.append(png_encode(px))
        return pd.Series(out)

    return sides.select("uid", payload_of("doc_id", "pert").alias("payload"))


def _ahash_band_values(payload: bytes) -> list[int]:
    """Decode a PNG payload and reduce it to the four 16-bit aHash bands
    (8×8 nearest-neighbor sample grid; bit = 64·p >= Σp). k = 8·i + j
    indexing, matching the registered oracle's convention."""
    arr = png_decode(bytes(payload))
    h, w = arr.shape[0], arr.shape[1]
    xi = (np.arange(8, dtype=np.int64) * w) // 8
    yj = (np.arange(8, dtype=np.int64) * h) // 8
    samples = arr[yj[None, :], xi[:, None]].astype(np.int64)
    flat = samples.reshape(-1)
    s = int(flat.sum())
    bits = (64 * flat >= s).astype(np.int64)
    return [
        int((bits[16 * b : 16 * (b + 1)] << np.arange(16)).sum())
        for b in range(4)
    ]


def phash_bands(media: DataFrame) -> DataFrame:
    """Arrow-batched decode → four (uid, b, v, h0..h3) band rows per image.
    ``(b, v)`` is the LSH blocking key; ``h0..h3`` ride along so a
    stateful consumer keyed on one band can verify exact Hamming distance
    without a second lookup. Works on batch AND streaming DataFrames."""
    schema = T.StructType(
        [
            T.StructField("uid", T.LongType()),
            T.StructField("b", T.LongType()),
            T.StructField("v", T.LongType()),
            T.StructField("h0", T.LongType()),
            T.StructField("h1", T.LongType()),
            T.StructField("h2", T.LongType()),
            T.StructField("h3", T.LongType()),
        ]
    )

    def hash_bands(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in ("uid", "b", "v", "h0", "h1", "h2", "h3")}
            for uid, payload in zip(pdf["uid"], pdf["payload"]):
                hs = _ahash_band_values(payload)
                for b in range(4):
                    rows["uid"].append(int(uid))
                    rows["b"].append(b)
                    rows["v"].append(hs[b])
                    for j in range(4):
                        rows[f"h{j}"].append(hs[j])
            yield pd.DataFrame(rows)

    return media.mapInPandas(hash_bands, schema)


_PHASH_CTES = """img AS (
        SELECT doc_id FROM documents WHERE doc_id < 200 AND doc_id % 3 = 0
    ),
    sides AS (
        SELECT doc_id, 2 * doc_id AS uid, 0 AS pert FROM img
        UNION ALL
        SELECT doc_id, 2 * doc_id + 1 AS uid, 1 AS pert FROM img
    ),
    dims AS (
        SELECT uid, doc_id, pert,
               8 + doc_id % 9 AS w, 6 + doc_id % 7 AS h,
               (doc_id * 3) % (8 + doc_id % 9) AS x0,
               (doc_id * 5) % (6 + doc_id % 7) AS y0
        FROM sides
    ),
    samp AS (
        SELECT d.uid, g.k,
               (7 * (((g.k // 8) * d.w) // 8)
                + 13 * (((g.k % 8) * d.h) // 8) + d.doc_id
                + CASE WHEN d.pert = 1
                            AND (((g.k // 8) * d.w) // 8) = d.x0
                            AND (((g.k % 8) * d.h) // 8) = d.y0
                       THEN 128 ELSE 0 END) % 256 AS p
        FROM dims d
        CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS k) g
    ),
    stats AS (
        SELECT uid, CAST(sum(p) AS BIGINT) AS s FROM samp GROUP BY uid
    ),
    bands AS (
        SELECT sa.uid, CAST(sa.k // 16 AS BIGINT) AS b,
               CAST(sum(CASE WHEN 64 * sa.p >= st.s
                        THEN 1 << CAST(sa.k % 16 AS INTEGER)
                        ELSE 0 END) AS BIGINT) AS v
        FROM samp sa JOIN stats st ON sa.uid = st.uid
        GROUP BY sa.uid, sa.k // 16
    ),
    cand AS (
        SELECT DISTINCT a.uid AS ua, b.uid AS ub
        FROM bands a JOIN bands b
          ON a.b = b.b AND a.v = b.v AND a.uid < b.uid
    ),
    ham AS (
        SELECT c.ua, c.ub,
               CAST(sum(bit_count(xor(ba.v, bb.v))) AS BIGINT) AS hamming
        FROM cand c
        JOIN bands ba ON ba.uid = c.ua
        JOIN bands bb ON bb.uid = c.ub AND bb.b = ba.b
        GROUP BY c.ua, c.ub
    )"""

_PHASH_ORACLE = f"""
    WITH {_PHASH_CTES}
    SELECT ua AS uid_a, ub AS uid_b, hamming
    FROM ham WHERE hamming <= 3
    ORDER BY uid_a, uid_b
"""


@register(
    "image_phash_near_dup",
    headline=True,
    tags=("llm", "multimodal", "dedup"),
    defer=True,
    oracle=_PHASH_ORACLE,
)
def image_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image dedup: every image-typed document gets TWO
    byte-level-different PNG payloads (the original formula image and a
    one-pixel-perturbed re-encode — the planted-twin pattern of
    ``embedding_cosine_near_dup_lsh``); both are DECODED for real
    (``png_codec``), reduced to a 64-bit average hash (8×8
    nearest-neighbor sample grid, bit = 64·p >= Σp so the mean compare
    stays integer), and near-dup pairs are found by LSH-style band
    blocking: the hash splits into four 16-bit bands, pairs sharing any
    band become candidates, and candidates verify exact Hamming distance
    ≤ 3 via bit_count(xor). Four bands make the ≤3 gate lossless by
    pigeonhole (a pair within Hamming 3 has at least one untouched band).

    The oracle re-derives samples, mean, bands, candidates, and Hamming
    from the generating formula — so a hash match proves the full PNG
    encode→inflate→unfilter→sample→hash path over REAL bytes, per image
    TWICE (clean + perturbed). Fixture fact: aHash is brightness-
    invariant by construction (adding a constant to every pixel shifts
    each sample and the mean threshold equally, leaving every bit
    unchanged), so formula images sharing dimensions and differing mainly
    in their ``doc_id`` offset collapse into the same perceptual bucket —
    the query surfaces ~800 pairs, not just the 67 planted twins, which
    is exactly the collapse-re-encodes-and-brightness-edits behavior
    perceptual dedup exists for (a few twins land at Hamming > 3 when
    the one-pixel edit shifts the mean across borderline samples).

    Scale shape: hashing is embarrassingly parallel (Arrow-batched decode
    emitting 4 fixed-width band rows per image); the candidate join is a
    uniform equi-join on (band_index, band_value) — 16-bit bands keep the
    random-collision rate at ~4/65536 per pair (the NOTES.md
    more-bits-beats-wide-buckets rule) — and the verify join touches only
    candidates. No all-pairs stage anywhere."""
    # the band table (4 fixed-width rows per image) feeds four consumers
    # (both candidate sides + both verify sides); each re-evaluation would
    # re-DECODE every PNG — checkpoint so the decode pass runs exactly
    # once (executed-plan audit: 8 scans of documents without)
    bands = persist_corpus(
        phash_bands(phash_media(spark, sf_dir)).select("uid", "b", "v")
    )  # per-media band rows: O(corpus) — persist, keep the decode lineage
    a = bands.select(F.col("uid").alias("ua"), "b", "v")
    bb = bands.select(F.col("uid").alias("ub"), "b", "v")
    cand = (
        a.join(bb, ["b", "v"])
        .where(F.col("ua") < F.col("ub"))
        .select("ua", "ub")
        .distinct()
    )
    ba = bands.select(F.col("uid").alias("ua"), "b", F.col("v").alias("xa"))
    bbv = bands.select(F.col("uid").alias("ub"), "b", F.col("v").alias("xb"))
    ham = (
        cand.join(ba, "ua")
        .join(bbv, ["ub", "b"])
        .groupBy("ua", "ub")
        .agg(
            F.sum(F.bit_count(F.col("xa").bitwiseXOR(F.col("xb"))))
            .cast("long")
            .alias("hamming")
        )
    )
    return (
        ham.where(F.col("hamming") <= 3)
        .select(
            F.col("ua").alias("uid_a"),
            F.col("ub").alias("uid_b"),
            "hamming",
        )
        .orderBy("uid_a", "uid_b")
    )


_PHASH_CLUSTER_ORACLE = f"""
    WITH RECURSIVE {_PHASH_CTES},
    pairs AS (SELECT ua, ub FROM ham WHERE hamming <= 3),
    alledges AS (
        SELECT ua AS src, ub AS dst FROM pairs
        UNION SELECT ub, ua FROM pairs
        UNION SELECT uid, uid FROM dims
    ),
    reach AS (
        SELECT src, dst FROM alledges
        UNION
        SELECT r.src, e.dst FROM reach r JOIN alledges e ON r.dst = e.src
    ),
    labels AS (
        SELECT src AS uid, CAST(min(dst) AS BIGINT) AS cluster_id
        FROM reach GROUP BY src
    )
    SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members,
           CAST(sum(CASE WHEN uid % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_clean,
           CAST(sum(uid % 2) AS BIGINT) AS n_perturbed
    FROM labels GROUP BY cluster_id
    ORDER BY n_members DESC, cluster_id LIMIT 20
"""


@register(
    "image_dedup_clusters",
    tags=("llm", "multimodal", "dedup"),
    defer=True,
    oracle=_PHASH_CLUSTER_ORACLE,
)
def image_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the PERCEPTUAL near-dup graph: transitive
    closure of the ``image_phash_near_dup`` pairs, each image labeled with
    its component's minimum uid — the keep-one-per-cluster step a real
    image-dedup pipeline runs after pair generation, composed end-to-end
    from decoded PNG bytes (near-dup is not transitive: A~B and B~C at
    Hamming 3 can put A,C at Hamming 6, so clustering — not pair removal
    — is what deduplicates exactly once).

    Spark side (r12, guide §4.2): the component labels come from
    ``dedup.union_find_labels`` — one ``bounded_fold`` union-find over
    the BOUNDED pair list (≤8,911 pairs from the explicit ≤67-image slice), replacing the O(diameter) min-label propagation
    rounds whose per-round join + count + checkpoint JOBS were pure
    scheduling overhead at this bound (the croston recipe;
    ``dedup_clusters`` keeps the distributed loop as the unbounded-scale
    demonstration). The oracle is the recursive-CTE transitive closure
    over the formula-derived pairs — union-by-min-root converges to the
    same min-uid fixpoint, hash-verified. Output is the bounded
    per-cluster summary (top-20 by size), split into clean/perturbed
    membership — the planted twins guarantee every cluster pairs both
    sides of each image.

    Scale shape: pair generation inherits the LSH band join; the
    clustering input is slice-bounded, so one task is the right venue."""
    from tscd_datalake_adapter_spark.functions import checkpoint_bounded
    from tscd_datalake_adapter_spark.operators.dedup import union_find_labels

    # materialize the pair list so the phash pipeline (PNG decode
    # included) runs once before the clustering consumer (the pagerank
    # construction-time lesson)
    # Bounded by the phash query's explicit doc_id<200 (%3==0) slice:
    # <=67 images ⇒ <=134 uids ⇒ <=8,911 pairs regardless of corpus size
    # — the slice, not the Hamming threshold, is the bound (r7 ADVICE).
    pairs = checkpoint_bounded(
        image_phash_near_dup(spark, sf_dir).select("uid_a", "uid_b"),
        bound="pairs over the explicit <=67-image slice (<=8,911)",
    )
    d = (
        load_table(spark, sf_dir, "documents")
        .where((F.col("doc_id") < 200) & (F.col("doc_id") % 3 == 0))
        .select("doc_id")
    )
    # explode both uids per doc in one pass (the self-union scanned the
    # slice twice — r8 construction-inclusive scan audit); self-edges
    # seed the singletons, the oracle's `UNION SELECT uid, uid FROM dims`
    nodes = d.select(
        F.explode(
            F.array(2 * F.col("doc_id"), 2 * F.col("doc_id") + 1)
        ).alias("uid")
    )
    edges = pairs.select(
        F.col("uid_a").alias("src"), F.col("uid_b").alias("dst")
    ).unionByName(
        nodes.select(F.col("uid").alias("src"), F.col("uid").alias("dst"))
    )
    labels = union_find_labels(edges)
    return (
        labels.groupBy(F.col("label").alias("cluster_id"))
        .agg(
            F.count("*").cast("long").alias("n_members"),
            F.sum(F.when(F.col("src") % 2 == 0, 1).otherwise(0))
            .cast("long")
            .alias("n_clean"),
            F.sum(F.col("src") % 2).cast("long").alias("n_perturbed"),
        )
        .orderBy(F.col("n_members").desc(), "cluster_id")
        .limit(20)
    )


@register(
    "wav_zero_crossing_features",
    tags=("llm", "multimodal"),
    defer=True,
    oracle="""
    WITH aud AS (
        SELECT doc_id, 50 + doc_id % 20 AS n FROM documents
        WHERE doc_id < 100 AND doc_id % 3 = 1
    ),
    samp AS (
        SELECT doc_id, n, unnest(generate_series(0, n - 1)) AS i
        FROM aud
    ),
    dev AS (
        SELECT doc_id, n, i,
               ((11 * doc_id + 5 * i) % 256) - 128 AS d,
               lag(((11 * doc_id + 5 * i) % 256) - 128)
                   OVER (PARTITION BY doc_id ORDER BY i) AS dp
        FROM samp
    )
    SELECT doc_id,
           CAST(max(n) AS BIGINT) AS n_samples,
           CAST(sum(CASE WHEN dp IS NOT NULL AND dp * d < 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings,
           CAST(sum(d * d) AS BIGINT) AS energy,
           CAST(max(abs(d)) AS BIGINT) AS peak,
           round(sqrt(CAST(sum(d * d) AS DOUBLE) / max(n)), 6) AS rms
    FROM dev GROUP BY doc_id ORDER BY doc_id
    """,
)
def wav_zero_crossing_features(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Classic audio features from ACTUALLY PARSED PCM: zero-crossing
    rate (the cheap voiced/unvoiced & pitch proxy), integer signal
    energy, peak amplitude, and RMS — computed from the samples the RIFF
    chunk walk returns, while the oracle re-derives them from the
    payload-generating formula, so a hash match proves the header walk
    AND every sample byte. All statistics are integers (8-bit samples
    centered at 128) except the final RMS division+sqrt.

    Scale shape: payload build + parse + fold all inside one Arrow
    mapInPandas (a handful of integer ops per sample); output one row
    per audio document."""
    d = (
        load_table(spark, sf_dir, "documents")
        .where((F.col("doc_id") < 100) & (F.col("doc_id") % 3 == 1))
        .select("doc_id")
    )

    @F.pandas_udf(T.BinaryType())
    def payload_of(doc_id: pd.Series) -> pd.Series:
        return pd.Series([_wav_payload(int(i)) for i in doc_id])

    media = d.select("doc_id", payload_of("doc_id").alias("payload"))
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("n_samples", T.LongType()),
            T.StructField("zero_crossings", T.LongType()),
            T.StructField("energy", T.LongType()),
            T.StructField("peak", T.LongType()),
            T.StructField("rms", T.DoubleType()),
        ]
    )

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in (
                "doc_id", "n_samples", "zero_crossings", "energy", "peak",
                "rms",
            )}
            for did, payload in zip(pdf["doc_id"], pdf["payload"]):
                s = _wav_samples(bytes(payload)).astype(np.int64) - 128
                zc = int(((s[:-1] * s[1:]) < 0).sum())
                energy = int((s * s).sum())
                rows["doc_id"].append(int(did))
                rows["n_samples"].append(int(s.size))
                rows["zero_crossings"].append(zc)
                rows["energy"].append(energy)
                rows["peak"].append(int(np.abs(s).max()))
                rows["rms"].append(math.sqrt(energy / s.size))
            yield pd.DataFrame(rows)

    out = media.mapInPandas(feats, schema)
    return out.withColumn("rms", F.round("rms", 6)).orderBy("doc_id")
