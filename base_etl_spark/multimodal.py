"""Multimodal operators: media payloads as `binary` columns, codecs in
Python.

Image/audio/video payloads are opaque `binary` columns next to typed
metadata. Four codecs are real and need only the stdlib and numpy:
RIFF/WAVE 16-bit PCM, 24-bit BMP, 8-bit RGB PNG (zlib deflate, all five
scanline filters) and AVI with uncompressed DIB frames. The `mm_*` keys
synthesize a planted payload per document (`planted_rgb` and the
closed-form waveforms), run it through encode -> decode, and report
integer statistics of the DECODED data, so each key's DuckDB oracle
recomputes the same closed form without any codec. The `*_stub`
functions are deterministic fakes for formats whose codecs are not
available here; `extract_features` and `sample_frames` run on them.

Every per-asset kernel runs through one runner, `_map_rows`, the only
Python boundary in this module; its docstring states the batch and
partitioning contract.

The fixtures carry no binary column, so `with_binary_payload` derives
one (utf-8 bytes of `text`); mm_binary_features checks those bytes'
length, digest and prefix against DuckDB's blob functions.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from base_etl_spark.io import Tables
from base_etl_spark.registry import query

#: schema of a multimodal asset table at scale: payload + typed metadata.
ASSET_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("media_type", IntegerType()),  # 0=image 1=audio 2=video
        StructField("payload", BinaryType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
    ]
)


def with_binary_payload(docs: DataFrame) -> DataFrame:
    """Derive the opaque binary column (utf-8 bytes of text stand in for
    a real media payload)."""
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        F.encode("text", "utf-8").alias("payload"),
        "lang",
        "n_chars",
    )


def _map_rows(
    df: DataFrame, schema: StructType, row_fn: Callable[..., Iterable[tuple]]
) -> DataFrame:
    """Run `row_fn` once per input row inside one Arrow-batched
    mapInPandas stage; the only Python boundary in this module.

    `row_fn` takes the row's columns as Python scalars, in `df`'s column
    order, and yields zero or more output tuples in `schema` field order.
    Each Arrow batch becomes one output batch with `schema.fieldNames()`
    as its columns.

    Codec work cannot be a JVM expression, and it is expensive per row
    while the rows themselves are small (a key or a payload), so the
    input is first hash-spread over `defaultParallelism` partitions on
    its first column: every core then holds batches even when the input
    is one small file (the reason llm_dedup._spread exists). Spark's
    Arrow batch size bounds the Python worker's memory; at 100 TB the
    stage is one exchange of the narrow input plus embarrassingly
    parallel per-row work, and nothing in Python ever sees more than one
    batch."""
    names = schema.fieldNames()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = zip(*(pdf[c].tolist() for c in pdf.columns))
            out = [o for row in rows for o in row_fn(*row)]
            yield pd.DataFrame.from_records(out, columns=names)

    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, df.columns[0]).mapInPandas(run, schema=schema)


def decode_image_stub(payload: bytes) -> np.ndarray:
    """STUB decoder — deterministic fake with a real decoder's interface.

    A production build replaces the body with e.g. PIL.Image.open(
    io.BytesIO(payload)); everything downstream (feature shape, batch
    plumbing) is unchanged. The fake folds the bytes into a fixed 8-dim
    'feature' so tests have stable values.
    """
    if payload is None:
        raise NotImplementedError("real decoder not available in this environment")
    arr = np.frombuffer(payload, dtype=np.uint8)
    pad = (-len(arr)) % 8
    arr = np.pad(arr, (0, pad)).reshape(-1, 8)
    return arr.mean(axis=0) / 255.0


_FEAT_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("features", ArrayType(DoubleType())),
    ]
)


def extract_features(assets: DataFrame) -> DataFrame:
    """Decode + feature-extract: the (stubbed) decoder runs once per
    asset and the features leave as a fixed-width array column."""

    def kernel(asset_id: int, payload: bytes):
        feats = np.round(decode_image_stub(payload), 6).tolist()
        yield asset_id, len(payload), feats

    return _map_rows(assets.select("asset_id", "payload"), _FEAT_SCHEMA, kernel)


@query(
    "mm_binary_features",
    oracle="""
    SELECT doc_id                                   AS asset_id,
           octet_length(encode(text))               AS n_bytes,
           sha256(text)                             AS payload_sha,
           substr(text, 1, 4)                       AS head_chars
    FROM documents
    """,
)
def mm_binary_features(t: Tables) -> DataFrame:
    """Binary-column metadata surface (D row): byte length, digest, head
    bytes — the engine-neutral slice of the multimodal path. The decode /
    feature-extract stage is exercised in tests (stubbed decoder)."""
    payload = F.encode("text", "utf-8")
    return t.documents.select(
        F.col("doc_id").alias("asset_id"),
        F.octet_length(payload).cast("bigint").alias("n_bytes"),
        F.sha2("text", 256).alias("payload_sha"),
        F.substring("text", 1, 4).alias("head_chars"),
    )


def resize_image_stub(payload: bytes, width: int = 32, height: int = 32) -> bytes:
    """STUB resize — a real build calls PIL/libvips and returns re-encoded
    bytes; the fake deterministically re-buckets the payload to
    width*height bytes so downstream batch shapes are realistic."""
    if payload is None:
        raise NotImplementedError("real codec not available in this environment")
    arr = np.frombuffer(payload, dtype=np.uint8)
    idx = (np.arange(width * height) * max(len(arr), 1) // (width * height)) % max(len(arr), 1)
    return arr[idx].tobytes()


def sample_frames_stub(payload: bytes, n_frames: int = 4) -> list[bytes]:
    """STUB video frame sampler — evenly spaced 'frames' (byte slices).
    A real build hands payload to ffmpeg/pyav and returns encoded frames;
    the per-frame downstream plumbing (explode to one row per frame) is
    identical."""
    if payload is None:
        raise NotImplementedError("real codec not available in this environment")
    n = max(len(payload) // n_frames, 1)
    return [payload[i * n : (i + 1) * n] for i in range(n_frames)]


_FRAME_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("frame_no", IntegerType()),
        StructField("frame", BinaryType()),
    ]
)


def sample_frames(assets: DataFrame, n_frames: int = 4) -> DataFrame:
    """1 asset -> n_frames rows: the video pre-processing shape, decode
    once per asset and emit per-frame rows for downstream featurization."""

    def kernel(asset_id: int, payload: bytes):
        for i, fr in enumerate(sample_frames_stub(payload, n_frames)):
            yield asset_id, i, fr

    return _map_rows(assets.select("asset_id", "payload"), _FRAME_SCHEMA, kernel)


def decode_audio_stub(payload: bytes, sample_rate: int = 16_000) -> np.ndarray:
    """STUB audio decoder — a real build calls ffmpeg/soundfile and
    returns a float waveform; the fake maps bytes to [-1, 1) samples so
    downstream feature code (framing, energy, spectrogram shapes) runs
    against realistic arrays."""
    if payload is None:
        raise NotImplementedError("real codec not available in this environment")
    arr = np.frombuffer(payload, dtype=np.uint8).astype(np.float64)
    return (arr - 128.0) / 128.0


# ---------------------------------------------------------------------------
# Audio codec: RIFF/WAVE 16-bit PCM — header construction, chunk walking,
# endianness and PCM->float conversion.
# ---------------------------------------------------------------------------


def encode_wav_pcm16(samples: np.ndarray, sample_rate: int = 16_000) -> bytes:
    """Minimal RIFF/WAVE writer: mono 16-bit little-endian PCM. Used to
    synthesize genuine WAV payloads for the decode tests and the
    mm_audio_decode key (the fixtures ship no media bytes)."""
    import struct

    data = np.asarray(samples).astype("<i2").tobytes()
    n = len(data)
    return (
        b"RIFF" + struct.pack("<I", 36 + n) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, sample_rate, sample_rate * 2, 2, 16)
        + b"data" + struct.pack("<I", n) + data
    )


def decode_wav_pcm16(payload: bytes) -> tuple[int, np.ndarray]:
    """REAL WAV decoder (not a stub): validates the RIFF/WAVE container,
    walks chunks by their declared sizes (word-aligned, so files with
    extra LIST/INFO chunks parse correctly instead of assuming fixed
    offsets), requires PCM/mono/16-bit, and returns
    (sample_rate, float64 waveform scaled to [-1, 1))."""
    import struct

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    rate: int | None = None
    data: bytes | None = None
    pos = 12
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt_tag, channels, rate, _, _, bits = struct.unpack("<HHIIHH", body[:16])
            if fmt_tag != 1 or channels != 1 or bits != 16:
                raise ValueError("only mono 16-bit PCM supported")
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # RIFF chunks are word-aligned
    if rate is None or data is None:
        raise ValueError("missing fmt / data chunk")
    return rate, np.frombuffer(data, dtype="<i2").astype(np.float64) / 32768.0


_FRAME_ENERGY_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("frame_no", IntegerType()),
        StructField("n_samples", LongType()),
        StructField("energy", LongType()),
    ]
)


@query(
    "mm_audio_frame_energy",
    oracle="""
    WITH d AS (SELECT doc_id, 50 + doc_id % 50 AS n,
                      (50 + doc_id % 50) // 4 AS flen
               FROM documents),
         s AS (
             SELECT doc_id, flen, i // flen AS frame_no,
                    ((doc_id * 31 + i * 7) % 65536) - 32768 AS smp
             FROM d, LATERAL (SELECT unnest(generate_series(0,
                      CAST(4 * flen - 1 AS INT))) AS i) g
         )
    SELECT doc_id                          AS asset_id,
           CAST(frame_no AS INT)           AS frame_no,
           CAST(flen AS BIGINT)            AS n_samples,
           CAST(sum(smp * smp) AS BIGINT)  AS energy
    FROM s GROUP BY doc_id, frame_no, flen
    """,
)
def mm_audio_frame_energy(t: Tables) -> DataFrame:
    """Frame-level energy over the REAL audio decode path: the same
    deterministic WAV payloads as mm_audio_decode are decoded through
    the chunk-walking parser, the waveform splits into 4 equal frames
    of n//4 samples (tail beyond 4·(n//4) dropped — the closed-form
    framing every feature extractor uses before FFTs), and per-frame
    energy (Σ sample², exact integer domain) is hash-checked against
    DuckDB's generate_series recomputation. This is the 1→N row shape
    of real audio featurization (one asset, one row per frame) driven
    by genuine decoded bytes, not the identity stub — the decode +
    framing + per-frame-reduce pipeline a spectrogram build reuses
    unchanged."""

    def kernel(doc_id: int):
        n = 50 + doc_id % 50
        i = np.arange(n, dtype=np.int64)
        smp = ((doc_id * 31 + i * 7) % 65536) - 32768
        _, wave = decode_wav_pcm16(encode_wav_pcm16(smp))
        rec = np.rint(wave * 32768.0).astype(np.int64)
        flen = n // 4
        for f in range(4):
            fr = rec[f * flen : (f + 1) * flen]
            yield doc_id, f, flen, int(np.sum(fr * fr))

    return _map_rows(t.documents.select("doc_id"), _FRAME_ENERGY_SCHEMA, kernel)


_AUDIO_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_samples", LongType()),
        StructField("sum_sq", LongType()),
        StructField("peak_abs", LongType()),
    ]
)


@query(
    "mm_audio_decode",
    oracle="""
    WITH d AS (SELECT doc_id, 50 + doc_id % 50 AS n FROM documents),
         s AS (
             SELECT doc_id, n,
                    ((doc_id * 31 + i * 7) % 65536) - 32768 AS smp
             FROM d, LATERAL (SELECT unnest(generate_series(0, CAST(n - 1 AS INT))) AS i) g
         )
    SELECT doc_id                              AS asset_id,
           CAST(16000 AS INT)                  AS sample_rate,
           CAST(n AS BIGINT)                   AS n_samples,
           CAST(sum(smp * smp) AS BIGINT)      AS sum_sq,
           CAST(max(abs(smp)) AS BIGINT)       AS peak_abs
    FROM s GROUP BY doc_id, n
    """,
)
def mm_audio_decode(t: Tables) -> DataFrame:
    """REAL audio decode path, driver-checked end to end. Per document a
    deterministic PCM16 waveform (sample i = (doc_id*31 + i*7) mod 65536
    − 32768, n = 50 + doc_id % 50 samples) is encoded into a genuine
    RIFF/WAVE container, then decoded back through decode_wav_pcm16 — a
    real chunk-walking parser, not the identity stub. The emitted stats
    (sum of squares, peak, count) are recovered from the DECODED float
    waveform (×32768 is exact in float64), so a wrong header offset,
    chunk size, or endianness flips the hash. The oracle computes the
    same closed-form stats in DuckDB via generate_series — fully
    independent of the codec.

    Stats stay in the exact integer domain (no float rounding): dyadic
    rationals like 256/32768 tie at any decimal rounding width and
    Python/DuckDB break ties differently."""

    def kernel(doc_id: int):
        n = 50 + doc_id % 50
        i = np.arange(n, dtype=np.int64)
        smp = ((doc_id * 31 + i * 7) % 65536) - 32768
        rate, wave = decode_wav_pcm16(encode_wav_pcm16(smp))
        rec = np.rint(wave * 32768.0).astype(np.int64)
        yield (doc_id, rate, len(rec), int(np.sum(rec * rec)),
               int(np.max(np.abs(rec))))

    return _map_rows(t.documents.select("doc_id"), _AUDIO_SCHEMA, kernel)


# ---------------------------------------------------------------------------
# Image codecs: BMP (24-bit BI_RGB: header fields, bottom-up rows, BGR
# channel order, 4-byte row stride) and PNG (deflate, five filters).
# ---------------------------------------------------------------------------


def planted_rgb(key: int, w: int, h: int, frame: int = 0) -> np.ndarray:
    """The planted synthetic image: pixel i's channels are
    (key·7 + frame·29 + 13i, key·11 + frame·31 + 17i,
    key·19 + frame·37 + 23i) mod 256 — the SINGLE source of truth for
    the content recipe shared by mm_image_decode / mm_image_resize /
    mm_video_frames / mm_image_dedup AND their closed-form DuckDB
    oracles; changing a coefficient here must change the oracles in
    lockstep (each key's driver hash enforces that)."""
    i = np.arange(w * h, dtype=np.int64)
    return np.stack(
        [
            (key * 7 + frame * 29 + i * 13) % 256,
            (key * 11 + frame * 31 + i * 17) % 256,
            (key * 19 + frame * 37 + i * 23) % 256,
        ],
        axis=1,
    ).astype(np.uint8).reshape(h, w, 3)


def encode_bmp24(pixels: np.ndarray) -> bytes:
    """Minimal BMP writer: (h, w, 3) uint8 RGB → 24-bit BI_RGB file.
    Rows are stored bottom-up and padded to 4-byte stride, per the
    format; channels are stored BGR."""
    import struct

    h, w, _ = pixels.shape
    stride = (w * 3 + 3) & ~3
    img_size = stride * h
    header = b"BM" + struct.pack("<IHHI", 14 + 40 + img_size, 0, 0, 14 + 40)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0)
    body = bytearray()
    for row in pixels[::-1]:  # bottom-up
        line = row[:, ::-1].tobytes()  # RGB -> BGR
        body += line + b"\x00" * (stride - len(line))
    return header + info + bytes(body)


def decode_bmp24(payload: bytes) -> np.ndarray:
    """REAL BMP decoder (not a stub): validates the BM signature and
    BITMAPINFOHEADER, requires uncompressed 24-bit, honors the declared
    pixel-data offset, un-pads the 4-byte row stride, flips bottom-up row
    order, and reorders BGR→RGB. Returns (h, w, 3) uint8."""
    import struct

    if payload[:2] != b"BM" or len(payload) < 54:
        raise ValueError("not a BMP payload")
    (data_off,) = struct.unpack("<I", payload[10:14])
    hdr_size, w, h, planes, bits, comp = struct.unpack("<IiiHHI", payload[14:34])
    if hdr_size < 40 or bits != 24 or comp != 0:
        raise ValueError("only uncompressed 24-bit BMP supported")
    if h <= 0 or w <= 0:
        raise ValueError("top-down or degenerate BMP not supported")
    stride = (w * 3 + 3) & ~3
    rows = []
    for r in range(h):
        line = payload[data_off + r * stride : data_off + r * stride + w * 3]
        rows.append(np.frombuffer(line, dtype=np.uint8).reshape(w, 3)[:, ::-1])
    return np.stack(rows[::-1])  # bottom-up -> top-down


@query(
    "mm_image_decode",
    oracle="""
    WITH d AS (SELECT doc_id, 3 + doc_id % 5 AS w, 2 + doc_id % 4 AS h
               FROM documents),
         px AS (
             SELECT doc_id, w, h, i,
                    (doc_id * 7 + i * 13) % 256        AS r,
                    (doc_id * 11 + i * 17) % 256       AS g,
                    (doc_id * 19 + i * 23) % 256       AS b
             FROM d, LATERAL (SELECT unnest(generate_series(0, CAST(w * h - 1 AS INT))) AS i) gs
         )
    SELECT doc_id                        AS asset_id,
           CAST(w AS INT)                AS width,
           CAST(h AS INT)                AS height,
           CAST(sum(r) AS BIGINT)        AS sum_r,
           CAST(sum(g) AS BIGINT)        AS sum_g,
           CAST(sum(b) AS BIGINT)        AS sum_b,
           CAST(max(greatest(r, g, b)) AS BIGINT) AS peak
    FROM px GROUP BY doc_id, w, h
    """,
)
def mm_image_decode(t: Tables) -> DataFrame:
    """REAL image decode path, driver-checked end to end — the BMP twin
    of mm_audio_decode. Per document a deterministic w×h RGB image
    (pixel i: channels (doc_id·7+13i, doc_id·11+17i, doc_id·19+23i) mod
    256; w = 3+doc_id%5 so the w·3 stride is NOT always a multiple of 4
    and the padding rule is genuinely exercised) is encoded into a real
    BMP container and decoded back through decode_bmp24. Channel sums +
    peak come from the DECODED array: a wrong stride, row order, channel
    order, or data offset flips the hash. The oracle recomputes the
    closed form in DuckDB, independent of the codec. Integer-domain
    stats (see mm_audio_decode on rounding ties)."""

    def kernel(doc_id: int):
        w, h = 3 + doc_id % 5, 2 + doc_id % 4
        rgb = planted_rgb(doc_id, w, h)
        dec = decode_bmp24(encode_bmp24(rgb)).astype(np.int64)
        yield (doc_id, w, h, int(dec[:, :, 0].sum()), int(dec[:, :, 1].sum()),
               int(dec[:, :, 2].sum()), int(dec.max()))

    return _map_rows(t.documents.select("doc_id"), _IMAGE_SCHEMA, kernel)


_IMAGE_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("sum_r", LongType()),
        StructField("sum_g", LongType()),
        StructField("sum_b", LongType()),
        StructField("peak", LongType()),
    ]
)


def resize_bmp_nearest(payload: bytes, tw: int, th: int) -> bytes:
    """REAL resize for the real BMP path: decode, nearest-neighbor
    sample (source pixel (x·sw)//tw, (y·sh)//th — the canonical integer
    mapping), re-encode. Replaces resize_image_stub whenever the payload
    is an actual BMP; the stub remains for the formats whose codecs
    aren't in this environment."""
    src = decode_bmp24(payload)
    sh, sw, _ = src.shape
    ys = (np.arange(th) * sh) // th
    xs = (np.arange(tw) * sw) // tw
    return encode_bmp24(src[ys][:, xs])


def _paeth(a: int, b: int, c: int) -> int:
    """PNG Paeth predictor (RFC 2083 §6.6): the neighbor (left, up,
    up-left) whose value is closest to a + b - c, ties broken a, b, c."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def encode_png_rgb24(pixels: np.ndarray, filter_type: int = 0) -> bytes:
    """REAL PNG writer over stdlib zlib: (h, w, 3) uint8 RGB → 8-bit
    color-type-2 PNG with one IDAT chunk. `filter_type` (0-4) is applied
    to EVERY scanline so the decoder's un-filtering of each predictor —
    None, Sub, Up, Average, Paeth — can be exercised from production
    payloads, not just unit fixtures. CRCs are real (zlib.crc32)."""
    import struct
    import zlib

    if filter_type not in (0, 1, 2, 3, 4):
        raise ValueError("PNG filter type must be 0..4")
    h, w, _ = pixels.shape
    px = pixels.astype(np.int64)
    raw = bytearray()
    prev = np.zeros((w, 3), dtype=np.int64)
    for y in range(h):
        row = px[y]
        left = np.vstack([np.zeros((1, 3), np.int64), row[:-1]])
        ul = np.vstack([np.zeros((1, 3), np.int64), prev[:-1]])
        if filter_type == 0:
            filt = row
        elif filter_type == 1:  # Sub
            filt = row - left
        elif filter_type == 2:  # Up
            filt = row - prev
        elif filter_type == 3:  # Average
            filt = row - (left + prev) // 2
        else:  # Paeth
            pred = np.array(
                [
                    [_paeth(int(left[x, c]), int(prev[x, c]), int(ul[x, c]))
                     for c in range(3)]
                    for x in range(w)
                ],
                dtype=np.int64,
            )
            filt = row - pred
        raw.append(filter_type)
        raw += (filt % 256).astype(np.uint8).tobytes()
        prev = row

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data)) + tag + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + chunk(b"IEND", b"")
    )


def decode_png_rgb24(payload: bytes) -> np.ndarray:
    """REAL PNG decoder (not a stub), pure stdlib: validates the 8-byte
    signature, walks chunks by declared length VERIFYING every CRC,
    requires 8-bit color-type-2 (truecolor RGB) non-interlaced,
    concatenates all IDAT chunks, zlib-inflates, and un-filters each
    scanline for ALL FIVE predictors (None/Sub/Up/Average/Paeth, RFC
    2083 §6). Returns (h, w, 3) uint8. Per-pixel reconstruction is
    sequential in x for Sub/Average/Paeth by definition — cost is
    asset-bounded (fixture assets are ≤ 8x8)."""
    import struct
    import zlib

    if payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG payload")
    pos, ihdr, idat, seen_end = 8, None, bytearray(), False
    while pos + 8 <= len(payload):
        (ln,) = struct.unpack(">I", payload[pos : pos + 4])
        tag = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + ln]
        if len(data) != ln or pos + 12 + ln > len(payload):
            raise ValueError("truncated PNG chunk")
        (crc,) = struct.unpack(">I", payload[pos + 8 + ln : pos + 12 + ln])
        if crc != (zlib.crc32(tag + data) & 0xFFFFFFFF):
            raise ValueError(f"PNG chunk CRC mismatch in {tag!r}")
        if tag == b"IHDR":
            ihdr = data
        elif tag == b"IDAT":
            idat += data
        elif tag == b"IEND":
            seen_end = True
            break
        pos += 12 + ln
    if ihdr is None or not seen_end:
        raise ValueError("PNG missing IHDR or IEND")
    w, h, depth, ctype, comp, filt, inter = struct.unpack(">IIBBBBB", ihdr)
    if depth != 8 or ctype != 2:
        raise ValueError("only 8-bit truecolor (color type 2) supported")
    if comp != 0 or filt != 0 or inter != 0:
        raise ValueError("unsupported compression/filter/interlace method")
    raw = zlib.decompress(bytes(idat))
    if len(raw) != h * (1 + w * 3):
        raise ValueError("PNG pixel data length mismatch")
    out = np.zeros((h, w, 3), dtype=np.int64)
    stride = 1 + w * 3
    for y in range(h):
        ft = raw[y * stride]
        line = np.frombuffer(
            raw[y * stride + 1 : (y + 1) * stride], dtype=np.uint8
        ).astype(np.int64).reshape(w, 3)
        up = out[y - 1] if y > 0 else np.zeros((w, 3), np.int64)
        if ft == 0:
            out[y] = line
        elif ft == 2:  # Up
            out[y] = (line + up) % 256
        elif ft in (1, 3, 4):  # Sub / Average / Paeth: left-sequential
            for x in range(w):
                left = out[y, x - 1] if x > 0 else np.zeros(3, np.int64)
                ul = up[x - 1] if x > 0 else np.zeros(3, np.int64)
                if ft == 1:
                    pred = left
                elif ft == 3:
                    pred = (left + up[x]) // 2
                else:
                    pred = np.array(
                        [_paeth(int(left[c]), int(up[x, c]), int(ul[c]))
                         for c in range(3)],
                        dtype=np.int64,
                    )
                out[y, x] = (line[x] + pred) % 256
        else:
            raise ValueError(f"unknown PNG filter type {ft}")
    return out.astype(np.uint8)


_PNG_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("filter_type", IntegerType()),
        StructField("sum_r", LongType()),
        StructField("sum_g", LongType()),
        StructField("sum_b", LongType()),
        StructField("peak", LongType()),
    ]
)


@query(
    "mm_image_png_decode",
    oracle="""
    WITH d AS (SELECT doc_id, 3 + doc_id % 5 AS w, 2 + doc_id % 4 AS h
               FROM documents),
         px AS (
             SELECT doc_id, w, h, i,
                    (doc_id * 7 + i * 13) % 256        AS r,
                    (doc_id * 11 + i * 17) % 256       AS g,
                    (doc_id * 19 + i * 23) % 256       AS b
             FROM d, LATERAL (SELECT unnest(generate_series(0, CAST(w * h - 1 AS INT))) AS i) gs
         )
    SELECT doc_id                        AS asset_id,
           CAST(w AS INT)                AS width,
           CAST(h AS INT)                AS height,
           CAST(doc_id % 5 AS INT)       AS filter_type,
           CAST(sum(r) AS BIGINT)        AS sum_r,
           CAST(sum(g) AS BIGINT)        AS sum_g,
           CAST(sum(b) AS BIGINT)        AS sum_b,
           CAST(max(greatest(r, g, b)) AS BIGINT) AS peak
    FROM px GROUP BY doc_id, w, h
    """,
)
def mm_image_png_decode(t: Tables) -> DataFrame:
    """REAL PNG decode path, driver-checked end to end — the COMPRESSED
    codec tier above mm_image_decode's BMP. Per document the planted
    w×h RGB image is encoded into a real PNG (stdlib zlib deflate + real
    chunk CRCs) with scanline filter doc_id % 5 — so ALL FIVE RFC 2083
    predictors (None, Sub, Up, Average, Paeth) are exercised by the
    PRODUCTION hash gate, not just unit fixtures — then decoded back
    through the chunk-walking, CRC-verifying inflate + un-filter kernel.
    Channel sums + peak come from the DECODED array: a wrong predictor
    inverse, filter byte, CRC, or inflate framing flips the hash vs
    DuckDB's closed-form recompute (codec-independent, like the BMP
    twin)."""

    def kernel(doc_id: int):
        w, h = 3 + doc_id % 5, 2 + doc_id % 4
        ft = doc_id % 5
        rgb = planted_rgb(doc_id, w, h)
        dec = decode_png_rgb24(encode_png_rgb24(rgb, ft)).astype(np.int64)
        yield (doc_id, w, h, ft, int(dec[:, :, 0].sum()), int(dec[:, :, 1].sum()),
               int(dec[:, :, 2].sum()), int(dec.max()))

    return _map_rows(t.documents.select("doc_id"), _PNG_SCHEMA, kernel)


@query(
    "mm_image_resize",
    oracle="""
    WITH d AS (SELECT doc_id, 3 + doc_id % 5 AS w, 2 + doc_id % 4 AS h
               FROM documents),
         px AS (
             SELECT doc_id, w, h, ty, tx,
                    ((ty * h) // 4) * w + ((tx * w) // 4) AS src_i
             FROM d,
                  LATERAL (SELECT unnest(generate_series(0, 3)) AS ty) a,
                  LATERAL (SELECT unnest(generate_series(0, 3)) AS tx) b
         )
    SELECT doc_id                                         AS asset_id,
           CAST(sum((doc_id * 7  + src_i * 13) % 256) AS BIGINT) AS sum_r,
           CAST(sum((doc_id * 11 + src_i * 17) % 256) AS BIGINT) AS sum_g,
           CAST(sum((doc_id * 19 + src_i * 23) % 256) AS BIGINT) AS sum_b
    FROM px GROUP BY doc_id
    """,
)
def mm_image_resize(t: Tables) -> DataFrame:
    """REAL image RESIZE path, driver-checked: the same deterministic
    w×h BMPs as mm_image_decode go through decode → nearest-neighbor
    4×4 downsample → re-encode → decode again — two full trips through
    the real codec plus the sampling arithmetic — and the resized
    channel sums are checked against DuckDB computing the nearest-
    neighbor index map ((ty·h)//4, (tx·w)//4 → row-major src_i) in
    closed form. Wrong rounding direction in the sampler, or any
    encode/decode asymmetry, flips the hash."""

    def kernel(doc_id: int):
        w, h = 3 + doc_id % 5, 2 + doc_id % 4
        rgb = planted_rgb(doc_id, w, h)
        small = decode_bmp24(
            resize_bmp_nearest(encode_bmp24(rgb), 4, 4)
        ).astype(np.int64)
        yield (doc_id, int(small[:, :, 0].sum()), int(small[:, :, 1].sum()),
               int(small[:, :, 2].sum()))

    return _map_rows(t.documents.select("doc_id"), _RESIZE_SCHEMA, kernel)


_RESIZE_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("sum_r", LongType()),
        StructField("sum_g", LongType()),
        StructField("sum_b", LongType()),
    ]
)


@query(
    "mm_frame_stats",
    oracle="""
    WITH d AS (
        SELECT doc_id AS asset_id, hex(encode(text)) AS hx,
               greatest(octet_length(encode(text)) // 4, 1) AS flen
        FROM documents
    )
    SELECT asset_id, frame_no,
           len(substr(hx, frame_no * flen * 2 + 1, flen * 2)) // 2
               AS n_bytes,
           substr(hx, frame_no * flen * 2 + 1, flen * 2) AS frame_hex
    FROM d, (SELECT unnest([0, 1, 2, 3]) AS frame_no)
    WHERE len(substr(hx, frame_no * flen * 2 + 1, flen * 2)) > 0
    """,
)
def mm_frame_stats(t: Tables) -> DataFrame:
    """Frame-sampling plumbing, driver-checked end to end: the derived
    binary payload goes through the frame sampler (one row per frame
    out), and each frame's bytes are verified VERBATIM (hex-encoded)
    against DuckDB slicing the same payload in the hex domain — 2 hex
    chars per byte, so the arithmetic is byte-exact for ANY text
    including multibyte UTF-8 (slicing by characters would diverge
    where a byte slice splits a UTF-8 sequence). This certifies the
    batch shape, the 1->N row explosion, and the slice arithmetic —
    everything a real ffmpeg build would reuse unchanged. Empty tail
    frames (payload shorter than 4 bytes) are dropped on both sides."""
    frames = sample_frames(with_binary_payload(t.documents), n_frames=4)
    return frames.filter(F.octet_length("frame") > 0).select(
        "asset_id",
        "frame_no",
        F.octet_length("frame").cast("bigint").alias("n_bytes"),
        F.hex("frame").alias("frame_hex"),
    )


# ---------------------------------------------------------------------------
# Video codec: AVI (RIFF container, uncompressed 24-bit DIB frames).
# The container walker generalizes the WAV chunk walker to NESTED RIFF
# lists (hdrl/strl/movi), and each frame reuses the BMP row rules
# (bottom-up, BGR, 4-byte stride), so a wrong list offset, stride, frame
# order, or channel order is caught by the closed-form oracle.
# ---------------------------------------------------------------------------


def encode_avi_rgb24(frames: list[np.ndarray], fps: int = 25) -> bytes:
    """Minimal AVI writer: a list of (h, w, 3) uint8 RGB frames → a
    genuine RIFF 'AVI ' file with hdrl (avih + strl[strh 'vids'/'DIB ',
    strf BITMAPINFOHEADER]), a JUNK pad chunk, the movi list of '00db'
    uncompressed DIB frames (bottom-up rows, BGR, 4-byte stride), and a
    trailing idx1 index. Used to synthesize genuine video payloads for
    the decode tests and the mm_video_frames key (the fixtures ship no
    media bytes)."""
    import struct

    h, w, _ = frames[0].shape
    stride = (w * 3 + 3) & ~3
    frame_size = stride * h

    def dib(frame: np.ndarray) -> bytes:
        body = bytearray()
        for row in frame[::-1]:  # bottom-up
            line = row[:, ::-1].tobytes()  # RGB -> BGR
            body += line + b"\x00" * (stride - len(line))
        return bytes(body)

    def chunk(cid: bytes, body: bytes) -> bytes:
        return cid + struct.pack("<I", len(body)) + body + (b"\x00" * (len(body) & 1))

    def lst(ltype: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", ltype + body)

    avih = struct.pack(
        "<IIIIIIIIIIIIII",
        1_000_000 // fps,  # dwMicroSecPerFrame
        frame_size * fps,  # dwMaxBytesPerSec
        0,  # dwPaddingGranularity
        0x10,  # dwFlags: AVIF_HASINDEX
        len(frames),  # dwTotalFrames
        0,  # dwInitialFrames
        1,  # dwStreams
        frame_size,  # dwSuggestedBufferSize
        w,
        h,
        0, 0, 0, 0,  # dwReserved
    )
    strh = (
        b"vids" + b"DIB " + struct.pack("<IHHIIIIIIII", 0, 0, 0, 0, 1, fps, 0,
                                        len(frames), frame_size, 0xFFFFFFFF, 0)
        + struct.pack("<HHHH", 0, 0, w, h)  # rcFrame
    )
    strf = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, frame_size, 2835, 2835, 0, 0
    )
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih)
        + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi_body = b"".join(chunk(b"00db", dib(f)) for f in frames)
    movi = lst(b"movi", movi_body)
    # idx1: one entry per frame chunk (offset relative to movi list start)
    idx_entries = []
    off = 4  # past the 'movi' fourcc
    for f in frames:
        idx_entries.append(b"00db" + struct.pack("<III", 0x10, off, frame_size))
        off += 8 + frame_size + (frame_size & 1)
    idx1 = chunk(b"idx1", b"".join(idx_entries))
    junk = chunk(b"JUNK", b"\x00" * 12)  # real muxers pad; walkers must skip
    riff_body = b"AVI " + hdrl + junk + movi + idx1
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


def _walk_riff(payload: bytes, pos: int, end: int):
    """Yield (fourcc, list_type_or_None, body_start, body_size) for each
    chunk in [pos, end); chunks are word-aligned per RIFF."""
    import struct

    while pos + 8 <= end:
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        if cid in (b"LIST", b"RIFF"):
            ltype = payload[pos + 8 : pos + 12]
            yield cid, ltype, pos + 12, size - 4
        else:
            yield cid, None, pos + 8, size
        pos += 8 + size + (size & 1)


def decode_avi_rgb24(payload: bytes) -> list[np.ndarray]:
    """REAL AVI decoder (not a stub): validates the RIFF/'AVI ' container,
    walks the nested lists by declared sizes (word-aligned — JUNK/idx1 and
    unknown chunks are skipped, never assumed absent), reads width/height/
    frame count from avih, requires uncompressed 24-bit DIB in strf, then
    walks the movi list collecting '00db'/'00dc' frame chunks and decodes
    each frame's rows (4-byte stride un-pad, bottom-up flip, BGR→RGB).
    Returns a list of (h, w, 3) uint8 arrays, one per frame, in stream
    order. Raises on truncated frames or a frame-count mismatch with the
    header — a walker that silently drops tail frames would pass a weaker
    check."""
    import struct

    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI payload")
    w = h = total = None
    bits = comp = None
    frame_chunks: list[bytes] = []

    def visit(pos: int, end: int) -> None:
        nonlocal w, h, total, bits, comp
        for cid, ltype, body_start, body_size in _walk_riff(payload, pos, end):
            if cid == b"LIST" and ltype in (b"hdrl", b"strl"):
                visit(body_start, body_start + body_size)
            elif cid == b"LIST" and ltype == b"movi":
                for fid, _, fs, fsz in _walk_riff(payload, body_start,
                                                  body_start + body_size):
                    if fid[2:4] in (b"db", b"dc"):
                        frame_chunks.append(payload[fs : fs + fsz])
            elif cid == b"avih":
                vals = struct.unpack("<14I", payload[body_start : body_start + 56])
                total, w, h = vals[4], vals[8], vals[9]
            elif cid == b"strf":
                _, bw, bh, _, bits, comp = struct.unpack(
                    "<IiiHHI", payload[body_start : body_start + 20]
                )

    try:
        visit(12, 12 + max(len(payload) - 12, 0))
    except struct.error as e:  # truncated header/chunk inside the walk
        raise ValueError(f"truncated AVI container: {e}") from e
    if w is None or total is None:
        raise ValueError("missing avih header")
    if bits != 24 or comp != 0:
        raise ValueError("only uncompressed 24-bit DIB frames supported")
    if len(frame_chunks) != total:
        raise ValueError(
            f"frame count mismatch: header says {total}, movi has {len(frame_chunks)}"
        )
    stride = (w * 3 + 3) & ~3
    frames = []
    for data in frame_chunks:
        if len(data) < stride * h:
            raise ValueError("truncated frame chunk")
        rows = [
            np.frombuffer(data[r * stride : r * stride + w * 3], dtype=np.uint8)
            .reshape(w, 3)[:, ::-1]
            for r in range(h)
        ]
        frames.append(np.stack(rows[::-1]))  # bottom-up -> top-down
    return frames


_VIDEO_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("frame_no", IntegerType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("sum_r", LongType()),
        StructField("sum_g", LongType()),
        StructField("sum_b", LongType()),
        StructField("peak", LongType()),
    ]
)


@query(
    "mm_video_frames",
    oracle="""
    WITH d AS (SELECT doc_id, 3 + doc_id % 5 AS w, 2 + doc_id % 4 AS h,
                      2 + doc_id % 3 AS nf
               FROM documents),
         fr AS (
             SELECT doc_id, w, h, f
             FROM d, LATERAL (SELECT unnest(generate_series(0,
                      CAST(nf - 1 AS INT))) AS f) g
         ),
         px AS (
             SELECT doc_id, w, h, f,
                    (doc_id * 7  + f * 29 + i * 13) % 256 AS r,
                    (doc_id * 11 + f * 31 + i * 17) % 256 AS g2,
                    (doc_id * 19 + f * 37 + i * 23) % 256 AS b
             FROM fr, LATERAL (SELECT unnest(generate_series(0,
                      CAST(w * h - 1 AS INT))) AS i) gs
         )
    SELECT doc_id                                      AS asset_id,
           CAST(f AS INT)                              AS frame_no,
           CAST(w AS INT)                              AS width,
           CAST(h AS INT)                              AS height,
           CAST(sum(r) AS BIGINT)                      AS sum_r,
           CAST(sum(g2) AS BIGINT)                     AS sum_g,
           CAST(sum(b) AS BIGINT)                      AS sum_b,
           CAST(max(greatest(r, g2, b)) AS BIGINT)     AS peak
    FROM px GROUP BY doc_id, f, w, h
    """,
)
def mm_video_frames(t: Tables) -> DataFrame:
    """REAL video decode path, driver-checked end to end — completes the
    image/audio/video codec triad (mm_image_decode / mm_audio_decode /
    this). Per document a deterministic nf-frame video (nf = 2+doc_id%3;
    frame f, pixel i: channels (doc_id·7+29f+13i, doc_id·11+31f+17i,
    doc_id·19+37f+23i) mod 256; w = 3+doc_id%5 so the DIB stride padding
    is genuinely exercised) is muxed into a genuine AVI container —
    nested hdrl/strl lists, JUNK padding, movi frame chunks, idx1 index —
    then demuxed back through decode_avi_rgb24: a real recursive RIFF
    walker, not the byte-slice stub. Per-frame channel sums + peak come
    from the DECODED frames (1→N rows, the mm_audio_frame_energy
    protocol), so a wrong list offset, skipped JUNK chunk, frame-order,
    stride, or BGR mistake flips the hash. The oracle recomputes the
    closed form in DuckDB via generate_series, fully independent of the
    codec. Integer-domain stats (see mm_audio_decode on rounding ties)."""

    def kernel(doc_id: int):
        w, h = 3 + doc_id % 5, 2 + doc_id % 4
        nf = 2 + doc_id % 3
        src = [planted_rgb(doc_id, w, h, frame=f) for f in range(nf)]
        for f, frame in enumerate(decode_avi_rgb24(encode_avi_rgb24(src))):
            fi = frame.astype(np.int64)
            yield (doc_id, f, w, h, int(fi[:, :, 0].sum()), int(fi[:, :, 1].sum()),
                   int(fi[:, :, 2].sum()), int(fi.max()))

    return _map_rows(t.documents.select("doc_id"), _VIDEO_SCHEMA, kernel)


@query(
    "mm_image_dedup",
    oracle="""
    WITH d AS (
        SELECT doc_id, doc_id % 37 AS k,
               3 + (doc_id % 37) % 5 AS w,
               2 + (doc_id % 37) % 4 AS h
        FROM documents
    ),
    px AS (
        SELECT doc_id, w * h AS n, i,
               (k * 7 + 13 * i) % 256
             + (k * 11 + 17 * i) % 256
             + (k * 19 + 23 * i) % 256 AS gray
        FROM d, LATERAL (SELECT unnest(generate_series(0, w * h - 1)) AS i) g
    ),
    tot AS (
        SELECT doc_id, sum(gray) AS sg, max(n) AS n
        FROM px GROUP BY doc_id
    ),
    hs AS (
        SELECT px.doc_id,
               CAST(sum(CASE WHEN px.gray * tot.n > tot.sg
                             THEN (CAST(1 AS BIGINT) << px.i) ELSE 0 END)
                    AS BIGINT) AS img_hash
        FROM px JOIN tot ON px.doc_id = tot.doc_id
        GROUP BY px.doc_id
    ),
    rep AS (
        SELECT img_hash, min(doc_id) AS rep_doc_id, count(*) AS n_members
        FROM hs GROUP BY img_hash
    )
    SELECT hs.doc_id, hs.img_hash, rep.rep_doc_id, rep.n_members,
           hs.doc_id <> rep.rep_doc_id AS is_dup
    FROM hs JOIN rep USING (img_hash)
    """,
)
def mm_image_dedup(t: Tables) -> DataFrame:
    """Perceptual-hash image dedup over the REAL BMP decode path — the
    multimodal twin of dedup_exact: per document a deterministic image
    (content keyed on doc_id % 37, so every 37th document renders the
    byte-identical asset — planted duplicate families) is encoded into a
    real BMP container, decoded back through decode_bmp24 inside the
    Arrow kernel, and reduced to a mean-threshold average hash (aHash,
    public: bit i set iff pixel luminance exceeds the image mean —
    computed in exact integers as gray_i·n > Σgray so both engines
    threshold identically, no float mean). Documents are then grouped by
    hash: each row reports its bucket's min-doc_id representative,
    member count, and an is_dup flag — the collapse map a downstream
    training pipeline applies before tokenization.

    A wrong stride/row-order/channel decode flips bits, so the driver
    hash checks the CODEC, not just the plumbing; the oracle recomputes
    the closed form pixel stream in DuckDB, independent of the BMP
    container. Past the kernel (~35-bit hash per asset on the wire) the
    dedup is ONE hash-keyed shuffle (hash cardinality ≈ distinct
    assets), the per-hash rep table joins back on the same key (AQE
    broadcasts it when small), and the kernel output is persisted so the
    decode pass runs once, not once per join side. Real-codec caveat:
    aHash on photographic content groups NEAR-duplicates under hamming
    distance; the exact-bucket semantic here is the hash-equality tier
    (hamming banding = dedup_simhash's machinery, composable on the same
    column)."""

    def kernel(doc_id: int):
        k = doc_id % 37
        w, h = 3 + k % 5, 2 + k % 4
        dec = decode_bmp24(encode_bmp24(planted_rgb(k, w, h))).astype(np.int64)
        gray = dec.sum(axis=2).reshape(-1)  # r+g+b per pixel, 0..765
        n = gray.size
        bits = (gray * n > gray.sum()).astype(np.int64)
        yield doc_id, int((bits << np.arange(n, dtype=np.int64)).sum())

    hashes = _map_rows(t.documents.select("doc_id"), _PHASH_SCHEMA, kernel).persist()
    rep = hashes.groupBy("img_hash").agg(
        F.min("doc_id").alias("rep_doc_id"), F.count(F.lit(1)).alias("n_members")
    )
    return hashes.join(rep, "img_hash").select(
        "doc_id",
        "img_hash",
        "rep_doc_id",
        "n_members",
        (F.col("doc_id") != F.col("rep_doc_id")).alias("is_dup"),
    )


_PHASH_SCHEMA = StructType(
    [StructField("doc_id", LongType()), StructField("img_hash", LongType())]
)


_SILENCE_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("n_frames", IntegerType()),
        StructField("first_active", IntegerType()),
        StructField("last_active", IntegerType()),
        StructField("n_active", IntegerType()),
        StructField("active_samples", LongType()),
    ]
)

_TRIM_FLEN = 5  # samples per trim frame
_TRIM_THRESH = _TRIM_FLEN * 1_000_000  # frame energy above => active (RMS > 1000)


@query(
    "mm_audio_silence_trim",
    oracle=f"""
    WITH d AS (SELECT doc_id,
                      16 + doc_id % 8        AS nfr,
                      doc_id % 4             AS lead_s,
                      (doc_id // 4) % 4      AS trail_s
               FROM documents),
         s AS (
             SELECT doc_id, nfr, i // {_TRIM_FLEN} AS f,
                    CASE WHEN i // {_TRIM_FLEN} < lead_s
                           OR i // {_TRIM_FLEN} >= nfr - trail_s
                         THEN (doc_id + i) % 201 - 100
                         ELSE (CASE WHEN i % 2 = 0 THEN 1 ELSE -1 END)
                              * (20000 + (doc_id * 31 + i * 7) % 10000)
                    END AS smp
             FROM d, LATERAL (SELECT unnest(generate_series(0,
                      CAST({_TRIM_FLEN} * nfr - 1 AS INT))) AS i) g
         ),
         fe AS (
             SELECT doc_id, nfr, f, sum(smp * smp) AS energy
             FROM s GROUP BY doc_id, nfr, f
         ),
         act AS (
             SELECT doc_id, max(nfr) AS nfr,
                    min(CASE WHEN energy > {_TRIM_THRESH} THEN f END) AS fa,
                    max(CASE WHEN energy > {_TRIM_THRESH} THEN f END) AS la,
                    CAST(sum(CASE WHEN energy > {_TRIM_THRESH} THEN 1 ELSE 0 END)
                         AS INT) AS n_active
             FROM fe GROUP BY doc_id
         )
    SELECT doc_id                                   AS asset_id,
           CAST(nfr AS INT)                         AS n_frames,
           CAST(fa AS INT)                          AS first_active,
           CAST(la AS INT)                          AS last_active,
           n_active,
           CAST((la - fa + 1) * {_TRIM_FLEN} AS BIGINT) AS active_samples
    FROM act
    """,
)
def mm_audio_silence_trim(t: Tables) -> DataFrame:
    """Leading/trailing-silence trim over the REAL audio decode path —
    the clip-preparation op every speech-training pipeline runs before
    feature extraction. Per document a deterministic waveform with
    PLANTED silent frames (lead = doc_id%4 and trail = (doc_id//4)%4
    frames of |sample| ≤ 100; active frames alternate ±(20000..29999),
    so the two classes are separated by orders of magnitude) is encoded
    to a genuine WAV, decoded back through the chunk-walking parser,
    framed at 5 samples, and trimmed at frame energy > RMS 1000 — the
    trim points come from DECODED integers, never from the recipe.
    active_samples spans first..last active frame INCLUSIVE of any
    interior quiet frames (trim never cuts mid-clip — the contract that
    distinguishes trimming from voice-activity masking). The oracle
    recomputes frame energies and the threshold rule in DuckDB from the
    closed form, independent of the codec."""

    def kernel(doc_id: int):
        nfr = 16 + doc_id % 8
        lead, trail = doc_id % 4, (doc_id // 4) % 4
        i = np.arange(_TRIM_FLEN * nfr, dtype=np.int64)
        f = i // _TRIM_FLEN
        quiet = (doc_id + i) % 201 - 100
        sign = np.where(i % 2 == 0, 1, -1)
        loud = sign * (20000 + (doc_id * 31 + i * 7) % 10000)
        smp = np.where((f < lead) | (f >= nfr - trail), quiet, loud)
        _, wave = decode_wav_pcm16(encode_wav_pcm16(smp))
        rec = np.rint(wave * 32768.0).astype(np.int64)
        energy = (rec * rec).reshape(nfr, _TRIM_FLEN).sum(axis=1)
        active = np.nonzero(energy > _TRIM_THRESH)[0]
        fa, la = int(active[0]), int(active[-1])
        yield doc_id, nfr, fa, la, len(active), (la - fa + 1) * _TRIM_FLEN

    return _map_rows(t.documents.select("doc_id"), _SILENCE_SCHEMA, kernel)


_SCENE_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("frame_no", IntegerType()),
        StructField("delta", LongType()),
        StructField("is_cut", BooleanType()),
    ]
)


@query(
    "mm_video_scene_cut",
    oracle="""
    WITH d AS (SELECT doc_id, 3 + doc_id % 5 AS w, 2 + doc_id % 4 AS h,
                      6 + doc_id % 5 AS nf, 2 + doc_id % 3 AS sl
               FROM documents),
         fr AS (
             SELECT doc_id, w, h, sl, f, f // sl AS sc
             FROM d, LATERAL (SELECT unnest(generate_series(0,
                      CAST(nf - 1 AS INT))) AS f) g
         ),
         px AS (
             SELECT doc_id, w, h, f,
                    (doc_id * 7  + sc * 29 + i * 13) % 256 AS r,
                    (doc_id * 11 + sc * 31 + i * 17) % 256 AS g2,
                    (doc_id * 19 + sc * 37 + i * 23) % 256 AS b,
                    i
             FROM fr, LATERAL (SELECT unnest(generate_series(0,
                      CAST(w * h - 1 AS INT))) AS i) gs
         ),
         dl AS (
             SELECT cur.doc_id, cur.f, cur.w, cur.h,
                    CAST(sum(abs(cur.r - prv.r) + abs(cur.g2 - prv.g2)
                             + abs(cur.b - prv.b)) AS BIGINT) AS delta
             FROM px cur
             JOIN px prv ON cur.doc_id = prv.doc_id AND cur.i = prv.i
                        AND prv.f = cur.f - 1
             GROUP BY cur.doc_id, cur.f, cur.w, cur.h
         )
    SELECT doc_id           AS asset_id,
           CAST(f AS INT)   AS frame_no,
           delta,
           delta > w * h * 3 * 8 AS is_cut
    FROM dl
    """,
)
def mm_video_scene_cut(t: Tables) -> DataFrame:
    """Scene-cut detection over the REAL video decode path — the
    frame-sampling front end of a video-training pipeline (pick one
    keyframe per scene instead of every frame). Per document a
    deterministic video with PLANTED scenes (nf = 6+doc_id%5 frames,
    scene length sl = 2+doc_id%3; all frames of a scene share identical
    planted_rgb content keyed by the SCENE index) is muxed into a
    genuine AVI and demuxed back through the recursive RIFF walker;
    per consecutive-frame pair the sum of absolute channel differences
    is computed from DECODED pixels — zero within a scene, large across
    a boundary — and a cut fires when the delta exceeds mean-abs-diff 8
    per channel. Every frame f ≥ 1 emits its delta row, so the output
    SET is threshold-independent (the flag is a projection). The lag is
    over the asset's own decoded frame list, never a Spark window over
    fact rows. The oracle recomputes pixel content and the frame-pair
    deltas in DuckDB from the closed form, codec-independent."""

    def kernel(doc_id: int):
        w, h = 3 + doc_id % 5, 2 + doc_id % 4
        nf, sl = 6 + doc_id % 5, 2 + doc_id % 3
        src = [planted_rgb(doc_id, w, h, frame=f // sl) for f in range(nf)]
        thresh = w * h * 3 * 8
        prev = None
        for f, frame in enumerate(decode_avi_rgb24(encode_avi_rgb24(src))):
            fi = frame.astype(np.int64)
            if prev is not None:
                delta = int(np.abs(fi - prev).sum())
                yield doc_id, f, delta, delta > thresh
            prev = fi

    return _map_rows(t.documents.select("doc_id"), _SCENE_SCHEMA, kernel)


_NEARDUP_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("w", IntegerType()),
        StructField("h", IntegerType()),
        StructField("img_hash", LongType()),
    ]
)


@query(
    "mm_image_neardup",
    oracle="""
    WITH d AS (
        SELECT doc_id, doc_id % 74 AS kk, (doc_id % 74) % 37 AS k,
               3 + ((doc_id % 74) % 37) % 5 AS w,
               2 + ((doc_id % 74) % 37) % 4 AS h
        FROM documents
    ),
    px AS (
        SELECT doc_id, w, h, w * h AS n, i,
               CASE WHEN kk >= 37 AND i = 0 THEN
                    ((k * 7 + 64) % 256) + ((k * 11 + 64) % 256)
                    + ((k * 19 + 64) % 256)
               ELSE (k * 7 + 13 * i) % 256 + (k * 11 + 17 * i) % 256
                    + (k * 19 + 23 * i) % 256 END AS gray
        FROM d, LATERAL (SELECT unnest(generate_series(0, w * h - 1)) AS i) g
    ),
    tot AS (SELECT doc_id, sum(gray) AS sg, max(n) AS n
            FROM px GROUP BY doc_id),
    hs AS (
        SELECT px.doc_id, max(px.w) AS w, max(px.h) AS h,
               CAST(sum(CASE WHEN px.gray * tot.n > tot.sg
                             THEN (CAST(1 AS BIGINT) << px.i) ELSE 0 END)
                    AS BIGINT) AS img_hash
        FROM px JOIN tot ON px.doc_id = tot.doc_id
        GROUP BY px.doc_id
    ),
    uniq AS (
        SELECT w, h, img_hash, CAST(count(*) AS BIGINT) AS n_members
        FROM hs GROUP BY w, h, img_hash
    )
    SELECT a.w, a.h, a.img_hash AS hash_a, b.img_hash AS hash_b,
           CAST(bit_count(xor(a.img_hash, b.img_hash)) AS BIGINT) AS hamming,
           a.n_members AS n_members_a, b.n_members AS n_members_b
    FROM uniq a JOIN uniq b
      ON a.w = b.w AND a.h = b.h AND a.img_hash < b.img_hash
    WHERE bit_count(xor(a.img_hash, b.img_hash)) BETWEEN 1 AND 2
    """,
)
def mm_image_neardup(t: Tables) -> DataFrame:
    """Image NEAR-dup pairs via hamming-banded aHash — the composable
    next tier mm_image_dedup's docstring names: hashes come through the
    REAL BMP encode→decode path (content key kk = doc_id % 74; kk >= 37
    renders the kk % 37 base asset with pixel 0 shifted +64 per channel,
    planting sibling pairs at measured hamming 0-3), then identical
    hashes are COLLAPSED FIRST (the dedup_embedding production recipe —
    exact-dup families never reach the pair stage) and only DISTINCT
    hashes band into 3 equal bit-slices per (w, h) group. Two hashes at
    hamming <= 2 must agree on >= 1 of 3 bands (pigeonhole), so the
    banded candidate set provably covers the truth; bit_count(xor)
    verification trims it exactly. Hamming 0 is excluded — that IS
    mm_image_dedup. Hash comparisons stay within the same (w, h): aHash
    bit-lengths differ across dimensions, so cross-size distances are
    meaningless.

    Output is distinct-HASH-pair level (with member counts), never
    doc-pair level: a 37-sibling exact-dup family contributes ONE row
    per qualifying hash pair, not C(n,2) — the report stays bounded by
    distinct-asset density, the production near-dup shape. Past the
    kernel the collapse is one hash-keyed shuffle; banding is in-row;
    the band-bucket self-join is the declared pair cost, quadratic only
    within a band bucket (band width tunes it, exactly like
    dedup_near_minhash's banding)."""

    def kernel(doc_id: int):
        kk = doc_id % 74
        k = kk % 37
        w, h = 3 + k % 5, 2 + k % 4
        rgb = planted_rgb(k, w, h).astype(np.int64)
        if kk >= 37:
            rgb[0, 0, :] = (rgb[0, 0, :] + 64) % 256
        dec = decode_bmp24(encode_bmp24(rgb.astype(np.uint8))).astype(np.int64)
        gray = dec.sum(axis=2).reshape(-1)
        n = gray.size
        bits = (gray * n > gray.sum()).astype(np.int64)
        yield doc_id, w, h, int((bits << np.arange(n, dtype=np.int64)).sum())

    uniq = (
        _map_rows(t.documents.select("doc_id"), _NEARDUP_SCHEMA, kernel)
        .groupBy("w", "h", "img_hash")
        .agg(F.count(F.lit(1)).cast("long").alias("n_members"))
    )
    band = F.expr(
        "transform(sequence(0, 2), b -> struct("
        " CAST(b AS INT) AS band_id,"
        " CAST(shiftright(img_hash, CAST(b * ((w*h) div 3) AS INT))"
        "  & (shiftleft(CAST(1 AS BIGINT),"
        "      CAST(CASE WHEN b = 2 THEN w*h - 2*((w*h) div 3)"
        "           ELSE (w*h) div 3 END AS INT)) - 1) AS BIGINT)"
        "  AS band_val))"
    )
    banded = uniq.select(
        "w", "h", "img_hash", "n_members", F.explode(band).alias("bd")
    ).select(
        "w",
        "h",
        F.col("bd.band_id").alias("band_id"),
        F.col("bd.band_val").alias("band_val"),
        "img_hash",
        "n_members",
    )
    left = banded.select(
        "w", "h", "band_id", "band_val",
        F.col("img_hash").alias("hash_a"),
        F.col("n_members").alias("n_members_a"),
    )
    right = banded.select(
        "w", "h", "band_id", "band_val",
        F.col("img_hash").alias("hash_b"),
        F.col("n_members").alias("n_members_b"),
    )
    cand = (
        left.join(right, ["w", "h", "band_id", "band_val"])
        .filter(F.col("hash_a") < F.col("hash_b"))
        .select("w", "h", "hash_a", "hash_b", "n_members_a", "n_members_b")
        .distinct()
    )
    ham = F.expr("bit_count(hash_a ^ hash_b)").cast("long")
    return cand.withColumn("hamming", ham).filter(
        (F.col("hamming") >= 1) & (F.col("hamming") <= 2)
    ).select(
        "w", "h", "hash_a", "hash_b", "hamming",
        "n_members_a", "n_members_b",
    )


_RESAMPLE_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("n_in", IntegerType()),
        StructField("n_out", IntegerType()),
        StructField("ssq_in", LongType()),
        StructField("ssq_out", LongType()),
        StructField("sum_out", LongType()),
    ]
)


@query(
    "mm_audio_resample",
    oracle="""
    WITH d AS (SELECT doc_id, 64 + (doc_id % 16) * 8 AS n_in
               FROM documents),
         s AS (
             SELECT doc_id, n_in, i,
                    (doc_id * 31 + i * 7) % 20001 - 10000 AS smp
             FROM d, LATERAL (SELECT unnest(generate_series(0,
                      CAST(n_in - 1 AS INT))) AS i) g
         )
    SELECT doc_id AS asset_id,
           CAST(max(n_in) AS INT) AS n_in,
           CAST((max(n_in) + 1) // 2 AS INT) AS n_out,
           CAST(sum(smp * smp) AS BIGINT) AS ssq_in,
           CAST(sum(CASE WHEN i % 2 = 0 THEN smp * smp ELSE 0 END)
                AS BIGINT) AS ssq_out,
           CAST(sum(CASE WHEN i % 2 = 0 THEN smp ELSE 0 END)
                AS BIGINT) AS sum_out
    FROM s GROUP BY doc_id
    """,
)
def mm_audio_resample(t: Tables) -> DataFrame:
    """16 kHz → 8 kHz downsample (decimation by 2) through TWO real WAV
    codec trips — the sample-rate normalization every speech corpus
    runs before batching (mm_image_resize's two-trip pattern for
    audio): per document a deterministic waveform is encoded to a
    genuine 16 kHz PCM16 WAV, decoded back through the chunk-walking
    parser, decimated (every 2nd decoded sample), re-encoded at 8 kHz,
    and decoded AGAIN; the report (lengths, integer sum-of-squares
    energies, output checksum) is computed from the second decode, so a
    wrong stride, header rate, or byte order in EITHER trip flips the
    driver hash against the closed-form oracle. All columns are exact
    integers — no float energy, no rounding channel. Production
    escalation: proper anti-aliasing (polyphase FIR) replaces bare
    decimation; only the kernel's inner filter changes."""

    def kernel(doc_id: int):
        n_in = 64 + (doc_id % 16) * 8
        i = np.arange(n_in, dtype=np.int64)
        smp = ((doc_id * 31 + i * 7) % 20001 - 10000).astype(np.int16)
        _, dec1 = decode_wav_pcm16(encode_wav_pcm16(smp, 16_000))
        # decode yields float64 k/32768 — recover the exact
        # integer samples before decimating / re-encoding
        d1 = np.rint(dec1 * 32768.0).astype(np.int64)
        ds = d1[::2].astype(np.int16)
        rate2, dec2 = decode_wav_pcm16(encode_wav_pcm16(ds, 8_000))
        assert rate2 == 8_000
        d2 = np.rint(dec2 * 32768.0).astype(np.int64)
        yield (doc_id, len(d1), len(d2), int((d1 * d1).sum()),
               int((d2 * d2).sum()), int(d2.sum()))

    return _map_rows(t.documents.select("doc_id"), _RESAMPLE_SCHEMA, kernel)


_GAIN_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("n_samples", IntegerType()),
        StructField("peak_in", LongType()),
        StructField("peak_out", LongType()),
        StructField("ssq_out", LongType()),
        StructField("sum_out", LongType()),
    ]
)


@query(
    "mm_audio_gain_normalize",
    oracle="""
    WITH d AS (SELECT doc_id, 64 + (doc_id % 16) * 8 AS n
               FROM documents),
         s AS (
             SELECT doc_id, n, i,
                    (doc_id * 17 + i * 11) % 16001 - 8000 AS smp
             FROM d, LATERAL (SELECT unnest(generate_series(0,
                      CAST(n - 1 AS INT))) AS i) g
         ),
         m AS (SELECT doc_id, max(abs(smp)) AS pk FROM s GROUP BY doc_id),
         o AS (
             SELECT s.doc_id, n, pk,
                    CASE WHEN pk = 0 THEN smp
                         ELSE CAST(floor(smp * 29490.0 / pk + 0.5) AS BIGINT)
                    END AS y
             FROM s JOIN m ON s.doc_id = m.doc_id
         )
    SELECT doc_id AS asset_id,
           CAST(max(n) AS INT)          AS n_samples,
           max(pk)                      AS peak_in,
           max(abs(y))                  AS peak_out,
           CAST(sum(y * y) AS BIGINT)   AS ssq_out,
           CAST(sum(y) AS BIGINT)       AS sum_out
    FROM o GROUP BY doc_id
    """,
)
def mm_audio_gain_normalize(t: Tables) -> DataFrame:
    """Peak gain normalization (target peak 0.9 full scale = 29490)
    through TWO real WAV codec trips — the loudness-leveling pass every
    speech/audio corpus runs before batching so quiet and hot
    recordings train at comparable amplitude. Per document: encode the
    deterministic waveform to genuine PCM16, decode through the
    chunk-walking parser, measure the integer peak, scale every sample
    by 29490/peak with floor(x+0.5) rounding (NOT banker's rint — both
    engines' half-up floor agrees bit-exactly on IEEE doubles, rint
    would diverge from SQL round on exact halves), re-encode, decode
    AGAIN, and report exact integer stats from the second decode: a
    wrong gain, rounding mode, or codec stride flips the hash against
    the closed-form oracle. Zero-peak assets pass through unscaled.
    Production escalation: LUFS loudness (EBU R128) replaces peak; only
    the level measurement changes."""

    def kernel(doc_id: int):
        n = 64 + (doc_id % 16) * 8
        i = np.arange(n, dtype=np.int64)
        smp = ((doc_id * 17 + i * 11) % 16001 - 8000).astype(np.int16)
        _, dec1 = decode_wav_pcm16(encode_wav_pcm16(smp, 16_000))
        d1 = np.rint(dec1 * 32768.0).astype(np.int64)
        pk = int(np.abs(d1).max())
        if pk == 0:
            y = d1
        else:
            y = np.floor(d1 * 29490.0 / pk + 0.5).astype(np.int64)
        _, dec2 = decode_wav_pcm16(encode_wav_pcm16(y.astype(np.int16), 16_000))
        d2 = np.rint(dec2 * 32768.0).astype(np.int64)
        yield (doc_id, len(d2), pk, int(np.abs(d2).max()), int((d2 * d2).sum()),
               int(d2.sum()))

    return _map_rows(t.documents.select("doc_id"), _GAIN_SCHEMA, kernel)


def dct_phash(gray: "np.ndarray") -> int:
    """15-bit DCT perceptual hash of an 8x8 grayscale block (the pHash
    recipe, public method): 2-D DCT-II, keep the 4x4 low-frequency
    corner minus the DC term (15 AC coefficients), bit i set iff
    coefficient > the exact median of the 15. Uniform brightness shifts
    move ONLY the DC term, so the hash is brightness-invariant by
    construction — the property the planted-pair test pins. Shared by
    the Spark kernel and the numpy replica test (single source of
    truth, the planted_rgb discipline)."""
    n = 8
    k = np.arange(n)
    C = np.cos(np.pi * (2 * k[None, :] + 1) * k[:, None] / (2 * n))
    d = C @ gray.astype(np.float64) @ C.T
    ac = d[:4, :4].reshape(-1)[1:]  # drop DC
    med = float(np.sort(ac)[7])  # exact middle of 15
    bits = (ac > med).astype(np.int64)
    return int((bits << np.arange(15, dtype=np.int64)).sum())


@query("mm_image_phash", oracle=None)  # R: float DCT — replica-pinned
def mm_image_phash(t: Tables) -> DataFrame:
    """Frequency-domain perceptual hash (pHash) dedup over the REAL BMP
    codec — the robust tier above mm_image_dedup's aHash: per document
    an 8x8 asset renders with a deterministic BRIGHTNESS OFFSET
    (+24·(doc_id mod 2), unclamped by construction), so byte-exact
    dedup and any DC-sensitive hash see distinct files, while the DCT
    hash (DC term excluded) collapses the brightness variants into one
    group. Output is the collapse map (doc_id, phash, rep, n_members,
    is_dup) — mm_image_dedup's contract on the frequency hash.

    Rows-only: the DCT is float-valued (Spark-side numpy), so no SQL
    oracle; tests replay dct_phash in numpy over the same planted
    recipe and require identical hashes, plus the brightness-invariance
    and distinct-content-separation properties. Past the kernel (an 8x8
    DCT is 128 multiply-adds per asset) ONE hash-keyed shuffle groups;
    the kernel output persists so the decode pass runs once per
    sweep."""

    def kernel(doc_id: int):
        k = doc_id % 37
        px = planted_rgb(k, 8, 8).astype(np.int64)
        px = px % 200 + 24 * (doc_id % 2)  # offset, clamp-free
        dec = decode_bmp24(encode_bmp24(px.astype(np.uint8))).astype(np.int64)
        yield doc_id, dct_phash(dec.sum(axis=2))  # gray = r+g+b, 0..765

    hashes = _map_rows(t.documents.select("doc_id"), _PHASH_SCHEMA, kernel).persist()
    rep = hashes.groupBy("img_hash").agg(
        F.min("doc_id").alias("rep_doc_id"), F.count(F.lit(1)).alias("n_members")
    )
    return hashes.join(rep, "img_hash").select(
        "doc_id",
        "img_hash",
        "rep_doc_id",
        "n_members",
        (F.col("doc_id") != F.col("rep_doc_id")).alias("is_dup"),
    )


_VDEDUP_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_no", IntegerType()),
        StructField("frame_hash", LongType()),
    ]
)


@query(
    "mm_video_frame_dedup",
    oracle="""
    WITH d AS (
        SELECT doc_id, doc_id % 29 AS kv, 2 + (doc_id % 29) % 3 AS nf
        FROM documents
    ),
    fr AS (
        SELECT doc_id, kv + f AS kk, CAST(f AS INT) AS f
        FROM d, LATERAL (SELECT unnest(generate_series(0,
                 CAST(nf - 1 AS INT))) AS f) g
    ),
    px AS (
        SELECT doc_id, f, i,
               (kk * 7 + 13 * i) % 256
             + (kk * 11 + 17 * i) % 256
             + (kk * 19 + 23 * i) % 256 AS gray
        FROM fr, LATERAL (SELECT unnest(generate_series(0, 15)) AS i) gs
    ),
    tot AS (SELECT doc_id, f, sum(gray) AS sg FROM px GROUP BY doc_id, f),
    hs AS (
        SELECT px.doc_id, px.f,
               CAST(sum(CASE WHEN px.gray * 16 > tot.sg
                             THEN (CAST(1 AS BIGINT) << px.i) ELSE 0 END)
                    AS BIGINT) AS h
        FROM px JOIN tot ON px.doc_id = tot.doc_id AND px.f = tot.f
        GROUP BY px.doc_id, px.f
    ),
    sig AS (
        SELECT doc_id,
               CAST(count(*) AS INT) AS n_frames,
               sha256(string_agg(h::VARCHAR, ',' ORDER BY f)) AS video_sig
        FROM hs GROUP BY doc_id
    ),
    rep AS (
        SELECT video_sig, min(doc_id) AS rep_doc_id,
               CAST(count(*) AS BIGINT) AS n_members
        FROM sig GROUP BY video_sig
    )
    SELECT sig.doc_id, video_sig, n_frames, rep_doc_id, n_members,
           sig.doc_id <> rep_doc_id AS is_dup
    FROM sig JOIN rep USING (video_sig)
    """,
)
def mm_video_frame_dedup(t: Tables) -> DataFrame:
    """Video-level dedup by frame-hash signature over the REAL AVI
    codec — the multimodal dedup triad's video member (image: aHash
    buckets, audio: codec-verified trims; here whole videos collapse
    when their ORDERED per-frame aHash stream matches). Per document a
    deterministic 4x4 nf-frame video (content key kv = doc_id mod 29,
    frame f renders content kv+f — so same-kv docs are byte-identical
    dup families AND adjacent-kv docs share footage for downstream
    overlap analysis) is muxed into a genuine AVI, demuxed back through
    the recursive RIFF walker, each decoded frame reduced to the exact
    integer aHash (gray_i·n > Σgray — the mm_image_dedup rule), and
    the video signature is sha256 of the comma-joined hash stream in
    FRAME ORDER (reordered frames are different videos). The oracle
    recomputes everything in closed form, codec-independent: a wrong
    frame order, stride, or dropped JUNK chunk flips the driver hash.

    Past the kernel (bounded per-frame rows out) the signature is one
    doc-keyed agg (collect_list is per-video frame-count bounded, 2-4
    here), the collapse map one sig-keyed shuffle + join-back —
    dedup_exact's plan with a codec front end."""

    def kernel(doc_id: int):
        kv = doc_id % 29
        nf = 2 + kv % 3
        src = [planted_rgb(kv + f, 4, 4) for f in range(nf)]
        for f, frame in enumerate(decode_avi_rgb24(encode_avi_rgb24(src))):
            gray = frame.astype(np.int64).sum(axis=2).reshape(-1)
            n = gray.size
            bits = (gray * n > gray.sum()).astype(np.int64)
            yield doc_id, f, int((bits << np.arange(n, dtype=np.int64)).sum())

    frames = _map_rows(t.documents.select("doc_id"), _VDEDUP_SCHEMA, kernel)
    sig = frames.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_frames"),
        F.sha2(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("frame_no", "frame_hash"))
                    ),
                    lambda s: s["frame_hash"].cast("string"),
                ),
            ),
            256,
        ).alias("video_sig"),
    ).persist()
    rep = sig.groupBy("video_sig").agg(
        F.min("doc_id").alias("rep_doc_id"),
        F.count(F.lit(1)).cast("long").alias("n_members"),
    )
    return sig.join(rep, "video_sig").select(
        "doc_id",
        "video_sig",
        "n_frames",
        "rep_doc_id",
        "n_members",
        (F.col("doc_id") != F.col("rep_doc_id")).alias("is_dup"),
    )


@query(
    "mm_image_crop_center",
    oracle="""
    WITH d AS (SELECT doc_id, 3 + doc_id % 5 AS w, 2 + doc_id % 4 AS h
               FROM documents),
         c AS (SELECT doc_id, w, h,
                      w // 2 AS cw, h // 2 AS ch,
                      (w - w // 2) // 2 AS x0, (h - h // 2) // 2 AS y0
               FROM d),
         px AS (
             SELECT doc_id, w, h, i,
                    i % w  AS x,
                    i // w AS y,
                    (doc_id * 7 + i * 13) % 256   AS r,
                    (doc_id * 11 + i * 17) % 256  AS g,
                    (doc_id * 19 + i * 23) % 256  AS b
             FROM d, LATERAL (SELECT unnest(generate_series(0, CAST(w * h - 1 AS INT))) AS i) gs
         )
    SELECT p.doc_id                        AS asset_id,
           CAST(c.cw AS INT)               AS crop_w,
           CAST(c.ch AS INT)               AS crop_h,
           CAST(sum(p.r) AS BIGINT)        AS sum_r,
           CAST(sum(p.g) AS BIGINT)        AS sum_g,
           CAST(sum(p.b) AS BIGINT)        AS sum_b,
           CAST(max(greatest(p.r, p.g, p.b)) AS BIGINT) AS peak
    FROM px p JOIN c USING (doc_id)
    WHERE p.x >= c.x0 AND p.x < c.x0 + c.cw
      AND p.y >= c.y0 AND p.y < c.y0 + c.ch
    GROUP BY p.doc_id, c.cw, c.ch
    """,
)
def mm_image_crop_center(t: Tables) -> DataFrame:
    """Center crop through TWO real BMP codec trips — the
    train-time augmentation / thumbnail-focus primitive (and the
    third member of the geometry family: resize = mm_image_resize,
    sample = mm_video_frames, crop = this). Per asset the planted
    w×h image is encoded to a real BMP, decoded, center-cropped to
    (w//2, h//2) at offset ((w−cw)//2, (h−ch)//2), re-ENCODED (stride
    padding re-derived for the smaller width — the part a fake codec
    gets wrong) and decoded again; channel sums + peak are taken from
    the second decode, so a wrong crop offset, row order, or stride
    flips the hash against the closed-form pixel oracle."""

    def kernel(doc_id: int):
        w, h = 3 + doc_id % 5, 2 + doc_id % 4
        dec = decode_bmp24(encode_bmp24(planted_rgb(doc_id, w, h)))
        cw, ch = w // 2, h // 2
        x0, y0 = (w - cw) // 2, (h - ch) // 2
        crop = dec[y0 : y0 + ch, x0 : x0 + cw]
        dec2 = decode_bmp24(encode_bmp24(crop)).astype(np.int64)
        yield (doc_id, cw, ch, int(dec2[:, :, 0].sum()), int(dec2[:, :, 1].sum()),
               int(dec2[:, :, 2].sum()), int(dec2.max()))

    return _map_rows(t.documents.select("doc_id"), _CROP_SCHEMA, kernel)


_CROP_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("crop_w", IntegerType()),
        StructField("crop_h", IntegerType()),
        StructField("sum_r", LongType()),
        StructField("sum_g", LongType()),
        StructField("sum_b", LongType()),
        StructField("peak", LongType()),
    ]
)


@query(
    "mm_video_fps_downsample",
    oracle="""
    WITH d AS (SELECT doc_id, 3 + doc_id % 5 AS w, 2 + doc_id % 4 AS h,
                      2 + doc_id % 3 AS nf
               FROM documents),
         fr AS (
             SELECT doc_id, w, h, nf, f
             FROM d, LATERAL (SELECT unnest(generate_series(0,
                      CAST(nf - 1 AS INT))) AS f) g
             WHERE f % 2 = 0
         ),
         px AS (
             SELECT doc_id, nf, f,
                    (doc_id * 7  + f * 29 + i * 13) % 256 AS r,
                    (doc_id * 11 + f * 31 + i * 17) % 256 AS g2,
                    (doc_id * 19 + f * 37 + i * 23) % 256 AS b
             FROM fr, LATERAL (SELECT unnest(generate_series(0,
                      CAST(w * h - 1 AS INT))) AS i) gs
         )
    SELECT doc_id                                   AS asset_id,
           CAST(max(nf) AS INT)                     AS frames_in,
           CAST(count(DISTINCT f) AS INT)           AS frames_out,
           CAST(sum(r) AS BIGINT)                   AS sum_r,
           CAST(sum(g2) AS BIGINT)                  AS sum_g,
           CAST(sum(b) AS BIGINT)                   AS sum_b
    FROM px GROUP BY doc_id
    """,
)
def mm_video_fps_downsample(t: Tables) -> DataFrame:
    """Temporal downsampling (keep every 2nd frame) through TWO real AVI
    codec trips — the fps-reduction step every video training pipeline
    runs before feature extraction, and the temporal member of the
    geometry family (spatial crop = mm_image_crop_center, spatial
    resize = mm_image_resize): demux the planted nf-frame AVI, keep
    frames 0, 2, ..., re-MUX the survivors into a new AVI (fresh movi
    chunks + idx1 index over the smaller frame list — the part a fake
    codec gets wrong), demux again, and report per-asset channel sums
    from the SECOND demux. A wrong frame selection, re-index, or
    frame-order flips the hash against the closed-form oracle."""

    def kernel(doc_id: int):
        w, h = 3 + doc_id % 5, 2 + doc_id % 4
        nf = 2 + doc_id % 3
        src = [planted_rgb(doc_id, w, h, frame=f) for f in range(nf)]
        kept = decode_avi_rgb24(encode_avi_rgb24(src))[::2]
        dec2 = decode_avi_rgb24(encode_avi_rgb24(kept))
        arr = np.stack(dec2).astype(np.int64)
        yield (doc_id, nf, len(dec2), int(arr[:, :, :, 0].sum()),
               int(arr[:, :, :, 1].sum()), int(arr[:, :, :, 2].sum()))

    return _map_rows(t.documents.select("doc_id"), _FPS_SCHEMA, kernel)


_FPS_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("frames_in", IntegerType()),
        StructField("frames_out", IntegerType()),
        StructField("sum_r", LongType()),
        StructField("sum_g", LongType()),
        StructField("sum_b", LongType()),
    ]
)


_SPECTRAL_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("n_samples", LongType()),
        StructField("centroid_hz", DoubleType()),
        StructField("bandwidth_hz", DoubleType()),
        StructField("rolloff85_hz", DoubleType()),
    ]
)

_SPECTRAL_RATE = 16_000  # Hz; matches the WAV encoder default


def spectral_features(wave: np.ndarray, rate: int = _SPECTRAL_RATE) -> tuple:
    """(centroid_hz, bandwidth_hz, rolloff85_hz) from a [-1, 1] float
    waveform via the magnitude rFFT (DC bin excluded): centroid =
    magnitude-weighted mean frequency, bandwidth = magnitude-weighted
    std around the centroid, rolloff = lowest frequency below which 85%
    of spectral ENERGY (|X|^2) lies. Shared by the operator and the
    test replica so the contract is one function; np.fft on float64 is
    deterministic for a fixed input."""
    mag = np.abs(np.fft.rfft(wave.astype(np.float64)))[1:]
    n = wave.shape[0]
    freqs = np.fft.rfftfreq(n, d=1.0 / rate)[1:]
    tot = float(mag.sum())
    if tot <= 0.0:
        return 0.0, 0.0, 0.0
    centroid = float((freqs * mag).sum() / tot)
    bandwidth = float(np.sqrt(((freqs - centroid) ** 2 * mag).sum() / tot))
    energy = mag**2
    cum = np.cumsum(energy)
    k = int(np.searchsorted(cum, 0.85 * cum[-1]))
    rolloff = float(freqs[min(k, len(freqs) - 1)])
    return round(centroid, 6), round(bandwidth, 6), round(rolloff, 6)


@query("mm_audio_spectral_centroid", oracle=None)  # R: FFT features — not
# SQL-expressible; exact numpy replica via the shared spectral_features kernel
def mm_audio_spectral_centroid(t: Tables) -> DataFrame:
    """Spectral centroid / bandwidth / 85% energy rolloff per audio
    asset — the brightness/timbre features every audio-corpus quality
    screen computes (speech vs music vs noise separate cleanly on
    centroid + bandwidth): the deterministic WAV payloads decode
    through the real chunk-walking PCM16 parser, then one rFFT per
    asset yields the three magnitude-spectrum statistics (DC excluded;
    Hz units at the 16 kHz encoder rate).

    Rows-only (a DFT is not SQL-expressible); the pytest tier replays
    the decode + spectral_features kernel independently per asset and
    requires exact tuple equality, plus planted single-tone WAVs whose
    centroid must land on the tone bin."""

    def kernel(doc_id: int):
        n = 50 + doc_id % 50
        i = np.arange(n, dtype=np.int64)
        smp = ((doc_id * 31 + i * 7) % 65536) - 32768
        _, wave = decode_wav_pcm16(encode_wav_pcm16(smp))
        yield (doc_id, n, *spectral_features(wave))

    return _map_rows(t.documents.select("doc_id"), _SPECTRAL_SCHEMA, kernel)


_IMG_QUALITY_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("n_px", LongType()),
        StructField("n_unique_colors", LongType()),
        StructField("grad_sum", LongType()),
        StructField("lum_entropy", DoubleType()),
    ]
)


@query(
    "mm_image_quality_stats",
    oracle="""
    WITH d AS (SELECT doc_id, 3 + doc_id % 5 AS w, 2 + doc_id % 4 AS h
               FROM documents),
         px AS (
             SELECT doc_id, w, i,
                    (doc_id * 7 + i * 13) % 256   AS r,
                    (doc_id * 11 + i * 17) % 256  AS g,
                    (doc_id * 19 + i * 23) % 256  AS b
             FROM d, LATERAL (SELECT unnest(generate_series(0, CAST(w * h - 1 AS INT))) AS i) gs
         ),
         lum AS (
             SELECT doc_id, w, i,
                    (r * 299 + g * 587 + b * 114) // 1000 AS y,
                    r * 65536 + g * 256 + b AS rgb
             FROM px
         ),
         grad AS (
             SELECT a.doc_id, CAST(sum(abs(b.y - a.y)) AS BIGINT) AS gs
             FROM lum a JOIN lum b
               ON a.doc_id = b.doc_id AND b.i = a.i + 1 AND (a.i + 1) % a.w <> 0
             GROUP BY a.doc_id
         ),
         hist AS (
             SELECT doc_id, y, count(*) AS c FROM lum GROUP BY doc_id, y
         ),
         ent AS (
             SELECT doc_id,
                    round(-sum((c * 1.0 / n) * ln(c * 1.0 / n)), 6) AS e
             FROM (SELECT doc_id, y, c,
                          sum(c) OVER (PARTITION BY doc_id) AS n
                   FROM hist)
             GROUP BY doc_id
         ),
         base AS (
             SELECT doc_id, CAST(count(*) AS BIGINT) AS n_px,
                    CAST(count(DISTINCT rgb) AS BIGINT) AS n_unique_colors
             FROM lum GROUP BY doc_id
         )
    SELECT base.doc_id                         AS asset_id,
           base.n_px,
           base.n_unique_colors,
           coalesce(grad.gs, 0)                AS grad_sum,
           ent.e                               AS lum_entropy
    FROM base
    LEFT JOIN grad ON base.doc_id = grad.doc_id
    JOIN ent ON base.doc_id = ent.doc_id
    """,
)
def mm_image_quality_stats(t: Tables) -> DataFrame:
    """Per-image quality screen over the REAL BMP decode path — the
    multimodal twin of text_quality: integer luminance (BT.601 fixed-
    point (299r+587g+114b)//1000 — engine-neutral integer division),
    unique-color count (flat/synthetic banner detection), horizontal
    gradient energy sum (blur/blank detection; exact integer domain,
    row-boundary pairs excluded), and luminance-histogram Shannon
    entropy (6dp — the text_entropy_char convention). A corpus filter
    reads this frame directly: low entropy + low unique colors = logo
    or solid fill; near-zero gradient = blank. All features are
    computed over the decoded pixel array, with no pixel explosion; the
    DuckDB oracle re-derives every statistic from the planted_rgb
    closed form through SQL (LATERAL pixel series, neighbor self-join
    for the gradient)."""

    def kernel(doc_id: int):
        w, h = 3 + doc_id % 5, 2 + doc_id % 4
        arr = decode_bmp24(encode_bmp24(planted_rgb(doc_id, w, h)))
        flat = arr.reshape(-1, 3).astype(np.int64)
        y = (flat[:, 0] * 299 + flat[:, 1] * 587 + flat[:, 2] * 114) // 1000
        rgb = flat[:, 0] * 65536 + flat[:, 1] * 256 + flat[:, 2]
        grad = int(np.abs(np.diff(y.reshape(h, w), axis=1)).sum())
        _, counts = np.unique(y, return_counts=True)
        p = counts / counts.sum()
        ent = round(float(-(p * np.log(p)).sum()), 6)
        yield doc_id, w * h, int(np.unique(rgb).size), grad, ent

    return _map_rows(t.documents.select("doc_id"), _IMG_QUALITY_SCHEMA, kernel)
