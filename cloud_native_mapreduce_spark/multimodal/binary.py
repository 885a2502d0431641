"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Every media codec here decodes for real, in pure stdlib/numpy Python:
PNG (`encode_png`/`decode_png` below), baseline and progressive JPEG
(`jpeg.py`), WAV/G.711/IMA ADPCM/float PCM (`wav.py`), AIFF, MP3 frame
headers, Y4M video, GIF, TIFF, BMP, netpbm and TGA (one module each).
Each `*_payloads` function synthesizes a deterministic payload per
doc_id, and each `*_stats` function decodes it and emits metadata-narrow
stats, so the registry's DuckDB oracles can state every output value.

Every per-record Python step runs through one of two kernels:
  * `_synthesized(docs, payload_of)`: one payload per doc_id;
  * `_per_row(frame, cols, rows_of, schema)`: zero or more output rows
    per input row, over Arrow batches via `mapInPandas`.
The public functions keep only their per-doc formula or decoder call.
Binary columns with deterministic metadata (byte length, content hash,
base64 transport encoding) stay JVM-side.

This package is registered with cloudpickle to pickle BY VALUE, so the
functions these kernels ship carry their codec code with them: Python
workers need no import path to the engine, whatever session or working
directory runs the query.
"""

from __future__ import annotations

import hashlib
import math
import struct
import sys
import zlib

import numpy as np
import pandas as pd
from pyspark import cloudpickle
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cloud_native_mapreduce_spark.multimodal.aiff import (decode_aiff,
                                                          encode_aiff)
from cloud_native_mapreduce_spark.multimodal.bmp import decode_bmp, encode_bmp
from cloud_native_mapreduce_spark.multimodal.gif import decode_gif, encode_gif
from cloud_native_mapreduce_spark.multimodal.jpeg import (
    decode_jpeg, encode_jpeg, encode_jpeg_progressive)
from cloud_native_mapreduce_spark.multimodal.mp3 import encode_mp3, parse_mp3
from cloud_native_mapreduce_spark.multimodal.pnm import decode_pnm, encode_pnm
from cloud_native_mapreduce_spark.multimodal.tga import decode_tga, encode_tga
from cloud_native_mapreduce_spark.multimodal.tiff import (decode_tiff,
                                                          encode_tiff)
from cloud_native_mapreduce_spark.multimodal.wav import (
    decode_wav, encode_wav, encode_wav_float32, encode_wav_g711,
    encode_wav_ima)
from cloud_native_mapreduce_spark.multimodal.y4m import decode_y4m, encode_y4m
from cloud_native_mapreduce_spark.sources.tables import fan_out

cloudpickle.register_pickle_by_value(sys.modules[__package__])

FEATURE_SCHEMA = ("doc_id bigint, n_bytes bigint, sha256 string, "
                  "fake_width bigint, fake_height bigint")
_PAYLOAD_SCHEMA = "doc_id bigint, payload binary"
_PAYLOAD_COLS = ("doc_id", "payload")

TEXT_COL = "text"          # the documents column that stands in for media
CHUNK_BYTES = 1024         # audio_chunks window size
JPEG_MEAN_ERR_BOUND = 8.0  # recon_ok's mean-abs pixel error bound
FRAME_STRIDE = 2           # video_frame_stats keeps every 2nd frame


def _per_row(frame: DataFrame, cols, rows_of, schema: str) -> DataFrame:
    """`rows_of(*row[cols])` yields zero or more output tuples per input
    row, in `schema`'s column order; one output pandas frame per Arrow
    batch. Column names come from the schema, so a batch that yields no
    row still carries the declared columns."""
    names = [field.split()[0] for field in schema.split(",")]

    def emit(batches):
        for pdf in batches:
            yield pd.DataFrame(
                [out for row in zip(*(pdf[c] for c in cols))
                 for out in rows_of(*row)], columns=names)

    return frame.mapInPandas(emit, schema=schema)


def _doc_ids(docs: DataFrame) -> DataFrame:
    """doc_id column spread across the cluster (`fan_out`): payload
    synthesis and the decode stage it feeds are per-row-expensive
    Python codec work, and the single-row-group documents scan would
    otherwise pin the WHOLE codec pipeline to one task (guide §2.5 —
    repartition an unsplittable input right after the read; a no-op
    once the scan parallelizes on its own)."""
    return fan_out(docs.select("doc_id"), "doc_id")


def _synthesized(docs: DataFrame, payload_of) -> DataFrame:
    """doc_id → `payload_of(int(doc_id))` bytes, as a (doc_id, payload)
    frame. Narrow synthesis, no shuffle beyond `_doc_ids`; the payload
    is a genuine opaque binary column that crosses Spark, so the decode
    stage downstream reads what a parquet-resident media column holds."""
    return _per_row(_doc_ids(docs), ("doc_id",),
                    lambda doc_id: ((doc_id, payload_of(int(doc_id))),),
                    _PAYLOAD_SCHEMA)


def _px_stats(px) -> tuple[int, int, int, int]:
    """sum, min, max and checksum = Σ (i+1)·px[i] mod 1e9+7 of a sample
    stream: the position-weighted checksum catches an ordering bug
    (de-interlace, row flip, channel reorder) the sums cannot."""
    return (sum(px), min(px), max(px),
            sum((i + 1) * v for i, v in enumerate(px)) % 1000000007)


def with_binary_payload(docs: DataFrame) -> DataFrame:
    """Materialize an opaque binary column (UTF-8 bytes of text stand in
    for image/audio payloads) plus transport metadata."""
    payload = F.encode(F.col(TEXT_COL), "UTF-8")
    return docs.select(
        "doc_id",
        payload.alias("payload"),
        F.octet_length(payload).cast("bigint").alias("n_bytes"),
        _b64(payload).alias("payload_b64"),
    )


def _b64(col):
    """base64 without MIME line-wrapping — Spark's base64 inserts CRLF
    every 76 chars (RFC 2045); strip to get the canonical RFC 4648 form
    other engines (and DuckDB's base64) produce."""
    return F.regexp_replace(F.base64(col), "[\\r\\n]", "")


def binary_metadata(docs: DataFrame) -> DataFrame:
    """Metadata-only view (no payload in the output → shuffle-free, scan
    stays pruned to the text column)."""
    payload = F.encode(F.col(TEXT_COL), "UTF-8")
    return docs.select(
        "doc_id",
        F.octet_length(payload).cast("bigint").alias("n_bytes"),
        F.sha2(F.col(TEXT_COL), 256).alias("sha256"),
        _b64(payload).alias("payload_b64"),
    )


PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _png_chunk(tag: bytes, body: bytes) -> bytes:
    return (struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body)))


def encode_png(pixels: bytes, width: int, height: int,
               channels: int = 1, cycle_filters: bool = True) -> bytes:
    """Pure-stdlib PNG encoder, 8-bit greyscale (color type 0) or RGB
    (color type 2), non-interlaced. With `cycle_filters` scanline y uses
    filter type y mod 5, so the full filter set (None/Sub/Up/Average/
    Paeth) is exercised; `decode_png` genuinely reverses real PNG
    scanline prediction, not a fixture-shaped subset."""
    if len(pixels) != width * height * channels:
        raise ValueError("pixel buffer does not match dimensions")
    color_type = {1: 0, 3: 2}[channels]
    bpp = channels
    stride = width * channels
    raw = bytearray()
    prev = bytes(stride)
    for y in range(height):
        row = pixels[y * stride:(y + 1) * stride]
        ftype = (y % 5) if cycle_filters else 0
        raw.append(ftype)
        for x in range(stride):
            a = row[x - bpp] if x >= bpp else 0
            b = prev[x]
            c = prev[x - bpp] if x >= bpp else 0
            if ftype == 0:
                v = row[x]
            elif ftype == 1:
                v = row[x] - a
            elif ftype == 2:
                v = row[x] - b
            elif ftype == 3:
                v = row[x] - ((a + b) >> 1)
            else:
                v = row[x] - _paeth(a, b, c)
            raw.append(v & 0xFF)
        prev = row
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    return (PNG_SIG + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
            + _png_chunk(b"IEND", b""))


def decode_png(payload: bytes) -> tuple[int, int, int, bytes]:
    """(width, height, channels, pixels) of an 8-bit grey/RGB
    non-interlaced PNG: zlib inflate + full scanline unfilter.
    Palette/16-bit/interlaced files raise NotImplementedError."""
    if payload[:8] != PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, width, height, channels = 8, None, None, None
    idat = bytearray()
    while pos + 8 <= len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        tag = payload[pos + 4:pos + 8]
        body = payload[pos + 8:pos + 8 + length]
        if len(body) != length:
            raise ValueError("truncated PNG chunk")
        if tag == b"IHDR":
            width, height, depth, color_type, comp, filt, interlace = \
                struct.unpack(">IIBBBBB", body)
            if depth != 8 or color_type not in (0, 2) or interlace:
                raise NotImplementedError(
                    "only 8-bit grey/RGB non-interlaced PNG supported "
                    "without a codec library")
            channels = 1 if color_type == 0 else 3
        elif tag == b"IDAT":
            idat.extend(body)
        elif tag == b"IEND":
            break
        pos += 12 + length
    if width is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    raw = zlib.decompress(bytes(idat))
    bpp = channels
    stride = width * channels
    if len(raw) != (stride + 1) * height:
        raise ValueError("PNG scanline data does not match dimensions")
    out = bytearray()
    prev = bytes(stride)
    for y in range(height):
        ftype = raw[y * (stride + 1)]
        line = bytearray(raw[y * (stride + 1) + 1:(y + 1) * (stride + 1)])
        for x in range(stride):
            a = line[x - bpp] if x >= bpp else 0
            b = prev[x]
            c = prev[x - bpp] if x >= bpp else 0
            if ftype == 1:
                line[x] = (line[x] + a) & 0xFF
            elif ftype == 2:
                line[x] = (line[x] + b) & 0xFF
            elif ftype == 3:
                line[x] = (line[x] + ((a + b) >> 1)) & 0xFF
            elif ftype == 4:
                line[x] = (line[x] + _paeth(a, b, c)) & 0xFF
            elif ftype != 0:
                raise ValueError(f"unknown PNG filter {ftype}")
        out.extend(line)
        prev = bytes(line)
    return width, height, channels, bytes(out)


def decode_image(payload: bytes) -> tuple[int, int]:
    """(width, height) of a PNG or JPEG payload, dispatched on its
    magic bytes: 8-bit grey/RGB PNG (`decode_png`) and baseline or
    progressive JPEG (`multimodal/jpeg.py`; arithmetic-coded JPEG
    raises its own NotImplementedError inside the codec). Any other
    format raises NotImplementedError; the other codecs are reached
    through their own modules."""
    if payload[:8] == PNG_SIG:
        w, h, _, _ = decode_png(payload)
        return w, h
    if payload[:2] == b"\xFF\xD8":
        w, h, _, _ = decode_jpeg(payload)
        return w, h
    raise NotImplementedError(
        "decode_image reads PNG and JPEG only; use the format's own "
        "codec module or fake_decode_features for plumbing tests")


def fake_decode_features(with_payload: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads via
    mapInPandas — the real pattern for decode/resize/frame-sample at scale:
    per-partition streaming iterator, pandas batches bounded by Spark's
    Arrow batch size, explicit output schema, payload dropped from the
    output. The "decoder" is a deterministic fake keyed on payload length
    (width = n mod 640 + 1, height = n mod 480 + 1), so the plumbing is
    value-checked by a SQL mirror of it."""

    def features(doc_id, payload):
        n = len(payload)
        yield (doc_id, n, hashlib.sha256(payload).hexdigest(),
               n % 640 + 1, n % 480 + 1)

    return _per_row(fan_out(with_payload.select(*_PAYLOAD_COLS), "doc_id"),
                    _PAYLOAD_COLS, features, FEATURE_SCHEMA)


def png_payloads(docs: DataFrame) -> DataFrame:
    """doc_id → REAL greyscale PNG payload (binary column), synthesized
    deterministically per doc: width = doc_id%5+4, height = doc_id%7+3,
    pixel[i] = (doc_id·31 + 7i) mod 256, encoded with the filter types
    CYCLING per scanline so downstream decode exercises all five PNG
    predictors. The arithmetic pixel formula is what makes a full
    value-level DuckDB oracle possible for a binary-codec pipeline."""

    def payload(d):
        w, h = d % 5 + 4, d % 7 + 3
        return encode_png(bytes((d * 31 + 7 * i) % 256
                                for i in range(w * h)), w, h)

    return _synthesized(docs, payload)


def image_decode_stats(with_png: DataFrame) -> DataFrame:
    """REAL image decode over a binary PNG column: stdlib inflate +
    unfilter per payload (`decode_png`), pixel stats out — the
    metadata-narrow output contract (never re-emit pixels through the
    shuffle). One stats row per image."""

    def stats(doc_id, payload):
        w, h, _, px = decode_png(bytes(payload))
        yield doc_id, w, h, sum(px), min(px), max(px)

    out = _per_row(
        with_png, _PAYLOAD_COLS, stats,
        "doc_id bigint, width bigint, height bigint, "
        "sum_px bigint, min_px bigint, max_px bigint")
    # mean + rounding stay in Spark: F.round is HALF_UP like the oracle
    return out.select(
        "doc_id", "width", "height",
        F.round(F.col("sum_px").cast("double")
                / (F.col("width") * F.col("height")), 4).alias("mean_px"),
        "min_px", "max_px")


def jpeg_payloads(docs: DataFrame) -> DataFrame:
    """doc_id → REAL baseline JPEG payload (binary column), synthesized
    deterministically per doc with the stdlib codec
    (`multimodal/jpeg.py`): smooth sinusoid patterns whose phase/dims
    derive from doc_id, cycling grey / RGB-4:4:4 / RGB-4:2:0 so the
    decode stage downstream exercises single-component scans,
    multi-component MCUs, and chroma upsampling."""
    return _jpeg_payloads_with(docs, encode_jpeg)


def _jpeg_payloads_with(docs: DataFrame, encoder) -> DataFrame:
    """Shared JPEG corpus: per-doc pattern and quality 85, parameterized
    only by the encoder function, so the baseline and progressive
    corpora can never drift apart."""

    def payload(d):
        w, h, ch, sub, px = _jpeg_pattern(np, d)
        return encoder(px.tobytes(), w, h, ch, quality=85, subsampling=sub)

    return _synthesized(docs, payload)


def _jpeg_pattern(np_mod, d: int):
    """Deterministic per-doc test image: (w, h, channels, subsampling,
    uint8 array) as a pure function of doc_id — shared by the synthesis
    and verification stages (and stated by the SQL oracle for the
    metadata part)."""
    w = (d % 6) * 2 + 16
    h = (d % 4) * 2 + 12
    mode = d % 3               # 0: grey, 1: RGB 4:4:4, 2: RGB 4:2:0
    xx, yy = np_mod.meshgrid(np_mod.arange(w), np_mod.arange(h))
    base = 128.0 + 80.0 * np_mod.sin(xx / 7.0 + d % 10) \
        * np_mod.cos(yy / 5.0)
    if mode == 0:
        return w, h, 1, "444", base.astype(np_mod.uint8)
    rgb = np_mod.stack(
        [base, np_mod.flipud(base), np_mod.fliplr(base)],
        axis=-1).astype(np_mod.uint8)
    return w, h, 3, ("444" if mode == 1 else "420"), rgb


def jpeg_decode_stats(with_jpeg: DataFrame) -> DataFrame:
    """REAL JPEG decode over a binary column: per payload, full
    entropy-decode + IDCT + color convert, then compare against the
    regenerated source pattern. Output is metadata-narrow (doc_id, dims,
    channels, recon_ok) — `recon_ok` is TRUE only when the decoded
    pixels sit within `JPEG_MEAN_ERR_BOUND` mean-abs error of the
    original, so a Huffman/IDCT/upsample bug flips the value-level
    oracle, not just a pytest."""

    def stats(doc_id, payload):
        w, h, c, px = decode_jpeg(bytes(payload))
        ew, eh, ec, _, src = _jpeg_pattern(np, int(doc_id))
        got = np.frombuffer(px, dtype=np.uint8).astype(float)
        ok = (w, h, c) == (ew, eh, ec) and float(
            np.abs(got - src.astype(float).ravel()).mean()
        ) <= JPEG_MEAN_ERR_BOUND
        yield doc_id, w, h, c, bool(ok)

    return _per_row(with_jpeg, _PAYLOAD_COLS, stats,
                    "doc_id bigint, width bigint, height bigint, "
                    "channels bigint, recon_ok boolean")


FRAME_CHARS = 64   # one "frame" = 64 characters of payload text
FRAME_STEP = 4     # sample every 4th frame

FRAME_SCHEMA = "doc_id bigint, frame_idx bigint, frame_sha string"


def frame_sample(docs: DataFrame) -> DataFrame:
    """Frame sampling: one input row → N sampled-frame rows through
    mapInPandas — the row-expansion shape of real video pipelines (a
    decoder yields frames; the engine fans them out). Frames here are
    deterministic 64-char windows of the payload text, hashed for
    content addressing; `video_frame_stats` is the same shape over a
    real video codec.

    Scale posture: expansion happens streaming inside the Python worker
    (never a driver-side explode of decoded frames); output carries only
    frame digests, not frame payloads — ship references, not pixels,
    through the shuffle.
    """

    def frames(doc_id, text):
        t = text or ""
        for i in range(0, len(t) // FRAME_CHARS, FRAME_STEP):
            frame = t[i * FRAME_CHARS:(i + 1) * FRAME_CHARS]
            yield doc_id, i, hashlib.sha256(frame.encode("utf-8")).hexdigest()

    return _per_row(fan_out(docs.select("doc_id", TEXT_COL), "doc_id"),
                    ("doc_id", TEXT_COL), frames, FRAME_SCHEMA)


def audio_chunks(docs: DataFrame) -> DataFrame:
    """Audio-modality segmentation plumbing: split each opaque payload
    into fixed-size chunks with typed offsets — the shape of windowed
    audio feature extraction (byte windows stand in for sample
    windows). The emitted rows carry offsets + sizes, never the payload
    bytes, so the output is metadata-narrow no matter how large the
    media column is. Each input partition chunks independently — no
    shuffle."""

    def chunks(doc_id, payload):
        n = len(payload)
        # empty payload → zero chunks (matches the oracle's
        # generate_series(0, ceil(len/1024)-1), which emits no
        # rows at len=0 — a zero-length chunk is not a window)
        for i in range(math.ceil(n / CHUNK_BYTES)):
            yield (doc_id, i, i * CHUNK_BYTES,
                   min(CHUNK_BYTES, n - i * CHUNK_BYTES))

    return _per_row(with_binary_payload(docs).select(*_PAYLOAD_COLS),
                    _PAYLOAD_COLS, chunks,
                    "doc_id long, chunk_idx long, start_byte long, "
                    "n_bytes long")


def wav_payloads(docs: DataFrame) -> DataFrame:
    """doc_id → REAL RIFF/PCM16 WAV payload (binary column), synthesized
    deterministically per doc with the stdlib codec (`multimodal/wav.py`):
    a mono 8 kHz integer sawtooth — sample(i) = ((i·k) mod 2001) − 1000
    with k = 1 + doc_id mod 17, n_frames = 800 + (doc_id mod 32)·8. The
    all-integer waveform is what makes a full value-level DuckDB oracle
    possible for an audio pipeline: the oracle recomputes the samples
    from first principles with generate_series, no float DSP anywhere.
    Docs with doc_id ≡ 0 (mod 50) are encoded STEREO (the same waveform
    duplicated per channel) so downstream decode exercises interleaving.
    """

    def payload(d):
        k = 1 + d % 17
        mono = [((i * k) % 2001) - 1000 for i in range(800 + (d % 32) * 8)]
        if d % 50 == 0:
            return encode_wav([s for s in mono for _ in range(2)], 8000,
                              channels=2)
        return encode_wav(mono, 8000, channels=1)

    return _synthesized(docs, payload)


def _pcm_stats(with_pcm: DataFrame, decode) -> DataFrame:
    """Integer amplitude stats of a PCM column, for any `decode(payload)
    -> (sample_rate, channels, n_frames, interleaved samples)`:
    total_abs/peak are exact integers summed over channel 0 only, so
    mono and stereo stats agree with the per-frame oracle; duration_ms
    divides by the DECODED per-payload sample rate."""

    def stats(doc_id, payload):
        rate, ch, n_frames, samples = decode(bytes(payload))
        ch0 = samples[::ch]
        yield (doc_id, rate, ch, n_frames, sum(abs(s) for s in ch0),
               max(abs(s) for s in ch0))

    out = _per_row(with_pcm, _PAYLOAD_COLS, stats,
                   "doc_id bigint, sample_rate bigint, channels bigint, "
                   "n_frames bigint, total_abs bigint, peak bigint")
    return out.select(
        "doc_id", "sample_rate", "channels", "n_frames",
        F.floor(F.col("n_frames") * 1000 / F.col("sample_rate"))
        .cast("bigint")
        .alias("duration_ms"), "total_abs", "peak")


def audio_decode_stats(with_wav: DataFrame) -> DataFrame:
    """REAL audio decode over a binary WAV column: RIFF parse + PCM16,
    G.711, IMA ADPCM or float32 unpack per payload (`multimodal/wav.py`),
    `_pcm_stats` out — the `image_decode_stats` contract for the audio
    modality."""
    return _pcm_stats(with_wav, decode_wav)


def y4m_payloads(docs: DataFrame) -> DataFrame:
    """doc_id → REAL YUV4MPEG2 video payload (binary column),
    synthesized deterministically per doc with the stdlib codec
    (`multimodal/y4m.py`): width = 8 + (doc_id%4)·2, height = 6 +
    (doc_id%3)·2, n_frames = 4 + doc_id%6, luma(f, i) =
    (doc_id·13 + f·31 + i·7) mod 256. Docs with doc_id ≡ 0 (mod 40)
    encode C420 (neutral chroma planes) so decode exercises the
    subsampled-frame layout; the rest are Cmono. The all-integer luma
    formula is what makes a full value-level DuckDB oracle possible for
    a VIDEO pipeline."""

    def payload(d):
        w, h = 8 + (d % 4) * 2, 6 + (d % 3) * 2
        frames = [bytes((d * 13 + f * 31 + i * 7) % 256
                        for i in range(w * h))
                  for f in range(4 + d % 6)]
        return encode_y4m(frames, w, h,
                          colorspace="420jpeg" if d % 40 == 0 else "mono")

    return _synthesized(docs, payload)


def video_frame_stats(with_y4m: DataFrame) -> DataFrame:
    """REAL video decode + frame sampling over a binary Y4M column:
    parse the stream framing (`multimodal/y4m.py`), keep every
    `FRAME_STRIDE`-th frame — the standard training-data frame-sample
    step — and emit exact integer luma stats per sampled frame.
    Metadata-narrow output (stats, never pixels), a frame-table out,
    no shuffle."""

    def stats(doc_id, payload):
        w, h, _, _, frames = decode_y4m(bytes(payload))
        for idx in range(0, len(frames), FRAME_STRIDE):
            luma = frames[idx]
            yield (doc_id, idx, w, h, len(frames), sum(luma), min(luma),
                   max(luma))

    return _per_row(with_y4m, _PAYLOAD_COLS, stats,
                    "doc_id bigint, frame_idx bigint, width bigint, "
                    "height bigint, n_frames bigint, luma_sum bigint, "
                    "luma_min bigint, luma_max bigint")


def g711_payloads(docs: DataFrame) -> DataFrame:
    """doc_id → REAL G.711 companded WAV payload (binary column):
    format code 7 (µ-law, even docs) or 6 (A-law, odd docs), mono
    8 kHz, with the companded CODE bytes generated deterministically —
    code(i) = (i·k + doc_id) mod 256, k = 1 + doc_id mod 13,
    n = 400 + (doc_id mod 25)·8 frames. Generating codes (not linear
    samples) means only the EXPANSION needs an oracle: the registry
    replays the ITU segment/mantissa integer formulas in SQL and the
    decode path (`wav.mulaw_to_linear`/`alaw_to_linear`) is checked to
    the LSB."""

    def payload(d):
        k = 1 + d % 13
        codes = [(i * k + d) % 256 for i in range(400 + (d % 25) * 8)]
        return encode_wav_g711(codes, 8000, channels=1,
                               law="mulaw" if d % 2 == 0 else "alaw")

    return _synthesized(docs, payload)


def adpcm_payloads(docs: DataFrame) -> DataFrame:
    """doc_id → REAL mono IMA ADPCM WAV payload (format 0x11, one
    block): header predictor ((doc_id·37 mod 4001) − 2000), step index
    doc_id mod 89, and m = 60 + (doc_id mod 16)·2 deterministic nibble
    bytes ((i·k + doc_id) mod 256, k = 1 + doc_id mod 13). Carrying
    raw nibbles (not an encoded waveform) means only the DECODER state
    machine needs an oracle — the registry replays it with a recursive
    CTE; the real compressor is exercised by the pytest roundtrip."""

    def payload(d):
        k = 1 + d % 13
        data = bytes((i * k + d) % 256 for i in range(60 + (d % 16) * 2))
        return encode_wav_ima(((d * 37) % 4001) - 2000, d % 89, data, 8000)

    return _synthesized(docs, payload)


def float_wav_payloads(docs: DataFrame) -> DataFrame:
    """doc_id → REAL IEEE float32 PCM WAV payload (format 3), mono
    8 kHz: sample(i) = m/64 with m = ((i·k + doc_id) mod 129) − 64,
    k = 1 + doc_id mod 13, n = 320 + (doc_id mod 40)·8 frames. Every
    m/64 is exactly representable in float32 and m·32767/64 exactly in
    float64, so the decode-side int16 conversion floor(f·32767 + 0.5)
    is integer-exact in BOTH engines and the oracle replays it in SQL
    with no float tolerance anywhere."""

    def payload(d):
        k = 1 + d % 13
        return encode_wav_float32([(((i * k + d) % 129) - 64) / 64.0
                                   for i in range(320 + (d % 40) * 8)],
                                  8000, channels=1)

    return _synthesized(docs, payload)


def jpeg_progressive_payloads(docs: DataFrame) -> DataFrame:
    """doc_id → REAL progressive (SOF2) JPEG payload: the SAME per-doc
    patterns and quality as `jpeg_payloads` (one shared corpus — only
    the encoder differs), encoded with the progressive scan script.
    Because baseline and progressive share the DCT/quantization front
    half, both payloads decode to byte-identical pixels — so the SAME
    dims+recon_ok oracle applies, and the progressive entropy decoder
    gets its own end-to-end value check."""
    return _jpeg_payloads_with(docs, encode_jpeg_progressive)


def gif_payloads(docs: DataFrame) -> DataFrame:
    """doc_id → REAL GIF89a payload (binary column), synthesized
    deterministically per doc: width = doc_id%7+6, height = doc_id%5+5,
    palette size cycling 4/8/16, index[i] = (doc_id·37 + 11i) mod
    n_colors, and every ODD doc interlaced (Appendix-E four-pass row
    order) so the decode stage downstream must genuinely de-interlace.
    GIF is LOSSLESS, so unlike JPEG the downstream oracle states exact
    pixel statistics — including a position-weighted checksum no
    order-insensitive stat could pin."""

    def payload(d):
        w, h = d % 7 + 6, d % 5 + 5
        nc = (4, 8, 16)[d % 3]
        idx = bytes((d * 37 + 11 * i) % nc for i in range(w * h))
        return encode_gif(idx, w, h, nc, interlace=bool(d % 2))

    return _synthesized(docs, payload)


def gif_decode_stats(with_gif: DataFrame) -> DataFrame:
    """REAL GIF decode over a binary column: LZW decompress +
    de-interlace per payload (`multimodal/gif.py`), exact index-stream
    `_px_stats` over the ROW-MAJOR stream, whose checksum catches a
    de-interlace or dictionary-rebuild bug the order-insensitive sums
    cannot. Metadata-narrow output; pixels never cross the shuffle."""

    def stats(doc_id, payload):
        w, h, nc, px, _pal = decode_gif(bytes(payload))
        yield (doc_id, w, h, nc, *_px_stats(px))

    return _per_row(with_gif, _PAYLOAD_COLS, stats,
                    "doc_id bigint, width bigint, height bigint, "
                    "n_colors bigint, sum_px bigint, min_px bigint, "
                    "max_px bigint, checksum bigint")


def mp3_payloads(docs: DataFrame) -> DataFrame:
    """doc_id → REAL MPEG-1 Layer III byte stream (binary column),
    synthesized deterministically per doc (`multimodal/mp3.py`):
    n_frames = 2 + doc_id mod 6, sample-rate index doc_id mod 3,
    padding alternates per frame, and docs with doc_id ≡ 0 (mod 4)
    are VBR — frame i uses bitrate index 1 + (doc_id + i) mod 14,
    others CBR at index 1 + doc_id mod 14. Every 10th doc carries a
    leading ID3v2 tag of (doc_id mod 64) bytes so the parser's
    syncsafe skip is exercised. All-integer synthesis — the stats
    oracle recomputes every field from these formulas."""

    def payload(d):
        frames = [(1 + ((d + i) % 14 if d % 4 == 0 else d % 14), d % 3,
                   i % 2) for i in range(2 + d % 6)]
        return encode_mp3(frames, fill=d % 256,
                          id3_size=(d % 64) if d % 10 == 0 else 0,
                          channels=2 if d % 7 == 0 else 1)

    return _synthesized(docs, payload)


def mp3_frame_stats(with_mp3: DataFrame) -> DataFrame:
    """REAL MPEG frame-header walk over a binary MP3 column
    (`multimodal/mp3.py`): sync-validated frame stepping, ID3v2 skip,
    exact integer stream stats — the ffprobe-style inventory pass a
    100 TB audio curation pipeline runs before any costly decode.
    Metadata-narrow, linear in bytes."""
    return _per_row(with_mp3, _PAYLOAD_COLS,
                    lambda doc_id, payload: (
                        (doc_id, *parse_mp3(bytes(payload))),),
                    "doc_id bigint, n_frames bigint, n_bytes bigint, "
                    "sample_rate bigint, channels bigint, "
                    "avg_bitrate_kbps bigint, is_vbr boolean, "
                    "duration_ms bigint")


def tiff_payloads(docs: DataFrame) -> DataFrame:
    """doc_id → REAL baseline TIFF payload (binary column), synthesized
    deterministically per doc (`multimodal/tiff.py`): width = 8 +
    doc_id mod 13, height = 6 + doc_id mod 9, integer raster
    px(x, y) = (doc_id + 3x + 5y) mod 256, LZW-compressed
    (compression 5) for doc_id ≡ 0 (mod 3) else uncompressed,
    big-endian every 7th doc, rows_per_strip 4 — multi-strip,
    both byte orders, and both codings all exercised. All-integer, so
    the stats oracle can replay the raster from first principles."""

    def payload(d):
        w, h = 8 + d % 13, 6 + d % 9
        px = [(d + 3 * x + 5 * y) % 256 for y in range(h) for x in range(w)]
        return encode_tiff(w, h, px, compression=5 if d % 3 == 0 else 1,
                           big_endian=(d % 7 == 0), rows_per_strip=4)

    return _synthesized(docs, payload)


def tiff_decode_stats(with_tiff: DataFrame) -> DataFrame:
    """REAL TIFF decode over a binary column (`multimodal/tiff.py`):
    IFD walk + strip reassembly + TIFF-LZW expansion, exact integer
    luma stats out — the `image_decode_stats` contract for the TIFF
    modality. Metadata-narrow, linear in bytes."""

    def stats(doc_id, payload):
        w, h, comp, px = decode_tiff(bytes(payload))
        yield doc_id, w, h, comp, sum(px), min(px), max(px)

    return _per_row(with_tiff, _PAYLOAD_COLS, stats,
                    "doc_id bigint, width bigint, height bigint, "
                    "compression bigint, luma_sum bigint, "
                    "luma_min bigint, luma_max bigint")


def bmp_payloads(docs: DataFrame) -> DataFrame:
    """doc_id → REAL 8-bit BMP payload (binary column), synthesized
    deterministically per doc (`multimodal/bmp.py`): width = 9 +
    doc_id mod 12, height = 5 + doc_id mod 8, 16-gray palette,
    top-down raster px(x, y) = ((x div 3) + y + doc_id) mod 16 (the
    div-3 bands give RLE8 real runs to compress), BI_RLE8 for even
    doc_ids / BI_RGB (4-byte row padding) for odd — both codings and
    the bottom-up row convention exercised. All-integer, so the
    stats oracle replays the raster from first principles."""

    def payload(d):
        w, h = 9 + d % 12, 5 + d % 8
        px = [((x // 3) + y + d) % 16 for y in range(h) for x in range(w)]
        return encode_bmp(w, h, px, n_colors=16, rle=(d % 2 == 0))

    return _synthesized(docs, payload)


def bmp_decode_stats(with_bmp: DataFrame) -> DataFrame:
    """REAL BMP decode over a binary column (`multimodal/bmp.py`):
    header/palette parse + BI_RLE8 expansion (full escape grammar)
    or padded-row unpack, bottom-up reassembly, exact integer index
    `_px_stats` — BMP is lossless, the `gif_decode_stats` contract.
    Metadata-narrow, linear in bytes."""

    def stats(doc_id, payload):
        w, h, comp, nc, px = decode_bmp(bytes(payload))
        yield (doc_id, w, h, comp, nc, *_px_stats(px))

    return _per_row(with_bmp, _PAYLOAD_COLS, stats,
                    "doc_id bigint, width bigint, height bigint, "
                    "compression bigint, n_colors bigint, "
                    "sum_px bigint, min_px bigint, max_px bigint, "
                    "checksum bigint")


def pnm_payloads(docs: DataFrame) -> DataFrame:
    """doc_id → REAL netpbm payload (binary column), synthesized
    deterministically per doc (`multimodal/pnm.py`): magic cycles
    P2 (plain ASCII) / P5 (raw gray) / P6 (raw RGB) by doc_id mod 3;
    width = 7 + d mod 9, height = 4 + d mod 6; maxval 255 except
    P5 docs with d mod 4 == 1, which use 1000 to exercise the
    2-byte big-endian sample path; sample(i) = (d + 7i) mod
    (maxval+1). A `#` comment is planted in every header. All-
    integer, so the stats oracle replays the raster from first
    principles."""

    def payload(d):
        magic = ("P2", "P5", "P6")[d % 3]
        w, h = 7 + d % 9, 4 + d % 6
        maxval = 1000 if (magic == "P5" and d % 4 == 1) else 255
        n = w * h * (3 if magic == "P6" else 1)
        return encode_pnm(magic, w, h, maxval,
                          [(d + 7 * i) % (maxval + 1) for i in range(n)])

    return _synthesized(docs, payload)


def pnm_decode_stats(with_pnm: DataFrame) -> DataFrame:
    """REAL netpbm decode over a binary column (`multimodal/pnm.py`):
    comment-aware tokenized header parse, then ASCII-token or raw
    (1/2-byte big-endian) raster read; exact integer sample
    `_px_stats` — netpbm is lossless, the gif/bmp contract.
    Metadata-narrow, linear in bytes."""

    def stats(doc_id, payload):
        magic, w, h, mv, px = decode_pnm(bytes(payload))
        yield (doc_id, magic, w, h, mv, len(px), *_px_stats(px))

    return _per_row(with_pnm, _PAYLOAD_COLS, stats,
                    "doc_id bigint, magic string, width bigint, "
                    "height bigint, maxval bigint, n_samples bigint, "
                    "sum_px bigint, min_px bigint, max_px bigint, "
                    "checksum bigint")


def tga_payloads(docs: DataFrame) -> DataFrame:
    """doc_id → REAL Truevision TGA payload (binary column),
    synthesized deterministically per doc (`multimodal/tga.py`):
    imageType cycles 2 (uncompressed BGR) / 10 (RLE BGR) / 3
    (uncompressed gray) by doc_id mod 3; width = 5 + d mod 8,
    height = 3 + d mod 5; rows stored BOTTOM-UP when d is even
    (exercising the descriptor-bit flip) and a 4-byte ID field is
    always planted (exercising the header skip). Channel samples in
    normalized top-down RGB order: RLE docs use the run-raw
    alternation law v(i) = (d + 9·(i DIV 12) + 13·[(i DIV 3) mod
    4 = 3]) mod 256 — pixels come in 3-long runs separated by one
    unique pixel, so the stream provably contains BOTH packet kinds
    (pinned in tests) — and (d + 5·i) mod 256 otherwise.
    All-integer, so the stats oracle replays the raster from first
    principles."""

    def payload(d):
        itype = (2, 10, 3)[d % 3]
        w, h = 5 + d % 8, 3 + d % 5
        n = w * h * (3 if itype in (2, 10) else 1)
        if itype == 10:
            samples = [(d + 9 * (i // 12)
                        + (13 if (i // 3) % 4 == 3 else 0)) % 256
                       for i in range(n)]
        else:
            samples = [(d + 5 * i) % 256 for i in range(n)]
        return encode_tga(itype, w, h, samples, top_down=bool(d % 2))

    return _synthesized(docs, payload)


def tga_decode_stats(with_tga: DataFrame) -> DataFrame:
    """REAL TGA decode over a binary column (`multimodal/tga.py`):
    LE fixed-struct header, ID-field skip, BGR→RGB reorder,
    bottom-up→top-down row flip, raw or RLE pixel stream; exact
    integer channel `_px_stats` over the NORMALIZED sample order — any
    orientation, reorder, or RLE bug breaks the checksum.
    Metadata-narrow, linear in bytes."""

    def stats(doc_id, payload):
        itype, w, h, depth, px = decode_tga(bytes(payload))
        yield (doc_id, itype, w, h, depth, len(px), *_px_stats(px))

    return _per_row(with_tga, _PAYLOAD_COLS, stats,
                    "doc_id bigint, image_type bigint, width bigint, "
                    "height bigint, depth bigint, n_samples bigint, "
                    "sum_px bigint, min_px bigint, max_px bigint, "
                    "checksum bigint")


def aiff_payloads(docs: DataFrame) -> DataFrame:
    """doc_id → REAL FORM/AIFF payload (binary column), synthesized
    deterministically per doc with the stdlib codec
    (`multimodal/aiff.py`): an 11 025 Hz integer sawtooth —
    sample(i) = ((i·k) mod 1601) − 800 with k = 1 + doc_id mod 13,
    n_frames = 600 + (doc_id mod 24)·10. Docs with doc_id ≡ 0
    (mod 40) are encoded STEREO (same waveform per channel) so decode
    exercises big-endian interleaving. The all-integer waveform makes
    the full value-level DuckDB oracle possible (the `wav_payloads`
    posture); 11 025 exercises the extended-80 rate field with a
    non-power-of-two."""

    def payload(d):
        k = 1 + d % 13
        mono = [((i * k) % 1601) - 800 for i in range(600 + (d % 24) * 10)]
        if d % 40 == 0:
            return encode_aiff([s for s in mono for _ in range(2)], 11025,
                               channels=2)
        return encode_aiff(mono, 11025, channels=1)

    return _synthesized(docs, payload)


def aiff_decode_stats(with_aiff: DataFrame) -> DataFrame:
    """REAL AIFF decode over a binary column: IFF chunk walk +
    extended-80 rate decode + big-endian PCM16 unpack
    (`multimodal/aiff.py`), `_pcm_stats` out — the `audio_decode_stats`
    contract for the AIFF container."""
    return _pcm_stats(with_aiff, decode_aiff)
