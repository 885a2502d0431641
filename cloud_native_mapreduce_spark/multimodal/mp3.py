"""Pure-stdlib MPEG-1 Layer III frame-header walker for the audio
modality.

Scope is the honest metadata layer: real-world large-scale audio
curation extracts bitrate / sample-rate / duration / CBR-vs-VBR by
WALKING FRAME HEADERS — sync validation, header field decode, frame-
length arithmetic, ID3v2 tag skipping — without entropy-decoding any
audio (that is what `ffprobe`-class tools do for inventory passes).
This module implements exactly that walk from the public MPEG-1
specification (ISO/IEC 11172-3): 11-bit sync, version/layer fields,
the Layer III bitrate and sample-rate index tables, and the
`144 * bitrate / sample_rate + padding` frame-size rule. Actual
audio DECODE (Huffman spectral data, IMDCT) stays behind the module's
`decode_audio()` NotImplementedError gate — a deployment binds a real
codec library, the same posture as `wav.py`'s MP3 note.

All outputs are exact integers (frame counts, byte offsets, kbps,
floor-divided milliseconds), so the stats query carries a full
value-level DuckDB oracle that recomputes them from the synthesis
parameters — the same encode→binary→parse→stats loop the WAV/PNG/
JPEG/GIF/Y4M entries pin.
"""

from __future__ import annotations

#: MPEG-1 Layer III bitrate table, kbps, index 1..14 (0 = free, 15 =
#: forbidden — both rejected here).
BITRATE_KBPS = (None, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160,
                192, 224, 256, 320, None)

#: MPEG-1 sample-rate table, Hz, index 0..2 (3 = reserved).
SAMPLE_RATE_HZ = (44100, 48000, 32000, None)

#: Samples per MPEG-1 Layer III frame.
SAMPLES_PER_FRAME = 1152


def frame_header(bitrate_idx: int, sr_idx: int, padding: int,
                 channels: int = 1) -> bytes:
    """Encode one MPEG-1 Layer III frame header (no CRC).

    Fields per ISO/IEC 11172-3: sync=0x7FF, version=0b11 (MPEG-1),
    layer=0b01 (III), protection=1 (none); mode 0b11 = single
    channel, 0b00 = stereo.
    """
    if not BITRATE_KBPS[bitrate_idx]:
        raise ValueError(f"bad bitrate index {bitrate_idx}")
    if SAMPLE_RATE_HZ[sr_idx] is None:
        raise ValueError(f"bad sample-rate index {sr_idx}")
    b0 = 0xFF
    b1 = 0xE0 | (0b11 << 3) | (0b01 << 1) | 1
    b2 = (bitrate_idx << 4) | (sr_idx << 2) | (padding << 1)
    b3 = (0b11 if channels == 1 else 0b00) << 6
    return bytes((b0, b1, b2, b3))


def frame_length(bitrate_idx: int, sr_idx: int, padding: int) -> int:
    """Layer III frame size in bytes: 144 * bitrate / sample_rate
    (+1 padding byte), integer floor — the spec's exact rule."""
    return (144 * BITRATE_KBPS[bitrate_idx] * 1000
            // SAMPLE_RATE_HZ[sr_idx]) + padding


def encode_mp3(frames: list[tuple[int, int, int]],
               fill: int = 0, id3_size: int = 0,
               channels: int = 1) -> bytes:
    """Assemble a deterministic MP3 byte stream: optional ID3v2.3 tag
    (10-byte header + `id3_size` bytes, syncsafe-encoded), then one
    frame per (bitrate_idx, sr_idx, padding) triple, each padded to
    its spec length with the deterministic `fill` byte sequence
    (fill+offset mod 256) standing in for Huffman audio data."""
    out = bytearray()
    if id3_size:
        if id3_size >= 1 << 28:
            raise ValueError("ID3v2 size out of syncsafe range")
        out += b"ID3\x03\x00\x00"
        out += bytes(((id3_size >> 21) & 0x7F, (id3_size >> 14) & 0x7F,
                      (id3_size >> 7) & 0x7F, id3_size & 0x7F))
        out += bytes((fill + i) % 256 for i in range(id3_size))
    for bi, si, pad in frames:
        hdr = frame_header(bi, si, pad, channels)
        body_len = frame_length(bi, si, pad) - 4
        out += hdr
        out += bytes((fill + i) % 256 for i in range(body_len))
    return bytes(out)


#: (n_frames, total_bytes, sample_rate, channels, avg_bitrate_kbps,
#:  is_vbr, duration_ms)
Mp3Info = tuple[int, int, int, int, int, bool, int]


def parse_mp3(payload: bytes) -> Mp3Info:
    """Walk the frame sequence and return exact integer stream stats.

    Skips one leading ID3v2 tag (syncsafe size), then requires a
    valid MPEG-1 Layer III header at every frame boundary and steps
    by the spec frame length; trailing garbage or a broken sync
    raises ValueError (corrupt framing is an error, not a skip — the
    `wav.py` convention). avg_bitrate_kbps is the integer floor of
    the per-frame mean; duration_ms is floor(n_frames * 1152e3 / sr);
    sample rate must be constant across frames (enforced), channel
    mode is reported from the last frame (mode may legally vary
    frame-to-frame in joint stereo).
    """
    pos = 0
    if payload[:3] == b"ID3":
        if len(payload) < 10:
            raise ValueError("truncated ID3v2 header")
        if any(b & 0x80 for b in payload[6:10]):
            raise ValueError("non-syncsafe ID3v2 size")
        size = ((payload[6] << 21) | (payload[7] << 14)
                | (payload[8] << 7) | payload[9])
        pos = 10 + size
    n_frames = 0
    kbps_sum = 0
    kbps_seen: set[int] = set()
    sr = None
    channels = None
    while pos < len(payload):
        if pos + 4 > len(payload):
            raise ValueError(f"truncated frame header at {pos}")
        b0, b1, b2, b3 = payload[pos:pos + 4]
        if b0 != 0xFF or (b1 & 0xE0) != 0xE0:
            raise ValueError(f"lost sync at {pos}")
        if (b1 >> 3) & 0b11 != 0b11 or (b1 >> 1) & 0b11 != 0b01:
            raise ValueError("not MPEG-1 Layer III")
        bi, si, pad = b2 >> 4, (b2 >> 2) & 0b11, (b2 >> 1) & 1
        if not BITRATE_KBPS[bi]:
            raise ValueError(f"bad bitrate index {bi} at {pos}")
        if SAMPLE_RATE_HZ[si] is None:
            raise ValueError(f"reserved sample rate at {pos}")
        if sr is not None and SAMPLE_RATE_HZ[si] != sr:
            raise ValueError("sample-rate change mid-stream")
        sr = SAMPLE_RATE_HZ[si]
        channels = 1 if (b3 >> 6) == 0b11 else 2
        flen = frame_length(bi, si, pad)
        if pos + flen > len(payload):
            raise ValueError(f"truncated frame at {pos}")
        n_frames += 1
        kbps_sum += BITRATE_KBPS[bi]
        kbps_seen.add(BITRATE_KBPS[bi])
        pos += flen
    if not n_frames:
        raise ValueError("no MPEG frames")
    return (n_frames, len(payload), sr, channels,
            kbps_sum // n_frames, len(kbps_seen) > 1,
            n_frames * SAMPLES_PER_FRAME * 1000 // sr)


def decode_audio(payload: bytes) -> list[int]:
    """Full Layer III audio decode (Huffman + IMDCT) is out of the
    pure-stdlib baseline — bind a real codec library in deployment
    (the `wav.py` posture)."""
    raise NotImplementedError(
        "MP3 audio decode requires a codec backend; parse_mp3() "
        "provides the metadata layer")
