"""Baseline-JPEG codec gates (multimodal/jpeg.py, pure stdlib+numpy).

Mirrors the PNG codec's test strategy: round-trip against independently
generated pixels with a lossy-error bound, structural determinism,
bitwise progressive-vs-baseline equality (shared quantization front
half), and honest NotImplementedError gates for the coding modes that
genuinely need a codec library (arithmetic, hierarchical, 12-bit)."""

from __future__ import annotations

import numpy as np
import pytest

from cloud_native_mapreduce_spark.multimodal.jpeg import (decode_jpeg,
                                                          encode_jpeg)


def _smooth(w: int, h: int) -> "np.ndarray":
    xx, yy = np.meshgrid(np.arange(w), np.arange(h))
    return (128 + 80 * np.sin(xx / 8.0) * np.cos(yy / 6.0)).astype(np.uint8)


def test_grey_roundtrip_tight_error():
    w, h = 37, 23
    img = _smooth(w, h)
    payload = encode_jpeg(img.tobytes(), w, h, 1, quality=90)
    W, H, C, px = decode_jpeg(payload)
    assert (W, H, C) == (w, h, 1)
    err = np.abs(np.frombuffer(px, dtype=np.uint8)
                 .reshape(h, w).astype(int) - img.astype(int))
    assert err.max() <= 4, err.max()


@pytest.mark.parametrize("sub,mean_bound", [("444", 2.0), ("420", 6.0)])
def test_rgb_roundtrip_both_subsamplings(sub, mean_bound):
    w, h = 37, 23
    base = _smooth(w, h)
    rgb = np.stack([base, np.flipud(base), np.fliplr(base)],
                   axis=-1).astype(np.uint8)
    payload = encode_jpeg(rgb.tobytes(), w, h, 3, quality=90,
                          subsampling=sub)
    W, H, C, px = decode_jpeg(payload)
    assert (W, H, C) == (w, h, 3)
    err = np.abs(np.frombuffer(px, dtype=np.uint8)
                 .reshape(h, w, 3).astype(int) - rgb.astype(int))
    assert err.mean() <= mean_bound, err.mean()


def test_encode_is_byte_deterministic():
    img = _smooth(16, 16)
    a = encode_jpeg(img.tobytes(), 16, 16, 1)
    b = encode_jpeg(img.tobytes(), 16, 16, 1)
    assert a == b


def test_non_multiple_of_mcu_dims():
    """Edge blocks are padded by replication and cropped on decode —
    odd dims under 4:2:0 (16-px MCUs) are the worst case."""
    w, h = 19, 13
    base = _smooth(w, h)
    rgb = np.stack([base, base, base], axis=-1).astype(np.uint8)
    payload = encode_jpeg(rgb.tobytes(), w, h, 3, quality=90,
                          subsampling="420")
    W, H, C, px = decode_jpeg(payload)
    assert (W, H, C) == (w, h, 3)
    assert len(px) == w * h * 3


def test_progressive_rejects_malformed_scan_script():
    """Progressive is DECODED now (round 8); a baseline full-band scan
    script under an SOF2 header is spec-invalid (a progressive DC scan
    must have Se=0) and must raise ValueError, not be misparsed."""
    img = _smooth(16, 16)
    payload = bytearray(encode_jpeg(img.tobytes(), 16, 16, 1))
    i = payload.find(b"\xFF\xC0")
    payload[i + 1] = 0xC2  # rewrite SOF0 → SOF2 (progressive)
    with pytest.raises(ValueError, match="Se=0"):
        decode_jpeg(bytes(payload))


def test_arithmetic_gate_is_honest():
    img = _smooth(16, 16)
    payload = bytearray(encode_jpeg(img.tobytes(), 16, 16, 1))
    i = payload.find(b"\xFF\xC0")
    payload[i + 1] = 0xC9  # SOF9: arithmetic sequential
    with pytest.raises(NotImplementedError, match="SOF"):
        decode_jpeg(bytes(payload))


def test_non_jpeg_rejected():
    with pytest.raises(ValueError, match="not a JPEG"):
        decode_jpeg(b"\x89PNG\r\n\x1a\nnope")


def test_decode_image_dispatches_jpeg():
    from cloud_native_mapreduce_spark.multimodal.binary import decode_image
    img = _smooth(20, 12)
    payload = encode_jpeg(img.tobytes(), 20, 12, 1)
    assert decode_image(payload) == (20, 12)


def test_registry_pattern_error_bound_has_headroom():
    """The jpeg_decode_stats oracle asserts recon_ok=TRUE for every doc;
    that holds only while the worst per-doc mean-abs error stays under
    the operator's bound (8.0). Measured worst over the doc_id pattern
    space: 5.11 — pin a sampled sweep so a codec regression fails here
    with the actual number, not as an opaque oracle hash-mismatch."""
    from cloud_native_mapreduce_spark.multimodal.binary import _jpeg_pattern
    worst = 0.0
    for d in range(0, 500, 7):
        w, h, ch, sub, px = _jpeg_pattern(np, d)
        payload = encode_jpeg(px.tobytes(), w, h, ch, quality=85,
                              subsampling=sub)
        W, H, C, out = decode_jpeg(payload)
        assert (W, H, C) == (w, h, ch)
        err = float(np.abs(np.frombuffer(out, dtype=np.uint8)
                           .astype(float)
                           - px.astype(float).ravel()).mean())
        worst = max(worst, err)
    assert worst <= 8.0, worst


def test_bare_trailing_ff_is_value_error():
    """Entropy data ending in a bare 0xFF (truncated mid-marker) must
    raise the documented ValueError, not leak an IndexError from the
    buffered reader's next-byte peek."""
    import struct

    import numpy as np
    img = ((np.arange(256) * 3) % 256).astype(np.uint8)
    p = bytes(encode_jpeg(img.tobytes(), 16, 16, 1))
    i = p.find(b"\xFF\xDA")
    (seglen,) = struct.unpack_from(">H", p, i + 2)
    crafted = p[:i + 2 + seglen] + b"\xFF"  # entropy = one bare 0xFF
    with pytest.raises(ValueError, match="truncated entropy"):
        decode_jpeg(crafted)


from hypothesis import given, settings, strategies as st


@settings(max_examples=15, deadline=None)
@given(st.integers(1, 21), st.integers(1, 17),
       st.sampled_from(["grey", "444", "420"]), st.integers(0, 2**32 - 1))
def test_jpeg_dims_roundtrip_any_shape(w, h, mode, seed):
    """MCU padding edges: ANY dims (1-pixel images, odd dims under 4:2:0
    chroma downsampling, dims straddling the 8/16 block grid) must
    encode→decode to the exact source dimensions with plausible pixels
    — the padding/upsample logic is where codecs break."""
    import numpy as np
    rng = np.random.default_rng(seed)
    ch = 1 if mode == "grey" else 3
    px = rng.integers(0, 256, size=w * h * ch, dtype=np.uint8).tobytes()
    sub = "420" if mode == "420" else "444"
    W, H, C, out = decode_jpeg(encode_jpeg(px, w, h, ch, subsampling=sub))
    assert (W, H, C) == (w, h, ch)
    assert len(out) == w * h * ch


def test_progressive_decodes_bitwise_equal_to_baseline():
    """Baseline and progressive share the DCT/quantization front half,
    so the two entropy organizations must decode to IDENTICAL pixels —
    a strong cross-check: the multi-scan DC/AC first+refine path and
    the single-scan baseline path agree on every coefficient. Shapes
    include the h ≡ 1 (mod 8) replicated-edge-row corpus that exposed
    the ZRL correction-bit interleaving bug during development."""
    from cloud_native_mapreduce_spark.multimodal.jpeg import \
        encode_jpeg_progressive
    import numpy as np
    for (w, h, ch, sub) in [(16, 12, 1, "444"), (24, 17, 3, "420"),
                            (10, 25, 1, "444"), (25, 25, 3, "444"),
                            (1, 1, 1, "444"), (9, 33, 3, "420")]:
        rng = np.random.default_rng(w * 100 + h)
        px = rng.integers(0, 256, size=w * h * ch,
                          dtype=np.uint8).tobytes()
        base = decode_jpeg(encode_jpeg(px, w, h, ch, subsampling=sub))
        prog = decode_jpeg(
            encode_jpeg_progressive(px, w, h, ch, subsampling=sub))
        assert base == prog, (w, h, ch, sub)


@settings(max_examples=15, deadline=None)
@given(st.integers(1, 26), st.integers(1, 26),
       st.sampled_from(["grey", "444", "420"]), st.integers(0, 2**32 - 1))
def test_progressive_equals_baseline_any_shape(w, h, mode, seed):
    """Property form of the cross-check over arbitrary shapes."""
    from cloud_native_mapreduce_spark.multimodal.jpeg import \
        encode_jpeg_progressive
    import numpy as np
    rng = np.random.default_rng(seed)
    ch = 1 if mode == "grey" else 3
    px = rng.integers(0, 256, size=w * h * ch, dtype=np.uint8).tobytes()
    sub = "420" if mode == "420" else "444"
    base = decode_jpeg(encode_jpeg(px, w, h, ch, subsampling=sub))
    prog = decode_jpeg(
        encode_jpeg_progressive(px, w, h, ch, subsampling=sub))
    assert base == prog


def test_ff_fill_bytes_before_markers_are_skipped():
    """Spec-legal 0xFF fill padding before a marker (B.1.1.2 — some
    real encoders emit it, ours does not) must be skipped, not parsed
    as marker 0xFF: both the segment loop and the progressive
    scan-boundary advance treat 0xFF 0xFF as padding."""
    import numpy as np

    from cloud_native_mapreduce_spark.multimodal.jpeg import (
        encode_jpeg_progressive)

    img = _smooth(16, 16)
    base = bytes(encode_jpeg(img.tobytes(), 16, 16, 1))
    want = decode_jpeg(base)
    # pad before the first DQT marker (exercises decode's segment loop)
    i = base.find(b"\xFF\xDB")
    crafted = base[:i] + b"\xFF\xFF" + base[i:]
    got = decode_jpeg(crafted)
    assert got[:3] == want[:3] and got[3] == want[3]

    prog = bytes(encode_jpeg_progressive(img.tobytes(), 16, 16, 1))
    want_p = decode_jpeg(prog)
    # pad before EOI (exercises _prog_scan's marker advance) and before
    # the second SOS (a scan boundary mid-file)
    assert prog.endswith(b"\xFF\xD9")
    j = prog.find(b"\xFF\xDA", prog.find(b"\xFF\xDA") + 2)
    assert j > 0
    crafted_p = (prog[:j] + b"\xFF" + prog[j:-2] + b"\xFF\xFF"
                 + prog[-2:])
    got_p = decode_jpeg(crafted_p)
    assert got_p[:3] == want_p[:3] and got_p[3] == want_p[3]
