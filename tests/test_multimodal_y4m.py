"""Y4M codec correctness: stream round-trip, framing errors, honest
gates for colorspaces that genuinely need a pixel-format library."""

from __future__ import annotations

import pytest

from cloud_native_mapreduce_spark.multimodal.y4m import (decode_y4m,
                                                         encode_y4m)


def _frames(n, w, h, seed=5):
    return [bytes((seed + f * 31 + i * 7) % 256 for i in range(w * h))
            for f in range(n)]


def test_roundtrip_mono_and_420():
    fr = _frames(3, 8, 6)
    w, h, num, den, got = decode_y4m(encode_y4m(fr, 8, 6))
    assert (w, h, num, den) == (8, 6, 25, 1)
    assert got == fr
    # C420 carries chroma planes; decode returns the luma planes only
    w, h, _, _, got = decode_y4m(
        encode_y4m(fr, 8, 6, fps=(30, 1), colorspace="420jpeg"))
    assert (w, h) == (8, 6)
    assert got == fr


def test_framing_errors_raise_value_error():
    with pytest.raises(ValueError):
        decode_y4m(b"JPEG4MPEG2 W8 H6\n")
    good = encode_y4m(_frames(2, 8, 6), 8, 6)
    with pytest.raises(ValueError):
        decode_y4m(good[:-5])  # truncated final frame
    with pytest.raises(ValueError):
        decode_y4m(b"YUV4MPEG2 F25:1\nFRAME\n")  # no W/H


def test_exotic_colorspace_stays_honestly_gated():
    payload = encode_y4m(_frames(1, 4, 4), 4, 4).replace(
        b"Cmono", b"C444p10")
    with pytest.raises(NotImplementedError, match="C444p10"):
        decode_y4m(payload)


def test_y4m_pipeline_end_to_end(spark, sf_dir):
    """payload really crosses Spark as binary; every 2nd frame sampled;
    doc 0 is the C420 branch and still yields exact luma stats."""
    from cloud_native_mapreduce_spark.multimodal import binary
    from cloud_native_mapreduce_spark.sources.tables import load_table
    docs = load_table(spark, sf_dir, "documents")
    with_y4m = binary.y4m_payloads(docs)
    assert dict(with_y4m.dtypes)["payload"] == "binary"
    stats = binary.video_frame_stats(with_y4m)
    rows = {r["frame_idx"]: r
            for r in stats.where(stats.doc_id == 0).collect()}
    # doc 0: w=8 h=6 nf=4 -> sampled frames 0 and 2
    assert set(rows) == {0, 2}
    r = rows[2]
    assert (r["width"], r["height"], r["n_frames"]) == (8, 6, 4)
    assert r["luma_sum"] == sum((2 * 31 + i * 7) % 256 for i in range(48))
