"""The two record kernels behind binary.py's media codecs.

`_synthesized` and `_per_row` run every per-record Python step of the
codec family. These pin what the decode oracles cannot see: the exact
payload bytes each synthesizer emits (the oracles check decoded
statistics, and e.g. TIFF's byte order never reaches them), and the
declared schema on empty input.
"""

from __future__ import annotations

import hashlib

import pytest

from cloud_native_mapreduce_spark.multimodal import binary

#: sha256 over the (doc_id, payload) rows for doc_ids 0–63, sorted by
#: doc_id: 8-byte big-endian doc_id, 8-byte payload length, payload.
PAYLOAD_DIGESTS = {
    "png_payloads":
        "6ea89ec3aea4401939a097e140ae63946b1be0570102356cd79f8397654749a7",
    "jpeg_payloads":
        "f8ff8bb4485af8dbc825099efea4f7d8a43b9f352acd7054de372c38dbce484b",
    "jpeg_progressive_payloads":
        "1c4fa1e8e0de4d4ccdbce5f617b6cfcb89a2c0a7211e2dd068fcbd01cfbb734e",
    "wav_payloads":
        "fcf916bf4fd1beb126f923bd97eae37958ebac9637db06c5621dd9cad1056749",
    "g711_payloads":
        "0dae613d28942734e857494f84f419083ce224a086d0e34d4493260594a53a21",
    "adpcm_payloads":
        "a2aef92bb2cb68f5470fdfe04694ff6a45bc1f04d6cef9c768731103d4ee79bf",
    "float_wav_payloads":
        "f2b8cc55fce0b666f7df8335c34923df32a75b697c5d9e68fe2b3ef9c4e2d341",
    "aiff_payloads":
        "77e91d4b90e15a0096603f30817d04af6c558caf4c38db7a969893c94020e5ce",
    "y4m_payloads":
        "e3ed82be7128ec8f118e1594f95f03b161e0d1027bd138ebbf566a38dc9df0d3",
    "gif_payloads":
        "d6f61e91e14820ff1eef9b3bb62e77113d66d286a228e42aa5586d11967c1aed",
    "mp3_payloads":
        "3c078574c289149bf389b46710d722d13ed3eaeab38e3001d85d6e934ae0d08f",
    "tiff_payloads":
        "95969bce67e5f338b8297f9aa10fa72d6734a276c817715a5b693e00bc9e836a",
    "bmp_payloads":
        "181a9dcb6f8f4e311a459cb2c7cf2d00c3ecc75271f49a391ec68449a532db92",
    "pnm_payloads":
        "012a69b61b0e813d13e9cb9e37830cc62cdabbbb1e17b3b10fa48ce43f73ac96",
    "tga_payloads":
        "f32eae10973fe3e37d96705fa9fd58b641b46aea4800d0cd2c1f018b0c3ea96a",
}


def _payload_digest(frame) -> str:
    h = hashlib.sha256()
    for doc_id, payload in sorted(
            (r.doc_id, bytes(r.payload)) for r in frame.collect()):
        h.update(doc_id.to_bytes(8, "big"))
        h.update(len(payload).to_bytes(8, "big"))
        h.update(payload)
    return h.hexdigest()


@pytest.mark.parametrize("name", sorted(PAYLOAD_DIGESTS))
def test_synthesized_payload_bytes_are_pinned(spark, name):
    docs = spark.range(64).withColumnRenamed("id", "doc_id")
    frame = getattr(binary, name)(docs)
    assert frame.schema.simpleString() == \
        "struct<doc_id:bigint,payload:binary>"
    assert _payload_digest(frame) == PAYLOAD_DIGESTS[name]


@pytest.mark.parametrize("stats, payloads, schema", [
    (binary.bmp_decode_stats, binary.bmp_payloads,
     "struct<doc_id:bigint,width:bigint,height:bigint,compression:bigint,"
     "n_colors:bigint,sum_px:bigint,min_px:bigint,max_px:bigint,"
     "checksum:bigint>"),
    (binary.video_frame_stats, binary.y4m_payloads,
     "struct<doc_id:bigint,frame_idx:bigint,width:bigint,height:bigint,"
     "n_frames:bigint,luma_sum:bigint,luma_min:bigint,luma_max:bigint>"),
])
def test_empty_input_keeps_the_declared_schema(spark, sf_dir, stats,
                                               payloads, schema):
    from cloud_native_mapreduce_spark.sources.tables import load_table
    docs = load_table(spark, sf_dir, "documents").limit(0)
    out = stats(payloads(docs))
    assert out.schema.simpleString() == schema
    assert out.collect() == []


def test_batch_yielding_no_rows_keeps_the_declared_columns(spark):
    """A non-empty Arrow batch whose rows all expand to nothing still
    converts: the output frame takes its columns from the schema."""
    docs = spark.createDataFrame([(1, ""), (2, "short")],
                                 "doc_id long, text string")
    chunks = binary.audio_chunks(docs.where("doc_id = 1"))
    assert chunks.columns == ["doc_id", "chunk_idx", "start_byte",
                              "n_bytes"]
    assert chunks.collect() == []
    frames = binary.frame_sample(docs)
    assert frames.columns == ["doc_id", "frame_idx", "frame_sha"]
    assert frames.collect() == []
