"""Real PNM decode (OP-X-MM-01): dependency-free header/pixel parser,
the engine-side PPM encoder, and per-item error isolation in the
Arrow-batched media kernels."""

from __future__ import annotations

import pytest

from crawlingbigdatavisionaid_spark.multimodal.binary import (
    attach_ppm,
    attach_wav,
    attach_y4m,
    decode_audio,
    decode_audio_features,
    decode_image,
    decode_image_features,
    decode_video,
    decode_video_features,
    _wav_header,
)


def _p6(w: int, h: int, pixels: bytes) -> bytes:
    return b"P6\n%d %d\n255\n" % (w, h) + pixels


def test_decode_p6_rgb():
    # 2x1 RGB: pixel0 = (1,2,3), pixel1 = (4,5,6)
    d = decode_image(_p6(2, 1, bytes([1, 2, 3, 4, 5, 6])))
    assert (d["width"], d["height"], d["channels"]) == (2, 1, 3)
    assert d["n_pixels"] == 2
    assert d["channel_sums"] == [1 + 4, 2 + 5, 3 + 6]


def test_decode_p5_grayscale():
    d = decode_image(b"P5\n3 2\n255\n" + bytes([10, 20, 30, 40, 50, 60]))
    assert (d["width"], d["height"], d["channels"]) == (3, 2, 1)
    assert d["channel_sums"] == [210]


def test_decode_header_comments_and_whitespace():
    payload = b"P6 # rgb image\n# a comment line\n 2\t1 # dims\n255\n" + bytes(
        [1, 2, 3, 4, 5, 6]
    )
    d = decode_image(payload)
    assert (d["width"], d["height"]) == (2, 1)


@pytest.mark.parametrize(
    "payload",
    [
        b"",  # empty
        b"\xff\xd8\xff\xe0JFIF",  # JPEG magic — codec formats rejected
        b"\x89PNG\r\n",  # PNG magic
        b"P6\n2 1\n255\n\x01\x02",  # truncated pixel array
        b"P6\n2 1\n65535\n" + bytes(12),  # 16-bit unsupported
        b"P6\n0 1\n255\n",  # non-positive dims
        b"P6\nx y\n255\n",  # non-numeric header
    ],
)
def test_decode_rejects_malformed(payload):
    with pytest.raises(ValueError):
        decode_image(payload)


def test_decode_wav_8bit():
    d = decode_audio(_wav_header(4, 8000) + bytes([10, 20, 30, 40]))
    assert (d["channels"], d["sample_rate"], d["bits"]) == (1, 8000, 8)
    assert d["n_samples"] == 4
    assert (d["sum_samples"], d["min_sample"], d["max_sample"]) == (100, 10, 40)


def test_decode_wav_16bit_and_chunk_skip():
    import struct

    # stereo 16-bit with an unknown LIST chunk between fmt and data —
    # a real parser walks chunks, it doesn't assume fixed offsets
    samples = [-5, 5, 1000, -1000]
    data = b"".join(struct.pack("<h", s) for s in samples)
    wav = (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + 16 + 8 + 4 + 8 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<IHHIIHH", 16, 1, 2, 44100, 176400, 4, 16)
        + b"LIST"
        + struct.pack("<I", 4)
        + b"INFO"
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )
    d = decode_audio(wav)
    assert (d["channels"], d["sample_rate"], d["bits"]) == (2, 44100, 16)
    assert d["n_samples"] == 2  # 4 samples over 2 channels
    assert d["sum_samples"] == 0
    assert (d["min_sample"], d["max_sample"]) == (-1000, 1000)


@pytest.mark.parametrize(
    "payload",
    [
        b"",
        b"OggS\x00\x00",  # compressed container
        b"RIFF\x10\x00\x00\x00AVI ",  # RIFF but not WAVE
        _wav_header(10, 8000) + bytes(5),  # truncated data chunk
    ],
)
def test_decode_audio_rejects_malformed(payload):
    with pytest.raises(ValueError):
        decode_audio(payload)


def test_decode_y4m():
    frame0 = bytes(range(48))
    frame1 = bytes([1] * 48)
    y4m = (
        b"YUV4MPEG2 W4 H4 F25:1 Ip A1:1 C444\n"
        + b"FRAME\n" + frame0 + b"FRAME\n" + frame1
    )
    d = decode_video(y4m)
    assert (d["width"], d["height"], d["n_frames"]) == (4, 4, 2)
    # luma = first 16 bytes of each frame
    assert d["sum_luma"] == sum(range(16)) + 16


@pytest.mark.parametrize(
    "payload",
    [
        b"",
        b"YUV4MPEG2 W4 H4 C420\nFRAME\n" + bytes(24),  # subsampled: refuse
        b"YUV4MPEG2 W4 H4 C444\nFRAME\n" + bytes(10),  # truncated frame
        b"YUV4MPEG2 W4 H4 C444\nJUNK!\n" + bytes(48),  # bad marker
    ],
)
def test_decode_video_rejects_malformed(payload):
    with pytest.raises(ValueError):
        decode_video(payload)


def test_audio_video_roundtrip(spark, sf_dir):
    from crawlingbigdatavisionaid_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").limit(10)
    want = {r["doc_id"]: r["text"] or "" for r in docs.collect()}

    audio = {
        r["doc_id"]: r for r in decode_audio_features(attach_wav(docs)).collect()
    }
    assert set(audio) == set(want)
    for doc_id, text in want.items():
        raw = text.encode()[:200].ljust(200, b"x")
        assert audio[doc_id]["sum_samples"] == sum(raw)

    video = {
        r["doc_id"]: r for r in decode_video_features(attach_y4m(docs)).collect()
    }
    for doc_id, text in want.items():
        nf = 1 + doc_id % 4
        assert video[doc_id]["n_frames"] == nf
        raw = text.encode()[: nf * 48].ljust(nf * 48, b"x")
        assert video[doc_id]["sum_luma"] == sum(
            b for i, b in enumerate(raw) if i % 48 < 16
        )


def test_featurizer_isolates_bad_payloads(spark):
    rows = [
        (1, _p6(2, 1, bytes([1, 2, 3, 4, 5, 6]))),
        (2, b"\xff\xd8not an image"),
        (3, _p6(1, 1, bytes([7, 8, 9]))),
        (4, b"P5\n2 1\n255\n" + bytes([10, 20])),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r["doc_id"]: r.asDict() for r in decode_image_features(df).collect()}
    assert set(got) == {1, 3, 4}  # the corrupt payload drops, batch survives
    assert got[1]["sum_r"] == 5 and got[1]["sum_g"] == 7 and got[1]["sum_b"] == 9
    assert got[3]["n_pixels"] == 1
    # grayscale has one channel: the green and blue sums are NULL
    assert got[4]["sum_r"] == 30
    assert got[4]["sum_g"] is None and got[4]["sum_b"] is None


# one valid payload per kernel that drops a NULL payload
_NULL_PAYLOAD_CASES = {
    "decode_image_features": _p6(2, 1, bytes([1, 2, 3, 4, 5, 6])),
    "decode_audio_features": _wav_header(16, 8000) + bytes(range(16)),
    "decode_video_features": b"YUV4MPEG2 W4 H4 C444\nFRAME\n" + bytes(48),
    "fake_decode_features": b"payload",
    "sample_frames": bytes(range(32)),
    "resize_payload": b"payload",
    "image_dhash": _p6(2, 1, bytes([1, 2, 3, 4, 5, 6])),
    "image_dhash64": _p6(2, 1, bytes([1, 2, 3, 4, 5, 6])),
    "image_whash64": _p6(2, 1, bytes([1, 2, 3, 4, 5, 6])),
    "audio_fingerprint": _wav_header(16, 8000) + bytes(range(16)),
    "audio_wht_fingerprint": _wav_header(16, 8000) + bytes(range(16)),
}


@pytest.mark.parametrize("name", sorted(_NULL_PAYLOAD_CASES))
def test_null_payload_yields_no_row(spark, name):
    """A NULL payload is one more bad item: it yields no row instead of
    failing the task, and the valid payload beside it still comes out."""
    from crawlingbigdatavisionaid_spark.multimodal import binary
    from crawlingbigdatavisionaid_spark.operators import perceptual

    kernel = getattr(binary, name, None) or getattr(perceptual, name)
    df = spark.createDataFrame(
        [(1, _NULL_PAYLOAD_CASES[name]), (2, None)],
        "doc_id long, payload binary",
    )
    assert [r["doc_id"] for r in kernel(df).collect()] == [1]


def test_ppm_roundtrip_matches_encode_arithmetic(spark, sf_dir):
    from crawlingbigdatavisionaid_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").limit(20)
    out = {r["doc_id"]: r for r in decode_image_features(attach_ppm(docs)).collect()}
    want = {r["doc_id"]: r["text"] or "" for r in docs.collect()}
    assert set(out) == set(want)
    for doc_id, text in want.items():
        r = out[doc_id]
        w, h = 4 + doc_id % 5, 3 + doc_id % 4
        assert (r["width"], r["height"]) == (w, h)
        raw = text.encode()[: w * h * 3].ljust(w * h * 3, b"x")
        assert r["sum_r"] == sum(raw[0::3])
        assert r["sum_g"] == sum(raw[1::3])
        assert r["sum_b"] == sum(raw[2::3])


def test_byte_histogram_non_divisor_bins_and_null_payload(spark):
    """ADVICE r6 (low): with bins=10 (256 % 10 != 0) the tail byte
    values (250..255) must land in the last bin, not be dropped; and a
    NULL payload must yield a zero vector instead of aborting the whole
    Arrow batch."""
    from crawlingbigdatavisionaid_spark.multimodal.binary import (
        byte_histogram_embedding,
    )

    rows = [
        (1, bytes(range(256))),  # every byte value once
        (2, None),               # NULL payload
        (3, bytes([255, 255])),  # tail-only
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {
        r.vec_id: r.embedding
        for r in byte_histogram_embedding(df, bins=10).collect()
    }
    assert sum(out[1]) == 256.0  # nothing dropped
    # width=25 -> last bin holds bytes 225..255 = 31 values
    assert out[1][9] == 31.0
    assert out[2] == [0.0] * 10
    assert out[3][9] == 2.0 and sum(out[3]) == 2.0


def test_byte_histogram_rejects_bad_bins(spark):
    """Advice r7: bins > 256 floored the bucket width to 0 — numpy
    //0 warned and mapped every byte to bucket 0, a silently degenerate
    histogram. Out-of-range bins must raise instead."""
    import pytest as _pytest

    from crawlingbigdatavisionaid_spark.multimodal.binary import (
        byte_histogram_embedding,
    )

    df = spark.createDataFrame(
        [(1, bytearray(b"\x00\xffpayload"))], "doc_id long, payload binary"
    )
    for bad in (0, -3, 257, 1000):
        with _pytest.raises(ValueError, match="bins"):
            byte_histogram_embedding(df, bins=bad)
    # boundary values are legal and total mass equals payload length
    for ok in (1, 256):
        vec = byte_histogram_embedding(df, bins=ok).collect()[0].embedding
        assert len(vec) == ok and sum(vec) == 9.0
