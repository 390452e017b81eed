"""Multimodal columns (OP-X-MM-01): opaque ``binary`` payloads + typed
metadata, with decode / feature-extraction / frame-sampling plumbing.

Design: media is an opaque ``BinaryType`` column next to a metadata
struct (mime, byte length, checksum). Heavy per-item work (decode,
resize, feature extraction) crosses to Python ONCE per Arrow batch
through one ``mapInArrow`` boundary, :func:`map_payloads` — the schema,
partitioning, kernel signature and batch shapes here are the real
100 TB plumbing. :func:`decode_image` is a REAL decoder for the
uncompressed binary PNM family (P5 grayscale / P6 RGB) — header parse +
raw pixel array, no external library; formats that require codec
libraries (JPEG/PNG) raise ``ValueError`` and flow through the same
per-item error-isolation path as any corrupt payload.

At scale the same pattern reads real media with
``spark.read.format('binaryFile')`` (path, modificationTime, length,
content) partitioned by directory; here the payload is synthesized from
``documents.text`` so results are oracle-checkable.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.conversion import to_arrow_schema
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

FRAME_BYTES = 16  # simulated "video frame" width for frame sampling
FRAME_STRIDE = 4  # sample every 4th frame

# The attach_* builders size payloads by CHARACTER count (rpad/substr)
# but encode as UTF-8 BYTES; any non-ASCII character would inflate the
# byte length past the declared geometry and silently corrupt the
# payload (or diverge from the char-based DuckDB oracles). Folding the
# text onto the printable-ASCII range first makes chars == bytes by
# construction; the oracles apply the identical replacement (with
# DuckDB's explicit 'g' flag — Spark's regexp_replace is global by
# default).
ASCII_TEXT_SQL = "regexp_replace(coalesce(text, ''), '[^ -~]', 'x')"
ASCII_TEXT_ORACLE = "regexp_replace(coalesce(text, ''), '[^ -~]', 'x', 'g')"


def map_payloads(
    with_payload: DataFrame,
    per_item: Callable[[bytes], Iterable[tuple]],
    schema: StructType,
) -> DataFrame:
    """The one Python boundary of the per-payload media kernels.

    ``(doc_id, payload)`` crosses as Arrow batches (``mapInArrow``);
    ``per_item`` maps one payload's bytes to zero or more output rows,
    each a tuple of ``schema``'s fields after the first, and the doc id
    is prepended as that first field. A NULL payload yields no row, and
    a ``ValueError`` from ``per_item`` drops that item and only that
    item (OP-STR-02's per-item error isolation, applied to media): one
    corrupt payload never fails the batch."""
    arrow_schema = to_arrow_schema(schema)

    def batches(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in it:
            cols = [[] for _ in arrow_schema]
            ids, payloads = b.column(0).to_pylist(), b.column(1).to_pylist()
            for doc_id, payload in zip(ids, payloads):
                if payload is None:
                    continue
                try:
                    # materialized first, so a kernel that fails midway
                    # contributes none of its rows
                    rows = list(per_item(payload))
                except ValueError:
                    continue
                for row in rows:
                    for col, v in zip(cols, (doc_id, *row), strict=True):
                        col.append(v)
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
                schema=arrow_schema,
            )

    return with_payload.select("doc_id", "payload").mapInArrow(batches, schema)


def decode_image(payload: bytes) -> dict:
    """Decode an uncompressed binary PNM image (P5 grayscale, P6 RGB)
    with no external library: whitespace/comment-tolerant header parse
    (magic, width, height, maxval) followed by the raw 8-bit pixel
    array. Returns exact integer statistics; raises ``ValueError`` for
    anything that is not a well-formed 8-bit binary PNM (including
    codec formats like JPEG/PNG, which need libraries this environment
    lacks)."""
    if payload[:1] != b"P" or payload[1:2] not in (b"5", b"6"):
        raise ValueError("not a binary PNM payload")
    channels = 3 if payload[1:2] == b"6" else 1
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":  # comment runs to end-of-line
            while pos < len(payload) and payload[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        if pos == start:
            raise ValueError("truncated PNM header")
        try:
            fields.append(int(payload[start:pos]))
        except ValueError as e:
            raise ValueError(f"bad PNM header token {payload[start:pos]!r}") from e
    width, height, maxval = fields
    if width <= 0 or height <= 0:
        raise ValueError("non-positive PNM dimensions")
    if not 0 < maxval < 256:
        raise ValueError("only 8-bit PNM supported")
    pos += 1  # exactly one whitespace byte separates maxval from pixels
    n = width * height * channels
    pixels = payload[pos : pos + n]
    if len(pixels) != n:
        raise ValueError("pixel array truncated")
    return {
        "width": width,
        "height": height,
        "channels": channels,
        "n_pixels": width * height,
        # channel-interleaved layout: channel c is every channels-th byte
        "channel_sums": [sum(pixels[c::channels]) for c in range(channels)],
        # the raw interleaved pixel array, so downstream feature passes
        # (operators/perceptual.image_dhash's grid) reuse THIS decode
        # instead of walking the header a second time
        "pixels": pixels,
    }


def attach_ppm(docs: DataFrame) -> DataFrame:
    """documents + a VALID binary P6 (RGB) PPM payload per doc, built
    with JVM-side expressions: dimensions derived from doc_id, pixel
    bytes from the (ASCII) text rpad-ed/truncated to exactly
    width*height*3 — so :func:`decode_image` exercises a real image
    format end-to-end and DuckDB can recompute every decoded statistic
    from the same arithmetic."""
    return docs.select(
        "doc_id",
        F.encode(
            F.expr(
                "concat('P6\n', cast(4 + doc_id % 5 as string), ' ', "
                "cast(3 + doc_id % 4 as string), '\n255\n', "
                f"rpad({ASCII_TEXT_SQL}, "
                "cast((4 + doc_id % 5) * (3 + doc_id % 4) * 3 as int), 'x'))"
            ),
            "UTF-8",
        ).alias("payload"),
    )


_DECODE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("n_pixels", LongType()),
        StructField("sum_r", LongType()),
        StructField("sum_g", LongType()),
        StructField("sum_b", LongType()),
    ]
)


def decode_image_features(with_payload: DataFrame) -> DataFrame:
    """Real image decode over the binary column: one Arrow batch ->
    :func:`decode_image` per payload -> exact integer statistics
    (``sum_g``/``sum_b`` NULL for grayscale). Undecodable payloads are
    dropped, not fatal (:func:`map_payloads`)."""

    def per_item(payload: bytes) -> Iterator[tuple]:
        d = decode_image(payload)
        s, rgb = d["channel_sums"], d["channels"] == 3
        yield (
            d["width"],
            d["height"],
            d["channels"],
            d["n_pixels"],
            s[0],
            s[1] if rgb else None,
            s[2] if rgb else None,
        )

    return map_payloads(with_payload, per_item, _DECODE_SCHEMA)


WAV_SAMPLES = 200  # fixed clip length so the RIFF header is a constant
WAV_RATE = 8000


def _wav_header(n_samples: int, rate: int) -> bytes:
    """RIFF/WAVE header for mono unsigned-8-bit PCM of n_samples."""
    import struct

    return (
        b"RIFF"
        + struct.pack("<I", 36 + n_samples)
        + b"WAVE"
        + b"fmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, rate, rate, 1, 8)
        + b"data"
        + struct.pack("<I", n_samples)
    )


def attach_wav(docs: DataFrame) -> DataFrame:
    """documents + a VALID mono 8-bit PCM WAV payload per doc: constant
    RIFF header (binary literal) + the ASCII text rpad-ed/truncated to a
    fixed WAV_SAMPLES bytes as unsigned samples. Real format, engine-
    side synthesis, DuckDB-recomputable statistics."""
    samples = F.encode(
        F.expr(f"rpad({ASCII_TEXT_SQL}, {WAV_SAMPLES}, 'x')"), "UTF-8"
    )
    return docs.select(
        "doc_id",
        F.concat(F.lit(_wav_header(WAV_SAMPLES, WAV_RATE)), samples).alias(
            "payload"
        ),
    )


def decode_audio(payload: bytes) -> dict:
    """Decode a PCM WAV file with no external library: RIFF container
    walk (unknown chunks skipped, as a real parser must), fmt chunk
    validation (PCM only), 8-bit unsigned or 16-bit signed samples.
    Raises ``ValueError`` for non-RIFF or compressed audio."""
    import struct

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + size]
        if len(body) != size:
            raise ValueError(f"truncated {cid!r} chunk")
        if cid == b"fmt ":
            if size < 16:
                raise ValueError("short fmt chunk")
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            data = body
        pos += 8 + size + (size % 2)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt or data chunk")
    audio_format, channels, rate, _, _, bits = fmt
    if audio_format != 1:
        raise ValueError("compressed WAV unsupported (PCM only)")
    if bits == 8:
        samples = list(data)
    elif bits == 16:
        samples = [
            s[0] for s in struct.iter_unpack("<h", data[: len(data) // 2 * 2])
        ]
    else:
        raise ValueError(f"unsupported bit depth {bits}")
    n = len(samples) // channels
    return {
        "channels": channels,
        "sample_rate": rate,
        "bits": bits,
        "n_samples": n,
        "sum_samples": sum(samples),
        "min_sample": min(samples) if samples else None,
        "max_sample": max(samples) if samples else None,
        # the raw sample list, so downstream feature passes
        # (operators/perceptual.audio_fingerprint's frame energies)
        # reuse THIS decode instead of re-walking the container
        "samples": samples,
    }


_AUDIO_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("channels", IntegerType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_samples", LongType()),
        StructField("sum_samples", LongType()),
        StructField("min_sample", IntegerType()),
        StructField("max_sample", IntegerType()),
    ]
)


def decode_audio_features(with_payload: DataFrame) -> DataFrame:
    """Real WAV decode over the binary column (Arrow-batched), with
    per-item error isolation like the image path."""

    def per_item(payload: bytes) -> Iterator[tuple]:
        d = decode_audio(payload)
        yield (
            d["channels"],
            d["sample_rate"],
            d["n_samples"],
            d["sum_samples"],
            d["min_sample"],
            d["max_sample"],
        )

    return map_payloads(with_payload, per_item, _AUDIO_SCHEMA)


Y4M_W = 4  # fixed frame geometry: 4x4 C444 -> 48 bytes/frame
Y4M_H = 4


def attach_y4m(docs: DataFrame) -> DataFrame:
    """documents + a VALID YUV4MPEG2 (uncompressed video) payload per
    doc: ASCII stream header, 1 + doc_id % 4 frames, each ``FRAME\\n``
    marker + 4x4 C444 planes filled from the doc text. The whole
    payload is ASCII, so every decoded statistic has a DuckDB twin."""
    frame_bytes = Y4M_W * Y4M_H * 3
    return docs.select(
        "doc_id",
        F.encode(
            F.expr(
                f"concat('YUV4MPEG2 W{Y4M_W} H{Y4M_H} F25:1 Ip A1:1 C444\\n', "
                "array_join(transform(sequence(1, cast(1 + doc_id % 4 as int)), "
                f"i -> concat('FRAME\\n', substr(rpad({ASCII_TEXT_SQL}, "
                f"cast((1 + doc_id % 4) * {frame_bytes} as int), 'x'), "
                f"(i - 1) * {frame_bytes} + 1, {frame_bytes}))), ''))"
            ),
            "UTF-8",
        ).alias("payload"),
    )


_VIDEO_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("sum_luma", LongType()),
    ]
)


def decode_video(payload: bytes) -> dict:
    """Decode an uncompressed YUV4MPEG2 stream with no external
    library: stream-header parameter parse (W/H/C tags), FRAME-marker
    walk, per-frame planar YUV extraction; returns frame count and the
    exact luma (Y-plane) sum. Raises ``ValueError`` on anything that is
    not an 8-bit C444/C420-less Y4M stream of the declared geometry."""
    nl = payload.find(b"\n")
    if nl < 0 or not payload.startswith(b"YUV4MPEG2"):
        raise ValueError("not a YUV4MPEG2 stream")
    width = height = None
    colorspace = "C420"  # y4m default when the C tag is absent
    for tag in payload[9:nl].split():
        if tag[:1] == b"W":
            width = int(tag[1:])
        elif tag[:1] == b"H":
            height = int(tag[1:])
        elif tag[:1] == b"C":
            colorspace = tag.decode("ascii", "replace")
    if not width or not height:
        raise ValueError("missing Y4M geometry")
    if colorspace != "C444":
        raise ValueError(f"unsupported colorspace {colorspace}")
    frame_bytes = width * height * 3
    pos, n_frames, sum_luma = nl + 1, 0, 0
    while pos < len(payload):
        marker_end = payload.find(b"\n", pos)
        if payload[pos : pos + 5] != b"FRAME" or marker_end < 0:
            raise ValueError("bad FRAME marker")
        pos = marker_end + 1
        frame = payload[pos : pos + frame_bytes]
        if len(frame) != frame_bytes:
            raise ValueError("truncated frame")
        sum_luma += sum(frame[: width * height])  # Y plane leads in C444
        n_frames += 1
        pos += frame_bytes
    return {
        "width": width,
        "height": height,
        "n_frames": n_frames,
        "sum_luma": sum_luma,
    }


def decode_video_features(with_payload: DataFrame) -> DataFrame:
    """Real Y4M decode over the binary column (Arrow-batched), with
    per-item error isolation like the image/audio paths."""

    def per_item(payload: bytes) -> Iterator[tuple]:
        d = decode_video(payload)
        yield d["width"], d["height"], d["n_frames"], d["sum_luma"]

    return map_payloads(with_payload, per_item, _VIDEO_SCHEMA)


def attach_binary(docs: DataFrame) -> DataFrame:
    """documents + (payload binary, meta struct) — engine-side encode.

    Text is folded to printable ASCII first (NULL-preserving — no
    coalesce) for the same reason as the attach_* geometry builders: the
    DuckDB oracles for this family recompute byte statistics per
    CHARACTER (``ascii(c)``), which only equals the UTF-8 byte value for
    ASCII input."""
    payload = F.encode(
        F.expr("regexp_replace(text, '[^ -~]', 'x')"), "UTF-8"
    )
    return docs.select(
        "doc_id",
        payload.alias("payload"),
        F.struct(
            F.lit("application/octet-stream").alias("mime"),
            F.length(payload).alias("n_bytes"),
            F.crc32(payload).alias("checksum"),
        ).alias("meta"),
    )


_FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("sum_bytes", LongType()),
        StructField("min_byte", IntegerType()),
        StructField("max_byte", IntegerType()),
    ]
)


def fake_decode_features(with_payload: DataFrame) -> DataFrame:
    """Deterministic byte-level "decode": per-item integer features.

    The stand-in for image feature extraction — the same Arrow-batched
    :func:`map_payloads` shape a real model/decoder would use. Integer
    outputs keep it engine-exact for the DuckDB oracle.
    """

    def per_item(payload: bytes) -> Iterator[tuple]:
        if payload:
            yield len(payload), sum(payload), min(payload), max(payload)
        else:
            yield 0, 0, -1, -1

    return map_payloads(with_payload, per_item, _FEATURE_SCHEMA)


_EMBEDDING_SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
    ]
)


def byte_histogram_embedding(
    with_payload: DataFrame, bins: int = 16
) -> DataFrame:
    """Per-item EMBEDDING from the raw payload: a ``bins``-bin byte
    histogram as ``array<float>`` — the deterministic stand-in for a
    learned media encoder, with the exact Arrow-batched
    :func:`map_payloads` shape a real model fills (batch in, one vector
    per item out). Byte distributions are a real (if crude) similarity
    signal: near-dup payloads produce near-identical histograms, so
    cosine search over this column exercises the full multimodal→ANN
    composition with meaningful neighbors. A NULL payload embeds as the
    zero vector. Returns (vec_id, embedding) — the similarity
    operators' expected schema."""
    import numpy as np

    # bins > 256 would floor the width to 0 (numpy //0 → RuntimeWarning
    # and every byte in bucket 0: a silently degenerate histogram)
    if not 1 <= bins <= 256:
        raise ValueError(f"bins must be in [1, 256], got {bins}")
    # bucket width for a non-divisor ``bins`` (e.g. 10): clip the tail
    # bytes into the last bucket instead of silently dropping them
    width = 256 // bins

    def per_item(payload: bytes) -> Iterator[tuple]:
        yield (
            np.bincount(
                np.minimum(
                    np.frombuffer(payload, dtype=np.uint8) // width, bins - 1
                ),
                minlength=bins,
            ).astype(np.float32),
        )

    # NULL -> empty bytes JVM-side, whose histogram is the zero vector
    return map_payloads(
        with_payload.select(
            "doc_id", F.coalesce("payload", F.lit(b"")).alias("payload")
        ),
        per_item,
        _EMBEDDING_SCHEMA,
    )


_FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame_sum", LongType()),
    ]
)


def sample_frames(with_payload: DataFrame) -> DataFrame:
    """Simulated video frame sampling: split the payload into
    FRAME_BYTES-wide frames, keep every FRAME_STRIDE-th, emit an exact
    integer digest per kept frame. 1-row -> N-rows through
    :func:`map_payloads`."""

    def per_item(payload: bytes) -> Iterator[tuple]:
        for i in range(0, len(payload) // FRAME_BYTES, FRAME_STRIDE):
            yield i, sum(payload[i * FRAME_BYTES : (i + 1) * FRAME_BYTES])

    return map_payloads(with_payload, per_item, _FRAME_SCHEMA)


RESIZE_STRIDE = 4  # keep every 4th byte — nearest-neighbor on a 1D stream

_RESIZE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("orig_bytes", LongType()),
        StructField("resized_bytes", LongType()),
        StructField("resized_sum", LongType()),
    ]
)


def resize_payload(with_payload: DataFrame) -> DataFrame:
    """Binary -> binary "resize": nearest-neighbor downsample of the
    payload byte stream (every RESIZE_STRIDE-th byte) — the structural
    stand-in for image resize (a real one decodes, interpolates pixels,
    re-encodes inside the same :func:`map_payloads` kernel). Emits the
    resized payload's exact integer digest + both lengths so the
    transform is value-checkable without shipping binaries through the
    compare."""

    def per_item(payload: bytes) -> Iterator[tuple]:
        small = payload[::RESIZE_STRIDE]
        yield len(payload), len(small), sum(small)

    return map_payloads(with_payload, per_item, _RESIZE_SCHEMA)
