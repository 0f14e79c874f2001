"""Multimodal (image/audio/video) column plumbing.

Media rides through the engine as opaque ``binary`` columns plus a typed
metadata struct — the lakehouse-standard layout: petabytes of payload stay
columnar/compressed in parquet, metadata stays predicate-pushdown-friendly,
and decode happens late, batched, on executors (``mapInPandas``: one Arrow
batch in, one out, no per-row Python overhead).

The container has no image/audio codecs, so payloads use the fixture's own
**framed format** (``SDCM`` magic + typed header + byte body — see
``frame_header``/``synthesize_framed_media``): the decode/resize kernels
below genuinely parse and transform that binary format with numpy, so the
full decode path — header validation, dimension extraction, pixel-buffer
statistics, nearest-neighbor resample — is real executable code, and only
the codec *format* is synthetic. Swapping in Pillow/ffmpeg changes the
parse/resample bodies, nothing about the Spark plumbing.

The feature encoder is real end-to-end: ``synthesize_and_extract`` is a
deterministic fixed-seed random-projection encoder over the payload
body's byte histogram (signed-integer projection matrix, exact integer
arithmetic, oracle-replayable), and ``decode_framed`` parses real SDCM
headers. Swapping in a learned ONNX/torch encoder changes only the kernel
body, not the Arrow-batched plumbing or output contract.
"""

from __future__ import annotations

import math
import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),  # image | audio | video
        StructField("content", BinaryType()),
        StructField(
            "meta",
            StructType(
                [
                    StructField("source", StringType()),
                    StructField("n_bytes", LongType()),
                    StructField("checksum", StringType()),
                ]
            ),
        ),
    ]
)

FEATURE_DIM = 16
FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("feature", ArrayType(FloatType())),
    ]
)

FRAME_SCHEMA = "media_id long, frame_index int, frame_bytes binary"

# Framed payload layout (little-endian):
#   0:4   magic  b"SDCM"
#   4     version u8 (=1)
#   5     kind    u8 (0=image, 1=audio, 2=video)
#   6     channels u8
#   7     reserved u8 (=0)
#   8:10  width  u16
#   10:12 height u16
#   12:   body (opaque byte stream; for images, row-major pixel bytes
#         tiled/truncated to width*height*channels on decode)
MEDIA_MAGIC = b"SDCM"
MEDIA_VERSION = 1
HEADER_FMT = "<4sBBBBHH"
HEADER_LEN = struct.calcsize(HEADER_FMT)
KIND_CODES = {"image": 0, "audio": 1, "video": 2}
KIND_NAMES = {v: k for k, v in KIND_CODES.items()}

DECODED_PROFILE_SCHEMA = (
    "media_id long, kind string, width int, height int, n_channels int, "
    "body_bytes long, byte_sum long, mean_byte double"
)


def media_dims(media_id: int) -> tuple[int, int, int]:
    """Deterministic fixture dimensions for a media id (also computable in
    plain SQL, which is what makes the decode path oracle-checkable)."""
    width = 16 + (media_id * 7919) % 240
    height = 16 + (media_id * 104729) % 240
    # decoupled from kind (= id % 3) so each kind sees all channel counts
    channels = 1 + (media_id // 3) % 3
    return width, height, channels


def frame_header(kind: str, width: int, height: int, channels: int) -> bytes:
    return struct.pack(
        HEADER_FMT, MEDIA_MAGIC, MEDIA_VERSION, KIND_CODES[kind], channels, 0,
        width, height,
    )


def parse_header(payload: bytes) -> tuple[str, int, int, int] | None:
    """Parse + validate a framed header; None for malformed payloads (short
    buffer, bad magic, unknown version/kind) — decode drops those rows."""
    if len(payload) < HEADER_LEN:
        return None
    magic, version, kind_code, channels, _pad, width, height = struct.unpack_from(
        HEADER_FMT, payload
    )
    if magic != MEDIA_MAGIC or version != MEDIA_VERSION or kind_code not in KIND_NAMES:
        return None
    return KIND_NAMES[kind_code], width, height, channels


def synthesize_framed_media(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Build a framed media table from a text corpus: payload = SDCM header
    (kind/channels/width/height derived deterministically from the id) +
    utf-8 body. Arrow-batched construction; the inverse of decode_framed."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, kinds, payloads = [], [], []
            for mid, text in zip(pdf[id_col], pdf[text_col]):
                mid = int(mid)
                kind = ("image", "audio", "video")[mid % 3]
                width, height, channels = media_dims(mid)
                ids.append(mid)
                kinds.append(kind)
                payloads.append(
                    frame_header(kind, width, height, channels) + text.encode("utf-8")
                )
            yield pd.DataFrame({"media_id": ids, "kind": kinds, "content": payloads})

    return df.select(id_col, text_col).mapInPandas(
        kernel, schema="media_id long, kind string, content binary"
    )


def decode_framed(df: DataFrame) -> DataFrame:
    """Real binary decode: parse the SDCM header, validate magic/version,
    and profile the body buffer with numpy (length, byte sum, mean byte).
    Malformed payloads are dropped, mirroring the reference's malformed-row
    policy (src/app/reducer.py:11-12). Iterator-of-batches ``mapInPandas``
    keeps memory constant per task regardless of partition size."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in (
                "media_id", "kind", "width", "height", "n_channels",
                "body_bytes", "byte_sum", "mean_byte",
            )}
            for mid, b in zip(pdf["media_id"], pdf["content"]):
                payload = bytes(b)
                parsed = parse_header(payload)
                if parsed is None:
                    continue
                kind, width, height, channels = parsed
                body = np.frombuffer(payload, dtype=np.uint8, offset=HEADER_LEN)
                byte_sum = int(body.sum(dtype=np.int64))
                rows["media_id"].append(int(mid))
                rows["kind"].append(kind)
                rows["width"].append(width)
                rows["height"].append(height)
                rows["n_channels"].append(channels)
                rows["body_bytes"].append(len(body))
                rows["byte_sum"].append(byte_sum)
                # explicit half-up rounding: Python round() is banker's
                # (ties-to-even) but SQL ROUND is half-away-from-zero, and
                # byte_sum/len is an exact decimal tie whenever len is a
                # power of two — so spell out floor(x*1e6 + 0.5)/1e6, which
                # both engines reproduce bit-for-bit
                rows["mean_byte"].append(
                    math.floor(byte_sum / len(body) * 1e6 + 0.5) / 1e6
                    if len(body)
                    else 0.0
                )
            yield pd.DataFrame(rows)

    return df.select("media_id", "content").mapInPandas(
        kernel, schema=DECODED_PROFILE_SCHEMA
    )


def synthesize_media(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Build a media table from a text corpus: payload = utf-8 bytes of the
    text (a deterministic fake), kind round-robins image/audio/video, and the
    metadata struct is computed JVM-side (octet length, md5 checksum)."""
    content = F.encode(F.col(text_col), "utf-8")
    return df.select(
        F.col(id_col).alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col(id_col) % 3 + 1).cast("int"),
        ).alias("kind"),
        content.alias("content"),
        F.struct(
            F.lit("synthetic").alias("source"),
            F.octet_length(content).cast("long").alias("n_bytes"),
            F.md5(content).alias("checksum"),
        ).alias("meta"),
    )


def byte_bin_histogram(df: DataFrame, n_bins: int = 16) -> DataFrame:
    """Real feature extraction over framed payloads: a ``n_bins``-bin byte
    histogram of the body buffer (default bin = high nibble, i.e.
    ``byte // 16``). Integer counts make downstream cosine math exact and
    cross-engine reproducible."""
    shift = 8 - (n_bins - 1).bit_length()

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, feats = [], []
            for mid, b in zip(pdf["media_id"], pdf["content"]):
                payload = bytes(b)
                if parse_header(payload) is None:
                    continue
                body = np.frombuffer(payload, dtype=np.uint8, offset=HEADER_LEN)
                ids.append(int(mid))
                feats.append(np.bincount(body >> shift, minlength=n_bins).astype(np.int64))
            yield pd.DataFrame({"media_id": ids, "feature": feats})

    return df.select("media_id", "content").mapInPandas(
        kernel, schema="media_id long, feature array<long>"
    )


# Fixed-seed signed-integer projection matrix for synthesize_and_extract: the
# encoder must be (a) stable across sessions/executors — features written
# today must match features computed tomorrow — and (b) replayable by an
# external engine, so the weights are small integers a DuckDB oracle can
# carry as literals and the projection is EXACT integer arithmetic
# (order-free, no float accumulation). RandomState's bit stream is frozen
# by numpy's compatibility guarantee, so the matrix is a constant.
PROJECTION_SEED = 1469
PROJECTION_BINS = 16
PROJECTION_MATRIX = np.random.RandomState(PROJECTION_SEED).randint(
    -8, 9, size=(FEATURE_DIM, PROJECTION_BINS)
).astype(np.int64)


def synthesize_and_extract(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Feature extraction over synthesized media: each document's payload
    body (``text.encode('utf-8')``) becomes a 16-bin high-nibble byte
    histogram projected through ``PROJECTION_MATRIX`` — a deterministic
    random projection, the classical Johnson–Lindenstrauss encoder.
    Near-duplicate payloads get near-identical vectors, so cosine search
    over these features ranks by content similarity.

    It is the projection of ``synthesize_framed_media(df)``'s payloads with
    their header stripped, computed in one Arrow kernel from the text, so
    the framed bytes never cross Python→JVM→Python between two
    ``mapInPandas`` nodes (tests/test_multimodal.py checks it against that
    stacked path). All arithmetic is int64 (histogram counts × weights in
    [-8, 8]), exact and order-free; the float32 cast at the output is exact
    while |projection| < 2^24 (payloads below ~2 MiB)."""
    R = PROJECTION_MATRIX

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                (
                    R
                    @ np.bincount(
                        np.frombuffer(t.encode("utf-8"), dtype=np.uint8) >> 4,
                        minlength=PROJECTION_BINS,
                    ).astype(np.int64)
                ).astype(np.float32)
                for t in pdf[text_col]
            ]
            yield pd.DataFrame(
                {"media_id": pdf[id_col].astype("int64"), "feature": feats}
            )

    return df.select(id_col, text_col).mapInPandas(kernel, schema=FEATURE_SCHEMA)


def sample_frames(df: DataFrame, n_frames: int = 4) -> DataFrame:
    """'Frame sampling' for video payloads: emit n evenly-spaced byte slices
    per row — a row-expanding mapInPandas (1 → N rows per input), the exact
    shape of real frame extraction."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for mid, b in zip(pdf["media_id"], pdf["content"]):
                payload = bytes(b)
                stride = max(len(payload) // n_frames, 1)
                for i in range(n_frames):
                    ids.append(mid)
                    idxs.append(i)
                    frames.append(payload[i * stride : (i + 1) * stride])
            yield pd.DataFrame(
                {"media_id": ids, "frame_index": idxs, "frame_bytes": frames}
            )

    return (
        df.filter(F.col("kind") == "video")
        .select("media_id", "content")
        .mapInPandas(kernel, schema=FRAME_SCHEMA)
    )


def resize_media(df: DataFrame, target: tuple[int, int] = (224, 224)) -> DataFrame:
    """Real resize kernel over framed image payloads: parse the SDCM header,
    materialize the body as a (height, width, channels) uint8 pixel buffer
    (tiled/truncated per the framed-format spec), nearest-neighbor resample
    to ``target`` with pure-numpy index mapping, and re-frame with the new
    dimensions. Non-image / malformed payloads are dropped."""
    t_w, t_h = target

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, payloads, widths, heights = [], [], [], []
            for mid, b in zip(pdf["media_id"], pdf["content"]):
                payload = bytes(b)
                parsed = parse_header(payload)
                if parsed is None or parsed[0] != "image":
                    continue
                _, width, height, channels = parsed
                if width == 0 or height == 0 or channels == 0:
                    # header parses but declares a zero-size axis: treat as
                    # malformed and drop (np.resize would produce an empty
                    # buffer and the row-index below would IndexError,
                    # failing the whole task instead of skipping the row)
                    continue
                body = np.frombuffer(payload, dtype=np.uint8, offset=HEADER_LEN)
                pixels = np.resize(body, (height, width, channels))
                rows = (np.arange(t_h) * height // t_h)
                cols = (np.arange(t_w) * width // t_w)
                out = pixels[rows][:, cols]
                ids.append(int(mid))
                payloads.append(
                    frame_header("image", t_w, t_h, channels) + out.tobytes()
                )
                widths.append(t_w)
                heights.append(t_h)
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "width": widths,
                    "height": heights,
                    "content": payloads,
                }
            )

    return df.select("media_id", "content").mapInPandas(
        kernel, schema="media_id long, width int, height int, content binary"
    )
