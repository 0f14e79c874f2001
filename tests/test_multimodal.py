"""Multimodal plumbing: schemas, batched decode, the random-projection
encoder, frame sampling — kernels and the Spark-side contract are both
real (decode parses real SDCM headers, features are a fixed-seed integer
random projection of the byte histogram)."""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from sdc_mapreduce_spark import multimodal as M
from sdc_mapreduce_spark.catalog import load_table


def _extract_features(df):
    """Reference encoder over any media payload: the 16-bin high-nibble
    histogram of the body (header stripped when the payload is framed,
    the whole buffer when not) projected through PROJECTION_MATRIX."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for b in pdf["content"]:
                payload = bytes(b)
                offset = M.HEADER_LEN if M.parse_header(payload) is not None else 0
                body = np.frombuffer(payload, dtype=np.uint8, offset=offset)
                hist = np.bincount(body >> 4, minlength=M.PROJECTION_BINS)
                feats.append((M.PROJECTION_MATRIX @ hist.astype(np.int64)).astype(np.float32))
            yield pd.DataFrame({"media_id": pdf["media_id"], "feature": feats})

    return df.select("media_id", "content").mapInPandas(kernel, schema=M.FEATURE_SCHEMA)


@pytest.fixture(scope="module")
def media(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(60)
    return M.synthesize_media(docs).cache()


def test_media_schema(media):
    dtypes = dict(media.dtypes)
    assert dtypes["content"] == "binary"
    assert dtypes["kind"] == "string"
    assert "n_bytes" in media.select("meta.n_bytes").columns


def test_decode_media_framed_uses_real_header(framed):
    """decode_framed reads kind and dimensions from the SDCM header."""
    decoded = {
        r["media_id"]: (r["kind"], r["width"], r["height"], r["n_channels"])
        for r in M.decode_framed(framed).collect()
    }
    assert decoded
    for mid, (kind, w, h, c) in decoded.items():
        assert (w, h, c) == M.media_dims(mid)
        assert kind == ("image", "audio", "video")[mid % 3]


def test_extract_features_shape(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(60)
    feats = M.synthesize_and_extract(docs).collect()
    assert len(feats) == docs.count()
    assert all(len(r["feature"]) == M.FEATURE_DIM for r in feats)


def test_extract_features_is_the_projection_of_the_histogram(spark):
    """The encoder is pinned to its definition: feature =
    PROJECTION_MATRIX @ (16-bin high-nibble histogram of the body), exact
    integers — identical payloads map to identical vectors, and the framed
    header is stripped before hashing so framing doesn't perturb features."""
    body = b"the quick brown fox jumps over the lazy dog"
    rows = [
        (1, "raw", bytearray(body)),
        (2, "raw", bytearray(body)),
        (3, "framed", bytearray(M.frame_header("image", 4, 4, 1) + body)),
    ]
    df = spark.createDataFrame(rows, "media_id long, kind string, content binary")
    feats = {r["media_id"]: list(r["feature"]) for r in _extract_features(df).collect()}
    hist = np.bincount(
        np.frombuffer(body, dtype=np.uint8) >> 4, minlength=16
    ).astype(np.int64)
    expect = [float(x) for x in (M.PROJECTION_MATRIX @ hist)]
    assert feats[1] == expect
    assert feats[1] == feats[2] == feats[3]


def test_sample_frames_expands_rows(media):
    vids = media.filter(F.col("kind") == "video")
    frames = M.sample_frames(media, n_frames=4)
    assert frames.count() == vids.count() * 4
    per = frames.groupBy("media_id").count().collect()
    assert all(r["count"] == 4 for r in per)


def test_features_flow_into_similarity_search(spark, sf_dir):
    """End-to-end multimodal pipeline: binary payload → Arrow feature
    kernel → cosine top-k over the extracted vectors. The feature column
    must be directly consumable by the simsearch operators (schema
    compatibility is the contract)."""
    from sdc_mapreduce_spark.functions.simsearch import cosine_topk_bruteforce

    feats = M.synthesize_and_extract(load_table(spark, sf_dir, "documents").limit(60))
    qids = [r["media_id"] for r in feats.select("media_id").limit(2).collect()]
    top = cosine_topk_bruteforce(
        feats, qids, k=3, id_col="media_id", vec_col="feature"
    ).collect()
    assert {r["query_id"] for r in top} == set(qids)
    for r in top:
        assert r["neighbor_id"] != r["query_id"]
        assert 1 <= r["rank"] <= 3


@pytest.fixture(scope="module")
def framed(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(60)
    return M.synthesize_framed_media(docs).cache()


def test_synthesize_and_extract_matches_stacked_pipeline(spark, sf_dir):
    """synthesize_and_extract must be bit-identical to the reference encoder
    over synthesize_framed_media(df): computing from the text only removes
    the JVM<->Python round trip of the framed payload, never a bit of the
    feature math."""
    docs = load_table(spark, sf_dir, "documents").limit(40)
    stacked = {
        r["media_id"]: list(r["feature"])
        for r in _extract_features(M.synthesize_framed_media(docs)).collect()
    }
    fused = {
        r["media_id"]: list(r["feature"])
        for r in M.synthesize_and_extract(docs).collect()
    }
    assert fused == stacked and len(fused) == 40


def test_framed_header_roundtrip():
    hdr = M.frame_header("video", 320, 200, 3)
    assert len(hdr) == M.HEADER_LEN
    assert M.parse_header(hdr + b"body") == ("video", 320, 200, 3)


def test_parse_header_rejects_malformed():
    assert M.parse_header(b"") is None
    assert M.parse_header(b"NOPE" + b"\x00" * 16) is None
    bad_version = bytearray(M.frame_header("image", 8, 8, 1))
    bad_version[4] = 99
    assert M.parse_header(bytes(bad_version)) is None


def test_decode_framed_matches_python(spark, sf_dir, framed):
    docs = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, sf_dir, "documents").limit(60).collect()
    }
    decoded = {r["media_id"]: r for r in M.decode_framed(framed).collect()}
    assert decoded.keys() == docs.keys()
    for mid, text in docs.items():
        r = decoded[mid]
        assert (r["width"], r["height"], r["n_channels"]) == M.media_dims(mid)
        body = text.encode("utf-8")
        assert r["body_bytes"] == len(body)
        assert r["byte_sum"] == sum(body)
        import math

        assert r["mean_byte"] == math.floor(sum(body) / len(body) * 1e6 + 0.5) / 1e6


def test_decode_framed_drops_malformed(spark, framed):
    corrupt = spark.createDataFrame(
        [(999_999, bytearray(b"not a framed payload"))],
        "media_id long, content binary",
    )
    out = M.decode_framed(framed.select("media_id", "content").union(corrupt))
    ids = {r["media_id"] for r in out.collect()}
    assert 999_999 not in ids
    assert len(ids) == framed.count()


def test_byte_bin_histogram_matches_python(spark, sf_dir, framed):
    docs = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, sf_dir, "documents").limit(60).collect()
    }
    feats = {r["media_id"]: r["feature"] for r in M.byte_bin_histogram(framed).collect()}
    assert feats.keys() == docs.keys()
    for mid, text in docs.items():
        body = text.encode("utf-8")
        expect = [0] * 16
        for byte in body:
            expect[byte >> 4] += 1
        assert feats[mid] == expect
        assert sum(feats[mid]) == len(body)


def test_resize_media_dims_and_determinism(framed):
    out = M.resize_media(framed, target=(32, 24)).collect()
    n_images = framed.filter(F.col("kind") == "image").count()
    assert len(out) == n_images
    for r in out:
        parsed = M.parse_header(bytes(r["content"]))
        assert parsed is not None
        kind, w, h, c = parsed
        assert (kind, w, h) == ("image", 32, 24)
        assert len(bytes(r["content"])) == M.HEADER_LEN + 32 * 24 * c
    again = M.resize_media(framed, target=(32, 24)).collect()
    assert {bytes(r["content"]) for r in out} == {bytes(r["content"]) for r in again}


def test_resize_media_nearest_neighbor_exact(spark):
    # 2x2 single-channel image with distinct corner values; upscaling 2x
    # must replicate each corner into a 2x2 block (nearest neighbor).
    pixels = np.array([[1, 2], [3, 4]], dtype=np.uint8)
    payload = M.frame_header("image", 2, 2, 1) + pixels.tobytes()
    df = spark.createDataFrame(
        [(1, bytearray(payload))], "media_id long, content binary"
    )
    out = M.resize_media(df, target=(4, 4)).collect()[0]
    body = np.frombuffer(bytes(out["content"]), np.uint8, offset=M.HEADER_LEN)
    expect = np.array(
        [[1, 1, 2, 2], [1, 1, 2, 2], [3, 3, 4, 4], [3, 3, 4, 4]], dtype=np.uint8
    )
    assert (body.reshape(4, 4) == expect).all()


def test_resize_media_drops_zero_dim_payloads(spark):
    """A payload whose header is structurally valid but declares a
    zero-size axis (width/height/channels = 0) is malformed: the kernel
    must DROP the row — matching the malformed-payload policy — rather than
    crash the whole task on an empty pixel buffer."""
    good = np.array([[1, 2], [3, 4]], dtype=np.uint8)
    rows = [
        (1, bytearray(M.frame_header("image", 0, 2, 1) + b"xy")),
        (2, bytearray(M.frame_header("image", 2, 0, 1) + b"xy")),
        (3, bytearray(M.frame_header("image", 2, 2, 0) + b"xy")),
        (4, bytearray(M.frame_header("image", 2, 2, 1) + good.tobytes())),
    ]
    df = spark.createDataFrame(rows, "media_id long, content binary")
    out = M.resize_media(df, target=(4, 4)).collect()
    assert [r["media_id"] for r in out] == [4]


def test_neardup_banded_finds_planted_duplicate(spark):
    """A byte-identical payload pair must survive banding (identical
    quantized signatures collide in every live band) and verify at
    cosine 1.0; a differently-distributed payload must not pair with it."""
    from sdc_mapreduce_spark.queries.text_queries import (
        multimodal_neardup_banded,
    )
    import os
    import tempfile

    docs = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog"),
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "0123456789 0123456789 0123456789 0123456789"),
        ],
        "doc_id long, text string",
    )
    d = tempfile.mkdtemp(prefix="mm_neardup_")
    docs.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    rows = [
        (r["id_a"], r["id_b"], r["score"])
        for r in multimodal_neardup_banded(spark, d).collect()
    ]
    assert rows == [(0, 1, 1.0)]
