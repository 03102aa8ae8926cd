"""Multimodal plumbing tests: schema, batch shape, deterministic
feature values, frame sampling geometry, decode-stub gating."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from mapreduce_inverted_index_spark.operators import multimodal as M


def _media(spark):
    docs = spark.createDataFrame(
        [
            Row(doc_id=0, text="abcd" * 40, source="s0"),   # image
            Row(doc_id=1, text="x" * 10, source="s1"),      # audio
            Row(doc_id=2, text="frame" * 100, source="s2"), # video
            Row(doc_id=3, text="", source="s3"),            # text, empty
        ]
    )
    return M.as_media_table(docs)


def test_media_schema_and_kinds(spark):
    media = _media(spark)
    # compare names+types; nullability differs between construction paths
    def shape(schema):
        return [(f.name, f.dataType.simpleString()) for f in schema.fields]

    assert shape(media.schema) == shape(M.MEDIA_SCHEMA)
    kinds = {r["media_id"]: r["kind"] for r in media.collect()}
    assert kinds == {0: "image", 1: "audio", 2: "video", 3: "text"}


def test_media_payload_bytes_roundtrip(spark):
    rows = {r["media_id"]: r for r in _media(spark).collect()}
    assert bytes(rows[0]["payload"]) == b"abcd" * 40
    assert rows[0]["meta"]["n_bytes"] == 160
    assert rows[3]["meta"]["n_bytes"] == 0


def test_feature_values_deterministic_and_exact(spark):
    feats = {
        r["media_id"]: r["features"] for r in M.extract_features(_media(spark)).collect()
    }
    arr = np.frombuffer(b"abcd" * 40, dtype=np.uint8).astype(np.float64)
    expected = [
        round(v, 6)
        for v in [
            arr.size, arr.mean(), arr.std(), arr.min(), arr.max(),
            float(np.median(arr)), (arr > 96).mean(), arr[0],
        ]
    ]
    assert feats[0] == expected
    assert feats[3] == [0.0] * M.FEATURE_DIM  # empty payload path


def test_frame_sampling_geometry(spark):
    frames = M.sample_frames(_media(spark)).collect()
    # only the video row (id=2, 500 bytes) produces frames:
    # ceil(500/64) = 8 blocks, every 4th -> blocks 0 and 4
    assert {r["media_id"] for r in frames} == {2}
    by_no = {r["frame_no"]: bytes(r["frame"]) for r in frames}
    payload = b"frame" * 100
    assert by_no.keys() == {0, 1}
    assert by_no[0] == payload[0:64]
    assert by_no[1] == payload[256:320]


def test_decode_stub_is_gated(spark):
    with pytest.raises(NotImplementedError):
        M.decode_image(b"\x89PNG fake")


def test_media_phash_known_bits_and_banding(spark):
    """aHash bit semantics pinned: payload of 16 low bytes then 16
    high bytes over 32 single-byte spans sets exactly the high spans'
    bits (ties >= mean count as 1). Banding finds the planted 1-span
    flip (hamming 1) and both exact copies (hamming 0), and the
    candidate equi-join never misses within k (pigeonhole)."""
    from mapreduce_inverted_index_spark.operators.multimodal import (
        media_phash,
        media_phash_near_dup,
    )

    lo_hi = bytes([0] * 16 + [255] * 16)
    flip = bytes([0] * 16 + [255] * 15 + [0])   # span 31 flips to 0
    # NOT bytes(range(32)): a low-then-high ramp has the same
    # span-vs-mean SHAPE as lo_hi (aHash is shape-invariant to
    # monotone rescaling — that is its point), so it hashes
    # identically; alternation flips every other bit instead.
    far = bytes([255, 0] * 16)
    media = spark.createDataFrame(
        [(1, lo_hi), (2, lo_hi), (3, flip), (4, far)],
        "media_id bigint, payload binary",
    )
    sig = {r["media_id"]: r["phash"] for r in media_phash(media).collect()}
    assert sig[1] == 0xFFFF0000
    assert sig[2] == sig[1]
    assert sig[3] == 0x7FFF0000  # bit 31 cleared
    pairs = {
        (r["media_a"], r["media_b"]): r["hamming"]
        for r in media_phash_near_dup(media, max_hamming=3).collect()
    }
    assert pairs[(1, 2)] == 0
    assert pairs[(1, 3)] == 1 and pairs[(2, 3)] == 1
    assert not any(4 in p for p in pairs)


def test_resize_payloads_exact_grid(spark):
    """Pinned resize math: floor span means on the integer grid, and
    short payloads zero-fill the empty spans."""
    from mapreduce_inverted_index_spark.operators.multimodal import (
        resize_payloads,
    )

    media = spark.createDataFrame(
        [(1, "image", bytes(range(16))), (2, "image", bytes([10, 20]))],
        "media_id bigint, kind string, payload binary",
    )
    out = {r["media_id"]: list(r["pixels"]) for r in resize_payloads(media, 4).collect()}
    assert out[1] == [1.0, 5.0, 9.0, 13.0]
    # n=2, out_len=4: span bounds 0,0,1,1,2 -> spans (0,0) empty,
    # (0,1)=10, (1,1) empty, (1,2)=20
    assert out[2] == [0.0, 10.0, 0.0, 20.0]
