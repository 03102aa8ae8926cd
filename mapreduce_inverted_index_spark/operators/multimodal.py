"""Multimodal column plumbing: image/audio/video as opaque BINARY
payloads with typed metadata, processed by Arrow-batched Pandas UDFs.

The container has no image/audio libraries, so the *decode* step is
stubbed (clearly marked, import-gated); everything Spark-side — the
media schema, binary payload handling, ``mapInPandas`` batch shape,
partitioning — is real and tested. Swapping the stub for PIL/ffmpeg
changes one function body, not the plan.

Scale notes: payloads stay in executor memory as Arrow binary
columns; feature extraction is a narrow map stage (no shuffle); the
metadata struct supports partition pruning by kind/mime without
touching payload bytes.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

__all__ = [
    "MEDIA_SCHEMA",
    "as_media_table",
    "media_stats",
    "extract_features",
    "sample_frames",
    "decode_image",
    "media_exact_dedup",
    "media_phash",
    "media_phash_near_dup",
    "resize_payloads",
]

PHASH_BITS = 32

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),  # image | audio | video | text
        StructField("payload", BinaryType()),
        StructField(
            "meta",
            StructType(
                [
                    StructField("mime", StringType()),
                    StructField("n_bytes", LongType()),
                    StructField("source", StringType()),
                ]
            ),
        ),
    ]
)

FEATURE_DIM = 8

_FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("features", ArrayType(DoubleType())),
    ]
)

_FRAMES_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_no", LongType()),
        StructField("frame", BinaryType()),
    ]
)


def decode_image(payload: bytes) -> object:
    """STUB: real image decode requires PIL/opencv, not present in
    this container. The Spark-side plumbing (binary column → Pandas
    UDF batch) is what the engine provides; swap this body for
    ``PIL.Image.open(io.BytesIO(payload))`` in production."""
    try:
        import PIL.Image  # noqa: F401
    except ImportError as e:
        raise NotImplementedError(
            "image decode needs PIL; payload plumbing is tested with "
            "deterministic byte-level features instead"
        ) from e
    raise NotImplementedError("unreachable in this container")


def as_media_table(docs: DataFrame) -> DataFrame:
    """Deterministic media table derived from ``documents``: payload =
    utf-8 bytes of the text, kind cycles image/audio/video/text.
    Stands in for a real multimodal corpus with byte-true payloads."""
    kind = F.element_at(
        F.lit(["image", "audio", "video", "text"]),
        (F.col("doc_id") % 4 + 1).cast("int"),
    )
    payload = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        payload.alias("payload"),
        F.struct(
            F.concat(F.lit("application/x-fake-"), kind).alias("mime"),
            F.octet_length(payload).cast("long").alias("n_bytes"),
            F.col("source").alias("source"),
        ).alias("meta"),
    )


def media_stats(media: DataFrame) -> DataFrame:
    """Per-kind byte stats straight off the metadata struct — never
    touches payload bytes (column pruning keeps the scan narrow)."""
    return media.groupBy("kind").agg(
        F.count("*").alias("n_media"),
        F.sum(F.col("meta.n_bytes")).alias("total_bytes"),
        F.max(F.col("meta.n_bytes")).alias("max_bytes"),
    )


def extract_features(media: DataFrame) -> DataFrame:
    """Feature extraction over binary payloads via ``mapInPandas``
    (Arrow-batched; one Python round-trip per batch, not per row).

    The featurizer is a deterministic byte-level stand-in (moments of
    the byte distribution) so tests pin exact values; a real model
    swaps the inner function only.

    Cross-engine checkability: every moment is computed from EXACT
    integer sums (n, Σx, Σx² as Python ints), so the float results
    are bit-identical to a DuckDB twin evaluating the same formulas —
    e.g. std = sqrt((n·Σx² − (Σx)²) / n²) has an integer numerator
    and IEEE sqrt is correctly rounded. Rounding happens Spark-side
    (``F.round`` matches DuckDB ``round``; Python's ``round`` does
    not, its half-even decimal rounding diverges in edge cases).
    """

    def featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import math

        import numpy as np

        for pdf in batches:
            feats = []
            for payload in pdf["payload"]:
                arr = np.frombuffer(payload, dtype=np.uint8)
                n = int(arr.size)
                if n == 0:
                    feats.append([0.0] * FEATURE_DIM)
                    continue
                s = int(arr.sum(dtype=np.int64))
                ss = int((arr.astype(np.int64) ** 2).sum())
                base = [
                    float(n),
                    s / n,
                    math.sqrt((n * ss - s * s) / (n * n)),
                    float(int(arr.min())),
                    float(int(arr.max())),
                    float(np.median(arr)),  # .0 or .5 exactly — no float noise
                    int((arr > 96).sum()) / n,
                    float(int(arr[0])),
                ]
                feats.append(base[:FEATURE_DIM])
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "features": feats,
                }
            )

    out = media.mapInPandas(featurize, schema=_FEATURES_SCHEMA)
    return out.select(
        "media_id",
        "kind",
        F.transform("features", lambda x: F.round(x, 6)).alias("features"),
    )


def sample_frames(media: DataFrame) -> DataFrame:
    """Frame sampling for video payloads: every 4th 64-byte block, as
    a Pandas UDF over binary columns (the real version decodes
    containers; the batch/partition shape is identical). One output
    row per sampled frame."""

    def sampler(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, nos, frames = [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                blocks = [
                    payload[i : i + 64]
                    for i in range(0, len(payload), 64)
                ]
                for no, blk in enumerate(blocks[::4]):
                    ids.append(mid)
                    nos.append(no)
                    frames.append(blk)
            yield pd.DataFrame({"media_id": ids, "frame_no": nos, "frame": frames})

    video = media.where(F.col("kind") == "video")
    return video.mapInPandas(sampler, schema=_FRAMES_SCHEMA)


def resize_payloads(media: DataFrame, out_len: int = 16) -> DataFrame:
    """Resize/downsample over binary payloads via ``mapInPandas`` —
    the byte-level stand-in for image resize (PIL's
    ``Image.resize`` after :func:`decode_image`; swap the inner loop
    when the decoder is real, the plan is identical): the payload is
    split into ``out_len`` equal spans on the same integer grid as
    :func:`media_phash` and each output "pixel" is the span's mean
    byte value, floor-divided — exact integer math, so the DuckDB
    twin replays it from the hex rendering bit-for-bit.

    Output: ``media_id, kind, pixels ARRAY<DOUBLE>`` (length
    ``out_len``; spans that are empty because the payload is shorter
    than ``out_len`` yield 0.0). Narrow map stage: Arrow-batched,
    one Python round-trip per batch, no shuffle; payload bytes never
    leave the executor.
    """

    def resizer(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out = []
            for payload in pdf["payload"]:
                arr = np.frombuffer(payload, dtype=np.uint8)
                n = int(arr.size)
                pixels = []
                for i in range(out_len):
                    lo = i * n // out_len
                    hi = (i + 1) * n // out_len
                    if hi <= lo:
                        pixels.append(0.0)
                    else:
                        # exact: integer sum // span length
                        pixels.append(
                            float(int(arr[lo:hi].sum(dtype=np.int64)) // (hi - lo))
                        )
                out.append(pixels)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "pixels": out,
                }
            )

    schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("kind", StringType()),
            StructField("pixels", ArrayType(DoubleType())),
        ]
    )
    return media.mapInPandas(resizer, schema=schema)


def media_phash(media: DataFrame) -> DataFrame:
    """Perceptual hash over binary payloads: the aHash scheme (pHash
    family) applied at the byte level — split the payload into
    ``PHASH_BITS`` equal spans, set bit b iff span b's mean byte value
    is ≥ the payload's global mean. Output: ``media_id, phash``
    (``PHASH_BITS``-bit BIGINT).

    A real image pipeline computes the same bits over an 8×8
    downsampled luma plane after decode; the decode step is this
    repo's honest stub (:func:`decode_image`), and the byte-level
    stand-in keeps every downstream piece — signature join, banding,
    Hamming verify — real, exercised, and value-checkable.

    Exactness discipline: all integer math. The mean compare is
    cross-multiplied (``span_sum · n ≥ total · span_len``) so no
    division ever happens; bytes are read from the lowercase-hex
    rendering with ``instr`` arithmetic because that exact expression
    runs verbatim in DuckDB (which has no byte-indexing into BLOBs
    and no ``conv``). Per-row cost is linear in payload size, fully
    codegen'd, no Python.
    """
    d = media.select(
        "media_id",
        F.lower(F.hex("payload")).alias("_hx"),
        F.octet_length("payload").alias("_n"),
    ).where(F.col("_n") > 0)
    d = d.withColumn(
        "_bytes",
        F.expr(
            "transform(sequence(1, _n), i -> "
            "(instr('0123456789abcdef', substr(_hx, 2*i-1, 1)) - 1) * 16 "
            "+ instr('0123456789abcdef', substr(_hx, 2*i, 1)) - 1)"
        ),
    ).withColumn("_total", F.expr("aggregate(_bytes, 0L, (a, x) -> a + x)"))
    span_len = f"(((blk + 1) * _n) div {PHASH_BITS}) - ((blk * _n) div {PHASH_BITS})"
    span_sum = (
        f"aggregate(slice(_bytes, cast((blk * _n) div {PHASH_BITS} as int) + 1, "
        f"cast({span_len} as int)), 0L, (a, x) -> a + x)"
    )
    phash = F.expr(
        f"aggregate(sequence(0, {PHASH_BITS - 1}), 0L, (acc, blk) -> acc + "
        f"CASE WHEN {span_len} > 0 AND {span_sum} * _n >= _total * ({span_len}) "
        f"THEN shiftleft(1L, cast(blk as int)) ELSE 0L END)"
    )
    return d.select("media_id", phash.alias("phash"))


def media_phash_near_dup(
    media: DataFrame,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-duplicate media pairs: ``media_a, media_b, hamming`` for
    all pairs with ``Hamming(phash) ≤ max_hamming`` — found by the
    same pigeonhole banding as the text-side
    ``dedup.simhash_hamming_candidates`` (split the ``PHASH_BITS``
    key into ``max_hamming + 1`` bands; within-k pairs must agree
    exactly on ≥ 1 band), so candidates come from an equi-join on
    ``(band, key)``, never an all-pairs enumeration, and recall
    within k is exact by pigeonhole. Each candidate costs one
    codegen'd ``bit_count(xor)``; payload bytes never join — only
    (id, 32-bit hash) rows shuffle.
    """
    n_bands = max_hamming + 1
    widths = [
        PHASH_BITS // n_bands + (1 if i < PHASH_BITS % n_bands else 0)
        for i in range(n_bands)
    ]
    offsets = [sum(widths[:i]) for i in range(n_bands)]
    # persist: the signature is a pure PROJECTION (unlike the
    # text-SimHash sig, which sits behind an aggregate barrier), so
    # without a materialization Catalyst inlines the whole per-byte
    # HOF expression past the self-join and re-evaluates it PER
    # CANDIDATE ROW — measured 264 s vs ~4 s on 500 docs. Same
    # hazard class as word_shingles' CollapseProject lesson
    # (dedup.py); at 100 TB the signatures are a written table.
    sigs = media_phash(media).persist()
    band_structs = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.expr(
                    f"shiftright(phash, {offsets[i]}) & {(1 << widths[i]) - 1}"
                ).alias("key"),
            )
            for i in range(n_bands)
        ]
    )
    bands = sigs.select(
        "media_id", "phash", F.explode(band_structs).alias("bk")
    ).select(
        "media_id", "phash",
        F.col("bk.band").alias("band"), F.col("bk.key").alias("key"),
    )
    left = bands.select(
        "band", "key",
        F.col("media_id").alias("media_a"), F.col("phash").alias("sig_a"),
    )
    right = bands.select(
        "band", "key",
        F.col("media_id").alias("media_b"), F.col("phash").alias("sig_b"),
    )
    return (
        left.join(right, ["band", "key"])
        .where(F.col("media_a") < F.col("media_b"))
        .select(
            "media_a",
            "media_b",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
            .cast("int")
            .alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def media_exact_dedup(media: DataFrame) -> DataFrame:
    """Exact duplicate groups over BINARY payloads: one row per
    distinct payload hash with the keeper (min media_id), copy count,
    and reclaimable bytes. Same scale shape as text exact-dedup: the
    shuffle carries (hash, id, n_bytes) — payload bytes never move.

    The hash is ``md5(lower(hex(payload)))`` rather than md5 of the
    raw bytes: DuckDB's md5 only takes VARCHAR, so hashing the
    case-normalized hex rendering keeps the operator value-checkable
    cross-engine at the cost of one codegen'd hex pass.
    """
    return (
        media.select(
            F.md5(F.lower(F.hex("payload"))).alias("content_hash"),
            "media_id",
            F.col("meta.n_bytes").alias("n_bytes"),
        )
        .groupBy("content_hash")
        .agg(
            F.min("media_id").alias("media_id"),
            F.count("*").alias("n_copies"),
            ((F.count("*") - 1) * F.max("n_bytes")).alias("bytes_reclaimable"),
        )
    )
