"""Multimodal column handling: opaque binary payloads + typed metadata.

The 100 TB pattern: media (image/audio/video) lives as a `binary` column
with a typed metadata struct beside it; decode / feature-extraction runs as
Arrow-batched Python over `mapInPandas`, so bytes move driver-free from
parquet scan to Python in columnar batches and the stage parallelizes by
input partition.

The codec step is a stand-in (no image/audio libraries are a
dependency): each payload yields a deterministic md5-derived feature
vector, so the Spark-side plumbing — schema, batch iteration,
partition-parallelism, output shape — is fully real and oracle-checkable
(md5 is reproducible in SQL). A real decoder (PIL for images,
soundfile/librosa for audio, pyav for video keyframes) slots in where
`_fake_features` and the frame chunking run.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType, BinaryType, DoubleType, LongType, StringType, StructField, StructType,
)

MEDIA_TYPES = ["image", "audio", "video"]
FEATURE_DIM = 4

MEDIA_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media_type", StringType()),
        StructField("payload", BinaryType()),
        StructField(
            "meta",
            StructType(
                [
                    StructField("n_bytes", LongType()),
                    StructField("source", StringType()),
                ]
            ),
        ),
    ]
)

FRAME_SIZE = 256  # bytes per fake "frame"
MAX_FRAMES = 4

FRAMES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media_type", StringType()),
        StructField("frame_idx", LongType()),
        StructField("n_bytes", LongType()),
        StructField("frame_hash", LongType()),
    ]
)

FEATURES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media_type", StringType()),
        StructField("n_bytes", LongType()),
        StructField("content_hash", LongType()),
        StructField("features", ArrayType(DoubleType())),
    ]
)


def media_table(docs: DataFrame) -> DataFrame:
    """Build the canonical media table from `documents`: the text payload
    stands in for encoded media bytes; media_type round-robins by doc_id."""
    mt = F.element_at(
        F.array(*[F.lit(t) for t in MEDIA_TYPES]),
        (F.col("doc_id") % len(MEDIA_TYPES) + 1).cast("int"),
    )
    payload = F.encode("text", "utf-8")
    return docs.select(
        "doc_id",
        mt.alias("media_type"),
        payload.alias("payload"),
        F.struct(
            F.octet_length(payload).cast("long").alias("n_bytes"),
            F.col("source").alias("source"),
        ).alias("meta"),
    )


def _fake_features(payload: bytes) -> tuple[int, list[float]]:
    """Deterministic stand-in features: 32-bit md5 prefix ints scaled to
    [0,1) by 2^-32 (exact in double, so the SQL oracle reproduces them)."""
    h = hashlib.md5(payload).hexdigest()
    content_hash = int(h[:8], 16)
    feats = [int(h[8 * i : 8 * i + 8], 16) / 4294967296 for i in range(FEATURE_DIM)]
    return content_hash, feats


def extract_features(media: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over the binary payload column.

    mapInPandas: each input partition arrives as an iterator of Arrow-backed
    pandas batches; output schema is fixed (`FEATURES_SCHEMA`), so Catalyst
    can prune/push around the Python stage. Per-row Python cost is the only
    non-JVM hot path in the package, and it is batch-amortized by Arrow.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, media_type, payload, meta in zip(
                pdf["doc_id"], pdf["media_type"], pdf["payload"], pdf["meta"]
            ):
                data = bytes(payload)
                content_hash, feats = _fake_features(data)
                rows.append(
                    (int(doc_id), media_type, int(meta["n_bytes"]), content_hash, feats)
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "media_type", "n_bytes", "content_hash", "features"]
            )

    return media.mapInPandas(run, schema=FEATURES_SCHEMA)


def sample_frames(media: DataFrame) -> DataFrame:
    """Frame sampling — the 1 -> N multimodal batch shape: each payload
    expands to up to MAX_FRAMES fixed-size "frames" (the keyframe-sample /
    audio-window pattern). Like extract_features it stands in for a real
    decode: it deterministically chunks the payload bytes so the output
    is oracle-reproducible (md5 per chunk).

    Output rows-per-input varies, which is exactly what mapInPandas allows
    and column-count-preserving UDFs don't.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, media_type, payload in zip(
                pdf["doc_id"], pdf["media_type"], pdf["payload"]
            ):
                data = bytes(payload)
                n = min(MAX_FRAMES, (len(data) + FRAME_SIZE - 1) // FRAME_SIZE)
                for i in range(n):
                    chunk = data[i * FRAME_SIZE : (i + 1) * FRAME_SIZE]
                    h = int(hashlib.md5(chunk).hexdigest()[:8], 16)
                    rows.append((int(doc_id), media_type, i, len(chunk), h))
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "media_type", "frame_idx", "n_bytes", "frame_hash"],
            )

    return media.mapInPandas(run, schema=FRAMES_SCHEMA)


def dedup_payloads(media: DataFrame) -> DataFrame:
    """Byte-identical payload dedup: group by (md5(payload), n_bytes) and
    keep the lowest doc_id as the canonical copy — the storage-dedup step
    every media lake runs before any decode (CDN mirrors and re-crawls
    make byte-identical blobs the DOMINANT duplication mode for media;
    near-dup perceptual hashing sits behind the codec stub, this layer
    needs no decode at all).

    One hash-keyed aggregate; payload bytes are hashed map-side and never
    shuffle — the exchange carries (hash_hex, n_bytes, doc_id) only. The
    size column rides the key as a cheap second factor so a (vanishingly
    unlikely) md5 collision of different-length blobs cannot merge."""
    hashed = media.select(
        "doc_id",
        "media_type",
        F.md5("payload").alias("payload_md5"),
        F.col("meta.n_bytes").alias("n_bytes"),
    )
    return (
        hashed.groupBy("payload_md5", "n_bytes")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.min("media_type").alias("media_type"),
        )
    )


PHASH_GRAM = 4  # chars per content gram (and the sampling stride: disjoint)


def pd_payload_gram_hashes(payload_col, gram: int = PHASH_GRAM):
    """Arrow-batched 60-bit md5 hashes of consecutive `gram`-char windows
    of the DECODED payload (utf-8; the codec stub's "pixels"). Character
    (not byte) windows so the DuckDB oracle's `substr` reproduces the
    grams exactly for any utf-8 payload. Per-gram weight = occurrence
    count, which is exactly what the SimHash vote downstream wants."""
    import hashlib

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<long>")
    def kernel(s: pd.Series) -> pd.Series:
        out = []
        for payload in s:
            text = bytes(payload).decode("utf-8")
            n = -(-len(text) // gram)  # ceil; last gram may be short
            out.append(
                [
                    int(
                        hashlib.md5(
                            text[i * gram : i * gram + gram].encode("utf-8")
                        ).hexdigest()[:15],
                        16,
                    )
                    for i in range(n)
                ]
            )
        return pd.Series(out)

    return kernel(payload_col)


def phash_media(media: DataFrame) -> DataFrame:
    """(doc_id, media_type, phash): 60-bit perceptual-style hash per
    payload — SimHash bit-votes over content-gram hashes, so payloads
    sharing most of their content agree on most bits (unlike the
    avalanche `content_hash`). Real image/audio decode would swap the
    gram stage for DCT / spectral frames behind the same stub boundary;
    the vote/band/verify machinery downstream is codec-agnostic."""
    from ..functions import texts

    return media.select(
        "doc_id",
        "media_type",
        pd_payload_gram_hashes(F.col("payload")).alias("h"),
    ).select("doc_id", "media_type", texts.pd_simhash("h").alias("phash"))


def phash_pairs(media: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Perceptual near-dup pairs over media payloads: phash per payload,
    then the shared banded-Hamming candidate engine
    (dedup.hamming_band_pairs — d+1 disjoint bands give full recall by
    pigeonhole, widest-band layout keeps random collisions linear).

    The payload bytes never shuffle: phash is map-side Arrow compute, and
    everything past it moves (id, phash, band, key) rows only — at 100 TB
    of media that's the difference between shuffling blobs and shuffling
    ~30 bytes/row."""
    from . import dedup

    sims = phash_media(media).select("doc_id", F.col("phash").alias("sim")).repartition(
        "doc_id"
    )
    return dedup.hamming_band_pairs(
        sims, id_col="doc_id", bits=60, max_hamming=max_hamming
    )
