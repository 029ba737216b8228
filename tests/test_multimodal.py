"""Multimodal plumbing tests: binary payload column, typed metadata struct,
Arrow-batched mapInPandas feature extraction, and the stand-in codec
(its md5-derived features and frames must be deterministic)."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from laposte_data_engineering_jedha_spark.operators import multimodal


@pytest.fixture(scope="module")
def media(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return multimodal.media_table(docs)


def _names_types(schema):
    return [(f.name, f.dataType.simpleString()) for f in schema.fields]


def test_media_schema(media):
    assert _names_types(media.schema) == _names_types(multimodal.MEDIA_SCHEMA)
    row = media.first()
    assert isinstance(row["payload"], (bytes, bytearray))
    assert row["meta"]["n_bytes"] == len(row["payload"])
    assert row["media_type"] in multimodal.MEDIA_TYPES


def test_feature_extraction_matches_hashlib(spark, media):
    feats = multimodal.extract_features(media)
    assert _names_types(feats.schema) == _names_types(multimodal.FEATURES_SCHEMA)
    rows = feats.orderBy("doc_id").limit(3).collect()
    src = {r["doc_id"]: bytes(r["payload"]) for r in media.where(F.col("doc_id") < 3).collect()}
    for r in rows:
        h = hashlib.md5(src[r["doc_id"]]).hexdigest()
        assert r["content_hash"] == int(h[:8], 16)
        assert len(r["features"]) == multimodal.FEATURE_DIM
        assert r["features"][0] == int(h[:8], 16) / 4294967296
        assert all(0.0 <= f < 1.0 for f in r["features"])


def test_frame_sampling_chunks(spark, media):
    frames = multimodal.sample_frames(media)
    one = media.first()
    got = sorted(
        (r["frame_idx"], r["n_bytes"], r["frame_hash"])
        for r in frames.where(F.col("doc_id") == one["doc_id"]).collect()
    )
    data = bytes(one["payload"])
    expect = []
    n = min(multimodal.MAX_FRAMES, (len(data) + multimodal.FRAME_SIZE - 1) // multimodal.FRAME_SIZE)
    for i in range(n):
        chunk = data[i * multimodal.FRAME_SIZE : (i + 1) * multimodal.FRAME_SIZE]
        expect.append((i, len(chunk), int(hashlib.md5(chunk).hexdigest()[:8], 16)))
    assert got == expect and len(got) >= 1


def test_extraction_is_partition_parallel(spark, media):
    """Repartitioned input must produce identical results — no per-partition
    state leaks into the features."""
    a = sorted(tuple(r) for r in multimodal.extract_features(media).collect())
    b = sorted(tuple(r) for r in multimodal.extract_features(media.repartition(7)).collect())
    assert a == b
