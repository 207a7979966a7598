"""Multimodal plumbing tests: binary columns through the Arrow UDF."""

import hashlib

import pytest

from pyspark.sql import functions as F

from engine.multimodal import decode_image, extract_media_features


def _media_df(spark, n=20):
    return (spark.range(n)
            .select(F.col("id").alias("media_id"),
                    F.encode(F.concat(F.lit("payload-"), F.col("id")), "utf-8")
                     .alias("payload")))


def test_decode_stub_raises_without_fake():
    with pytest.raises(NotImplementedError):
        decode_image(b"x")


def test_decode_fake_is_deterministic():
    a = decode_image(b"same", deterministic_fake=True)
    b = decode_image(b"same", deterministic_fake=True)
    assert a == b and len(a) == 16
    assert decode_image(b"other", deterministic_fake=True) != a


def test_feature_extraction_roundtrip(spark):
    df = _media_df(spark)
    out = extract_media_features(df, deterministic_fake=True).collect()
    assert len(out) == 20
    by_id = {r.media_id: r for r in out}
    payload = b"payload-7"
    assert by_id[7].content_sha == hashlib.sha256(payload).hexdigest()
    assert by_id[7].nbytes == len(payload)
    assert by_id[7].status == "ok"
    assert len(by_id[7].features) == 16


def test_decode_unavailable_is_the_default(spark):
    # real decode is stubbed, so the SAFE default is honest accounting,
    # never silent fake features
    df = _media_df(spark, 5)
    out = extract_media_features(df).collect()
    assert all(r.status == "decode_unavailable" for r in out)
    assert all(r.features is None for r in out)
