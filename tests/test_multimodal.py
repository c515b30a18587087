"""Multimodal binary-column processing (stubbed codec, real plumbing)."""

from __future__ import annotations

import pytest

from lakehouse_tools_spark.ext.multimodal import (
    byte_histogram_features,
    decode_media,
    media_from_documents,
)


@pytest.fixture(scope="module")
def media(tables):
    return media_from_documents(tables["documents"].limit(50), kind="video")


def test_media_schema(media):
    kinds = dict(media.dtypes)
    assert kinds["content"] == "binary"
    assert kinds["meta"].startswith("struct<format:string,width:int")


def test_decode_deterministic(media):
    a = sorted(map(tuple, decode_media(media).collect()))
    b = sorted(map(tuple, decode_media(media).collect()))
    assert a == b
    assert all(r[2] is not None and 1 <= r[2] <= 4096 for r in a)  # width
    assert all(len(r[5]) == 32 for r in a)  # md5 checksum


def test_decode_real_backend_stubbed(media):
    with pytest.raises(NotImplementedError):
        decode_media(media, backend="pil")


def test_byte_histogram_features(media):
    rows = byte_histogram_features(media, bins=16).collect()
    assert all(len(r.features) == 16 for r in rows)
    for r in rows:
        assert abs(sum(r.features) - 1.0) < 1e-9  # normalized
