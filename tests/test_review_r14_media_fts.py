"""Regression tests for the r14 fts/multimodal/remote review findings."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


def test_decode_real_unknown_kind_skips_not_kills(spark):
    """Corrupt kind METADATA (NULL/unknown) must skip the row like a
    corrupt payload; 'video' (recognized, no gated backend) still fails
    loudly."""
    from quackpipe_spark.operators.multimodal import _decode_real, decode_media

    with pytest.raises(ValueError, match="unrecognized media kind"):
        _decode_real(b"xx", None, 4)
    with pytest.raises(ValueError, match="unrecognized media kind"):
        _decode_real(b"xx", "jpeg", 4)
    with pytest.raises(NotImplementedError):
        _decode_real(b"xx", "video", 4)
    # end-to-end: one corrupt-kind row skips, valid rows survive
    import io
    import wave as wv

    buf = io.BytesIO()
    with wv.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(b"\x00\x00" * 16)
    media = spark.createDataFrame(
        [(1, "audio", bytearray(buf.getvalue())), (2, "jpeg", bytearray(b"zz"))],
        "media_id long, kind string, payload binary",
    )
    rows = decode_media(media, fake=False).collect()
    assert [r["media_id"] for r in rows] == [1]


def test_decode_real_feature_width_uniform(spark):
    """Every kind must emit EXACTLY batch_feature_dim feature elements
    (audio's 4 header fields previously produced a jagged column)."""
    import io
    import wave as wv

    from quackpipe_spark.operators.multimodal import _decode_audio_real

    buf = io.BytesIO()
    with wv.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(16000)
        w.writeframes(b"\x00\x00" * 64)
    _meta, feat = _decode_audio_real(buf.getvalue(), 8)
    assert len(feat) == 8  # padded to the contract width


def test_append_postings_single_file_per_bucket(spark, tmp_path):
    """Appends must cluster on term_bucket before partitionBy: one file
    per touched bucket per append, not tasks x buckets."""
    from quackpipe_spark.operators import fts as FTS

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma{i}") for i in range(100)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "idx")
    FTS.write_postings(FTS.build_postings(docs), path, n_buckets=4)
    more = spark.createDataFrame(
        [(1000 + i, f"delta epsilon zeta{i}") for i in range(100)],
        "doc_id long, text string",
    )
    FTS.append_postings(more, path)
    for b in os.listdir(os.path.join(path, "postings")):
        bdir = os.path.join(path, "postings", b)
        if not (os.path.isdir(bdir) and b.startswith("term_bucket=")):
            continue
        files = [f for f in os.listdir(bdir) if f.endswith(".parquet")]
        # build wrote 1; the append adds at most 1 more per bucket
        assert len(files) <= 2, (b, files)


def test_resolve_scan_path_refuses_http_on_nonlocal_master(spark, monkeypatch):
    """The http(s) download cache is driver-local: a non-local master
    must refuse loudly instead of handing executors a path that doesn't
    exist (or silently reads the wrong file)."""
    from quackpipe_spark.sources import remote

    real_get = spark.conf.get

    def fake_get(key, default=None):
        if key == "spark.master":
            return "spark://cluster:7077"
        return real_get(key, default)

    monkeypatch.setattr(spark.conf, "get", fake_get)
    with pytest.raises(ValueError, match="driver-local"):
        remote.resolve_scan_path("https://example.org/x.parquet")
    monkeypatch.undo()
    # local master keeps the existing behavior (s3/plain paths untouched)
    assert remote.resolve_scan_path("s3://b/k.parquet") == "s3a://b/k.parquet"
