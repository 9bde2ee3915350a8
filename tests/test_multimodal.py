"""Multimodal plumbing: schema, Arrow batch path, deterministic stub
features, stubbed decode raising where a real codec would run."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from binance_data_framework_spark.operators.multimodal import (
    FEATURE_SCHEMA,
    extract_features,
    frame_sample_plan,
    resize_media,
    synth_blobs,
)


@pytest.mark.slow
def test_feature_extraction_schema_and_determinism(spark):
    blobs = synth_blobs(spark, n=32)
    feats = extract_features(blobs)
    assert feats.schema == FEATURE_SCHEMA
    a = {r["blob_id"]: r["digest"] for r in feats.collect()}
    # repartition differently -> identical features (stable under shuffle)
    b = {r["blob_id"]: r["digest"] for r in extract_features(blobs.repartition(7)).collect()}
    assert a == b and len(a) == 32
    row = feats.where(F.col("blob_id") == 3).first()
    assert len(row["feature"]) == 8
    assert all(0.0 <= x <= 1.0 for x in row["feature"])


def test_real_decode_is_stubbed(spark):
    blobs = synth_blobs(spark, n=4)
    with pytest.raises(Exception) as ei:
        extract_features(blobs, decode_stub=False).collect()
    assert "NotImplementedError" in str(ei.value) or "real media decoding" in str(ei.value)


def test_frame_sample_plan(spark):
    blobs = synth_blobs(spark, n=12)
    frames = frame_sample_plan(blobs, every_n=2)
    rows = frames.collect()
    assert all(r["frame_idx"] % 2 == 0 for r in rows)
    # only video rows produce frames
    mods = dict(blobs.select("blob_id", "modality").collect())
    assert {mods[r["blob_id"]] for r in rows} == {"video"}


def test_resize_media_stub(spark):
    blobs = synth_blobs(spark, n=9)
    out = resize_media(blobs, target=(64, 64)).collect()
    orig = {r["blob_id"]: bytes(r["data"]) for r in blobs.collect()}
    assert len(out) == 9
    for r in out:
        raw = orig[r["blob_id"]]
        expect_len = max(1, min(len(raw), len(raw) * 64 * 64 // (r["width"] * r["height"])))
        assert len(bytes(r["data"])) == expect_len
        assert bytes(r["data"]) == raw[:expect_len]  # stub is a prefix
        assert (r["new_width"], r["new_height"]) == (64, 64)
    with pytest.raises(Exception) as ei:
        resize_media(blobs, decode_stub=False).collect()
    assert "NotImplementedError" in str(ei.value) or "real media decoding" in str(ei.value)


def test_metadata_only_query_prunes_bytes(spark):
    blobs = synth_blobs(spark, n=8)
    q = blobs.groupBy("modality").agg(F.count(F.lit(1)).alias("n"))
    assert "data" not in q.columns
    assert q.count() == 3


# -- real codecs (r10, VERDICT r9 #5) ---------------------------------------
from hypothesis import given, settings
from hypothesis import strategies as st

from binance_data_framework_spark.functions.media_codecs import (
    decode_png,
    decode_wav,
    encode_png,
    encode_wav,
)
from binance_data_framework_spark.operators.multimodal import decode_media


@settings(max_examples=40, deadline=None)
@given(
    w=st.integers(1, 40),
    h=st.integers(1, 24),
    color_type=st.sampled_from([0, 2]),
    filter_mode=st.sampled_from(["cycle", "none"]),
    data=st.data(),
)
def test_png_roundtrip_property(w, h, color_type, filter_mode, data):
    ch = 1 if color_type == 0 else 3
    px = bytes(
        data.draw(
            st.lists(st.integers(0, 255), min_size=w * h * ch, max_size=w * h * ch)
        )
    )
    d = decode_png(encode_png(px, w, h, color_type, filter_mode))
    assert (d["width"], d["height"], d["channels"]) == (w, h, ch)
    assert d["pixels"] == px


@settings(max_examples=20, deadline=None)
@given(
    n=st.integers(0, 300),
    rate=st.sampled_from([8000, 16000, 44100]),
    n_channels=st.integers(1, 2),
    bits=st.sampled_from([8, 16]),
    data=st.data(),
)
def test_wav_roundtrip_property(n, rate, n_channels, bits, data):
    block = n_channels * bits // 8
    frames = bytes(
        data.draw(st.lists(st.integers(0, 255), min_size=n * block, max_size=n * block))
    )
    d = decode_wav(encode_wav(frames, rate, n_channels, bits))
    assert d["frames"] == frames
    assert (d["n_channels"], d["sample_rate"], d["bits_per_sample"]) == (
        n_channels, rate, bits,
    )
    assert d["n_samples"] == n


def test_png_rejects_malformed():
    good = encode_png(bytes(range(64)), 8, 8)
    with pytest.raises(ValueError, match="signature"):
        decode_png(b"notapng" + good)
    bad_crc = bytearray(good)
    bad_crc[20] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(bad_crc))
    with pytest.raises(ValueError, match="truncated"):
        decode_png(good[:-6])
    # valid-but-unsupported: 16-bit depth declared in IHDR
    import struct as _s
    import zlib as _z
    hdr = _s.pack(">IIBBBBB", 8, 8, 16, 0, 0, 0, 0)
    chunk = _s.pack(">I", len(hdr)) + b"IHDR" + hdr
    chunk += _s.pack(">I", _z.crc32(b"IHDR" + hdr) & 0xFFFFFFFF)
    with pytest.raises(NotImplementedError, match="bit_depth=16"):
        decode_png(good[:8] + chunk + good[8 + 25 :])
    with pytest.raises(ValueError, match="RIFF"):
        decode_wav(good)


def test_decode_media_mixed_formats(spark):
    """decode_media handles PNG and WAV rows in the same Arrow batch and
    raises (wrapped) on a payload with no stdlib decoder."""
    px = bytes(range(96))
    rows = [
        (1, "image", bytearray(encode_png(px, 12, 8))),
        (2, "audio", bytearray(encode_wav(b"\x01\x02\x03\x04", 8000, 1, 8))),
    ]
    df = spark.createDataFrame(rows, "blob_id bigint, modality string, data binary")
    got = {r["blob_id"]: r for r in decode_media(df).collect()}
    assert got[1]["format"] == "png"
    assert (got[1]["width"], got[1]["height"]) == (12, 8)
    assert bytes(got[1]["payload"]) == px
    assert got[2]["format"] == "wav"
    assert got[2]["n_samples"] == 4 and got[2]["sample_rate"] == 8000
    bad = spark.createDataFrame(
        [(3, "video", bytearray(b"\x00\x01garbage"))],
        "blob_id bigint, modality string, data binary",
    )
    with pytest.raises(Exception) as ei:
        decode_media(bad).collect()
    assert "no stdlib decoder" in str(ei.value)
