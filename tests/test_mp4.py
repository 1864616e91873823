"""MP4 / ISO-BMFF container codec (operators/mp4.py, VERDICT r4
"What's missing" #3): round-trips of MJPEG sample tracks through the
minimal ftyp+mdat+moov writer and the bounded box walker; junk /
truncation / lying-size rejection; fps recovery from mdhd×stts; the
real frame_sample operator re-wrapping sampled frames as MP4; unified
decode_video_gray dispatch."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from _oracles import jpeg_constant_roundtrip, rgb_to_ycbcr, ycbcr_to_rgb

from ark_invest_api_rust_data_spark.operators.jpeg import decode_jpeg, encode_jpeg
from ark_invest_api_rust_data_spark.operators.mp4 import (
    decode_mp4,
    encode_mp4,
    is_mp4,
    mp4_fps,
)
from ark_invest_api_rust_data_spark.operators.multimodal import (
    decode_video_gray,
    frame_sample,
)


def _gray_mp4(vals: list[int], fps: int = 20) -> bytes:
    jpegs = [encode_jpeg(8, 8, bytes([v] * 192)) for v in vals]
    return encode_mp4(8, 8, jpegs, fps=fps)


def test_mp4_roundtrip_matches_per_frame_jpeg_decode():
    vals = [30, 90, 150, 210]
    jpegs = [encode_jpeg(8, 8, bytes([v] * 192)) for v in vals]
    blob = encode_mp4(8, 8, jpegs, fps=20)
    assert is_mp4(blob) and mp4_fps(blob) == 20
    out = decode_mp4(blob)
    assert out is not None and out[:2] == (8, 8) and len(out[2]) == 4
    for j, f in zip(jpegs, out[2]):
        assert decode_jpeg(j)[2] == f


@settings(max_examples=20, deadline=None)
@given(st.lists(st.integers(0, 255), min_size=1, max_size=5),
       st.integers(1, 60))
def test_mp4_roundtrip_property(vals, fps):
    blob = _gray_mp4(vals, fps=fps)
    assert mp4_fps(blob) == fps
    out = decode_mp4(blob)
    assert out is not None and out[:2] == (8, 8) and len(out[2]) == len(vals)
    for v, f in zip(vals, out[2]):
        want = ycbcr_to_rgb(jpeg_constant_roundtrip(v), 128, 128)
        assert f == bytes(want * 64)


@settings(max_examples=30, deadline=None)
@given(st.binary(max_size=64))
def test_mp4_rejects_junk_property(junk):
    assert decode_mp4(junk) is None
    assert mp4_fps(junk) is None


def test_mp4_rejects_truncations_and_lying_sizes():
    blob = _gray_mp4([10, 20])
    for cut in (4, 12, 40, len(blob) // 2, len(blob) - 3):
        assert decode_mp4(blob[:cut]) is None
    # lie in the top-level mdat size: walker must bail, not over-read
    i = blob.find(b"mdat") - 4
    lying = blob[:i] + (2**31).to_bytes(4, "big") + blob[i + 4 :]
    assert decode_mp4(lying) is None
    # non-jpeg sample entry fourcc (e.g. avc1) must route to None
    assert decode_mp4(blob.replace(b"jpeg", b"avc1", 1)) is None
    # dims in stsd disagreeing with the decoded JPEG must route to None
    wrong = blob.replace(
        (8).to_bytes(2, "big") + (8).to_bytes(2, "big"),
        (8).to_bytes(2, "big") + (16).to_bytes(2, "big"),
        1,
    )
    assert decode_mp4(wrong) is None


def test_mp4_rejects_huge_fixed_stsz_count():
    """ADVICE r5: the fixed-sample-size stsz path must bound the raw
    u32 count against the payload BEFORE materializing sizes — a
    crafted tiny file declaring n=2^31 would otherwise allocate a
    billions-element list and OOM the executor."""
    blob = _gray_mp4([10])
    i = blob.find(b"stsz")
    assert i > 0
    # layout after fourcc: verflags(4) fixed(4) count(4) [sizes...]
    lying = (
        blob[: i + 8]
        + (16).to_bytes(4, "big")  # fixed sample size != 0
        + (2**31 - 1).to_bytes(4, "big")  # absurd declared count
        + blob[i + 16 :]
    )
    assert decode_mp4(lying) is None
    assert mp4_fps(lying) is None
    # a fixed size larger than the whole file is equally a lie
    lying2 = (
        blob[: i + 8]
        + (2**30).to_bytes(4, "big")
        + (1).to_bytes(4, "big")
        + blob[i + 16 :]
    )
    assert decode_mp4(lying2) is None


def test_mp4_rejects_pathological_box_nesting():
    # a self-nesting moov chain deeper than any real file: bounded walk
    inner = (16).to_bytes(4, "big") + b"trak" + b"\x00" * 8
    for _ in range(64):
        inner = (len(inner) + 8).to_bytes(4, "big") + b"moov" + inner
    blob = (16).to_bytes(4, "big") + b"ftyp" + b"isom\x00\x00\x02\x00" + inner
    assert decode_mp4(blob) is None  # returns, and returns None


def test_encoder_validates():
    with pytest.raises(ValueError):
        encode_mp4(0, 8, [b"x"])
    with pytest.raises(ValueError):
        encode_mp4(8, 8, [])
    with pytest.raises(ValueError):
        encode_mp4(8, 8, [b"x"], fps=0)


def test_decode_video_gray_dispatches_mp4():
    blob = _gray_mp4([40, 200])
    out = decode_video_gray(blob)
    assert out is not None and out[:2] == (8, 8) and len(out[2]) == 2
    for v, f in zip([40, 200], out[2]):
        r = jpeg_constant_roundtrip(v)
        rr, gg, bb = ycbcr_to_rgb(r, 128, 128)
        assert f == bytes([(rr + gg + bb) // 3] * 64)


def test_frame_sample_mp4_end_to_end(spark):
    """frame_sample on an MJPEG MP4: decode via the box walker → every
    2nd frame → re-encode JPEG → re-wrap as MP4 at the sampling-scaled
    source rate; re-decoded frames equal the idempotent DC roundtrip."""
    vals = [30, 90, 150, 210]
    blob = _gray_mp4(vals, fps=20)
    df = spark.createDataFrame(
        [(1, "video", bytearray(blob),
          {"width": 8, "height": 8, "sample_rate": None, "n_frames": 4})],
        "media_id long, kind string, content binary, "
        "meta struct<width:int,height:int,sample_rate:int,n_frames:int>",
    )
    (row,) = frame_sample(df, every_n=2).collect()
    assert row["meta"]["n_frames"] == 2
    out_blob = bytes(row["content"])
    assert is_mp4(out_blob)  # source container preserved
    assert mp4_fps(out_blob) == 10
    w, h, frames = decode_mp4(out_blob)
    assert (w, h, len(frames)) == (8, 8, 2)
    for v, f in zip([vals[0], vals[2]], frames):
        y, cb, cr = rgb_to_ycbcr(v, v, v)
        assert (y, cb, cr) == (v, 128, 128)  # gray fixed point
        want = ycbcr_to_rgb(jpeg_constant_roundtrip(v), 128, 128)
        assert f == bytes(want * 64)
