"""The optional ffmpeg decode tier (operators/ffmpeg_codec.py):
gating (absent binary → byte-identical strict contract, no behavior
change) runs everywhere; the real H.264 round-trip runs only where
ffmpeg + libx264 exist and skips cleanly otherwise."""

from __future__ import annotations

import pytest
from _oracles import encode_h264

from ark_invest_api_rust_data_spark.operators import ffmpeg_codec
from ark_invest_api_rust_data_spark.operators.ffmpeg_codec import (
    decode_video_gray_ffmpeg,
    decode_video_rgb_ffmpeg,
    ffmpeg_available,
    probe_video,
)
from ark_invest_api_rust_data_spark.operators.multimodal import (
    decode_video_gray,
    frame_sample,
)
from ark_invest_api_rust_data_spark.operators.mp4 import decode_mp4, mp4_fps


def _rgb_frames(w: int, h: int, n: int) -> list[bytes]:
    return [
        bytes(((x * 3 + y * 5 + k * 17 + c * 7) % 256)
              for y in range(h) for x in range(w) for c in range(3))
        for k in range(n)
    ]


def test_absent_binary_degrades_to_none(monkeypatch):
    """With no ffmpeg on PATH every entry point returns None — the
    pure-Python strict contract upstream is unchanged. Runs in every
    environment (simulated absence via monkeypatch)."""
    monkeypatch.setattr(ffmpeg_codec, "_FFMPEG", None)
    monkeypatch.setattr(ffmpeg_codec, "_FFPROBE", None)
    assert not ffmpeg_available()
    payload = b"\x00\x00\x00\x18ftypisom" + b"\x00" * 64
    assert probe_video(payload) is None
    assert decode_video_rgb_ffmpeg(payload) is None
    assert decode_video_gray_ffmpeg(payload) is None
    assert encode_h264(4, 4, _rgb_frames(4, 4, 1)) is None


def test_strict_raise_survives_gating(spark, monkeypatch):
    """frame_sample on an undecodable payload still raises in strict
    mode when the ffmpeg tier is gated off — the fallback must not
    swallow the contract."""
    monkeypatch.setattr(ffmpeg_codec, "_FFMPEG", None)
    monkeypatch.setattr(ffmpeg_codec, "_FFPROBE", None)
    df = spark.createDataFrame(
        [("m1", "video", bytearray(b"not a video"), None)],
        "media_id string, kind string, content binary, "
        "meta struct<width:int,height:int,sample_rate:int,n_frames:int>",
    )
    with pytest.raises(Exception, match="no codec decodes"):
        frame_sample(df, every_n=2).collect()


_h264_fixture: bytes | None = None
if ffmpeg_available():
    _h264_fixture = encode_h264(16, 12, _rgb_frames(16, 12, 6), fps=30)

needs_h264 = pytest.mark.skipif(
    _h264_fixture is None,
    reason="ffmpeg with libx264 not available in this environment",
)


@needs_h264
def test_h264_probe_and_decode():
    meta = probe_video(_h264_fixture)
    assert meta is not None
    w, h, fps, codec = meta
    assert (w, h, fps, codec) == (16, 12, 30, "h264")
    decoded = decode_video_rgb_ffmpeg(_h264_fixture)
    assert decoded is not None
    dw, dh, dfps, frames = decoded
    assert (dw, dh, dfps, len(frames)) == (16, 12, 30, 6)
    assert all(len(f) == 16 * 12 * 3 for f in frames)
    # unified gray path picks up the ffmpeg tier for compressed input
    gray = decode_video_gray(_h264_fixture)
    assert gray is not None and gray[:2] == (16, 12) and len(gray[2]) == 6


@needs_h264
def test_h264_frame_sample_reencodes_to_mjpeg_mp4(spark):
    """frame_sample over H.264: keep every 2nd frame, output is the
    pure-Python MJPEG MP4 (readable WITHOUT ffmpeg) at the
    sampling-adjusted source rate — the kept-frame stats shape."""
    df = spark.createDataFrame(
        [("m1", "video", bytearray(_h264_fixture), None)],
        "media_id string, kind string, content binary, "
        "meta struct<width:int,height:int,sample_rate:int,n_frames:int>",
    )
    (row,) = frame_sample(df, every_n=2).collect()
    assert row.meta.width == 16 and row.meta.height == 12
    assert row.meta.n_frames == 3  # ceil(6/2)
    out = bytes(row.content)
    decoded = decode_mp4(out)  # pure-Python reader, no ffmpeg
    assert decoded is not None and decoded[:2] == (16, 12)
    assert len(decoded[2]) == 3
    assert mp4_fps(out) == 15  # 30 fps // every_n


@needs_h264
def test_allocation_bounds_reject_oversized_declared_dims(monkeypatch):
    """A probe reporting dims beyond MAX_PIXELS must be rejected
    BEFORE the pixel pipe opens."""
    monkeypatch.setattr(ffmpeg_codec, "MAX_PIXELS", 16 * 12 - 1)
    assert probe_video(_h264_fixture) is None
    assert decode_video_rgb_ffmpeg(_h264_fixture) is None
