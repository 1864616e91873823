"""Optional ffmpeg-backed decode tier for compressed video codecs
(H.264/H.265/VP9/WebM — everything the pure-Python walkers in
operators/mp4.py and operators/multimodal.py deliberately refuse).

Gating contract: this module NEVER makes ffmpeg a dependency. All
entry points return None when the `ffmpeg`/`ffprobe` binaries are not
on PATH, so the strict-decode contract upstream is byte-identical with
or without this module — a compressed payload raises in strict mode on
a container without ffmpeg, and decodes for real on one with it. The
reference pipeline has no video surface at all (its media handling is
CSV/JSON holdings rows); this tier exists for the LLM-training-data
extension (SURVEY.md B32), where a real corpus is mostly H.264.

Scale posture: decode runs inside the same narrow mapInPandas stage as
the pure-Python codecs (zero shuffle, byte-bounded partitions); each
payload shells out once to a subprocess reading a private temp file
(ISO-BMFF needs seekable input — a moov-at-end MP4 cannot stream
through stdin). The same adversarial-allocation discipline as the
pure decoders applies: declared dims are bounded BEFORE the rawvideo
pipe is opened, frame count is capped at the demuxer (`-frames:v`),
and the subprocess gets a hard wall-clock timeout, so a length-lying
payload cannot make an executor allocate unbounded pixel buffers or
hang a task slot.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import tempfile

# resolved once at import; tests monkeypatch these to simulate absence
_FFMPEG = shutil.which("ffmpeg")
_FFPROBE = shutil.which("ffprobe")

# adversarial-allocation bounds, matching the pure decoders' posture:
# a frame is at most 4M pixels (12 MB RGB), a decode at most 256 frames
# (callers sample anyway), a subprocess at most 60 s.
MAX_PIXELS = 1 << 22
MAX_FRAMES = 256
_TIMEOUT_S = 60


def ffmpeg_available() -> bool:
    """True when both ffmpeg and ffprobe binaries resolve on PATH."""
    return bool(_FFMPEG and _FFPROBE)


def _run(cmd: list[str], timeout: int = _TIMEOUT_S) -> bytes | None:
    """Run a subprocess, returning stdout bytes or None on any failure
    (non-zero exit, timeout, missing binary) — decode tiers degrade to
    None, never raise, so the strict contract stays at the caller."""
    try:
        proc = subprocess.run(
            cmd,
            stdin=subprocess.DEVNULL,
            stdout=subprocess.PIPE,
            stderr=subprocess.DEVNULL,
            timeout=timeout,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    if proc.returncode != 0:
        return None
    return proc.stdout


def probe_video(b: bytes) -> tuple[int, int, int, str] | None:
    """(width, height, fps, codec_name) for the first video stream via
    ffprobe, None when ffprobe is absent or the payload has no
    parseable video stream. fps is avg_frame_rate rounded to nearest
    (the same 30000/1001 → 30 convention as multimodal.avi_fps)."""
    if not ffmpeg_available() or not b:
        return None
    with tempfile.NamedTemporaryFile(suffix=".bin", delete=False) as f:
        f.write(b)
        path = f.name
    try:
        out = _run(
            [
                _FFPROBE,
                "-v", "error",
                "-select_streams", "v:0",
                "-show_entries", "stream=width,height,avg_frame_rate,codec_name",
                "-of", "json",
                path,
            ]
        )
    finally:
        os.unlink(path)
    if not out:
        return None
    try:
        streams = json.loads(out).get("streams") or []
        s = streams[0]
        w, h = int(s["width"]), int(s["height"])
        num, _, den = str(s.get("avg_frame_rate", "0/1")).partition("/")
        num_i, den_i = int(num or 0), int(den or 1)
        fps = max(1, (num_i + den_i // 2) // den_i) if den_i > 0 and num_i > 0 else 10
        codec = str(s.get("codec_name", ""))
    except (KeyError, IndexError, ValueError, TypeError):
        return None
    if w <= 0 or h <= 0 or w * h > MAX_PIXELS:
        return None
    return (w, h, fps, codec)


def decode_video_rgb_ffmpeg(
    b: bytes, max_frames: int = MAX_FRAMES
) -> tuple[int, int, int, list[bytes]] | None:
    """Compressed video → (w, h, src_fps, [top-down RGB streams]) via
    an ffmpeg rawvideo pipe, at most ``max_frames`` frames. None when
    ffmpeg is absent, the payload doesn't probe as video, dims exceed
    the allocation bound, or the pipe yields no whole frame.

    Dims come from ffprobe BEFORE the pixel pipe opens, so the frame
    buffer allocation is bounded by probed-and-checked metadata, never
    by whatever the decoder chooses to emit (output is additionally
    truncated to whole frames ≤ max_frames)."""
    meta = probe_video(b)
    if meta is None:
        return None
    w, h, fps, _codec = meta
    frame_sz = w * h * 3
    with tempfile.NamedTemporaryFile(suffix=".bin", delete=False) as f:
        f.write(b)
        path = f.name
    try:
        out = _run(
            [
                _FFMPEG,
                "-v", "error",
                "-i", path,
                "-frames:v", str(max_frames),
                "-f", "rawvideo",
                "-pix_fmt", "rgb24",
                "-",
            ]
        )
    finally:
        os.unlink(path)
    if not out or len(out) < frame_sz:
        return None
    n = min(len(out) // frame_sz, max_frames)
    frames = [bytes(out[i * frame_sz : (i + 1) * frame_sz]) for i in range(n)]
    return (w, h, fps, frames)


def decode_video_gray_ffmpeg(
    b: bytes, max_frames: int = MAX_FRAMES
) -> tuple[int, int, list[bytes]] | None:
    """Compressed video → (w, h, [w·h gray byte frames]) — the shape
    decode_video_gray consumes. Gray is folded from the RGB pipe with
    the SAME exact-integer (r+g+b)//3 luma as the pure-Python path, so
    feature vectors are comparable across codec tiers (ffmpeg's own
    gray pix_fmt uses BT.601 weights, which would fork the math)."""
    decoded = decode_video_rgb_ffmpeg(b, max_frames=max_frames)
    if decoded is None:
        return None
    w, h, _fps, frames = decoded
    gray = [
        bytes((f[i] + f[i + 1] + f[i + 2]) // 3 for i in range(0, len(f), 3))
        for f in frames
    ]
    return (w, h, gray)


