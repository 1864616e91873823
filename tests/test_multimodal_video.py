"""Real video codec (operators/multimodal.py GIF/LZW section): LZW
round-trips under dictionary growth and resets, GIF container
round-trips, junk rejection, and the REAL frame_sample / resize_images
stages end to end."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from ark_invest_api_rust_data_spark.operators.multimodal import (
    MEDIA_SCHEMA,
    _lzw_decode,
    _lzw_encode,
    decode_gif_frames,
    decode_image,
    decode_video_gray,
    encode_bmp,
    encode_gif,
    extract_features,
    frame_sample,
    resize_images,
    resize_nn,
    video_features,
)


# ------------------------------------------------------------- LZW
@settings(max_examples=50, deadline=None)
@given(st.binary(min_size=0, max_size=2000))
def test_lzw_roundtrip_random(data):
    assert _lzw_decode(_lzw_encode(data, 8), 8) == data


@settings(max_examples=20, deadline=None)
@given(st.integers(2, 8))
def test_lzw_roundtrip_small_alphabet(mcs):
    # tiny alphabets + long runs force code-width growth fast
    data = bytes([i % (1 << mcs) for i in range(500)]) + bytes(500)
    assert _lzw_decode(_lzw_encode(data, mcs), mcs) == data


def test_lzw_dictionary_reset_at_4096():
    # incompressible-ish stream long enough to fill the 4096-entry
    # dictionary and force a mid-stream CLEAR + reset
    data = bytes((i * 37 + (i >> 8) * 11) % 256 for i in range(30000))
    enc = _lzw_encode(data, 8)
    assert _lzw_decode(enc, 8) == data
    assert len(enc) < len(data) * 1.5


def test_lzw_compresses_runs():
    data = b"\x07" * 4000
    enc = _lzw_encode(data, 8)
    assert len(enc) < 200  # real compression, not byte-stuffing
    assert _lzw_decode(enc, 8) == data


def test_lzw_kwkwk_case():
    # aaa...: decoder must handle code == next_code (KwKwK)
    data = b"aaabaaabaaab" * 50
    assert _lzw_decode(_lzw_encode(data, 8), 8) == data


def test_lzw_decode_rejects_corrupt():
    assert _lzw_decode(bytes([0xFF] * 50), 8) is None  # out-of-range codes


# ------------------------------------------------------------- GIF
def _frames(w, h, n):
    return [
        bytes(((x + y * w) * (f + 1) * 13) % 256 for y in range(h) for x in range(w))
        for f in range(n)
    ]


def test_gif_roundtrip_multiframe():
    frames = _frames(6, 4, 5)
    b = encode_gif(6, 4, frames)
    assert b[:6] == b"GIF89a" and b[-1] == 0x3B
    decoded = decode_gif_frames(b)
    assert decoded is not None
    w, h, back = decoded
    assert (w, h) == (6, 4)
    assert back == frames
    gray = decode_video_gray(b)
    assert gray is not None and gray[:2] == (6, 4) and len(gray[2]) == 5


def test_gif_roundtrip_large_frame():
    # one frame big enough that the LZW dictionary grows several widths
    frames = _frames(64, 48, 2)
    decoded = decode_gif_frames(encode_gif(64, 48, frames))
    assert decoded is not None and decoded[2] == frames


def test_gif_rejects_junk():
    assert decode_gif_frames(b"") is None
    assert decode_gif_frames(b"not a gif at all") is None
    assert decode_gif_frames(b"GIF89a\x00") is None
    assert decode_video_gray(b"RIFF....WAVE") is None
    # truncated mid-stream: valid header, sliced image data
    whole = encode_gif(4, 4, _frames(4, 4, 2))
    assert decode_gif_frames(whole[: len(whole) // 2]) is None


def test_encode_gif_validates():
    with pytest.raises(ValueError):
        encode_gif(4, 4, [])
    with pytest.raises(ValueError):
        encode_gif(0, 0, [b""])
    with pytest.raises(ValueError):
        encode_gif(4, 4, [b"\x00" * 7])


def test_video_features_from_real_frames():
    frames = [bytes([10] * 16), bytes([30] * 16)]
    f = video_features(4, 4, frames)
    assert f[:3] == [4.0, 4.0, 2.0]
    assert f[3] == pytest.approx(20.0)  # global mean
    assert f[4] == 30.0  # peak
    assert f[5] == 10.0 and f[6] == 30.0  # first/last frame means
    assert f[7] == pytest.approx(20.0)  # motion: mean |30-10|


# ------------------------------------------------- Spark stages
def _video_df(spark, n_frames=4):
    rows = [
        (i, "video", encode_gif(4, 4, _frames(4, 4, n_frames)),
         {"width": 4, "height": 4, "sample_rate": None, "n_frames": n_frames})
        for i in range(6)
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_frame_sample_real_end_to_end(spark):
    out = frame_sample(_video_df(spark, 5), every_n=2).collect()
    for r in out:
        assert r["meta"]["n_frames"] == 3  # frames 0, 2, 4
        decoded = decode_gif_frames(bytes(r["content"]))
        assert decoded is not None
        w, h, frames = decoded
        assert (w, h, len(frames)) == (4, 4, 3)
        assert frames == _frames(4, 4, 5)[::2]  # exact kept frames


def test_frame_sample_strict_raises_on_non_gif(spark):
    rows = [(1, "video", b"junk", {"width": None, "height": None,
                                   "sample_rate": None, "n_frames": 8})]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    with pytest.raises(Exception, match="NotImplementedError|no codec"):
        frame_sample(df, every_n=2).collect()
    # non-strict: metadata-only shrink, content untouched
    r = frame_sample(df, every_n=2, strict=False).first()
    assert bytes(r["content"]) == b"junk" and r["meta"]["n_frames"] == 4


def test_extract_features_video_real(spark):
    feats = {r["media_id"]: r for r in extract_features(_video_df(spark)).collect()}
    ref = video_features(4, 4, _frames(4, 4, 4))
    for r in feats.values():
        assert [pytest.approx(x) for x in ref] == list(r["feature"])


def test_resize_nn_picks_expected_pixels():
    # 4x4 RGB, every pixel value = its index; 2x2 picks (0,0) (2,0) (0,2) (2,2)
    rgb = bytes(range(48))
    out = resize_nn(4, 4, rgb, 2, 2)
    expect = b"".join(rgb[(y * 4 + x) * 3 : (y * 4 + x) * 3 + 3]
                      for y in (0, 2) for x in (0, 2))
    assert out == expect


def test_resize_images_real_end_to_end(spark):
    rgb = bytes((i * 7) % 256 for i in range(48))
    rows = [(1, "image", encode_bmp(4, 4, rgb),
             {"width": 4, "height": 4, "sample_rate": None, "n_frames": None})]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    r = resize_images(df, 2, 2).first()
    assert r["meta"]["width"] == 2 and r["meta"]["height"] == 2
    decoded = decode_image(bytes(r["content"]))
    assert decoded is not None
    w, h, back = decoded
    assert (w, h) == (2, 2)
    assert back == resize_nn(4, 4, rgb, 2, 2)  # exact source pixels


def test_degenerate_payloads_reject_not_crash():
    # well-formed containers with degenerate content must decode to
    # None (routing to strict/fake handling) instead of ZeroDividing
    # later in the feature folds
    from ark_invest_api_rust_data_spark.operators.multimodal import (
        decode_features,
        decode_gif_frames,
        decode_wav,
        encode_wav,
    )

    wav_rate0 = encode_wav(0, 1, [1, -1])
    wav_empty = encode_wav(8000, 1, [])
    gif_0x0 = b"GIF89a" + bytes(4) + bytes([0x00, 0, 0])  # w=0, h=0
    assert decode_wav(wav_rate0) is None
    assert decode_wav(wav_empty) is None
    assert decode_gif_frames(gif_0x0) is None

    # strict: the contract error, NOT ZeroDivisionError
    for kind, payload in [
        ("audio", wav_rate0),
        ("audio", wav_empty),
        ("video", gif_0x0),
    ]:
        with pytest.raises(NotImplementedError):
            decode_features([payload], kind, strict=True)
        # non-strict: the deterministic fake vector
        (feats,) = decode_features([payload], kind, strict=False)
        assert len(feats) > 0


# ------------------------------------------------- uncompressed AVI
@settings(max_examples=40, deadline=None)
@given(
    w=st.integers(min_value=1, max_value=9),
    h=st.integers(min_value=1, max_value=7),
    data=st.data(),
)
def test_avi_roundtrip_property(w, h, data):
    """The uncompressed-AVI codec inverts on ANY frame stack and dims —
    including widths whose rows need 4-byte padding."""
    from ark_invest_api_rust_data_spark.operators.multimodal import (
        decode_avi,
        encode_avi,
    )

    n_frames = data.draw(st.integers(min_value=1, max_value=5))
    frames = [
        bytes(data.draw(st.binary(min_size=w * h * 3, max_size=w * h * 3)))
        for _ in range(n_frames)
    ]
    blob = encode_avi(w, h, frames)
    assert decode_avi(blob) == (w, h, frames)
    gray = decode_video_gray(blob)
    assert gray is not None and gray[:2] == (w, h) and len(gray[2]) == n_frames


@settings(max_examples=40, deadline=None)
@given(junk=st.binary(max_size=96))
def test_avi_rejects_junk_property(junk):
    from ark_invest_api_rust_data_spark.operators.multimodal import decode_avi

    out = decode_avi(junk)
    if out is not None:
        w, h, frames = out
        assert w >= 1 and h >= 1 and frames
        assert all(len(f) == w * h * 3 for f in frames)


def test_avi_rejects_truncations_and_validates_encoder():
    from ark_invest_api_rust_data_spark.operators.multimodal import (
        decode_avi,
        encode_avi,
    )

    frames = [bytes(range(48)), bytes(reversed(range(48)))]
    blob = encode_avi(4, 4, frames)
    for cut in (10, 40, len(blob) // 2, len(blob) - 3):
        assert decode_avi(blob[:cut]) is None
    with pytest.raises(ValueError):
        encode_avi(4, 4, [b"\x00" * 10])  # wrong frame size
    with pytest.raises(ValueError):
        encode_avi(0, 4, [b""])
    with pytest.raises(ValueError):
        encode_avi(4, 4, [])


def test_decode_video_gray_exact_luma():
    from ark_invest_api_rust_data_spark.operators.multimodal import (
        decode_video_gray,
        encode_avi,
    )

    rgb = bytes([10, 20, 31, 255, 0, 4])  # (10+20+31)//3=20, (255+0+4)//3=86
    blob = encode_avi(2, 1, [rgb])
    assert decode_video_gray(blob) == (2, 1, [bytes([20, 86])])


def test_frame_sample_avi_end_to_end(spark):
    """frame_sample accepts AVI payloads: decode → every 2nd frame →
    re-encode as a VALID AVI whose re-decode shows frames 0 and 2."""
    from ark_invest_api_rust_data_spark.operators.multimodal import (
        decode_avi,
        encode_avi,
        frame_sample,
    )

    frames = [bytes(((f * 40 + i) % 256) for i in range(27)) for f in range(4)]
    blob = encode_avi(3, 3, frames)
    df = spark.createDataFrame(
        [(1, "video", bytearray(blob),
          {"width": 3, "height": 3, "sample_rate": None, "n_frames": 4})],
        "media_id long, kind string, content binary, "
        "meta struct<width:int,height:int,sample_rate:int,n_frames:int>",
    )
    (row,) = frame_sample(df, every_n=2).collect()
    assert row["meta"]["n_frames"] == 2
    out = decode_avi(bytes(row["content"]))
    assert out == (3, 3, [frames[0], frames[2]])


def test_frame_sample_avi_preserves_source_fps(spark):
    """ADVICE r4: a 30fps AVI sampled every 2nd frame re-encodes at
    30//2 = 15fps (strh dwRate recovered via avi_fps), not encode_avi's
    default 10 — playback duration is preserved."""
    from ark_invest_api_rust_data_spark.operators.multimodal import (
        avi_fps,
        encode_avi,
        frame_sample,
    )

    frames = [bytes(((f * 40 + i) % 256) for i in range(27)) for f in range(4)]
    blob = encode_avi(3, 3, frames, fps=30)
    assert avi_fps(blob) == 30
    assert avi_fps(b"junk") is None
    df = spark.createDataFrame(
        [(1, "video", bytearray(blob),
          {"width": 3, "height": 3, "sample_rate": None, "n_frames": 4})],
        "media_id long, kind string, content binary, "
        "meta struct<width:int,height:int,sample_rate:int,n_frames:int>",
    )
    (row,) = frame_sample(df, every_n=2).collect()
    assert avi_fps(bytes(row["content"])) == 15


def test_avi_fps_rounds_to_nearest():
    """ADVICE r5: NTSC-style rational rates must round to nearest, not
    floor — 30000/1001 is 29.97fps and must read 30, not 29 (the value
    is stamped back into re-encoded containers by frame_sample)."""
    from ark_invest_api_rust_data_spark.operators.multimodal import (
        avi_fps,
        encode_avi,
    )

    blob = encode_avi(3, 3, [bytes(27)], fps=30)
    i = blob.find(b"strh")
    assert i > 0
    # strh payload starts at i+8; dwScale at +20, dwRate at +24
    patched = (
        blob[: i + 8 + 20]
        + (1001).to_bytes(4, "little")
        + (30000).to_bytes(4, "little")
        + blob[i + 8 + 28 :]
    )
    assert avi_fps(patched) == 30
    # 24000/1001 (23.976) → 24; floor would say 23
    patched2 = (
        blob[: i + 8 + 20]
        + (1001).to_bytes(4, "little")
        + (24000).to_bytes(4, "little")
        + blob[i + 8 + 28 :]
    )
    assert avi_fps(patched2) == 24

    from ark_invest_api_rust_data_spark.operators.jpeg import encode_jpeg
    from ark_invest_api_rust_data_spark.operators.mp4 import encode_mp4, mp4_fps

    # mp4_fps: timescale 30000 with per-sample delta 1001 → 30
    mp4 = encode_mp4(8, 8, [encode_jpeg(8, 8, bytes(192))], fps=30)
    j = mp4.find(b"mdhd")
    patched3 = (
        mp4[: j + 4 + 12]
        + (30000).to_bytes(4, "big")
        + mp4[j + 4 + 16 :]
    )
    k = patched3.find(b"stts")
    patched3 = (
        patched3[: k + 4 + 12]
        + (1001).to_bytes(4, "big")
        + patched3[k + 4 + 16 :]
    )
    assert mp4_fps(patched3) == 30


def test_extract_features_avi_real(spark):
    """kind='video' feature extraction decodes AVI via the gray
    dispatcher — REAL features, not the fake fallback."""
    from ark_invest_api_rust_data_spark.operators.multimodal import (
        extract_features,
        video_features,
    )
    from ark_invest_api_rust_data_spark.operators.multimodal import encode_avi

    rgb_frames = [bytes(((f * 64 + i) % 256) for i in range(12)) for f in range(3)]
    blob = encode_avi(2, 2, rgb_frames)
    df = spark.createDataFrame(
        [(7, "video", bytearray(blob))],
        "media_id long, kind string, content binary",
    )
    (row,) = extract_features(df, strict=True).collect()
    gray = [
        bytes((f[i] + f[i + 1] + f[i + 2]) // 3 for i in range(0, len(f), 3))
        for f in rgb_frames
    ]
    assert list(row["feature"]) == video_features(2, 2, gray)


def test_avi_rejects_pathological_list_nesting():
    """A crafted deeply-nested LIST chain must decode to None (the
    degenerate-payload contract), not blow the recursion limit."""
    from ark_invest_api_rust_data_spark.operators.multimodal import decode_avi

    depth = 50_000
    inner = b""
    # build innermost-out: LIST <size> 'rec ' <payload>
    for _ in range(depth):
        inner = b"LIST" + (len(inner) + 4).to_bytes(4, "little") + b"rec " + inner
    blob = b"RIFF" + (len(inner) + 4).to_bytes(4, "little") + b"AVI " + inner
    assert decode_avi(blob) is None
