"""Baseline JPEG codec (operators/jpeg.py, VERDICT r4 #5): closed-form
exactness on block-constant images, near-lossless round-trips on smooth
content, grayscale and restart-interval paths, junk/progressive
rejection, MJPEG-in-AVI through the real frame_sample operator."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from _oracles import (
    encode_jpeg_gray,
    jpeg_constant_roundtrip,
    rgb_to_ycbcr,
    ycbcr_to_rgb,
)

from ark_invest_api_rust_data_spark.operators.jpeg import (
    QUANT,
    _BitReader,
    _huff_decode,
    _huff_decode_lut,
    _huff_lut,
    decode_jpeg,
    encode_jpeg,
)
from ark_invest_api_rust_data_spark.operators.multimodal import (
    avi_fps,
    avi_is_mjpeg,
    decode_avi,
    decode_image,
    encode_mjpeg_avi,
    frame_sample,
)


def _block_constant_image(blocks: list[tuple[int, int, int]], bw: int):
    """bw×? blocks of 8×8 constant color → (w, h, rgb bytes)."""
    bh = len(blocks) // bw
    w, h = bw * 8, bh * 8
    rgb = bytearray(w * h * 3)
    for y in range(h):
        for x in range(w):
            r, g, b = blocks[(y // 8) * bw + (x // 8)]
            i = (y * w + x) * 3
            rgb[i], rgb[i + 1], rgb[i + 2] = r, g, b
    return w, h, bytes(rgb)


@settings(max_examples=25, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 255), st.integers(0, 255), st.integers(0, 255)
        ),
        min_size=4,
        max_size=4,
    )
)
def test_block_constant_roundtrip_is_closed_form(blocks):
    """The determinism contract the SQL oracle relies on: for
    block-constant images, encode→decode equals the per-channel DC
    roundtrip applied in YCbCr space — exactly."""
    w, h, rgb = _block_constant_image(blocks, 2)
    out = decode_jpeg(encode_jpeg(w, h, rgb))
    assert out is not None and out[:2] == (w, h)
    _, _, drgb = out
    for bi, (r, g, b) in enumerate(blocks):
        y, cb, cr = rgb_to_ycbcr(r, g, b)
        want = ycbcr_to_rgb(
            jpeg_constant_roundtrip(y),
            jpeg_constant_roundtrip(cb),
            jpeg_constant_roundtrip(cr),
        )
        gy, gx = (bi // 2) * 8, (bi % 2) * 8
        for yy in range(8):
            for xx in range(8):
                i = ((gy + yy) * w + gx + xx) * 3
                assert tuple(drgb[i : i + 3]) == want, f"block {bi} px {xx},{yy}"


def test_constant_roundtrip_is_idempotent():
    """Reconstructed values are fixed points of the DC roundtrip —
    what lets frame_sample's MJPEG re-encode stay hash-exact."""
    for v in range(256):
        v1 = jpeg_constant_roundtrip(v)
        assert jpeg_constant_roundtrip(v1) == v1


def test_smooth_image_roundtrips_close():
    w, h = 24, 17  # non-multiple-of-8 dims: edge padding in play
    src = bytes(((x * 3 + y * 2 + c * 5) % 256) for y in range(h) for x in range(w) for c in range(3))
    out = decode_jpeg(encode_jpeg(w, h, src))
    assert out is not None and out[:2] == (w, h)
    assert max(abs(a - b) for a, b in zip(src, out[2])) <= 8


def test_gray_and_restart_intervals():
    w, h = 24, 17
    gray = bytes(((x * 7 + y * 3) % 256) for y in range(h) for x in range(w))
    for ri in (0, 1, 3):
        out = decode_jpeg(encode_jpeg_gray(w, h, gray, restart_interval=ri))
        assert out is not None and out[:2] == (w, h)
        _, _, rgb = out
        # 1-component decode replicates Y into RGB
        assert all(rgb[i * 3] == rgb[i * 3 + 1] == rgb[i * 3 + 2] for i in range(w * h))
        assert max(abs(rgb[i * 3] - gray[i]) for i in range(w * h)) <= 8


def test_rejects_junk_truncation_progressive():
    blob = encode_jpeg(8, 8, bytes(192))
    assert decode_jpeg(b"") is None
    assert decode_jpeg(b"notajpeg") is None
    assert decode_jpeg(b"\xff\xd8\xff\xd9") is None
    assert decode_jpeg(blob[:40]) is None
    # flip SOF0 (C0) to SOF2 (C2, progressive) → strict None
    i = blob.index(b"\xff\xc0")
    assert decode_jpeg(blob[:i] + b"\xff\xc2" + blob[i + 2 :]) is None
    # 16-bit quant table precision → strict None
    j = blob.index(b"\xff\xdb") + 4
    assert decode_jpeg(blob[:j] + bytes([0x10]) + blob[j + 1 :]) is None
    # DHT declaring three 1-bit codes (only two exist): malformed table
    dht = bytes.fromhex("FFD8" "FFC4" "0016" "00" "03" + "00" * 15 + "010203")
    assert decode_jpeg(dht) is None
    assert decode_jpeg(dht) is None  # cached verdict, same answer


@pytest.mark.parametrize("reverse", [False, True])
def test_huff_lut_matches_walk_on_colliding_table(reverse):
    """On a table that is not prefix-free ("0" and "00" both codes) the
    walk takes the shortest match; the LUT must consume the same bits
    and return the same symbols, whatever the table's insertion order
    (DHT parsing inserts by increasing length)."""
    items = [((1, 0b0), 5), ((2, 0b00), 7), ((2, 0b10), 9), ((3, 0b110), 11)]
    table = dict(reversed(items) if reverse else items)
    bits = "0010110010" * 4
    data = int(bits, 2).to_bytes(len(bits) // 8, "big")
    lut, maxlen = _huff_lut(table)

    def decode_all(step):
        r, out = _BitReader(data, 0), []
        while (sym := step(r)) is not None:
            out.append(sym)
        return out

    walk = decode_all(lambda r: _huff_decode(r, table))
    assert walk == [5, 5, 9, 11, 5, 9] * 4
    assert decode_all(lambda r: _huff_decode_lut(r, lut, maxlen, table)) == walk


def _fresh_dht_cache(monkeypatch, budget=None):
    from ark_invest_api_rust_data_spark.operators import jpeg as J

    monkeypatch.setattr(J, "_DHT_CACHE", {})
    monkeypatch.setattr(J, "_dht_cache_bytes", 0)
    if budget is not None:
        monkeypatch.setattr(J, "_DHT_CACHE_BUDGET", budget)
    return J


def _dht_blob(seg: bytes) -> bytes:
    return b"\xff\xd8\xff\xc4" + (len(seg) + 2).to_bytes(2, "big") + seg


def test_huff_lut_caps_slots_and_long_codes_take_the_walk(monkeypatch):
    """An 18-byte DHT declaring one 16-bit code built a 65536-slot LUT;
    the LUT index is capped at 10 bits (1024 slots), and codes longer
    than that decode through the walk, consuming the same bits."""
    J = _fresh_dht_cache(monkeypatch)
    seg = bytes([0x00]) + bytes(15) + bytes([1]) + bytes([0x2A])
    assert len(seg) == 18
    assert decode_jpeg(_dht_blob(seg)) is None  # no frame; the table is parsed
    ((table, lut, bits),) = J._DHT_CACHE[seg].values()
    assert table == {(16, 0): 0x2A} and len(lut) <= 1024 and bits <= 10

    def decode_all(data, step):
        r, out = _BitReader(data, 0), []
        while (sym := step(r)) is not None:
            out.append(sym)
        return out, r.pos, r.n

    for data in (bytes(5), b"\x00\x00\x80\x00", b"\x00\x01\x00\x00"):
        walk = decode_all(data, lambda r: _huff_decode(r, table))
        assert decode_all(data, lambda r: _huff_decode_lut(r, lut, bits, table)) == walk
    assert decode_all(bytes(5), lambda r: _huff_decode(r, table))[0] == [0x2A, 0x2A]


def test_dht_cache_is_bounded_by_retained_bytes(monkeypatch):
    """Distinct DHT segments stop being cached once their estimated
    bytes reach the budget, whatever their count."""
    J = _fresh_dht_cache(monkeypatch, budget=50_000)
    for sym in range(200):
        seg = bytes([0x00]) + bytes(15) + bytes([1]) + bytes([sym])
        decode_jpeg(_dht_blob(seg))
    assert 0 < len(J._DHT_CACHE) < 200
    assert J._dht_cache_bytes <= 50_000


def test_rejects_implausible_declared_dims():
    """ADVICE r5: a crafted tiny JPEG declaring 65535x65535 must be
    rejected BEFORE the per-component plane allocation (~4 GB per
    component otherwise) — each 8x8 block needs >= 2 entropy bits, so
    dims implying more blocks than the scan bytes could encode are a
    lying header."""
    blob = encode_jpeg(8, 8, bytes(192))
    i = blob.index(b"\xff\xc0")
    # SOF0 payload: len(2) precision(1) height(2) width(2) ...
    lying = (
        blob[: i + 5]
        + (65535).to_bytes(2, "big")
        + (65535).to_bytes(2, "big")
        + blob[i + 9 :]
    )
    import time

    t0 = time.monotonic()
    assert decode_jpeg(lying) is None
    assert time.monotonic() - t0 < 2.0  # rejected up-front, not decoded
    # a legitimate image well above the old implicit cap still decodes
    big = encode_jpeg_gray(640, 480, bytes(640 * 480))
    out = decode_jpeg(big)
    assert out is not None and out[0] == 640 and out[1] == 480


def test_encoder_validates():
    with pytest.raises(ValueError):
        encode_jpeg(0, 8, b"")
    with pytest.raises(ValueError):
        encode_jpeg(8, 8, b"\x00" * 10)
    with pytest.raises(ValueError):
        encode_jpeg_gray(8, 8, b"\x00" * 10)
    with pytest.raises(ValueError):
        encode_mjpeg_avi(8, 8, [])
    with pytest.raises(ValueError):
        encode_mjpeg_avi(8, 8, [b"x"], fps=0)


def test_decode_image_dispatches_jpeg_natively():
    w, h, rgb = _block_constant_image([(10, 200, 30)] * 4, 2)
    blob = encode_jpeg(w, h, rgb)
    assert decode_image(blob) == decode_jpeg(blob)
    assert QUANT[0] == 16  # the oracle's q0 — pinned


def test_mjpeg_avi_roundtrip_and_detection():
    frames = [bytes([(40 * f + 15) % 256] * 192) for f in range(3)]
    jpegs = [encode_jpeg(8, 8, f) for f in frames]
    avi = encode_mjpeg_avi(8, 8, jpegs, fps=30)
    assert avi_is_mjpeg(avi) and avi_fps(avi) == 30
    out = decode_avi(avi)
    assert out is not None and out[:2] == (8, 8) and len(out[2]) == 3
    for j, f in zip(jpegs, out[2]):
        assert decode_jpeg(j)[2] == f
    assert not avi_is_mjpeg(b"junk")


def test_frame_sample_mjpeg_end_to_end(spark):
    """frame_sample on an MJPEG AVI: decode → every 2nd frame →
    re-encode as MJPEG at the sampling-adjusted source rate; the
    re-decoded frames equal the idempotent DC roundtrip of the
    originals."""
    vals = [30, 90, 150, 210]
    jpegs = [encode_jpeg(8, 8, bytes([v] * 192)) for v in vals]
    avi = encode_mjpeg_avi(8, 8, jpegs, fps=30)
    df = spark.createDataFrame(
        [(1, "video", bytearray(avi),
          {"width": 8, "height": 8, "sample_rate": None, "n_frames": 4})],
        "media_id long, kind string, content binary, "
        "meta struct<width:int,height:int,sample_rate:int,n_frames:int>",
    )
    (row,) = frame_sample(df, every_n=2).collect()
    assert row["meta"]["n_frames"] == 2
    out_blob = bytes(row["content"])
    assert avi_is_mjpeg(out_blob)  # source codec preserved
    assert avi_fps(out_blob) == 15
    w, h, frames = decode_avi(out_blob)
    assert (w, h, len(frames)) == (8, 8, 2)
    for v, f in zip([vals[0], vals[2]], frames):
        y, cb, cr = rgb_to_ycbcr(v, v, v)
        assert (y, cb, cr) == (v, 128, 128)  # gray fixed point
        want = ycbcr_to_rgb(jpeg_constant_roundtrip(v), 128, 128)
        assert f == bytes(want * 64)
