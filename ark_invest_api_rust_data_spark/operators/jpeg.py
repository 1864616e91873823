"""Baseline JPEG (ITU-T T.81) in pure Python — the last from-spec
codec the container allows without media libs: sequential DCT, Huffman
entropy coding, no progressive/arithmetic modes.

Like the other real codecs here (BMP/PPM/WAV/GIF-LZW/AVI-DIB,
multimodal.py), everything is derived from the public spec: marker
segments (SOI/DQT/SOF0/DHT/DRI/SOS/RSTn/EOI), Annex-F entropy coding
(DC difference categories, AC run/size symbols, byte stuffing), Annex-K
luminance quantization table, zig-zag ordering. The reference repo has
no media pipeline at all (SURVEY.md §2 B32 evidence-of-absence); this
extends the multimodal tier to compressed images and — through the
existing RIFF walker — MJPEG-in-AVI video.

Determinism contract (what makes a LOSSY codec oracle-checkable):

* the encoder quantizes with ``floor(coef / q + 0.5)`` and the decoder
  reconstructs with ``floor(x + 0.5)`` — both exactly reproducible in
  any IEEE-754 engine;
* constant 8×8 blocks take an EXACT fast path on both sides (encoder:
  DC = 8·(v−128), AC = 0; decoder: a DC-only block is a constant plane
  — the same shortcut production decoders use), so for block-constant
  images the whole encode→decode pipeline collapses to the closed form
      v' = clamp(floor(q0·floor(8·(v−128)/q0 + 0.5)/8 + 128.5))
  per channel, with q0 = quant_table[0] = 16;
* the RGB↔YCbCr transforms are pure integer floor-division formulas
  (scaled BT.601 coefficients), identical in SQL.

The DuckDB oracle for plans/corpus.llm_multimodal_jpeg replays exactly
that closed form from the source characters.
"""

from __future__ import annotations

import math
import threading

# Annex K Table K.1 — luminance quantization, used for ALL components
# (legal: SOF just points every component at table 0). q0 = 16.
QUANT = [
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
]

# Figure A.6 zig-zag: ZIGZAG[i] = raster index of the i-th coefficient
# in transmission order.
ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
]

# Our encoder's Huffman tables are CANONICAL fixed-length tables (all
# 12 DC category symbols at 4 bits, all 162 AC run/size symbols at 8
# bits) — trivially valid (Kraft 12/16 and 162/256, no all-ones code),
# a few percent bigger than Annex K's but far simpler, and the decoder
# reads whatever DHT declares anyway.
_DC_SYMS = list(range(12))
_AC_SYMS = [0x00, 0xF0] + [
    (run << 4) | size for run in range(16) for size in range(1, 11)
]


def _canonical_codes(bits_len: int, symbols: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) with every symbol at ``bits_len`` bits,
    codes assigned in symbol order (canonical)."""
    return {sym: (i, bits_len) for i, sym in enumerate(symbols)}


_DC_ENC = _canonical_codes(4, _DC_SYMS)
_AC_ENC = _canonical_codes(8, _AC_SYMS)

_COS = [
    [math.cos((2 * x + 1) * u * math.pi / 16) for x in range(8)] for u in range(8)
]
_C = [1 / math.sqrt(2)] + [1.0] * 7


# ------------------------------------------------------------- color
# --------------------------------------------------------------- DCT
def _fdct_quant(block: list[int]) -> list[int]:
    """Level-shifted forward DCT + quantization, zig-zag order.
    Constant blocks take the exact fast path (DC = 8·(v−128), AC = 0)
    — see the module determinism contract."""
    v0 = block[0]
    if all(v == v0 for v in block):
        out = [0] * 64
        out[0] = math.floor(8.0 * (v0 - 128) / QUANT[0] + 0.5)
        return out
    shifted = [v - 128 for v in block]
    # separable: rows then columns
    tmp = [0.0] * 64
    for y in range(8):
        row = shifted[y * 8 : y * 8 + 8]
        for u in range(8):
            tmp[y * 8 + u] = sum(row[x] * _COS[u][x] for x in range(8))
    out = [0] * 64
    for i in range(64):
        r = ZIGZAG[i]
        u, v = r % 8, r // 8
        coef = 0.25 * _C[u] * _C[v] * sum(
            tmp[y * 8 + u] * _COS[v][y] for y in range(8)
        )
        out[i] = math.floor(coef / QUANT[i] + 0.5)
    return out


def _dequant_idct(zz: list[int], quant: list[int]) -> list[int]:
    """Dequantize (zig-zag order in, raster out) + inverse DCT + level
    shift + clamp. DC-only blocks take the exact constant fast path."""
    if not any(zz[1:]):
        d = zz[0] * quant[0]
        v = math.floor(d / 8 + 128.5)
        v = 0 if v < 0 else (255 if v > 255 else v)
        return [v] * 64
    coefs = [0.0] * 64
    for i in range(64):
        coefs[ZIGZAG[i]] = zz[i] * quant[i]
    # direct O(64·64) basis sum — the general path only runs in tests
    # and on foreign JPEGs; block-constant probe payloads never reach
    # it (DC-only fast path above)
    out = [0] * 64
    for y in range(8):
        for x in range(8):
            s = 0.0
            for v in range(8):
                for u in range(8):
                    s += _C[u] * _C[v] * coefs[v * 8 + u] * _COS[u][x] * _COS[v][y]
            val = math.floor(0.25 * s + 128.5)
            out[y * 8 + x] = 0 if val < 0 else (255 if val > 255 else val)
    return out


# ------------------------------------------------------------ encoder
class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            byte = (self.acc >> (self.n - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)  # byte stuffing
            self.n -= 8
        self.acc &= (1 << self.n) - 1

    def flush(self) -> None:
        if self.n:
            pad = 8 - self.n
            self.put((1 << pad) - 1, pad)  # pad with 1-bits (F.1.2.3)


def _category(v: int) -> int:
    return abs(v).bit_length()


def _encode_block(w: _BitWriter, zz: list[int], pred: int) -> int:
    diff = zz[0] - pred
    size = _category(diff)
    code, length = _DC_ENC[size]
    w.put(code, length)
    if size:
        w.put(diff if diff >= 0 else diff + (1 << size) - 1, size)
    run = 0
    last = 63
    while last and zz[last] == 0:
        last -= 1
    for i in range(1, last + 1):
        v = zz[i]
        if v == 0:
            run += 1
            continue
        while run > 15:
            c, ln = _AC_ENC[0xF0]  # ZRL
            w.put(c, ln)
            run -= 16
        size = _category(v)
        c, ln = _AC_ENC[(run << 4) | size]
        w.put(c, ln)
        w.put(v if v >= 0 else v + (1 << size) - 1, size)
        run = 0
    if last < 63:
        c, ln = _AC_ENC[0x00]  # EOB
        w.put(c, ln)
    return zz[0]


def _dht_payload(tc_th: int, bits_len: int, symbols: list[int]) -> bytes:
    counts = [0] * 16
    counts[bits_len - 1] = len(symbols)
    return bytes([tc_th] + counts + symbols)


def _seg(marker: int, payload: bytes) -> bytes:
    return bytes([0xFF, marker]) + (len(payload) + 2).to_bytes(2, "big") + payload


# The marker segments our encoder emits that do not depend on the
# image are constant BYTES — build them once instead of re-serializing
# the 162-symbol AC table per encode call (r12, guide §4.2 "heavyweight
# init once"). Emission ORDER in _encode_baseline is unchanged.
_SOI_DQT = b"\xff\xd8" + _seg(0xDB, bytes([0]) + bytes(QUANT))
_DHT_SEGS = _seg(0xC4, _dht_payload(0x00, 4, _DC_SYMS)) + _seg(
    0xC4, _dht_payload(0x10, 8, _AC_SYMS)
)


def _encode_baseline(
    width: int, height: int, planes: list[list[int]], restart_interval: int
) -> bytes:
    """Shared baseline writer: 8-bit, 1×1 sampling for every component
    (4:4:4 for color), one quant table (Annex K luminance) and one DC +
    one AC Huffman table shared by all components; optional restart
    intervals (DRI + byte-aligned RSTn every N MCUs, DC predictors
    reset)."""
    n_comp = len(planes)
    bw, bh = (width + 7) // 8 * 8, (height + 7) // 8 * 8
    w = _BitWriter()
    preds = [0] * n_comp
    n_mcu = 0
    rst = 0
    for by in range(0, bh, 8):
        for bx in range(0, bw, 8):
            if restart_interval and n_mcu and n_mcu % restart_interval == 0:
                w.flush()
                w.out += bytes([0xFF, 0xD0 + rst])
                rst = (rst + 1) % 8
                preds = [0] * n_comp
            for c in range(n_comp):  # 1×1 sampling: one block each
                if bw == 8 and bh == 8:  # single-block image: no copy
                    block = planes[c]
                else:
                    block = [
                        planes[c][(by + yy) * bw + bx + xx]
                        for yy in range(8)
                        for xx in range(8)
                    ]
                preds[c] = _encode_block(w, _fdct_quant(block), preds[c])
            n_mcu += 1
    w.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return bytes([0xFF, marker]) + (len(payload) + 2).to_bytes(2, "big") + payload

    sof = (
        bytes([8])
        + height.to_bytes(2, "big")
        + width.to_bytes(2, "big")
        + bytes([n_comp])
        + b"".join(bytes([i + 1, 0x11, 0]) for i in range(n_comp))
    )
    sos = (
        bytes([n_comp])
        + b"".join(bytes([i + 1, 0x00]) for i in range(n_comp))
        + bytes([0, 63, 0])
    )
    dri = (
        seg(0xDD, restart_interval.to_bytes(2, "big")) if restart_interval else b""
    )
    return (
        _SOI_DQT  # SOI + DQT table 0 (constant bytes, built once)
        + seg(0xC0, sof)  # SOF0 baseline
        + _DHT_SEGS  # DC table 0 + AC table 0 (constant bytes)
        + dri
        + seg(0xDA, sos)  # SOS
        + bytes(w.out)
        + b"\xff\xd9"  # EOI
    )


def _pad_edge_np(plane, width: int, height: int):
    """Edge-replication padding to the 8×8 block grid, vectorized —
    each out-of-range index clamps to the last row/column."""
    import numpy as np

    bw, bh = (width + 7) // 8 * 8, (height + 7) // 8 * 8
    xs = np.minimum(np.arange(bw), width - 1)
    ys = np.minimum(np.arange(bh), height - 1)
    return plane[np.ix_(ys, xs)]


def encode_jpeg(
    width: int, height: int, rgb: bytes, restart_interval: int = 0
) -> bytes:
    """Baseline JPEG from a row-major top-down RGB stream (w·h·3
    bytes): YCbCr 4:4:4, edges padded by replication to the block
    grid. See ``_encode_baseline`` for the table layout.

    r12 (guide §4.2): the color transform + padding run vectorized
    over the whole image — BT.601 full-range with exact integer
    floor division (NumPy int64 ``//`` floors exactly like Python's;
    the SQL-replayable transform the oracle uses), so the planes are
    value-identical to a per-pixel loop (pinned by the codec
    roundtrip/fuzz tests)."""
    if width < 1 or height < 1:
        raise ValueError(f"bad dims {width}x{height}")
    if len(rgb) != width * height * 3:
        raise ValueError(f"need {width * height * 3} rgb bytes, got {len(rgb)}")
    import numpy as np

    px = np.frombuffer(rgb, dtype=np.uint8).astype(np.int64)
    r, g, b = px[0::3], px[1::3], px[2::3]
    y = (299 * r + 587 * g + 114 * b + 500) // 1000
    cb = 128 + (-168736 * r - 331264 * g + 500000 * b + 500000) // 1000000
    cr = 128 + (500000 * r - 418688 * g - 81312 * b + 500000) // 1000000
    aligned = width % 8 == 0 and height % 8 == 0
    planes = []
    for p in (y, cb, cr):
        p = np.clip(p, 0, 255)
        if not aligned:  # padding is the identity on the block grid
            p = _pad_edge_np(p.reshape(height, width), width, height).ravel()
        planes.append(p.tolist())
    return _encode_baseline(width, height, planes, restart_interval)


# ------------------------------------------------------------ decoder
class _BitReader:
    """MSB-first reader over entropy-coded data with 0xFF00 unstuffing;
    stops at any real marker (returns it via .marker)."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.n = 0
        self.marker: int | None = None

    def _fill(self) -> bool:
        d = self.data
        while self.n < 25:
            if self.pos >= len(d):
                return self.n > 0
            byte = d[self.pos]
            if byte == 0xFF:
                if self.pos + 1 >= len(d):
                    return self.n > 0
                nxt = d[self.pos + 1]
                if nxt == 0x00:
                    self.pos += 2
                elif 0xD0 <= nxt <= 0xD7:  # RSTn consumed by caller
                    return self.n > 0
                else:
                    self.marker = nxt
                    return self.n > 0
            else:
                self.pos += 1
            if byte != 0xFF:
                self.acc = (self.acc << 8) | byte
                self.n += 8
            else:
                self.acc = (self.acc << 8) | 0xFF
                self.n += 8
        return True

    def bits(self, k: int) -> int | None:
        if k == 0:
            return 0
        if self.n < k and not self._fill():
            return None
        if self.n < k:
            return None
        v = (self.acc >> (self.n - k)) & ((1 << k) - 1)
        self.n -= k
        self.acc &= (1 << self.n) - 1
        return v

    def align_and_eat_rst(self) -> bool:
        """Byte-align and consume an RSTn marker (restart interval)."""
        self.acc, self.n = 0, 0
        d = self.data
        if (
            self.pos + 1 < len(d)
            and d[self.pos] == 0xFF
            and 0xD0 <= d[self.pos + 1] <= 0xD7
        ):
            self.pos += 2
            return True
        return False


def _huff_decode(r: _BitReader, table: dict[tuple[int, int], int]) -> int | None:
    code = 0
    for length in range(1, 17):
        bit = r.bits(1)
        if bit is None:
            return None
        code = (code << 1) | bit
        sym = table.get((length, code))
        if sym is not None:
            return sym
    return None


# LUT index width: codes up to this many bits decode with one peek;
# longer ones (rare in practice) take the bitwise walk, so a table's LUT
# holds at most 1024 slots whatever its DHT segment declares
_LUT_BITS = 10


def _huff_lut(table: dict[tuple[int, int], int]) -> tuple[list, int]:
    """(lut, bits) for one Huffman table: lut[prefix] = (sym, length)
    for every ``bits``-bit prefix that starts a code of at most ``bits``
    bits, None otherwise (a longer code or an invalid prefix). One peek
    + one consume replaces up to ``bits`` single-bit reads per symbol —
    the consumed bits are identical to ``_huff_decode``'s walk. Codes
    fill shortest first and never overwrite a slot, so on a table that
    is not prefix-free the shortest matching code wins, as in the walk."""
    bits = min(_LUT_BITS, max(length for length, _ in table))
    lut: list = [None] * (1 << bits)
    for (length, code), sym in sorted(table.items()):
        if length > bits:
            break
        hit, base = (sym, length), code << (bits - length)
        for i in range(base, base + (1 << (bits - length))):
            if lut[i] is None:
                lut[i] = hit
    return lut, bits


def _huff_decode_lut(r: _BitReader, lut: list, bits: int, table) -> int | None:
    """LUT-accelerated Huffman decode; falls back to the bitwise walk
    when fewer than ``bits`` bits remain in the stream (codes shorter
    than that can still complete there) or when the prefix starts no
    code of at most ``bits`` bits (a longer code, or None from the walk
    for an invalid prefix)."""
    if r.n < bits and not r._fill():
        return _huff_decode(r, table)
    if r.n < bits:
        return _huff_decode(r, table)
    hit = lut[(r.acc >> (r.n - bits)) & ((1 << bits) - 1)]
    if hit is None:
        return _huff_decode(r, table)
    sym, length = hit
    r.n -= length
    r.acc &= (1 << r.n) - 1
    return sym


def _extend(v: int, size: int) -> int:
    if size and v < (1 << (size - 1)):
        v -= (1 << size) - 1
    return v


# raw DHT segment bytes -> parsed {(tc,th): (tbl, lut, bits)}, or
# _DHT_BAD for malformed segments; bounded by the bytes its entries keep
# alive (foreign / fuzzed tables just stop being cached)
_DHT_CACHE: dict[bytes, object] = {}
_DHT_CACHE_BUDGET = 4 << 20
_dht_cache_bytes = 0
_dht_cache_lock = threading.Lock()
_DHT_BAD = object()


def _dht_cache_put(seg: bytes, entry) -> None:
    """Cache ``entry`` unless it would take the cache past its budget.
    An entry's size is estimated as its key, one pointer per LUT slot,
    and ~100 B per table code (dict entry, key and hit tuples)."""
    global _dht_cache_bytes
    size = len(seg)
    if entry is not _DHT_BAD:
        size += sum(8 * len(lut or ()) + 100 * len(tbl) for tbl, lut, _ in entry.values())
    with _dht_cache_lock:
        if seg not in _DHT_CACHE and _dht_cache_bytes + size <= _DHT_CACHE_BUDGET:
            _DHT_CACHE[seg] = entry
            _dht_cache_bytes += size


def decode_jpeg(b: bytes) -> tuple[int, int, bytes] | None:
    """Baseline sequential JPEG → (w, h, top-down RGB stream). Handles
    1- or 3-component images, arbitrary h/v sampling factors (4:4:4 /
    4:2:2 / 4:2:0 — chroma upsampled by replication), restart
    intervals, 8-bit quant tables. None for anything else (progressive
    SOF2, arithmetic coding, 12-bit, truncation) — the same strict
    contract as the other codecs."""
    if b is None or len(b) < 4 or b[0:2] != b"\xff\xd8":
        return None
    quant: dict[int, list[int]] = {}
    huff: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    comps: list[dict] = []
    w = h = 0
    dri = 0
    pos = 2
    data = bytes(b)
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            return None
        marker = data[pos + 1]
        if marker == 0xD9:  # EOI before SOS
            return None
        seg_len = int.from_bytes(data[pos + 2 : pos + 4], "big")
        seg = data[pos + 4 : pos + 2 + seg_len]
        if len(seg) != seg_len - 2:
            return None
        pos += 2 + seg_len
        if marker == 0xDB:  # DQT (possibly several tables per segment)
            i = 0
            while i < len(seg):
                pq, tq = seg[i] >> 4, seg[i] & 0xF
                if pq != 0 or i + 65 > len(seg):
                    return None  # 16-bit tables: out of baseline scope
                quant[tq] = list(seg[i + 1 : i + 65])
                i += 65
        elif marker in (0xC0, 0xC1):  # baseline / extended sequential
            if seg[0] != 8:
                return None
            h = int.from_bytes(seg[1:3], "big")
            w = int.from_bytes(seg[3:5], "big")
            n = seg[5]
            if n not in (1, 3) or len(seg) < 6 + 3 * n or w < 1 or h < 1:
                return None
            comps = [
                {
                    "id": seg[6 + 3 * i],
                    "hs": seg[7 + 3 * i] >> 4,
                    "vs": seg[7 + 3 * i] & 0xF,
                    "tq": seg[8 + 3 * i],
                }
                for i in range(n)
            ]
            if any(c["hs"] < 1 or c["vs"] < 1 for c in comps):
                return None
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            return None  # progressive / arithmetic / lossless
        elif marker == 0xC4:  # DHT
            # parsed-table cache keyed by the raw segment bytes: our
            # own encoder emits the same two fixed tables on every
            # frame, so a video decode re-parsed (and re-LUT'd) them
            # per frame (r12, guide §4.5). Bounded by retained bytes;
            # foreign tables past the budget just miss.
            cached = _DHT_CACHE.get(seg)
            if cached is not None:
                if cached is _DHT_BAD:
                    return None
                huff.update(cached)
                continue
            parsed: dict[tuple[int, int], tuple] = {}
            i = 0
            while i + 17 <= len(seg):
                tc, th = seg[i] >> 4, seg[i] & 0xF
                counts = list(seg[i + 1 : i + 17])
                i += 17
                tbl: dict[tuple[int, int], int] = {}
                code = 0
                for length in range(1, 17):
                    for _ in range(counts[length - 1]):
                        # truncated table, or more codes than fit
                        # ``length`` bits: a canonical code that fits
                        # its length is prefix-free, so the LUT and the
                        # bitwise walk consume the same bits
                        if i >= len(seg) or code >= 1 << length:
                            _dht_cache_put(seg, _DHT_BAD)
                            return None
                        tbl[(length, code)] = seg[i]
                        code += 1
                        i += 1
                    code <<= 1
                parsed[(tc, th)] = (tbl, *(_huff_lut(tbl) if tbl else (None, 0)))
            _dht_cache_put(seg, parsed)
            huff.update(parsed)
        elif marker == 0xDD:  # DRI
            dri = int.from_bytes(seg[0:2], "big")
        elif marker == 0xDA:  # SOS — entropy data follows
            if not comps:
                return None
            ns = seg[0]
            if ns != len(comps):
                return None
            for i in range(ns):
                cid, tt = seg[1 + 2 * i], seg[2 + 2 * i]
                for c in comps:
                    if c["id"] == cid:
                        c["td"], c["ta"] = tt >> 4, tt & 0xF
            return _decode_scan(data, pos, w, h, comps, quant, huff, dri)
        # else: APPn/COM — skipped
    return None


def _decode_scan(data, pos, w, h, comps, quant, huff, dri):
    max_h = max(c["hs"] for c in comps)
    max_v = max(c["vs"] for c in comps)
    mcux = (w + 8 * max_h - 1) // (8 * max_h)
    mcuy = (h + 8 * max_v - 1) // (8 * max_v)
    # Plausibility gate before any plane allocation: every 8x8 block costs
    # at least 2 entropy bits (a DC Huffman code + EOB), so a header whose
    # declared dims imply more blocks than the remaining scan bytes could
    # encode is a lying/adversarial payload — reject instead of allocating
    # w*h-sized planes (a ~100-byte file claiming 65535x65535 would
    # otherwise allocate ~4 GB per component).
    total_blocks = mcux * mcuy * sum(c["hs"] * c["vs"] for c in comps)
    if total_blocks > max(0, len(data) - pos) * 4:
        return None
    for c in comps:
        c["pw"] = mcux * c["hs"] * 8
        c["ph"] = mcuy * c["vs"] * 8
        c["plane"] = bytearray(c["pw"] * c["ph"])
        c["pred"] = 0
        if c["tq"] not in quant or ("td" not in c) or \
           (0, c["td"]) not in huff or (1, c["ta"]) not in huff:
            return None
    r = _BitReader(data, pos)
    n_mcu = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if dri and n_mcu and n_mcu % dri == 0:
                if not r.align_and_eat_rst():
                    return None
                for c in comps:
                    c["pred"] = 0
            for c in comps:
                dc_tbl, dc_lut, dc_len = huff[(0, c["td"])]
                ac_tbl, ac_lut, ac_len = huff[(1, c["ta"])]
                for vy in range(c["vs"]):
                    for vx in range(c["hs"]):
                        zz = [0] * 64
                        sym = (
                            _huff_decode_lut(r, dc_lut, dc_len, dc_tbl)
                            if dc_lut is not None
                            else _huff_decode(r, dc_tbl)
                        )
                        if sym is None or sym > 11:
                            return None
                        bits = r.bits(sym)
                        if bits is None:
                            return None
                        c["pred"] += _extend(bits, sym)
                        zz[0] = c["pred"]
                        i = 1
                        while i < 64:
                            sym = (
                                _huff_decode_lut(r, ac_lut, ac_len, ac_tbl)
                                if ac_lut is not None
                                else _huff_decode(r, ac_tbl)
                            )
                            if sym is None:
                                return None
                            if sym == 0x00:  # EOB
                                break
                            run, size = sym >> 4, sym & 0xF
                            if size == 0:
                                if run != 15:
                                    return None
                                i += 16  # ZRL
                                continue
                            i += run
                            if i > 63:
                                return None
                            bits = r.bits(size)
                            if bits is None:
                                return None
                            zz[i] = _extend(bits, size)
                            i += 1
                        px = _dequant_idct(zz, quant[c["tq"]])
                        ox = (mx * c["hs"] + vx) * 8
                        oy = (my * c["vs"] + vy) * 8
                        pw = c["pw"]
                        plane = c["plane"]
                        for yy in range(8):
                            row = (oy + yy) * pw + ox
                            plane[row : row + 8] = bytes(
                                px[yy * 8 : yy * 8 + 8]
                            )
            n_mcu += 1
    # Final pixel assembly, vectorized (r12, guide §4.2): same integer
    # floor-division formulas as ycbcr_to_rgb applied per-array (NumPy
    # int64 // floors exactly like Python //, including negatives), so
    # the RGB stream is byte-identical to the former per-pixel loop
    # (pinned by the codec roundtrip/fuzz tests).
    import numpy as np

    if len(comps) == 1:
        c = comps[0]
        plane = np.frombuffer(bytes(c["plane"]), dtype=np.uint8).reshape(
            c["ph"], c["pw"]
        )[:h, :w]
        return (w, h, np.repeat(plane.ravel(), 3).tobytes())
    vals = []
    for c in comps:
        plane = np.frombuffer(bytes(c["plane"]), dtype=np.uint8).reshape(
            c["ph"], c["pw"]
        )
        if c["hs"] == max_h and c["vs"] == max_v:  # full-res component
            vals.append(plane[:h, :w].astype(np.int64))
        else:  # chroma upsample by replication
            sx = np.arange(w) * c["hs"] // max_h
            sy = np.arange(h) * c["vs"] // max_v
            vals.append(plane[np.ix_(sy, sx)].astype(np.int64))
    y_, cb_, cr_ = vals
    rr = (1000 * y_ + 1402 * (cr_ - 128) + 500) // 1000
    gg = (100000 * y_ - 34414 * (cb_ - 128) - 71414 * (cr_ - 128) + 50000) // 100000
    bb = (1000 * y_ + 1772 * (cb_ - 128) + 500) // 1000
    rgb = np.stack(
        [np.clip(p, 0, 255) for p in (rr, gg, bb)], axis=-1
    ).astype(np.uint8)
    return (w, h, rgb.tobytes())


