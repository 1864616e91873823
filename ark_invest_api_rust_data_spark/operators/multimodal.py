"""Multimodal column plumbing (SURVEY.md §2 B32 + driver north star).

Media (image/audio/video) travels as opaque ``binary`` columns with a
typed metadata struct. All the Spark-side machinery — schema, batch
iteration, Arrow transfer shape, partition sizing — is real and tested.
Image METADATA decode is real: ``parse_image_dims`` reads width/height
straight from PNG IHDR / JPEG SOFn / GIF / BMP / PPM headers in pure
Python (no media libs needed). PIXEL decode is real for BMP (24-bit
uncompressed, bottom-up or top-down) and PPM (P6 binary / P3 ascii) —
``decode_image`` returns the row-major top-down RGB byte stream, and
``pixel_features`` derives the feature vector from actual pixels. PIL
is used for any other format when importable (it is not in this
container). AUDIO decode is real for PCM16 WAV — ``decode_wav`` walks
the RIFF chunk list and recovers the interleaved int16 samples, and
``audio_features`` derives RMS/peak/zero-crossing-rate from actual
samples. Only payloads NO codec recognizes fall through: strict mode
(the default) raises NotImplementedError; non-strict substitutes a
clearly-labeled deterministic fake (for plumbing tests over non-media
payloads; video stays on this contract — no ffmpeg in container).

Pattern: ``mapInPandas`` over Arrow batches so each Python worker sees
a pandas iterator — the right shape for feeding a real decoder (PIL,
torchaudio, ffmpeg) batch-by-batch without materializing a partition.
At 100 TB: media rows are large, so partitions are kept small by bytes
(maxPartitionBytes), not rows, and the decode stage is a narrow map —
no shuffle at all.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),  # image | audio | video
        T.StructField("content", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("sample_rate", T.IntegerType()),
                    T.StructField("n_frames", T.IntegerType()),
                ]
            ),
        ),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("checksum", T.LongType()),
        T.StructField("width", T.IntegerType()),  # parsed from real headers
        T.StructField("height", T.IntegerType()),  # (null if not an image)
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)

FEATURE_DIM = 8
# Strict by default: a payload no codec recognizes is an ERROR, not a
# silently-faked feature vector. Plumbing tests over non-media payloads
# opt out explicitly with extract_features(..., strict=False).
STRICT_DECODE = True


def attach_media(
    df: DataFrame, payload_col: str, kind: str, id_col: str | None = None
) -> DataFrame:
    """Wrap an arbitrary string/binary column as a media column with
    typed metadata (ingest-side adapter: real pipelines read with
    spark.read.format('binaryFile')). Pass ``id_col`` for a stable,
    partitioning-independent media_id (monotonically_increasing_id is
    the fallback and is NOT reproducible across runs)."""
    content = F.col(payload_col).cast("binary")
    media_id = F.col(id_col) if id_col else F.monotonically_increasing_id()
    return df.select(
        media_id.cast("long").alias("media_id"),
        F.lit(kind).alias("kind"),
        content.alias("content"),
        F.struct(
            F.length(content).cast("int").alias("width"),
            F.lit(1).cast("int").alias("height"),
            F.lit(16000).cast("int").alias("sample_rate"),
            F.lit(1).cast("int").alias("n_frames"),
        ).alias("meta"),
    )


def parse_image_dims(b: bytes) -> tuple[int, int] | None:
    """REAL image metadata decode, pure Python over raw bytes — no
    media libs needed. Supports PNG (IHDR), JPEG (SOFn segment walk)
    and GIF (logical screen descriptor); returns (width, height) or
    None if the payload is not a recognized image."""
    if b is None or len(b) < 10:
        return None
    # PNG: 8-byte signature, IHDR is always the first chunk → width and
    # height are the two big-endian u32 at offsets 16 and 20
    if b[:8] == b"\x89PNG\r\n\x1a\n" and len(b) >= 24:
        return (
            int.from_bytes(b[16:20], "big"),
            int.from_bytes(b[20:24], "big"),
        )
    # JPEG: walk marker segments to the first SOFn (C0–CF minus the
    # non-frame markers C4/C8/CC); dims are big-endian u16 at +5/+7
    if b[:2] == b"\xff\xd8":
        i = 2
        while i + 9 <= len(b):
            if b[i] != 0xFF:
                return None
            marker = b[i + 1]
            if marker == 0xFF:  # fill byte
                i += 1
                continue
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                return (
                    int.from_bytes(b[i + 7 : i + 9], "big"),
                    int.from_bytes(b[i + 5 : i + 7], "big"),
                )
            if marker in (0xD8,) or 0xD0 <= marker <= 0xD7:  # no payload
                i += 2
                continue
            seg_len = int.from_bytes(b[i + 2 : i + 4], "big")
            if seg_len < 2:
                return None
            i += 2 + seg_len
        return None
    # GIF: little-endian u16 pair right after the 6-byte version tag
    if b[:6] in (b"GIF87a", b"GIF89a"):
        return (
            int.from_bytes(b[6:8], "little"),
            int.from_bytes(b[8:10], "little"),
        )
    # BMP: validate the DIB header shape, not just the 2-byte magic —
    # arbitrary text starting with "BM" must NOT sniff as an image
    # (the metadata probe's oracle pins NULL dims for text payloads).
    if b[:2] == b"BM":
        if len(b) >= 54:
            dib = int.from_bytes(b[14:18], "little")
            planes = int.from_bytes(b[26:28], "little")
            bpp = int.from_bytes(b[28:30], "little")
            comp = int.from_bytes(b[30:34], "little")
            w = int.from_bytes(b[18:22], "little", signed=True)
            h = int.from_bytes(b[22:26], "little", signed=True)
            if (
                dib in (40, 52, 56, 64, 108, 124)
                and planes == 1
                and bpp in (1, 2, 4, 8, 16, 24, 32)
                and comp <= 13
                and 0 < w < 1 << 24
                and h != 0
                and abs(h) < 1 << 24
            ):
                return (w, abs(h))  # negative height = top-down rows
        if len(b) >= 26 and int.from_bytes(b[14:18], "little") == 12:
            # BITMAPCOREHEADER: u16 dims at 18/20, planes/bpp at 22/24
            w = int.from_bytes(b[18:20], "little")
            h = int.from_bytes(b[20:22], "little")
            planes = int.from_bytes(b[22:24], "little")
            bpp = int.from_bytes(b[24:26], "little")
            if planes == 1 and bpp in (1, 4, 8, 24) and w > 0 and h > 0:
                return (w, h)
        return None
    # PPM (P6 binary / P3 ascii): header must parse AND the payload
    # must actually be pixel data of the declared size — "P3 12 9 255
    # some text" is text, not a 12×9 image
    if b[:2] in (b"P6", b"P3"):
        hdr = _ppm_header_tokens(b)
        if hdr is not None:
            w, h, maxval, off = hdr
            if w > 0 and h > 0 and 0 < maxval < 65536:
                if b[:2] == b"P6":
                    px = 3 * (2 if maxval > 255 else 1)
                    if len(b) >= off + w * h * px:
                        return (w, h)
                else:
                    vals = b[off - 1 :].split()
                    need = w * h * 3
                    if len(vals) >= need and all(v.isdigit() for v in vals[:need]):
                        return (w, h)
        return None
    return None


# ------------------------------------------------------ real pixel codecs
#
# BMP (24-bit uncompressed) and PPM (P6/P3) in pure Python — the two
# formats fully decodable with just `int.from_bytes` and the spec. The
# decode contract everywhere: row-major TOP-DOWN RGB byte stream
# (len == w*h*3), i.e. the natural in-memory layout — decoders undo
# BMP's bottom-up row order and BGR channel order.


def _pack_dib_rows(width: int, height: int, rgb: bytes) -> bytes:
    """Top-down RGB stream → the DIB pixel block BMP and uncompressed
    AVI share: bottom-up rows, BGR byte order, rows padded to 4-byte
    boundaries."""
    row_sz = (width * 3 + 3) & ~3
    rows = []
    pad = b"\x00" * (row_sz - width * 3)
    for y in range(height - 1, -1, -1):  # file stores rows bottom-up
        row = bytearray()
        for x in range(width):
            i = (y * width + x) * 3
            row += bytes((rgb[i + 2], rgb[i + 1], rgb[i]))  # BGR on disk
        rows.append(bytes(row) + pad)
    return b"".join(rows)


def _unpack_dib_rows(
    b: bytes, off: int, width: int, height: int, bottom_up: bool = True
) -> bytes | None:
    """DIB pixel block at ``off`` → top-down RGB stream, or None when
    the buffer is too short."""
    row_sz = (width * 3 + 3) & ~3
    if len(b) < off + row_sz * height:
        return None
    out = bytearray(width * height * 3)
    for y_out in range(height):
        y_file = (height - 1 - y_out) if bottom_up else y_out
        base = off + y_file * row_sz
        for x in range(width):
            i = base + x * 3
            o = (y_out * width + x) * 3
            out[o] = b[i + 2]  # R  (disk order is BGR)
            out[o + 1] = b[i + 1]
            out[o + 2] = b[i]
    return bytes(out)


def encode_bmp(width: int, height: int, rgb: bytes) -> bytes:
    """Minimal BITMAPINFOHEADER 24-bit BMP writer. ``rgb`` is the
    row-major top-down RGB stream (w*h*3 bytes). Used by tests and the
    oracle probe to build REAL files whose decode provably inverts."""
    if len(rgb) != width * height * 3:
        raise ValueError(f"need {width * height * 3} rgb bytes, got {len(rgb)}")
    row_sz = (width * 3 + 3) & ~3  # rows pad to 4-byte boundaries
    img_sz = row_sz * height
    off = 14 + 40
    header = (
        b"BM"
        + (off + img_sz).to_bytes(4, "little")
        + b"\x00\x00\x00\x00"
        + off.to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + width.to_bytes(4, "little", signed=True)
        + height.to_bytes(4, "little", signed=True)  # positive: bottom-up
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little")  # BI_RGB, uncompressed
        + img_sz.to_bytes(4, "little")
        + (2835).to_bytes(4, "little") * 2  # 72 DPI
        + (0).to_bytes(4, "little") * 2
    )
    return header + _pack_dib_rows(width, height, rgb)


def decode_bmp(b: bytes) -> tuple[int, int, bytes] | None:
    """24-bit uncompressed BMP → (w, h, top-down RGB stream). Handles
    bottom-up (positive height) and top-down (negative) files; returns
    None for anything else (compressed, paletted, truncated)."""
    if len(b) < 54 or b[:2] != b"BM":
        return None
    off = int.from_bytes(b[10:14], "little")
    dib = int.from_bytes(b[14:18], "little")
    if dib < 40:  # BITMAPCOREHEADER etc. — not supported
        return None
    w = int.from_bytes(b[18:22], "little", signed=True)
    h = int.from_bytes(b[22:26], "little", signed=True)
    bpp = int.from_bytes(b[28:30], "little")
    compression = int.from_bytes(b[30:34], "little")
    if bpp != 24 or compression != 0 or w <= 0 or h == 0:
        return None
    height, bottom_up = abs(h), h > 0
    pixels = _unpack_dib_rows(b, off, w, height, bottom_up)
    if pixels is None:
        return None
    return (w, height, pixels)


def _ppm_header_tokens(b: bytes) -> tuple[int, int, int, int] | None:
    """Parse 'P6'/'P3' + (width, height, maxval), honoring '#' comments.
    Returns (w, h, maxval, data_offset) or None. The byte after the
    magic MUST be whitespace or a comment ('P312 9' is not a PPM)."""
    if len(b) < 3 or b[2] not in (32, 9, 10, 13, 11, 12, ord("#")):
        return None
    i, toks = 2, []
    n = len(b)
    while len(toks) < 3 and i < n:
        c = b[i]
        if c == ord("#"):
            while i < n and b[i] not in (10, 13):
                i += 1
        elif c in (32, 9, 10, 13, 11, 12):
            i += 1
        elif 48 <= c <= 57:
            j = i
            while j < n and 48 <= b[j] <= 57:
                j += 1
            toks.append(int(b[i:j]))
            i = j
        else:
            return None
    if len(toks) < 3 or i >= n:
        return None
    return (toks[0], toks[1], toks[2], i + 1)  # single whitespace after maxval


def decode_ppm(b: bytes) -> tuple[int, int, bytes] | None:
    """P6 (binary) or P3 (ascii) PPM → (w, h, top-down RGB stream)."""
    if b[:2] not in (b"P6", b"P3"):
        return None
    hdr = _ppm_header_tokens(b)
    if hdr is None:
        return None
    w, h, maxval, off = hdr
    if w <= 0 or h <= 0 or maxval != 255:
        return None
    need = w * h * 3
    if b[:2] == b"P6":
        if len(b) < off + need:
            return None
        return (w, h, bytes(b[off : off + need]))
    vals = b[off - 1 :].split()
    if len(vals) < need:
        return None
    try:
        return (w, h, bytes(int(v) for v in vals[:need]))
    except ValueError:
        return None


def decode_image(b: bytes) -> tuple[int, int, bytes] | None:
    """Full pixel decode: BMP, PPM, and baseline JPEG natively (r5 —
    operators/jpeg.py, from-spec Huffman + IDCT); any other format via
    PIL when importable (optional dep — absent in this container).
    Returns (w, h, top-down RGB stream) or None."""
    if b is None or len(b) < 2:
        return None
    if b[:2] == b"BM":
        return decode_bmp(b)
    if b[:2] in (b"P6", b"P3"):
        return decode_ppm(b)
    if b[:2] == b"\xff\xd8":
        from .jpeg import decode_jpeg

        decoded = decode_jpeg(b)
        if decoded is not None:
            return decoded
        # progressive/12-bit/etc.: fall through to optional PIL
    try:  # optional: real codec for PNG/progressive JPEG/...
        import io

        from PIL import Image  # noqa: PLC0415

        with Image.open(io.BytesIO(bytes(b))) as im:
            im = im.convert("RGB")
            return (im.width, im.height, im.tobytes())
    except Exception:
        return None


# ------------------------------------------------------- real audio codec
#
# WAV (RIFF, PCM16LE) in pure Python — like BMP/PPM for images, the
# audio container fully decodable from the spec with `int.from_bytes`.
# Decode contract: interleaved int16 samples exactly as stored; frame
# count = samples / channels.


def encode_wav(sample_rate: int, channels: int, samples: list[int]) -> bytes:
    """Minimal RIFF/WAVE PCM16LE writer. ``samples`` are interleaved
    int16 values (len must divide by channels). Used by tests and the
    audio probe to build REAL files whose decode provably inverts."""
    if channels < 1 or len(samples) % channels:
        raise ValueError(f"{len(samples)} samples not divisible by {channels} channels")
    data = b"".join(int(s).to_bytes(2, "little", signed=True) for s in samples)
    block = channels * 2
    fmt = (
        (1).to_bytes(2, "little")  # PCM
        + channels.to_bytes(2, "little")
        + sample_rate.to_bytes(4, "little")
        + (sample_rate * block).to_bytes(4, "little")  # byte rate
        + block.to_bytes(2, "little")
        + (16).to_bytes(2, "little")  # bits per sample
    )
    body = b"WAVE" + b"fmt " + len(fmt).to_bytes(4, "little") + fmt
    body += b"data" + len(data).to_bytes(4, "little") + data
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def decode_wav(b: bytes) -> tuple[int, int, list[int]] | None:
    """RIFF/WAVE PCM16 → (sample_rate, channels, interleaved int16
    samples), walking the chunk list (fmt may be preceded by LIST/JUNK
    chunks; chunks pad to even offsets). None for anything that is not
    an uncompressed 16-bit PCM WAV."""
    if b is None or len(b) < 44 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    i, n = 12, len(b)
    rate = channels = None
    data = None
    while i + 8 <= n:
        cid = b[i : i + 4]
        sz = int.from_bytes(b[i + 4 : i + 8], "little")
        body = b[i + 8 : i + 8 + sz]
        if cid == b"fmt " and sz >= 16:
            codec = int.from_bytes(body[0:2], "little")
            bits = int.from_bytes(body[14:16], "little")
            if codec != 1 or bits != 16:
                return None
            channels = int.from_bytes(body[2:4], "little")
            rate = int.from_bytes(body[4:8], "little")
        elif cid == b"data":
            data = body
        i += 8 + sz + (sz & 1)  # chunks pad to even boundaries
    if rate is None or channels is None or channels < 1 or data is None:
        return None
    if rate < 1 or len(data) == 0:
        # degenerate-but-well-formed payloads (sample_rate=0, empty data
        # chunk) would ZeroDivide in audio_features — reject at decode so
        # they route through the strict/fake handling like any other
        # unrecognized payload
        return None
    if len(data) % (2 * channels):
        return None
    samples = [
        int.from_bytes(data[j : j + 2], "little", signed=True)
        for j in range(0, len(data), 2)
    ]
    return (rate, channels, samples)


# ------------------------------------------------------- real video codec
#
# Animated GIF in pure Python — the third real container codec next to
# BMP/PPM (image) and WAV (audio). GIF's LZW is fully specified in the
# GIF89a spec Appendix F, so both directions are implementable from
# public knowledge with no media libs: the encoder is a REAL
# compressing LZW (variable code width 9→12 bits LSB-first, dictionary
# reset at 4096), the decoder handles any conforming stream including
# dictionary-growth codes and mid-stream clears. Frames are 8-bit
# palette indices over a 256-entry grayscale global palette — the
# index byte IS the gray value, so pixel math stays exact integers.


def _lzw_encode(data: bytes, min_code_size: int) -> bytes:
    """GIF-flavor LZW compress (variable width, LSB-first bit order).
    Emits CLEAR up front and whenever the dictionary fills (4096)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    buf = nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal buf, nbits
        buf |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(buf & 0xFF)
            buf >>= 8
            nbits -= 8

    code_size = min_code_size + 1
    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1
    emit(clear, code_size)
    w = b""
    for ch in data:
        wc = w + bytes([ch])
        if wc in table:
            w = wc
            continue
        emit(table[w], code_size)
        if next_code < 4096:
            table[wc] = next_code
            next_code += 1
            # encoder runs one dictionary entry AHEAD of the decoder,
            # so it widens at (1<<size)+1 where the decoder widens at
            # (1<<size) — the standard pairing
            if next_code == (1 << code_size) + 1 and code_size < 12:
                code_size += 1
        else:
            emit(clear, code_size)
            table = {bytes([i]): i for i in range(clear)}
            next_code = eoi + 1
            code_size = min_code_size + 1
        w = bytes([ch])
    if w:
        emit(table[w], code_size)
    emit(eoi, code_size)
    if nbits:
        out.append(buf & 0xFF)
    return bytes(out)


def _lzw_decode(data: bytes, min_code_size: int) -> bytes | None:
    """GIF-flavor LZW decompress. None on a corrupt stream."""
    if min_code_size > 8:  # GIF caps it at 8 (one byte per pixel)
        return None
    clear = 1 << min_code_size
    eoi = clear + 1
    table: dict[int, bytes] = {i: bytes([i]) for i in range(clear)}
    code_size = min_code_size + 1
    next_code = eoi + 1
    out = bytearray()
    buf = nbits = 0
    prev: bytes | None = None
    for byte in data:
        buf |= byte << nbits
        nbits += 8
        while nbits >= code_size:
            code = buf & ((1 << code_size) - 1)
            buf >>= code_size
            nbits -= code_size
            if code == clear:
                table = {i: bytes([i]) for i in range(clear)}
                code_size = min_code_size + 1
                next_code = eoi + 1
                prev = None
                continue
            if code == eoi:
                return bytes(out)
            if prev is None:
                if code not in table:
                    return None
                entry = table[code]
            else:
                if code in table:
                    entry = table[code]
                elif code == next_code:  # the KwKwK special case
                    entry = prev + prev[:1]
                else:
                    return None
                if next_code < 4096:
                    table[next_code] = prev + entry[:1]
                    next_code += 1
                    if next_code == (1 << code_size) and code_size < 12:
                        code_size += 1
            out.extend(entry)
            prev = entry
    return bytes(out)  # tolerated: stream ended without explicit EOI


def _gray_palette() -> bytes:
    return bytes(v for i in range(256) for v in (i, i, i))


def encode_gif(
    width: int, height: int, frames: list[bytes], delay_cs: int = 10
) -> bytes:
    """Minimal REAL animated GIF89a writer: 256-gray global palette,
    one full-screen image block per frame preceded by a Graphic
    Control Extension, real LZW-compressed pixel data. ``frames`` are
    w·h palette-index (= gray value) byte strings."""
    if width < 1 or height < 1:
        raise ValueError(f"degenerate dimensions {width}x{height}")
    if not frames:
        raise ValueError("need at least one frame")
    for i, f in enumerate(frames):
        if len(f) != width * height:
            raise ValueError(f"frame {i}: {len(f)} bytes != {width}x{height}")
    out = bytearray(b"GIF89a")
    out += width.to_bytes(2, "little") + height.to_bytes(2, "little")
    out += bytes([0xF7, 0, 0])  # GCT present, 8-bit, 256 entries
    out += _gray_palette()
    for f in frames:
        out += bytes([0x21, 0xF9, 0x04, 0x00])  # GCE, no disposal
        out += delay_cs.to_bytes(2, "little") + bytes([0x00, 0x00])
        out += b"\x2c" + bytes(4)  # image at (0, 0)
        out += width.to_bytes(2, "little") + height.to_bytes(2, "little")
        out += bytes([0x00, 0x08])  # no LCT, not interlaced; min code 8
        lzw = _lzw_encode(f, 8)
        for i in range(0, len(lzw), 255):
            chunk = lzw[i : i + 255]
            out += bytes([len(chunk)]) + chunk
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)


def decode_gif_frames(b: bytes) -> tuple[int, int, list[bytes]] | None:
    """Full GIF frame decode: walks the block stream (extensions,
    image descriptors, sub-block chains), LZW-decompresses every
    frame, returns (w, h, [w·h palette-index bytes per frame]).

    None for non-GIF payloads and for the features this minimal
    encoder never writes (interlace, partial-screen frames) — a
    production path drops ffmpeg/PIL into the same signature."""
    if b is None or len(b) < 13 or b[:4] != b"GIF8":
        return None
    w = int.from_bytes(b[6:8], "little")
    h = int.from_bytes(b[8:10], "little")
    if w * h == 0:
        # a 0x0 GIF's empty frames pass the len==w*h check but ZeroDivide
        # in video_features — reject like any unrecognized payload
        return None
    packed = b[10]
    i = 13
    if packed & 0x80:
        i += 3 * (2 << (packed & 0x07))  # skip global color table
    frames: list[bytes] = []
    n = len(b)
    while i < n:
        block = b[i]
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension: label + sub-block chain
            i += 2
            while i < n and b[i] != 0:
                i += 1 + b[i]
            i += 1
            continue
        if block != 0x2C or i + 10 > n:
            return None  # unknown block or truncated image descriptor
        left = int.from_bytes(b[i + 1 : i + 3], "little")
        top = int.from_bytes(b[i + 3 : i + 5], "little")
        fw = int.from_bytes(b[i + 5 : i + 7], "little")
        fh = int.from_bytes(b[i + 7 : i + 9], "little")
        fpacked = b[i + 9]
        i += 10
        if fpacked & 0x80:
            i += 3 * (2 << (fpacked & 0x07))  # skip local color table
        if fpacked & 0x40:  # interlaced: not produced here
            return None
        if (left, top, fw, fh) != (0, 0, w, h):
            return None  # partial-screen frames need composition
        if i >= n:
            return None
        min_code = b[i]
        i += 1
        lzw = bytearray()
        while i < n and b[i] != 0:
            sz = b[i]
            lzw += b[i + 1 : i + 1 + sz]
            i += 1 + sz
        i += 1
        pixels = _lzw_decode(bytes(lzw), min_code)
        if pixels is None or len(pixels) != w * h:
            return None
        frames.append(pixels)
    if not frames:
        return None
    return (w, h, frames)


# ------------------------------------------------- real video codec #2
#
# Uncompressed AVI ('DIB ' frames) in pure Python — a REAL container
# format beyond GIF, composed from pieces this module already proved:
# the RIFF chunk walk (decode_wav) and the DIB pixel block (the BMP
# codec's _pack/_unpack_dib_rows). Frames are 24-bit BGR bottom-up
# padded rows — byte-identical to BMP pixel data — inside '00db'
# chunks under LIST movi. Fully specified publicly (MSDN AVI RIFF
# reference), no media libs needed.


def _riff_chunk(fourcc: bytes, payload: bytes) -> bytes:
    """fourcc + size + payload (+ pad byte: chunks align to even)."""
    return fourcc + len(payload).to_bytes(4, "little") + payload + (
        b"\x00" if len(payload) & 1 else b""
    )


def _riff_list(list_type: bytes, payload: bytes) -> bytes:
    return _riff_chunk(b"LIST", list_type + payload)


def encode_avi(
    width: int, height: int, frames: list[bytes], fps: int = 10
) -> bytes:
    """Minimal uncompressed-24-bit AVI writer: RIFF 'AVI ' with hdrl
    (avih + one 'vids'/'DIB ' stream) and movi ('00db' DIB frames).
    ``frames`` are row-major top-down RGB streams (w·h·3 bytes each)."""
    if width < 1 or height < 1:
        raise ValueError(f"bad dims {width}x{height}")
    if not frames:
        raise ValueError("need at least one frame")
    if fps < 1:
        raise ValueError(f"fps must be >= 1, got {fps}")
    for i, f in enumerate(frames):
        if len(f) != width * height * 3:
            raise ValueError(
                f"frame {i}: need {width * height * 3} rgb bytes, got {len(f)}"
            )
    row_sz = (width * 3 + 3) & ~3
    frame_sz = row_sz * height
    avih = b"".join(
        v.to_bytes(4, "little")
        for v in (
            1_000_000 // fps,  # dwMicroSecPerFrame
            frame_sz * fps,  # dwMaxBytesPerSec
            0,  # dwPaddingGranularity
            0,  # dwFlags
            len(frames),  # dwTotalFrames
            0,  # dwInitialFrames
            1,  # dwStreams
            frame_sz,  # dwSuggestedBufferSize
            width,
            height,
            0, 0, 0, 0,  # dwReserved[4]
        )
    )
    strh = (
        b"vids"
        + b"DIB "
        + (0).to_bytes(4, "little")  # dwFlags
        + (0).to_bytes(2, "little")  # wPriority
        + (0).to_bytes(2, "little")  # wLanguage
        + (0).to_bytes(4, "little")  # dwInitialFrames
        + (1).to_bytes(4, "little")  # dwScale
        + fps.to_bytes(4, "little")  # dwRate
        + (0).to_bytes(4, "little")  # dwStart
        + len(frames).to_bytes(4, "little")  # dwLength
        + frame_sz.to_bytes(4, "little")  # dwSuggestedBufferSize
        + (0).to_bytes(4, "little")  # dwQuality
        + (0).to_bytes(4, "little")  # dwSampleSize
        + (0).to_bytes(2, "little") * 2  # rcFrame left/top
        + width.to_bytes(2, "little")
        + height.to_bytes(2, "little")
    )
    strf = (
        (40).to_bytes(4, "little")
        + width.to_bytes(4, "little", signed=True)
        + height.to_bytes(4, "little", signed=True)  # positive: bottom-up
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little")  # BI_RGB
        + frame_sz.to_bytes(4, "little")
        + (0).to_bytes(4, "little") * 4
    )
    hdrl = _riff_list(
        b"hdrl",
        _riff_chunk(b"avih", avih)
        + _riff_list(b"strl", _riff_chunk(b"strh", strh) + _riff_chunk(b"strf", strf)),
    )
    movi = _riff_list(
        b"movi",
        b"".join(
            _riff_chunk(b"00db", _pack_dib_rows(width, height, f)) for f in frames
        ),
    )
    return _riff_chunk(b"RIFF", b"AVI " + hdrl + movi)


_MJPG_FOURCC = int.from_bytes(b"MJPG", "little")


def encode_mjpeg_avi(
    width: int, height: int, jpeg_frames: list[bytes], fps: int = 10
) -> bytes:
    """MJPEG-in-AVI writer: same RIFF/hdrl/movi skeleton as
    ``encode_avi`` but the stream is 'vids'/'MJPG' and each '00dc'
    chunk is a complete baseline JPEG (operators/jpeg.py) — the classic
    motion-JPEG layout. ``jpeg_frames`` are ready-encoded JPEG blobs
    (the caller controls quality/structure); dims must match the
    container header."""
    if width < 1 or height < 1:
        raise ValueError(f"bad dims {width}x{height}")
    if not jpeg_frames:
        raise ValueError("need at least one frame")
    if fps < 1:
        raise ValueError(f"fps must be >= 1, got {fps}")
    buf_sz = max(len(f) for f in jpeg_frames)
    avih = b"".join(
        v.to_bytes(4, "little")
        for v in (
            1_000_000 // fps,
            buf_sz * fps,
            0,
            0,
            len(jpeg_frames),
            0,
            1,
            buf_sz,
            width,
            height,
            0, 0, 0, 0,
        )
    )
    strh = (
        b"vids"
        + b"MJPG"
        + (0).to_bytes(4, "little")
        + (0).to_bytes(2, "little")
        + (0).to_bytes(2, "little")
        + (0).to_bytes(4, "little")
        + (1).to_bytes(4, "little")  # dwScale
        + fps.to_bytes(4, "little")  # dwRate
        + (0).to_bytes(4, "little")
        + len(jpeg_frames).to_bytes(4, "little")
        + buf_sz.to_bytes(4, "little")
        + (0).to_bytes(4, "little")
        + (0).to_bytes(4, "little")
        + (0).to_bytes(2, "little") * 2
        + width.to_bytes(2, "little")
        + height.to_bytes(2, "little")
    )
    strf = (
        (40).to_bytes(4, "little")
        + width.to_bytes(4, "little", signed=True)
        + height.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")
        + _MJPG_FOURCC.to_bytes(4, "little")  # biCompression = 'MJPG'
        + (width * height * 3).to_bytes(4, "little")
        + (0).to_bytes(4, "little") * 4
    )
    hdrl = _riff_list(
        b"hdrl",
        _riff_chunk(b"avih", avih)
        + _riff_list(b"strl", _riff_chunk(b"strh", strh) + _riff_chunk(b"strf", strf)),
    )
    movi = _riff_list(
        b"movi", b"".join(_riff_chunk(b"00dc", f) for f in jpeg_frames)
    )
    return _riff_chunk(b"RIFF", b"AVI " + hdrl + movi)


def _avi_walk(
    b: bytes,
    i: int,
    end: int,
    strf: list,
    frames: list,
    strh: list | None = None,
    depth: int = 0,
) -> bool:
    """Recursive RIFF walk collecting the video strf (and optionally
    strh, for frame-rate recovery) and '00db'/'00dc' frame payloads
    (including inside LIST 'rec ' groupings). Returns False on
    malformed structure — including LIST nesting beyond any real AVI's
    depth (a crafted 87k-deep chain would otherwise blow the recursion
    limit and kill the executor task instead of routing to strict/fake
    handling, the degenerate-payload contract)."""
    if depth > 16:
        return False
    while i + 8 <= end:
        cid = b[i : i + 4]
        sz = int.from_bytes(b[i + 4 : i + 8], "little")
        if i + 8 + sz > end:
            return False
        if cid == b"LIST":
            if sz < 4:
                return False
            if not _avi_walk(b, i + 12, i + 8 + sz, strf, frames, strh, depth + 1):
                return False
        elif cid == b"strf":
            strf.append(b[i + 8 : i + 8 + sz])
        elif cid == b"strh" and strh is not None:
            strh.append(b[i + 8 : i + 8 + sz])
        elif cid[2:4] in (b"db", b"dc"):
            frames.append(b[i + 8 : i + 8 + sz])
        i += 8 + sz + (sz & 1)  # chunks pad to even boundaries
    return True


def avi_is_mjpeg(b: bytes) -> bool:
    """True iff the payload is an AVI whose video stream is MJPEG
    (strf biCompression == 'MJPG') — lets frame_sample re-encode in
    the source codec."""
    if b is None or len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"AVI ":
        return False
    strf: list[bytes] = []
    frames: list[bytes] = []
    if not _avi_walk(
        b, 12, min(len(b), 8 + int.from_bytes(b[4:8], "little")), strf, frames
    ):
        return False
    return (
        len(strf) == 1
        and len(strf[0]) >= 40
        and int.from_bytes(strf[0][16:20], "little") == _MJPG_FOURCC
    )


def avi_fps(b: bytes) -> int | None:
    """Source frame rate from the video stream header: strh dwRate
    (offset 24) over dwScale (offset 20), for the first 'vids' stream.
    None when the payload is not an AVI or carries no usable strh —
    callers fall back to encode_avi's default (ADVICE r4: frame_sample
    previously hard-coded that default, silently relabeling a 30fps
    source as 10fps)."""
    if b is None or len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"AVI ":
        return None
    strf: list[bytes] = []
    frames: list[bytes] = []
    strh: list[bytes] = []
    if not _avi_walk(
        b, 12, min(len(b), 8 + int.from_bytes(b[4:8], "little")), strf, frames, strh
    ):
        return None
    for s in strh:
        if len(s) >= 28 and s[0:4] == b"vids":
            scale = int.from_bytes(s[20:24], "little")
            rate = int.from_bytes(s[24:28], "little")
            if rate > 0:
                # round-to-nearest, not floor: 30000/1001 must read as
                # 30, not 29 — frame_sample stamps this back into the
                # re-encoded container, so a floor is permanent metadata
                # drift on standard 29.97fps sources (ADVICE r5), and
                # nearest better preserves playback duration.
                scale = max(1, scale)
                return max(1, (rate + scale // 2) // scale)
    return None


def decode_avi(b: bytes) -> tuple[int, int, list[bytes]] | None:
    """AVI → (w, h, [top-down RGB streams]) for uncompressed 24-bit
    DIB streams AND MJPEG streams (biCompression 'MJPG', each '00dc'
    chunk a baseline JPEG decoded by operators/jpeg.py). None for
    anything else (other codecs, paletted, truncated, degenerate
    0-pixel dims — same strict contract as the other codecs; MP4/WebM
    still need ffmpeg and fail loudly)."""
    if b is None or len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"AVI ":
        return None
    strf: list[bytes] = []
    raw: list[bytes] = []
    if not _avi_walk(b, 12, min(len(b), 8 + int.from_bytes(b[4:8], "little")), strf, raw):
        return None
    if len(strf) != 1 or len(strf[0]) < 40 or not raw:
        return None
    s = strf[0]
    w = int.from_bytes(s[4:8], "little", signed=True)
    h = int.from_bytes(s[8:12], "little", signed=True)
    bpp = int.from_bytes(s[14:16], "little")
    compression = int.from_bytes(s[16:20], "little")
    if w <= 0 or h == 0:
        return None
    height, bottom_up = abs(h), h > 0
    if w * height == 0:
        return None
    frames: list[bytes] = []
    if compression == _MJPG_FOURCC:
        from .jpeg import decode_jpeg

        for payload in raw:
            decoded = decode_jpeg(payload)
            if decoded is None or decoded[0] != w or decoded[1] != height:
                return None
            frames.append(decoded[2])
        return (w, height, frames)
    if bpp != 24 or compression != 0:
        return None
    row_sz = (w * 3 + 3) & ~3
    for payload in raw:
        if len(payload) != row_sz * height:
            return None
        pixels = _unpack_dib_rows(payload, 0, w, height, bottom_up)
        if pixels is None:
            return None
        frames.append(pixels)
    return (w, height, frames)


def decode_video_gray(b: bytes) -> tuple[int, int, list[bytes]] | None:
    """Unified video decode to GRAY byte frames (w·h bytes each): GIF
    frames are already gray palette indices; AVI (DIB or MJPEG) and
    MP4 (MJPEG samples) RGB frames fold to exact-integer (r+g+b)//3
    luma. Compressed codecs (H.264/H.265/VP9/WebM) decode through the
    optional ffmpeg tier when the binary is on PATH (same gray fold).
    None when no codec recognizes the payload."""
    g = decode_gif_frames(b)
    if g is not None:
        return g
    a = decode_avi(b)
    if a is None:
        from .mp4 import decode_mp4

        a = decode_mp4(b)
    if a is None:
        from .ffmpeg_codec import decode_video_gray_ffmpeg, ffmpeg_available

        if ffmpeg_available():
            return decode_video_gray_ffmpeg(b)
        return None
    w, h, frames = a
    gray = [
        bytes((f[i] + f[i + 1] + f[i + 2]) // 3 for i in range(0, len(f), 3))
        for f in frames
    ]
    return (w, h, gray)


def video_features(width: int, height: int, frames: list[bytes]) -> list[float]:
    """FEATURE_DIM vector from REAL decoded frames: dims, frame count,
    global/first/last frame means, peak value, and mean inter-frame
    absolute difference (the motion proxy — order-sensitive, catches a
    decoder that scrambles frame order)."""
    n_px = width * height
    total = sum(sum(f) for f in frames)
    motion = 0.0
    if len(frames) > 1:
        diffs = [
            sum(abs(a - b) for a, b in zip(f0, f1))
            for f0, f1 in zip(frames, frames[1:])
        ]
        motion = sum(diffs) / (len(diffs) * n_px)
    return [
        float(width),
        float(height),
        float(len(frames)),
        total / (len(frames) * n_px),
        float(max(max(f) for f in frames)),
        sum(frames[0]) / n_px,
        sum(frames[-1]) / n_px,
        motion,
    ]


def audio_features(sample_rate: int, channels: int, samples: list[int]) -> list[float]:
    """FEATURE_DIM vector from REAL samples: duration, rate, RMS, peak,
    zero-crossing rate (sign flips / frames — order-sensitive, catches
    an endianness- or sign-confused decoder), DC mean, channels,
    frames."""
    n = len(samples)
    n_frames = n // channels
    flips = sum(
        1 for i in range(1, n) if (samples[i - 1] < 0) != (samples[i] < 0)
    )
    return [
        n_frames / sample_rate,  # duration sec
        float(sample_rate),
        (sum(s * s for s in samples) / n) ** 0.5,  # RMS
        float(max(abs(s) for s in samples)),
        flips / n,
        sum(samples) / n,  # DC offset
        float(channels),
        float(n_frames),
    ]


def pixel_features(width: int, height: int, rgb: bytes) -> list[float]:
    """FEATURE_DIM vector from REAL pixels: per-channel means, luma
    mean/range, top-row mean (row-order sensitive — catches a decoder
    that forgets BMP's bottom-up layout), and the dims."""
    n_px = width * height
    sr = sum(rgb[0::3])
    sg = sum(rgb[1::3])
    sb = sum(rgb[2::3])
    lumas = [
        0.299 * rgb[i] + 0.587 * rgb[i + 1] + 0.114 * rgb[i + 2]
        for i in range(0, len(rgb), 3)
    ]
    row0 = rgb[: width * 3]
    return [
        float(width),
        float(height),
        sr / n_px,
        sg / n_px,
        sb / n_px,
        sum(lumas) / n_px,
        max(lumas) - min(lumas),
        sum(row0) / len(row0),
    ]


def _fake_features(b: bytes) -> list[float]:
    """Deterministic FAKE features from raw bytes — the labeled
    substitute for payloads no codec recognizes when strict=False
    (plumbing tests over non-media payloads). NOT a decode."""
    b = b or b""
    acc = [0.0] * FEATURE_DIM
    for i, byte in enumerate(b):
        acc[i % FEATURE_DIM] += byte
    total = float(len(b)) or 1.0
    return [v / total for v in acc]


def decode_features(batch_rows, kind: str, strict: bool):
    """Feature vectors per payload: REAL decode whenever a codec
    recognizes the payload — images via BMP/PPM native (PIL if
    importable), audio via the pure-Python PCM16 WAV codec, video via
    the pure-Python animated-GIF/LZW codec; otherwise strict mode
    raises and non-strict substitutes the deterministic fake (ffmpeg
    drops into the same signature for real containers)."""
    out = []
    for payload in batch_rows:
        feats = None
        if kind == "image":
            decoded = decode_image(payload)
            if decoded is not None:
                feats = pixel_features(*decoded)
        elif kind == "audio":
            decoded = decode_wav(payload)
            if decoded is not None:
                feats = audio_features(*decoded)
        elif kind == "video":
            decoded = decode_video_gray(payload)
            if decoded is not None:
                feats = video_features(*decoded)
        if feats is not None:
            out.append(feats)
        elif strict:
            raise NotImplementedError(
                f"no codec decodes this {kind} payload in this environment"
            )
        else:
            out.append(_fake_features(payload))
    return out


def extract_features(df: DataFrame, strict: bool | None = None) -> DataFrame:
    """The decode / feature-extract stage: mapInPandas over Arrow
    batches (narrow map, no shuffle); checksum is a plain sum of bytes
    so tests can cross-check against an expression-only computation.

    ``strict`` defaults to the module flag (True): payloads that no
    codec decodes raise instead of yielding fake features. Pass
    strict=False for plumbing tests over non-media payloads."""
    strict_eff = STRICT_DECODE if strict is None else strict

    def fn(batches: Iterator["pandas.DataFrame"]) -> Iterator["pandas.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in batches:
            kind = str(pdf["kind"].iloc[0]) if len(pdf) else ""
            feats = decode_features(pdf["content"], kind, strict_eff)
            dims = [parse_image_dims(b) for b in pdf["content"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": [len(b or b"") for b in pdf["content"]],
                    "checksum": [int(sum(b or b"")) for b in pdf["content"]],
                    "width": pd.array(
                        [d[0] if d else None for d in dims], dtype="Int32"
                    ),
                    "height": pd.array(
                        [d[1] if d else None for d in dims], dtype="Int32"
                    ),
                    "feature": feats,
                }
            )

    return df.mapInPandas(fn, FEATURE_SCHEMA)


def resize_nn(
    src_w: int, src_h: int, rgb: bytes, dst_w: int, dst_h: int
) -> bytes:
    """Nearest-neighbor resample of a top-down RGB stream — pure
    integer index math (src index = floor(dst·src/dst)), so resized
    pixels are exact copies of deterministic source pixels."""
    out = bytearray()
    for y in range(dst_h):
        sy = y * src_h // dst_h
        row = sy * src_w * 3
        for x in range(dst_w):
            sx = x * src_w // dst_w
            out += rgb[row + sx * 3 : row + sx * 3 + 3]
    return bytes(out)


def resize_images(
    df: DataFrame, width: int, height: int, strict: bool | None = None
) -> DataFrame:
    """REAL resize stage: decode (BMP/PPM native, PIL optional) →
    nearest-neighbor resample → re-encode as canonical BMP, in the
    same narrow mapInPandas shape as extract_features (no shuffle;
    media partitions stay byte-bounded). Payloads no codec decodes
    follow the module strict contract: raise by default, metadata-only
    passthrough when strict=False (plumbing tests)."""
    strict_eff = STRICT_DECODE if strict is None else strict

    def fn(batches: Iterator["pandas.DataFrame"]) -> Iterator["pandas.DataFrame"]:  # noqa: F821
        for pdf in batches:
            contents = []
            for payload in pdf["content"]:
                decoded = decode_image(payload)
                if decoded is not None:
                    sw, sh, rgb = decoded
                    contents.append(
                        encode_bmp(width, height, resize_nn(sw, sh, rgb, width, height))
                    )
                elif strict_eff:
                    raise NotImplementedError(
                        "no codec decodes this image payload in this environment"
                    )
                else:
                    contents.append(payload)  # passthrough, meta-only
            out = pdf.copy()
            out["content"] = contents
            out["meta"] = [
                {
                    "width": width,
                    "height": height,
                    "sample_rate": m["sample_rate"] if m else None,
                    "n_frames": m["n_frames"] if m else None,
                }
                for m in pdf["meta"]
            ]
            yield out

    return df.mapInPandas(fn, MEDIA_SCHEMA)


def frame_sample(
    df: DataFrame, every_n: int = 2, strict: bool | None = None
) -> DataFrame:
    """REAL frame sampling for video rows: decode the animated GIF,
    keep every ``every_n``-th frame (always including frame 0), and
    re-encode — content and metadata both shrink, and the output is
    itself a valid GIF the rest of the pipeline can decode. AVI
    payloads re-encode at the SOURCE frame rate scaled by the sampling
    (``max(1, src_fps // every_n)``, recovered from strh dwRate/dwScale
    via ``avi_fps``), preserving playback duration instead of stamping
    encode_avi's default. MP4 payloads (MJPEG sample track,
    operators/mp4.py) re-encode each kept frame as baseline JPEG back
    into an MP4 at the same scaled rate (``mp4_fps``). Narrow map, no
    shuffle. Undecodable payloads follow the strict contract (raise /
    metadata-only shrink when strict=False)."""
    if every_n < 1:
        raise ValueError(f"every_n must be >= 1, got {every_n}")
    strict_eff = STRICT_DECODE if strict is None else strict

    def fn(batches: Iterator["pandas.DataFrame"]) -> Iterator["pandas.DataFrame"]:  # noqa: F821
        for pdf in batches:
            contents, metas = [], []
            for payload, meta in zip(pdf["content"], pdf["meta"]):
                decoded = decode_gif_frames(payload)
                avi = None if decoded is not None else decode_avi(payload)
                mp4 = None
                if decoded is None and avi is None:
                    from .mp4 import decode_mp4

                    mp4 = decode_mp4(payload)
                ffm = None
                if decoded is None and avi is None and mp4 is None:
                    from .ffmpeg_codec import (
                        decode_video_rgb_ffmpeg,
                        ffmpeg_available,
                    )

                    if ffmpeg_available():
                        ffm = decode_video_rgb_ffmpeg(payload)
                if ffm is not None:
                    # compressed codec via the optional ffmpeg tier:
                    # kept frames re-encode to the pure-Python MJPEG
                    # MP4 container (NOT back to H.264 — re-encode
                    # must stay readable on containers without
                    # ffmpeg, and generation-lossy H.264 would fork
                    # output across environments) at the
                    # sampling-adjusted source rate.
                    from .jpeg import encode_jpeg
                    from .mp4 import encode_mp4

                    w, h, src_fps, frames = ffm
                    kept = frames[::every_n]
                    contents.append(
                        encode_mp4(
                            w, h,
                            [encode_jpeg(w, h, f) for f in kept],
                            fps=max(1, src_fps // every_n),
                        )
                    )
                    metas.append(
                        {
                            "width": w,
                            "height": h,
                            "sample_rate": meta["sample_rate"] if meta else None,
                            "n_frames": len(kept),
                        }
                    )
                elif decoded is not None or avi is not None or mp4 is not None:
                    w, h, frames = (
                        decoded
                        if decoded is not None
                        else (avi if avi is not None else mp4)
                    )
                    kept = frames[::every_n]
                    # re-encode in the SOURCE container/codec: GIF
                    # frames are palette indices, AVI frames RGB
                    # streams — DIB or MJPEG to match the input — and
                    # MP4 MJPEG samples re-wrap as MP4, all at the
                    # sampling-adjusted source rate
                    if decoded is not None:
                        contents.append(encode_gif(w, h, kept))
                    elif mp4 is not None:
                        from .jpeg import encode_jpeg
                        from .mp4 import encode_mp4, mp4_fps

                        src_fps = mp4_fps(payload) or 10
                        contents.append(
                            encode_mp4(
                                w, h,
                                [encode_jpeg(w, h, f) for f in kept],
                                fps=max(1, src_fps // every_n),
                            )
                        )
                    else:
                        src_fps = avi_fps(payload) or 10
                        out_fps = max(1, src_fps // every_n)
                        if avi_is_mjpeg(payload):
                            from .jpeg import encode_jpeg

                            contents.append(
                                encode_mjpeg_avi(
                                    w, h,
                                    [encode_jpeg(w, h, f) for f in kept],
                                    fps=out_fps,
                                )
                            )
                        else:
                            contents.append(encode_avi(w, h, kept, fps=out_fps))
                    metas.append(
                        {
                            "width": w,
                            "height": h,
                            "sample_rate": meta["sample_rate"] if meta else None,
                            "n_frames": len(kept),
                        }
                    )
                elif strict_eff:
                    raise NotImplementedError(
                        "no codec decodes this video payload in this environment"
                    )
                else:
                    contents.append(payload)
                    metas.append(
                        {
                            "width": meta["width"] if meta else None,
                            "height": meta["height"] if meta else None,
                            "sample_rate": meta["sample_rate"] if meta else None,
                            "n_frames": max(
                                1, (meta["n_frames"] or 1) // every_n
                            )
                            if meta
                            else None,
                        }
                    )
            out = pdf.copy()
            out["content"] = contents
            out["meta"] = metas
            yield out

    return df.mapInPandas(fn, MEDIA_SCHEMA)


def audio_energy_fingerprint(samples: list[int], frame: int = 2) -> tuple[int, int]:
    """Haitsma–Kalker-style robust audio fingerprint (ISMIR 2002,
    simplified to one band): frame the PCM stream, per-frame energy
    Σs² (exact int), fingerprint bit f = [E_f > E_{f−1}] — the
    energy-DELTA signs survive volume scaling and mild noise, which
    is what makes it a dedup key rather than a checksum. Returns
    (n_frames, fingerprint) with bit f−1 at weight 2^(f−1); requires
    n_frames ≤ 64 per window (callers fingerprint fixed-size windows,
    not whole tracks — the streaming shape).

    Pure integer math (the decode_wav int16 samples squared and
    summed), so the SQL oracle replays every bit from the source
    characters."""
    if frame < 1:
        raise ValueError(f"frame must be >= 1, got {frame}")
    n_frames = len(samples) // frame
    if n_frames > 64:
        raise ValueError(f"too many frames for one window: {n_frames} > 64")
    energies = [
        sum(s * s for s in samples[f * frame : (f + 1) * frame])
        for f in range(n_frames)
    ]
    fp = 0
    for f in range(1, n_frames):
        if energies[f] > energies[f - 1]:
            fp |= 1 << (f - 1)
    return n_frames, fp
