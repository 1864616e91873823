"""Dirty-payload fuzz corpus for every pure-Python media decoder
(round-7 advisor item 5): the r5 advisor found two adversarial-
allocation bugs (mp4 stsz bound, JPEG dimension plausibility) by
inspection — this locks the CLASS. ~1k payloads derived from golden
fixtures by deterministic mutation (truncation, byte flips,
length-field lies, chunk shuffles, magic-prefixed garbage) are fed to
EVERY decoder (cross-format confusion included); each call must
return None / a well-formed value without raising (the decoders'
strict contract: a malformed payload is None, never an exception),
under a hard per-call allocation budget (<64 MB traced peak from any
≤2 KB payload) and a wall-time guard.

Deterministic: random.Random(42) — a failure reproduces by index.
"""

from __future__ import annotations

import random
import time
import tracemalloc

import pytest
from _oracles import encode_jpeg_gray, encode_ppm

from ark_invest_api_rust_data_spark.operators import jpeg as J
from ark_invest_api_rust_data_spark.operators import mp4 as M
from ark_invest_api_rust_data_spark.operators import multimodal as MM

MAX_ALLOC = 64 * 1024 * 1024  # per-call traced-peak budget
MAX_CALL_SECS = 5.0  # hang / quadratic-blowup guard (generous for CI)

DECODERS = [
    ("parse_image_dims", MM.parse_image_dims),
    ("decode_bmp", MM.decode_bmp),
    ("decode_ppm", MM.decode_ppm),
    ("decode_image", MM.decode_image),
    ("decode_wav", MM.decode_wav),
    ("decode_gif_frames", MM.decode_gif_frames),
    ("decode_avi", MM.decode_avi),
    ("decode_video_gray", MM.decode_video_gray),
    # the decoders' consumer: decode, then feature extraction over the
    # decoded value (non-strict, so an unrecognized payload is the fake)
    ("decode_features[image]", lambda b: MM.decode_features([b], "image", False)),
    ("decode_features[audio]", lambda b: MM.decode_features([b], "audio", False)),
    ("decode_features[video]", lambda b: MM.decode_features([b], "video", False)),
    ("decode_jpeg", J.decode_jpeg),
    ("is_mp4", M.is_mp4),
    ("mp4_fps", M.mp4_fps),
    ("decode_mp4", M.decode_mp4),
]


def _goldens() -> list[bytes]:
    rgb44 = bytes(range(48))  # 4x4 RGB
    gray44 = bytes((i * 16) % 256 for i in range(16))  # 4x4 palette idx
    gray88 = bytes((i * 5) % 256 for i in range(64))
    jpeg_color = J.encode_jpeg(8, 8, bytes((i * 3) % 256 for i in range(192)))
    rgb_frames = [bytes((i + k) % 256 for i in range(192)) for k in range(3)]
    return [
        MM.encode_bmp(4, 4, rgb44),
        encode_ppm(4, 4, rgb44),
        MM.encode_wav(8000, 1, [0, 100, -100, 32000, -32000, 7]),
        MM.encode_gif(4, 4, [gray44, gray44[::-1]]),
        MM.encode_avi(8, 8, rgb_frames, fps=10),
        jpeg_color,
        encode_jpeg_gray(8, 8, gray88),
        M.encode_mp4(8, 8, [jpeg_color, jpeg_color], fps=30),
    ]


def _mutants(goldens: list[bytes], n_per_golden: int) -> list[bytes]:
    rng = random.Random(42)
    out: list[bytes] = []

    def lie_bytes() -> bytes:
        choice = rng.randrange(4)
        if choice == 0:
            return b"\xff\xff\xff\xff"
        if choice == 1:
            return b"\x7f\xff\xff\xff"
        if choice == 2:
            return (1 << 31).to_bytes(4, "little")
        return rng.randrange(1 << 32).to_bytes(4, "little")

    for g in goldens:
        for _ in range(n_per_golden):
            b = bytearray(g)
            kind = rng.randrange(8)
            if kind == 0 and len(b) > 1:  # truncate
                b = b[: rng.randrange(1, len(b))]
            elif kind == 1:  # flip bytes
                for _f in range(rng.randrange(1, 9)):
                    b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
            elif kind == 2 and len(b) >= 4:  # length-field lie
                i = rng.randrange(len(b) - 3)
                b[i : i + 4] = lie_bytes()
            elif kind == 3:  # insert junk
                i = rng.randrange(len(b) + 1)
                b[i:i] = bytes(rng.randrange(256) for _ in range(rng.randrange(1, 32)))
            elif kind == 4 and len(b) >= 8:  # duplicate a chunk
                i = rng.randrange(len(b) - 4)
                j = min(len(b), i + rng.randrange(4, 64))
                b[j:j] = b[i:j]
            elif kind == 5 and len(b) >= 8:  # zero a chunk
                i = rng.randrange(len(b) - 4)
                j = min(len(b), i + rng.randrange(4, 64))
                b[i:j] = bytes(j - i)
            elif kind == 6 and len(b) >= 16:  # swap two chunks
                w = rng.randrange(4, 8)
                i = rng.randrange(len(b) - 2 * w)
                j = rng.randrange(i + w, len(b) - w + 1)
                b[i : i + w], b[j : j + w] = b[j : j + w], b[i : i + w]
            else:  # magic prefix + garbage
                keep = rng.randrange(2, min(13, len(b) + 1))
                b = b[:keep] + bytes(
                    rng.randrange(256) for _ in range(rng.randrange(8, 256))
                )
            out.append(bytes(b[:2048]))
    # pure garbage rounds it out
    for _ in range(64):
        out.append(bytes(rng.randrange(256) for _ in range(rng.randrange(0, 256))))
    out.extend([b"", b"\x00", b"\xff" * 16])
    return out


def test_fuzz_corpus_none_or_raise_under_budget():
    goldens = _goldens()
    corpus = _mutants(goldens, n_per_golden=120)
    assert len(corpus) >= 1000, f"corpus too small: {len(corpus)}"

    tracemalloc.start()
    failures: list[str] = []
    try:
        for i, payload in enumerate(corpus):
            for name, fn in DECODERS:
                tracemalloc.reset_peak()
                t0 = time.perf_counter()
                try:
                    fn(payload)
                except Exception as e:  # noqa: BLE001
                    failures.append(f"#{i} {name}: raised {e!r}")
                elapsed = time.perf_counter() - t0
                _, peak = tracemalloc.get_traced_memory()
                if peak > MAX_ALLOC:
                    failures.append(
                        f"#{i} {name}: allocated {peak} bytes from "
                        f"{len(payload)}-byte payload"
                    )
                if elapsed > MAX_CALL_SECS:
                    failures.append(f"#{i} {name}: took {elapsed:.1f}s")
                if len(failures) > 10:
                    pytest.fail("; ".join(failures))
    finally:
        tracemalloc.stop()
    assert not failures, "; ".join(failures)


def test_goldens_still_decode():
    """The corpus generator's goldens are genuinely valid — the fuzz
    run above is exercising decoders that DO accept the base format."""
    g = _goldens()
    assert MM.decode_bmp(g[0]) is not None
    assert MM.decode_ppm(g[1]) is not None
    assert MM.decode_wav(g[2]) is not None
    assert MM.decode_gif_frames(g[3]) is not None
    assert MM.decode_avi(g[4]) is not None
    assert J.decode_jpeg(g[5]) is not None
    assert J.decode_jpeg(g[6]) is not None
    assert M.decode_mp4(g[7]) is not None
