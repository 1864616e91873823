#!/usr/bin/env python
"""Generate COVERAGE.md: SURVEY.md §2 inventory row → probe(s) → oracle
status, straight from the live registry (so the map can't drift)."""

from __future__ import annotations

import sys
from collections import defaultdict

sys.path.insert(0, "/root/repo")

from ark_invest_api_rust_data_spark.plans import all_probes

TEST_ONLY = {
    "B23": "deterministic micro-batch replay twins; the real watermark "
    "machinery is proven by the 3-phase checkpointed replay in "
    "tests/test_streaming.py",
    "B29": "llm_incremental_dedup (r3) is the production tier: a "
    "persisted band store probed per ingest batch, equivalence-tested "
    "against the full-corpus run restricted to batch-touching pairs; "
    "llm_semantic_dedup_scaled (r4) is SemDeDup's production path — "
    "k = ceil(n/32) derived from the corpus (oracle derives the same k "
    "via a count subquery in the seed LIMIT), bounded cluster sizes, "
    "pair-count-linearity pytest, vectorized (Arrow) assignment "
    "against a broadcast centroid matrix at every k, assignments= "
    "hook reusing IVF "
    "centroids; llm_semantic_dedup_ivf (r5) hash-checks the "
    "IvfIndex.build_exact → assignments= composition (index clustered "
    "once, dedup reuses it at zero extra clustering cost) against the "
    "same scaled-k SQL oracle; llm_cluster_diversity (r8) ranks "
    "cluster redundancy exactly via the sum identity |Σq|² − Σ|q|² in "
    "decimal(38,0) folds — O(k·dim) shuffle, no pair stream",
    "B30": "llm_kmeans (r3): exact distributed Lloyd's, hash-matching "
    "an oracle that unrolls the iterations in SQL CTEs (deterministic "
    "seeding, int64 centroid sums, left-to-right IEEE distance folds); "
    "llm_ann_join (r8) is llm_knn_join's production twin — IVF-pruned "
    "candidates (~nprobe/n_centroids of the cross product) + the same "
    "salted two-phase top-k, the whole train→probe→score pipeline "
    "hash-matched",
    "B31": "llm_temperature_mix (r8): α-temperature domain quotas "
    "derived from corpus counts (⌊B·√n_d/Σ√n⌋) with the normalizer "
    "folded left-to-right over name-sorted domains so both engines "
    "sum doubles in the same order",
    "B32": "metadata decode is REAL (pure-Python PNG/JPEG/GIF/BMP/PPM "
    "header parsing); PIXEL decode is REAL for 24-bit BMP and PPM "
    "P6/P3 (pure-Python codecs, bottom-up/BGR handling, pinned by a "
    "hand-written golden BMP fixture), PIL behind an optional import "
    "for other formats; llm_multimodal_pixels oracle-checks decoded "
    "channel/row sums against a character-derived DuckDB computation; "
    "AUDIO decode is REAL for PCM16 WAV (pure-Python RIFF chunk walker recovering interleaved int16 samples; llm_multimodal_audio oracle-checks sample stats — abs/square sums, peak, zero crossings — against a character-derived DuckDB computation); "
    "VIDEO decode is REAL for animated GIF (pure-Python LZW codec — variable 9→12-bit codes, dictionary reset at 4096, KwKwK case — with a frame-walking container parser) AND for uncompressed AVI (r4: RIFF walker + DIB frame codec, 'vids'/'DIB ' streams, '00db' frames; llm_multimodal_avi oracle-checks the full build→frame_sample→re-decode chain) AND (r5) for MJPEG-in-AVI ('MJPG' streams, each '00dc' chunk a baseline JPEG; llm_multimodal_mjpeg drives build→frame_sample→re-encode→re-decode, exact because the DC roundtrip is idempotent; MJPEG-in-MP4 (r5: from-spec ISO-BMFF writer + bounded box walker, operators/mp4.py — 'jpeg' sample entries located via stsc×stsz×stco, co64 accepted, fps from mdhd×stts; llm_multimodal_mp4 drives build→frame_sample→re-wrap→re-decode against the same closed-form oracle; H.264/H.265/VP9/WebM decode through the OPTIONAL ffmpeg tier (r8: operators/ffmpeg_codec.py — probe-before-pipe allocation bounds, frame caps, subprocess timeout; frame_sample re-encodes kept frames to the pure-Python MJPEG MP4 so output stays readable without ffmpeg) and strict-raise when the binary is absent); COMPRESSED-IMAGE decode is REAL for baseline JPEG (r5: from-spec Huffman + DCT codec, operators/jpeg.py — 4:4:4/4:2:2/4:2:0 sampling, grayscale, restart intervals, strict None for progressive/arithmetic/12-bit; the LOSSY pipeline is still oracle-checkable because block-constant 8×8 inputs take exact DC fast paths on both sides, collapsing encode→decode to a closed form the llm_multimodal_jpeg oracle replays in SQL, with pure-integer RGB↔YCbCr transforms); frame_sample decodes, keeps every Nth frame, and re-encodes in the SOURCE container/codec at the sampling-adjusted source frame rate; llm_multimodal_video oracle-checks kept-frame pixel stats + inter-frame motion; "
    "RESIZE is REAL (nearest-neighbor integer resample through decode→resample→re-encode; llm_multimodal_resize oracle-checks the picked source pixels); "
    "strict-by-default decode (unrecognized payloads raise)",
}


def main() -> None:
    by_ref: dict[str, list] = defaultdict(list)
    for p in all_probes().values():
        by_ref[p.survey_ref].append(p)

    lines = [
        "# COVERAGE — SURVEY.md §2 inventory → probes",
        "",
        "Generated by tools/coverage_map.py from the live probe registry.",
        "Every probe is run by the driver at sf0.01: Spark plan vs DuckDB",
        "oracle, order-insensitive value-hash. `rows-only` = no SQL oracle",
        "(driver records the weaker check).",
        "",
        "| SURVEY ref | probes | oracle |",
        "|---|---|---|",
    ]

    def sort_key(ref: str):
        import re

        m = re.match(r"([A-Z]+)(\d+)?", ref)
        return (m.group(1), int(m.group(2) or 0), ref)

    for ref in sorted(by_ref, key=sort_key):
        probes = by_ref[ref]
        names = ", ".join(f"`{p.name}`" for p in sorted(probes, key=lambda p: p.name))
        oracle = "; ".join(
            "SQL" if p.oracle else "rows-only" for p in sorted(probes, key=lambda p: p.name)
        )
        note = TEST_ONLY.get(ref)
        lines.append(f"| {ref} | {names} | {oracle}{' — ' + note if note else ''} |")

    lines += [
        "",
        "Scale check (round 10): the gate passes at **sf0.1** — 10× the",
        "driver's scale — for EVERY probe in the registry: 188/188",
        "hash-green, 0 failed, 0 rows-only (r9 swept 176; r10 closed the",
        "last 12 by re-expressing the transitive-closure oracles as",
        "unrolled hook+shortcut min-label rounds with a convergence",
        "canary — SCALE.md findings 36/36b). The exhaustive pair oracles",
        "cost ~20 min each at that scale; sf1+ decades are wall/shuffle",
        "audited in SCALE.md (the quadratic oracles stay at ≤ sf0.1).",
        "",
        "Permanent environment gates (protobuf-less transformWithState,",
        "absent ffmpeg binary) are documented in FIXTURES.md §F with",
        "their running twins.",
        "",
        "Streaming equivalences (B21–B24) additionally proven by replay",
        "tests (tests/test_streaming.py): shuffled-arrival batch==stream,",
        "session gaps-and-islands == native session_window, controlled",
        "late-data accept/drop, at-least-once dedupe.",
        "",
        "Part A (reference pipeline) parity beyond the parity_* probes:",
        "golden rule matrix, adapters, idempotence/fixpoint properties,",
        "round-trips — tests/test_normalize.py, test_pipeline.py,",
        "test_properties.py.",
    ]
    with open("/root/repo/COVERAGE.md", "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"{sum(len(v) for v in by_ref.values())} probes across {len(by_ref)} refs")


if __name__ == "__main__":
    main()
