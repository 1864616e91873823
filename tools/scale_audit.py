#!/usr/bin/env python
"""Scale audit: run the headline probes at every testdata scale factor
and measure how wall time and shuffle volume grow relative to input
size — the empirical "would this survive 100×?" evidence behind
SCALE.md. Usage:

    python tools/scale_audit.py [--sfs 0.01,0.1,1] [--only P1,P2,...] [out.json]

Method: one session; per scale bench.warm_up, then bench.time_passes
per probe (settle, two timed passes, min kept — see bench.py for why
min-of-2 is honest now that operators release their caches). Shuffle
read bytes from the steady pass's job group in perfbench's Spark
ledger.

Only the shuffle column is scale evidence. Wall growth between the
first and the second scale also holds the session's own warm-up
(Python workers, codegen) that the first scale pays: with --sfs
0.01,0.1 and a b07-only warm-up, 10 of 14 semantic-dedup/PQ probes
read slower at sf0.01 than at sf0.1, on a 4x larger input.

Scales: pass ``--sfs`` to select. Driver testdata covers 0.001-0.1;
sf1 resolves to /tmp/testdata/sf1, generated one decade up by
tools/make_sf.py. The explicitly-quadratic tiers (the O(n^2)
exact-Jaccard oracle, the all-pairs knn-join probe) are skipped at
sf1 — their scale path is LSH banding / ANN, already audited.

``--only`` audits just the named probes, any name in the probe
registry; an unknown name is an error.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE, spark_ledger, time_passes, warm_up  # noqa: E402
from ark_invest_api_rust_data_spark.plans import all_probes  # noqa: E402
from ark_invest_api_rust_data_spark.session import get_spark  # noqa: E402

SFS = ["0.001", "0.01", "0.1"]
# beyond driver testdata (make_sf.py: sf0.1 ×10 → sf1, sf1 ×10 → sf10)
SF_DIRS = {"1": "/tmp/testdata/sf1", "10": "/tmp/testdata/sf10"}
# quadratic-by-design probes (labeled oracle/verifier tiers): skip at
# sf>=1. llm_semantic_dedup's pairwise stage is O(n_cluster^2) at the
# probe's FIXED k=8 (the oracle needs unrolled CTEs); production scales
# k with the corpus so cluster sizes stay bounded (SemDeDup runs
# k~100k), which keeps the real deployment linear-ish — audited to
# sf0.1 where fixed-k is still representative.
QUADRATIC = {"llm_ngram_jaccard", "llm_knn_join", "llm_semantic_dedup"}
EXTRA = [
    "llm_ngram_jaccard",
    "llm_repetition",
    "b21_hypertable_rollup",
    "llm_vocab_topk",
    "llm_tfidf_topterms",
    "llm_knn_join",
    "llm_corpus_pipeline",
    "llm_similarity_ann",
    "llm_semantic_dedup",
    # llm_semantic_dedup_scaled — the PRODUCTION SemDeDup path
    # (k = ceil(n/32), bounded clusters, linear pairwise) — is in the
    # bench HEADLINE list (already included via `names`) and RUNS at
    # sf1, unlike the fixed-k probe above.
    "b16_retention",
    "llm_multimodal_video",
    # round-4 additions (llm_multimodal_avi, llm_domain_cap_sharded,
    # b08_percentile_hist, llm_semantic_dedup_nprobe, and
    # llm_semantic_dedup_scaled) are in the bench HEADLINE list and
    # reach the audit through `names` — don't list them twice
]


def main() -> None:
    argv = sys.argv[1:]
    sfs = list(SFS)
    only: list[str] | None = None
    if "--sfs" in argv:
        i = argv.index("--sfs")
        sfs = argv[i + 1].split(",")
        argv = argv[:i] + argv[i + 2 :]
    if "--only" in argv:  # audit a probe subset
        i = argv.index("--only")
        only = argv[i + 1].split(",")
        argv = argv[:i] + argv[i + 2 :]
    out_path = argv[0] if argv else "/tmp/scale_audit.json"
    probes = all_probes()
    names = only or HEADLINE + EXTRA
    unknown = [n for n in names if n not in probes]
    if unknown:
        raise SystemExit(f"scale_audit.py: unknown probes {unknown}")
    spark = get_spark(
        app_name="scale_audit",
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.retainedStages": "20000",
            "spark.ui.retainedJobs": "20000",
        },
    )
    sc = spark.sparkContext

    results: dict[str, dict[str, dict]] = {}
    windows: dict[str, tuple[float, float]] = {}
    for sf in sfs:
        sf_dir = SF_DIRS.get(sf, f"/root/testdata/sf{sf}")
        if not os.path.isdir(sf_dir):
            print(f"skip sf{sf}: {sf_dir} missing (sf1: run tools/make_sf.py first)")
            continue
        warm_up(spark, probes, sf_dir)  # footers + codegen for this scale's files
        for name in names:
            if float(sf) >= 1 and name in QUADRATIC:
                continue
            sec = time_passes(spark, f"{name}@sf{sf}", probes[name].spark, sf_dir, windows)
            results.setdefault(name, {})[sf] = {"sec": sec}

    try:
        by_group = spark_ledger(sc.uiWebUrl, sc.applicationId)
    except (OSError, ValueError):
        by_group = {}  # status API unavailable: walls only
    for name, by_sf in results.items():
        for sf, row in by_sf.items():
            g = by_group.get(f"{name}@sf{sf}@p1") or by_group.get(f"{name}@sf{sf}@p0")
            if g:
                row["shuffle_read"] = g["shuffle_read_bytes"]

    with open(out_path, "w") as f:
        json.dump(results, f, indent=1)
    print(json.dumps({"probes": len(results), "out": out_path}))


if __name__ == "__main__":
    main()
