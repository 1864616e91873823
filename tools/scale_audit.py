#!/usr/bin/env python
"""Scale audit: run the headline probes at every testdata scale factor
and measure how wall time and shuffle volume grow relative to input
size — the empirical "would this survive 100×?" evidence behind
SCALE.md. Usage:

    python tools/scale_audit.py [out.json]

Method: one session, untimed warmup per scale (parquet footers +
codegen), two timed passes per (probe, sf), min kept (steady-state;
see bench.py for why min-of-2 is honest now that operators release
their caches). Shuffle bytes via the status REST API per job group.

Scales: pass ``--sfs 0.01,0.1,1`` to select. Driver testdata covers
0.001-0.1; sf1 resolves to /tmp/testdata/sf1, generated one decade up
by tools/make_sf.py. The explicitly-quadratic tiers (the O(n^2)
exact-Jaccard oracle, the all-pairs knn-join probe) are skipped at
sf1 — their scale path is LSH banding / ANN, already audited.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE, shuffle_bytes_by_group  # noqa: E402
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
    spark = get_spark(
        app_name="scale_audit",
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.retainedStages": "20000",
            "spark.ui.retainedJobs": "20000",
        },
    )
    sc = spark.sparkContext
    probes = all_probes()
    names = HEADLINE + EXTRA
    if only:
        names = [n for n in names if n in only]

    results: dict[str, dict[str, dict]] = {}
    for sf in sfs:
        sf_dir = SF_DIRS.get(sf, f"/root/testdata/sf{sf}")
        if not os.path.isdir(sf_dir):
            print(f"skip sf{sf}: {sf_dir} missing (sf1: run tools/make_sf.py first)")
            continue
        # warmup: footers + codegen for this scale's files
        probes["b07_agg_q1"].spark(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        for name in names:
            if float(sf) >= 1 and name in QUADRATIC:
                continue
            # settle before timing (r4, VERDICT r3 #6 — measured): the
            # previous probe's async cleanup (unpersist /
            # localCheckpoint release) plus deferred GC steal CPU from
            # the NEXT probe, inflating CPU-bound probes 2-4x in long
            # sessions (the old finding-15 "worker churn" hypothesis
            # was wrong — worker counts stay flat). One synchronous
            # System.gc + a short drain, THEN both timed passes
            # back-to-back (probe-major, not pass-major): the second
            # pass runs warm from a quiesced JVM, so min-of-2 measures
            # the probe itself — in-audit ≈ dedicated-session, no
            # min-across-sessions crutch.
            sc._jvm.System.gc()
            time.sleep(0.3)
            for _pass in range(2):
                sc.setJobGroup(f"{name}@sf{sf}@p{_pass}", name)
                t0 = time.perf_counter()
                probes[name].spark(spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                elapsed = round(time.perf_counter() - t0, 3)
                sc.setJobGroup(None, None)
                cur = results.setdefault(name, {}).setdefault(sf, {"sec": elapsed})
                cur["sec"] = min(cur["sec"], elapsed)

    by_group = shuffle_bytes_by_group(spark)
    for name in names:
        for sf in sfs:
            if sf not in results.get(name, {}):
                continue
            g = by_group.get(f"{name}@sf{sf}@p1") or by_group.get(f"{name}@sf{sf}@p0")
            if g:
                results[name][sf]["shuffle_read"] = g["read"]

    with open(out_path, "w") as f:
        json.dump(results, f, indent=1)
    print(json.dumps({"probes": len(results), "out": out_path}))


if __name__ == "__main__":
    main()
