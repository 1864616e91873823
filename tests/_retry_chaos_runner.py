#!/usr/bin/env python
"""Subprocess runner for the task-retry idempotence chaos test
(VERDICT r4 #4). Runs in its OWN SparkSession because local-mode task
retries require the ``local[N, maxFailures]`` master form, which the
shared session fixture doesn't use (and can't be changed post-start).

Injects task failures with a test-only mapInPandas stage that raises
on ``TaskContext.attemptNumber() == 0`` (every task of the wrapped
stage fails once, then succeeds on retry — exactly the routine
lost-executor retry at 1000-executor scale), spliced into:

* a warm API-incremental ``refresh_ticker`` (patched ``pipeline``
  module global ``incremental_merge``), so the cache write job runs
  with retried tasks;
* the ANN code lake's seed → ingest stream → compaction (patched
  ``ann_ingest`` module global ``encode_batch_for_lake``), so every
  ``src=`` partition write runs with retried tasks before the fold.

Each scenario runs twice — clean and with injection — into separate
store roots; the runner prints one JSON line with the comparison and
the count of injected failures (proven > 0 via marker files written by
the failing attempts). Exit 0 iff stores are identical, non-empty, and
failures actually fired.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import pyspark.sql.functions as F  # noqa: E402

import ark_invest_api_rust_data_spark.pipeline as pipeline  # noqa: E402
import ark_invest_api_rust_data_spark.streaming.ann_ingest as ann  # noqa: E402
from ark_invest_api_rust_data_spark.operators.merge import incremental_merge  # noqa: E402
from ark_invest_api_rust_data_spark.operators.pq import IvfPqIndex  # noqa: E402
from ark_invest_api_rust_data_spark.session import get_spark  # noqa: E402
from ark_invest_api_rust_data_spark.tickers import Source, Ticker  # noqa: E402
from conftest import SF_SMOKE  # noqa: E402

encode_batch_for_lake = ann.encode_batch_for_lake


def make_flaky(marker_dir: str):
    """Wrap a DataFrame with a stage whose every task fails on its
    first attempt (writing a marker file first, so the test can prove
    failures actually fired) and passes data through unchanged on
    retry."""

    def flaky(df):
        def gen(batches):
            from pyspark import TaskContext

            tc = TaskContext.get()
            if tc is not None and tc.attemptNumber() == 0:
                marker = os.path.join(
                    marker_dir, f"fail-{tc.stageId()}-{tc.partitionId()}"
                )
                with open(marker, "w"):
                    pass
                raise RuntimeError("injected chaos: first attempt always fails")
            yield from batches

        return df.mapInPandas(gen, df.schema)

    return flaky


ARK_CSV = "\n".join(
    ['date,fund,company,ticker,cusip,shares,"market value ($)","weight (%)"']
    + [f'01/0{d}/2024,ARKK,TESLA INC,TSLA UW,88160R101,"1,234","$1,234,567.89",9.87%'
       for d in range(1, 8)]
    + [f'01/0{d}/2024,ARKK,COINBASE GLOBAL,COIN UQ,19260Q107,567,"$89,012.50",1.23%'
       for d in range(1, 8)]
)
# the API's next page: one day already cached (deduped by the merge)
# and two new ones
API_JSON = json.dumps(
    [
        {"company": c, "cusip": cusip, "date": day, "market_value": mv,
         "share_price": 200.0, "shares": sh, "ticker": t, "weight": w,
         "weight_rank": r}
        for day in ("2024-01-07", "2024-01-08", "2024-01-09")
        for c, cusip, t, sh, mv, w, r in (
            ("TESLA", "88160R101", "TSLA", 5000.0, 999999.0, 9.99, 1),
            ("COINBASE", "19260Q107", "COIN", 600.0, 90000.0, 1.25, 2),
        )
    ]
)


def run_refresh(spark, tmp: str, inject: bool, flaky):
    """Bootstrap a cache from the CSV (no injection), then one warm
    API-incremental refresh whose merge result runs through ``flaky``."""
    root = f"{tmp}/holdings_{'chaos' if inject else 'clean'}"
    pipeline.refresh_ticker(spark, Ticker.ARKK, Source.ARK, root, lambda url: ARK_CSV)
    if inject:
        pipeline.incremental_merge = lambda *a, **kw: flaky(incremental_merge(*a, **kw))
    try:
        pipeline.refresh_ticker(spark, Ticker.ARKK, Source.API_INCREMENTAL, root, lambda url: API_JSON)
    finally:
        pipeline.incremental_merge = incremental_merge
    return sorted(map(str, spark.read.parquet(f"{root}/ARKK.parquet").collect()))


def run_code_lake(spark, index, emb, tmp: str, inject: bool, flaky):
    """Seed the lake with the even ids, stream the odd ids in as two
    micro-batches, fold everything into one generation."""
    tag = "chaos" if inject else "clean"
    lake = f"{tmp}/lake_{tag}"
    src = f"{tmp}/arrivals_{tag}"
    arriving = emb.filter(F.col("vec_id") % 2 == 1)
    for i, cond in enumerate((F.col("vec_id") % 4 == 1, F.col("vec_id") % 4 == 3)):
        p = f"{src}/part{i}.parquet"
        arriving.filter(cond).coalesce(1).write.mode("overwrite").parquet(p)
        for f in os.listdir(p):
            os.utime(os.path.join(p, f), (1_000_000 + i, 1_000_000 + i))
    if inject:
        ann.encode_batch_for_lake = lambda *a, **kw: flaky(encode_batch_for_lake(*a, **kw))
    try:
        ann.seed_code_lake(index, emb.filter(F.col("vec_id") % 2 == 0), lake)
        stream_in = (
            spark.readStream.schema(arriving.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/part*.parquet")
        )
        ann.start_pq_ingest_stream(spark, stream_in, index, lake, checkpoint=f"{tmp}/ckpt_{tag}").awaitTermination()
        ann.compact_code_lake(spark, lake)
    finally:
        ann.encode_batch_for_lake = encode_batch_for_lake
    return sorted(map(tuple, ann.read_live_partitions(spark, lake).drop("src").collect()))


def main() -> int:
    tmp = sys.argv[1]
    marker_dir = f"{tmp}/markers"
    os.makedirs(marker_dir, exist_ok=True)
    flaky = make_flaky(marker_dir)
    # local[4, 3]: 4 threads, tasks may fail up to 3 times — the only
    # way local mode executes task retries at all
    spark = get_spark(app_name="retry_chaos", master="local[4, 3]",
                      shuffle_partitions=8)

    clean_cache = run_refresh(spark, tmp, inject=False, flaky=flaky)
    n_before = len(os.listdir(marker_dir))
    chaos_cache = run_refresh(spark, tmp, inject=True, flaky=flaky)
    n_refresh_failures = len(os.listdir(marker_dir)) - n_before

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    index = IvfPqIndex.build(
        emb.filter(F.col("vec_id") % 2 == 0), f"{tmp}/train_codes",
        n_centroids=8, m=4, k=8, iters=2,
    )
    clean_lake = run_code_lake(spark, index, emb, tmp, inject=False, flaky=flaky)
    n_before = len(os.listdir(marker_dir))
    chaos_lake = run_code_lake(spark, index, emb, tmp, inject=True, flaky=flaky)
    n_lake_failures = len(os.listdir(marker_dir)) - n_before

    result = {
        "refresh_cache_identical": clean_cache == chaos_cache,
        "code_lake_identical": clean_lake == chaos_lake,
        "n_refresh_failures": n_refresh_failures,
        "n_lake_failures": n_lake_failures,
        "n_cache_rows": len(clean_cache),
        "n_lake_rows": len(clean_lake),
    }
    print(json.dumps(result))
    ok = (
        result["refresh_cache_identical"]
        and result["code_lake_identical"]
        and n_refresh_failures > 0
        and n_lake_failures > 0
        and clean_cache
        and clean_lake
    )
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
