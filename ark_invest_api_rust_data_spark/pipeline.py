"""End-to-end refresh pipeline — the reference's ``Ark`` struct +
scheduler re-expressed (SURVEY.md §3, O1–O7).

Where the reference runs read→collect→format→collect→concat→collect→
write per ticker (/root/reference/src/util.rs:43-108), here each ticker
is ONE lazy Spark DAG: cache scan (schema and watermark from the
Parquet footer, no job) → driver HTTP fetch → normalize both branches →
union → dedupe → write. A warm incremental refresh runs one Spark job,
the dedupe-and-write: the fetched JSON is a driver-held
``LocalRelation`` (sources/data_reader.py), so its schema inference and
date-format budget run on the driver. The triple
normalize application is KEPT (not collapsed): rule cascades reach
their fixpoint only after up to 3 passes (see operators/normalize.py;
property-tested) — but here they're lazy projections in one DAG, not
three separate materializations.

Orchestration (scheduler, jitter, per-ticker fan-out) is plain driver
Python — the fetch is I/O-bound HTTP, so a thread pool over tickers
sharing one SparkSession mirrors the reference's spawn_blocking fan-out
(/root/reference/src/main.rs:62-98).
"""

from __future__ import annotations

import os
import random
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession

from .operators.merge import canonical_sort, concat_dedupe, incremental_merge, watermark
from .operators.normalize import normalize
from .sources.data_reader import (
    Fetcher,
    csv_to_df,
    explode_holdings,
    http_fetch,
    json_to_df,
)
from .sources.parquet_store import footer_watermark, read_ticker, write_ticker
from .tickers import SCHEDULED_EXCLUDED, Source, Ticker

DEFAULT_ROOT = "data/parquet"


def fetch_update(
    spark: SparkSession,
    ticker: Ticker,
    source: Source,
    last_day,
    fetcher: Fetcher = http_fetch,
) -> DataFrame:
    """S3/S4/S6 — build the provider URL (watermark pushed as a query
    param), fetch on the driver, hand the body to Spark."""
    if source is Source.ARK:
        return csv_to_df(spark, fetcher(ticker.get_url()))
    url = ticker.get_api_url(last_day, source)
    df = json_to_df(spark, fetcher(url))
    if source in (Source.ARKFUNDSIO_INCREMENTAL, Source.ARKFUNDSIO_FULL):
        df = explode_holdings(df)
    return df


def refresh_ticker(
    spark: SparkSession,
    ticker: Ticker,
    source: Source = Source.API_INCREMENTAL,
    root: str = DEFAULT_ROOT,
    fetcher: Fetcher = http_fetch,
    quality_metrics: dict | None = None,
) -> DataFrame:
    """One ticker's full refresh (ark_plan minus the jitter): returns
    the merged canonical frame after writing the cache.

    Pass a dict as ``quality_metrics`` to receive per-run data-quality
    counters (row count, null dates, unidentified rows, …): they are
    observed on the SAME action that writes the cache (zero extra
    scans; functions/observability.py) — the engine-native upgrade of
    the reference's diagnostic tail print (main.rs:18-25)."""
    cache = read_ticker(spark, root, ticker.name)

    if source is Source.READ:
        if cache is None:
            raise FileNotFoundError(f"no cache for {ticker.name} under {root}")
        return cache

    last_day = None
    if source in (Source.API_INCREMENTAL, Source.ARKFUNDSIO_INCREMENTAL) and cache is not None:
        # equal on a date-typed cache: normalize only drops null dates,
        # which max ignores
        known, last_day = footer_watermark(root, ticker.name)
        if not known:
            last_day = watermark(normalize(cache))

    update = fetch_update(spark, ticker, source, last_day, fetcher)
    merged = incremental_merge(cache, update)
    # the reference formats 3× per run (merge branches, .format(), and
    # write_parquet, main.rs:49-54 + util.rs:90) — needed because rule
    # cascades (see normalize.py docstring) take up to 3 passes to
    # reach their fixpoint; mirror that
    merged = normalize(normalize(merged))
    if quality_metrics is not None:
        from .functions.observability import observe_quality

        merged, obs = observe_quality(merged, name=f"refresh_{ticker.name}")
        write_ticker(merged, root, ticker.name)
        quality_metrics.update(obs.get)
    else:
        write_ticker(merged, root, ticker.name)
    # return the parquet-backed cache, not the in-memory plan: same rows,
    # but callers get a narrow scan with working predicate pushdown
    # instead of re-running three composed normalizer passes
    return read_ticker(spark, root, ticker.name)


def csv_backfill(
    spark: SparkSession,
    ticker: Ticker,
    csv_root: str = "data/csv",
    root: str = DEFAULT_ROOT,
) -> DataFrame | None:
    """Entry point 3 (merge_old_csv_to_parquet, util.rs:555-572): glob
    per-ticker CSVs → native distributed CSV scan → merge with cache →
    sort → write. The only path that sorts before writing."""
    path = f"{csv_root}/{ticker.name}"
    if not os.path.isdir(path):
        return None
    df = spark.read.option("header", True).option("inferSchema", True).csv(f"{path}/*")
    cache = read_ticker(spark, root, ticker.name)
    if cache is not None:
        df = concat_dedupe([normalize(cache), normalize(df)])
    # reference backfill formats the concat AND the write path again
    # (util.rs:555-572 → csv_merge .format() + write_parquet .format()),
    # so rule cascades get the same number of passes as refresh_ticker —
    # needed for multi-step company cascades to reach their fixpoint
    merged = canonical_sort(normalize(normalize(df)))
    write_ticker(merged, root, ticker.name)
    # parquet-backed return for the same reason as refresh_ticker
    return read_ticker(spark, root, ticker.name)


def scheduled_run(
    spark: SparkSession,
    source: Source | None = None,
    root: str = DEFAULT_ROOT,
    fetcher: Fetcher = http_fetch,
    jitter: tuple[int, int] | None = None,
    max_workers: int = 8,
) -> dict[str, Exception | None]:
    """ark_etf: fan out over the 8 scheduled tickers with optional
    per-ticker jitter (anti-thundering-herd, main.rs:45-47). Errors are
    per-ticker isolated like the reference's eprintln path."""
    if source is None:
        source = Source(os.environ.get("ARK_SOURCE", "ApiIncremental"))
    results: dict[str, Exception | None] = {}

    def run(t: Ticker) -> None:
        try:
            if jitter:
                time.sleep(random.uniform(*jitter))  # noqa: S311
            refresh_ticker(spark, t, source, root, fetcher)
            results[t.name] = None
        except Exception as e:  # noqa: BLE001 — per-ticker isolation
            results[t.name] = e

    tickers = [t for t in Ticker if t not in SCHEDULED_EXCLUDED]
    with ThreadPoolExecutor(max_workers=max_workers) as pool:
        list(pool.map(run, tickers))
    return results


def run_daemon(
    spark: SparkSession,
    schedule_times: tuple[str, ...] = ("10:00", "22:00"),
    root: str = DEFAULT_ROOT,
    fetcher: Fetcher = http_fetch,
    clock=None,
    sleeper=None,
    max_cycles: int | None = None,
) -> int:
    """O3 — the twice-daily scheduler loop (/root/reference/src/main.rs:
    114-121, clokwerk '10:00 am'/'10:00 pm'). Plain driver loop — the
    source is pull-based HTTP, so Structured Streaming is the wrong
    tool here (SURVEY A.7). ``clock``/``sleeper``/``max_cycles`` are
    injectable for tests; production callers pass none of them (or use
    external cron with the `scheduled-run` CLI instead)."""
    import datetime as _dt

    # clock() returns "HH:MM" or "YYYY-MM-DD HH:MM"; the date part (when
    # present) resets the fired-set at day rollover
    clock = clock or (lambda: _dt.datetime.now().strftime("%Y-%m-%d %H:%M"))
    sleeper = sleeper or time.sleep
    fired_today: set[str] = set()
    current_day: str | None = None
    prev_hhmm: str | None = None
    cycles = 0
    while max_cycles is None or cycles < max_cycles:
        now = clock()
        day, _, hhmm = now.rpartition(" ")
        if day and day != current_day:
            current_day = day
            fired_today.clear()
        elif not day and prev_hhmm is not None and hhmm < prev_hhmm:
            # date-less clock: a backwards HH:MM means midnight crossed —
            # without this, each schedule time would fire at most once
            # for the daemon's lifetime
            fired_today.clear()
        prev_hhmm = hhmm
        if hhmm in schedule_times and hhmm not in fired_today:
            scheduled_run(spark, root=root, fetcher=fetcher)
            fired_today.add(hhmm)
        cycles += 1
        sleeper(1)
    return cycles
