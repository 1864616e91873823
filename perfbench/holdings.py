"""``holdings_refresh``: the paper's twice-daily refresh of the eight
scheduled tickers.

Input preparation writes each ticker's bootstrap cache. The timed
section is a closed loop of ``scheduled_run`` rounds with the
incremental API source; each round fetches the next day for every
ticker except one, which is re-sent the day it merged last and must gain
no rows. An op is one ticker's refresh, timed around
``pipeline.refresh_ticker``, the name ``scheduled_run`` calls.
"""

from __future__ import annotations

import datetime
import os
import time
import urllib.parse

import duckdb
import pyarrow.parquet as pq

import gen
import harness as h
import tracing as tr

ONE_DAY = datetime.timedelta(days=1)
# a round's seconds on the 4-core reference host: 31 to 38 s for the
# first, cold round, about 22 s for the next
NOMINAL_ROUND_S = 32.0


def _instrument(ctx: h.Ctx, spark, pipeline, done: list[h.Op]) -> None:
    """Time every ticker refresh into ``done``. The traced run also wraps
    the names ``pipeline`` looks its layers up by, and runs each refresh
    in its own Spark job group (job groups are per thread, and
    ``scheduled_run`` refreshes tickers on a thread pool)."""
    if ctx.traced:
        t = ctx.tracer
        for attr, name in (
            ("normalize", "operators.normalize_plan"),
            ("incremental_merge", "operators.incremental_merge_plan"),
            ("watermark", "operators.watermark"),
            ("read_ticker", "sources.read_ticker"),
            ("json_to_df", "sources.json_to_df"),
        ):
            t.wrap(pipeline, attr, name)

        def count_bytes(rec, args, kwargs, path):
            rec["bytes"] = os.path.getsize(path)

        t.wrap(pipeline, "write_ticker", "sources.write_ticker", on_exit=count_bytes)
    refresh = pipeline.refresh_ticker
    sc = spark.sparkContext

    def refresh_ticker(spark_, ticker, *args, **kwargs):
        with ctx.span("pipeline.refresh_ticker") as rec:
            group = f"op{rec['id']}" if ctx.traced else None
            if group:
                sc.setJobGroup(group, ticker.name)
            start = time.time()
            try:
                return refresh(spark_, ticker, *args, **kwargs)
            finally:
                done.append(h.Op(ticker.name, start, time.time(), rows=0, group=group, span=rec.get("id")))
                if group:
                    sc.setJobGroup(None, None)

    pipeline.refresh_ticker = refresh_ticker


def _table_stats(con, path: str) -> tuple[int, datetime.date, int]:
    return con.execute(
        "SELECT count(*), max(date), (SELECT count(*) FROM (SELECT DISTINCT * FROM read_parquet($p))) "
        "FROM read_parquet($p)",
        {"p": path},
    ).fetchone()


def run(ctx: h.Ctx) -> dict:
    from ark_invest_api_rust_data_spark import pipeline
    from ark_invest_api_rust_data_spark.tickers import SCHEDULED_EXCLUDED, Source, Ticker

    names = [t.name for t in Ticker if t not in SCHEDULED_EXCLUDED]
    holdings = gen.Holdings(ctx.seed, names)
    root = os.path.join(ctx.work, "cache")
    os.makedirs(root)
    for n in names:
        pq.write_table(holdings.history_table(n), f"{root}/{n}.parquet")
    rows = {n: holdings.history[n] * gen.HOLDINGS_PER_DAY for n in names}
    last = {n: gen.LAST_BOOTSTRAP_DAY for n in names}
    rows_before = sum(rows.values())

    with tr.PeakRss() as rss:
        spark, setup_s = h.set_up(ctx)
        ops: list[h.Op] = []
        _instrument(ctx, spark, pipeline, ops)
        rounds: list[tuple[float, float]] = []
        for k in range(h.passes(ctx.seconds, NOMINAL_ROUND_S)):
            resend = names[k % len(names)]
            start = {n: last[n].isoformat() for n in names}
            body = {n: holdings.api_json(n, last[n] if n == resend else last[n] + ONE_DAY) for n in names}
            wrong_watermark = set()

            def fetch(url: str, start=start, body=body, wrong=wrong_watermark) -> str:
                with ctx.span("sources.fetch"):
                    q = urllib.parse.parse_qs(urllib.parse.urlparse(url).query)
                    name = q["ticker"][0]
                    if q["start"][0] != start[name]:  # the watermark pushed to the source
                        wrong.add(name)
                    return body[name]

            done = len(ops)
            with ctx.span("pipeline.scheduled_run"):
                r0 = time.time()
                res = pipeline.scheduled_run(
                    spark, source=Source.API_INCREMENTAL, root=root, fetcher=fetch,
                    max_workers=ctx.nproc,
                )
                r1 = time.time()
            rounds.append((r0, r1))
            h.log(f"round {len(rounds)} {r1 - r0:.2f}s")
            for o in ops[done:]:
                o.rows = rows[o.name] + gen.HOLDINGS_PER_DAY  # the cache it reads plus the fetched day
                o.ok = res[o.name] is None and o.name not in wrong_watermark
            for n in names:
                if res[n] is None and n != resend:
                    rows[n] += gen.HOLDINGS_PER_DAY
                    last[n] += ONE_DAY

    # output check: DuckDB over the written cache, outside timing
    con = duckdb.connect()
    wrong = set()
    for n in names:
        if _table_stats(con, f"{root}/{n}.parquet") != (rows[n], last[n], rows[n]):
            wrong.add(n)
    con.close()
    for o in ops:
        o.ok = o.ok and o.name not in wrong
    cache_bytes_per_row = sum(os.path.getsize(f"{root}/{n}.parquet") for n in names) / sum(rows.values())
    if ctx.traced:
        metrics = _layers(ctx, spark, ops, rounds, sum(rows.values()) - rows_before, cache_bytes_per_row)
    else:
        metrics = h.end_to_end(
            setup_s=setup_s,
            first_pass_s=rounds[0][1] - rounds[0][0],
            ops=ops,
            window_s=rounds[-1][1] - rounds[0][0],
            peak_rss_mb=rss.mb,
            bytes_per_row=cache_bytes_per_row,
        )
    h.shutdown()
    return {
        "correct": not wrong and all(o.ok for o in ops),
        "attempted": len(ops),
        "failed": sum(not o.ok for o in ops),
        "metrics": metrics,
    }


def _layers(ctx, spark, ops, rounds, added, bytes_per_row) -> dict:
    spans = ctx.tracer.spans  # a span's id is its index
    roots = {o.span for o in ops}
    written = [s["bytes"] for s in spans if s["name"] == "sources.write_ticker" and s["parent"] in roots]
    n = len(ops)
    extra = {
        "pipeline.scheduled_run_s": tr.median([b - a for a, b in rounds]),
        # from the spans, so that the layers' self times add up to it
        "pipeline.refresh_ticker_s": sum(spans[o.span]["end"] - spans[o.span]["start"] for o in ops) / n,
        "pipeline.queue_wait_s": sum(o.start - max(a for a, _ in rounds if a <= o.start) for o in ops) / n,
        "operators.merge_new_row_ratio": added / (n * gen.HOLDINGS_PER_DAY),
        "sources.bytes_written": sum(written) / n,
        "sources.files_written": len(written) / n,
        "sources.write_amp": sum(written) / (added * bytes_per_row),
    }
    return h.per_layer(ctx, spark, ops, extra)
