"""Tests of the benchmark's own helpers (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import datetime

import pyarrow.parquet as pq
import pytest

import gen
import harness
import tracing as tr

TICKERS = ["ARKVX", "ARKF", "ARKG", "ARKK", "ARKQ", "ARKW", "ARKX", "IZRL"]


def test_holdings_generator_is_deterministic_per_seed():
    a, b, c = gen.Holdings(7, TICKERS), gen.Holdings(7, TICKERS), gen.Holdings(8, TICKERS)
    day = gen.LAST_BOOTSTRAP_DAY + datetime.timedelta(days=1)
    assert a.history_table("ARKK").equals(b.history_table("ARKK"))
    assert a.api_json("IZRL", day) == b.api_json("IZRL", day)
    assert not a.history_table("ARKK").equals(c.history_table("ARKK"))
    assert a.api_json("IZRL", day) != c.api_json("IZRL", day)
    # the seed changes values, not sizes
    for t in TICKERS:
        table = a.history_table(t)
        assert table.num_rows == a.history[t] * gen.HOLDINGS_PER_DAY == c.history_table(t).num_rows
        assert max(table["date"].to_pylist()) == gen.LAST_BOOTSTRAP_DAY


def test_holdings_days_have_distinct_securities():
    h = gen.Holdings(3, TICKERS)
    rows = h.day("ARKW", gen.LAST_BOOTSTRAP_DAY)
    assert len({r["cusip"] for r in rows}) == gen.HOLDINGS_PER_DAY
    assert abs(sum(r["weight"] for r in rows) - 100.0) < 1.0


def test_curation_tables_are_deterministic_per_seed(tmp_path):
    dirs = {}
    for name, seed in (("a", 5), ("b", 5), ("c", 6)):
        d = tmp_path / name
        d.mkdir()
        rows = gen.write_curation_tables(seed, str(d))
        dirs[name] = d
    assert rows == {"lineitem": gen.LINEITEM_ROWS, "documents": gen.DOCUMENTS, "embeddings": gen.EMBEDDINGS}
    for table in rows:
        a, b, c = (pq.read_table(dirs[n] / f"{table}.parquet") for n in "abc")
        assert a.equals(b)
        assert not a.equals(c)
        assert a.num_rows == c.num_rows


def test_pass_count_follows_seconds_not_host_speed():
    assert harness.passes(35, 32.0) == 1
    assert harness.passes(70, 32.0) == 2
    assert harness.passes(5, 40.0) == 1  # at least one
    assert harness.passes(100, 24.0) == 4


def test_median():
    assert tr.median([3.0, 1.0, 2.0]) == 2.0
    assert tr.median([4.0, 1.0, 2.0, 3.0]) == 2.5


def test_mean_wall_weighs_every_op():
    ops = [harness.Op("a", 0.0, 1.0, rows=0), harness.Op("b", 5.0, 10.0, rows=0),
           harness.Op("c", 2.0, 5.0, rows=0, ok=False)]
    assert harness.mean_wall(ops) == pytest.approx(3.0)


def test_union_counts_overlapping_job_intervals_once():
    # two tickers' jobs overlapping in time, one nested, one disjoint
    jobs = [(0.0, 2.0), (1.0, 3.0), (1.5, 2.5), (5.0, 6.0)]
    assert tr.union_length(jobs) == pytest.approx(4.0)
    assert tr.union_length([]) == 0.0
    # the driver gap of an op from 0 to 10 with those jobs
    assert 10.0 - tr.union_length(tr.clip(jobs, 0.0, 10.0)) == pytest.approx(6.0)
    # jobs reaching outside the op count only inside it
    assert tr.union_length(tr.clip([(-1.0, 1.0), (9.0, 12.0)], 0.0, 10.0)) == pytest.approx(2.0)


def test_self_time_subtracts_covered_part_of_children():
    t = tr.Tracer()
    with t.span("root"):
        with t.span("child"):
            with t.span("grandchild"):
                pass
    root, child, grand = t.spans
    assert child["parent"] == root["id"] and grand["parent"] == child["id"]
    # pin times: children overlap each other and one runs past its parent
    root.update(start=0.0, end=10.0)
    child.update(start=1.0, end=5.0)
    grand.update(start=2.0, end=3.0)
    t.spans.append({"id": 3, "name": "late", "parent": 0, "start": 4.0, "end": 12.0})
    self_t = t.self_times()
    assert self_t[0] == pytest.approx(10.0 - (10.0 - 1.0))  # children cover 1..10
    assert self_t[1] == pytest.approx(4.0 - 1.0)
    assert self_t[2] == pytest.approx(1.0)
    assert self_t[3] == pytest.approx(8.0)


def test_spans_of_other_threads_do_not_nest():
    import threading

    t = tr.Tracer()

    def ticker():
        with t.span("ticker"):
            pass

    with t.span("round"):
        th = threading.Thread(target=ticker)
        th.start()
        th.join(timeout=10)
        assert not th.is_alive()
    assert {s["name"]: s["parent"] for s in t.spans}["ticker"] is None


def test_wrap_records_span_and_returns_result():
    import types

    mod = types.SimpleNamespace(f=lambda x: x + 1)
    t = tr.Tracer()
    seen = []
    t.wrap(mod, "f", "layer.f", on_exit=lambda rec, args, kwargs, out: seen.append(out))
    assert mod.f(1) == 2
    assert seen == [2] and t.spans[0]["name"] == "layer.f"


def test_parse_size_reads_the_total():
    text = "total (min, med, max (stageId: taskId))\n1.5 KiB (0.0 B, 512.0 B, 1024.0 B (stage 3.0: task 7))"
    assert tr.parse_size(text) == 1536.0
    assert tr.parse_size("2.0 MiB") == 2 * 1024**2
    assert tr.parse_size("") == 0.0
