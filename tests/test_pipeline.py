"""End-to-end pipeline tests with recorded-fixture fetchers (SURVEY §5:
no live HTTP in CI) — write/read round-trip, incremental watermark
merge, provider adapters through the real ingestion path, sort order."""

from __future__ import annotations

import datetime
import json

import pyspark.sql.functions as F
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from ark_invest_api_rust_data_spark.operators.adapters import DataSource
from ark_invest_api_rust_data_spark.operators.merge import canonical_sort, watermark
from ark_invest_api_rust_data_spark.operators.normalize import normalize
from ark_invest_api_rust_data_spark.pipeline import csv_backfill, refresh_ticker
from ark_invest_api_rust_data_spark.sources.data_reader import (
    csv_to_df,
    explode_holdings,
    json_to_df,
)
from ark_invest_api_rust_data_spark.sources.parquet_store import read_ticker, write_ticker
from ark_invest_api_rust_data_spark.tickers import Source, Ticker

ARK_CSV = "\n".join(
    ['date,fund,company,ticker,cusip,shares,"market value ($)","weight (%)"']
    + [f'01/0{d}/2024,ARKK,TESLA INC,TSLA UW,88160R101,"1,234","$1,234,567.89",9.87%'
       for d in range(1, 8)]
    + [f'01/0{d}/2024,ARKK,COINBASE GLOBAL,COIN UQ,19260Q107,567,"$89,012.50",1.23%'
       for d in range(1, 8)]
)

API_JSON_PAGE2 = (
    '[{"company": "TESLA", "cusip": "88160R101", "date": "2024-01-09",'
    ' "market_value": 999999.0, "share_price": 200.0, "shares": 5000.0,'
    ' "ticker": "TSLA", "weight": 9.99, "weight_rank": 1}]'
)

ARKFUNDSIO_JSON = (
    '{"symbol": "ARKK", "date_from": "2024-01-01", "holdings": ['
    '{"company": "TESLA", "cusip": "88160R101", "date": "2024-01-10",'
    ' "market_value": 888888.0, "share_price": 180.0, "shares": 4000.0,'
    ' "ticker": "TSLA", "weight": 8.88, "weight_rank": 1}]}'
)


def test_parquet_roundtrip(spark, tmp_path):
    """read_write_parquet golden test (util.rs:584-594)."""
    df = normalize(csv_to_df(spark, ARK_CSV))
    write_ticker(df, str(tmp_path), "ARKK")
    back = read_ticker(spark, str(tmp_path), "ARKK")
    assert back is not None
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))
    assert back.schema == df.schema


def test_refresh_bootstrap_then_incremental(spark, tmp_path):
    """Cold bootstrap (ApiFull-style CSV) then ApiIncremental: the
    second fetch's URL must carry the cache watermark (pushdown), and
    the merge must dedupe the overlap."""
    root = str(tmp_path)
    urls = []

    def fake_fetch(url: str) -> str:
        urls.append(url)
        return ARK_CSV

    out1 = refresh_ticker(spark, Ticker.ARKK, Source.ARK, root, fake_fetch)
    n1 = out1.count()
    assert n1 == 14

    def fake_api(url: str) -> str:
        urls.append(url)
        return API_JSON_PAGE2

    out2 = refresh_ticker(spark, Ticker.ARKK, Source.API_INCREMENTAL, root, fake_api)
    assert out2.count() == n1 + 1
    assert "start=2024-01-07" in urls[-1]  # watermark pushed to source

    # idempotent re-run: same update again → no growth
    out3 = refresh_ticker(spark, Ticker.ARKK, Source.API_INCREMENTAL, root, fake_api)
    assert out3.count() == n1 + 1


# py4j round trips (`c` + `r` commands) of one API-incremental
# refresh_ticker on a warmed session: 9,057 when normalize rebuilt its
# constant trees and column lists on every call, 195 with them built
# once per JVM.
MAX_REFRESH_ROUND_TRIPS = 1000


def test_refresh_ticker_round_trip_budget(spark, tmp_path, py4j_commands):
    root = str(tmp_path)
    write_ticker(normalize(csv_to_df(spark, ARK_CSV)), root, "ARKK")
    refresh_ticker(spark, Ticker.ARKK, Source.API_INCREMENTAL, root, lambda url: API_JSON_PAGE2)
    py4j_commands.clear()
    out = refresh_ticker(spark, Ticker.ARKK, Source.API_INCREMENTAL, root, lambda url: API_JSON_PAGE2)
    round_trips = py4j_commands["c"] + py4j_commands["r"]
    assert round_trips <= MAX_REFRESH_ROUND_TRIPS, dict(py4j_commands)
    assert out.count() == 15


# Spark jobs of a warm API-incremental refresh_ticker: the dedupe-and-
# write, and nothing else. The cache's schema and watermark come from
# its Parquet footer, and the fetched day folds into a LocalRelation, so
# its schema inference and date-format budget run on the driver (8 jobs
# when the cache's were Spark actions and the driver-sized frames kept
# their shuffles, 3 while the fetched day was read with read.json).
REFRESH_JOBS = 1


def test_refresh_ticker_job_budget(spark, tmp_path, spark_jobs):
    root = str(tmp_path)
    write_ticker(normalize(csv_to_df(spark, ARK_CSV)), root, "ARKK")
    refresh_ticker(spark, Ticker.ARKK, Source.API_INCREMENTAL, root, lambda url: API_JSON_PAGE2)
    for _ in range(2):
        with spark_jobs() as jobs:
            refresh_ticker(spark, Ticker.ARKK, Source.API_INCREMENTAL, root, lambda url: API_JSON_PAGE2)
        assert len(jobs) == REFRESH_JOBS, jobs


# Spark jobs of an ARK-source refresh_ticker (a CSV body): CSV schema
# inference, the date-format budget aggregate over the one-partition
# parsed body, and the write (5 while the body was read from a temp
# file).
ARK_REFRESH_JOBS = 3


def test_ark_refresh_job_budget(spark, tmp_path, spark_jobs):
    root = str(tmp_path)
    refresh_ticker(spark, Ticker.ARKK, Source.ARK, root, lambda url: ARK_CSV)
    with spark_jobs() as jobs:
        refresh_ticker(spark, Ticker.ARKK, Source.ARK, root, lambda url: ARK_CSV)
    assert len(jobs) == ARK_REFRESH_JOBS, jobs


def test_ark_refresh_leaves_no_temp_file(spark, tmp_path, monkeypatch):
    """The CSV body reaches Spark from memory: an ARK-source refresh
    writes nothing into the temp directory."""
    import tempfile

    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setenv("TMPDIR", str(tmp))
    monkeypatch.setattr(tempfile, "tempdir", None)
    out = refresh_ticker(spark, Ticker.ARKK, Source.ARK, str(tmp_path / "lake"), lambda url: ARK_CSV)
    assert out.count() == 14
    assert tempfile.gettempdir() == str(tmp)
    assert not list(tmp.glob("tmp*.csv"))


def _canonical_table(dates, date_type=None, string_type=None):
    """A canonical holdings table in pyarrow, one holding per date:
    the shape the reference's Polars writer leaves, with ``ticker`` and
    ``company`` as ``string_type`` (Polars stores large_string)."""
    import pyarrow as pa

    n = len(dates)
    return pa.table({
        "date": pa.array(dates, date_type or pa.date32()),
        "ticker": pa.array(["TSLA"] * n, string_type or pa.string()),
        "cusip": pa.array([f"C{i}" for i in range(n)], pa.string()),
        "company": pa.array(["TESLA"] * n, string_type or pa.string()),
        "market_value": pa.array(range(n), pa.int64()),
        "shares": pa.array(range(n), pa.int64()),
        "share_price": pa.array([1.5] * n, pa.float64()),
        "weight": pa.array([0.5] * n, pa.float64()),
    })


def _days(*ds):
    return [None if d is None else datetime.date(2024, 1, d) for d in ds]


def test_footer_schema_equals_inferred_schema(spark, tmp_path):
    """read_ticker takes a canonical cache's schema from its footer:
    equal to Spark's inference, nullability included, for a Spark-
    written cache and for a pyarrow-written one with string and
    large_string columns. A string ``date`` is a string column like any
    other (inference reads it as string too); a nanosecond timestamp
    (bigint under nanosAsLong) is left to inference."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ark_invest_api_rust_data_spark.sources.parquet_store import footer_schema

    root = str(tmp_path)
    write_ticker(normalize(csv_to_df(spark, ARK_CSV)), root, "SPARK")
    pq.write_table(_canonical_table(_days(1, 2), string_type=pa.large_string()), f"{root}/LARGE.parquet")
    text_dates = _canonical_table(["2024-01-01", "2024-01-02"], date_type=pa.string())
    pq.write_table(text_dates, f"{root}/TEXT.parquet")
    stamps = pa.array([datetime.datetime(2024, 1, 1)], pa.timestamp("ns"))
    pq.write_table(pa.table({"ts": stamps, "ticker": ["TSLA"]}), f"{root}/NANOS.parquet")
    assert pq.read_schema(f"{root}/LARGE.parquet").field("ticker").type == pa.large_string()
    for ticker in ("SPARK", "LARGE", "TEXT", "NANOS"):
        path = f"{root}/{ticker}.parquet"
        inferred = spark.read.parquet(path).schema
        assert read_ticker(spark, root, ticker).schema == inferred, ticker
        if ticker != "NANOS":
            assert footer_schema(path) == inferred, ticker
    assert footer_schema(f"{root}/NANOS.parquet") is None
    assert spark.read.parquet(f"{root}/NANOS.parquet").schema["ts"].dataType.typeName() == "long"


# name -> (dates, pyarrow write options, whether the statistics answer)
_WATERMARK_CACHES = {
    "row_groups": (_days(3, 9, 1, 7, 2, 8, 4, 5), {"row_group_size": 2}, True),
    "all_null_row_group": (_days(5, 6, None, None, 2), {"row_group_size": 2}, True),
    "no_rows": ([], {}, True),
    "no_statistics": (_days(1, 2, 3), {"write_statistics": False}, False),
    "text_dates": (["2024-01-01", "2024-01-03"], {}, False),
}


@pytest.mark.parametrize("name", sorted(_WATERMARK_CACHES))
def test_footer_watermark_equals_aggregate(spark, tmp_path, name):
    """The refresh's watermark from the row-group statistics equals the
    aggregate ``watermark(normalize(cache))``; where the statistics
    cannot answer, footer_watermark says so and the refresh runs the
    aggregate."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ark_invest_api_rust_data_spark.sources.parquet_store import footer_watermark

    dates, kwargs, answers = _WATERMARK_CACHES[name]
    date_type = pa.string() if name == "text_dates" else None
    path = f"{tmp_path}/ARKK.parquet"
    pq.write_table(_canonical_table(dates, date_type=date_type), path, **kwargs)
    if name == "row_groups":
        assert pq.read_metadata(path).num_row_groups == 4
    known, last_day = footer_watermark(str(tmp_path), "ARKK")
    assert known is answers
    if known:
        assert last_day == watermark(normalize(spark.read.parquet(path)))
    else:
        assert last_day is None


def test_one_partition_only_on_driver_sized_frames(spark, tmp_path):
    """The fetched day is a LocalRelation and the refresh's merge one
    partition, so the budget counts on the driver and the dedupe plans
    no exchange. The large-frame paths keep theirs: concat_dedupe (the
    CSV backfill) still hashes the rows across partitions, and
    normalize adds no repartitioning."""
    from ark_invest_api_rust_data_spark.operators.merge import concat_dedupe, incremental_merge

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    update = json_to_df(spark, API_JSON_PAGE2)
    assert update._jdf.queryExecution().optimizedPlan().getClass().getSimpleName() == "LocalRelation"
    root = str(tmp_path)
    write_ticker(normalize(csv_to_df(spark, ARK_CSV)), root, "ARKK")
    cache = read_ticker(spark, root, "ARKK")
    assert "Exchange" not in plan(incremental_merge(cache, update))

    rows = [(f"01/0{d}/2024", "TESLA INC", "TSLA UW", "88160R101", 9.5) for d in range(1, 8)]
    wide = spark.createDataFrame(rows, "date string, company string, ticker string, cusip string, weight double")
    assert wide.rdd.getNumPartitions() > 1
    normalized = normalize(wide)
    logical = normalized._jdf.queryExecution().optimizedPlan().toString()
    assert "Repartition" not in logical and "Coalesce" not in logical, logical
    assert normalized.rdd.getNumPartitions() == wide.rdd.getNumPartitions()
    assert "Exchange hashpartitioning" in plan(concat_dedupe([normalize(cache), normalized]))


def test_tune_raises_what_is_not_an_unmodifiable_conf(spark, monkeypatch):
    """tune keeps the session's value of a conf it may not modify, and
    lets any other failure of ``spark.conf.set`` through."""
    from ark_invest_api_rust_data_spark import session

    monkeypatch.setitem(session.RUNTIME_CONF, "spark.sql.warehouse.dir", "/nonexistent")
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    session.tune(spark)
    assert spark.conf.get("spark.sql.warehouse.dir") == warehouse

    def gateway_gone(key, value):
        raise RuntimeError("gateway gone")

    monkeypatch.setattr(spark.conf, "set", gateway_gone)
    with pytest.raises(RuntimeError, match="gateway gone"):
        session.tune(spark)


def test_session_leaves_no_temp_files(tmp_path):
    """A process that starts a session, uses its catalog and exits
    leaves neither the shipped package zip nor a warehouse directory of
    its own in the temp directory, and no ./spark-warehouse in its
    working directory."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tmp, cwd = tmp_path / "tmp", tmp_path / "cwd"
    tmp.mkdir()
    cwd.mkdir()
    code = (
        "from ark_invest_api_rust_data_spark.session import get_spark\n"
        "spark = get_spark(master='local[1]', shuffle_partitions=1)\n"
        "assert [d.name for d in spark.catalog.listDatabases()] == ['default']\n"
        "spark.stop()\n"
    )
    env = dict(os.environ, TMPDIR=str(tmp), PYTHONPATH=repo, SPARK_DRIVER_MEMORY="1g")
    env.pop("SPARK_WAREHOUSE_DIR", None)
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd=cwd, env=env, capture_output=True, text=True, timeout=300
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    left = sorted(os.listdir(tmp))
    assert not [n for n in left if n.startswith(("ark_spark_pkg_", "spark-warehouse-"))], left
    assert not (cwd / "spark-warehouse").exists()


def test_arkfundsio_explode_path(spark, tmp_path):
    """U6: nested holdings list-of-structs is exploded/unnested
    (util.rs:537-546)."""
    out = refresh_ticker(
        spark, Ticker.ARKK, Source.ARKFUNDSIO_FULL, str(tmp_path), lambda url: ARKFUNDSIO_JSON
    )
    r = out.first()
    assert r["ticker"] == "TSLA" and r["market_value"] == 888888
    assert r["date"] == datetime.date(2024, 1, 10)


def test_europe_duplicate_header_csv(spark):
    """D6 through the real CSV reader: duplicate header → _duplicated_0
    artifact → 2-row preamble slice → positional rename."""
    text = "\n".join(
        [
            "col,col,col",
            "junk1,junk1,junk1",
            "junk2,junk2,junk2",
            "ACME HOLDINGS,IE00ACME,4.5",
            "OTHER PLC,IE00OTHR,2.5",
        ]
    )
    df = csv_to_df(spark, text)
    assert "_duplicated_0" in df.columns
    out = normalize(df, DataSource.ARK_EUROPE)
    rows = {r["cusip"]: r for r in out.collect()}
    assert set(rows) == {"IE00ACME", "IE00OTHR"}
    assert rows["IE00ACME"]["company"] == "ACME"  # " HOLDINGS" stripped? no: first-occ HOLDINGS
    assert rows["IE00ACME"]["date"] == datetime.date.today()
    assert rows["IE00ACME"]["weight"] == 4.5


def test_canonical_sort_order(spark):
    """U3: date asc, weight desc, nulls first (Polars nulls_last=false)."""
    df = spark.createDataFrame(
        [
            (datetime.date(2024, 1, 2), 1.0),
            (datetime.date(2024, 1, 1), 5.0),
            (datetime.date(2024, 1, 1), None),
            (None, 3.0),
            (datetime.date(2024, 1, 1), 9.0),
        ],
        "date date, weight double",
    )
    got = [tuple(r) for r in canonical_sort(df).collect()]
    assert got == [
        (None, 3.0),
        (datetime.date(2024, 1, 1), None),
        (datetime.date(2024, 1, 1), 9.0),
        (datetime.date(2024, 1, 1), 5.0),
        (datetime.date(2024, 1, 2), 1.0),
    ]


def test_watermark(spark):
    df = normalize(csv_to_df(spark, ARK_CSV))
    assert watermark(df) == datetime.date(2024, 1, 7)


def test_json_api_shape(spark):
    """B2 fixture shape: flat JSON records parse + normalize."""
    df = json_to_df(spark, API_JSON_PAGE2)
    out = normalize(df)
    r = out.first()
    assert r["share_price"] == 200.0 and r["shares"] == 5000
    assert out.columns[:4] == ["date", "ticker", "cusip", "company"]


def _json_via_python_rdd(spark, text: str):
    """The reader json_to_df replaced: records through sc.parallelize."""
    parsed = json.loads(text)
    records = parsed if isinstance(parsed, list) else [parsed]
    return spark.read.json(spark.sparkContext.parallelize([json.dumps(r) for r in records]))


_JSON_EDGES = {
    "bigint_beyond_long": '[{"a": 12345678901234567890123, "b": 1}]',
    "int_float_mix": '[{"x": 1, "y": 2.5}, {"x": 2.5, "y": 3}]',
    "all_null_field": '[{"n": null, "a": 1}, {"n": null, "a": 2}]',
    "nested": '[{"s": {"t": [1, 2], "u": {"v": "w"}}, "arr": [{"k": "v"}, {"k": null}]}]',
    "non_ascii": '[{"company": "Caf\u00e9 \u6771\u4eac \u2014 S.A.", "e": "\ud83d\ude80"}]',
    "empty_list": "[]",
    "empty_object": "[{}]",
    "non_object_element": '[1, {"a": 1}, "s"]',
    "envelope": ARKFUNDSIO_JSON,
    "api_page": API_JSON_PAGE2,
}


def _assert_same_frame(got, want):
    assert got.schema == want.schema
    assert sorted(map(str, got.collect())) == sorted(map(str, want.collect()))


def _recorded_json_body(name: str) -> str:
    """The JSON bodies the other tests and the benchmark feed the reader."""
    if name == "chaos_api_page":
        from _retry_chaos_runner import API_JSON

        return API_JSON
    from perfbench import gen

    tickers = [t.name for t in Ticker][: len(gen.HISTORY_DAYS)]
    day = gen.LAST_BOOTSTRAP_DAY + datetime.timedelta(days=1)
    return gen.Holdings(77, tickers).api_json(tickers[0], day)


@pytest.mark.parametrize("name", sorted(_JSON_EDGES) + ["chaos_api_page", "perfbench_api_day"])
def test_json_to_df_matches_python_rdd_reader(spark, name):
    """Same schema and rows as the sc.parallelize reader on every edge
    input and recorded body (Spark infers and parses the same way for
    both origins)."""
    text = _JSON_EDGES[name] if name in _JSON_EDGES else _recorded_json_body(name)
    got, want = json_to_df(spark, text), _json_via_python_rdd(spark, text)
    if name == "envelope":
        got, want = explode_holdings(got), explode_holdings(want)
    _assert_same_frame(got, want)


def test_json_to_df_runs_no_python_worker(spark):
    """The fetched day reaches Spark as a JVM-local Dataset: no
    PythonRDD in the lineage any job over it would run."""

    def lineage(df):
        return df._jdf.queryExecution().toRdd().toDebugString()

    assert "PythonRDD" not in lineage(json_to_df(spark, API_JSON_PAGE2))
    assert "PythonRDD" in lineage(_json_via_python_rdd(spark, API_JSON_PAGE2))


_JSON_KEYS = st.sampled_from(["a", "b", "date", "market value ($)", "weight"])
_JSON_SCALARS = st.one_of(
    st.none(),
    st.booleans(),
    # past 2**63 the inferencer picks decimal(p,0), past 10**38 double
    st.integers(-(2**130), 2**130),
    st.integers(-5, 5),
    st.floats(allow_nan=False, allow_infinity=False),
    st.text(st.characters(blacklist_categories=("Cs",)), max_size=6),
)


def _json_containers(inner):
    return st.lists(inner, max_size=3) | st.dictionaries(_JSON_KEYS, inner, max_size=3)


_JSON_VALUES = st.recursive(_JSON_SCALARS, _json_containers, max_leaves=6)
_JSON_RECORDS = st.lists(st.dictionaries(_JSON_KEYS, _JSON_VALUES, max_size=4), min_size=1, max_size=4)


@settings(max_examples=30, deadline=None)
@given(records=_JSON_RECORDS)
def test_json_to_df_matches_python_rdd_reader_on_generated_records(spark, records):
    """Flat records, long/double and string/number mixes, missing keys,
    nested nulls, integers past 2**63 and nested array<struct>: the
    driver-side schema and from_json rows equal read.json's."""
    text = json.dumps(records)
    _assert_same_frame(json_to_df(spark, text), _json_via_python_rdd(spark, text))


def _csv_via_file(spark, text: str, path):
    """The reader csv_to_df replaced: the body written to a file."""
    from ark_invest_api_rust_data_spark.operators.adapters import ROW_IDX
    from ark_invest_api_rust_data_spark.sources.data_reader import _dedup_header

    text, had_dup = _dedup_header(text)
    path.write_bytes(text.encode())
    df = spark.read.option("header", True).option("inferSchema", True).csv(str(path))
    if had_dup:
        df = df.coalesce(1).withColumn(ROW_IDX, F.monotonically_increasing_id())
    return df


def _csv_bodies() -> dict[str, str]:
    from ark_invest_api_rust_data_spark.__main__ import DEMO_CSV
    from ark_invest_api_rust_data_spark.plans.parity import _EUROPE_RAW_CSV

    return {
        "ark": ARK_CSV,
        "europe_raw": _EUROPE_RAW_CSV,
        "demo": DEMO_CSV,
        "crlf": ARK_CSV.replace("\n", "\r\n") + "\r\n",
        "blank_lines": ARK_CSV.replace("\n", "\n\n", 3) + "\n",
    }


@pytest.mark.parametrize("name", sorted(_csv_bodies()))
def test_csv_to_df_matches_file_reader(spark, tmp_path, name):
    """Same schema and rows, in the same order, as reading the body
    from a file: the ARK fixture, the duplicate-header Europe body (its
    parse-order _row_idx included) and other line endings."""
    text = _csv_bodies()[name]
    got, want = csv_to_df(spark, text), _csv_via_file(spark, text, tmp_path / "body.csv")
    assert got.rdd.getNumPartitions() == 1
    assert got.schema == want.schema
    assert got.collect() == want.collect()


# name -> (the date column, the format the budget picks; None keeps the
# string column)
_BUDGET_COLUMNS = {
    "us": (["1/9/2024"] * 9 + ["2024-01-09"], "M/d/yyyy"),
    "rejects_us": (["2024/1/9"] * 9 + ["1/9/2024"], "yyyy/M/d"),
    "iso": (["2024-01-09", "2024-1-9", "junk"] + ["2024-01-10"] * 7, "ISO"),
    "none_fits": (["junk"] * 5 + ["1/9/2024"] * 5, None),
}


@pytest.mark.parametrize("name", sorted(_BUDGET_COLUMNS))
def test_budget_branches_pick_the_same_format(spark, tmp_path, spark_jobs, name):
    """parse_date_with_budget counts a LocalRelation's rows on the
    driver (no job) and runs the aggregate on any other frame: both
    pick the same format, so both parse to the same rows."""
    from ark_invest_api_rust_data_spark.functions.casts import parse_date_with_budget

    dates, fmt = _BUDGET_COLUMNS[name]
    local = json_to_df(spark, json.dumps([{"date": d, "i": i} for i, d in enumerate(dates)]))
    local.coalesce(1).write.parquet(str(tmp_path / "p"))
    scanned = spark.read.parquet(str(tmp_path / "p"))
    outs = []
    for frame in (local, scanned):
        with spark_jobs() as jobs:
            outs.append(parse_date_with_budget(frame))
        assert bool(jobs) is (frame is scanned), jobs
    _assert_same_frame(*outs)
    got = {r["i"]: r["date"] for r in outs[0].collect()}
    if fmt is None:
        assert got == dict(enumerate(dates))
    else:
        # the one value the picked format does not parse is null
        assert got[0] == datetime.date(2024, 1, 9)
        assert sum(v is None for v in got.values()) == 1


def test_read_back_with_written_schema_equals_inferred_read(spark, tmp_path):
    """refresh_ticker and csv_backfill return the cache they wrote, read
    with the schema from its footer (no inference job). Schema
    (nullability included) and rows equal a plain inferring read of the
    file."""
    root = str(tmp_path / "parquet")
    out = refresh_ticker(spark, Ticker.ARKK, Source.API_FULL, root, lambda url: API_JSON_PAGE2)
    csv_root = tmp_path / "csv"
    (csv_root / "ARKQ").mkdir(parents=True)
    (csv_root / "ARKQ" / "part1.csv").write_text(ARK_CSV)
    out2 = csv_backfill(spark, Ticker.ARKQ, str(csv_root), root)
    for ticker, got in (("ARKK", out), ("ARKQ", out2)):
        plain = spark.read.parquet(f"{root}/{ticker}.parquet")
        assert got.schema == plain.schema
        assert sorted(map(str, got.collect())) == sorted(map(str, plain.collect()))


def test_lake_partitioned_roundtrip(spark, tmp_path):
    """Scale-layout sink: hive-partitioned (ticker, date) lake with
    dynamic partition overwrite — an incremental merge must rewrite
    only the partitions it touches."""
    from ark_invest_api_rust_data_spark.sources.parquet_store import write_lake

    root = str(tmp_path)
    df = normalize(csv_to_df(spark, ARK_CSV))
    assert write_lake(df, root) == f"{root}/holdings"
    back = spark.read.parquet(f"{root}/holdings")
    assert back.count() == df.count()
    # partition pruning: a ticker+date slice must read a narrow subset
    one = back.filter(
        (F.col("ticker") == "TSLA") & (F.col("date") == datetime.date(2024, 1, 3))
    )
    assert one.count() == 1
    # dynamic overwrite (write_lake's per-write option, not the
    # session conf): rewrite ONE date with changed shares; other
    # partitions must survive
    patch = df.filter(F.col("date") == datetime.date(2024, 1, 3)).withColumn(
        "shares", F.col("shares") * 2
    )
    write_lake(patch, root, mode="overwrite")
    back2 = spark.read.parquet(f"{root}/holdings")
    assert back2.count() == df.count()  # other dates intact
    changed = back2.filter(
        (F.col("ticker") == "TSLA") & (F.col("date") == datetime.date(2024, 1, 3))
    ).first()
    assert changed["shares"] == 2468


def test_scheduled_run_fans_out_with_error_isolation(spark, tmp_path):
    """O5: the scheduled run hits exactly the 8 non-excluded tickers,
    and one ticker failing leaves the others intact (main.rs:62-98)."""
    from ark_invest_api_rust_data_spark.pipeline import scheduled_run
    from ark_invest_api_rust_data_spark.tickers import SCHEDULED_EXCLUDED, Source, Ticker

    calls = []

    def fetch(url: str) -> str:
        calls.append(url)
        if "ARKW" in url:
            raise OSError("simulated upstream 500")
        return ARK_CSV

    results = scheduled_run(
        spark, source=Source.ARK, root=str(tmp_path), fetcher=fetch, max_workers=4
    )
    expected = {t.name for t in Ticker if t not in SCHEDULED_EXCLUDED}
    assert set(results) == expected and len(expected) == 8
    assert isinstance(results["ARKW"], OSError)
    ok = [k for k, v in results.items() if v is None]
    assert len(ok) == 7  # everyone else succeeded
    import os

    assert os.path.exists(f"{tmp_path}/ARKK.parquet")
    assert not os.path.exists(f"{tmp_path}/ARKW.parquet")


def test_dtype_repair_golden(spark):
    """C9 (util.rs:452-476): mistyped numeric columns are repaired —
    float market_value/shares → long, long share_price/weight → double."""
    from ark_invest_api_rust_data_spark.functions.casts import repair_dtypes

    df = spark.createDataFrame(
        [(1234.0, 10.0, 100, 5)],
        "market_value double, shares double, share_price long, weight long",
    )
    out = repair_dtypes(df)
    assert dict(out.dtypes) == {
        "market_value": "bigint",
        "shares": "bigint",
        "share_price": "double",
        "weight": "double",
    }
    r = out.first()
    assert (r["market_value"], r["shares"], r["share_price"], r["weight"]) == (1234, 10, 100.0, 5.0)


def test_read_only_mode(spark, tmp_path):
    """O6: Source.READ serves the cache, errors when absent
    (util.rs:57-60)."""
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        refresh_ticker(spark, Ticker.ARKK, Source.READ, str(tmp_path))
    df = normalize(csv_to_df(spark, ARK_CSV))
    write_ticker(df, str(tmp_path), "ARKK")
    out = refresh_ticker(spark, Ticker.ARKK, Source.READ, str(tmp_path))
    assert out.count() == df.count()


def test_csv_backfill_roundtrip_with_cascade(spark, tmp_path):
    """Backfill entry point (merge_old_csv_to_parquet, util.rs:555-572):
    glob CSVs → merge with cache → sort → write. The reference formats
    the backfill frame multiple times, so a multi-step company cascade
    (ROCKET LAB USA INC → ROCKET LAB USA → ROCKET LAB) must reach its
    fixpoint here too, on BOTH the bootstrap and the merge path."""
    cascade_csv = "\n".join(
        ['date,fund,company,ticker,cusip,shares,"market value ($)","weight (%)"']
        + ['01/03/2024,ARKK,ROCKET LAB USA INC,RKLB UW,77312X108,100,"$1,000.00",1.00%']
    )
    csv_root = tmp_path / "csv"
    (csv_root / "ARKK").mkdir(parents=True)
    (csv_root / "ARKK" / "part1.csv").write_text(cascade_csv)
    root = str(tmp_path / "parquet")

    # bootstrap (no cache): cascade must be fully collapsed
    out = csv_backfill(spark, Ticker.ARKK, str(csv_root), root)
    assert out is not None
    row = out.filter(F.col("ticker") == "RKLB").first()
    assert row["company"] == "ROCKET LAB"

    # merge path (cache present): write a cache, backfill again
    write_ticker(normalize(csv_to_df(spark, ARK_CSV)), root, "ARKK")
    out2 = csv_backfill(spark, Ticker.ARKK, str(csv_root), root)
    assert out2.filter(F.col("ticker") == "RKLB").first()["company"] == "ROCKET LAB"
    assert out2.count() == 15  # 14 cache rows + 1 backfill row
    # round-trip: written cache equals the returned frame
    back = read_ticker(spark, root, "ARKK")
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, out2.collect()))

    # missing dir → None
    assert csv_backfill(spark, Ticker.ARKQ, str(csv_root), root) is None


def test_daemon_bare_clock_day_rollover(spark, tmp_path):
    """A date-less HH:MM clock must re-arm schedule times when the
    observed time rolls backwards (midnight crossing)."""
    from ark_invest_api_rust_data_spark.pipeline import run_daemon

    runs = []

    def fetch(url):
        runs.append(url)
        return ARK_CSV

    ticks = iter(["22:00", "23:30", "00:10", "10:00", "22:00"])
    run_daemon(
        spark,
        root=str(tmp_path),
        fetcher=fetch,
        clock=lambda: next(ticks),
        sleeper=lambda s: None,
        max_cycles=5,
    )
    # 8 scheduled tickers × 3 firings: 22:00, then (post-rollover) 10:00
    # and 22:00 again — without the rollover reset the last would not fire
    assert len(runs) == 24


def test_daemon_fires_on_schedule(spark, tmp_path):
    """O3: the scheduler loop fires exactly at configured times, once
    per time slot (injectable clock/sleeper — no real sleeping)."""
    from ark_invest_api_rust_data_spark.pipeline import run_daemon

    runs = []

    def fetch(url):
        runs.append(url)
        return ARK_CSV

    ticks = iter(["09:59", "10:00", "10:00", "13:37", "22:00", "23:00"])
    run_daemon(
        spark,
        root=str(tmp_path),
        fetcher=fetch,
        clock=lambda: next(ticks),
        sleeper=lambda s: None,
        max_cycles=6,
    )
    # 8 scheduled tickers × 2 firings (10:00 fired once despite two ticks)
    assert len(runs) == 16


def test_observe_quality_counters_ride_the_write(spark, tmp_path):
    """Observation metrics accumulate on the existing action (no extra
    scan): normalize the ARK fixture, write it, read the counters."""
    from ark_invest_api_rust_data_spark.functions.observability import observe_quality
    from ark_invest_api_rust_data_spark.operators.normalize import normalize

    raw = csv_to_df(spark, ARK_CSV)
    bad = raw.limit(1).withColumn("date", F.lit("not/a/date"))
    frame = normalize(raw.unionByName(bad))
    observed, obs = observe_quality(frame)
    observed.write.mode("overwrite").parquet(str(tmp_path / "out"))
    got = obs.get
    # the unparseable date row is dropped by the null-date filter (P4),
    # so the observed frame counts only clean rows with zero nulls
    assert got["rows"] == 14
    assert got["null_dates"] == 0
    assert got["unidentified_rows"] == 0
    assert got["negative_market_values"] == 0
    assert got["max_weight"] > 0


def test_refresh_ticker_quality_metrics(spark, tmp_path):
    """quality_metrics rides the cache write: counters filled with no
    extra action."""
    metrics = {}
    refresh_ticker(
        spark,
        Ticker.ARKK,
        source=Source.ARK,
        root=str(tmp_path / "lake"),
        fetcher=lambda url: ARK_CSV,
        quality_metrics=metrics,
    )
    assert metrics["rows"] == 14
    assert metrics["null_dates"] == 0
    assert metrics["unidentified_rows"] == 0


