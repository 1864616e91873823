"""HTTP → DataFrame readers (SURVEY.md §2 S3/S4).

The fetch itself is inherently single-node (one small CSV/JSON document
per ETF per day) and stays on the driver, exactly like the reference's
reqwest client (/root/reference/src/util/data_reader.rs:19-47). The
parse then hands off to Spark (``spark.read.csv/json``) so everything
downstream is distributed and schema-inferred the same way Polars
inferred it. JSON bodies reach Spark as a JVM-local ``Dataset[String]``
rather than through ``sc.parallelize``: PySpark's ``read.json(RDD)``
wraps the RDD in a Python ``mapPartitions``, so every job that scanned
the fetched day (schema inference, the watermark aggregate, the
dedupe shuffle) ran Python worker tasks over a few dozen rows.

``fetcher`` is injectable so tests run on recorded fixture bodies with
zero network (SURVEY §5 — replaces the reference's live API tests).
"""

from __future__ import annotations

import csv as _csv
import io
import json
import os
import tempfile
import urllib.request
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ..operators.adapters import ROW_IDX

# Browser-ish UA + gzip, like the reference's header set
# (/root/reference/src/util/data_reader.rs:20-27).
_HEADERS = {
    "User-Agent": "Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36",
    "Accept-Encoding": "identity",
    "Accept": "text/csv,application/json,*/*",
}

Fetcher = Callable[[str], str]


def http_fetch(url: str) -> str:
    """GET with status check (reference errors on non-success)."""
    req = urllib.request.Request(url, headers=_HEADERS)
    with urllib.request.urlopen(req, timeout=60) as resp:  # noqa: S310
        if resp.status != 200:
            raise OSError(f"GET {url} -> {resp.status}")
        return resp.read().decode("utf-8", errors="replace")


def _dedup_header(text: str) -> tuple[str, bool]:
    """Replicate Polars' duplicate-header artifact: 2nd+ occurrence of
    a header name becomes ``_duplicated_{i}`` — the trigger column for
    the Europe raw-CSV adapter (D6)."""
    buf = io.StringIO(text)
    reader = _csv.reader(buf)
    try:
        header = next(reader)
    except StopIteration:
        return text, False
    seen: dict[str, int] = {}
    out_header, had_dup = [], False
    for name in header:
        if name in seen:
            out_header.append(f"_duplicated_{seen[name] - 1}")
            seen[name] += 1
            had_dup = True
        else:
            seen[name] = 1
            out_header.append(name)
    if not had_dup:
        return text, False
    rest = text.split("\n", 1)[1] if "\n" in text else ""
    w = io.StringIO()
    _csv.writer(w, lineterminator="\n").writerow(out_header)
    return w.getvalue() + rest, True


def csv_to_df(spark: SparkSession, text: str) -> DataFrame:
    """CSV body → inferred DataFrame (S3). When the duplicate-header
    artifact is present, a parse-order ``_row_idx`` column is attached
    (single small file → single partition → file order preserved) so
    the positional preamble slice (D6) is distribution-safe."""
    text, had_dup = _dedup_header(text)
    fd, path = tempfile.mkstemp(suffix=".csv")
    with os.fdopen(fd, "w") as f:
        f.write(text)
    df = (
        spark.read.option("header", True)
        .option("inferSchema", True)
        .csv(path)
    )
    if had_dup:
        from pyspark.sql import functions as F

        df = df.coalesce(1).withColumn(ROW_IDX, F.monotonically_increasing_id())
    return df


def json_to_df(spark: SparkSession, text: str) -> DataFrame:
    """JSON body → inferred DataFrame (S4). Accepts either a record
    list or a single object (the arkfunds.io envelope).

    The records go to the JVM as a local ``Dataset[String]`` (a
    ``LocalRelation``), not ``sc.parallelize``: on the JVM
    ``read.json(RDD)`` is ``read.json(createDataset(rdd))``, so schema
    inference and parsing are the same code, but no Python worker runs
    in any job that scans the result. The records cross py4j as one
    newline-joined string split on the JVM (``json.dumps`` never emits
    a raw newline), which costs three round trips instead of one per
    record.

    The frame is one partition: it is a driver-held HTTP body, and a
    global aggregate over one partition (the date-format budget in
    functions/casts.py) plans no exchange, so it runs as one job, not
    two."""
    parsed = json.loads(text)
    records = parsed if isinstance(parsed, list) else [parsed]
    jvm = spark._jvm
    # no records split to one empty line, which the JSON reader skips
    lines = (
        jvm.java.util.regex.Pattern.compile("\n")
        .splitAsStream("\n".join(json.dumps(r) for r in records))
        .toList()
    )
    jds = spark._jsparkSession.createDataset(lines, jvm.org.apache.spark.sql.Encoders.STRING())
    return DataFrame(spark._jsparkSession.read().json(jds), spark).coalesce(1)


def explode_holdings(df: DataFrame) -> DataFrame:
    """U6 — arkfunds.io ``holdings: array<struct>`` → flat rows
    (/root/reference/src/util.rs:537-546)."""
    from pyspark.sql import functions as F

    return df.select(F.explode("holdings").alias("h")).select("h.*")


