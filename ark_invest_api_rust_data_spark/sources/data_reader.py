"""HTTP → DataFrame readers (SURVEY.md §2 S3/S4).

The fetch itself is inherently single-node (one small CSV/JSON document
per ETF per day) and stays on the driver, exactly like the reference's
reqwest client (/root/reference/src/util/data_reader.rs:19-47). The
parse then hands off to Spark's own CSV and JSON inferencers, so
everything downstream is typed the same way Polars inferred it. Bodies
reach Spark as a JVM-local ``Dataset[String]`` of their lines: not
through ``sc.parallelize``, whose ``read.json(RDD)`` wraps the RDD in a
Python ``mapPartitions`` and ran Python worker tasks in every job over
the fetched day, and not through a temporary file that outlives the
call.

``fetcher`` is injectable so tests run on recorded fixture bodies with
zero network (SURVEY §5 — replaces the reference's live API tests).
"""

from __future__ import annotations

import csv as _csv
import io
import json
import urllib.request
from collections.abc import Callable

from py4j.java_gateway import JavaObject
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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
    """CSV body → inferred DataFrame (S3). The body reaches Spark as a
    JVM-local ``Dataset[String]`` of its lines (split on LF, CRLF or CR,
    as the file reader splits them), so nothing is written to disk.

    A Dataset input drops every line equal to the header, where a file
    drops only its first line; a holdings row never repeats the header.

    The parsed frame is one partition, as the one-file read was: the
    date-format budget aggregate (functions/casts.py) then plans no
    exchange, and when the duplicate-header artifact is present the
    parse-order ``_row_idx`` column (D6's positional preamble slice)
    follows file order."""
    text, had_dup = _dedup_header(text)
    jds = _lines_dataset(spark, text, sep="\r\n|[\r\n]")
    reader = spark._jsparkSession.read().option("header", True).option("inferSchema", True)
    df = DataFrame(reader.csv(jds), spark).coalesce(1)
    if had_dup:
        df = df.withColumn(ROW_IDX, F.monotonically_increasing_id())
    return df


def _lines_dataset(spark: SparkSession, text: str, sep: str = "\n") -> JavaObject:
    """``text`` split on the regex ``sep`` as a JVM-local
    ``Dataset[String]`` (a ``LocalRelation``). The text crosses py4j as
    one string and is split on the JVM: three round trips, not one per
    line."""
    jvm = spark._jvm
    lines = jvm.java.util.regex.Pattern.compile(sep).splitAsStream(text).toList()
    return spark._jsparkSession.createDataset(lines, jvm.org.apache.spark.sql.Encoders.STRING())


def _schema_of_json(spark: SparkSession, text: str) -> str:
    """``schema_of_json(text)`` evaluated on the driver: the expression
    itself, not a query over it, so no plan is built or optimized."""
    exprs = spark._jvm.org.apache.spark.sql.catalyst.expressions
    literal = getattr(getattr(exprs, "Literal$"), "MODULE$").apply(text)
    return exprs.SchemaOfJson(literal).eval(None).toString()


def json_to_df(spark: SparkSession, text: str) -> DataFrame:
    """JSON body → inferred DataFrame (S4). Accepts either a record
    list or a single object (the arkfunds.io envelope).

    The records go to the JVM as a local ``Dataset[String]``, not
    ``sc.parallelize``, so no Python worker runs in any job over the
    result. Schema and rows come from Spark's JSON inferencer and parser
    without a Spark job: the schema is ``schema_of_json`` over the
    records as one JSON array (the array's element type is the merge of
    every record's type, which is what ``read.json`` infers), and the
    rows are ``from_json`` over the Dataset, folded by the optimizer into
    a ``LocalRelation`` of typed rows. Everything downstream of a
    ``LocalRelation`` that only projects and filters folds into it too,
    so the date-format budget (functions/casts.py) counts on the driver
    and the write is the refresh's only job.

    ``read.json`` stays where the two inferencers differ: no records
    (it infers an empty schema) and any record that is not an object
    (it adds ``_corrupt_record``). Its frame is a scan of the Dataset's
    RDD, not a ``LocalRelation``."""
    parsed = json.loads(text)
    records = parsed if isinstance(parsed, list) else [parsed]
    # json.dumps never emits a raw newline; no records split to one
    # empty line, which the JSON reader skips
    rows = [json.dumps(r) for r in records]
    jds = _lines_dataset(spark, "\n".join(rows))
    if not records or not all(isinstance(r, dict) for r in records):
        return DataFrame(spark._jsparkSession.read().json(jds), spark)
    array_ddl = _schema_of_json(spark, "[" + ",".join(rows) + "]")
    struct_ddl = array_ddl[len("ARRAY<") : -len(">")]
    df = DataFrame(jds, spark).select(F.from_json("value", struct_ddl).alias("j")).select("j.*")
    # the optimized plan is that LocalRelation: a frame over it parses
    # the records once, here, not in every later optimization of a plan
    # built on the frame
    plan = df._jdf.queryExecution().optimizedPlan()
    dataset = getattr(getattr(spark._jvm.org.apache.spark.sql.classic, "Dataset$"), "MODULE$")
    return DataFrame(dataset.ofRows(spark._jsparkSession, plan), spark)


def explode_holdings(df: DataFrame) -> DataFrame:
    """U6 — arkfunds.io ``holdings: array<struct>`` → flat rows
    (/root/reference/src/util.rs:537-546)."""
    return df.select(F.explode("holdings").alias("h")).select("h.*")


