"""Parquet cache store (SURVEY.md §2 S1/S2) — two layouts.

Compat layout (reference parity): ONE ``{root}/{TICKER}.parquet`` FILE
per ticker (/root/reference/src/util.rs:92-95,100-108) — the companion
REST API reads that exact path, so the writer produces a single file
via coalesce(1) into a temp dir + atomic rename.

Lake layout (100 TB posture): hive-partitioned
``{root}/holdings/ticker=X/date=D/``. Partition pruning turns
per-ticker/per-date queries into narrow scans; incremental merges
rewrite only affected date partitions (dynamic partition overwrite)
instead of the whole history.
"""

from __future__ import annotations

import datetime
import glob
import os
import shutil
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DateType, DoubleType, LongType, StringType, StructField, StructType

from ..session import tune

# Arrow types of the canonical holdings schema and what Spark's parquet
# reader makes of them. Polars (the reference's writer) stores strings
# as large_string; Spark reads both string kinds as StringType.
_SPARK_TYPES = {
    pa.string(): StringType(),
    pa.large_string(): StringType(),
    pa.int64(): LongType(),
    pa.float64(): DoubleType(),
    pa.date32(): DateType(),
}


def footer_schema(path: str) -> StructType | None:
    """The Spark schema of a canonical-typed Parquet file, read from its
    footer on the driver: every field nullable, as Spark's file sources
    make it. None when any column has another type (under
    ``nanosAsLong`` a nanosecond timestamp reads as bigint, say), so the
    caller leaves the schema to Spark's inference."""
    fields = []
    for f in pq.read_schema(path):
        t = _SPARK_TYPES.get(f.type)
        if t is None:
            return None
        fields.append(StructField(f.name, t, True))
    return StructType(fields)


def footer_watermark(root: str, ticker: str) -> tuple[bool, datetime.date | None]:
    """U4 from the cache's footer, with no Spark job: ``(True,
    max(date))`` from the row-group statistics, ``(True, None)`` when
    no row has a date (the ``max`` aggregate's answer too). ``(False,
    None)`` when the statistics cannot answer: ``date`` is not a
    top-level date32 column, or a non-empty row group has no min/max
    and is not all null."""
    md = pq.read_metadata(_ticker_path(root, ticker))
    leaf = next((j for j in range(md.num_columns) if md.schema.column(j).path == "date"), None)
    if leaf is None or md.schema.to_arrow_schema().field("date").type != pa.date32():
        return False, None
    top = None
    for rg in range(md.num_row_groups):
        group = md.row_group(rg)
        if group.num_rows == 0:
            continue
        stats = group.column(leaf).statistics
        if stats is None:
            return False, None
        if stats.has_min_max:
            top = stats.max if top is None else max(top, stats.max)
        elif not (stats.has_null_count and stats.null_count == group.num_rows):
            return False, None
    return True, top


def _ticker_path(root: str, ticker: str) -> str:
    return f"{root}/{ticker}.parquet"


def read_ticker(spark: SparkSession, root: str, ticker: str) -> DataFrame | None:
    """S1 — lazy per-ticker cache scan; None if no cache (bootstrap).
    The schema comes from the footer (footer_schema), so the scan runs
    no inference job; a non-canonical file falls back to inference."""
    tune(spark)
    path = _ticker_path(root, ticker)
    if not os.path.exists(path):
        return None
    schema = footer_schema(path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def write_ticker(df: DataFrame, root: str, ticker: str) -> str:
    """S2 — overwrite the single-file cache. coalesce(1) is correct
    here by design: per-ticker frames are ~10⁴–10⁵ rows (BASELINE.md);
    the lake layout below is the path for anything bigger."""
    os.makedirs(root, exist_ok=True)
    final = _ticker_path(root, ticker)
    tmp = tempfile.mkdtemp(prefix=f".{ticker}_", dir=root)
    try:
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = glob.glob(f"{tmp}/part-*.parquet")[0]
        os.replace(part, final)  # atomic on same filesystem
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return final


def write_lake(
    df: DataFrame,
    root: str,
    mode: str = "overwrite",
    partition_cols: tuple[str, ...] = ("ticker", "date"),
) -> str:
    """Scale sink: ``{root}/holdings``, hive-partitioned by (ticker,
    date) by default. With ``partitionOverwriteMode=dynamic`` an
    incremental merge rewrites only the date partitions present in
    ``df``."""
    path = f"{root}/holdings"
    # per-WRITE dynamic overwrite (DataFrameWriter option overrides the
    # session conf) — a session-wide conf.set would leak into every
    # later partitioned overwrite in the session, whose dynamic-mode
    # commit skips the _SUCCESS marker the code-lake compaction's
    # committed-partition check reads
    (
        df.write.mode(mode)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(path)
    )
    return path
