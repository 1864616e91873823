"""Lake-layout read-path probes (SURVEY.md §2 S1/S2 at scale).

write_lake (sources/parquet_store.py) is the 100 TB sink: hive-
partitioned parquet whose per-ticker/per-date reads become narrow,
partition-pruned scans. The round-1 tests proved the WRITE path; this
probe proves the READ path the way a warehouse query would use it —
write a partitioned lake, read it back through a partition filter, and
aggregate. The oracle computes the same answer straight from the source
table, so a pruning bug that silently drops or duplicates partitions
hash-mismatches. tests/test_plans.py additionally asserts the physical
plan scans ONLY the selected partitions (PartitionFilters, no full-lake
file listing in the scan).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..catalog import load_table
from ..sources.parquet_store import write_lake
from .base import Probe

_LAKE_CACHE: dict[tuple[str, str], str] = {}


def build_orders_lake(spark: SparkSession, sf: str) -> str:
    """Materialize orders as a (status, month) hive-partitioned lake in
    a temp dir (cached per sf within the process — probes may rerun)."""
    key = (spark.sparkContext.applicationId, sf)
    path = _LAKE_CACHE.get(key)
    if path and os.path.isdir(f"{path}/holdings"):
        return path
    root = tempfile.mkdtemp(prefix="orders_lake_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    orders = load_table(spark, sf, "orders").withColumns(
        {
            "ticker": F.col("o_orderstatus"),
            "date": F.date_trunc("month", F.col("o_orderdate")).cast("date"),
        }
    )
    write_lake(orders, root)
    _LAKE_CACHE[key] = root
    return root


def s02_lake_pruned_read(spark: SparkSession, sf: str) -> DataFrame:
    """Partition-pruned lake read: one status, one year of months —
    the scan touches only ticker=F/date=1997-* directories."""
    root = build_orders_lake(spark, sf)
    lake = spark.read.parquet(f"{root}/holdings")
    return (
        lake.filter(
            (F.col("ticker") == "F")
            & (F.col("date") >= F.lit("1997-01-01").cast("date"))
            & (F.col("date") < F.lit("1998-01-01").cast("date"))
        )
        .groupBy("date")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(12,2)"))
            .cast("double")
            .alias("total"),
        )
    )


S02_LAKE_SQL = """
SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS date,
       count(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
FROM orders
WHERE o_orderstatus = 'F'
  AND date_trunc('month', o_orderdate) >= DATE '1997-01-01'
  AND date_trunc('month', o_orderdate) <  DATE '1998-01-01'
GROUP BY 1
"""

def s05_zorder_key(spark: SparkSession, sf: str) -> DataFrame:
    """S1-S2 extension — Morton (z-order) clustering key over
    (user_id, event day): the multi-dimensional lake-layout key that
    makes parquet min/max skipping work on EVERY clustered column
    (operators/zorder.py; layout prunability proven by
    tests/test_zorder.py). The probe pins the bit-interleave math —
    pure integer shifts, recomputed by the oracle with `//` and
    power-of-two multiplies."""
    from ..operators.zorder import z_value

    ev = load_table(spark, sf, "events")
    day = F.greatest(
        F.datediff(F.to_date("ts"), F.to_date(F.lit("2024-01-01"))), F.lit(0)
    )
    return ev.select(
        "event_id", z_value([F.col("user_id"), day], bits=16).alias("z")
    )


def _zorder_sql() -> str:
    terms = []
    for j in range(16):
        terms.append(f"((u // {1 << j}) % 2) * {1 << (2 * j)}")
        terms.append(f"((d // {1 << j}) % 2) * {1 << (2 * j + 1)}")
    expr = " + ".join(terms)
    return f"""
WITH k AS (
  SELECT event_id,
    least(greatest(user_id, 0), 65535) AS u,
    least(greatest(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)), 0),
          65535) AS d
  FROM events)
SELECT event_id, CAST({expr} AS BIGINT) AS z FROM k
"""


S05_ZORDER_SQL = _zorder_sql()


PROBES = [
    Probe("s02_lake_pruned_read", "S1-S2", s02_lake_pruned_read, S02_LAKE_SQL),
    Probe("s05_zorder_key", "S1-S2", s05_zorder_key, S05_ZORDER_SQL),
]
